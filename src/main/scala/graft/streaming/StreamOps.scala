package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.fuel.FuelModel.PriceRecord

/** Structured-Streaming forms of the reference's streaming semantics
  * (SURVEY.md §2.7). The reference hand-rolls incrementalization with
  * a global high-water-mark, an in-memory dedup set and unbounded
  * lists; here the same observable behavior comes from Spark's
  * managed state, which shards by key and survives failure.
  */
object StreamOps {

  /** St1 — high-water-mark gate (`main.py:45-51`), exact semantics:
    * emit a record iff its event time is *strictly newer* than the
    * max already emitted; ties at the watermark are dropped.
    *
    * The reference keeps one global HWM — inherently sequential, so
    * the scalable form shards the watermark per key (station, fuel):
    * state is one timestamp per key, sharded across executors by the
    * groupBy. The global-HWM observable behavior (emit-once per
    * record, late records suppressed) is preserved per key.
    */
  def hwmGate(prices: Dataset[PriceRecord]): Dataset[PriceRecord] = {
    import prices.sparkSession.implicits._
    prices
      .groupByKey(p => (p.stationcode, p.fueltype))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (String, String), rows: Iterator[PriceRecord], state: GroupState[Timestamp]) => {
          val hwm = state.getOption
          // Per micro-batch: sort by (event time, seq) like the
          // reference's asc-sorted publish loop, emit strictly-newer,
          // advance the mark.
          val sorted = rows.toSeq.sortBy(p => (p.lastupdated.getTime, p.seq))
          val emitted = sorted.iterator.scanLeft((hwm, Option.empty[PriceRecord])) {
            case ((mark, _), p) =>
              if (mark.forall(m => p.lastupdated.after(m)))
                (Some(p.lastupdated), Some(p))
              else (mark, None)
          }.toSeq
          emitted.lastOption.flatMap(_._1).foreach(state.update)
          emitted.iterator.flatMap(_._2)
        })
  }

  /** The reference-exact GLOBAL high-water-mark (one mark for the
    * whole stream, `main.py:45-51`) — inherently sequential, so this
    * parity-only variant funnels through a single state key; use
    * [[hwmGate]] (per-key marks) for anything that must scale.
    */
  def hwmGateGlobal(prices: Dataset[PriceRecord]): Dataset[PriceRecord] = {
    import prices.sparkSession.implicits._
    prices
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[PriceRecord], state: GroupState[Timestamp]) => {
          val hwm = state.getOption
          val sorted = rows.toSeq.sortBy(p => (p.lastupdated.getTime, p.seq))
          val emitted = sorted.iterator.scanLeft((hwm, Option.empty[PriceRecord])) {
            case ((mark, _), p) =>
              if (mark.forall(m => p.lastupdated.after(m)))
                (Some(p.lastupdated), Some(p))
              else (mark, None)
          }.toSeq
          emitted.lastOption.flatMap(_._1).foreach(state.update)
          emitted.iterator.flatMap(_._2)
        })
  }

  /** St2 — keyed first-wins dedup (`main.py:72-76`): emit each
    * station code at most once for the lifetime of the query.
    * `dropDuplicates` state never expires, exactly like the
    * reference's unbounded set; pass `withinWatermark=true` after
    * setting a watermark for the bounded-state variant the 100 TB
    * design point needs.
    */
  def firstWins(stations: DataFrame, keys: Seq[String], withinWatermark: Boolean = false): DataFrame =
    if (withinWatermark) stations.dropDuplicatesWithinWatermark(keys)
    else stations.dropDuplicates(keys)

  /** St3 — retention window (`DataCleaning.py:15-39`): anchored at
    * max *observed* event time, applied per micro-batch (the
    * reference recomputes the anchor per fetched snapshot — same
    * granularity).
    */
  def retentionPerBatch(batch: DataFrame, tsCol: String, days: Int): DataFrame =
    graft.operators.Relational.retentionFilter(batch, tsCol, days)

  /** Streaming latest-per-group (A3): `max_by` aggregation in update/
    * complete mode — `dropDuplicates` can't express *latest*
    * (SURVEY §2 A3 note), an aggregation can.
    */
  def latestPricesStream(prices: DataFrame): DataFrame =
    prices.groupBy("stationcode", "fueltype")
      .agg(max_by(
        struct(col("price"), col("lastupdated")),
        struct(col("lastupdated"), col("seq"))).as("latest"))
      .select(col("stationcode"), col("fueltype"),
        col("latest.price"), col("latest.lastupdated"))

  /** Event-time windowed aggregation with watermark eviction — the
    * bounded-state form of the reference's unbounded running
    * aggregates (SURVEY §7 hard part 5): state for a window is
    * dropped once the watermark passes its end, so executor state is
    * O(windows in flight), not O(stream history). Late rows beyond
    * `lateness` are dropped (append mode) — the engine-level twin of
    * the reference's source-side watermark drop (St7).
    */
  def windowedAvg(
      prices: DataFrame,
      tsCol: String,
      windowLen: String,
      lateness: String): DataFrame =
    prices
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("fueltype"))
      .agg(round(avg("price"), 2).as("avg_price"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("fueltype"), col("avg_price"))

  /** Streaming sessionization: `session_window` merges events within
    * `gap` into one growing window per key; a session closes (and its
    * aggregate emits, append mode) once the watermark passes its end.
    * The streaming twin of the batch lag/running-sum sessionizer in
    * `RelationalQueries.sessionize`.
    */
  def sessionized(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream equi-join with watermarks (the streaming form of
    * J1 when the dimension itself is a stream): both sides buffer
    * state only within their watermark + the join's event-time bound,
    * so state is evicted as time advances — the unbounded-state-free
    * version of joining two live feeds.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      joinExpr: org.apache.spark.sql.Column,
      lateness: String,
      maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, joinExpr
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxDelay")
      && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
  }
}
