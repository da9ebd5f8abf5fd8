package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.ManifestedSink

/** Streaming per-group TOKEN-budget gate — the streaming form of
  * [[graft.operators.Sampling.tokenBudgetPerGroup]]: as documents
  * arrive, each group (language, source, domain …) keeps accepting
  * rows until its cumulative token budget is spent, then rejects
  * everything after — mixture provisioning in the unit that sets
  * training mass, applied at INGEST time so over-budget mass never
  * lands in the corpus at all (the batch op prunes after the fact;
  * the gate prevents the write).
  *
  * Semantics (shared with the batch op): a row is accepted iff its
  * group's tokens spent BEFORE it are `< budget` — every group
  * accepts its first row, overshoot is bounded by ONE row per group
  * over the whole stream (once the boundary row crosses, spent ≥
  * budget rejects everything after, in this batch or any later one).
  * WITHIN a micro-batch rows are ordered by the same deterministic
  * `(idHash(id), id)` order the batch op uses (micro-batch contents
  * carry no arrival order); ACROSS batches, arrival order rules —
  * that asymmetry is the definition of an ingest-time gate, and the
  * replay oracle states it (per-batch window sums chained through
  * the spent state).
  *
  * State discipline ([[NearDupGate]]'s, adapted): the state table
  * holds one `(group, spent_delta)` row per group PER BATCH —
  * batch-id-partitioned parquet, idempotent dynamic overwrite, so a
  * replayed batch rewrites its own partition rather than
  * double-counting. Prior spent = one bounded aggregate over
  * `batch_id < current` (groups × batches rows — KBs, not corpus
  * scale). The per-batch work is one grouped window over the batch
  * plus a broadcast-sized state join: no corpus-wide anything.
  *
  * DRIVER FAST PATH (round 20 — the round-19 verdict's item 2, the
  * [[SigGate]] driver-resolve discipline): a micro-batch whose narrow
  * `(group, idHash, id, tokens)` projection fits under
  * `spark.graft.streaming.budgetDriverResolve.rowsCap` (default 2^16
  * rows ≈ a few MB; 0 disables) resolves acceptance ON THE DRIVER —
  * the same `(idHash(id), id)` order, the same running sums, the
  * same `prior + cum − tokens < budget` test, all over values Spark
  * itself computed in the collected projection — and broadcasts the
  * rejected id set back as a map-only anti-join. That deletes the
  * per-batch window shuffle, the `marked` localCheckpoint, and the
  * broadcast-prior build (≈10 fixed scheduler round-trips measured
  * per ~200-doc tick). Guards: LONG-castable integral ids + STRING
  * groups only, no null and no duplicate ids (either falls back), and
  * the batch-size probe is an incremental `limit(cap+1)` take, so an
  * over-cap batch costs one short-circuited scan before routing to
  * the unchanged distributed path. Acceptance and state output are
  * BIT-IDENTICAL either way (BudgetGateDriverResolveSpec pins parity
  * against the forced distributed form, including HALF-budget
  * boundary rows and cross-batch spent chaining).
  *
  * PRIOR-SPENT MEMO (round 20): consecutive ticks re-read and
  * re-aggregated the whole state table for a map this gate itself
  * just wrote. The driver now memoizes cumulative per-group spend
  * through the last committed batch, keyed by state dir and guarded
  * by (expected next batch id, state part-file fingerprint) — a
  * restart, a replayed batch id, or ANY out-of-band state rewrite
  * misses the guard and falls back to the parquet aggregate. Both
  * resolution paths use it.
  */
object BudgetGate {

  private def stateSchema: StructType = StructType(Seq(
    StructField("grp", StringType),
    StructField("spent_delta", LongType),
    StructField("batch_id", LongType)))

  private val rowsCapKey = "spark.graft.streaming.budgetDriverResolve.rowsCap"
  private val defaultRowsCap = 1L << 16

  /** Spec hook: number of batches resolved on the driver this JVM —
    * parity tests assert the fast path actually ENGAGED (a silently
    * declining route would make driver-vs-distributed comparisons
    * vacuous; round-19 advice).
    */
  private[graft] val driverResolved = new java.util.concurrent.atomic.AtomicLong

  // ---- prior-spent memo ----
  private final case class PriorMemo(
      nextBatchId: Long,
      fingerprint: Set[(String, Long, Long)],
      spent: Map[String, Long])

  private val priorCache =
    new java.util.concurrent.ConcurrentHashMap[String, PriorMemo]()

  /** Test/ops hook: drop every memoized prior (fresh-JVM state). */
  private[graft] def invalidatePriorCache(): Unit = priorCache.clear()

  /** Per-group spend over batches strictly before `batchId` — memo
    * hit: zero jobs; miss: the old one-aggregate read. Null groups
    * are excluded: the prior join can never match them (`null = null`
    * is false), so their prior is 0 by join semantics on both paths.
    */
  private def priorSpent(
      spark: SparkSession, stateDir: String, batchId: Long): Map[String, Long] = {
    val memo = Option(priorCache.get(stateDir)).filter(m =>
      m.nextBatchId == batchId &&
        m.fingerprint == ManifestedSink.leafFingerprint(spark, stateDir))
    memo match {
      case Some(m) => m.spent
      case None =>
        priorCache.remove(stateDir)
        readState(spark, stateDir)
          .filter(col("batch_id") < batchId && col("grp").isNotNull)
          .groupBy("grp").agg(sum(col("spent_delta")).as("__prior"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  private def memoize(
      spark: SparkSession, stateDir: String, batchId: Long,
      prior: Map[String, Long], deltas: Map[String, Long]): Unit = {
    val merged = deltas.foldLeft(prior) { case (acc, (g, d)) =>
      if (g == null) acc
      else acc.updated(g, Math.addExact(acc.getOrElse(g, 0L), d))
    }
    priorCache.put(stateDir,
      PriorMemo(batchId + 1, ManifestedSink.leafFingerprint(spark, stateDir), merged))
    ()
  }

  def readState(spark: SparkSession, stateDir: String): DataFrame =
    // schema declared, not inferred — drops the per-micro-batch
    // footer-sampling round-trip (round 19; the NearDupGate.readState
    // rationale)
    try spark.read
      .schema(StructType(Seq(
        StructField("grp", StringType),
        StructField("spent_delta", LongType),
        StructField("batch_id", LongType))))
      .parquet(stateDir)
      .select(col("grp"), col("spent_delta"), col("batch_id").cast("long"))
    catch {
      case _: org.apache.spark.sql.AnalysisException => // no state yet
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    }

  /** One micro-batch step: returns the accepted subset of `batch`
    * (original columns) and commits this batch's per-group spent
    * deltas to `stateDir/batch_id=<id>`. `tokensCol` must be castable
    * to long (nulls count as 0 tokens, accepted for free — the batch
    * op's coalesce rule).
    */
  def acceptBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      idCol: String,
      tokensCol: String,
      stateDir: String,
      budget: Long): DataFrame = {
    require(budget > 0, "BudgetGate: budget must be positive")
    // batch_id is staged too: gate() stamps it onto the accepted output
    // (and it is the parquet partition column) — an input batch_id would
    // be silently overwritten.
    Seq("__bg_grp", "__prior", "__cum", "__before", "batch_id").foreach(c =>
      require(!batch.columns.contains(c),
        s"BudgetGate: input must not carry the staging column '$c'"))
    val spark = batch.sparkSession
    val rowsCap = math.min(
      spark.conf.getOption(rowsCapKey).map(_.toLong).getOrElse(defaultRowsCap),
      (Int.MaxValue - 2).toLong)
    val idIntegral = batch.schema(batch.columns.indexOf(idCol)).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val driverable = rowsCap > 0 && idIntegral &&
      batch.schema(batch.columns.indexOf(groupCol)).dataType == StringType
    val prior = priorSpent(spark, stateDir, batchId)
    val driverResult =
      if (driverable)
        acceptBatchDriver(batch, batchId, groupCol, idCol, tokensCol,
          stateDir, budget, prior, rowsCap)
      else None
    driverResult.getOrElse(
      acceptBatchDistributed(batch, batchId, groupCol, idCol, tokensCol,
        stateDir, budget, prior))
  }

  /** The distributed resolution (the pre-round-20 form, with the
    * prior-spent map arriving pre-aggregated): grouped window over
    * the batch + broadcast prior join, materialized once because it
    * anchors both the accepted output and the state write.
    */
  private def acceptBatchDistributed(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      idCol: String,
      tokensCol: String,
      stateDir: String,
      budget: Long,
      priorMap: Map[String, Long]): DataFrame = {
    val spark = batch.sparkSession
    import scala.jdk.CollectionConverters._
    val prior = spark.createDataFrame(
      priorMap.toSeq.sortBy(_._1)
        .map { case (g, s) => org.apache.spark.sql.Row(g, s) }.asJava,
      StructType(Seq(
        StructField("__bg_grp", StringType),
        StructField("__prior", LongType, nullable = false))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(graft.operators.Sampling.idHash(col(idCol)), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val toks = coalesce(col(tokensCol).cast("long"), lit(0L))
    // Materialized: `marked` anchors both the accepted output and the
    // state write — un-cut, each side would re-run the window + join.
    val marked = graft.operators.Materialize(
      batch
        .withColumn("__cum", sum(toks).over(w))
        .join(broadcast(prior), batch(groupCol) === prior("__bg_grp"), "left")
        .withColumn("__before",
          coalesce(col("__prior"), lit(0L)) + col("__cum") - toks)
        .drop("__bg_grp", "__prior"))
    val accepted = marked.filter(col("__before") < budget)
    accepted
      .groupBy(col(groupCol).as("grp"))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L)))
        .as("spent_delta"))
      // One aggregate row per group per batch — single-file commits
      // keep the state table at one file per batch instead of one
      // near-empty shard per shuffle partition (readState merges
      // every batch's files forever, so shard count compounds).
      .coalesce(1)
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(stateDir)
    // the distributed state write is the aggregate's own execution —
    // memoizing would need a second pass over it, so the NEXT tick
    // simply re-reads (one bounded aggregate, the old steady state)
    accepted.drop("__cum", "__before")
  }

  /** The small-batch driver resolution: take the narrow
    * `(group, idHash(id), id, tokens)` projection (values computed by
    * Spark — no arithmetic replica to drift), replay the window
    * semantics locally, broadcast the rejected ids back as a map-only
    * anti-join, and write the per-group deltas as a local relation.
    * Returns None (fall back) when the batch overruns `rowsCap`, or
    * carries a null or duplicate id — a null id can never be rejected
    * through an equality anti-join, and duplicate ids make the window
    * order within ties nondeterministic, so both route to the
    * distributed form whose join semantics define the behavior.
    */
  private def acceptBatchDriver(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      idCol: String,
      tokensCol: String,
      stateDir: String,
      budget: Long,
      prior: Map[String, Long],
      rowsCap: Long): Option[DataFrame] = {
    val spark = batch.sparkSession
    import scala.jdk.CollectionConverters._
    val rows = batch.select(
        col(groupCol).as("__g"),
        graft.operators.Sampling.idHash(col(idCol)).as("__h"),
        col(idCol).cast("long").as("__i"),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("__t"))
      .limit(rowsCap.toInt + 1)
      .collect()
    if (rows.length > rowsCap) return None
    val seen = new java.util.HashSet[java.lang.Long]()
    var k = 0
    while (k < rows.length) {
      if (rows(k).isNullAt(2)) return None
      if (!seen.add(rows(k).getLong(2))) return None
      k += 1
    }
    // per-group (idHash, id) order — both values Spark-computed; ids
    // are unique by the guard above, so the order is total
    val byGroup = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]
    rows.foreach { r =>
      val g = if (r.isNullAt(0)) null else r.getString(0)
      byGroup.getOrElseUpdate(g,
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]) +=
        ((r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val deltas = scala.collection.mutable.HashMap.empty[String, Long]
    byGroup.foreach { case (g, members) =>
      // null group: the prior join can never match — prior is 0 even
      // when state carries null-group deltas (join semantics)
      val p = if (g == null) 0L else prior.getOrElse(g, 0L)
      var cum = 0L
      members.sortInPlace()(Ordering.Tuple3(
        Ordering.Long, Ordering.Long, Ordering.Long))
      members.foreach { case (_, id, t) =>
        cum = Math.addExact(cum, t)
        val before = Math.addExact(p, cum) - t
        if (before < budget)
          deltas.update(g, Math.addExact(deltas.getOrElse(g, 0L), t))
        else rejected += id
      }
    }
    val acceptedOut =
      if (rejected.isEmpty) batch
      else {
        val rejDf = spark.createDataFrame(
          rejected.sorted.map(i =>
            org.apache.spark.sql.Row(Long.box(i))).asJava,
          StructType(Seq(StructField("__bg_rej_id", LongType, nullable = false))))
        batch.join(broadcast(rejDf),
          batch(idCol) === rejDf("__bg_rej_id"), "left_anti")
      }
    // state delta as a local relation — same one-file-per-batch commit
    val deltaRows = deltas.toSeq.sortBy(_._1)(
        Ordering.fromLessThan[String]((a, b) =>
          if (a == null) b != null else if (b == null) false else a < b))
      .map { case (g, s) => org.apache.spark.sql.Row(g, s) }
    spark.createDataFrame(deltaRows.asJava,
        StructType(Seq(
          StructField("grp", StringType),
          StructField("spent_delta", LongType, nullable = false))))
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(stateDir)
    memoize(spark, stateDir, batchId, prior, deltas.toMap)
    driverResolved.incrementAndGet()
    Some(acceptedOut)
  }

  /** The streaming gate: accepted rows land in
    * `acceptedDir/batch_id=<id>` (idempotent overwrite), per-group
    * spent deltas accumulate under `stateDir`.
    */
  def gate(
      rows: DataFrame,
      groupCol: String,
      idCol: String,
      tokensCol: String,
      stateDir: String,
      acceptedDir: String,
      checkpointDir: String,
      budget: Long): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // batch-scoped cut release (the `marked` window+join cut) —
        // see NearDupGate.gate
        graft.operators.Materialize.batchScope(
          acceptBatch(b, id, groupCol, idCol, tokensCol, stateDir,
            budget)) { accepted =>
          accepted.withColumn("batch_id", lit(id))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(acceptedDir)
        }
        ()
      }
      .start()
}
