package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.OutputMode

import graft.fuel.FuelModel.PriceRecord
import graft.streaming.StreamOps

/** Streaming semantics pinned with MemoryStream fixtures
  * (SURVEY.md §2.7, §5): the strict high-water-mark gate (St1 —
  * strictly-greater, tie-drop, late-drop), first-wins dedup (St2),
  * and the complete-mode aggregation (St4/St5) matching its batch
  * twin.
  */
class StreamingSpec extends SparkSpecBase {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def pr(sc: String, ft: String, p: Double, t: String, seq: Long) =
    PriceRecord(sc, ft, p, ts(t), seq)

  test("St1 hwmGate: emits once, drops ties and late arrivals across micro-batches") {
    val input = MemoryStream[PriceRecord](spark)
    val gated = StreamOps.hwmGate(input.toDS())
    val q = gated.writeStream
      .format("memory").queryName("hwm_out").outputMode(OutputMode.Append).start()
    try {
      // batch 1: two records, one tie (same ts, later seq) → tie drops
      input.addData(
        pr("972", "U91", 10.0, "2023-10-05 10:00:00", 1),
        pr("972", "U91", 11.0, "2023-10-05 10:00:00", 2), // tie at HWM → drop
        pr("972", "U91", 12.0, "2023-10-05 11:00:00", 3))
      q.processAllAvailable()
      // batch 2: late record (ts <= HWM) → drop; newer → emit
      input.addData(
        pr("972", "U91", 13.0, "2023-10-05 10:30:00", 4), // late → drop
        pr("972", "U91", 14.0, "2023-10-05 12:00:00", 5)) // newer → emit
      q.processAllAvailable()
      val got = spark.table("hwm_out").collect()
        .map(r => (r.getAs[Double]("price"))).toSet
      assert(got === Set(10.0, 12.0, 14.0))
    } finally q.stop()
  }

  test("St1 hwmGate: independent watermarks per (station, fueltype) key") {
    val input = MemoryStream[PriceRecord](spark)
    val gated = StreamOps.hwmGate(input.toDS())
    val q = gated.writeStream
      .format("memory").queryName("hwm_keys").outputMode(OutputMode.Append).start()
    try {
      input.addData(pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1))
      q.processAllAvailable()
      // Other key at an older ts still emits — marks are per key.
      input.addData(pr("B", "U91", 2.0, "2023-10-05 09:00:00", 2))
      q.processAllAvailable()
      assert(spark.table("hwm_keys").count() === 2)
    } finally q.stop()
  }

  test("St1 hwmGateGlobal: ONE mark across all keys (reference-exact semantics)") {
    val input = MemoryStream[PriceRecord](spark)
    val gated = StreamOps.hwmGateGlobal(input.toDS())
    val q = gated.writeStream
      .format("memory").queryName("hwm_global").outputMode(OutputMode.Append).start()
    try {
      input.addData(pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1))
      q.processAllAvailable()
      // different key but older than the GLOBAL mark → dropped
      input.addData(pr("B", "U91", 2.0, "2023-10-05 09:00:00", 2))
      q.processAllAvailable()
      val got = spark.table("hwm_global").collect().map(_.getAs[Double]("price")).toSet
      assert(got === Set(1.0))
    } finally q.stop()
  }

  test("St2 firstWins: each station code emitted at most once across batches") {
    val input = MemoryStream[(String, String)](spark)
    val deduped = StreamOps.firstWins(input.toDF().toDF("code", "name"), Seq("code"))
    val q = deduped.writeStream
      .format("memory").queryName("st2_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(("972", "first"), ("973", "x"))
      q.processAllAvailable()
      input.addData(("972", "second"), ("974", "y"))
      q.processAllAvailable()
      val got = spark.table("st2_out").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.keySet === Set("972", "973", "974"))
      assert(got("972") === "first")
    } finally q.stop()
  }

  test("St4/St5 complete-mode Q-bar equals its batch twin on the same data") {
    val input = MemoryStream[PriceRecord](spark)
    val live = graft.fuel.FuelQueries.qBar(input.toDF())
    val q = live.writeStream
      .format("memory").queryName("qbar_live").outputMode(OutputMode.Complete).start()
    try {
      val data = Seq(
        pr("A", "U91", 100.0, "2023-10-05 10:00:00", 1),
        pr("A", "U91", 110.0, "2023-10-05 11:00:00", 2),
        pr("B", "E10", 90.0, "2023-10-05 10:00:00", 3))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("qbar_live").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batch = graft.fuel.FuelQueries.qBar(data.toDF())
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamed === batch)
      assert(streamed === Map("U91" -> 105.0, "E10" -> 90.0))
    } finally q.stop()
  }

  test("windowed avg with watermark: windows close and late data drops (bounded state)") {
    val input = MemoryStream[PriceRecord](spark)
    val agg = StreamOps.windowedAvg(input.toDF(), "lastupdated", "1 hour", "30 minutes")
    val q = agg.writeStream
      .format("memory").queryName("win_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        pr("A", "U91", 100.0, "2023-10-05 10:10:00", 1),
        pr("A", "U91", 120.0, "2023-10-05 10:20:00", 2))
      q.processAllAvailable()
      // advance watermark way past the 10:00 window's end
      input.addData(pr("A", "U91", 50.0, "2023-10-05 13:00:00", 3))
      q.processAllAvailable()
      // late row for the closed 10:00 window → dropped
      input.addData(pr("A", "U91", 999.0, "2023-10-05 10:30:00", 4))
      q.processAllAvailable()
      // close the 13:00 window so it emits too
      input.addData(pr("A", "U91", 60.0, "2023-10-05 15:00:00", 5))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => r.getAs[java.sql.Timestamp]("window_start").toString -> r.getAs[Double]("avg_price"))
        .toMap
      assert(rows("2023-10-05 10:00:00.0") === 110.0) // 999.0 never made it in
      assert(rows("2023-10-05 13:00:00.0") === 50.0)
    } finally q.stop()
  }

  test("streaming sessionization: gap merges within, splits across; closes on watermark") {
    val input = MemoryStream[PriceRecord](spark)
    val sess = StreamOps.sessionized(input.toDF(),
      tsCol = "lastupdated", keyCol = "stationcode",
      gap = "30 minutes", lateness = "10 minutes")
    val q = sess.writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1),
        pr("A", "U91", 2.0, "2023-10-05 10:20:00", 2), // within gap → same session
        pr("A", "U91", 3.0, "2023-10-05 12:00:00", 3)) // >30 min later → new session
      q.processAllAvailable()
      input.addData(pr("A", "U91", 4.0, "2023-10-05 15:00:00", 4)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => r.getAs[java.sql.Timestamp]("session_start").toString -> r.getAs[Long]("n_events"))
        .toMap
      assert(rows("2023-10-05 10:00:00.0") === 2L)
      assert(rows("2023-10-05 12:00:00.0") === 1L)
    } finally q.stop()
  }

  test("stream-stream join with watermarks matches within the time bound") {
    val prices = MemoryStream[PriceRecord](spark)
    val quotes = MemoryStream[PriceRecord](spark)
    val joined = StreamOps.streamStreamJoin(
      prices.toDF().select(col("stationcode").as("p_code"), col("lastupdated").as("p_ts"),
        col("price").as("p_price")),
      quotes.toDF().select(col("stationcode").as("q_code"), col("lastupdated").as("q_ts"),
        col("price").as("q_price")),
      "p_ts", "q_ts",
      col("p_code") === col("q_code"),
      lateness = "10 minutes", maxDelay = "1 hour")
    val q = joined.writeStream
      .format("memory").queryName("ss_join").outputMode(OutputMode.Append).start()
    try {
      prices.addData(pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1))
      quotes.addData(
        pr("A", "U91", 2.0, "2023-10-05 10:30:00", 2), // within 1h → joins
        pr("A", "U91", 3.0, "2023-10-05 12:30:00", 3), // outside bound → no
        pr("B", "U91", 4.0, "2023-10-05 10:00:00", 4)) // other key → no
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getAs[Double]("p_price"), r.getAs[Double]("q_price"))).toSet
      assert(got === Set((1.0, 2.0)))
    } finally q.stop()
  }

  test("left-outer stream-stream join: null-pads only after the watermark closes the window") {
    val left = MemoryStream[PriceRecord](spark)
    val right = MemoryStream[PriceRecord](spark)
    def side(s: MemoryStream[PriceRecord], p: String) =
      s.toDF().select(col("stationcode").as(s"${p}_code"),
          col("lastupdated").as(s"${p}_ts"), col("price").as(s"${p}_price"))
        .withWatermark(s"${p}_ts", "10 minutes")
    val joined = side(left, "a").join(side(right, "b"),
      col("a_code") === col("b_code") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"),
      "left_outer")
    val q = joined.writeStream
      .format("memory").queryName("ss_left").outputMode(OutputMode.Append).start()
    try {
      left.addData(
        pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1),  // will match
        pr("B", "U91", 2.0, "2023-10-05 10:00:00", 2),  // never matches → pad
        pr("C", "U91", 3.0, "2023-10-05 11:58:00", 3))  // window still open → nothing
      right.addData(
        pr("A", "U91", 9.0, "2023-10-05 10:02:00", 4),
        // advances BOTH the right watermark and the joint one to ~11:50
        pr("Z", "U91", 0.0, "2023-10-05 12:00:00", 5))
      left.addData(pr("Z2", "U91", 0.0, "2023-10-05 12:00:00", 6))
      q.processAllAvailable()
      val got = spark.table("ss_left").collect()
        .map(r => (r.getAs[Double]("a_price"), Option(r.getAs[Any]("b_price"))))
        .toSet
      // A matched; B padded with null (its window [10:00,10:05] closed
      // far below the 11:50 watermark); C emitted NOTHING (11:58+5min
      // is past the watermark — held in state, not a result)
      assert(got === Set((1.0, Some(9.0)), (2.0, None)))
    } finally q.stop()
  }

  test("full-outer stream-stream join: right side pads on its OWN time passing the mark") {
    val left = MemoryStream[PriceRecord](spark)
    val right = MemoryStream[PriceRecord](spark)
    def side(s: MemoryStream[PriceRecord], p: String) =
      s.toDF().select(col("stationcode").as(s"${p}_code"),
          col("lastupdated").as(s"${p}_ts"), col("price").as(s"${p}_price"))
        .withWatermark(s"${p}_ts", "10 minutes")
    val joined = side(left, "a").join(side(right, "b"),
      col("a_code") === col("b_code") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"),
      "full_outer")
    val q = joined.writeStream
      .format("memory").queryName("ss_full").outputMode(OutputMode.Append).start()
    try {
      left.addData(pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1))
      right.addData(
        pr("A", "U91", 9.0, "2023-10-05 10:02:00", 2), // matches A's click
        pr("X", "U91", 7.0, "2023-10-05 10:00:00", 3), // no click ever -> pad
        pr("Y", "U91", 8.0, "2023-10-05 11:58:00", 4)) // ts past the final mark -> held
      // advance both sides' watermarks to ~11:50
      left.addData(pr("Z", "U91", 0.0, "2023-10-05 12:00:00", 5))
      right.addData(pr("Z2", "U91", 0.0, "2023-10-05 12:00:00", 6))
      q.processAllAvailable()
      val pads = spark.table("ss_full")
        .filter(col("a_code").isNull)
        .collect().map(_.getAs[Double]("b_price")).toSet
      // X padded (its OWN ts is far below the mark — it needs no
      // window to close, unlike a click); Y still in state
      assert(pads.contains(7.0), pads)
      assert(!pads.contains(8.0), pads)
      // and the matched pair emitted normally
      val matched = spark.table("ss_full")
        .filter(col("a_code").isNotNull && col("b_code").isNotNull)
        .collect().map(r => (r.getAs[Double]("a_price"), r.getAs[Double]("b_price")))
      assert(matched.toSeq === Seq((1.0, 9.0)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: builtin first-wins twin of St2, bounded state") {
    val input = MemoryStream[PriceRecord](spark)
    val dedup = input.toDF()
      .withWatermark("lastupdated", "10 minutes")
      .dropDuplicatesWithinWatermark("stationcode")
    val q = dedup.writeStream
      .format("memory").queryName("builtin_dedup").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        pr("A", "U91", 1.0, "2023-10-05 10:00:00", 1),
        pr("A", "U91", 2.0, "2023-10-05 10:01:00", 2), // dup within window → drop
        pr("B", "U91", 3.0, "2023-10-05 10:00:00", 3))
      q.processAllAvailable()
      // advance the watermark far past A's state, then repeat A:
      // beyond the window the builtin MAY re-admit (state evicted) —
      // that bounded-state trade is exactly what distinguishes it
      // from the table-backed NearDupGate
      input.addData(pr("C", "U91", 0.0, "2023-10-05 12:00:00", 4))
      q.processAllAvailable()
      input.addData(pr("A", "U91", 9.0, "2023-10-05 11:55:00", 5))
      q.processAllAvailable()
      val got = spark.table("builtin_dedup").collect()
        .map(r => (r.getAs[String]("stationcode"), r.getAs[Double]("price")))
      // first A and B kept; the in-window duplicate dropped
      assert(got.count(_ == ("A", 1.0)) === 1)
      assert(got.count(_ == ("B", 3.0)) === 1)
      assert(!got.contains(("A", 2.0)))
    } finally q.stop()
  }

  test("stream-static enrichment: a fresh dim read per foreachBatch sees dim updates") {
    val dimDir = java.nio.file.Files.createTempDirectory("dim_refresh").toString
    Seq((1L, "v1")).toDF("k", "dim_v").write.mode("overwrite").parquet(dimDir)
    val input = MemoryStream[(Long, Long)](spark)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // the refresh recipe: resolve the dim INSIDE foreachBatch — a
    // frame captured outside pins its file listing at plan time and
    // can go stale (or hit FileNotFound after an overwrite)
    val q = input.toDF().toDF("k", "x").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val dim = b.sparkSession.read.parquet(dimDir)
        seen ++= b.join(dim, "k").select("x", "dim_v")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        ()
      }.start()
    try {
      input.addData((1L, 10L)); q.processAllAvailable()
      Seq((1L, "v2")).toDF("k", "dim_v").write.mode("overwrite").parquet(dimDir)
      input.addData((1L, 20L)); q.processAllAvailable()
    } finally q.stop()
    // batch 1 enriched against v1, batch 2 against the UPDATED dim
    assert(seen.toSet === Set((10L, "v1"), (20L, "v2")))
  }

  test("envelope streams: raw API snapshots explode and clean in-stream") {
    val dir = java.nio.file.Files.createTempDirectory("env").toFile
    val json = """{"stations":[{"brandid":"","stationid":"","brand":"United",
      "code":"972","name":"N","address":"A",
      "location":{"latitude":-33.5,"longitude":151.3}}],
      "prices":[{"stationcode":"972","fueltype":"U91","price":181.5,
      "lastupdated":"05/10/2023 08:19:59"},
      {"stationcode":"972","fueltype":"E10","price":0.0,
      "lastupdated":"05/10/2023 09:00:00"}]}""".replaceAll("\n\\s*", "")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "snap1.json").toPath, json)
    val (pricesRaw, stationsRaw) = graft.fuel.FuelPipeline.envelopeStreams(spark, dir.toString)
    val clean = graft.fuel.FuelCleaning.cleanPrices(pricesRaw)
    val q = clean.valid.writeStream
      .format("memory").queryName("env_prices").outputMode(OutputMode.Append).start()
    val q2 = graft.fuel.FuelCleaning.cleanStations(stationsRaw).valid.writeStream
      .format("memory").queryName("env_stations").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      q2.processAllAvailable()
      val p = spark.table("env_prices").collect()
      assert(p.length === 1) // zero-price record dropped in-stream
      assert(p.head.getAs[Double]("price") === 181.5)
      val st = spark.table("env_stations").collect()
      assert(st.length === 1)
      assert(st.head.getAs[String]("brandid") === "United") // default-filled
    } finally { q.stop(); q2.stop() }
  }

  test("streaming latest-per-group (A3) tracks the newest record per key") {
    val input = MemoryStream[PriceRecord](spark)
    val latest = StreamOps.latestPricesStream(input.toDF())
    val q = latest.writeStream
      .format("memory").queryName("latest_live").outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        pr("A", "U91", 100.0, "2023-10-05 10:00:00", 1),
        pr("A", "U91", 120.0, "2023-10-05 12:00:00", 2))
      q.processAllAvailable()
      input.addData(pr("A", "U91", 110.0, "2023-10-05 11:00:00", 3)) // older → ignored
      q.processAllAvailable()
      val got = spark.table("latest_live").collect()
      assert(got.length === 1)
      assert(got.head.getAs[Double]("price") === 120.0)
    } finally q.stop()
  }
}
