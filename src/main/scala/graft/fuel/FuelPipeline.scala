package graft.fuel

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sources.Warehouse

/** The reference pipeline end-to-end (SURVEY.md §3 entry point 3) as
  * two Structured Streaming queries:
  *
  * {{{
  * JSONL source dirs (stand-in for the MQTT raw topics — transport,
  *   not semantics)
  *   → cleaning; invalid rows split off as FuelCleaning's `rejected`
  *                                            (P2–P8)
  * ingest_stations: first-wins dedup → warehouse `stations` append
  * ingest_prices, one tick per micro-batch:
  *   → warehouse `prices` append               (S8–S10)
  *   → from that post-append snapshot: Q-bar → `fuel_qbar_live`,
  *     Q-map → `fuel_qmap_live`, dashboard republish  (St5)
  * }}}
  *
  * Usage: `runMain graft.fuel.FuelPipeline <pricesDir> <stationsDir>
  * <warehouseDir> [dashboard.html [port]]` — reads any *.jsonl placed
  * in the source dirs, processes each file exactly once (file-source
  * offsets + checkpoints under `<warehouseDir>/_checkpoints` = the
  * reference's high-water-mark St1, done by the engine, durable across
  * restarts), stops when idle.
  */
object FuelPipeline {

  def main(args: Array[String]): Unit = {
    val Array(pricesDir, stationsDir, warehouseDir) = args.take(3)
    val dashboardPath = args.lift(3)
    // Optional 5th arg: a port to PUSH-serve the dashboard on for the
    // run's duration (SSE reload on each republish tick — the Dash
    // callback-server twin; 0 picks a free port).
    val dashServer = for (p <- args.lift(4); d <- dashboardPath) yield
      new FuelDashboardServer(java.nio.file.Paths.get(d), p.toInt)
    dashServer.foreach(s => println(s"[pipeline] dashboard live at ${s.address}/"))
    val spark = graft.GraftSession.get()
    val qs = start(spark, pricesDir, stationsDir, warehouseDir, dashboardPath)
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    // A one-shot run can drain its prices before the stations land, so
    // the last tick may have had no station dimension to join: publish
    // once more over the final warehouse (without the live page's
    // refresh — the run is over).
    publish(spark, warehouseDir, dashboardPath, refreshSecs = 0)
    println(s"[pipeline] warehouse prices rows=${Warehouse.readTable(spark, s"$warehouseDir/prices").count()}")
    println(s"[pipeline] live qbar:")
    spark.table("fuel_qbar_live").orderBy("fueltype").show(20, truncate = false)
    println(s"[pipeline] qmap rows=${spark.table("fuel_qmap_live").count()}")
    dashboardPath.foreach(p => println(s"[pipeline] dashboard -> $p"))
    dashServer.foreach(_.close())
    spark.stop()
  }

  /** Ingest raw API envelope snapshots (the reference's actual wire
    * shape — one nested `{stations:[...], prices:[...]}` JSON per
    * fetch, `DataGathering.py:28-39`) as streams: explode both arrays
    * in the stream, synthesize a deterministic per-record sequence id
    * from (snapshot file, position) for tie-breaking, and feed the
    * same cleaning pipeline. `from_json`+`explode` IS the engine's
    * `pd.json_normalize` (SURVEY §1.4).
    *
    * Live fetch: `sources.Rest.snapshotToLanding` (OAuth2 client-
    * credentials GET, `DataGathering.py:5-39`) drops each periodic
    * snapshot into `envelopeDir` as one atomically-renamed file — the
    * file source's unit of exactly-once — closing the loop from the
    * real API to this stream without a custom source.
    */
  def envelopeStreams(spark: SparkSession, envelopeDir: String): (DataFrame, DataFrame) = {
    val raw = spark.readStream
      .schema(FuelModel.apiEnvelopeSchema)
      .json(envelopeDir)
      .withColumn("__src", input_file_name())
    val prices = raw
      .select(col("__src"), posexplode(col("prices")).as(Seq("pos", "p")))
      .select(col("p.stationcode"), col("p.fueltype"),
        col("p.price").cast("string").as("price"), col("p.lastupdated"),
        xxhash64(col("__src"), col("pos")).as("seq"))
    val stations = raw
      .select(explode(col("stations")).as("s"))
      .select(col("s.brandid"), col("s.stationid"), col("s.brand"),
        col("s.code"), col("s.name"), col("s.address"),
        col("s.location.latitude").cast("string").as("location_latitude"),
        col("s.location.longitude").cast("string").as("location_longitude"))
    (prices, stations)
  }

  /** S10 — the content-based-router variant of the ingest leg: ONE
    * mixed cleaned topic (a dir of raw JSON wire lines standing in
    * for the MQTT transport, like the other legs) consumed by a
    * SINGLE streaming query that dispatches each record by key
    * presence (`'code' in data` — reference `DataIngesting.py:55-64`)
    * via [[Warehouse.routedSink]]. Three outcomes per record, all
    * landed: station half, price half, dead letters (unparseable JSON
    * from [[FuelCleaning.parseWire]] + parseable-but-unroutable rows
    * from the router — the reference crashes on the former, §2.10
    * bug 2). One source pass per micro-batch; the warehouse gets the
    * same surrogate-id append discipline as the per-topic legs.
    */
  def startRouted(
      spark: SparkSession,
      mixedDir: String,
      warehouseDir: String): StreamingQuery = {
    spark.readStream
      .text(mixedDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val split = FuelCleaning.parseWire(batch, "value", FuelModel.mixedWireSchema)
        Warehouse.routedSink(
          s"$warehouseDir/stations", s"$warehouseDir/prices",
          deadPath = Some(s"$warehouseDir/dead_letters"))(
          Warehouse.withSurrogateId(split.valid), batchId)
        // parseWire keeps the unparseable original in _corrupt
        Warehouse.append(
          split.rejected.select(col("_corrupt").as("raw"), col("_reject_reason")),
          s"$warehouseDir/dead_letters_raw")
      }
      .queryName("ingest_routed")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_routed")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()
  }

  /** Wire and start the two streaming queries; returns them running.
    * With a `dashboardPath`, every price tick republishes the page.
    */
  def start(
      spark: SparkSession,
      pricesDir: String,
      stationsDir: String,
      warehouseDir: String,
      dashboardPath: Option[String] = None): Seq[StreamingQuery] = {

    val rawPrices = spark.readStream
      .schema(FuelModel.rawPriceSchema)
      .json(pricesDir)
    val rawStations = spark.readStream
      .schema(FuelModel.rawStationSchema)
      .json(stationsDir)

    val prices = FuelCleaning.cleanPrices(rawPrices)
    val stations = FuelCleaning.cleanStations(rawStations)

    // One price stream per tick (the D-Streams fixed per-batch cost
    // paid once): the warehouse gets a batched append per micro-batch
    // (the reference does one row/connection/commit per message —
    // SURVEY §6), then the live views and the dashboard republish from
    // the warehouse as that append left it, so a tick always shows its
    // own rows. Only the append may fail the batch: the publish is
    // best-effort, so a file-source retry never re-appends rows
    // because a view or the page failed.
    val ingestPrices = prices.valid.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Warehouse.append(Warehouse.withSurrogateId(batch), s"$warehouseDir/prices")
        try publish(spark, warehouseDir, dashboardPath, refreshSecs = 2)
        catch { case NonFatal(e) =>
          System.err.println(s"[pipeline] live publish failed: ${e.getMessage}")
        }
      }
      .queryName("ingest_prices")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_prices")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    val ingestStations = stations.valid
      // St2 first-wins keyed dedup, engine-managed state
      .dropDuplicates("code")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Warehouse.append(Warehouse.withSurrogateId(batch), s"$warehouseDir/stations")
      }
      .queryName("ingest_stations")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_stations")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    Seq(ingestPrices, ingestStations)
  }

  /** Publish the standing queries over the warehouse as it is now, in
    * the outer session: the Q-bar rows as the `fuel_qbar_live` temp
    * view, then — once stations exist — the Q-map rows as
    * `fuel_qmap_live` and, with a `dashboardPath`, the dashboard
    * (atomic rename; the engine-side equivalent of the reference's
    * Dash interval callback, `DataAnalysis.py:73-89`). Each surface is
    * collected once and shared by the view and the page.
    */
  private def publish(
      spark: SparkSession,
      warehouseDir: String,
      dashboardPath: Option[String],
      refreshSecs: Int): Unit = {
    val prices = Warehouse.readTable(spark, s"$warehouseDir/prices")
    val bar = FuelDashboard.bar(prices)
    spark.createDataFrame(bar).toDF("fueltype", "avg_price")
      .createOrReplaceTempView("fuel_qbar_live")
    val stations =
      try Some(Warehouse.readTable(spark, s"$warehouseDir/stations"))
      catch { case _: AnalysisException => None } // no station landed yet
    stations.foreach { st =>
      val qmap = FuelQueries.qMap(st, prices)
      val qmapRows = FuelDashboard.qMapRows(qmap)
      spark.createDataFrame(qmapRows.asJava, qmap.schema)
        .createOrReplaceTempView("fuel_qmap_live")
      dashboardPath.foreach { p =>
        FuelDashboard.writeAtomic(p, FuelDashboard.page(
          bar, FuelDashboard.line(prices), qmapRows,
          generatedAt = java.time.Instant.now().toString,
          refreshSecs = refreshSecs))
      }
    }
  }
}
