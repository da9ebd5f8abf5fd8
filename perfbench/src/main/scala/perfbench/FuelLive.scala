package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.MiniMqttBroker
import graft.fuel.{FuelCleaning, FuelDashboard, FuelModel, FuelPipeline, FuelQueries}
import graft.sources.{Mqtt, MqttLanding, Warehouse}

/** `fuel_live`: the reference pipeline, open loop.
  *
  * An in-process broker carries seeded price messages from one
  * generator thread to a landing subscriber; `FuelPipeline` cleans,
  * warehouses and aggregates them and republishes the dashboard every
  * trigger. Freshness is the time from a probe's scheduled send to the
  * first dashboard file that shows it (or a later probe).
  */
object FuelLive {

  /** Messages per second, probes included. Every message is one
    * landing file; on a 4-core box the price-reading queries keep their
    * triggers near their 1 s interval (a flat backlog) at this rate and
    * fall behind for good by 100 msg/s. `qmap_live` re-renders the
    * dashboard from the whole warehouse in about 6 s per tick at any
    * rate, so it cannot be held to half its 1 s trigger here.
    */
  val Rate = 10

  /** Probe messages per second. Half the window's traffic then goes to
    * the one probe (station, fuel) key: a departure from the golden mix,
    * made so a short window still yields tens of freshness samples.
    */
  val ProbeRate = 5

  /** Golden stations published at set-up. Each is one landing file,
    * and every dashboard render joins and maps all of them. On 4 cores
    * a run's set-up took about 50 s with all 1,597, 35 s with 400 and
    * 31 s with 100; the live map's tick time did not change with them.
    */
  val Stations = 100

  private val DrainDeadlineS = 30.0

  /** The reference's three standing dashboard queries
    * (`DataAnalysis.py:67-165`), each run to completion.
    */
  val StandingQueries: Seq[(String, (DataFrame, DataFrame) => Unit)] = Seq(
    "fuel_qbar" -> ((_, prices) => FuelQueries.qBar(prices).collect()),
    "fuel_qline" -> ((_, prices) => FuelQueries.qLine(prices).write.format("noop").mode("overwrite").save()),
    "fuel_qmap" -> ((stations, prices) =>
      FuelQueries.qMap(stations, prices).write.format("noop").mode("overwrite").save()))
  val StandingPasses = 6

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val spark = ctx.spark
    val golden = Golden.load(ctx.repo.resolve("src/test/resources/fuel")).take(Stations)
    val landPrices = ctx.root.resolve("landing/prices").toString
    val landStations = ctx.root.resolve("landing/stations").toString
    val wh = ctx.root.resolve("warehouse").toString
    val dash = ctx.root.resolve("dash/dashboard.html")
    val gen = new FuelGen(ctx.seed, golden, Rate, ProbeRate, windowSlots = ctx.seconds * Rate)

    val setupStartNs = Clock.nowNs
    val broker = new MiniMqttBroker
    val host = "127.0.0.1"
    val landingP = new MqttLanding(host, broker.port, "prices", landPrices, "bench-land-prices")
    val landingS = new MqttLanding(host, broker.port, "stations", landStations, "bench-land-stations")
    val pub = new Mqtt.Client(host, broker.port, "bench-publisher").connect()
    val watcher = new DashboardWatcher(dash)
    val sender = new Sender(gen, pub, t)
    var queries = Seq.empty[StreamingQuery]
    try {
      val stationLines = golden.stationLines :+ FuelGen.probeStationLine
      stationLines.foreach(l => sender.publish("stations", l, "station"))
      waitFor(s"${stationLines.size} landed stations", 60)(landingS.landed >= stationLines.size)
      val stationsLandedNs = Clock.nowNs
      queries = t.span("FuelPipeline.start")(
        FuelPipeline.start(spark, landPrices, landStations, wh, Some(dash.toString)))
      // Prices start once the stations are in the warehouse, so the live
      // map's first tick can render; probe 0 then repeats until the
      // first dashboard shows it (the map only ticks on new prices).
      waitFor("the station ingest", 120)(queries.exists(q =>
        q.name == "ingest_stations" && q.recentProgress.exists(_.numInputRows > 0)))
      val setupProbes = Iterator.from(1).map(n => FuelGen.probe(0, slot = -n, seq = -n.toLong))
        .takeWhile { m =>
          watcher.shownMax < 0 && {
            if (m.seq < -120) throw new IllegalStateException("no dashboard within 120 s")
            sender.sendNow(m)
            val next = Clock.nowNs + 1000000000L
            while (watcher.shownMax < 0 && Clock.nowNs < next) Thread.sleep(5)
            true
          }
        }.toVector
      val setupEndNs = Clock.nowNs
      println(f"[fuel_live] set-up: session ${(setupStartNs / 1e6 - ctx.jvmStartMs) / 1000}%.1f s, " +
        f"stations landed ${(stationsLandedNs - setupStartNs) / 1e9}%.1f s, " +
        f"first dashboard ${(setupEndNs - stationsLandedNs) / 1e9}%.1f s later")
      t.record("setup.warmup", setupStartNs, setupEndNs)

      // Timed window: the open-loop schedule, then a drain that keeps
      // the stream flowing until the window's last probe is shown.
      val windowStartNs = Clock.nowNs + 50000000L
      sender.start(windowStartNs)
      val windowEndNs = windowStartNs + ctx.seconds * 1000000000L
      sleepUntil(windowEndNs)
      val lastProbe = gen.windowProbes
      val drainDeadline = Clock.nowNs + (DrainDeadlineS * 1e9).toLong
      while (watcher.shownMax < lastProbe && Clock.nowNs < drainDeadline) Thread.sleep(5)
      sender.stop()
      val openEndNs = Clock.nowNs
      val sent = setupProbes ++ sender.sent
      waitFor("the landing to catch up", 30)(landingP.landed >= sent.size)
      // No more dashboards are needed: the live map stops in the
      // background (its multi-second tick runs to the end) while the
      // queries the checks read are settled.
      val (liveMap, settled) = queries.partition(_.name == "qmap_live")
      val stopping = new Thread(() => liveMap.foreach(_.stop()), "bench-stop-live-map")
      stopping.start()
      settled.foreach(q => t.span("StreamingQuery.processAllAvailable", q.name)(q.processAllAvailable()))
      val settledNs = Clock.nowNs
      val scratchMb = Mem.scratchMb(ctx)
      watcher.stop()

      // Freshness of every window probe.
      val shown = watcher.versions
      val fresh = (1 to lastProbe).map { k =>
        val scheduled = windowStartNs + gen.slotOf(k) * gen.periodNs
        shown.find(_._2 >= k).map { case (ns, _) => (ns - scheduled) / 1e6 }
      }
      val freshMs = fresh.flatten
      val unshown = fresh.count(_.isEmpty)

      // Per-layer figures cover the open-loop period: window and drain.
      val windowMs = (windowStartNs / 1e6, openEndNs / 1e6)
      val progress = queries.map(q => q.name -> q.recentProgress.toSeq.filter { p =>
        val s = Progress.startMs(p)
        Progress.isBatch(p) && s >= windowMs._1 && s < windowMs._2
      }).toMap
      println("[fuel_live] open-loop trigger ms: " + queries.map { q =>
        val ts = progress.getOrElse(q.name, Nil).flatMap(Progress.phaseMs(_, "triggerExecution"))
        f"${q.name} n=${ts.size} p50=${pct(ts, 50)}%.0f"
      }.mkString(", "))

      // Correctness against the plain-Scala oracle (untimed).
      val oracle = new FuelOracle(sent, golden.stations :+ FuelGen.probeStation)
      val checks = new Checks
      val prices = t.span("Warehouse.readTable", "prices")(
        Warehouse.readTable(spark, s"$wh/prices"))
      val stored = prices.select(col("stationcode"), col("fueltype"), col("price"),
        date_format(col("lastupdated"), FuelModel.TsFormat), col("seq")).collect()
        .map(r => FuelOracle.rowKey(r.getString(0), r.getString(1), r.getDouble(2),
          r.getString(3), r.getLong(4))).toSeq.sorted
      checks("warehouse price multiset",
        s"${stored.size} rows vs ${oracle.warehouseRows.size} expected")(stored == oracle.warehouseRows)
      val dead = FuelCleaning.cleanPrices(
        spark.read.schema(FuelModel.rawPriceSchema).json(landPrices)).rejected.count()
      checks("dead-letter count", s"$dead vs ${oracle.deadLetters} expected")(dead == oracle.deadLetters)
      val qbar = spark.table("fuel_qbar_live").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      checks("fuel_qbar_live vs Q-bar at 2 dp", qbar.toSeq.sorted.mkString(", "))(
        qbar.keySet == oracle.meanPrice.keySet &&
          qbar.forall { case (ft, v) => oracle.qbarMatches(ft, v) })
      val stations = t.span("Warehouse.readTable", "stations")(
        Warehouse.readTable(spark, s"$wh/stations"))
      val renders = (1 to (if (t.enabled) 5 else 1)).map { i =>
        val html = t.span("FuelDashboard.render", s"final-$i")(FuelDashboard.render(prices, stations))
        t.span("FuelDashboard.writeAtomic", s"final-$i")(
          FuelDashboard.writeAtomic(ctx.root.resolve("dash/final.html").toString, html))
        html
      }
      val expectedTable = oracle.stationTable()
      val shownTable = Dashboard.stationRows(renders.last)
      val boundary = expectedTable.last.name
      checks("final dashboard station table",
        shownTable.zip(expectedTable).find { case (a, b) => a != b }.map(_.toString).getOrElse(""))(
        shownTable.size == expectedTable.size &&
          shownTable.filter(_.name < boundary) == expectedTable.filter(_.name < boundary))

      val failures = checks.failed ++
        (if (unshown > 0) Seq(s"$unshown of $lastProbe probes never shown") else Nil)
      println(f"[fuel_live] probes=$lastProbe shown=${freshMs.size} " +
        f"fresh_p50_ms=${pct(freshMs, 50)}%.1f (headroom vs 1000 ms: ${1000 - pct(freshMs, 50)}%.1f) " +
        f"fresh_p99_ms=${pct(freshMs, 99)}%.1f beyond_p99=${Stats.beyond(freshMs.size, 99)} " +
        s"messages=${sent.size} republishes=${shown.size}")

      // The dashboard's three standing queries, closed loop with the
      // pipeline stopped, over a fixed input: the window's own price
      // slots, copied to one file. How many rows and files the drain
      // added to the warehouse depends on the pipeline's speed, so the
      // whole warehouse would make the input size move with it.
      stopping.join()
      queries.foreach(_.stop())
      val heapMb = Mem.retainedMb()
      val fixedPath = ctx.root.resolve("standing/prices").toString
      prices.where(col("seq").between(1, gen.windowSlots)).coalesce(1).write.parquet(fixedPath)
      val fixedPrices = Warehouse.readTable(spark, fixedPath)
      val checkedNs = Clock.nowNs
      val standing = Engine.passes(StandingQueries.map(_._1), minPasses = StandingPasses, windowNs = 0L)(
        name => StandingQueries.toMap.apply(name)(stations, fixedPrices))
      val best = Engine.best(StandingQueries.map(_._1), standing)
      println(f"[fuel_live] phases: set-up ${(setupEndNs / 1e6 - ctx.jvmStartMs) / 1000}%.1f s, " +
        f"window and drain ${(openEndNs - windowStartNs) / 1e9}%.1f s, " +
        f"settle ${(settledNs - openEndNs) / 1e9}%.1f s, checks ${(checkedNs - settledNs) / 1e9}%.1f s, " +
        f"standing queries ${(Clock.nowNs - checkedNs) / 1e9}%.1f s")
      println("[fuel_live] standing " + StandingQueries.map { case (n, _) =>
        s"$n=" + standing(n).map(e => f"${e.wallS}%.3f").mkString("/") + " s" }.mkString(" "))
      val e2e = Map(
        "setup_s" -> (setupEndNs / 1e6 - ctx.jvmStartMs) / 1000.0,
        "total_s" -> best.sum,
        "geomean_s" -> Stats.geomean(best),
        "heap_retained_mb" -> heapMb,
        "scratch_left_mb" -> scratchMb)

      val layers =
        if (!t.enabled) Map.empty[String, Double]
        else {
          val stats = queries.map(q => q.name -> q.recentProgress.toSeq).toMap
          fuelLayers(ctx, sender, progress, stats, landPrices, wh, stored.size, dead, shown.count {
            case (ns, _) => ns >= windowStartNs && ns < openEndNs
          }, windowMs, sent.size) ++ Map(
            "fresh_p50_ms" -> pct(freshMs, 50),
            "fresh_p99_ms" -> pct(freshMs, 99),
            "fresh.probes" -> freshMs.size.toDouble,
            "fresh.beyond_p99" -> Stats.beyond(freshMs.size, 99).toDouble,
            "fresh.headroom_ms" -> (1000.0 - pct(freshMs, 50))) ++
            Engine.queryLayers(ctx, StandingQueries.map(_._1), standing)
        }
      Outcome(attempted = lastProbe + checks.count, failed = unshown + checks.failed.size,
        failures = failures, e2e = e2e, layers = layers)
    } finally {
      sender.stop()
      watcher.stop()
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      pub.close()
      landingP.close()
      landingS.close()
      broker.close()
    }
  }

  private def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.nearestRank(xs, p)

  private def fuelLayers(ctx: Ctx, sender: Sender,
      window: Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]],
      all: Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]],
      landPrices: String, wh: String, warehouseRows: Int, dead: Long, republishes: Int,
      windowMs: (Double, Double), sentCount: Int): Map[String, Double] = {
    val t = ctx.tracer
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("gen.late_ms_p99") = pct(sender.lateMs, 99)
    m("mqtt.publish_ms_p50") = pct(t.named("Mqtt.Client.publish").filter(_.req != "station").map(_.ms), 50)
    val landed = Files.list(java.nio.file.Paths.get(landPrices)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("msg-")).sortBy(_.getFileName.toString)
    val published = sender.publishedNs
    val lags = landed.zip(published).map { case (f, pubNs) =>
      val mtime = Files.getLastModifiedTime(f).toInstant
      (mtime.getEpochSecond * 1000000000L + mtime.getNano - pubNs) / 1e6
    }
    m("landing.lag_ms_p50") = pct(lags, 50)
    m("landing.lag_ms_p99") = pct(lags, 99)
    m("landing.files") = landed.size
    for (q <- Seq("ingest_prices", "fuel_qbar_live", "qmap_live"); ph <- Progress.Phases)
      m(s"stream.$q.${ph}_ms_p50") = pct(window.getOrElse(q, Nil).flatMap(Progress.phaseMs(_, ph)), 50)
    for (q <- Seq("ingest_prices", "fuel_qbar_live", "qmap_live"))
      m(s"stream.$q.phase_share") = pct(window.getOrElse(q, Nil).map(Progress.phaseShare), 50)
    for (q <- Seq("ingest_prices", "ingest_stations", "fuel_qbar_live", "qmap_live"))
      m(s"stream.$q.batches") = window.getOrElse(q, Nil).size
    m("state.fuel_qbar_live.commit_ms_p50") =
      pct(window.getOrElse("fuel_qbar_live", Nil).map(Progress.stateCommitMs), 50)
    m("state.fuel_qbar_live.rows_total") =
      all.getOrElse("fuel_qbar_live", Nil).lastOption.map(Progress.stateRows).getOrElse(0L).toDouble
    m("state.ingest_stations.rows_total") =
      all.getOrElse("ingest_stations", Nil).lastOption.map(Progress.stateRows).getOrElse(0L).toDouble
    m("dashboard.render_ms_p50") = pct(t.named("FuelDashboard.render").map(_.ms), 50)
    m("dashboard.republishes") = republishes
    val parquet = Files.walk(java.nio.file.Paths.get(wh, "prices")).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    m("warehouse.prices_files") = parquet.size
    m("warehouse.prices_bytes") = parquet.map(Files.size).sum.toDouble
    m("cleaning.valid_ratio") = warehouseRows.toDouble / sentCount
    m("cleaning.dead_letters") = dead.toDouble
    m ++= SparkLayers.over(ctx, Seq(windowMs))
    m.toMap
  }

  private def waitFor(what: String, seconds: Double)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  private def sleepUntil(ns: Long): Unit =
    while (Clock.nowNs < ns) LockSupport.parkNanos(math.min(ns - Clock.nowNs, 5000000L))
}

/** The generator thread: publishes slot `i` at `start + i × period`
  * whether or not the system keeps up, and records when each message
  * actually went out.
  */
final class Sender(gen: FuelGen, pub: Mqtt.Client, tracer: Tracer) {
  private val running = new AtomicBoolean(false)
  private val sentQ = new ConcurrentLinkedQueue[Msg]
  private val late = new ConcurrentLinkedQueue[java.lang.Double]
  private val pubNs = new ConcurrentLinkedQueue[java.lang.Long]
  private var thread: Thread = _

  def publish(topic: String, payload: String, req: String): Unit =
    tracer.span("Mqtt.Client.publish", req)(
      pub.publish(topic, payload.getBytes(StandardCharsets.UTF_8), qos = 0))

  /** Publish one price message now (set-up traffic). */
  def sendNow(m: Msg): Unit = {
    publish("prices", m.payload, if (m.probe >= 0) s"probe-${m.probe}" else s"slot-${m.slot}")
    pubNs.add(Clock.nowNs)
  }

  def start(startNs: Long): Unit = {
    running.set(true)
    thread = new Thread(() => {
      var i = 0
      while (running.get) {
        val due = startNs + i * gen.periodNs
        var now = Clock.nowNs
        while (now < due) {
          LockSupport.parkNanos(due - now)
          now = Clock.nowNs
        }
        val m = gen.msg(i)
        sendNow(m)
        late.add((now - due) / 1e6)
        sentQ.add(m)
        i += 1
      }
    }, "bench-generator")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running.set(false)
    if (thread != null) thread.join()
  }

  def sent: Seq[Msg] = sentQ.asScala.toSeq
  def lateMs: Seq[Double] = late.asScala.toSeq.map(_.doubleValue)
  def publishedNs: Seq[Long] = pubNs.asScala.toSeq.map(_.longValue)
}

/** Polls the dashboard file and records each new version: the time it
  * was first seen and the probe it shows.
  */
final class DashboardWatcher(path: Path) {
  @volatile private var running = true
  private val seen = new ConcurrentLinkedQueue[(Long, Int)]
  private val max = new AtomicInteger(-1)

  private val thread = new Thread(() => {
    var last: (Any, Long) = (null, -1L)
    while (running) {
      try {
        val a = Files.readAttributes(path, classOf[java.nio.file.attribute.BasicFileAttributes])
        val id = (a.fileKey, a.lastModifiedTime.toMillis)
        if (id != last) {
          val now = Clock.nowNs
          last = id
          val shown = Dashboard.shownProbe(Files.readString(path)).getOrElse(-1)
          seen.add((now, shown))
          max.accumulateAndGet(shown, math.max)
        }
      } catch { case _: java.io.IOException => () }
      LockSupport.parkNanos(1000000L)
    }
  }, "bench-dashboard-watcher")
  thread.setDaemon(true)
  thread.start()

  def shownMax: Int = max.get

  /** (first seen, probe shown) per version, in time order. */
  def versions: Seq[(Long, Int)] = seen.asScala.toSeq

  def stop(): Unit = {
    running = false
    thread.join()
  }
}

/** Named pass/fail checks; a failure is printed by name. */
final class Checks {
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def apply(name: String, detail: => String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    results += ((name, pass, if (pass) "" else detail))
    if (!pass) println(s"[check] FAILED $name: $detail")
  }
  def count: Int = results.size
  def failed: Seq[String] = results.collect { case (n, false, d) => s"$n ($d)" }.toSeq
}
