package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.fuel.{FuelDashboard, FuelPipeline, FuelQueries}
import graft.sources.Warehouse

/** [[FuelPipeline.start]] driven end to end over the golden corpus:
  * stations land first, then the prices in two files; every price
  * tick appends to the warehouse and publishes the live views and the
  * dashboard from that post-append snapshot.
  */
class FuelPipelineSpec extends SparkSpecBase {

  private val RowRe = "<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>".r

  private def stationTable(html: String): Seq[(String, String, String)] =
    RowRe.findAllMatchIn(html).map(m => (m.group(1), m.group(2), m.group(3))).toSeq

  // Atomic drop: the file source must never list a half-written file.
  private def land(dir: Path, name: String, lines: Seq[String]): Unit = {
    val staged = Files.createTempFile("fuel_land", ".tmp")
    Files.write(staged, lines.asJava, StandardCharsets.UTF_8)
    Files.move(staged, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("one price stream: each tick appends, then publishes views and dashboard from its own rows") {
    val root = Files.createTempDirectory("fuel_pipeline")
    val pricesDir = Files.createDirectories(root.resolve("prices"))
    val stationsDir = Files.createDirectories(root.resolve("stations"))
    val wh = root.resolve("wh").toString
    val dash = root.resolve("dash/index.html")
    Seq("fuel_qbar_live", "fuel_qmap_live").foreach(spark.catalog.dropTempView)
    val golden = Files.readAllLines(Paths.get(resource("/fuel/prices.jsonl"))).asScala.toSeq
    land(stationsDir, "stations.jsonl",
      Files.readAllLines(Paths.get(resource("/fuel/stations.jsonl"))).asScala.toSeq)

    val qs = FuelPipeline.start(spark, pricesDir.toString, stationsDir.toString, wh,
      Some(dash.toString))
    try {
      assert(qs.map(_.name).sorted === Seq("ingest_prices", "ingest_stations"))
      val Seq(prices) = qs.filter(_.name == "ingest_prices")
      val Seq(stations) = qs.filter(_.name == "ingest_stations")
      stations.processAllAvailable()
      val (first, second) = golden.splitAt(golden.size / 2)
      land(pricesDir, "prices-1.jsonl", first)
      land(pricesDir, "prices-2.jsonl", second)
      prices.processAllAvailable()

      val stored = Warehouse.readTable(spark, s"$wh/prices")
      assert(stored.count() === 1673L)
      val qbar = spark.table("fuel_qbar_live").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = FuelQueries.qBar(stored).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(qbar === want)
      assert(qbar.size === 8)
      assert(spark.table("fuel_qmap_live").count() === 1597L)
      assert(spark.streams.active.map(_.name).toSet
        .intersect(Set("fuel_qbar_live", "qmap_live")).isEmpty)

      // Re-price the station whose name sorts first (the table's top
      // row): the tick that appends it must also show it.
      val storedStations = Warehouse.readTable(spark, s"$wh/stations")
      val top = storedStations.orderBy("name").select("code").head().get(0).toString
      land(pricesDir, "prices-3.jsonl", Seq(
        s"""{"stationcode": "$top", "fueltype": "PDL", "price": 123.4, """ +
          s""""lastupdated": "01/11/2023 09:00:00", "seq": 100000}"""))
      prices.processAllAvailable()

      val shown = stationTable(Files.readString(dash))
      val expected = stationTable(FuelDashboard.render(
        Warehouse.readTable(spark, s"$wh/prices"), storedStations))
      assert(shown.size === 20)
      assert(shown === expected)
      assert(shown.head._3.split("; ").contains("PDL: 123.4"), shown.head)
    } finally qs.foreach(_.stop())
  }
}
