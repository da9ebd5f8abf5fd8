package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.fuel.FuelDashboard

class DashboardSpec extends AnyFunSuite {

  test("the probe matcher reads a recorded dashboard") {
    val html = new String(Files.readAllBytes(
      Paths.get(getClass.getResource("/dashboard-probe-80.html").toURI)), StandardCharsets.UTF_8)
    assert(Dashboard.shownProbe(html).contains(80))
    val rows = Dashboard.stationRows(html)
    assert(rows.size == 20)
    assert(rows.head == Dashboard.Row(FuelGen.ProbeName, "Probe", "U91: 100.8"))
    assert(rows.exists(_.name == "7-Eleven Albion Park Rail"))
  }

  test("the probe matcher reads what the engine's renderer writes today") {
    val html = FuelDashboard.html(
      bar = Seq("U91" -> 150.0),
      line = Nil,
      stationHeader = Seq("station", "brand", "latest prices"),
      stationRows = Seq(
        Seq(FuelGen.ProbeName, "Probe", "U91: " + FuelGen.probePrice(2050).toDouble),
        Seq("A & B Fuels", "Ampol", "; DL: 199.9; P98: 210.5")),
      generatedAt = "now")
    assert(Dashboard.shownProbe(html).contains(2050))
    assert(Dashboard.stationRows(html)(1) == Dashboard.Row("A & B Fuels", "Ampol", "; DL: 199.9; P98: 210.5"))
  }

  test("no probe row, or a probe row without the probe's fuel, shows no probe") {
    val page = (rows: Seq[Seq[String]]) => FuelDashboard.html(Nil, Nil, Seq("a", "b", "c"), rows, "now")
    assert(Dashboard.shownProbe(page(Seq(Seq("Other", "x", "U91: 100.5")))).isEmpty)
    assert(Dashboard.shownProbe(page(Seq(Seq(FuelGen.ProbeName, "Probe", "")))).isEmpty)
  }
}
