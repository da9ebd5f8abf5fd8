package perfbench

/** Reading the published dashboard back: its latest-prices station
  * table, and which probe that table shows.
  */
object Dashboard {
  final case class Row(name: String, brand: String, prices: String)

  private val RowRe = "<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>".r

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"").replace("&amp;", "&")

  /** The station table's rows, in page order. */
  def stationRows(html: String): Seq[Row] =
    RowRe.findAllMatchIn(html).map(m =>
      Row(unescape(m.group(1)), unescape(m.group(2)), unescape(m.group(3)))).toSeq

  /** Index of the probe whose price the probe station's row shows. */
  def shownProbe(html: String): Option[Int] =
    stationRows(html).find(_.name == FuelGen.ProbeName).flatMap { r =>
      val prefix = FuelGen.ProbeFuel + ": "
      r.prices.split("; ").find(_.startsWith(prefix))
        .flatMap(p => p.drop(prefix.length).toDoubleOption)
        .map(FuelGen.probeIndex)
    }
}
