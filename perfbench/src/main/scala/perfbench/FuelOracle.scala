package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}

/** The fuel pipeline's expected final state, computed in plain Scala
  * from the messages the generator actually sent — independent of
  * Spark and of the engine's cleaning and query code.
  */
final class FuelOracle(sent: Seq[Msg], stations: Seq[StationRow]) {
  import FuelOracle._

  /** Rows that must land in the warehouse: every well-formed message. */
  val valid: Seq[Msg] = sent.filter(_.kind != Msg.Malformed)

  val deadLetters: Int = sent.count(_.kind == Msg.Malformed)

  /** Warehouse rows as (stationcode, fueltype, price, lastupdated, seq). */
  def warehouseRows: Seq[String] =
    valid.map(m => rowKey(m.stationcode, m.fueltype, m.price.toDouble, m.lastupdated, m.seq)).sorted

  /** Exact mean price per fuel type. */
  val meanPrice: Map[String, JBig] =
    valid.groupBy(_.fueltype).map { case (ft, ms) =>
      ft -> ms.map(m => new JBig(m.price)).reduce(_ add _)
        .divide(JBig.valueOf(ms.size.toLong), 20, RoundingMode.HALF_EVEN)
    }

  /** Whether `shown` is the 2-dp rounding of the exact mean. A mean
    * within 1e-9 of a rounding boundary accepts either neighbour, since
    * the engine averages in floating point.
    */
  def qbarMatches(ft: String, shown: Double): Boolean = meanPrice.get(ft).exists { mean =>
    val ok = Seq(RoundingMode.HALF_UP, RoundingMode.HALF_DOWN).map(mode =>
      mean.setScale(2, mode).doubleValue)
    val nearBoundary = mean.movePointRight(2).remainder(JBig.ONE).subtract(new JBig("0.5"))
      .abs.compareTo(new JBig("1e-9")) < 0
    if (nearBoundary) ok.contains(shown) else ok.head == shown
  }

  /** The dashboard's station table: stations ordered by name, each
    * with its latest price per fuel type, the first `limit` of them.
    */
  def stationTable(limit: Int = 20): Seq[Dashboard.Row] = {
    val latest = valid
      .groupBy(m => (m.stationcode.toLong, m.fueltype))
      .map { case (k, ms) => k -> ms.maxBy(m => (parseTs(m.lastupdated), m.seq)) }
    val byCode = latest.values.groupBy(_.stationcode.toLong)
    stations
      .groupBy(s => (s.name, s.brand, s.address, s.lat, s.lon))
      .toSeq
      .map { case ((name, brand, _, _, _), group) =>
        val infos = group.flatMap { s =>
          val ps = byCode.getOrElse(s.code.toLong, Nil)
          if (ps.isEmpty) Seq("")
          else ps.map(m => s"${m.fueltype}: ${sparkDouble(m.price.toDouble)}")
        }.sorted
        Dashboard.Row(name, brand, infos.mkString("; "))
      }
      .sortBy(_.name)
      .take(limit)
  }
}

object FuelOracle {
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss")

  def parseTs(s: String): java.time.LocalDateTime = java.time.LocalDateTime.parse(s, TsFormat)

  /** Spark's text for a double cast to string. */
  def sparkDouble(d: Double): String = d.toString

  def rowKey(code: String, ft: String, price: Double, lastupdated: String, seq: Long): String =
    s"$code|$ft|$price|$lastupdated|$seq"
}
