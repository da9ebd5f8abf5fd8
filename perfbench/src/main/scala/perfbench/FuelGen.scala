package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One golden station, as the dashboard groups it. */
final case class StationRow(code: String, name: String, brand: String, address: String,
    lat: Double, lon: Double)

/** One golden price row: (stationcode, fueltype) and the price as
  * written in the corpus.
  */
final case class GoldenPrice(code: String, fueltype: String, price: String)

/** The golden fuel corpus: the stations as published, and the price
  * rows the price stream draws from — those of a corpus station
  * (`matched`) and those of a station the corpus lacks (`orphans`,
  * which the dashboard join drops; `orphanShare` of all golden prices).
  */
final case class Golden(stationLines: Seq[String], stations: Seq[StationRow],
    matched: Seq[GoldenPrice], orphans: Seq[GoldenPrice], orphanShare: Double) {

  /** The first `n` stations, with their pairs; orphans and their share
    * are kept.
    */
  def take(n: Int): Golden = {
    val kept = stations.take(n)
    val codes = kept.map(_.code).toSet
    copy(stationLines = stationLines.take(n), stations = kept,
      matched = matched.filter(p => codes(p.code)))
  }
}

object Golden {
  def load(dir: Path): Golden = {
    val mapper = new ObjectMapper
    def lines(f: String) =
      Files.readAllLines(dir.resolve(f), StandardCharsets.UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)
    val stationLines = lines("stations.jsonl")
    val stations = stationLines.map { l =>
      val n = mapper.readTree(l)
      StationRow(n.get("code").asText, n.get("name").asText, n.get("brand").asText,
        n.get("address").asText, n.get("location_latitude").asDouble,
        n.get("location_longitude").asDouble)
    }
    val codes = stations.map(_.code).toSet
    val prices = lines("prices.jsonl").map { l =>
      val n = mapper.readTree(l)
      GoldenPrice(n.get("stationcode").asText, n.get("fueltype").asText, n.get("price").asText)
    }
    val (matched, orphans) = prices.partition(p => codes(p.code))
    Golden(stationLines, stations, matched, orphans, orphans.size.toDouble / prices.size)
  }
}

/** One generated price message. `price` is the decimal text on the
  * wire (null when the message carries none) and `probe` the probe
  * index, or -1.
  */
final case class Msg(slot: Int, kind: Msg.Kind, payload: String, probe: Int,
    stationcode: String, fueltype: String, price: String, lastupdated: String, seq: Long)

object Msg {
  sealed trait Kind
  /** Lands in the warehouse. */
  case object Normal extends Kind
  case object Probe extends Kind
  /** Rejected by cleaning into the dead letters. */
  case object Malformed extends Kind
}

/** Seeded open-loop message source for the fuel workload.
  *
  * A non-probe message is a golden price row (the golden share of them
  * orphans) with a generated `lastupdated`; [[FuelGen.MalformedShare]]
  * of them are malformed instead. Slot `i` of the timed window is sent `i / rate` seconds after the
  * window opens. Its content depends only on (seed, i), so one seed
  * always yields the same messages, probe schedule and malformed
  * positions however many slots a run gets through. Every
  * `rate / probeRate`-th slot (from a seeded phase) is a probe: a price
  * for the probe station whose value encodes the probe index and whose
  * `lastupdated` and `seq` strictly increase. Slots at or past
  * `windowSlots` keep the stream flowing while the run drains, and
  * carry no probes.
  */
final class FuelGen(seed: Long, golden: Golden, val rate: Int, probeRate: Int,
    val windowSlots: Int) {
  import FuelGen._
  import Msg.{Malformed, Normal}
  require(rate % probeRate == 0, s"rate $rate must be a multiple of the probe rate $probeRate")

  val probeEvery: Int = rate / probeRate
  private val phase = java.lang.Math.floorMod(mix(seed, -1L), probeEvery.toLong).toInt
  private val firstProbeSlot = (probeEvery - phase) % probeEvery

  def periodNs: Long = 1000000000L / rate

  def isProbeSlot(i: Int): Boolean = i < windowSlots && (i + phase) % probeEvery == 0

  /** Probe index of a probe slot; the set-up probe is 0. */
  def probeOf(i: Int): Int = (i - firstProbeSlot) / probeEvery + 1

  /** Slot of window probe `k` (k >= 1). */
  def slotOf(k: Int): Int = firstProbeSlot + (k - 1) * probeEvery

  /** Probes the timed window holds. */
  def windowProbes: Int =
    if (windowSlots <= firstProbeSlot) 0 else (windowSlots - 1 - firstProbeSlot) / probeEvery + 1

  def msg(i: Int): Msg = {
    if (isProbeSlot(i)) return probe(probeOf(i), slot = i, seq = i + 1L)
    val r = new java.util.SplittableRandom(mix(seed, i.toLong))
    val seq = i + 1L
    val pool = if (r.nextDouble() < golden.orphanShare) golden.orphans else golden.matched
    val GoldenPrice(code, ft, price) = pool(r.nextInt(pool.size))
    val ts = f"05/10/2023 ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    if (r.nextDouble() < MalformedShare) {
      val (p, sc, pr, lu) = r.nextInt(4) match {
        case 0 => (s"""{"stationcode": "$code", "fueltype": "$ft", "price": $price""",
            null, null, null)
        case 1 => (payload(None, ft, Some(price), ts, seq), null, price, ts)
        case 2 => (payload(Some(code), ft, Some("\"n/a\""), ts, seq), code, null, ts)
        case _ =>
          val iso = "2023-10-05T" + ts.drop(11)
          (payload(Some(code), ft, Some(price), iso, seq), code, price, iso)
      }
      Msg(i, Malformed, p, -1, sc, ft, pr, lu, seq)
    } else Msg(i, Normal, payload(Some(code), ft, Some(price), ts, seq), -1, code, ft, price, ts, seq)
  }
}

object FuelGen {
  /** Share of non-probe messages that are malformed. The golden corpus
    * has none; the value is the benchmark's own choice of "a small
    * share", not taken from a real feed.
    */
  val MalformedShare = 0.05

  val ProbeCode = "99999"
  val ProbeFuel = "U91"
  val ProbeName = "00 Probe Station"

  /** The probe station: its name sorts before every golden name, so it
    * is always in the dashboard's 20-row station table.
    */
  val probeStation: StationRow =
    StationRow(ProbeCode, ProbeName, "Probe", "1 Probe Road, SYDNEY NSW 2000", -33.8688, 151.2093)

  def probeStationLine: String =
    s"""{"brandid": "", "stationid": "", "brand": "${probeStation.brand}", "code": "$ProbeCode", """ +
      s""""name": "$ProbeName", "address": "${probeStation.address}", """ +
      s""""location_latitude": ${probeStation.lat}, "location_longitude": ${probeStation.lon}}"""

  /** Probe `k`'s price: 100 + k/100, distinct and increasing per probe. */
  def probePrice(k: Int): String = f"${100 + k / 100}.${k % 100}%02d"

  /** Inverse of [[probePrice]] on the price as the dashboard prints it. */
  def probeIndex(shown: Double): Int = math.round((shown - 100.0) * 100).toInt

  def probe(k: Int, slot: Int, seq: Long): Msg = {
    require(k >= 0 && k < 86400, s"probe index $k out of range")
    val ts = f"06/10/2023 ${k / 3600}%02d:${k / 60 % 60}%02d:${k % 60}%02d"
    val price = probePrice(k)
    Msg(slot, Msg.Probe, payload(Some(ProbeCode), ProbeFuel, Some(price), ts, seq), k,
      ProbeCode, ProbeFuel, price, ts, seq)
  }

  private def payload(code: Option[String], ft: String, price: Option[String], ts: String,
      seq: Long): String =
    (code.map(c => s""""stationcode": "$c"""").toSeq ++ Seq(s""""fueltype": "$ft"""") ++
      price.map(p => s""""price": $p""") ++
      Seq(s""""lastupdated": "$ts"""", s""""seq": $seq""")).mkString("{", ", ", "}")

  /** splitmix64 of (seed, stream): independent per-slot random streams. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
