package perfbench

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

class FuelGenSpec extends AnyFunSuite {
  private lazy val golden =
    Golden.load(Paths.get("..", "src", "test", "resources", "fuel").toAbsolutePath.normalize)

  private def gen(seed: Long) = new FuelGen(seed, golden, rate = 20, probeRate = 10, windowSlots = 200)

  test("the golden corpus keeps its orphan share") {
    assert(golden.stations.size == 1597)
    assert(golden.matched.size + golden.orphans.size == 1673)
    assert(golden.orphans.size == 879)
    val small = golden.take(400)
    val codes = small.stations.map(_.code).toSet
    assert(small.stations.size == 400 && small.stationLines.size == 400)
    assert(small.matched.nonEmpty && small.matched.forall(p => codes(p.code)))
    assert(small.orphans == golden.orphans && small.orphanShare == 879.0 / 1673)
  }

  test("one seed always yields the same messages") {
    val a = (0 until 400).map(gen(7).msg)
    val b = (0 until 400).map(gen(7).msg)
    assert(a == b)
    // Content depends on the slot alone, not on what was generated before.
    assert(gen(7).msg(321) == a(321))
    assert((0 until 400).map(gen(8).msg) != a)
  }

  test("probes: fixed schedule, distinct increasing prices, timestamps and seqs") {
    val g = gen(3)
    val probes = (0 until 400).map(g.msg).filter(_.kind == Msg.Probe)
    assert(probes.size == g.windowProbes)
    assert(probes.size == 100)
    assert(probes.map(_.probe) == (1 to 100))
    assert(probes.map(_.slot) == (1 to 100).map(g.slotOf))
    assert(probes.sliding(2).forall { case Seq(a, b) =>
      a.price.toDouble < b.price.toDouble &&
        FuelOracle.parseTs(a.lastupdated).isBefore(FuelOracle.parseTs(b.lastupdated)) &&
        a.seq < b.seq
    })
    assert(probes.forall(p => FuelGen.probeIndex(p.price.toDouble) == p.probe))
    // Past the window the stream carries no probes.
    assert((200 until 400).map(g.msg).forall(_.kind != Msg.Probe))
  }

  test("malformed positions are seeded; other messages carry golden prices") {
    val kinds = (s: Long) => (0 until 2000).map(gen(s).msg(_).kind)
    assert(kinds(5) == kinds(5))
    assert(kinds(5) != kinds(6))
    val n = kinds(5).count(_ == Msg.Malformed)
    assert(n > 0 && n < 200)
    val goldenPrices = (golden.matched ++ golden.orphans).map(p => (p.code, p.fueltype, p.price)).toSet
    assert((0 until 2000).map(gen(5).msg).filter(_.kind == Msg.Normal)
      .forall(m => goldenPrices((m.stationcode, m.fueltype, m.price))))
  }
}
