package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** Negative controls for the streaming output checks: each planted fault
  * must count as failed, which raises the matching error rate
  * (failed / attempted) above 0. */
class CheckSpec extends AnyFunSuite {
  private def window(ws: Long, avg: Double): (Long, Seq[Any]) =
    ws -> Seq[Any](ws + 10000L, 5L, 4L, 1L, avg, 1.5, 0.1, 0.9,
      s"""{"windowStart": $ws}""")

  private val expected = Seq(window(0L, 0.25), window(10000L, 0.5),
    window(20000L, 0.75)).toMap

  test("identical windows pass") {
    val o = Check.keyed(expected, expected.toSeq)
    assert(o.attempted == 3 && o.failed == 0)
  }

  test("a planted wrong window fails, down to one ulp") {
    val wrong = expected.toSeq.map {
      case (10000L, _) => window(10000L, Math.nextUp(0.5))
      case w => w
    }
    val o = Check.keyed(expected, wrong)
    assert(o.unequal == 1 && o.failed == 1)
  }

  test("a duplicated or unexpected window fails") {
    val dup = Check.keyed(expected, expected.toSeq :+ window(0L, 0.25))
    assert(dup.extra == 1 && dup.failed == 1)
    val stray = Check.keyed(expected, expected.toSeq :+ window(30000L, 1.0))
    assert(stray.extra == 1 && stray.failed == 1)
  }

  test("a dropped risk row fails") {
    val risk = (1 to 4).map(i => s"tx$i" -> Seq[Any](s"TxId=tx$i, Amount=0.50, Risk=SAFE")).toMap
    val o = Check.keyed(risk, risk.toSeq.drop(1))
    assert(o.missing == 1 && o.failed == 1 && o.attempted == 4)
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.pct(xs, 50) == 50.0 && Stats.pct(xs, 99) == 99.0)
    assert(Stats.pct(Nil, 50) == 0.0)
  }

  test("self time subtracts covered child time once") {
    val t = new Trace(true)
    val p = t.add("parent", 0, 0L, 100L)
    t.add("child", p, 10L, 40L)
    t.add("child", p, 30L, 60L) // overlaps the first child
    t.add("child", p, 90L, 150L) // clipped to the parent's end
    val self = t.selfMs
    assert(self("parent") == (100 - 50 - 10) / 1e6)
  }
}
