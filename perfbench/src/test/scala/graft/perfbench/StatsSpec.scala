package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 11 samples: only the smallest has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    // 100 samples: the 90th has exactly ten beyond it
    val hundred = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    assert(Stats.tail(hundred) == Some((90.0, 90.0)))
    val (p, v) = Stats.tail((1 to 57).map(_.toDouble)).get
    assert((1 to 57).count(_ > v) == 10)
    assert(math.abs(p - 100.0 * 47 / 57) < 1e-9)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("span self time: duration minus the part its children cover") {
    assert(Stats.selfTime(0, 10, Seq()) == 10)
    assert(Stats.selfTime(0, 10, Seq((1, 3), (5, 6))) == 7)
    // overlapping children count once; parts outside the span are clipped
    assert(Stats.selfTime(0, 10, Seq((1, 4), (2, 5), (8, 12), (-3, 0.5))) == 10 - 4 - 2 - 0.5)
    assert(Stats.selfTime(0, 10, Seq((0, 10), (3, 4))) == 0)
  }

  test("metric names: letters, digits, _ . - only, at most 64, first a letter or digit") {
    Seq("setup_s", "kg_build.kg.extract.spans.rows_out", "a", "9x", "a-b.c_d", "x" * 64)
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "-x", "a b", "a/b", "a:b", "x" * 65, "é")
      .foreach(n => assert(!Stats.validName(n), n))
  }

  test("every per-layer metric name is valid, unique, and there are at most 128") {
    val names = Main.LayerMetricNames
    names.foreach(n => assert(Stats.validName(n), n))
    assert(names.distinct.size == names.size)
    assert(names.size <= 128)
  }

  test("closed loop: a thrown operation and a failed check both count as failed") {
    var i = 0
    val (lat, attempted, failed) = Workload.closedLoop(0L, 4) { () =>
      i += 1
      i match {
        case 2 => throw new RuntimeException("boom")
        case 3 => (1.0, Seq(Check("wrong", ok = false, "planted")))
        case _ => (1.0, Seq(Check("right", ok = true, "")))
      }
    }
    assert(attempted == 4 && failed == 2 && lat.size == 3)
  }
}
