package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles of 1..1000") {
    val s = (1 to 1000).map(_.toDouble).toArray
    assert(Stats.percentileSorted(s, 0.5) == 500.0)
    assert(Stats.percentileSorted(s, 0.99) == 990.0)
    assert(Stats.percentileSorted(s, 1.0) == 1000.0)
    assert(Stats.percentileSorted(s, 0.0) == 1.0)
    assert(Stats.median(s.toSeq) == 500.5)
  }

  test("the tail level leaves at least ten samples beyond it") {
    assert(Stats.tailLevel(100000) == 0.99)
    assert(Stats.tailLevel(1000) == 0.99)
    assert(Stats.tailLevel(999) == 989.0 / 999)
    assert(Stats.tailLevel(100) == 0.9)
    assert(Stats.tailLevel(20) == 0.5)
    for (n <- Seq(20, 21, 57, 100, 999, 1000, 1001, 5000)) {
      val s = (1 to n).map(_.toDouble).toArray
      val tail = Stats.percentileSorted(s, Stats.tailLevel(n))
      val beyond = s.count(_ > tail)
      assert(beyond >= 10, s"n=$n: only $beyond samples beyond the tail")
      if (Stats.tailLevel(n) < 0.99) assert(beyond == 10, s"n=$n: $beyond beyond, not the highest level")
    }
  }

  test("below twenty samples the tail is the maximum") {
    assert(Stats.tailLevel(19) == 1.0)
    assert(Stats.tailLevel(1) == 1.0)
    val sm = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(sm == Stats.Summary(2.0, 3.0, 1.0, 3))
  }

  test("backlog slope") {
    assert(Stats.slope(Seq((0.0, 5.0), (1.0, 7.0), (2.0, 9.0))) == 2.0)
    assert(Stats.slope(Seq((0.0, 4.0), (1.0, 4.0), (2.0, 4.0))) == 0.0)
    assert(math.abs(Stats.slope((0 until 100).map(i => (i / 10.0, 100 - 3.0 * i / 10.0))) + 3.0) < 1e-9)
    assert(Stats.slope(Seq((1.0, 2.0))) == 0.0)
    assert(Stats.slope(Seq((1.0, 2.0), (1.0, 5.0))) == 0.0)
  }

  test("digest is a function of the lines") {
    val a = Stats.digest(Iterator("0,1,-1,0", "1,2,-1,5"))
    assert(a == Stats.digest(Iterator("0,1,-1,0", "1,2,-1,5")))
    assert(a != Stats.digest(Iterator("1,2,-1,5", "0,1,-1,0")))
    assert(a != Stats.digest(Iterator("0,1,-1,0", "1,2,-1,6")))
    assert(a.length == 64)
  }
}
