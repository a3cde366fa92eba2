package pipebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and the samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(100, 99) == 1)
  }

  test("the tail is the highest ladder percentile with at least ten samples beyond it") {
    def tailOf(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    assert(tailOf(19).isEmpty)
    assert(tailOf(20).map(_.percentile).contains(50.0))
    assert(tailOf(39).map(_.percentile).contains(50.0))
    assert(tailOf(40).map(_.percentile).contains(75.0))
    assert(tailOf(100).map(_.percentile).contains(90.0))
    assert(tailOf(199).map(_.percentile).contains(90.0))
    assert(tailOf(200).map(_.percentile).contains(95.0))
    assert(tailOf(1000).map(_.percentile).contains(99.0))
    assert(tailOf(10000).map(_.percentile).contains(99.9))
    for (n <- Seq(20, 33, 57, 400, 1413, 20000); t <- tailOf(n)) {
      assert(t.beyond >= Stats.MinBeyond, s"n=$n")
      assert(t.n == n)
      assert(t.value == Stats.percentile((1 to n).map(_.toDouble), t.percentile))
    }
  }

  test("the tail ignores sample order and is never the maximum of a small sample") {
    val xs = Seq.tabulate(40)(i => ((i * 17) % 40).toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 29.0) // p75 of 0..39 by nearest rank
    assert(t.value < xs.max)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
