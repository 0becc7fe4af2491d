package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Expected values are Python's `statistics.median` and
  * `statistics.quantiles(xs, n=4)` / `n=5` (the definition the benchmark's
  * spread checks use). */
class StatsSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-12, s"$a != $b")

  test("median of an even sample is the mean of the two middle values") {
    close(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)), 2.5)
    close(Stats.median(Seq(0.5, 0.25)), 0.375)
    close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    close(Stats.median(Seq(7.0)), 7.0)
  }

  test("quartiles and p80 match Python's exclusive method") {
    val ten = Seq(5.0, 1, 9, 3, 7, 2, 8, 6, 4, 10)
    close(Stats.quartiles(ten)._1, 2.75)
    close(Stats.quartiles(ten)._2, 8.25)
    close(Stats.quantile(ten, 0.8), 8.8)
    close(Stats.quantile(ten, 0.5), Stats.median(ten))
    close(Stats.quartiles(Seq(1.0, 2, 3, 4))._1, 1.25)
    close(Stats.quartiles(Seq(1.0, 2, 3, 4))._2, 3.75)
  }

  test("small samples extrapolate from the end values, as Python does") {
    close(Stats.quartiles(Seq(1.0, 2.0))._1, 0.75)
    close(Stats.quartiles(Seq(1.0, 2.0))._2, 2.25)
    close(Stats.quantile(Seq(1.0, 2.0), 0.8), 2.4)
    close(Stats.quantile(Seq(3.0, 1.0, 2.0), 0.8), 3.2)
    close(Stats.quantile(Seq(4.0), 0.8), 4.0)
  }

  test("interquartile mean drops a quarter of the sample at each end") {
    close(Stats.iqm(Seq(1.0, 2, 3, 4, 5, 6, 7, 100)), 4.5)
    close(Stats.iqm(Seq(5.0, 1, 9, 3, 7, 2, 8)), 5.0)
    close(Stats.iqm(Seq(2.0, 4.0)), 3.0)
  }

  test("an empty sample is an error, not a number") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.iqm(Nil))
    assert(Bench.med(Nil).isEmpty)
  }
}
