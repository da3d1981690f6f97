package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile interpolates between order statistics like numpy's default") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(percentile(xs, 0.5) == Pct(2.5, 4))
    assert(math.abs(percentile(xs, 0.9).value - 3.7) < 1e-12)
    assert(percentile(xs, 0.0).value == 1.0)
    assert(percentile(xs, 1.0).value == 4.0)
  }

  test("percentile of one sample is that sample, with n = 1") {
    assert(percentile(Seq(0.25), 0.9) == Pct(0.25, 1))
  }

  test("median of an odd count is the middle value") {
    assert(median(Seq(5.0, 1.0, 3.0)) == Pct(3.0, 3))
  }

  test("sample count travels with every percentile") {
    val xs = (1 to 137).map(_.toDouble)
    assert(percentile(xs, 0.9).n == 137)
    assert(percentile(xs, 0.9).value == 1 + 0.9 * 136)
  }

  test("percentile rejects empty input and fractions outside [0, 1]") {
    intercept[IllegalArgumentException](percentile(Nil, 0.5))
    intercept[IllegalArgumentException](percentile(Seq(1.0), 1.5))
    intercept[IllegalArgumentException](percentile(Seq(1.0), -0.1))
  }

  test("skew is max over median, 1.0 for even samples") {
    assert(skew(Seq(2.0, 2.0, 2.0)) == 1.0)
    assert(skew(Seq(1.0, 2.0, 6.0)) == 3.0)
    assert(skew(Seq(0.0, 0.0)) == 1.0)
  }
}
