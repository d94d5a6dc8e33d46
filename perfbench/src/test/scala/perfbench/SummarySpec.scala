package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SummarySpec extends AnyFunSuite {
  import Summary._

  test("quantile interpolates linearly between order statistics") {
    val v = Seq(4.0, 1.0, 3.0, 2.0)
    assert(quantile(v, 0.0) == 1.0)
    assert(quantile(v, 1.0) == 4.0)
    assert(quantile(v, 0.5) == 2.5)
    assert(quantile(v, 0.25) == 1.75)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(median(Seq(7.0)) == 7.0)
  }

  test("quantile refuses no values and levels outside [0, 1]") {
    assertThrows[IllegalArgumentException](quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](quantile(Seq(1.0), 1.5))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val t = tail((1 to 100).map(_.toDouble))
    assert(t == Tail(90.0, 90.0, 10))
    // 36 samples: the 11th largest, at 100 * 26 / 36
    val u = tail((1 to 36).reverse.map(_.toDouble))
    assert(u.value == 26.0 && u.samplesBeyond == 10)
    assert(math.abs(u.percentile - 72.2222) < 1e-3)
    // eleven samples: the smallest still has ten beyond it
    assert(tail((1 to 11).map(_.toDouble)) == Tail(1.0, 100.0 * 1 / 11, 10))
  }

  test("tail of ten or fewer samples is the maximum, with none beyond") {
    assert(tail(Seq(3.0, 9.0, 1.0)) == Tail(9.0, 100.0, 0))
    assert(tail((1 to 10).map(_.toDouble)) == Tail(10.0, 100.0, 0))
    assert(tail(Seq(5.0, 1.0), beyond = 1) == Tail(1.0, 50.0, 1))
  }

  test("ratio divides and refuses a zero or negative base") {
    assert(ratio(3.0, 4.0) == 0.75)
    assertThrows[IllegalArgumentException](ratio(1.0, 0.0))
    assertThrows[IllegalArgumentException](ratio(1.0, -2.0))
  }

  test("coveredLength merges overlapping and touching intervals") {
    assert(coveredLength(Nil) == 0.0)
    assert(coveredLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(coveredLength(Seq((5.0, 6.0), (0.0, 1.0), (1.0, 2.0))) == 3.0)
    assert(coveredLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(coveredLength(Seq((4.0, 4.0), (3.0, 1.0))) == 0.0)
  }

  test("uncovered counts the part of a window no interval covers") {
    // jobs [2, 4] and [3, 7] inside an action [0, 10]; a job ending
    // after the action only covers the action up to its end
    assert(uncovered(0.0, 10.0, Seq((2.0, 4.0), (3.0, 7.0))) == 5.0)
    assert(uncovered(0.0, 10.0, Seq((8.0, 15.0))) == 8.0)
    assert(uncovered(0.0, 10.0, Seq((11.0, 12.0))) == 10.0)
    assert(uncovered(0.0, 10.0, Nil) == 10.0)
  }
}
