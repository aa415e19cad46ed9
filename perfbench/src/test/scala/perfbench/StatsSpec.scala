package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats._

class StatsSpec extends AnyFunSuite {

  test("tail is the highest order statistic with at least 10 samples beyond it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val t = tail(xs)
    assert(t.value == 20.0)
    assert(t.beyondCount == 10 && t.n == 30 && t.ruleMet)
    assert(math.abs(t.percentile - 100.0 * 20 / 30) < 1e-9)
    assert(xs.count(_ > t.value) == 10)
  }

  test("tail needs 11 samples; with fewer it falls back to the maximum and says so") {
    val eleven = tail((1 to 11).map(_.toDouble))
    assert(eleven.value == 1.0 && eleven.ruleMet && eleven.beyondCount == 10)
    val ten = tail((1 to 10).map(_.toDouble))
    assert(ten.value == 10.0 && !ten.ruleMet && ten.percentile == 100.0 && ten.beyondCount == 0)
  }

  test("median of odd and even samples") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the children of nested spans, not the grandchildren twice") {
    val spans = Seq(
      SpanIv(0, -1, 0, 100),
      SpanIv(1, 0, 10, 30),
      SpanIv(2, 0, 50, 90),
      SpanIv(3, 2, 60, 70))
    val self = selfTime(spans)
    assert(self(0) == 40.0) // 100 - 20 - 40
    assert(self(1) == 20.0)
    assert(self(2) == 30.0) // 40 - 10
    assert(self(3) == 10.0)
    assert(self.values.sum == 100.0) // self times tile the root span
  }

  test("interval algebra: union merges overlaps, subtract leaves the gaps") {
    assert(union(Seq(Iv(5, 8), Iv(0, 2), Iv(1, 3))) == List(Iv(0, 3), Iv(5, 8)))
    assert(subtract(Iv(0, 10), Seq(Iv(2, 4), Iv(3, 5), Iv(8, 12))) == List(Iv(0, 2), Iv(5, 8)))
    assert(covered(Seq(Iv(0, 2), Iv(1, 3))) == 3.0)
  }

  test("a job submitted from a pool thread lands in the innermost span open at its time") {
    val spans = Seq(SpanIv(0, -1, 0, 100), SpanIv(1, 0, 20, 40), SpanIv(2, -1, 100, 120))
    // the submitting thread is not the span's thread: only the time counts
    assert(innermost(spans, 30) == Some(1))
    assert(innermost(spans, 50) == Some(0))
    assert(innermost(spans, 100) == Some(2)) // half-open: the next span owns its start
    assert(innermost(spans, 130).isEmpty)
  }

  test("driver time is self time with none of the span's own tasks running") {
    val spans = Seq(SpanIv(0, -1, 0, 100), SpanIv(1, 0, 40, 60))
    val tasks = Map(0 -> Seq(Iv(10, 30), Iv(20, 45)), 1 -> Seq(Iv(41, 59)))
    val d = driverTime(spans, tasks)
    // span 0: self = [0,40) + [60,100); tasks cover [10,40) of it
    assert(d(0) == 50.0)
    assert(d(1) == 2.0)
  }
}
