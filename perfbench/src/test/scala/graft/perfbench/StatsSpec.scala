package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  /** Nearest-rank quantile by a full sort: the reference the selection
    * code must match. */
  private def bySort(xs: Array[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length - 1e-9).toInt - 1))
  }

  test("p50 and p99 equal an exact sort on random and tied samples") {
    val rnd = new java.util.Random(7)
    for (n <- Seq(20, 21, 999, 1000, 1001, 4096, 25000); ties <- Seq(false, true)) {
      val xs = Array.fill(n)(if (ties) rnd.nextInt(50).toDouble else rnd.nextGaussian() * 100)
      val before = xs.clone()
      Seq(0.5, 0.99).filter(q => Stats.supported(q, n)).foreach { q =>
        assert(Stats.percentile(xs, q).contains(bySort(xs, q)), s"n=$n ties=$ties q=$q")
      }
      assert(xs.sameElements(before), "the sample must not be reordered")
    }
  }

  test("a percentile with fewer than ten samples beyond it is refused") {
    assert(Stats.percentile(Array.fill(19)(1.0), 0.5).isEmpty)
    assert(Stats.percentile(Array.fill(20)(1.0), 0.5).isDefined)
    assert(Stats.percentile(Array.fill(999)(1.0), 0.99).isEmpty)
    assert(Stats.percentile(Array.fill(1000)(1.0), 0.99).isDefined)
    assert(Stats.percentile(Array.empty[Double], 0.5).isEmpty)
  }

  test("the schedule admits exactly the events that are due, across segments") {
    val s = Schedule(1000000L, Seq((2500L, 1000L), (7000L, 1500L), (3L, 2000L)))
    var prev = 0L
    for (t <- 999990L to s.endMs + 10) {
      val n = s.admitted(t)
      assert(n >= prev, s"admission went backwards at $t")
      if (n > 0) assert(s.dueMs(n - 1) <= t, s"event ${n - 1} admitted before due at $t")
      if (t < s.endMs) assert(s.dueMs(n) > t, s"event $n due by $t but not admitted")
      prev = n
    }
    // each segment offers its own rate (to the event: segment bases are
    // whole milliseconds)
    assert(s.admitted(1000999L) == 2500L)
    assert(math.abs(s.admitted(1002499L) - s.admitted(1000999L) - 10500L) <= 1L)
    assert(s.totalEvents == s.admitted(s.endMs))
    // timestamps never decrease across a segment boundary
    assert((1L until s.totalEvents).forall(e => s.dueMs(e) >= s.dueMs(e - 1)))
    // pieces cover a range exactly, split where the rate changes
    val ps = s.pieces(100L, 20000L)
    assert(ps.head._1 == 100L && ps.last._2 == 20000L)
    assert(ps.sliding(2).forall { case Seq(a, b) => a._2 == b._1; case _ => true })
  }

  test("row hashes ignore order and print integral doubles as integers") {
    val a = Seq(Seq[Any](1L, 2.0, "x"), Seq[Any](3L, 4.5, "y"))
    assert(Workload.rowHash(a) == Workload.rowHash(a.reverse))
    assert(Workload.canon(Seq[Any](5L, 7.0, 7.5)) == "5|7|7.5")
    assert(Workload.fnv("") == 0xcbf29ce484222325L)
  }
}
