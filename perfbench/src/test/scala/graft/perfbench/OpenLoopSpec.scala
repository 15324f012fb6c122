package graft.perfbench

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ladder is open loop: a sink that cannot keep up makes the source
  * fall behind its schedule and results arrive later, instead of the
  * offered rate dropping. */
class OpenLoopSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = PerfBench.session(2, 2, rocksdb = false, s"$work/local")

  override def afterAll(): Unit = spark.stop()

  private val p = Params(parallelism = 2, triggerMs = 1000, saturationEvents = 8000,
    saturationSpanMs = 12000, saturationBatches = 2, nominalEps = 2000L,
    rungEps = 8000L, leadMs = 2000L,
    pinnedSeed = 0L, pinnedRows = 0L, pinnedHash = 0L)

  private def run(name: String, delayMs: Int => Long): Ladder = {
    val tracer = new Tracer(false)
    val sink = new CaptureSink(Q5Bids, s"$work/lat-$name.csv", tracer, keepRows = false, delayMs)
    // a long rung, so that the slowed run's nominal results are out before
    // the query stops
    PerfBench.ladder(spark, Q5Bids, seed = 3L, p, nominalMs = 3000L, rungMs = 12000L, sink, work,
      progress = None)
  }

  test("a slowed sink raises source lag and latency and lowers the sustained rate") {
    // warm the JVM so the first measured run is not also the cold one
    val warm = Gen(3L, p.parallelism, rows = 1000L, eps = 100L, base = 1704067200000L)
    PerfBench.saturate(spark, Q5Bids, warm, 1, new CaptureSink(Q5Bids, s"$work/warm.csv",
      new Tracer(false), keepRows = false), work)
    val fast = run("fast", _ => 0L)
    // a slow sink: a fixed cost per call, longer than the lag a kept-up
    // rate stays within, plus a cost per row
    val slow = run("slow", rows => Ladder.lagBoundMs(p.triggerMs).toLong + 500L + rows * 300L / 1000L)
    def p99(xs: Array[Double]) = Stats.percentile(xs, 0.99).get
    val lagFast = p99(fast.nominalLagsMs)
    val lagSlow = p99(slow.nominalLagsMs)
    val all = (l: Ladder) => l.nominal
    val sustained = (l: Ladder) => l.sustained.map(_.eps).getOrElse(0L)
    info(f"lag p99 $lagFast%.0f -> $lagSlow%.0f ms; latency p99 ${p99(all(fast))}%.0f -> " +
      f"${p99(all(slow))}%.0f ms; sustained ${sustained(fast)} -> ${sustained(slow)} ev/s")
    assert(fast.error.isEmpty && slow.error.isEmpty)
    assert(lagSlow > lagFast + p.triggerMs)
    assert(p99(all(slow)) > p99(all(fast)))
    assert(sustained(fast) == p.rungEps, fast.rungs.mkString("\n"))
    assert(sustained(slow) < sustained(fast), slow.rungs.mkString("\n"))
    // open loop: however slow the batches, each admission took every
    // event due by then
    assert(slow.admissions.forall(a => a.until == slow.schedule.admitted(a.atMs)))
  }

  /** Batch ends of a query fed by `s` under a 1 s processing-time trigger:
    * each batch admits every event due at its start and takes `overheadMs`
    * plus its events at `capacityEps`; the next starts at the next trigger
    * tick, or at once if the batch overran it. */
  private def simulate(s: Schedule, capacityEps: Long, overheadMs: Long): Seq[BatchEnd] = {
    val out = ArrayBuffer.empty[BatchEnd]
    var t = s.startMs; var done = 0L
    while (done < s.totalEvents) {
      val n = s.admitted(t)
      val end = t + overheadMs + (n - done) * 1000L / capacityEps
      out += BatchEnd(n, end); done = n
      t = math.max(end, t + 1000L - (t - s.startMs) % 1000L)
    }
    out.toSeq
  }

  test("a rung passes below capacity and fails once batches grow under overload") {
    val capacity = 10000L
    def rungLag(rungEps: Long): Double = {
      val s = Schedule(0L, Seq((capacity / 2, 3000L), (rungEps, 4000L)))
      Ladder.finishLagMs(simulate(s, capacity, overheadMs = 100L), s.totalEvents, s.endMs,
        watchedUntil = s.endMs + 60000L)
    }
    val lags = Seq(6000L, 9000L, 20000L, 30000L, 40000L).map(r => r -> rungLag(r))
    info(lags.map { case (r, l) => f"$r ev/s: $l%.0f ms" }.mkString(", "))
    val bound = Ladder.lagBoundMs(1000L)
    assert(lags.take(2).forall(_._2 <= bound), "kept-up rungs must pass")
    assert(lags.drop(2).forall(_._2 > bound), "overloaded rungs must fail")
    assert(lags.map(_._2).sliding(2).forall { case Seq(a, b) => b >= a; case _ => true },
      "the finish lag grows with the overload")
    // a batch that never came counts as the time watched
    assert(Ladder.finishLagMs(Seq(BatchEnd(10L, 500L)), 20L, 1000L, 3600L) == 2600.0)
  }
}
