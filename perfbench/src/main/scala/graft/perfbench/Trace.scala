package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval at a layer boundary; `parent` is the span that caused
  * it (0 = none). Times are epoch milliseconds as doubles. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var next = 1

  def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  def reserve(): Int = synchronized { val id = next; next += 1; id }

  def put(id: Int, parent: Int, name: String, layer: String, startMs: Double, endMs: Double): Unit =
    if (enabled) synchronized { spans += Span(id, parent, name, layer, startMs, endMs) }

  def add(parent: Int, name: String, layer: String, startMs: Double, endMs: Double): Int = {
    val id = reserve(); put(id, parent, name, layer, startMs, endMs); id
  }

  /** Time `body` as a span under `parent`; the body gets the span's id. */
  def span[T](parent: Int, name: String, layer: String)(body: Int => T): T = {
    val id = reserve()
    val t0 = nowMs
    try body(id) finally put(id, parent, name, layer, t0, nowMs)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  /** Maps System.nanoTime onto the epoch-millisecond clock once, so spans
    * from Spark's epoch timestamps and from nanoTime share a timeline. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Self time per layer under `root`: each span's duration minus its
    * children's. The root's own self time is the time no instrumented layer
    * explains and is kept apart as `unattributedMs`. Spans that break the
    * nesting are measured, not repaired: `overflowMs` is the time children
    * spend outside their parent, `overlapMs` the time siblings overlap. */
  def attribute(spans: Seq[Span], root: Span): Attribution = {
    val kids = spans.groupBy(_.parent)
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var unattributed = 0.0; var overflow = 0.0; var overlap = 0.0
    def visit(s: Span): Unit = {
      val cs = kids.getOrElse(s.id, Nil).filter(_.id != s.id).sortBy(_.startMs)
      val own = s.durMs - cs.map(_.durMs).sum
      if (s.id == root.id) unattributed += own else self(s.layer) += own
      var reach = Double.NegativeInfinity
      cs.foreach { c =>
        overflow += math.max(0.0, s.startMs - c.startMs) + math.max(0.0, c.endMs - s.endMs)
        overlap += math.max(0.0, math.min(reach, c.endMs) - c.startMs)
        reach = math.max(reach, c.endMs)
      }
      cs.foreach(visit)
    }
    visit(root)
    Attribution(self.toMap, unattributed, overflow, overlap)
  }
}

/** Where a root span's time went: self time per layer, the root's own
  * (unexplained) time, and how far the spans break the nesting. */
final case class Attribution(selfMs: Map[String, Double], unattributedMs: Double,
                             overflowMs: Double, overlapMs: Double)

/** Task-level counters summed over a measured phase. */
final class TaskTotals {
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
  /** Per stage: task durations, for skew. */
  val stageTaskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Double]]
  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.length >= 2).map { d =>
      val med = Stats.median(d.toSeq); if (med > 0) d.max / med else 1.0
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

/** Benchmark-side listener: task counters of the current phase. */
final class LayerListener extends SparkListener {
  @volatile var totals = new TaskTotals

  /** Start a new phase; returns the counters of the one that ended. */
  def reset(): TaskTotals = synchronized { val t = totals; totals = new TaskTotals; t }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = totals
    if (m != null) {
      t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
    t.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration.toDouble
  }
}

/** Collects every streaming progress event of the traced run. */
final class ProgressListener extends StreamingQueryListener {
  val events = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.synchronized(events += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def take(): Seq[StreamingQueryProgress] = events.synchronized {
    val out = events.toList; events.clear(); out
  }
}
