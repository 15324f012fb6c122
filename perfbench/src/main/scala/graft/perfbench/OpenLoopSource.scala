package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.nexmark.source.{NexmarkDataSource, NexmarkInputPartition, NexmarkOffset, NexmarkReaderFactory}

/** A wall-clock rate schedule: consecutive segments, each offering
  * `eventsPerSecond` events per subtask for `durationMs`, starting at
  * `startMs` (epoch ms). After the last segment nothing more is admitted.
  *
  * Every event's timestamp is its due time: within segment k, event `e`
  * (per-subtask id) is due at `base_k + e * 1000 / eps_k` with `base_k`
  * chosen so that the segment's first event is due exactly at the
  * segment's start. That is [[graft.nexmark.NexmarkGen.eventTimestamp]]'s
  * affine model with a per-segment base, so the product's reader
  * generates the rows unchanged.
  */
final case class Schedule(startMs: Long, segments: Seq[(Long, Long)]) {
  require(segments.nonEmpty && segments.forall { case (eps, d) => eps > 0 && d > 0 })

  /** Per segment: (segment start ms, eps, base ms, first event id). */
  val plan: IndexedSeq[(Long, Long, Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long, Long, Long)]
    var start = startMs
    var first = 0L
    segments.foreach { case (eps, d) =>
      val base = start - first * 1000L / eps
      out += ((start, eps, base, first))
      first = Schedule.dueBy(base, eps, start + d - 1)
      start += d
    }
    out.toIndexedSeq
  }
  val endMs: Long = startMs + segments.map(_._2).sum
  /** Events per subtask admitted over the whole schedule. */
  val totalEvents: Long = {
    val (_, eps, base, _) = plan.last
    Schedule.dueBy(base, eps, endMs - 1)
  }

  private def segmentAt(t: Long): Int = {
    var k = 0
    while (k + 1 < plan.length && plan(k + 1)._1 <= t) k += 1
    k
  }

  /** Per-subtask events due at or before wall time `t`. */
  def admitted(t: Long): Long =
    if (t < startMs) 0L
    else if (t >= endMs) totalEvents
    else { val (_, eps, base, _) = plan(segmentAt(t)); Schedule.dueBy(base, eps, t) }

  /** Due time of per-subtask event `e`. */
  def dueMs(e: Long): Long = {
    var k = 0
    while (k + 1 < plan.length && plan(k + 1)._4 <= e) k += 1
    val (_, eps, base, _) = plan(k)
    base + e * 1000L / eps
  }

  /** [from, until) split at segment boundaries, each piece with its own
    * (eps, base) — one reader config per piece. */
  def pieces(from: Long, until: Long): Seq[(Long, Long, Long, Long)] =
    plan.indices.flatMap { k =>
      val (_, eps, base, first) = plan(k)
      val next = if (k + 1 < plan.length) plan(k + 1)._4 else Long.MaxValue
      val lo = math.max(from, first); val hi = math.min(until, next)
      if (lo < hi) Some((lo, hi, eps, base)) else None
    }

  def encode: String = (startMs +: segments.flatMap { case (e, d) => Seq(e, d) }).mkString(",")
}

object Schedule {
  /** Number of events e >= 0 with `base + e * 1000 / eps <= t`. */
  def dueBy(base: Long, eps: Long, t: Long): Long =
    if (t < base) 0L else ((t - base + 1) * eps + 999) / 1000

  def decode(s: String): Schedule = {
    val v = s.split(",").map(_.trim.toLong)
    Schedule(v.head, v.tail.grouped(2).map(a => (a(0), a(1))).toSeq)
  }
}

/** One admission decision of the open-loop source, recorded on the driver:
  * at wall time `atMs` the source admitted per-subtask events
  * [from, until). */
final case class Admission(atMs: Long, from: Long, until: Long)

/** Driver-side admission logs, keyed by the `log` option. Local mode runs
  * the driver and the stream in one JVM, so the harness reads them
  * directly. */
object AdmissionLog {
  private val logs = new ConcurrentHashMap[String, ArrayBuffer[Admission]]()
  def of(id: String): ArrayBuffer[Admission] =
    logs.computeIfAbsent(id, _ => ArrayBuffer.empty[Admission])
  def take(id: String): Seq[Admission] = {
    val l = of(id)
    l.synchronized { val out = l.toList; logs.remove(id); out }
  }
}

/** Open-loop Nexmark stream (`format("graft.perfbench.OpenLoopSource")`):
  * each trigger admits every event whose due time has passed on the wall
  * clock, so a slow batch shows up as lag and latency, never as a lower
  * offered rate. Rows come from the product's own
  * [[NexmarkInputPartition]]/[[NexmarkReaderFactory]], one partition per
  * subtask and schedule segment.
  *
  * Options: entity, parallelism, seed, schedule ([[Schedule.encode]]),
  * log (admission-log id).
  */
class OpenLoopSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NexmarkDataSource.schemaFor(options.get("entity"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OpenLoopTable(new CaseInsensitiveStringMap(properties))
}

class OpenLoopTable(o: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val entity = o.get("entity")
  override def name(): String = s"openloop($entity)"
  override def schema(): StructType = NexmarkDataSource.schemaFor(entity)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = schema()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new OpenLoopStream(entity, o.get("parallelism").toInt, o.get("seed").toLong,
          Schedule.decode(o.get("schedule")), o.get("log"))
    }
}

class OpenLoopStream(entity: String, parallelism: Int, seed: Long,
                     schedule: Schedule, logId: String) extends MicroBatchStream {
  private val log = AdmissionLog.of(logId)
  private var last = 0L

  override def initialOffset(): Offset = NexmarkOffset(0L)
  override def latestOffset(): Offset = {
    val now = System.currentTimeMillis()
    val until = math.max(last, schedule.admitted(now))
    if (until > last) log.synchronized(log += Admission(now, last, until))
    last = until
    NexmarkOffset(until)
  }
  override def deserializeOffset(json: String): Offset =
    NexmarkOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[NexmarkOffset].eventId
    val until = end.asInstanceOf[NexmarkOffset].eventId
    (for {
      (lo, hi, eps, base) <- schedule.pieces(from, until)
      i <- 0 until parallelism
    } yield NexmarkInputPartition(entity, i, parallelism, seed, base, eps, lo, hi,
      sizedPayloads = false): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = new NexmarkReaderFactory
}
