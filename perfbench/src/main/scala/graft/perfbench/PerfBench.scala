package graft.perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.nexmark.NexmarkSources
import graft.nexmark.sink.LatencySink

/** Fixed parameters of one workload, from perfbench/workloads.json. */
final case class Params(parallelism: Int, triggerMs: Long, saturationEvents: Long,
                        saturationSpanMs: Long, saturationBatches: Int, nominalEps: Long,
                        rungEps: Long, leadMs: Long,
                        pinnedSeed: Long, pinnedRows: Long, pinnedHash: Long) {
  /** Per-subtask events of a saturation run over `entities` streams. */
  def saturationGen(seed: Long, entities: Int, base: Long = 1704067200000L): Gen = {
    val rows = saturationEvents / (parallelism * entities)
    Gen(seed, parallelism, rows, math.max(1L, rows * 1000L / saturationSpanMs), base)
  }
  /** Time at the nominal rate after the measured span, so that its last
    * results are out before the rungs start. */
  def drainMs(w: Workload): Long = w.closeAfterMs + 2 * triggerMs + 500L
}

object Params {
  def load(path: String, workload: String): Params = {
    val root = new ObjectMapper().readTree(new File(path))
    val w = Option(root.path("workloads").get(workload)).getOrElse(
      throw new IllegalArgumentException(s"$path has no workload '$workload'"))
    def long(n: JsonNode, k: String): Long = {
      val v = n.get(k); require(v != null && v.canConvertToLong, s"$workload.$k missing"); v.asLong
    }
    val pin = w.path("pinned")
    Params(long(root, "parallelism").toInt, long(root, "trigger_ms"),
      long(w, "saturation_events"), long(w, "saturation_span_ms"),
      long(w, "saturation_batches").toInt, long(w, "nominal_eps"),
      long(w, "rung_eps"), long(w, "lead_ms"),
      long(pin, "seed"), long(pin, "rows"), java.lang.Long.parseUnsignedLong(pin.get("hash").asText, 16))
  }
}

/** One foreachBatch sink call, in tracer milliseconds. */
final case class SinkCall(batchId: Long, startMs: Double, receivedMs: Double,
                          latencySinkMs: Double, endMs: Double, rows: Int)

/** The benchmark's sink: materializes each micro-batch once, hands it to
  * the product's [[LatencySink]], then records every row's latency from
  * the due time of its last contributing event to its arrival here.
  * `delayMs` (rows in the batch → extra ms) slows the sink down; tests use
  * it to overload the query. */
final class CaptureSink(w: Workload, csvPath: String, tracer: Tracer, keepRows: Boolean,
                        delayMs: Int => Long = _ => 0L) extends Serializable {
  val dueMs = ArrayBuffer.empty[Long]
  val recvMs = ArrayBuffer.empty[Long]
  val rows = ArrayBuffer.empty[Seq[Any]]
  val calls = ArrayBuffer.empty[SinkCall]
  private val keys = mutable.HashSet.empty[Any]
  private val batches = mutable.HashSet.empty[Long]
  var duplicates = 0L
  var negative = 0L
  var redelivered = 0L

  def apply(batch: DataFrame, batchId: Long): Unit = {
    val t0 = tracer.nowMs
    batch.persist()
    val out = batch.collect()
    val recv = System.currentTimeMillis()
    val d = delayMs(out.length)
    if (d > 0) Thread.sleep(d)
    val t1 = tracer.nowMs
    LatencySink.recordBatch(batch, batchId, csvPath, w.sinkColumns._1, w.sinkColumns._2)
    val t2 = tracer.nowMs
    // a retried batch id carries the same rows again: count it, keep once
    if (!batches.add(batchId)) redelivered += 1
    else out.foreach { r =>
      val due = w.lastDueMs(r)
      if (recv < due) negative += 1
      if (!keys.add(w.key(r))) duplicates += 1
      dueMs += due; recvMs += recv
      if (keepRows) rows += r.toSeq
    }
    batch.unpersist()
    calls += SinkCall(batchId, t0, t1, t2, tracer.nowMs, out.length)
  }

  def latencies(dueFrom: Long, dueUntil: Long): Array[Double] =
    dueMs.indices.iterator.filter(i => dueMs(i) >= dueFrom && dueMs(i) < dueUntil)
      .map(i => (recvMs(i) - dueMs(i)).toDouble).toArray
}

/** One rate of the open-loop ladder over [startMs, endMs) and its finish
  * lag: how long after `endMs` the micro-batch holding the last event due
  * before `endMs` finished (at least the time watched, if it had not). */
final case class Rung(eps: Long, startMs: Long, endMs: Long, finishLagMs: Double)

/** End of one micro-batch: the lowest end offset (per-subtask events
  * admitted) over its sources, and its end time (epoch ms). */
final case class BatchEnd(offset: Long, endMs: Long)

/** Outcome of one open-loop run: latency samples at the nominal rate, and
  * the ladder: the nominal rate, then the rung above it. */
final case class Ladder(nominalMs: Long, nominal: Array[Double], nominalComplete: Boolean,
                        rungs: Seq[Rung], lagBoundMs: Double, admissions: Seq[Admission],
                        schedule: Schedule, sink: CaptureSink,
                        progress: Seq[StreamingQueryProgress], heapLiveMb: Double,
                        startedMs: Double, endedMs: Double, error: Option[Throwable]) {
  /** The highest rung such that it and every rung below it finished
    * within the lag bound; None if not even the nominal rate. */
  def sustained: Option[Rung] =
    if (!nominalComplete || error.isDefined) None
    else rungs.takeWhile(_.finishLagMs <= lagBoundMs).lastOption
  /** How late the generator ran at the nominal rate, per admitted event
    * due in the measured span: admission time minus due time. */
  def nominalLagsMs: Array[Double] = {
    val (from, until) = (schedule.plan(1)._1, schedule.plan(1)._1 + nominalMs)
    val out = ArrayBuffer.empty[Double]
    admissions.foreach { a =>
      var e = a.from
      while (e < a.until) {
        val due = schedule.dueMs(e)
        if (due >= from && due < until) out += (a.atMs - due).toDouble
        e += 1
      }
    }
    out.toArray
  }
}

object Ladder {
  /** Finish lag a kept-up rate stays within: five trigger intervals, one
    * wait for the trigger and two back-to-back batches that may each
    * overrun the trigger by a fixed per-batch cost without the backlog
    * growing (QX's take 1.2-2 s each at 20k events/s on a loaded 4-core
    * machine). */
  def lagBoundMs(triggerMs: Long): Double = 5.0 * triggerMs

  /** Finish lag of the events due before `dueUntil` (`events` per subtask):
    * the end of the first batch that admitted them all, minus `dueUntil`;
    * `watchedUntil` minus `dueUntil` if no batch had by then. */
  def finishLagMs(batches: Seq[BatchEnd], events: Long, dueUntil: Long, watchedUntil: Long): Double =
    batches.find(_.offset >= events).map(_.endMs).getOrElse(watchedUntil) - dueUntil.toDouble

  private val EventId = """\d+""".r

  def batchEnds(progress: Seq[StreamingQueryProgress]): Seq[BatchEnd] =
    progress.filter(_.sources.nonEmpty).map { x =>
      val offset = x.sources.map(s => Option(s.endOffset).flatMap(EventId.findFirstIn).map(_.toLong)
        .getOrElse(0L)).min
      BatchEnd(offset, java.time.Instant.parse(x.timestamp).toEpochMilli +
        x.durationMs.get("triggerExecution").longValue)
    }.sortBy(_.endMs)
}

object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        config: String, work: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("config"), need("work"))
  }

  /** The watermark delay every workload query uses. */
  val WatermarkMs = 2000L

  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def session(cores: Int, partitions: Int, rocksdb: Boolean, localDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
    if (rocksdb) b.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
  def freshDir(work: String, name: String): String = {
    val d = new File(work, s"$name-${seq.incrementAndGet()}")
    d.mkdirs(); d.getPath
  }

  /** Bounded closed-loop run: a fixed event count under AvailableNow,
    * admitted in `batches` micro-batches per stream. Returns the seconds
    * the micro-batches that read events took: the time spent saturated,
    * without starting the query or the final batch that only flushes the
    * last windows. */
  def saturate(spark: SparkSession, w: Workload, gen: Gen, batches: Int, sink: CaptureSink,
               work: String): Double = {
    val rpb = math.max(1L, (gen.rows + batches - 1) / batches)
    val in = w.entities.map { e =>
      e -> spark.readStream.format("nexmark")
        .options(NexmarkSources.nexmarkOptions(e, gen.cfg(0), gen.parallelism, gen.rows, rpb)).load()
    }.toMap
    val dir = freshDir(work, s"sat-${w.name}")
    val q = w.query(spark, in).writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id)).start()
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0
  }

  /** Open-loop run: a lead-in and `nominalMs` (rounded up to whole
    * windows) at the nominal rate (the latency samples), more of it until
    * those results are out, then `rungMs` at the rung rate.
    * Rates are events/s over all streams; event timestamps are due times
    * and admission follows the wall clock. The nominal results are out
    * before the rungs start, so no measured result waits on a rung's load.
    *
    * A rate is kept up with if the last event due in its span is through
    * the query within [[Ladder.lagBoundMs]]. Under overload each batch
    * takes longer than the one before and the lag grows with the rung's
    * length. The query runs on after the schedule until the lag is known. */
  def ladder(spark: SparkSession, w: Workload, seed: Long, p: Params, nominalMs: Long,
             rungMs: Long, sink: CaptureSink, work: String,
             progress: Option[ProgressListener]): Ladder = {
    val t0 = System.currentTimeMillis().toDouble
    val streams = p.parallelism * w.entities.size
    def perSub(r: Long) = math.max(1L, r / streams)
    val nominal = perSub(p.nominalEps)
    // the lead-in runs until the nominal span can start on a window boundary
    def align(t: Long) = (t + w.alignMs - 1) / w.alignMs * w.alignMs
    val startMs = System.currentTimeMillis() + 500L
    val nomStart = align(startMs + p.leadMs)
    val nomMs = align(nominalMs)
    val sched = Schedule(startMs, Seq((nominal, nomStart - startMs), (nominal, nomMs),
      (nominal, p.drainMs(w)), (perSub(p.rungEps), rungMs)))
    val logId = s"${w.name}-${seq.incrementAndGet()}"
    val in = w.entities.map { e =>
      e -> spark.readStream.format(classOf[OpenLoopSource].getName)
        .option("entity", e).option("parallelism", p.parallelism.toLong).option("seed", seed)
        .option("schedule", sched.encode).option("log", s"$logId-$e").load()
    }.toMap
    val dir = freshDir(work, s"ladder-${w.name}")
    val q = w.query(spark, in).writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.ProcessingTime(p.triggerMs))
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id)).start()
    while (q.isActive && System.currentTimeMillis() < sched.endMs) Thread.sleep(20)
    // then until the batch that took the last events has finished, or
    // until no kept-up rate could still be that late
    val lagBound = Ladder.lagBoundMs(p.triggerMs)
    val giveUpMs = sched.endMs + lagBound.toLong + 500L
    while (q.isActive && System.currentTimeMillis() < giveUpMs &&
      !Ladder.batchEnds(q.recentProgress.toSeq).exists(_.offset >= sched.totalEvents)) Thread.sleep(20)
    val watchedMs = System.currentTimeMillis()
    val batches = Ladder.batchEnds(q.recentProgress.toSeq)
    val watermarks = q.recentProgress.toSeq.flatMap(x => Option(x.eventTime.get("watermark")))
      .map(t => java.time.Instant.parse(t).toEpochMilli)
    val error = q.exception
    // the heap with the query's state still held, after a full collection,
    // so that it counts live data, not the room the collector grew into
    System.gc()
    val heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
    q.stop()
    val logs = w.entities.map(e => AdmissionLog.take(s"$logId-$e"))
    val nomEnd = nomStart + nomMs
    def rung(eps: Long, from: Long, until: Long): Rung =
      Rung(eps, from, until, Ladder.finishLagMs(batches, sched.admitted(until - 1), until, watchedMs))
    val rungStart = sched.plan(3)._1
    // the nominal rate is judged once its measured span and drain are due
    val rungs = Seq(rung(p.nominalEps, nomStart, rungStart),
      rung(p.rungEps, rungStart, rungStart + rungMs))
    // a batch emits what its watermark closes: the nominal span's results
    // are all out once some batch's watermark passed their close time
    val nominalComplete = watermarks.exists(_ >= nomEnd + w.closeAfterMs - WatermarkMs)
    val (samples, pr) = (sink.latencies(nomStart, nomEnd), progress.map(_.take()).getOrElse(Nil))
    Ladder(nomMs, samples, nominalComplete, rungs, lagBound, logs.flatten, sched, sink, pr,
      heapLiveMb, t0, System.currentTimeMillis().toDouble, error)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = Workload(a.workload)
    val p = Params.load(a.config, a.workload)
    new Run(a, w, p).execute()
  }
}
