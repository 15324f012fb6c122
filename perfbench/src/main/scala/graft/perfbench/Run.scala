package graft.perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryProgress}
import graft.nexmark.{GenConfig, NexmarkGen}
import graft.nexmark.NexmarkSources
import PerfBench._

/** One benchmark run of one workload: set-up, saturation and the open-loop
  * ladder, the output checks, then one JSON result line. With
  * tracing on, the same phases run with listeners and spans attached, plus
  * the layer probes, and the result holds the per-layer metrics. */
final class Run(a: Args, w: Workload, p: Params) {
  /** Largest share of the run's wall that the layer self times may leave
    * unexplained, and that spans may spend outside their parent or
    * overlapping a sibling. */
  private val ReconcileTolerance = 0.01
  /** Set-ups per run; `setup_s` is their median. */
  private val SetupRepeats = 3
  private val tracer = new Tracer(a.trace)
  private val rootId = tracer.reserve()
  private val rootStartMs = tracer.nowMs
  private val work = a.work
  private val localDir = { val d = new File(work, "spark-local"); d.mkdirs(); d.getPath }
  private val csv = new File(work, "latency.csv").getPath

  // operations attempted and failed, with the reason for each failure
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] FAILED: $what") }
  }

  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def info(s: String): Unit = System.err.println(s"[perfbench] $s")

  private var listener: LayerListener = _
  private val progress = new ProgressListener

  private def attach(spark: SparkSession): Unit = if (a.trace) {
    listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(progress)
  }

  private def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(progress)
  }

  /** Closes every loaded state store before the session: a RocksDB store
    * still open when the JVM exits can call its JNI logger into a JVM
    * that is shutting down and crash the process. */
  private def stopSession(spark: SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }

  private def newSession(cores: Int): SparkSession = {
    val s = session(cores, p.parallelism, w.rocksdb, localDir)
    attach(s); s
  }

  private def sink(keepRows: Boolean) = new CaptureSink(w, csv, tracer, keepRows)

  private var oracleMemo: Option[(Gen, Seq[(Long, Seq[Any])])] = None
  /** The oracle's results over `gen` that a run ending at watermark `wm`
    * emits; the oracle runs once per input. */
  private def expected(gen: Gen, wm: Long): Seq[Seq[Any]] = {
    val all = oracleMemo.filter(_._1 == gen).map(_._2).getOrElse {
      val o = w.oracle(gen); oracleMemo = Some((gen, o)); o
    }
    all.collect { case (closeAt, r) if closeAt <= wm => r }
  }

  /** Saturation over `gen` as a span under `parent` (with its micro-batches
    * under it if `batchSpans`), checked against the oracle; returns the
    * saturated seconds and the sink. */
  private def checkedSaturation(spark: SparkSession, gen: Gen, label: String, parent: Int,
                                batches: Int = p.saturationBatches,
                                batchSpans: Boolean = false): (Double, CaptureSink) = {
    val s = sink(keepRows = true)
    val wall = tracer.span(parent, label, "engine") { id =>
      val r = saturate(spark, w, gen, batches, s, work)
      if (batchSpans) microBatchSpans(id, progress.take(), s.calls.toSeq)
      r
    }
    attempted += s.calls.length
    tracer.span(parent, s"$label-check", "harness") { _ =>
      val expect = expected(gen, gen.finalWatermark)
      val (got, want) = (Workload.rowHash(s.rows), Workload.rowHash(expect))
      check(s.rows.length == expect.length && got == want,
        s"$label output: ${s.rows.length} rows hash ${got.toHexString}, " +
          s"oracle ${expect.length} rows hash ${want.toHexString}")
      check(s.duplicates == 0 && s.redelivered == 0,
        s"$label: ${s.duplicates} duplicate emissions, ${s.redelivered} redelivered batches")
    }
    (wall, s)
  }

  /** Warm-up: a small one-batch saturation run. */
  private def warmUp(spark: SparkSession, parent: Int): Unit =
    checkedSaturation(spark, p.saturationGen(a.seed, w.entities.size).copy(rows = 1000), "warm-up",
      parent, batches = 1)

  private var ambient = Double.NaN

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Largest heap in use right after a collection: how much the run kept
    * live on the heap, whatever room the collector sized the heap to. */
  private val heapAfterGcMb = new java.util.concurrent.atomic.DoubleAccumulator(math.max(_, _), 0.0)

  private def watchGc(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          heapAfterGcMb.accumulate(after.collect { case (k, u) if heap(k) => u.getUsed.toDouble }.sum / 1048576.0)
        }, null, null)
      case _ =>
    }
  }

  private def teardown(spark: SparkSession): Unit =
    tracer.span(rootId, "teardown", "harness")(_ => stopSession(spark))

  def execute(): Unit = {
    if (a.trace) watchGc()
    // ---- set-up: a ready session with warm-up done, timed inside the JVM
    // so that its launch is left out. Done several times and reported as
    // their median; the first also loads classes and compiles hot code.
    // The last session is kept for the rest of the run.
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { i =>
      if (spark != null) teardown(spark)
      val t0 = tracer.nowMs
      spark = tracer.span(rootId, s"setup$i", "harness") { id =>
        val s = newSession(p.parallelism); warmUp(s, id); s
      }
      (tracer.nowMs - t0) / 1000.0
    }
    e2e("setup_s") = (Stats.median(setups), "s")
    info(setups.map(x => f"$x%.2f").mkString("set-ups: ", ", ", " s"))

    ambient = tracer.span(rootId, "ambient", "harness")(_ => ambientProbe(spark))

    // ---- saturation: closed loop over a fixed event count ----
    val gen = p.saturationGen(a.seed, w.entities.size)
    val events = gen.events(w.entities.size)
    if (a.trace) listener.reset()
    val (untracedWall, _) = checkedSaturation(spark, gen, "saturation", rootId)
    if (a.seed == p.pinnedSeed) tracer.span(rootId, "pinned-check", "harness") { _ =>
      val expect = expected(gen, gen.finalWatermark)
      check(expect.length == p.pinnedRows && Workload.rowHash(expect) == p.pinnedHash,
        s"seed ${a.seed} saturation oracle differs from the pinned rows/hash")
    }
    layer("max_eps") = (events / untracedWall, "events/s")
    info(f"saturation: $events events in $untracedWall%.3f s")

    // ---- open loop: nominal rate, then the higher rungs ----
    val nominalMs = a.seconds * 1000L / 2
    oracleMemo = None // not on the heap while the ladder's memory is taken
    if (a.trace) { listener.reset(); progress.take() }
    val ladderSink = sink(keepRows = false)
    val lad = ladder(spark, w, a.seed, p, nominalMs, a.seconds * 1000L - nominalMs, ladderSink,
      work, if (a.trace) Some(progress) else None)
    val ladderTotals = if (a.trace) listener.reset() else null
    attempted += ladderSink.calls.length
    lad.error.foreach(e => check(ok = false, s"open-loop query failed: ${e.getMessage}"))
    check(ladderSink.duplicates == 0, s"open loop: ${ladderSink.duplicates} duplicate (window, key) emissions")
    check(ladderSink.negative == 0, s"open loop: ${ladderSink.negative} results before their events were due")
    check(ladderSink.redelivered == 0, s"open loop: ${ladderSink.redelivered} redelivered batches")
    val p50 = Stats.percentile(lad.nominal, 0.5)
    val p99 = Stats.percentile(lad.nominal, 0.99)
    info(f"nominal ${p.nominalEps} ev/s: ${lad.nominal.length} latency samples, p50 ${p50.getOrElse(-1.0)}%.0f " +
      f"p99 ${p99.getOrElse(-1.0)}%.0f ms, complete=${lad.nominalComplete}")
    lad.rungs.foreach(r => info(f"rung ${r.eps}%8d ev/s: finish lag ${r.finishLagMs}%6.0f ms (bound ${lad.lagBoundMs}%.0f)"))
    check(p50.isDefined && p99.isDefined,
      s"nominal rate: ${lad.nominal.length} latency samples do not support p50/p99")
    check(lad.nominalComplete, "nominal rate: results still missing when the rungs began")
    check(lad.sustained.isDefined, "the nominal rate was not kept up with")
    e2e("sustained_eps") = (lad.sustained.map(_.eps.toDouble).getOrElse(0.0), "events/s")
    e2e("latency_p50_ms") = (p50.getOrElse(Double.NaN), "ms")
    e2e("latency_p99_ms") = (p99.getOrElse(Double.NaN), "ms")
    e2e("heap_live_mb") = (lad.heapLiveMb, "MB")

    if (a.trace) traced(spark, gen, lad, ladderTotals, setups)
    teardown(spark)
    layer("peak_rss_mb") = (vmHwmMb, "MB")
    if (a.trace) {
      layer("trace.spans") = (tracer.all.size.toDouble, "count")
      writeSpans()
    }
    emit()
  }

  /** Keeps the generator probe's results alive. */
  @volatile private var blackhole = 0

  /** Layer probes and per-layer metrics of a traced run. */
  private def traced(spark0: SparkSession, gen: Gen, lad: Ladder, lt: TaskTotals,
                     setups: Seq[Double]): Unit = {
    var spark = spark0
    def put(k: String, v: Double, unit: String): Unit = layer(k) = (v, unit)

    // tracing overhead: the saturation once more with the listeners
    // attached and once more without, both after the first (colder) pass
    listener.reset(); progress.take()
    val (tracedWall, _) = checkedSaturation(spark, gen, "traced saturation", rootId,
      batchSpans = true)
    detach(spark)
    val (plainWall, _) = checkedSaturation(spark, gen, "untraced saturation", rootId)
    put("trace.overhead_max_eps_frac", plainWall / tracedWall - 1.0, "ratio")

    // gen: single-thread generator calls over a fixed id range
    tracer.span(rootId, "gen-probe", "gen") { _ =>
      val cfg = GenConfig(seed = gen.seed)
      val n = 100000L
      def ns(f: Long => Any): Double = {
        val t0 = System.nanoTime(); var e = 0L
        while (e < n) { blackhole += f(e).hashCode; e += 1 }
        (System.nanoTime() - t0).toDouble / n
      }
      put("gen.bid_ns", ns(NexmarkGen.bid(cfg, _)), "ns")
      put("gen.auction_ns", ns(NexmarkGen.auction(cfg, _)), "ns")
      put("gen.person_ns", ns(NexmarkGen.person(cfg, _)), "ns")
      val bytes = (0L until 1000L).map { e =>
        val x = NexmarkGen.auction(cfg, e); x.name.length + x.descr.length + 9 * 8
      }.sum / 1000.0
      put("gen.auction_bytes", bytes, "bytes")
    }

    // source: batch read of the workload's first stream
    tracer.span(rootId, "source-probe", "source") { _ =>
      val rows = 200000L
      val df = spark.read.format("nexmark").options(NexmarkSources.nexmarkOptions(
        w.entities.head, gen.cfg(0), p.parallelism, rows / p.parallelism, rows)).load()
      val t0 = System.nanoTime(); val n = df.count()
      put("source.batch_read_eps", n / ((System.nanoTime() - t0) / 1e9), "events/s")
    }

    // source lag, per event: admission time minus due time
    val lagArr = lad.nominalLagsMs
    put("source.lag_ms_p50", Stats.percentile(lagArr, 0.5).getOrElse(Double.NaN), "ms")
    put("source.lag_ms_p99", Stats.percentile(lagArr, 0.99).getOrElse(Double.NaN), "ms")

    // engine and state: streaming progress of the ladder
    val pr = lad.progress.filter(_.batchId >= 0)
    def dur(x: StreamingQueryProgress, k: String): Double =
      Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val trig = pr.map(dur(_, "triggerExecution")).toArray
    put("source.latest_offset_ms", mean(pr.map(dur(_, "latestOffset"))), "ms")
    put("engine.batches", pr.size.toDouble, "count")
    put("engine.trigger_ms_mean", mean(trig.toSeq), "ms")
    put("engine.trigger_ms_max", if (trig.isEmpty) 0.0 else trig.max, "ms")
    put("engine.planning_ms", mean(pr.map(dur(_, "queryPlanning"))), "ms")
    put("engine.wal_ms", mean(pr.map(dur(_, "walCommit"))), "ms")
    put("engine.commit_ms", mean(pr.map(dur(_, "commitOffsets"))), "ms")
    put("engine.add_batch_ms", mean(pr.map(dur(_, "addBatch"))), "ms")
    val starts = pr.map(x => java.time.Instant.parse(x.timestamp).toEpochMilli.toDouble)
    val gaps = starts.indices.drop(1).map(i => starts(i) - (starts(i - 1) + trig(i - 1)))
    put("engine.gap_ms", mean(gaps), "ms")
    put("engine.overrun_frac", if (trig.isEmpty) 0.0 else trig.count(_ > p.triggerMs).toDouble / trig.length, "ratio")
    val ops = pr.map(_.stateOperators.toSeq)
    val last = ops.lastOption.getOrElse(Nil)
    put("state.rows_total", last.map(_.numRowsTotal).sum.toDouble, "rows")
    put("state.memory_bytes", last.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    put("state.commit_ms", mean(ops.map(_.map(_.commitTimeMs).sum.toDouble)), "ms")
    put("state.update_ms", mean(ops.map(_.map(_.allUpdatesTimeMs).sum.toDouble)), "ms")
    put("state.rows_updated", ops.map(_.map(_.numRowsUpdated).sum).sum.toDouble, "rows")
    put("state.rows_removed", ops.map(_.map(_.numRowsRemoved).sum).sum.toDouble, "rows")
    val dropped = ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
    val input = pr.map(_.numInputRows).sum.toDouble
    put("state.late_drop_frac", if (input > 0) dropped / input else 0.0, "ratio")
    // the RocksDB provider's own counters (absent, so 0, on the HDFS one)
    def custom(k: String, o: Seq[StateOperatorProgress]): Double =
      o.flatMap(x => Option(x.customMetrics.get(k)).map(_.doubleValue)).sum
    put("state.rocksdb_get_count", ops.map(custom("rocksdbGetCount", _)).sum, "count")
    put("state.rocksdb_put_count", ops.map(custom("rocksdbPutCount", _)).sum, "count")
    put("state.rocksdb_bytes_written", ops.map(custom("rocksdbTotalBytesWritten", _)).sum, "bytes")
    put("state.rocksdb_sst_bytes", custom("rocksdbSstFileSize", last), "bytes")

    // exchange and cpu: task metrics of the ladder
    put("exchange.write_bytes", lt.shuffleWrite.toDouble, "bytes")
    put("exchange.read_bytes", lt.shuffleRead.toDouble, "bytes")
    put("exchange.task_skew", lt.skew, "ratio")
    val ladderWallS = (lad.endedMs - lad.startedMs) / 1000.0
    put("cpu.task_cpu_s", lt.cpuNs / 1e9, "s")
    put("cpu.task_run_s", lt.runMs / 1000.0, "s")
    put("cpu.gc_s", lt.gcMs / 1000.0, "s")
    put("cpu.util", lt.cpuNs / 1e9 / (ladderWallS * p.parallelism), "ratio")
    put("ambient_s", ambient, "s")

    // sink
    val calls = lad.sink.calls
    val callMs = calls.map(c => c.latencySinkMs - c.receivedMs).toArray
    put("sink.call_ms_mean", mean(callMs.toSeq), "ms")
    put("sink.call_ms_max", if (callMs.isEmpty) 0.0 else callMs.max, "ms")
    put("sink.rows", calls.map(_.rows).sum.toDouble, "rows")
    put("sink.redelivered", lad.sink.redelivered.toDouble, "count")
    put("bench.measure_ms", mean(calls.map(c => c.endMs - c.latencySinkMs).toSeq), "ms")
    put("bench.latency_samples", lad.nominal.length.toDouble, "count")

    // ladder spans: phase → micro-batch → sink call
    microBatchSpans(tracer.add(rootId, "ladder", "idle", lad.startedMs, lad.endedMs),
      lad.progress, calls.toSeq)
    put("trace.latency_p50_ms", e2e("latency_p50_ms")._1, "ms")
    put("trace.latency_p99_ms", e2e("latency_p99_ms")._1, "ms")
    put("trace.sustained_eps", e2e("sustained_eps")._1, "events/s")
    put("ladder.nominal_finish_ms", lad.rungs.head.finishLagMs, "ms")
    put("ladder.rung_finish_ms", lad.rungs.last.finishLagMs, "ms")
    put("setup.first_s", setups.head, "s")
    put("jvm.heap_after_gc_peak_mb", heapAfterGcMb.get, "MB")

    // scale: the saturation phase on one core
    teardown(spark)
    spark = tracer.span(rootId, "scale-1core", "harness") { id =>
      val s = newSession(1)
      val g = gen.copy(rows = gen.rows / 4)
      val (wall, _) = checkedSaturation(s, g, "1-core saturation", id)
      put("scale.max_eps_1core", g.events(w.entities.size) / wall, "events/s")
      s
    }
    teardown(spark)
  }

  /** Micro-batch spans from progress events, with the engine's phases laid
    * out in execution order (the last, commitOffsets, flush with the end)
    * and each sink call under the batch's addBatch. */
  private def microBatchSpans(parent: Int, pr: Seq[StreamingQueryProgress], calls: Seq[SinkCall]): Unit =
    pr.foreach { x =>
      val start = java.time.Instant.parse(x.timestamp).toEpochMilli.toDouble
      def d(k: String): Double = Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val end = start + d("triggerExecution")
      val mb = tracer.add(parent, s"batch${x.batchId}", "engine", start, end)
      var t = start
      Seq("latestOffset" -> "source", "walCommit" -> "engine", "getBatch" -> "source",
          "queryPlanning" -> "engine").foreach { case (k, l) =>
        tracer.add(mb, k, l, t, t + d(k)); t += d(k)
      }
      val commitStart = end - d("commitOffsets")
      tracer.add(mb, "commitOffsets", "engine", commitStart, end)
      val ab = tracer.add(mb, "addBatch", "engine", commitStart - d("addBatch"), commitStart)
      calls.filter(_.batchId == x.batchId).foreach { c =>
        tracer.add(ab, "sink", "sink", c.receivedMs, c.latencySinkMs)
        tracer.add(ab, "measure", "harness", c.latencySinkMs, c.endMs)
      }
    }

  /** A fixed trivial job (2k-row aggregate over `parallelism` tasks),
    * median of three: the machine's scheduling floor at run time. */
  private def ambientProbe(spark: SparkSession): Double = {
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 2000, 1, p.parallelism).selectExpr("sum(id * 2 + 1) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(xs)
  }

  private def writeSpans(): Unit = {
    val end = tracer.nowMs
    tracer.put(rootId, 0, "run", "harness", rootStartMs, end)
    val spans = tracer.all
    val root = spans.find(_.id == rootId).get
    val at = Tracer.attribute(spans, root)
    Seq("harness", "gen", "source", "engine", "sink", "idle").foreach { l =>
      layer(s"self_s.$l") = (at.selfMs.getOrElse(l, 0.0) / 1000.0, "s")
    }
    layer("self_s.unattributed") = (at.unattributedMs / 1000.0, "s")
    val explained = at.selfMs.values.sum
    val err = math.abs(root.durMs - explained) / root.durMs
    val nesting = (at.overflowMs + at.overlapMs) / root.durMs
    layer("trace.reconcile_err_frac") = (err, "ratio")
    layer("trace.nesting_err_frac") = (nesting, "ratio")
    check(err <= ReconcileTolerance,
      f"layer self times sum to $explained%.0f ms, run wall ${root.durMs}%.0f ms")
    check(nesting <= ReconcileTolerance,
      f"spans outside their parent ${at.overflowMs}%.0f ms, overlapping ${at.overlapMs}%.0f ms")
    val pw = new PrintWriter(new File(work, "spans.jsonl"))
    try spans.foreach { s =>
      pw.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally pw.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def emit(): Unit = {
    val metrics = if (a.trace) layer else e2e
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val stamp = RunStamp.json(w, p, a, ambient)
    val fails = failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'") + "\"")
    println(s"""{"correct":${failures.isEmpty},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":${failures.size},"metrics":{${m.mkString(",")}},""" +
      s""""stamp":$stamp,"failures":[${fails.mkString(",")}]}""")
  }
}

/** What ran: recorded with every result. */
object RunStamp {
  def json(w: Workload, p: Params, a: Args, ambientS: Double): String = {
    val kv = Seq(
      "git_rev" -> sys.env.getOrElse("PERFBENCH_GIT_REV", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> s"local[${p.parallelism}]",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> System.getProperty("java.vm.version"),
      "state_provider" -> (if (w.rocksdb) "rocksdb" else "hdfs"),
      "seed" -> a.seed.toString,
      "ambient_s" -> f"$ambientS%.4f",
      "workload" -> w.name,
      "trace" -> (if (a.trace) "1" else "0"))
    kv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
  }
}
