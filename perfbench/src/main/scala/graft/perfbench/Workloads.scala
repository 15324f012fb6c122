package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.nexmark._
import graft.nexmark.queries.{NexmarkQueries, NexmarkTws}

/** One streaming workload: which generated streams feed which product
  * query, how a result row maps to the due time of its last contributing
  * event, and a plain-Scala oracle for the bounded saturation phase.
  *
  * All streams of a workload share one event-id timeline (same per-subtask
  * rate and base): the generator derives a bid's auction id from the event
  * id, so streams stamped at different rates would reference auctions the
  * other stream has not produced and the join would come back nearly empty.
  */
sealed trait Workload {
  def name: String
  def entities: Seq[String]
  def rocksdb: Boolean = false
  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame
  /** Due time of the last event that contributed to the row. */
  def lastDueMs(r: Row): Long
  /** Identity of one emission; an open-loop run must never repeat one. */
  def key(r: Row): Any
  /** Column names LatencySink reads (creation, ingestion). */
  def sinkColumns: (String, String)
  /** Every result a bounded run over `gen` can emit, each with the event
    * time its window or auction closes: a run whose last watermark is `wm`
    * emits exactly those closing at or before `wm`. */
  def oracle(gen: Gen): Seq[(Long, Seq[Any])]
  /** Event time after the last contributing event at which a result is
    * due: window end or auction end, plus the watermark delay. */
  def closeAfterMs: Long
  /** Measured spans start and end on multiples of this (epoch ms), so
    * that every run measures the same whole windows. */
  def alignMs: Long = 1L
}

/** The bounded generator input of a saturation run: per subtask, event ids
  * [0, rows) at `eps` from `base`. */
final case class Gen(seed: Long, parallelism: Int, rows: Long, eps: Long, base: Long) {
  def cfg(subtask: Int): GenConfig =
    GenConfig(seed = seed, subtask = subtask, parallelism = parallelism,
      baseTimestamp = base, eventsPerSecond = eps)
  def each[T](f: (GenConfig, Long) => T): Iterator[T] =
    (0 until parallelism).iterator.flatMap { i =>
      val c = cfg(i); Iterator.range(0L, rows).map(e => f(c, e))
    }
  def events(entities: Int): Long = rows * parallelism * entities
  /** Final watermark of a run over these events: max timestamp − 2 s. */
  def finalWatermark: Long = base + (rows - 1) * 1000L / eps - 2000L
}

object Workload {
  val WindowMs = 5000L

  // after WindowMs: initializing a workload object reads it
  val all: Seq[Workload] = Seq(Q5Bids, QxTwsRocksdb)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString("|")})"))

  /** Order-independent hash of a row set: the 64-bit sum of FNV-1a over
    * each row's canonical text (fields joined by '|', integral doubles
    * printed as integers). oracle_check.py computes the same. */
  def rowHash(rows: Iterable[Seq[Any]]): Long = rows.foldLeft(0L)((acc, r) => acc + fnv(canon(r)))

  def canon(r: Seq[Any]): String = r.map {
    case d: Double if d == math.rint(d) && !d.isInfinite => d.toLong.toString
    case v => String.valueOf(v)
  }.mkString("|")

  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b => h ^= (b & 0xff); h *= 0x100000001b3L }
    h
  }

  def windowOf(ts: Long): Long = Math.floorDiv(ts, WindowMs) * WindowMs
}

object Q5Bids extends Workload {
  import Workload._
  val name = "q5_bids"
  val entities = Seq("bids")
  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    NexmarkQueries.q5HotAuctions(in("bids").as[Bid], "5 seconds")
  }
  def lastDueMs(r: Row): Long = r.getAs[Long]("lastTimestamp")
  def key(r: Row): Any = (r.getAs[Long]("windowStartMs"), r.getAs[Long]("auctionId"))
  val sinkColumns = ("lastTimestamp", "lastIngestionTimestamp")
  val closeAfterMs = WindowMs + 2000L
  override val alignMs = WindowMs

  def oracle(gen: Gen): Seq[(Long, Seq[Any])] = {
    // (window, auction) -> (maxPrice, count, lastTs, lastIngestion)
    val acc = mutable.HashMap.empty[(Long, Long), Array[Double]]
    gen.each(NexmarkGen.bid).foreach { b =>
      val a = acc.getOrElseUpdate((windowOf(b.timestamp), b.auctionId),
        Array(Double.MinValue, 0, Long.MinValue.toDouble, Long.MinValue.toDouble))
      a(0) = math.max(a(0), b.bid); a(1) += 1
      a(2) = math.max(a(2), b.timestamp.toDouble); a(3) = math.max(a(3), b.ingestionTimestamp.toDouble)
    }
    acc.toSeq.map { case ((w, id), a) =>
      (w + WindowMs, Seq(w, id, a(0), a(1).toLong, a(2).toLong, a(3).toLong))
    }
  }
}

object QxTwsRocksdb extends Workload {
  val name = "qx_tws_rocksdb"
  val entities = Seq("bids", "auctions")
  override val rocksdb = true
  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    NexmarkTws.qxWinningBidsTws(in("bids").as[Bid], in("auctions").as[Auction]).toDF
  }
  /** Best bid per auction: price, then later timestamp, then lower bidder. */
  private def winners(bids: Iterator[Bid]): mutable.HashMap[Long, Bid] = {
    val best = mutable.HashMap.empty[Long, Bid]
    bids.foreach { b =>
      best.get(b.auctionId) match {
        case Some(c) if !(b.bid > c.bid || (b.bid == c.bid && (b.timestamp > c.timestamp ||
          (b.timestamp == c.timestamp && b.personId < c.personId)))) =>
        case _ => best(b.auctionId) = b
      }
    }
    best
  }
  def lastDueMs(r: Row): Long = r.getAs[Long]("bidTimestamp")
  def key(r: Row): Any = r.getAs[Long]("auctionId")
  val sinkColumns = ("bidTimestamp", "bidTimestamp")
  val closeAfterMs = 10000L + 2000L // auction length + watermark delay

  /** Exact while no timer can fire before the last data batch: every
    * auction ends 10 s after it starts, so the saturation input spans
    * less event time than that plus the watermark delay. Each auction's
    * timer is its first event's end; it fires once the final watermark
    * reaches it, and the winner is the best of all the auction's bids
    * (price, then later timestamp, then lower bidder). */
  def oracle(gen: Gen): Seq[(Long, Seq[Any])] = {
    val end = mutable.HashMap.empty[Long, Long]
    gen.each(NexmarkGen.auction).foreach { a =>
      end(a.auctionId) = math.min(end.getOrElse(a.auctionId, Long.MaxValue), a.end)
    }
    winners(gen.each(NexmarkGen.bid)).toSeq.collect { case (id, b) if end.contains(id) =>
      (end(id), Seq(id, b.personId, b.bid, b.timestamp))
    }
  }
}
