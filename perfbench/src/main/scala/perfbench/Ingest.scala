package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fixtures.Fixtures
import graft.schema.{Candle, Tick}
import graft.sources.Sinks
import graft.streaming.{CandleStream, StreamDedup}

/** `ingest`: ticks in wire order, with seeded at-least-once redeliveries,
  * through two chains that each end in an exactly-once JDBC sink into
  * embedded Derby:
  *
  *  - `StreamDedup.firstWriteWins` on tickNo → trades table;
  *  - the same dedup, then `CandleStream.candles` → candles table.
  *
  * Phase 1 (catch-up) drains a backlog present when the queries start.
  * Phase 2 (live) is an open loop: one generator thread sends a fixed
  * number of ticks on a fixed schedule that does not slow when the engine
  * does. Each sink prunes its own epoch ledger inside its micro-batch
  * (`pruneEvery` / `minBatchesToRetain`), as a deployed sink does.
  *
  * The traffic shape (redelivery share and window, send granularity) is
  * an unverified assumption: no measurement of the reference exporter's
  * feed backs it. The live rate is sized to the host, not to real traffic.
  */
object Ingest {
  val Day: java.time.LocalDate = java.time.LocalDate.of(2024, 12, 6)
  val Delay = "30 days"
  val BacklogTicks = 20000
  val RatePerSec = 1000
  // assumed, unverified: the share of ticks delivered twice, how far back
  // a redelivery reaches, and how many sends a second carry the rate
  val SendsPerSec = 25
  val RedeliverShare = 0.05
  val RedeliverWindow = 400
  val PruneEvery = 3
  val Retain = 4
  val WarmTicks = 4000
  val SourceParts = 16
  val SinkTables: Seq[(String, String)] = Seq("trades" -> "bench_trades", "candles" -> "bench_candles")

  private val TradesDdl =
    """CREATE TABLE bench_trades ("secId" INT, "secCode" VARCHAR(16),
      |  "ts" TIMESTAMP, "time" VARCHAR(8), "last" DOUBLE, "open" DOUBLE,
      |  "quantity" BIGINT, "tickNo" BIGINT)""".stripMargin
  private val CandlesDdl =
    """CREATE TABLE bench_candles ("date" TIMESTAMP, "secId" INT,
      |  "secCode" VARCHAR(16), "period" INT, "open" DOUBLE, "close" DOUBLE,
      |  "high" DOUBLE, "low" DOUBLE, "volume" BIGINT)""".stripMargin

  def props(): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def sql(url: String, stmts: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try stmts.foreach(s => conn.createStatement().executeUpdate(s))
    finally conn.close()
  }

  private def query[T](url: String, q: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(q)
      val out = ArrayBuffer.empty[T]
      while (rs.next()) out += f(rs)
      out.toSeq
    } finally conn.close()
  }

  private def createStore(url: String): Unit = {
    sql(url, TradesDdl, CandlesDdl)
    Sinks.ensureEpochLedger(url, props())
  }

  /** The tick wire: one MemoryStream per chain (a MemoryStream's commit
    * bookkeeping serves one reader), fed the same deliveries. */
  final class Wire(implicit sqlCtx: org.apache.spark.sql.SQLContext) {
    import sqlCtx.implicits._
    val trades = MemoryStream[Tick](SourceParts)
    val candles = MemoryStream[Tick](SourceParts)
    /** Deliver `ticks` to both chains; returns the shared end offset. */
    def send(ticks: Seq[Tick]): Long = {
      val a = trades.addData(ticks).json.toLong
      val b = candles.addData(ticks).json.toLong
      require(a == b, s"wire offsets diverged: $a vs $b")
      a
    }
  }

  /** Both chains over the wire; returns (trades, candles) queries. */
  private def startChains(spark: SparkSession, wire: Wire, url: String,
      ck: String): (StreamingQuery, StreamingQuery) = {
    import spark.implicits._
    def deduped(ticks: Dataset[Tick]) =
      StreamDedup.firstWriteWins(ticks.toDF(), "ts", Delay, Seq("tickNo")).as[Tick]
    val trades = Sinks.jdbcStreamAppendIdempotent(deduped(wire.trades.toDS()).repartition(1), url,
      "bench_trades", props(), s"$ck/trades", "trades", PruneEvery, Retain)
    // the candle builder sizes its state shards through the session conf
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val candles = Sinks.jdbcStreamAppendIdempotent(
        CandleStream.candles(deduped(wire.candles.toDS()), Day).repartition(1), url, "bench_candles",
        props(), s"$ck/candles", "candles", PruneEvery, Retain)
      (trades, candles)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A delivery list with a seeded share of redeliveries of `recent` ticks. */
  private def withRedeliveries(fresh: Seq[Tick], recent: IndexedSeq[Tick],
      rng: scala.util.Random): Seq[Tick] = {
    val n = (0 until fresh.length).count(_ => rng.nextDouble() < RedeliverShare)
    fresh ++ Seq.fill(if (recent.isEmpty) 0 else n)(recent(rng.nextInt(recent.length)))
  }

  def run(h: Harness, seconds: Double, seed: Long): Unit = {
    val spark = h.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = new java.io.File(h.out).getAbsolutePath
    System.setProperty("derby.system.home", s"$root/derby")

    val ticks: Array[Tick] = h.setup("fixtures.load") {
      Fixtures.ticks(spark, h.dir).selectExpr(
        "secid AS secId", "sec_code AS secCode", "ts", "time",
        "last", "open", "quantity", "tick_no AS tickNo")
        .as[Tick].collect().sortBy(t => (t.ts.getTime, t.tickNo))
    }
    val perSend = RatePerSec / SendsPerSec
    val nSends = math.ceil(seconds * SendsPerSec).toInt
    val need = BacklogTicks + nSends * perSend + WarmTicks
    require(ticks.length >= need,
      s"ingest needs $need ticks, the input has ${ticks.length}")

    // the replay: backlog, then the live sends, each with redeliveries
    val rng = new scala.util.Random(seed)
    val backlog = withRedeliveries(ticks.take(BacklogTicks).toSeq,
      ticks.take(BacklogTicks).toIndexedSeq, rng)
    val sends = (0 until nSends).map { i =>
      val from = BacklogTicks + i * perSend
      val fresh = ticks.slice(from, from + perSend).toSeq
      (fresh, withRedeliveries(fresh, ticks.slice(math.max(0, from - RedeliverWindow), from).toIndexedSeq, rng))
    }

    val listener = new StreamListener
    spark.streams.addListener(listener)

    // warm-up: the same chains on their own store over the last ticks
    h.setup("warmup") {
      val url = s"jdbc:derby:$root/derby/warm;create=true"
      createStore(url)
      val wire = new Wire
      val (a, b) = startChains(spark, wire, url, s"$root/ck/warm")
      try ticks.takeRight(WarmTicks).grouped(1000).foreach { g =>
        wire.send(g.toSeq); a.processAllAvailable(); b.processAllAvailable()
      } finally { a.stop(); b.stop() }
      // the warm-up's few batches stay below the sinks' prune threshold,
      // so the prune statement is warmed here
      Sinks.pruneEpochLedger(url, props(), "trades", 1)
    }

    val url = s"jdbc:derby:$root/derby/store;create=true"
    h.setup("store")(createStore(url))
    // a traced run times the sinks' ledger prunes through their connection
    val sinkUrl = if (h.tracer.on) TimedJdbc.url(url) else url

    val wire = new Wire
    val backlogOffset = wire.send(backlog)

    // phase 1: catch-up
    h.startTimed()
    val catchStart = Clock.nowMs
    val (qTrades, qCandles) = startChains(spark, wire, sinkUrl, s"$root/ck/store")
    val ids = Seq(qTrades.id.toString, qCandles.id.toString)
    def bothCommitted(off: Long): Boolean = ids.forall(listener.committed(_) >= off)
    def await(off: Long, timeoutMs: Double): Boolean = {
      val deadline = Clock.nowMs + timeoutMs
      while (!bothCommitted(off) && Clock.nowMs < deadline &&
          qTrades.isActive && qCandles.isActive)
        Thread.sleep(2)
      bothCommitted(off)
    }
    val caughtUp = await(backlogOffset, 60000)
    val catchCommit = ids.map(id => listener.of(id)
      .filter(_("end_offset").asInstanceOf[Long] >= backlogOffset)
      .map(_("commit_ms").asInstanceOf[Double]).foldLeft(Double.PositiveInfinity)(math.min)).max
    h.ops += Map("id" -> "catchup", "kind" -> "catchup", "name" -> "backlog",
      "start" -> catchStart, "ms" -> (catchCommit - catchStart), "ok" -> caughtUp,
      "error" -> (if (caughtUp) "" else "backlog not committed"), "memo_builds" -> 0,
      "rows" -> backlog.length)
    h.units += (if (caughtUp) catchCommit - catchStart else Double.NaN)

    // phase 2: live, open loop
    val periodMs = 1000.0 / SendsPerSec
    val sent = new Array[Map[String, Any]](nSends)
    val liveStart = Clock.nowMs + 20
    val gen = new Thread(() => {
      var i = 0
      while (i < nSends) {
        val due = liveStart + i * periodMs
        var now = Clock.nowMs
        while (now < due) {
          LockSupport.parkNanos(((due - now) * 1e6).toLong.max(1000L))
          now = Clock.nowMs
        }
        val (fresh, delivered) = sends(i)
        val off = wire.send(delivered)
        sent(i) = Map("sched_ms" -> due, "sent_ms" -> now, "offset" -> off,
          "rows" -> delivered.length, "fresh" -> fresh.length)
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // a send still uncommitted after this fails in run.py's freshness
    await(sent.last("offset").asInstanceOf[Long], 60000)
    h.endTimed()
    qTrades.stop(); qCandles.stop()

    // checks: every first delivery stored exactly once, candles equal the
    // batch builder over the same ticks, ledgers bounded by pruning
    val stored = query(url, """SELECT "tickNo" FROM bench_trades""")(_.getLong(1)).toArray
    val storedSet = stored.toSet
    val firsts = ticks.take(BacklogTicks) ++ sends.flatMap(_._1)
    h.check("trades.exactly_once", stored.length == storedSet.size &&
      storedSet == firsts.map(_.tickNo).toSet,
      s"${stored.length} rows, ${storedSet.size} distinct, ${firsts.length} sent")
    val visible = sends.map { case (fresh, _) => fresh.forall(t => storedSet.contains(t.tickNo)) }
    sent.indices.foreach { i =>
      h.ops += Map("id" -> s"send:$i", "kind" -> "send", "name" -> "send",
        "start" -> sent(i)("sched_ms"), "ms" -> 0.0,
        "ok" -> visible(i), "error" -> (if (visible(i)) "" else "not visible"),
        "memo_builds" -> 0)
    }
    val expected = CandleStream.candlesBatch(spark.createDataset(firsts.toSeq), Day)
      .collect().map(_.toString).sorted
    val gotCandles = spark.read.jdbc(url, "bench_candles", props()).as[Candle]
      .collect().map(_.toString).sorted
    h.check("candles.equal_batch", expected.sameElements(gotCandles),
      s"${gotCandles.length} stored, ${expected.length} expected; missing " +
        expected.diff(gotCandles).take(3).mkString(" ") + "; extra " +
        gotCandles.diff(expected).take(3).mkString(" "))
    val ledger = query(url,
      s"""SELECT "sink_id", COUNT(*) FROM ${Sinks.EpochLedgerTable} GROUP BY "sink_id"""")(
      rs => rs.getString(1) -> rs.getLong(2)).toMap
    val bound = (Retain + 2 * PruneEvery) * 2
    SinkTables.foreach { case (sink, _) =>
      h.check(s"ledger.$sink.bounded", ledger.getOrElse(sink, 0L) <= bound,
        s"${ledger.getOrElse(sink, 0L)} rows, bound $bound")
    }
    val tables = SinkTables.map { case (sink, table) =>
      // a candle's date is today's date plus the minute, so only whole
      // identical rows are duplicates
      val key = if (sink == "trades") "\"tickNo\"" else "*"
      val Seq((rows, distinct)) = query(url,
        s"SELECT (SELECT COUNT(*) FROM $table), (SELECT COUNT(*) FROM (SELECT DISTINCT $key FROM $table) d) FROM SYSIBM.SYSDUMMY1")(
        rs => (rs.getLong(1), rs.getLong(2)))
      sink -> Map("rows" -> rows, "dup_rows" -> (rows - distinct),
        "ledger_rows" -> ledger.getOrElse(sink, 0L))
    }.toMap

    h.extra("sends") = sent.toSeq
    h.extra("queries") = Map(ids(0) -> "dedup", ids(1) -> "candles")
    h.extra("batches") = ids.map(id => id -> listener.of(id)).toMap
    h.extra("prunes") = if (h.tracer.on) TimedJdbc.prunes.toArray.toSeq else Seq.empty
    h.extra("tables") = tables
    h.extra("rate_per_s") = RatePerSec
    h.extra("backlog_rows") = backlog.length
  }
}
