package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.fixtures.Fixtures

/** The benchmark harness. Drives the engine only through its public
  * functions (SparkEntry.queries, Fixtures, the streaming builders and the
  * JDBC sinks) and Spark's listener APIs, and writes raw samples to
  * `<out>/result.json`; `run.py` turns them into metrics.
  *
  * Usage: Main <workload> <dataDir> <outDir> <seconds> <seed> <trace 0|1> <t0EpochMs>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, seconds, seed, trace, t0) = args
    val h = new Harness(session(out, workload), data, out, trace == "1", t0.toDouble)
    val code =
      try {
        workload match {
          case "panels" => Panels.run(h, seconds.toDouble, seed.toLong)
          case "ingest" => Ingest.run(h, seconds.toDouble, seed.toLong)
          case "curation" => Curation.run(h, seconds.toDouble, seed.toLong)
          case other => throw new IllegalArgumentException(s"unknown workload '$other'")
        }
        h.write(s"$out/result.json")
        0
      } catch {
        case e: MissingEntries =>
          System.err.println(s"[perfbench] ${e.getMessage}")
          3
      } finally h.spark.stop()
    sys.exit(code)
  }

  def session(out: String, workload: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.minBatchesToRetain", Ingest.Retain.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

final class MissingEntries(names: Seq[String]) extends RuntimeException(
  s"workload entries missing from SparkEntry.queries: ${names.mkString(", ")}")

/** Shared run state: ops, checks, spans, listener data, and the timed
  * phase's boundaries. */
final class Harness(val spark: SparkSession, val dir: String, val out: String,
    traceOn: Boolean, t0EpochMs: Double) {
  val tracer = new Tracer(traceOn)
  val exec: Option[ExecListener] =
    if (traceOn) Some(new ExecListener) else None
  exec.foreach(l => spark.sparkContext.addSparkListener(l))

  val ops = ArrayBuffer.empty[Map[String, Any]]
  val units = ArrayBuffer.empty[Double]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var timedStart = Double.NaN
  private var timedEnd = Double.NaN
  private var gcAtStart = 0L
  private var residentMb = 0.0
  private var gcMs = 0.0
  private var heapPeakMb = 0.0

  private val entries = SparkEntry.queries

  /** Inventory guard: every named entry must be registered. */
  def requireEntries(names: Seq[String]): Unit = {
    val missing = names.filterNot(entries.contains)
    if (missing.nonEmpty) throw new MissingEntries(missing)
  }

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Setup ends and the timed phase begins. */
  def startTimed(): Unit = {
    gcAtStart = gcTotal
    heapPools.foreach(_.resetPeakUsage())
    timedStart = Clock.nowMs
  }

  /** The timed phase ends: sample residency, GC and heap peak. */
  def endTimed(): Unit = {
    timedEnd = Clock.nowMs
    gcMs = (gcTotal - gcAtStart).toDouble
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    residentMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
    ok
  }

  /** Time one registered entry: the builder call plus fetching its rows.
    * Returns the rows and schema; throws what the entry throws. */
  def runEntry(op: String, name: String): (Array[Row], StructType) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.OpKey, op)
    try {
      sc.setLocalProperty(ExecListener.PhaseKey, "build")
      val df = tracer.span(op, "queries.build")(entries(name)(spark, dir))
      sc.setLocalProperty(ExecListener.PhaseKey, "exec")
      val rows = tracer.span(op, "spark.exec")(df.collect())
      if (tracer.on)
        for ((phase, s) <- df.queryExecution.tracker.phases)
          tracer.add(op, -1, s"spark.plan.$phase",
            Clock.fromEpochMs(s.startTimeMs.toDouble), Clock.fromEpochMs(s.endTimeMs.toDouble))
      (rows, df.schema)
    } finally {
      sc.setLocalProperty(ExecListener.OpKey, null)
      sc.setLocalProperty(ExecListener.PhaseKey, null)
    }
  }

  /** One timed operation: wall time of `body`, failures recorded (thrown
    * error, or `verify` returning false). */
  def op[T](kind: String, name: String)(body: String => T)(verify: T => Boolean): Option[T] = {
    val id = s"$kind:$name:${ops.size}"
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val start = Clock.nowMs
    val result =
      try Right(tracer.span(id, s"$kind.$name")(body(id)))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = Clock.nowMs - start
    val builds = (spark.sparkContext.getPersistentRDDs.keySet -- persisted).size
    val (ok, err) = result match {
      case Right(v) =>
        if (verify(v)) (true, "") else (false, "output mismatch")
      case Left(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!ok) System.err.println(s"[perfbench] $kind $name failed: $err")
    ops += Map("id" -> id, "kind" -> kind, "name" -> name, "start" -> start,
      "ms" -> ms, "ok" -> ok, "error" -> err, "memo_builds" -> builds)
    result.toOption
  }

  /** A setup step, as a span of the "setup" op when tracing. */
  def setup[T](name: String)(body: => T): T = {
    val start = Clock.nowMs
    val r = tracer.span("setup", name)(body)
    extra(s"setup.$name") = Clock.nowMs - start
    r
  }

  /** Order-independent digest of a result: sorted row strings, hashed. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write rows as parquet for the DuckDB twin comparison. */
  def dump(name: String, rows: Array[Row], schema: StructType): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/dumps/$name")

  def write(path: String): Unit = {
    exec.foreach(_.drain(spark))
    val setupS = (Clock.toEpochMs(timedStart) - t0EpochMs) / 1000.0
    val res = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "timed_ms" -> (timedEnd - timedStart),
      "resident_mb" -> residentMb, "gc_ms" -> gcMs, "heap_peak_mb" -> heapPeakMb,
      "cores" -> spark.sparkContext.defaultParallelism,
      "ops" -> ops, "units" -> units, "checks" -> checks,
      "oracle" -> SparkEntry.oracleSql.filter { case (k, _) =>
        ops.exists(_("name") == k) },
      "spans" -> tracer.all.map(_.toMap))
    res ++= extra
    exec.foreach { l =>
      res("jobs") = l.jobs.asScala.map { case (id, j) =>
        Map("id" -> id, "owner" -> j.owner, "phase" -> j.phase, "start" -> j.start,
          "end" -> j.end, "result_stage" -> Option(l.stageTimes.get(j.resultStage))
            .map { case (a, b) => Seq(a, b) }.orNull)
      }
      res("counters") = l.counters.asScala.map { case (k, c) => k -> c.toMap }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(res))
  }
}

/** `panels`: one closed-loop client refreshing the 22 dashboard queries
  * over the resident trade store, in a seeded order per refresh. */
object Panels {
  val Names: Seq[String] = Seq(
    "q01_netto_buy_topk", "q02_netto_buy_union", "q03_netto_sell_union",
    "q04_icebergs", "q05_net_vol_interval", "q06_net_vol_interval_yday",
    "q07_buy_turnover_interval", "q08_sell_turnover_interval",
    "q09_buy_lots_by_time", "q10_sell_lots_by_time", "q11_buy_count_by_time",
    "q12_sell_count_by_time", "q13_imoex_net_interval",
    "q14_imoex_net_interval_yday", "q15_imoex_turnover_b",
    "q16_imoex_turnover_s", "q17_etf_turnover_b", "q18_etf_turnover_s",
    "q19_imoex_turnover_by_time_b", "q20_imoex_turnover_by_time_s",
    "q21_sec_codes", "q22_etf_codes")

  /** Run each panel once from `threads` clients, keeping its digest as the
    * reference and dumping its rows for the DuckDB twin check. */
  private def warm(h: Harness, threads: Int): Map[String, String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = Names.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            val (rows, schema) = h.runEntry(s"warm:$n", n)
            h.dump(n, rows, schema)
            h.digest(rows)
          }
        })
      }
      futures.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdownNow()
  }

  def run(h: Harness, seconds: Double, seed: Long): Unit = {
    h.requireEntries(Names)
    h.setup("fixtures.load") {
      Fixtures.trades(h.spark, h.dir).count()
      Fixtures.securities(h.spark, h.dir).count()
    }
    val reference = h.setup("warmup")(warm(h, 4))
    val rng = new scala.util.Random(seed)
    h.startTimed()
    val start = Clock.nowMs
    while (h.units.isEmpty || Clock.nowMs - start < seconds * 1000) {
      val walls = rng.shuffle(Names).map { n =>
        val before = h.ops.size
        h.op("panel", n)(id => h.runEntry(id, n)._1)(rows => h.digest(rows) == reference(n))
        h.ops(before)("ms").asInstanceOf[Double]
      }
      h.units += walls.sum
    }
    h.endTimed()
  }
}

/** `curation`: the fixed 18-stage LLM curation chain, once per run from an
  * empty working set in a fresh session. */
object Curation {
  val Stages: Seq[String] = Seq(
    "llm_html_extract", "llm_lang_id", "llm_quality_score", "llm_pii_scrub",
    "llm_repetition", "llm_exact_dedup", "llm_minhash_lsh",
    "llm_simhash_neardup", "llm_semdedup", "llm_embed_neardup",
    "llm_bpe_apply", "llm_token_count", "llm_kn_lm_score", "llm_seq_pack",
    "llm_ann_ivf_trained", "llm_ann_pq", "mm_image_meta_real",
    "mm_audio_meta_real")

  def run(h: Harness, seconds: Double, seed: Long): Unit = {
    h.requireEntries(Stages)
    h.startTimed()
    val clearStart = Clock.nowMs
    h.tracer.span("clear", "fixtures.clear")(Fixtures.clearDerivedCache(h.spark))
    h.extra("clear_ms") = Clock.nowMs - clearStart
    val results = Stages.flatMap { s =>
      h.op("stage", s)(id => h.runEntry(id, s))(_ => true).map(s -> _)
    }
    h.units += h.ops.map(_("ms").asInstanceOf[Double]).sum
    h.endTimed()
    // every stage's rows go to the DuckDB twin check in run.py
    results.foreach { case (s, (rows, schema)) => h.dump(s, rows, schema) }
  }
}
