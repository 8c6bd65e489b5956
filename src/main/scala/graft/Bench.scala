package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  * "cold_total":N,"cold_queries":{...},"sf":...}`.
  *
  * Methodology (round 2):
  *   - a WARMUP pass runs every query once at the TARGET SF first: JIT/
  *     codegen/classloading costs don't pollute the first timed queries
  *     (round-1 q01 showed 11 s of pure warmup), and the memoized base
  *     tables materialize — matching the reference, whose dashboard
  *     queries hit an already-loaded ClickHouse table;
  *   - the timed pass executes with a `noop` sink — unlike `count()`, this
  *     cannot let the optimizer drop ORDER BY stages, so sorts are paid;
  *   - warm time per query = MIN of two timed reps taken back-to-back
  *     (round 7; round 6's min over two full passes put ~104 other
  *     entries' cache churn between a key's reps and produced warm > cold
  *     inversions — PERF_NOTES.md round 7);
  *   - failures are reported in an `errors` map and EXCLUDED from totals
  *     instead of masquerading as fast runs (round-1 advice);
  *   - an AMBIENT-DRIFT CANARY (round 16, r14 verdict item 2): a fixed
  *     cheap key (q21_sec_codes) runs FULLY COLD every 15 keys in both
  *     lanes — identical work per sample, so the committed series +
  *     drift factor (median/min) lets a reader attribute a band move to
  *     the machine vs the code without a second run;
  *   - a `streaming` section reports rows/s through both streaming candle
  *     ports plus the doc-curation gate and the JDBC sink (rounds 7-8),
  *     each with a per-micro-batch duration breakdown from
  *     `StreamingQueryProgress` so a throughput move is attributable to
  *     processing vs state-store commit (round-8, r7 verdict item 4);
  *   - warm > cold + ε keys are SELF-HEALING (round 8, r7 verdict item
  *     2): every round-6/7 inversion that was probed turned out to be a
  *     measurement artifact (cross-pass cache churn, GC/scheduler pauses
  *     on a shared machine), so a flagged key is automatically re-run
  *     with one extra cache-cleared adjacent rep pair and the overall
  *     min is reported. Keys that heal move to a `reprobes` map (original
  *     value preserved for accountability); keys still inverted after
  *     the extra pair stay flagged in `inversions` with
  *     `"reprobed":true` — a persistent entry there is now a REAL
  *     anomaly, not measurement luck.
  *
  * Cold lane (round 3): a second timed pass with ALL caches dropped
  * before each query (memoized derived tables + Spark's plan-keyed block
  * cache), so every query pays its full scan/derivation path. It runs
  * after the warm lane, so JIT/codegen are warm: cold−warm isolates the
  * DATA path, which is where layout/pruning work shows up. Round 8 (r7
  * verdict item 5): cold is the MIN of two fully-cold reps (cache clear
  * before EACH), mirroring the warm lane's adjacent min-of-2 — the
  * single-shot cold lane carried a measured ±30% spread (PERF_NOTES.md
  * round 7, qx_asof_custom) that absorbed 0.5–1 s moves on 2 s keys;
  * min-of-2 keeps the lane honest (each rep pays the full derivation)
  * while halving the band.
  * The warm total remains the headline `value` (the reference comparison
  * is a loaded ClickHouse); the cold numbers ride along as `cold_*`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-bench token budget for warm passes (round 13, r12 verdict item
    // 1): SPARK_GRAFT_WARM_PASSES=3 runs the FULL warm lane three times
    // back-to-back in one session and reports min-of-passes per key plus
    // each key's cross-pass spread — the measured variance bound that
    // separates a code regression from shared-machine noise. Default 1
    // keeps the driver's per-round bench at its usual cost.
    val warmPasses = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "1").toInt)
    val spark = GraftSession.local()
    // the streaming breakdown sums recentProgress, a ring buffer whose
    // DEFAULT cap (100) silently drops the earliest micro-batches once
    // a lane exceeds it (sf1's doc-gate replay is ~190 batches) — the
    // per-batch sums would then cover half the run while rows_per_sec
    // covers all of it (round-8 review finding); size it to any lane
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark.sparkContext.setLogLevel("WARN")

    // ---- WARN-clean tail, ASSERTED (round 13, r12 verdict item 3) ----
    // "A warning means something changed" is only a signal if the tail is
    // clean AND a new WARN class is flagged. Two pieces:
    //  - a capture appender on the root logger records every WARN event,
    //    attributed to the query running at the time;
    //  - the console appenders get a DENY filter for the ONE expected
    //    WARN class — WindowExec's "No Partition Defined", emitted by the
    //    two DELIBERATE bounded serial steps (EventQueries' timeline-bound
    //    30-min-bucket prefix; the ~√N block-prefix of seq_pack/pack_spans)
    //    — so the tail stays clean while the capture still sees everything.
    // Any (WARN class, query) pair OUTSIDE the expected set is reported
    // loudly on stderr, in the full artifact's `unexpected_warns` map, and
    // in the compact line's `n_unexpected_warn_classes` counter — a
    // nonzero count is the "something changed" signal.
    val currentKeyRef = new java.util.concurrent.atomic.AtomicReference[String]("startup")
    // WARN attribution races the key handoff (round 14 advice): an event
    // from an executor/streaming thread can land AFTER currentKey advanced
    // to the next entry, mis-attributing a whitelisted unpartitioned-window
    // WARN to its alphabetical neighbor — a flaky false alarm in the
    // asserted tail. Keep the PREVIOUS key too and accept either
    // attribution for the per-key-gated class (still far narrower than
    // whitelisting the class on message alone: only the adjacent key can
    // absorb a stray event).
    val previousKeyRef = new java.util.concurrent.atomic.AtomicReference[String]("startup")
    object currentKey {
      def set(n: String): Unit = previousKeyRef.set(currentKeyRef.getAndSet(n))
      def get(): String = currentKeyRef.get()
    }
    val warnCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val UnpartitionedWindowMsg = "No Partition Defined for Window operation"
    // The adjudicated BOUNDED serial steps (each with a source comment
    // arguing the bound): the unpartitioned window is deliberate and its
    // input is sub-linear in the corpus —
    //   evt_session_concurrency: one row per 30-min bucket (timeline-bound)
    //   llm_seq_pack / llm_pack_spans: ~√N block totals (corpus-balanced)
    //   llm_lang_classify: class-id numbering over DISTINCT languages
    val expectedUnpartitioned = Set(
      "evt_session_concurrency", "llm_seq_pack", "llm_pack_spans",
      "llm_lang_classify")
    // Benign ambient classes, each adjudicated (round 13 — the first
    // asserted run surfaced them; all pre-existing and structural):
    //   Broadcasting large task binary — informational plan-size note
    //     (big literal plans: dialect rawSql, BPE merge tables, IVF
    //     codebooks); plan-size regressions are watched by bench time +
    //     ScaleShapeSpec, not this warning
    //   Asked to cache already cached data — the CC fence()/memo reuse
    //   AQE-on-streaming notes — logged once per streaming query in an
    //     AQE session; structural to mixed batch+stream sessions
    //   Cannot find active jobs / TaskKilled (Stage cancelled —
    //     job-group cleanup after q.stop() and the DELIBERATE supervised
    //     kills (a19/e2e restart lineages)
    //   injected transient wire fault — the armed fault itself
    //   Block already exists / Error deleting blockmgr temp — storage
    //     races: a cached partition recomputed by two tasks, and shuffle
    //     temp cleanup overlapping the a19 DELIBERATE stream kill
    //   Truncated the string representation of a plan — plan-print
    //     truncation notice (wide 28-col parses), display-only
    val benignWarnClasses = Seq(
      "Broadcasting large task binary",
      "Asked to cache already cached data",
      "spark.sql.adaptive.enabled is not supported in streaming",
      "Disabling AQE since AQE is not supported in stateful",
      "Cannot find active jobs",
      "TaskKilled (Stage cancelled",
      "injected transient wire fault",
      "already exists on this machine; not re-adding it",
      "/blockmgr-",
      "Truncated the string representation of a plan",
      // round 15: entry-internal localCheckpoint frames (the plan-
      // truncation optimization — OPTIMIZATION_r15.md) are deliberately
      // DROPPED by clearDerivedCache's blocking unpersist between keys;
      // Spark warns that a truncated-lineage RDD cannot be recomputed
      // after unpersisting, which is exactly the intent (the next rep
      // rebuilds its own checkpoints from the entry fn) — nothing ever
      // references the dropped RDD again, so the class is benign with a
      // known cause, not a whitelisted mystery
      "was locally checkpointed, its lineage has been truncated")
    def isExpectedWarn(qKey: String, prevKey: String, msg: String): Boolean =
      (msg.contains(UnpartitionedWindowMsg) &&
        (expectedUnpartitioned(qKey) || expectedUnpartitioned(prevKey))) ||
        benignWarnClasses.exists(msg.contains)
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val rootCfg = ctx.getConfiguration.getRootLogger
      val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graftWarnCapture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(event: LogEvent): Unit =
          if (event.getLevel == Level.WARN) {
            val msg = Option(event.getMessage).map(_.getFormattedMessage).getOrElse("")
            val k = currentKey.get()
            if (!isExpectedWarn(k, previousKeyRef.get(), msg)) {
              val cls = msg.replaceAll("\\s+", " ").take(100)
              warnCounts.merge(s"$k :: ${event.getLoggerName} :: $cls", 1L,
                (a, b) => a + b)
            }
          }
      }
      capture.start()
      val deny = new org.apache.logging.log4j.core.filter.AbstractFilter() {
        override def filter(event: LogEvent): Filter.Result =
          if (Option(event.getMessage).map(_.getFormattedMessage)
              .exists(_.contains(UnpartitionedWindowMsg))) Filter.Result.DENY
          else Filter.Result.NEUTRAL
      }
      import scala.jdk.CollectionConverters._
      val existing = rootCfg.getAppenders.asScala.toMap
      existing.foreach { case (name, app) =>
        rootCfg.removeAppender(name)
        rootCfg.addAppender(app, null, deny)
      }
      rootCfg.addAppender(capture, Level.WARN, null)
      ctx.updateLoggers()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARN-capture setup failed (tail not " +
        s"asserted this run): ${e.getMessage}")
    }

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted

    // warmup at the target SF (JIT + codegen + base-table materialization)
    names.foreach { n =>
      currentKey.set(n)
      try exec(SparkEntry.queries(n), sfDir)
      catch { case _: Throwable => () }
    }

    // Warm lane is the MIN of two timed reps taken BACK-TO-BACK per key
    // (round 7). Round 6 took the min over two full PASSES, so an entry's
    // two reps were separated by ~104 other entries' cache traffic — block
    // eviction + GC between reps inflated "warm" for cache-heavy keys to
    // the point of warm > cold inversions (r6 verdict item 3; PERF_NOTES.md
    // round 7 shows llm_semdedup at 2.59 s pass-min vs 0.85 s adjacent-rep
    // steady state). Adjacent reps measure what "warm" claims: the
    // steady-state cost of THIS query with its own working set resident.
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // ---- Ambient-drift canary (round 16, r14 verdict item 2) ----
    // The r14 driver artifact landed 30% outside the committed machine
    // band with untouched keys regressing 5x, and carried no internal
    // evidence to attribute machine vs code. Interleave a fixed cheap
    // key (q21_sec_codes) every CanaryEvery keys in both lanes, each
    // sample taken FULLY COLD (cache clear before AND after) so every
    // sample performs identical work — parquet scan + distinct + sort —
    // and the series reads as a machine-speed trace across the run. The
    // surrounding clear also restores the per-key protocol exactly (the
    // next key still starts from a clean clear). Committed in
    // BENCH_FULL as the sample series plus a derived drift factor
    // (median/min — how far above its own best the machine ran); the
    // canary median is the cross-round normalizer the verdict protocol
    // reads deltas against. Canary samples never enter any total.
    val CanaryKey = "q21_sec_codes"
    val CanaryEvery = 15
    val canarySamples = scala.collection.mutable.ArrayBuffer[Double]()
    var canaryFailed = 0
    def canarySample(): Unit = try {
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      currentKey.set("canary")
      val t0 = System.nanoTime()
      exec(SparkEntry.queries(CanaryKey), sfDir)
      canarySamples += (System.nanoTime() - t0) / 1e9
      graft.fixtures.Fixtures.clearDerivedCache(spark)
    } catch { case scala.util.control.NonFatal(e) =>
      // a failed sample never enters the series, but it is counted and
      // reported: a silently thinner series would skew the drift factor
      canaryFailed += 1
      System.err.println(s"[bench] canary sample failed: ${e.getMessage}")
    }
    // per-key value from EACH full pass (min-of-2 adjacent reps) — with
    // SPARK_GRAFT_WARM_PASSES > 1 the min across passes is the headline
    // and the cross-pass spread is the committed variance bound
    val passVals = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    for (pass <- 1 to warmPasses; (n, i) <- names.zipWithIndex) {
      if (i % CanaryEvery == 0) canarySample()
      // Isolate keys from each other (round 7, second iteration): adjacent
      // reps fixed the CROSS-PASS pollution, but entries that internally
      // .cache() working sets (the LSH signature/int-set tables, the CC
      // pair streams) leave them resident for every key that happens to
      // run later in the alphabet — at 117 entries the accumulated blocks
      // put map-side-only keys (pii_scrub, quality_score, repetition) at
      // 3–6× their cold time from GC alone. Clear before each key's rep
      // pair: rep 1 rebuilds THIS entry's own working set, rep 2 measures
      // its steady state — which is what the warm lane claims to report.
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      currentKey.set(n)
      try {
        val reps = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          exec(SparkEntry.queries(n), sfDir)
          (System.nanoTime() - t0) / 1e9
        }
        passVals.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer())
          .append(reps.min)
      } catch {
        case e: Throwable =>
          // a rep that fails stays an error, never a time: an intermittent
          // failure must not enter the warm total ("failures masquerading
          // as fast runs", round-1 note above)
          errors(n) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          passVals.remove(n)
      }
    }
    for ((n, vs) <- passVals if !errors.contains(n)) times(n) = vs.min

    // cold lane: JIT-warm, data-cold — min of two reps, caches dropped
    // before EACH rep so both pay the full scan/derivation path (round 8)
    val coldTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.zipWithIndex.foreach { case (n, i) =>
      if (i % CanaryEvery == 0) canarySample()
      currentKey.set(n)
      try {
        val reps = (1 to 2).map { _ =>
          graft.fixtures.Fixtures.clearDerivedCache(spark)
          val t0 = System.nanoTime()
          exec(SparkEntry.queries(n), sfDir)
          (System.nanoTime() - t0) / 1e9
        }
        coldTimes(n) = reps.min
      } catch {
        case e: Throwable =>
          // a COLD-ONLY failure (query passed warm, failed with caches
          // dropped) is its own bug class — the round-7 memoizer crash
          // hid exactly here behind an "already reported" assumption.
          // Record it; never let the key silently vanish from cold_*.
          if (!errors.contains(n))
            errors(s"$n (cold)") =
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }

    // Streaming-throughput lane (round 7, r6 verdict item 7): the
    // reference is a streaming ETL (process.go:15-173), but the bench
    // measured only batch. Feed the tick fixture through MemoryStream in
    // wire order in fixed micro-batches and time both streaming ports
    // end-to-end — the exact keyed state machine (flatMapGroupsWithState)
    // and the watermarked window aggregation. rows/s covers the timed
    // batches only (the first batch is excluded: sink + state-store
    // setup). Failures degrade to an "error" field, never fail the bench.
    // All streaming checkpoints live under ONE temp root deleted at the
    // end of the lane (round-8 ADVICE: bench_ck dirs accumulated per run),
    // and every query is stopped in a finally so a mid-measurement failure
    // can no longer leave a stream running until JVM exit.
    // Lane sanity (round 7, r6 verdict item 3): warm is the same work as
    // cold minus scan/derivation, so warm > cold + ε means the measurement
    // itself is suspect (cache eviction between a key's reps, GC luck).
    // ε absorbs benign jitter on sub-second keys.
    def inverted(w: Double, c: Double): Boolean = w > c + math.max(0.25, 0.15 * c)
    // Self-healing (round 8, r7 verdict item 2): every probed inversion so
    // far (the r6 four, the r7 BPE pair, the r7 q04/lm_score pair —
    // PERF_NOTES.md round 8) was a measurement artifact — a pause spanning BOTH adjacent
    // reps on a shared machine. So instead of flag-and-probe-next-round,
    // give a flagged key one extra cache-cleared adjacent rep pair NOW and
    // report the overall min. Healed keys keep their original value in a
    // `reprobes` map for accountability; a key still inverted after four
    // reps is a real anomaly and stays in `inversions` as reprobed.
    // MOVED before the streaming lane (round 14, r13 verdict item 2): the
    // reprobe used to run LAST, after the streaming section had left its
    // residue in the JVM (state-store maintenance threads, stopped-query
    // teardown, the collected replay arrays' GC debt) — so a flagged key's
    // second chance ran in a strictly worse environment than the cold reps
    // it was compared against, and borderline keys could never heal. The
    // reprobe now runs in the SAME environment as the cold lane it is
    // checked against.
    val firstPass = times.collect {
      case (n, w) if coldTimes.get(n).exists(c => inverted(w, c)) => n -> w
    }
    val reprobes = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    for ((n, w0) <- firstPass) {
      currentKey.set(n)
      try {
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val reps = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          exec(SparkEntry.queries(n), sfDir)
          (System.nanoTime() - t0) / 1e9
        }
        val healed = math.min(w0, reps.min)
        times(n) = healed
        reprobes(n) = (w0, healed)
      } catch { case _: Throwable => () } // keep the original flag on failure
    }
    val inversions = times.collect {
      case (n, w) if coldTimes.get(n).exists(c => inverted(w, c)) =>
        n -> (w, coldTimes(n))
    }
    if (inversions.nonEmpty)
      System.err.println(s"[bench] warm>cold inversions PERSISTING after reprobe: " +
        inversions.map { case (n, (w, c)) => f"$n w=$w%.2f c=$c%.2f" }.mkString(", "))
    if (reprobes.nonEmpty)
      System.err.println(s"[bench] reprobed flagged keys: " +
        reprobes.map { case (n, (w0, w1)) => f"$n $w0%.2f->$w1%.2f" }.mkString(", "))

    val ckRoot = java.nio.file.Files.createTempDirectory("bench_ck")
    currentKey.set("streaming")
    val streamingJson: String = try {
      import org.apache.spark.sql.{DataFrame, Dataset}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.StreamingQuery
      import graft.schema.Tick
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val tickRows = graft.fixtures.Fixtures.ticks(spark, sfDir).selectExpr(
        "secid AS secId", "sec_code AS secCode", "ts", "time", "last",
        "open", "quantity", "tick_no AS tickNo").as[Tick]
        .collect().sortBy(t => (t.ts.getTime, t.tickNo))
      val batchSize = 50000
      val batches = tickRows.grouped(batchSize).toSeq
      // MemoryStream ships each task's slice of the micro-batch inside
      // the task closure; an unpartitioned 50 k-row batch traveled as ONE
      // ~5 MB task (the TaskSetManager warnings that polluted every
      // artifact tail through r9 — r9 verdict item 3). Splitting the
      // source into fixed partitions caps the closure at batch/N rows;
      // ordering is unaffected (the state machine re-sorts per group
      // within the micro-batch, aggregations are order-free).
      val SourceParts = 16

      // Per-micro-batch duration breakdown (round 8, r7 verdict item 4):
      // sum StreamingQueryProgress.durationMs over the TIMED batches only
      // (batchId > the untimed setup batch), so a throughput number is
      // attributable — `add_batch_ms` is the actual processing,
      // `state_commit_ms` is the state-store checkpoint cost,
      // `offset_log_ms` is the per-batch WAL fsync floor.
      def breakdown(q: StreamingQuery, afterBatch: Long, rps: Long): String = {
        val ps = q.recentProgress.filter(_.batchId > afterBatch)
        def dur(k: String) = ps.map(p =>
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
        val ops = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        val stateRows = ps.lastOption.flatMap(p =>
          Option(p.stateOperators).flatMap(_.headOption)).map(_.numRowsTotal).getOrElse(0L)
        s"""{"rows_per_sec":$rps,"batches":${ps.length},""" +
          s""""trigger_ms":${dur("triggerExecution")},"add_batch_ms":${dur("addBatch")},""" +
          s""""offset_log_ms":${dur("latestOffset") + dur("walCommit") + dur("commitOffsets")},""" +
          s""""planning_ms":${dur("queryPlanning")},""" +
          s""""state_commit_ms":${ops.map(_.commitTimeMs).sum},""" +
          s""""state_update_ms":${ops.map(_.allUpdatesTimeMs).sum},""" +
          s""""state_eviction_ms":${ops.map(_.allRemovalsTimeMs).sum},""" +
          s""""state_rows":$stateRows,""" +
          s""""state_mem_mb":${ops.lastOption.map(_.memoryUsedBytes / 1048576).getOrElse(0L)},""" +
          // state size ON DISK (r9 verdict item 8 — the byte number behind
          // the bounded-state dedup claim): RocksDB lanes report the SST
          // footprint via the provider's custom metric (raw bytes — at
          // fixture state sizes a whole SST is under a megabyte); heap
          // lanes have no disk residence and report 0 (their byte number
          // is state_mem_mb)
          s""""state_disk_bytes":${
            ps.lastOption.flatMap(p => Option(p.stateOperators)).toSeq.flatten
              .map(o => Option(o.customMetrics.get("rocksdbSstFileSize"))
                .map(_.longValue).getOrElse(0L)).sum}}"""
      }

      // Min-of-2 for the headline streaming lanes (round 11, r10 verdict
      // item 4): the warm/cold query lanes take adjacent min-of-2, but
      // every streaming lane was a single replay — so the r10 positions
      // move (107.3k -> 90.2k rows/s on an unchanged config) could not be
      // told apart from machine variance. Each headline lane now runs
      // twice; the better rep's full breakdown is reported plus the other
      // rep's rows/s as an explicit variance bound (`rps_other_rep`).
      // Attribution lanes (_p32, _smallbatch, the RocksDB pair) stay
      // single-rep: they exist as comparisons against their base lane,
      // not as tracked numbers, and doubling them would add minutes of
      // replay for no tracked signal.
      // Round 14 (r13 verdict item 3): the multi-pass anchor discipline
      // now covers the lanes too — SPARK_GRAFT_WARM_PASSES > 1 runs each
      // HEADLINE lane that many times and commits every pass's rows/s
      // plus the cross-pass spread (`rps_passes`/`rps_spread`), so a
      // lane-wide movement like the r12→r13 10–33% dip is attributable
      // against a measured per-lane variance band, exactly as warm keys
      // already are.
      def best2(mk: => String): String = {
        val reps = (1 to math.max(2, warmPasses)).map(_ => mk)
        def rps(s: String): Long =
          "\"rows_per_sec\":(\\d+)".r.findFirstMatchIn(s)
            .map(_.group(1).toLong).getOrElse(0L)
        val vals = reps.map(rps)
        val best = reps.maxBy(rps)
        val other = vals.sorted(Ordering[Long].reverse).drop(1).headOption.getOrElse(0L)
        if (best.endsWith("}")) {
          val spread = if (warmPasses > 1)
            s""","rps_passes":[${vals.mkString(",")}],"rps_spread":${vals.max - vals.min}"""
          else ""
          best.dropRight(1) + s""","rps_other_rep":$other$spread}"""
        } else best
      }

      // shufflePartitions: a streaming query's STATE SHARD COUNT is fixed
      // at first start from spark.sql.shuffle.partitions — and each shard
      // pays a per-micro-batch checkpoint commit (delta file + fsync).
      // Round 10: key-sized shards are the BUILDERS' default
      // (StreamTuning), so the base lanes run the tuned config; the
      // explicit-override lanes (_p32) keep the machine-parallelism
      // sizing as the what-auto-sizing-saves comparison (the same knob a
      // 100× deployment turns the other way when keys outgrow shards).
      def runStream(mk: Dataset[Tick] => DataFrame,
          shufflePartitions: Option[Int] = None): String = {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        shufflePartitions.foreach(p =>
          spark.conf.set("spark.sql.shuffle.partitions", p.toString))
        try {
          val ms = MemoryStream[Tick](SourceParts)
          val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
          val q = mk(ms.toDS()).writeStream.outputMode("append")
            .format("noop").option("checkpointLocation", ck).start()
          try {
            ms.addData(batches.head.toSeq)
            q.processAllAvailable()
            val after = q.lastProgress.batchId
            val t0 = System.nanoTime()
            batches.tail.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
            val sec = (System.nanoTime() - t0) / 1e9
            breakdown(q, after, math.round((tickRows.length - batches.head.length) / sec))
          } finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      val day = java.time.LocalDate.of(2024, 12, 6)
      // base = the builder's default (key-sized shards, round 10 — the
      // former _p8 tuned lane); _p32 keeps the pre-r10 machine-parallelism
      // sizing as the what-auto-sizing-saves comparison
      val exact = best2(runStream(ds => graft.streaming.CandleStream.candles(ds, day).toDF()))
      val windowed = best2(runStream(ds => graft.streaming.CandleStream.candlesWindowed(ds, "2 minutes")))
      val exactP32 = runStream(
        ds => graft.streaming.CandleStream.candles(ds, day, expectedKeys = 0).toDF(), Some(32))
      // document-ingest gate (round 7): the LLM-side streaming number —
      // quality projection + watermark-bounded content dedup. The corpus
      // is replayed 20× with fresh ids, so ~95% of rows hit the
      // suppression path: the redelivery-heavy case the gate exists for.
      // Round 8 (r7 verdict item 4): run the SAME gate twice — default
      // HDFS-backed (JVM-heap) state store vs RocksDB provider — so the
      // per-micro-batch breakdown shows where the time goes AND what the
      // 100 TB state-store choice costs. Heap state is O(live hashes) in
      // executor memory; RocksDB spills to local disk and is the provider
      // an always-on deployment would run once dedup state outgrows heap.
      val docGateBase = java.sql.Timestamp.valueOf("2024-12-06 10:00:00")
      val docRows = graft.fixtures.Fixtures.documents(spark, sfDir)
        .selectExpr("doc_id", "lang", "text").collect()
      val docEvents = (0 until 20).flatMap { r =>
        docRows.map { row =>
          (row.getLong(0) + r * 1000000L,
            new java.sql.Timestamp(docGateBase.getTime + r * 60000L),
            row.getString(1), row.getString(2))
        }
      }
      def docGateRun(provider: Option[String], docBatchSize: Int,
          shufflePartitions: Option[Int] = None,
          extraConf: Map[String, String] = Map.empty): String = {
        val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
        shufflePartitions.foreach(p =>
          spark.conf.set("spark.sql.shuffle.partitions", p.toString))
        provider.foreach(p =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
        extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          // docs are ~10× fatter than ticks: more source partitions to
          // keep each task's closure slice under the 1 MB guideline
          val ms = MemoryStream[(Long, java.sql.Timestamp, String, String)](SourceParts * 4)
          val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
          // an explicit shard override (the comparison lanes) suppresses
          // the builder's auto-sizing (expectedKeys = 0); the BASE lane
          // runs the builder's default — key-sized shards (round 10)
          val q = graft.streaming.DocStream
            .curationGate(ms.toDS().toDF("doc_id", "ts", "lang", "text"), "ts", "10 minutes",
              expectedKeys = if (shufflePartitions.isDefined) 0L
                             else graft.streaming.StreamTuning.KeysPerShard)
            .writeStream.outputMode("append")
            .format("noop").option("checkpointLocation", ck).start()
          try {
            val docBatches = docEvents.grouped(docBatchSize).toSeq
            ms.addData(docBatches.head)
            q.processAllAvailable()
            val after = q.lastProgress.batchId
            val t0 = System.nanoTime()
            docBatches.tail.foreach { b => ms.addData(b); q.processAllAvailable() }
            val sec = (System.nanoTime() - t0) / 1e9
            breakdown(q, after,
              math.round((docEvents.length - docBatches.head.length) / sec))
          } finally q.stop()
        } finally {
          provider.foreach(_ =>
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))
          extraConf.keys.foreach(spark.conf.unset)
          spark.conf.set("spark.sql.shuffle.partitions", prevSp)
        }
      }
      // Round 10 (r9 verdict item 1): the r8/r9 decomposition lanes
      // proved the two levers — trigger-batch sizing and key-sized state
      // shards — so the tuned configuration is now the DEFAULT: the gate
      // builder auto-sizes shards ([[graft.streaming.StreamTuning]]) and
      // the BASE lane feeds the production-shaped 40 k-row trigger batch.
      // The former doc_gate/doc_gate_bigbatch/doc_gate_p8/doc_gate_tuned
      // ladder collapses to base + two attribution lanes:
      //   doc_gate_smallbatch — 4× smaller trigger at default shards
      //     (what an over-eager trigger interval costs);
      //   doc_gate_p32 — machine-parallelism shards, the pre-r10 default
      //     (what shard auto-sizing saves).
      val docGate = best2(docGateRun(None, 40000))
      val docGateSmall = docGateRun(None, 10000)
      val docGateP32 = docGateRun(None, 40000, Some(32))
      // RocksDB provider lanes at the default config: snapshot-per-commit
      // vs changelog checkpointing (per-batch delta instead of full
      // snapshot — the provider config for large state). These lanes also
      // carry state_disk_bytes (SST footprint), the byte number behind the
      // bounded-dedup-state claim (r9 verdict item 8).
      val docGateRocks = docGateRun(Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"), 40000)
      val docGateRocksCl = docGateRun(Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
        40000, None, Map(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
      // stream-stream interval join (round 9): the state-pair class —
      // both sides buffer rows for the watermark horizon; throughput is
      // bounded by state insert + eviction, not output volume (noop
      // sink). Ticks feed BOTH sides (self-join density), 30 s window.
      def streamJoinRun(): String = {
        // the join builder auto-sizes its state shards (round 10) by
        // setting the session's shuffle-partitions conf — save/restore so
        // the batch lanes after this section keep theirs
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        try {
          val ms1 = MemoryStream[Tick](SourceParts)
          val ms2 = MemoryStream[Tick](SourceParts)
          val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
          val q = graft.streaming.EnrichJoin
            .tradeQuoteWindow(ms1.toDS().toDF(), ms2.toDS().toDF(), "30 SECONDS", "1 minute")
            .writeStream.outputMode("append")
            .format("noop").option("checkpointLocation", ck).start()
          try {
            val jb = batches.take(5)
            ms1.addData(jb.head.toSeq); ms2.addData(jb.head.toSeq)
            q.processAllAvailable()
            val after = q.lastProgress.batchId
            val t0 = System.nanoTime()
            jb.tail.foreach { b =>
              ms1.addData(b.toSeq); ms2.addData(b.toSeq); q.processAllAvailable()
            }
            val sec = (System.nanoTime() - t0) / 1e9
            val rows = jb.tail.map(_.length * 2).sum
            breakdown(q, after, math.round(rows / sec))
          } finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      // Collapsing position tracker (round 9): the sign-weighted
      // no-FINAL aggregate as an UPDATE-mode stream — corrections net
      // against states inside the running aggregation buffer (~60 keys),
      // no keyed row store, no watermark. Shards sized to key
      // cardinality like the other lanes; state is the smallest in
      // the section, so this measures the per-micro-batch floor for a
      // pure streaming aggregate.
      val streamJoin = best2(streamJoinRun())
      def positionsRun(): String = {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val collapseRows = graft.fixtures.Fixtures.tradesCollapsing(spark, sfDir)
            .selectExpr("secid", "price", "quantity", "sign")
            .as[graft.streaming.CollapseRow].collect()
          val cBatches = collapseRows.grouped(batchSize).toSeq
          val ms = MemoryStream[graft.streaming.CollapseRow](SourceParts)
          val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
          val q = graft.streaming.PositionStream.positions(ms.toDS().toDF())
            .writeStream.outputMode("update")
            .format("noop").option("checkpointLocation", ck).start()
          try {
            ms.addData(cBatches.head.toSeq)
            q.processAllAvailable()
            val after = q.lastProgress.batchId
            val t0 = System.nanoTime()
            cBatches.tail.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
            val sec = (System.nanoTime() - t0) / 1e9
            breakdown(q, after,
              math.round((collapseRows.length - cBatches.head.length) / sec))
          } finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      // JDBC streaming sink (round 8, r7 verdict item 8): the north star
      // names "final write via JDBC connector" — measure rows/s through
      // jdbcStreamAppend into embedded in-memory Derby (the jars Spark
      // ships), micro-batch foreachBatch appends with batched prepared
      // statements. A 6-batch subset keeps the lane bounded; first batch
      // (table create + sink setup) untimed as everywhere else.
      val positions = best2(positionsRun())
      // Watermarked session_window sessionization (round 11): the
      // dynamic-gap stateful class — state is CONCURRENTLY OPEN sessions;
      // feeding in event-time order advances the watermark every batch,
      // so emission + eviction run in steady state (the always-on shape),
      // not as one terminal flush. Events are ~6× fewer than ticks at
      // equal SF; a smaller trigger batch keeps the lane multi-batch.
      def sessionsRun(): String = {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        try {
          val evRows = graft.fixtures.Fixtures.events(spark, sfDir)
            .selectExpr("user_id", "ts")
            .as[graft.streaming.SessionEvent]
            .collect().sortBy(_.ts.getTime)
          // size the trigger batch from the corpus so the lane stays
          // ~10 micro-batches at every SF (a fixed divisor of the tick
          // batch size left sf0.01 with ONE batch — all of it untimed)
          val eBatches = evRows.grouped(
            math.max(1000, evRows.length / 10)).toSeq
          val ms = MemoryStream[graft.streaming.SessionEvent](SourceParts)
          val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
          val q = graft.streaming.SessionStream.sessions(ms.toDS())
            .writeStream.outputMode("append")
            .format("noop").option("checkpointLocation", ck).start()
          try {
            ms.addData(eBatches.head.toSeq)
            q.processAllAvailable()
            val after = q.lastProgress.batchId
            val t0 = System.nanoTime()
            eBatches.tail.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
            val sec = (System.nanoTime() - t0) / 1e9
            breakdown(q, after,
              math.round((evRows.length - eBatches.head.length) / sec))
          } finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      val sessionsLane = best2(sessionsRun())
      def jdbcRun(): String = {
        val url = "jdbc:derby:memory:benchjdbc;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        val jdbcBatches = batches.take(6)
        val ms = MemoryStream[Tick](SourceParts)
        val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
        // repartition(1): the 16-way source otherwise opens 16 concurrent
        // writers into EMBEDDED Derby, whose single-JVM lock table turns
        // the lane into a contention benchmark (measured 65k rows/s vs
        // 125k single-writer). One writer measures the sink path itself;
        // a shuffle (not coalesce — coalesce would re-pack the source
        // partitions into one big task closure) keeps closures small.
        val q = graft.sources.Sinks.jdbcStreamAppend(
          ms.toDS().repartition(1).selectExpr("secId", "secCode", "CAST(ts AS TIMESTAMP) AS ts",
            "last", "quantity", "tickNo"),
          url, "trades_bench", props, ck)
        try {
          ms.addData(jdbcBatches.head.toSeq)
          q.processAllAvailable()
          val after = q.lastProgress.batchId
          val t0 = System.nanoTime()
          jdbcBatches.tail.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
          val sec = (System.nanoTime() - t0) / 1e9
          val rows = jdbcBatches.tail.map(_.length).sum
          breakdown(q, after, math.round(rows / sec))
        } finally {
          q.stop()
          try java.sql.DriverManager.getConnection("jdbc:derby:memory:benchjdbc;drop=true")
          catch { case _: java.sql.SQLException => () } // expected on drop
        }
      }
      val jdbc = best2(jdbcRun())
      // Exactly-once JDBC lane (round 12): the SAME feed through the
      // epoch-ledger sink — single-rep attribution lane (like _p32): it
      // exists to price the transactional claim + per-partition
      // PreparedStatement path against the plain batched-append lane
      // above, not as a tracked headline number.
      def jdbcIdemRun(): String = {
        val url = "jdbc:derby:memory:benchjdbci;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          """CREATE TABLE trades_bench ("secId" INT, "secCode" VARCHAR(16),
            |  "ts" TIMESTAMP, "last" DOUBLE, "quantity" BIGINT,
            |  "tickNo" BIGINT)""".stripMargin)
        finally conn.close()
        graft.sources.Sinks.ensureEpochLedger(url, props)
        val jdbcBatches = batches.take(6)
        val ms = MemoryStream[Tick](SourceParts)
        val ck = java.nio.file.Files.createTempDirectory(ckRoot, "ck").toString
        val q = graft.sources.Sinks.jdbcStreamAppendIdempotent(
          ms.toDS().repartition(1).selectExpr("secId", "secCode",
            "CAST(ts AS TIMESTAMP) AS ts", "last", "quantity", "tickNo"),
          url, "trades_bench", props, ck, "bench_idem")
        try {
          ms.addData(jdbcBatches.head.toSeq)
          q.processAllAvailable()
          val after = q.lastProgress.batchId
          val t0 = System.nanoTime()
          jdbcBatches.tail.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
          val sec = (System.nanoTime() - t0) / 1e9
          val rows = jdbcBatches.tail.map(_.length).sum
          breakdown(q, after, math.round(rows / sec))
        } finally {
          q.stop()
          try java.sql.DriverManager.getConnection("jdbc:derby:memory:benchjdbci;drop=true")
          catch { case _: java.sql.SQLException => () } // expected on drop
        }
      }
      val jdbcIdem = jdbcIdemRun()
      s"""{"candles":$exact,"candles_windowed":$windowed,"candles_p32":$exactP32,""" +
        s""""doc_gate":$docGate,"doc_gate_smallbatch":$docGateSmall,""" +
        s""""doc_gate_p32":$docGateP32,"doc_gate_rocksdb":$docGateRocks,""" +
        s""""doc_gate_rocksdb_changelog":$docGateRocksCl,""" +
        s""""stream_join":$streamJoin,"positions":$positions,""" +
        s""""sessions":$sessionsLane,""" +
        s""""jdbc":$jdbc,"jdbc_exactly_once":$jdbcIdem,""" +
        s""""rows":${tickRows.length},"batch_size":$batchSize,""" +
        s""""batches":${batches.length}}"""
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
        .replaceAll("[\"\\\\\\n]", " ")
      System.err.println(s"[bench] streaming lane failed: $msg")
      s"""{"error":"$msg"}"""
    } finally {
      // remove the checkpoint root (ADVICE round 8)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckRoot).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val cqs = coldTimes.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val invs = inversions.map { case (k, (w, c)) =>
      s"${jstr(k)}:{\"warm\":$w,\"cold\":$c,\"reprobed\":${reprobes.contains(k)}}" }
      .mkString("{", ",", "}")
    val reps = reprobes.map { case (k, (w0, w1)) =>
      s"${jstr(k)}:{\"first\":$w0,\"final\":$w1}" }.mkString("{", ",", "}")
    val total = times.values.sum
    val coldTotal = coldTimes.values.sum
    // unexpected WARN classes (the asserted tail, r12 verdict item 3):
    // anything captured outside the adjudicated expected set
    currentKey.set("post")
    val unexpectedWarns = {
      import scala.jdk.CollectionConverters._
      warnCounts.asScala.toSeq.sortBy(-_._2.longValue)
    }
    if (unexpectedWarns.nonEmpty)
      System.err.println("[bench] UNEXPECTED WARN classes (tail assertion): " +
        unexpectedWarns.map { case (k, c) => s"$k ($c)" }.mkString(" | "))
    val warnsJson = unexpectedWarns
      .map { case (k, c) => s"${jstr(k)}:$c" }.mkString("{", ",", "}")
    // cross-pass spread per key (only meaningful with warmPasses > 1):
    // the committed variance bound behind "machine band" attributions
    val spreadJson =
      if (warmPasses > 1)
        passVals.collect { case (k, vs) if vs.length > 1 =>
          s"${jstr(k)}:{\"passes\":[${vs.mkString(",")}],\"spread\":${vs.max - vs.min}}"
        }.mkString(s""","warm_passes":$warmPasses,"warm_spread":{""", ",", "}")
      else ""
    // canary series + drift factor (round 16): median/min = how far above
    // its own best this machine ran during the run; the median is the
    // cross-round machine normalizer. Samples never enter totals.
    if (canaryFailed > 0)
      System.err.println(s"[bench] canary: $canaryFailed failed sample(s), " +
        s"${canarySamples.size} kept")
    val canaryStats = if (canarySamples.isEmpty) "" else {
      val sorted = canarySamples.sorted
      val med = sorted(sorted.length / 2)
      val mn = sorted.head
      f""","min":$mn%.3f,"median":$med%.3f,"drift":${med / mn}%.3f"""
    }
    val canaryJson = s"""{"key":${jstr(CanaryKey)},"samples":[${
      canarySamples.map(v => f"$v%.3f").mkString(",")}],"failed":$canaryFailed$canaryStats}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold_total":$coldTotal,"cold_queries":$cqs,"errors":$es,"inversions":$invs,"reprobes":$reps,"unexpected_warns":$warnsJson$spreadJson,"canary":$canaryJson,"streaming":$streamingJson,"sf":"$sfDir"}"""
    // The driver keeps only the last ~2000 chars of stdout and parses the
    // JSON line out of that tail — the full artifact outgrew it rounds
    // ago (12 kB at 147 entries), which is why BENCH_r07/r08 both record
    // "parsed": null. stdout therefore carries ONE COMPACT line (the
    // dashboard q-series + summary counters, ~1 kB — always whole inside
    // the tail); the full per-entry artifact goes to BENCH_FULL.json
    // below, committed each round, as before.
    def r3(v: Double): String = f"$v%.3f"
    val headlineQs = times.toSeq.filter(_._1.matches("q\\d+.*")).sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    val streamRps = """"([a-z0-9_]+)":\{"rows_per_sec":(\d+)""".r
      .findAllMatchIn(streamingJson)
      .map(m => s"${jstr(m.group(1))}:${m.group(2)}").mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":$headlineQs,"cold_total":${r3(coldTotal)},""" +
      s""""n_queries":${times.size},"n_errors":${errors.size},""" +
      s""""n_inversions":${inversions.size},""" +
      s""""n_unexpected_warn_classes":${unexpectedWarns.size},""" +
      s""""streaming_rows_per_sec":$streamRps,""" +
      s""""full":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(compact)
    // The driver's stdout capture has truncated the per-query head in past
    // rounds (r4/r5 verdicts) — ALSO persist the full artifact to a file
    // (committed per round) so every entry's warm+cold time is judgeable.
    // A run with errors must not clobber the committed artifact of a clean
    // run (round-6 ADVICE): it is diverted to a .failed sibling instead.
    val out0 = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
    val out = if (errors.nonEmpty && java.nio.file.Files.exists(out0)) {
      val diverted = out0.resolveSibling(out0.getFileName.toString + ".failed")
      System.err.println(s"[bench] ${errors.size} error(s) — keeping existing " +
        s"$out0, writing this run to $diverted")
      diverted
    } else out0
    try java.nio.file.Files.writeString(out, line)
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    spark.stop()
  }
}
