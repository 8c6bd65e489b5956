package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 second-decade scale probe (VERDICT r7 item 3): the round-7
  * ScaleProbe measured one order of magnitude (sf0.1 → synthetic sf1) and
  * the four steepest survivors were `llm_span_dedup` (5.4× at 10×),
  * `llm_bpe_apply` (4.83×), `llm_ccnet_bucket` (3.1×) and
  * `llm_bpe_fertility` (3.08×) — all at-or-below the data ratio, but a
  * knee that appears between 10× and 100× would invalidate the "linear"
  * claim exactly where 100 TB lives. This probe adds the second decade:
  * a synthetic sf10 corpus (100× sf0.1 documents, same text-seeded
  * Fisher–Yates construction as ScaleProbe so exact-dup density per doc
  * is scale-invariant and replicas don't become near-dups of each other)
  * and times entries at sf1 vs sf10. The reported ratio is
  * t(sf10)/t(sf1) against a 10× data ratio — the NEXT decade's slope,
  * not a rehash of the first.
  *
  * The default set is the four steepest r7 survivors; pass entry names
  * to probe any other documents/embeddings pipeline (the embeddings
  * table is materialized alongside, 64-dim rotations as in ScaleProbe).
  * `SCALE2_THIRD_DECADE=1` adds a docs-only sf100 (5M docs) leg for
  * `llm_span_dedup` — the largest intermediate in the repo, the one the
  * r7 verdict said to watch at 100×.
  *
  * Run with `sbt "Test/runMain graft.tools.ScaleProbe2 [entries...]"`.
  */
object ScaleProbe2 {
  private val Entries = Seq(
    "llm_span_dedup", "llm_bpe_apply", "llm_ccnet_bucket", "llm_bpe_fertility")
  private val IdStride = 10000000L

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // NOT ScaleProbe's /tmp/graft_sf1: that one inherits the driver
    // fixture's single-file layout (1 parquet file → 1 scan task), which
    // made the CPU-heavy corpus scans run single-threaded and turned the
    // first probe's sf1-vs-sf10 comparison into a parallelism cliff
    // (bpe_apply "ratio 0.56" — sf10's 32 files vs sf1's one). Both
    // decades here use the SAME 32-file layout so the ratio measures
    // data scaling at constant scan parallelism — the cluster shape,
    // where file count always exceeds core count.
    val sf1 = "/tmp/graft_sf1b"
    val sf10 = "/tmp/graft_sf10"
    val sf100 = "/tmp/graft_sf100"
    // SCALE2_SHUFFLE_PARTITIONS: the probe's partition-sizing dial. A
    // fixed 32 at sf100 gives ~14M-row per-partition sorts (spill-bound);
    // a cluster would run thousands of partitions at that volume. Raising
    // it distinguishes "operator has a knee" from "fixed partition count
    // under-sizes the sort" — the exact spark.sql.shuffle.partitions
    // lesson the brief's scale checklist calls out.
    val shufflePartitions =
      sys.env.get("SCALE2_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession.local()
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    spark.sparkContext.setLogLevel("ERROR")

    val entryNames = if (args.nonEmpty) args.toSeq else Entries
    // llm_/mm_ pipelines read documents/embeddings; everything else is
    // the trades side (lineitem/events/part) — materialize only what the
    // requested entries actually scan (the sf10 trades leg is ~60M rows)
    val needsDocs = entryNames.exists(n => n.startsWith("llm_") || n.startsWith("mm_"))
    val needsTrades = entryNames.exists(n => !n.startsWith("llm_") && !n.startsWith("mm_"))
    if (needsDocs) {
      materialize(spark, base, sf1, 10)
      materialize(spark, base, sf10, 100)
    }
    if (needsTrades) {
      materializeTradesSide(spark, base, sf1, 10)
      materializeTradesSide(spark, base, sf10, 100)
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // SCALE2_NO_COALESCE=1: disable AQE partition coalescing for the timed
    // reps — isolates the hypothesis that the small-scale (sf1) time is
    // inflated by coalesced-to-serial scans inside iterative driver loops
    // (the BPE trainer's 8 rounds), not by per-row work.
    if (sys.env.get("SCALE2_NO_COALESCE").contains("1")) {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      println("[scale2] AQE partition coalescing DISABLED for this run")
    }
    val entries = entryNames
    val unknown = entries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val results = for (dir <- Seq(sf1, sf10); n <- entries) yield {
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      // warmup doubles as the row-proportionality check
      val rows = graft.SparkEntry.queries(n)(spark, dir).count()
      val t = (1 to 2).map(_ => timed(noop(graft.SparkEntry.queries(n)(spark, dir)))).min
      println(f"[scale2] measured $n%-22s ${dir.split('/').last}%12s $t%8.3f s $rows%9d rows")
      (dir, n, t, rows)
    }
    println(f"[scale2] ${"entry"}%-22s ${"sf1 s"}%8s ${"rows"}%9s ${"sf10 s"}%9s ${"rows"}%10s ${"t-ratio"}%8s  (data x10)")
    for (n <- entries) {
      val Some((_, _, t0, r0)) = results.find(r => r._1 == sf1 && r._2 == n)
      val Some((_, _, t1, r1)) = results.find(r => r._1 == sf10 && r._2 == n)
      println(f"[scale2] $n%-22s $t0%8.3f $r0%9d $t1%9.3f $r1%10d ${t1 / t0}%8.2f")
    }

    // Trades-side THIRD decade (round 10, r9 verdict item 4): lineitem
    // ×1000 / events ×1000 over sf0.1 (600M trades, 100M events; ~13 GB
    // parquet in /tmp). Single timed rep per entry — at 30–300 s per
    // execution the min-of-2 discipline buys nothing (it exists for
    // sub-second scheduler noise) and a warmup count() would triple the
    // write-bound entries' cost; row proportionality is already proven
    // by the first two decades. `SCALE2_THIRD_DECADE_TRADES=1`; size
    // SCALE2_SHUFFLE_PARTITIONS up (256+) — 32 partitions at 600M rows
    // is a 19M-row-per-task sort, the under-sizing the knob exists for.
    if (sys.env.get("SCALE2_THIRD_DECADE_TRADES").contains("1")) {
      materializeTradesSide(spark, base, sf100, 1000)
      // SCALE2_SF100_REPS=2 takes a min-of-2 like the earlier decades —
      // a SINGLE sf100 rep folds the 600M-row fixture derivation + its
      // (disk-spilled) cache materialization into the reading, which the
      // sf10 min-of-2 excludes, inflating the ratio for scan-light
      // entries (the first qx_sample run read 15.99 where its warm
      // second rep reads ~linear)
      val sf100Reps = sys.env.get("SCALE2_SF100_REPS").map(_.toInt).getOrElse(1)
      for (n <- entries) {
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val t = (1 to sf100Reps).map(_ =>
          timed(noop(graft.SparkEntry.queries(n)(spark, sf100)))).min
        val sf10t = results.find(r => r._1 == sf10 && r._2 == n).map(_._3)
        println(f"[scale2] THIRD DECADE (trades) $n sf100: $t%8.3f s" +
          sf10t.map(p => f"  t-ratio vs sf10 ${t / p}%.2f (data x10)").getOrElse(""))
      }
    }

    // ×3 trades leg for entries whose sf100 MATERIALIZED footprint
    // exceeds the sandbox disk (a23's JSON round-trip writes the corpus
    // as ~10×-parquet-sized JSONL; 600M rows of it does not fit).
    // Ratio reported against a ×3 data step. Honors SCALE2_SF100_REPS
    // (the fair-rep knob): a single rep folds the 180M-row fixture
    // derivation + its disk-spilled cache materialization into the
    // reading — min-of-2 measures the operator, the way the sf1/sf10
    // legs already do.
    if (sys.env.get("SCALE2_TRADES_X3").contains("1")) {
      val sf30 = "/tmp/graft_sf30"
      val x3Reps = sys.env.get("SCALE2_SF100_REPS").map(_.toInt).getOrElse(1)
      materializeTradesSide(spark, base, sf30, 300)
      for (n <- entries) {
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val t = (1 to x3Reps).map(_ =>
          timed(noop(graft.SparkEntry.queries(n)(spark, sf30)))).min
        val sf10t = results.find(r => r._1 == sf10 && r._2 == n).map(_._3)
        println(f"[scale2] X3 DECADE (trades) $n sf30: $t%8.3f s ($x3Reps reps)" +
          sf10t.map(p => f"  t-ratio vs sf10 ${t / p}%.2f (data x3)").getOrElse(""))
      }
    }

    // Third decade (5M docs, documents table only — pass docs-only
    // entries when using this). The sf100 leg is where the r8 probe
    // caught span_dedup's corpus-sized hash build crashing outright.
    if (sys.env.get("SCALE2_THIRD_DECADE").contains("1")) {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sf100/documents.parquet")))
        materializeDocs(spark, base, sf100, 1000)
      for (n <- entries) {
        graft.fixtures.Fixtures.clearDerivedCache(spark)
        val rows = graft.SparkEntry.queries(n)(spark, sf100).count()
        val t = (1 to 2).map(_ => timed(noop(graft.SparkEntry.queries(n)(spark, sf100)))).min
        val sf10t = results.find(r => r._1 == sf10 && r._2 == n).map(_._3)
        println(f"[scale2] THIRD DECADE $n sf100: $t%8.3f s $rows%9d rows" +
          sf10t.map(p => f"  t-ratio vs sf10 ${t / p}%.2f (data x10)").getOrElse(""))
      }
    }
    spark.stop()
  }

  private def materialize(spark: SparkSession, base: String, out: String,
      reps: Int): Unit = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/documents.parquet")))
      materializeDocs(spark, base, out, reps)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/embeddings.parquet")))
      materializeEmb(spark, base, out, reps)
  }

  /** Same construction as ScaleProbe's materializer — the replica
    * rewrite IS [[ScaleProbe.shuffleWords]], shared so the seed formula
    * cannot diverge between the two probes' corpora — but documents
    * only, replicated `reps`× on a 32-file layout.
    */
  private def materializeDocs(spark: SparkSession, base: String, out: String,
      reps: Int): Unit = {
    val shuffleWords = ScaleProbe.shuffleWords
    val repDf = spark.range(0, reps).select(col("id").cast("int").as("r"))
    spark.read.parquet(s"$base/documents.parquet")
      .crossJoin(broadcast(repDf))
      .select(
        (col("doc_id") + col("r") * IdStride).as("doc_id"),
        shuffleWords(col("text"), col("r")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scale2] materialized $out (documents x$reps)")
  }

  /** Second-decade trades-side corpus — same offset scheme as
    * [[ScaleProbe.materializeTrades]] (l_orderkey + r·10⁶ keeps trade_no
    * unique and < 2⁶³ through r = 99; event_id/user_id offsets keep
    * quote_seq unique and the secid mapping replica-invariant; the part
    * dim never grows with volume), but on the probe's constant 32-file
    * layout so both decades scan at the same parallelism.
    */
  private def materializeTradesSide(spark: SparkSession, base: String,
      out: String, reps: Int): Unit = {
    val repDf = spark.range(0, reps).select(col("id").as("r"))
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/lineitem.parquet"))) {
      spark.read.parquet(s"$base/lineitem.parquet")
        .crossJoin(broadcast(repDf))
        // the trade_no packing ((orderkey·8 + line)·10¹⁰ + …) bounds
        // orderkey < ~1.15e8, i.e. replica strides are safe only through
        // r = 99 — the ×1000 leg wraps the stride so orderkeys stay in
        // range; every 99th replica reuses trade identities, which is
        // irrelevant for the TIMING probes (row volume still scales;
        // sf1/sf10 have r < 10, so their corpora are byte-identical to
        // the pre-wrap construction)
        .withColumn("l_orderkey", col("l_orderkey") + (col("r") % 99L) * 1000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      spark.read.parquet(s"$base/events.parquet")
        .crossJoin(broadcast(repDf))
        .withColumn("event_id", col("event_id") + col("r") * 1000000000L)
        .withColumn("user_id", col("user_id") + col("r") * 6000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      spark.read.parquet(s"$base/part.parquet")
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      println(s"[scale2] materialized $out (lineitem x$reps, events x$reps, part dim as-is)")
    }
  }

  /** Embedding replicas by component rotation (ScaleProbe's construction:
    * rotations preserve norms and pairwise-cosine structure within a
    * replica while keeping cross-replica vectors far apart).
    */
  private def materializeEmb(spark: SparkSession, base: String, out: String,
      reps: Int): Unit = {
    val rot = udf { (v: Seq[Float], r: Int) =>
      if (r == 0) v
      else { val k = (7 * r) % v.length; v.drop(k) ++ v.take(k) }
    }
    val repDf = spark.range(0, reps).select(col("id").cast("int").as("r"))
    spark.read.parquet(s"$base/embeddings.parquet")
      .crossJoin(broadcast(repDf))
      .select(
        (col("vec_id") + col("r") * IdStride).as("vec_id"),
        rot(col("embedding"), col("r")).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scale2] materialized $out (embeddings x$reps)")
  }
}
