package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 empirical scale probe (VERDICT r6 item 8): the 100 TB
  * arguments for the superlinear-risk entries are plan-level — show one
  * order of magnitude of measured slope. Materializes a synthetic
  * sf1-scale corpus (10× sf0.1) under /tmp and times the five flagged
  * entries at both scales.
  *
  * Scaling construction (deterministic, workload-shape preserving):
  *   - documents ×10: replica r of a doc keeps the original text for
  *     r=0 and otherwise rewrites it as a seeded Fisher–Yates shuffle of
  *     its words. The seed is a hash of the TEXT (plus r), not the id, so
  *     two exact-duplicate docs shuffle identically in every replica —
  *     exact-dup density per doc is constant across scale — while docs
  *     that merely SHARE bigrams get different permutations, so replicas
  *     do not become near-dups of each other (a naive verbatim ×10 would
  *     square the candidate-pair count at 10× the data and measure a
  *     self-inflicted explosion, not the pipeline's slope).
  *   - embeddings ×10: replica r rotates the 64-dim vector by 7r
  *     positions (norm-preserving, cosine-decorrelating), ids offset.
  *
  * Times are warm min-of-2 after a warmup pass, per the bench lane;
  * output row counts ride along so a slope reading can check the
  * workload actually stayed proportionate.
  *
  * Run with `sbt "Test/runMain graft.tools.ScaleProbe"`.
  */
object ScaleProbe {
  private val Entries = Seq(
    "llm_minhash_lsh", "llm_ngram_jaccard", "llm_semdedup_guarded",
    "llm_dedup_clusters", "llm_incremental_neardup",
    // round-7 second wave: every other bucketed/banded/indexed pipeline
    "llm_embed_neardup", "llm_ann_lsh", "llm_tfidf_topk", "llm_simhash",
    "llm_doc_fingerprint", "llm_exact_dedup", "llm_semdedup_capped",
    // round-7 third wave — the trade side: hash-agg dedup, stateful
    // candles, the custom as-of exec + its window twin, sessionization,
    // salted skew join, and a broadcast-join dashboard query. Scaled
    // lineitem/events keep the SAME 60 securities and the same trading
    // days at 10x row density — "one day at 10x volume", which is what a
    // scale-up actually looks like for a market feed.
    "dedup_trades", "dedup_quotes", "a16_candles_batch", "qx_asof_custom",
    "qx_asof_trade_quote", "evt_sessions", "qx_salted_turnover",
    "q01_netto_buy_topk",
    // round-7 fourth wave — the remaining non-trivially-shaped llm
    // pipelines (two-level prefix sum, shuffle-hashed LM stats join,
    // histogram quantiles, DSIR ratios, corpus n-gram top-k, broadcast
    // contamination) and the exact candle replay (per-key sorted
    // mapGroups — the fidelity port of the Go state machine)
    "llm_seq_pack", "llm_lm_score", "llm_length_quantiles",
    "llm_dsir_weight", "llm_top_ngrams", "llm_contamination",
    "a01_candles_replay",
    // round-7 fifth wave — the late-round additions: PQ codes + ADC
    // (broadcast codebook/table, two linear hash aggs), the span-dedup
    // index (fixed-width hash agg + shuffle-hash join-back), and the
    // classifier's train/score joins
    "llm_ann_pq", "llm_span_dedup", "llm_lang_classify",
    // round 14: runtime-K IVF search — K grows 10× with the corpus here
    // (chooseK), so this is the entry whose slope would expose a
    // reintroduced flat N×K assignment
    "llm_ann_ivf_scaled",
    // bloom pre-filter: corpus-adaptive m must keep FP flat at 10x
    "llm_bloom_dedup",
    // BM25: same postings shape as tfidf, plus the dl/avgdl join
    "llm_bm25_topk",
    // host cap: window-by-host numbering must stay linear; CDC: two
    // per-doc windows + the (sig, len) stats join
    "llm_host_cap", "llm_cdc_chunk",
    // knn graph: banded candidates must stay linear under the adaptive
    // width; per-src top-k window over bounded candidate sets
    "llm_knn_graph",
    // round-7 seventh wave — the curation additions: per-shard window
    // rank (must stay a parallel per-shard sort), CC + per-cluster
    // argmax, lm-score plan + per-lang histogram terciles, and the
    // 64-row scale aggregate + brute-force ADC scan
    "llm_shuffle_shard", "llm_cluster_best", "llm_ccnet_bucket",
    "llm_sq_recall",
    // BPE training: the one-corpus-scan → compact-state factorization
    // must show (state size is vocabulary-bound, so rounds cost ~the
    // same at any corpus scale; only the initial scan grows)
    "llm_bpe_train",
    // BPE apply: the corpus-sized tokenization pass — pure map-side
    // replace chain, must scale exactly with text volume
    "llm_bpe_apply",
    // RRF hybrid fusion: both source retrievals keep their own plans;
    // the fusion itself must stay queries × depth-sized
    "llm_rrf_fusion",
    // fertility ledger: apply-pass tokenization + a |langs|-row aggregate
    "llm_bpe_fertility",
    // pack spans: two-level prefix sum + map-side span explode
    "llm_pack_spans",
    // round-8 wave: canonical-URL collapse (map-side projection + one
    // hash agg), the unified ANN ledger (five bounded retrievals over
    // one cached corpus), paragraph blocks (span_dedup's window shape
    // over ~n/20 disjoint units), the boilerplate-strip regex chain
    // (pure map-side), DoReMi domain weights (lm_score's plan folded to
    // a 20-row aggregate), and MRL prefix recall (three brute-force
    // scans at decreasing width)
    "llm_url_dedup", "llm_ann_ledger", "llm_paragraph_dedup",
    "llm_html_extract", "llm_doremi_weight", "llm_mrl_recall",
    // round-8 second wave: per-source budget window (host_cap's skew
    // profile) and the content-hash full-outer snapshot join.
    // llm_simhash_neardup is deliberately NOT here: this fixture's
    // Fisher-Yates replicas are exact bag-of-words duplicates —
    // degenerate for an order-invariant signature (every block trips
    // the cap) — so its slope was measured on a token-substitution
    // corpus instead (PERF_NOTES.md round 8, simhash_neardup).
    "llm_token_budget", "llm_snapshot_diff",
    // KMV sketch: the corpus pass must compact to vocab before any window
    "llm_distinct_sketch",
    // round-9 wave: KN smoothing (lm_score's plan + two more
    // type-cardinality stat joins), host PageRank (one corpus-sized
    // edge dedup, then host-cardinality iterations only), Neyman
    // allocation (moment hash agg + per-source rank window), and
    // embedding outliers (the IVF assignment aggregate + broadcast
    // cell stats)
    "llm_kn_lm_score", "llm_pagerank_hosts", "llm_neyman_sample",
    "llm_embed_outliers",
    // round-9 second wave: epoch manifest (≤4× bounded explode under a
    // broadcast repeat table) and the per-source card (one hash agg
    // with two partial-aggregated distincts)
    "llm_epoch_expand", "llm_dataset_card",
    // unigram tokenizer: the DP must stay word-vocabulary-bound (the
    // corpus contributes only the word-count agg + the stats join)
    "llm_unigram_fertility",
    // interval join: bucketed equi-join must stay linear (the naive
    // BETWEEN plan is O(points x intervals))
    "evt_session_concurrency",
    // SCD2: one lead() window over short per-key version chains
    "dedup_trades_scd2",
    // analytics wave: funnel's per-user sorted-array DP (array size =
    // per-user step events — constant here; the user count carries the
    // 10×), sequence-match's shared-sort running-max windows, and the
    // CMS corpus pass (bucket table stays depth×width at any scale)
    "evt_funnel", "evt_sequence_match", "llm_cms_sketch", "evt_retention",
    // incremental-aggregation wave: state-merge (one facts pass to
    // days×side sketch states, then metadata-scale merge — the probe
    // measures the facts pass), summing rollup (partial agg + parts
    // write + KEYS×PARTS re-sum), and the text ingest edges (write+read
    // must both stay splittable-parallel and linear in bytes)
    "qx_topk_state_merge", "rollup_summing_merge",
    "a22_csv_source_roundtrip", "a23_json_source_roundtrip",
    // ORC edge (r12): same write+read-linear-in-bytes contract as the
    // text edges, through the vectorized columnar path
    "a25_orc_source_roundtrip",
    // wave 5: the JDBC edge (staging write + 8-way partitioned read,
    // linear in rows through one external SQL engine) and the composed
    // KMV state merge (per-part windows over that part's distinct
    // hashes; the merge is PARTS × K)
    "a24_jdbc_source_roundtrip", "llm_uniq_state_merge",
    // wave 6 relational classes: pivot + rollup are single-pass hash
    // aggregates (rollup's Expand is a fixed 3×); the moving-frame
    // window must stay one sort per sec_code partition
    "qx_pivot_turnover", "qx_rollup_turnover", "qx_moving_turnover",
    // wave 7: RANGE frame rides the same bucket window; json parse is a
    // pure map-side projection that must track text volume
    "qx_range_frame_turnover", "llm_json_metadata",
    // TTL: the layout write grows with rows; expiry itself is
    // metadata-scale (one directory delete per expired day)
    "layout_ttl_retention",
    // collapsing family: each FINAL is hash aggregation over the
    // correction stream (1.21× rows); the no-FINAL form is one scan
    "dedup_trades_collapsing", "dedup_trades_vcollapsing",
    "qx_collapsing_turnover",
    // bucketed join pays the two bucketed writes + the co-located read;
    // hash sampling is a map-side tenth-selectivity scan
    "layout_bucketed_join", "qx_sample_turnover",
    // t-digest: O(δ) sketches on the shuffle; the ledger's exact twin
    // and rank bracket are the row-linear parts
    "qx_quantile_tdigest", "qx_tdigest_state_merge",
    // relational surface: LIMIT BY rides one window; WITH FILL is
    // bucket-cardinality-bound; semi/anti is a broadcast over distinct
    "qx_limit_by", "qx_with_fill_turnover", "qx_semi_anti_codes",
    // DPP pays the layout write; the pruned read is partition-bound
    "layout_dpp_prune",
    // LOCF fill windows the bucket grid, not the raw rows
    "qx_with_fill_locf",
    // set ops run on already bucket-sized inputs
    "qx_set_ops_minutes",
    // mutations pay the layout write + ONE day's rewrite
    "layout_mutation_delete", "layout_mutation_update",
    // OPTIMIZE pays fragment-write + full compaction rewrite
    "layout_optimize_compact",
    // drift: counts collapse to lang x 10 buckets before any join
    "llm_corpus_drift",
    // round-11: removal-range merge — span_dedup's h-window plus two
    // per-doc windows over the (sub-corpus) dropped stream
    "llm_dup_span_merge",
    // round-11: leakage audit = the dedup_clusters pipeline + a map-side
    // split projection + one cluster-keyed hash aggregate
    "llm_split_leakage")
  private val Reps = 10
  private val IdStride = 10000000L

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = "/tmp/graft_sf1"
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$scaled/documents.parquet")))
      materialize(spark, base, scaled)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$scaled/lineitem.parquet")))
      materializeTrades(spark, base, scaled)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // optional arg list narrows the run to named entries (new-wave dev loop)
    val entries = if (args.nonEmpty) Entries.filter(args.contains) else Entries
    val results = for (dir <- Seq(base, scaled); n <- entries) yield {
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      noop(graft.SparkEntry.queries(n)(spark, dir)) // warmup + cache fill
      val t = (1 to 2).map(_ => timed(noop(graft.SparkEntry.queries(n)(spark, dir)))).min
      val rows = graft.SparkEntry.queries(n)(spark, dir).count()
      (dir, n, t, rows)
    }
    println(f"[scale] ${"entry"}%-26s ${"sf0.1 s"}%8s ${"rows"}%8s ${"sf1 s"}%8s ${"rows"}%9s ${"t-ratio"}%8s  (data x$Reps)")
    for (n <- entries) {
      val Some((_, _, t0, r0)) = results.find(r => r._1 == base && r._2 == n)
      val Some((_, _, t1, r1)) = results.find(r => r._1 == scaled && r._2 == n)
      println(f"[scale] $n%-26s $t0%8.3f $r0%8d $t1%8.3f $r1%9d ${t1 / t0}%8.2f")
    }
    spark.stop()
  }

  /** The replica text rewrite — a TEXT-seeded Fisher–Yates word shuffle
    * (same text + same r ⇒ same output, so exact-dup density per doc is
    * scale-invariant while shared-bigram docs decorrelate). ONE
    * definition, used by this probe's materializer and by
    * [[ScaleProbe2]]'s 32-file-layout variant — the seed formula is the
    * load-bearing part of the construction, and a divergent copy would
    * make the two probes measure different corpora.
    */
  private[tools] val shuffleWords = udf { (text: String, r: Int) =>
    if (r == 0) text
    else {
      val words = text.split(' ')
      val rnd = new scala.util.Random(
        scala.util.hashing.MurmurHash3.stringHash(text) * 31L + r)
      // Fisher–Yates over the word array
      var i = words.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val tmp = words(i); words(i) = words(j); words(j) = tmp
        i -= 1
      }
      words.mkString(" ")
    }
  }

  /** Build the 10× corpus under `scaled` (idempotent per /tmp lifetime). */
  private def materialize(spark: SparkSession, base: String, scaled: String): Unit = {
    val reps = spark.range(0, Reps).select(col("id").cast("int").as("r"))
    spark.read.parquet(s"$base/documents.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("r") * IdStride).as("doc_id"),
        shuffleWords(col("text"), col("r")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$scaled/documents.parquet")

    val rot = udf { (v: Seq[Float], r: Int) =>
      if (r == 0) v
      else { val k = (7 * r) % v.length; v.drop(k) ++ v.take(k) }
    }
    spark.read.parquet(s"$base/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("r") * IdStride).as("vec_id"),
        rot(col("embedding"), col("r")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
    println(s"[scale] materialized $scaled (documents x$Reps, embeddings x$Reps)")
  }

  /** 10× the trade-side source tables. Offsets keep every derived key
    * unique and every dim-shaping modulus intact:
    *   - lineitem: l_orderkey + r·10⁶ — trade_no/tick_no stay unique
    *     (the formula is (orderkey·8+linenumber)·10¹⁰ + …, max ≈ 7.7e17
    *     < 2⁶³), secid/sec_code (l_partkey % 60) and the trading-day
    *     spread (orderkey % 3 stays uniform) are untouched, so the
    *     scaled feed is the SAME market at 10× message rate.
    *   - events: event_id + r·10⁹ (quote_seq unique), user_id + r·6·10⁶
    *     (divisible by 60, so user_id % 60 — the secid mapping — is
    *     replica-invariant, while sessionization sees 10× distinct
    *     users).
    *   - part: copied as-is — the securities dim does NOT grow with
    *     volume, which is exactly why broadcasting it is right at 100 TB.
    */
  private def materializeTrades(spark: SparkSession, base: String, scaled: String): Unit = {
    val reps = spark.range(0, Reps).select(col("id").as("r"))
    spark.read.parquet(s"$base/lineitem.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("l_orderkey", col("l_orderkey") + col("r") * 1000000L)
      .drop("r")
      .write.mode("overwrite").parquet(s"$scaled/lineitem.parquet")
    spark.read.parquet(s"$base/events.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("event_id", col("event_id") + col("r") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("r") * 6000000L)
      .drop("r")
      .write.mode("overwrite").parquet(s"$scaled/events.parquet")
    spark.read.parquet(s"$base/part.parquet")
      .write.mode("overwrite").parquet(s"$scaled/part.parquet")
    println(s"[scale] materialized $scaled (lineitem x$Reps, events x$Reps, part dim as-is)")
  }
}
