package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ReplacingMergeTree read path (SURVEY §2 "Dedup"): every reference table
  * is `ENGINE = ReplacingMergeTree() ORDER BY (keys…)` (db.go:31,47,61,93,
  * 106) — rows with an equal key collapse to the LAST inserted at merge
  * time. The engine exposes that as an explicit read-path operator.
  *
  * Scale design: one aggregation, partial-aggregated map-side (local
  * duplicates collapse before the single exchange, hash-partitioned on
  * the key — the layout a bucketed 100 TB table would already have,
  * making the shuffle elidable). No window function, no GLOBAL sort:
  * the `row_number` window and the max-seq join-back alternatives both
  * measured slower at sf0.1 (round 3).
  *
  * PLAN REALITY (verified via `graft.Explain dedup_trades`): the generic
  * `max_by(struct(...), seq)` buffer holds a struct, which
  * HashAggregateExec's fixed-width mutable-buffer rule rejects, so both
  * aggregation levels compile to SortAggregate, each preceded by a
  * per-partition external (spillable) Sort. Still linear, partial-
  * aggregated, skew-free — but the sorts dominate. Since round 7
  * [[lastWriteWins]] SELF-ROUTES to the columnar all-hash plan whenever
  * the schema proves every payload column fixed-width (types +
  * [[Dedup.FixedBytesKey]] string declarations), so the SortAggregate
  * shape is only reached for genuinely unpackable payloads (long /
  * unbounded strings, arrays). Three faster shapes exist and all ship
  * here:
  * [[lastWriteWinsColumnar]] (per-column max_by — all-hash plan when
  * every payload column is fixed-width; ~2× faster on trades, where
  * the one string column is a single char), [[lastWriteWinsHash]] (the
  * custom [[graft.expr.LastBy]] TypedImperativeAggregate →
  * ObjectHashAggregateExec: hash path for ARBITRARY payloads; at sf0.1
  * it measures ≈ the columnar variant in most runs once the 128-group
  * fallback default is raised, with more run-to-run variance than the
  * flat-buffer forms — object buffers are GC-sensitive), and, where the table is
  * MATERIALIZED, collapsing duplicates at write time
  * ([[graft.sources.Sinks.materializeTradesCompacted]] +
  * [[compactKeyRuns]]): the layout job already pays a per-partition
  * sort for parquet clustering, so last-write-wins becomes a free lazy
  * scan there — the same place ClickHouse does it (merges, not reads).
  */
object Dedup {

  /** Column-metadata key declaring a StringType column's values fixed at
    * ≤ N bytes of printable ASCII (the reference's `FixedString(N)` /
    * short `LowCardinality(String)` DDL, db.go:60,102, carried into the
    * Spark schema). [[lastWriteWins]] reads it to prove a string payload
    * BIGINT-packable; [[lastWriteWinsColumnar]]'s runtime guard still
    * fails loudly if the data violates the declaration.
    */
  val FixedBytesKey = "graft_fixed_bytes"

  private def isFixedWidth(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
  }

  private def declaredPackable(f: org.apache.spark.sql.types.StructField): Boolean =
    f.dataType == org.apache.spark.sql.types.StringType &&
      f.metadata.contains(FixedBytesKey) && {
        val n = f.metadata.getLong(FixedBytesKey); n >= 1 && n <= 8
      }

  /** Last write wins per `keys`, "last" = max `seq` (must be unique within
    * a key for a deterministic winner — ingest sequence / arrival offset).
    *
    * SELF-ROUTING (round 7): when every payload column is provably
    * fixed-width — numeric/boolean/date/timestamp by type, or StringType
    * declared ≤ 8 ASCII bytes via [[FixedBytesKey]] metadata — the call
    * delegates to [[lastWriteWinsColumnar]], whose per-column max_by plan
    * stays on partial/final HashAggregateExec (~2× faster on trades than
    * the struct-max_by SortAggregate below, and the same plan the
    * dedicated columnar entry runs). Payloads that can't be proven
    * packable keep the generic struct-max_by path, which accepts
    * arbitrary columns. Output column order (keys first, then payload in
    * input order) is identical on both routes.
    */
  def lastWriteWins(df: DataFrame, keys: Seq[String], seq: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    val payload = others.filterNot(_ == seq)
    val packable = payload.filter(c => declaredPackable(df.schema(c))).toSet
    val routable =
      payload.forall(c => packable(c) || isFixedWidth(df.schema(c).dataType))
    if (routable)
      lastWriteWinsColumnar(df, keys, seq, packable)
        .select((keys ++ others).map(col): _*)
    else
      df.groupBy(keys.map(col): _*)
        .agg(max_by(struct(others.map(col): _*), col(seq)).as("_latest"))
        .select(keys.map(col) ++ others.map(o => col("_latest").getField(o).as(o)): _*)
  }

  /** [[lastWriteWins]] on the HASH path for ARBITRARY payload columns:
    * the custom [[graft.expr.LastBy]] TypedImperativeAggregate carries
    * the winning row as one opaque buffer, so the aggregation plans as
    * ObjectHashAggregateExec (hash with graceful sort fallback) instead
    * of the struct-max_by's SortAggregate — no fixed-width restriction,
    * no BIGINT packing, same partial/final map-side combine.
    */
  def lastWriteWinsHash(df: DataFrame, keys: Seq[String], seq: String): DataFrame = {
    // NOTE: the hash path is only real when the session raises
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold above the
    // group cardinality (the stock 128 silently degrades to sort-based —
    // the fallback is COUNT-based, not memory-based). The engine's
    // session builders (Bench/Verify/SparkSuite) set 4M; deliberately NOT
    // set here — a library call must not mutate session-wide config.
    graft.expr.GraftFunctions.register(df.sparkSession)
    val others = df.columns.filterNot(keys.contains).toSeq
    def q(c: String) = "`" + c.replace("`", "``") + "`" // arbitrary names stay arbitrary
    df.groupBy(keys.map(col): _*)
      .agg(expr(s"graft_last_by(struct(${others.map(q).mkString(", ")}), CAST(${q(seq)} AS BIGINT))")
        .as("_latest"))
      .select(keys.map(col) ++ others.map(o => col("_latest").getField(o).as(o)): _*)
  }

  /** Hash-path variant of [[lastWriteWins]] for tables whose payload
    * columns are all FIXED-WIDTH (plus single-char strings, encoded
    * through ascii/char): one `max_by(column, seq)` PER COLUMN — every
    * max_by picks the same winning row because `seq` is unique within a
    * key — so each buffer slot is a fixed-width (value, ord) pair and
    * the whole aggregate stays on partial/final HashAggregateExec, where
    * the generic struct-valued form falls back to SortAggregate with an
    * external sort on both sides of the exchange (see the PLAN REALITY
    * note above). `packCols` names short string columns (non-empty,
    * ≤ 8 ASCII bytes — e.g. trades' FixedString(1) `period`, quotes'
    * LowCardinality `source`) to round-trip through an invertible BIGINT
    * packing (`conv(hex(utf8 bytes))` — any reversible fixed-width
    * encoding works, the value is carried, never ordered); longer or
    * non-ASCII string columns would push the buffer off the fixed-width
    * path — keep those on [[lastWriteWins]].
    */
  def lastWriteWinsColumnar(df: DataFrame, keys: Seq[String], seq: String,
      packCols: Set[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains).filterNot(_ == seq).toSeq
    val aggs = others.map(o => maxByAgg(o, seq, packCols(o)).as(o)) :+
      max(col(seq)).as(seq)
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** One fixed-width-buffer `max_by(value, ord)` slot of the columnar
    * plan — shared by [[lastWriteWinsColumnar]] (ord = the version
    * column) and [[Collapse]] (ord = a CASE restricting the winner to
    * state rows). `packed` routes a short-ASCII string column through
    * the invertible BIGINT packing so the aggregate keeps its
    * HashAggregateExec-compatible fixed-width buffer.
    */
  private[ingest] def maxByAgg(o: String, ordSql: String,
      packed: Boolean): org.apache.spark.sql.Column =
    if (packed) {
      // the 1..8-ASCII-bytes precondition must fail loudly. Longer or
      // non-ASCII values overflow the BIGINT cast; empty strings make
      // conv() NULL; a leading byte < 0x10 makes hex(BIGINT) odd-length
      // (minimal form drops the zero nibble) so unhex() yields NULL —
      // all three decode to corrupted/NULL payloads that LOOK valid.
      val checked = s"CASE WHEN octet_length($o) > 8 " +
        s"OR octet_length($o) <> char_length($o) " +
        s"OR octet_length($o) = 0 OR ascii($o) < 16 " +
        s"THEN raise_error(concat('packed max_by: column $o value not " +
        s"packable into BIGINT (need 1..8 ASCII bytes, first byte >= 0x10): ', $o)) " +
        s"ELSE $o END"
      expr(s"decode(unhex(hex(max_by(" +
        s"CAST(conv(hex(encode($checked, 'UTF-8')), 16, 10) AS BIGINT), $ordSql))), 'UTF-8')")
    } else expr(s"max_by($o, $ordSql)")

  /** Merge-time variant: last-write-wins over partition-local key runs.
    * REQUIRES same-key rows co-located and contiguous, ordered with the
    * version `seq` DESCENDING within each run (the materialized-layout
    * write shape — repartitioned on a key-functional column and
    * key-sorted within partitions). One lazy pass keeping each run's
    * first row: no shuffle, no aggregate, no window, O(1) state.
    */
  def compactKeyRuns(df: DataFrame, keys: Seq[String]): DataFrame = {
    val idx = keys.map(df.schema.fieldIndex)
    df.mapPartitions { it =>
      var prev: Seq[Any] = null
      it.filter { r =>
        val k = idx.map(r.get)
        val keep = k != prev
        prev = k
        keep
      }
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  /** DuckDB twin: row_number() over the key, latest first. */
  def lastWriteWinsSql(table: String, keys: Seq[String], seq: String,
      allCols: Seq[String]): String =
    s"""SELECT ${allCols.mkString(", ")} FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY ${keys.mkString(", ")} ORDER BY $seq DESC) AS rn
       |  FROM $table) dedup
       |WHERE rn = 1""".stripMargin
}
