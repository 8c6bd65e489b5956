package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Pmod, SecondsToTimestamp, Subtract, UnixSeconds}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The engine's SQL function surface, written out once. Both install
  * paths read [[table]]: [[graft.GraftExtensions]] (the standard
  * extensions hook, every session of the application) and [[register]]
  * (per session, called by every query entry). The two non-ANSI
  * constructs the reference SQL uses (SURVEY §2.C) — `topK(k)(col)`
  * (GD:374) and `toStartOfInterval(t, INTERVAL n)` (GD:113) — are
  * `graft_topk(col, k)` and `to_start_of_interval(t, seconds)` here.
  */
object GraftFunctions {

  /** `toStartOfInterval(t, seconds)` as a Catalyst tree. */
  def toStartOfInterval(exprs: Seq[Expression]): Expression = {
    val us = UnixSeconds(Cast(exprs.head, TimestampType))
    SecondsToTimestamp(Subtract(us, Pmod(us, Cast(exprs(1), LongType))))
  }

  // codegen'd kernels take n / dedup / mod as literals: they parameterize
  // the generated code
  private def litInt(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def litBool(e: Expression): Boolean = e.eval().asInstanceOf[Boolean]

  private def fn(name: String, usage: String)(
      build: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      build)

  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_topk", "graft_topk(col, k) - SpaceSaving top-k (ClickHouse topK)")(
      e => TopK(e.head, e(1))),
    fn("graft_topk_state", "graft_topk_state(col, k) - serialized sketch (ClickHouse topKState)")(
      e => TopKState(e.head, e(1))),
    fn("graft_topk_merge", "graft_topk_merge(state, k) - fold persisted states (ClickHouse topKMerge)")(
      e => TopKMerge(e.head, e(1))),
    fn("graft_last_by", "graft_last_by(value, ord) - value at max ord on the hash-aggregate path")(
      e => LastBy(e.head, e(1))),
    fn("graft_tdigest_quantiles", "graft_tdigest_quantiles(col, pcts) - merging t-digest quantiles")(
      e => TDigestQuantiles(e.head, e(1))),
    fn("graft_tdigest_state", "graft_tdigest_state(col) - serialized t-digest (quantileTDigestState)")(
      e => TDigestState(e.head)),
    fn("graft_tdigest_merge", "graft_tdigest_merge(state, pcts) - fold persisted digests (quantileTDigestMerge)")(
      e => TDigestMerge(e.head, e(1))),
    fn("graft_capped_longs", "graft_capped_longs(col, cap) - bounded-buffer BIGINT collect")(
      e => CappedLongs(e.head, e(1))),
    fn("to_start_of_interval", "to_start_of_interval(ts, seconds) - ClickHouse toStartOfInterval")(
      toStartOfInterval),
    fn("char_ngrams", "char_ngrams(text, n, dedup) - codegen'd char n-grams")(
      e => CharNgrams(e.head, litInt(e(1)), litBool(e(2)))),
    fn("word_ngrams", "word_ngrams(tokens, n, dedup) - codegen'd word n-grams")(
      e => WordNgrams(e.head, litInt(e(1)), litBool(e(2)))),
    fn("vec_normsq", "vec_normsq(qv) - exact squared norm of a quantized vector")(
      e => VecNormSq(e.head)),
    fn("vec_dot", "vec_dot(a, b) - exact integer dot product")(
      e => VecDot(e.head, e(1))),
    fn("hyperplane_dots", "hyperplane_dots(qv, n) - n deterministic hyperplane dots")(
      e => HyperplaneDots(e.head, litInt(e(1)))),
    fn("cdc_chunks", "cdc_chunks(tokens, mod) - map-side CDC chunk signatures")(
      e => CdcChunks(e.head, litInt(e(1)))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Idempotent-quiet (round 12): every QueryDef run calls register, and
    // re-registering logs a "replaced a previously registered function"
    // WARN per name. Skip only when EVERY name is installed; any missing
    // name (fresh session, a partial surface) re-installs the whole table.
    if (table.forall { case (id, _, _) => registry.functionExists(id) }) return
    table.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }
}
