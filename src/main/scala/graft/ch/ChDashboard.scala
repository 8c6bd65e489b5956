package graft.ch

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable

/** Reads panel queries out of a Grafana dashboard export — the artifact a
  * reference user actually has (etc/grafana-dashboard-trades.json). The
  * engine ingests the dashboard itself rather than embedding copies of its
  * SQL: [[rawSqls]] returns every `rawSql` in document order (20 panels in
  * the reference dashboard), ready for [[ChDialect.translate]].
  */
object ChDashboard {

  val DefaultPath = "/root/reference/etc/grafana-dashboard-trades.json"

  def path: String = sys.env.getOrElse("GRAFT_DASHBOARD_JSON", DefaultPath)

  private val missingNoted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Whether the dashboard export is readable. The `ch_*` and `e2e_*`
    * entries read their SQL from it at run time, so both modules register
    * nothing without it; the first check in a JVM that finds it missing
    * names the path and the entries that drops on stderr.
    */
  def available: Boolean = {
    val ok = new File(path).isFile
    if (!ok && missingNoted.compareAndSet(false, true))
      System.err.println(s"[graft] missing input: dashboard JSON $path " +
        s"(set GRAFT_DASHBOARD_JSON) - dropping ${graft.queries.ChQueries.entries.size} " +
        s"ch_* and ${graft.queries.E2eQueries.entries.size} e2e_* entries")
    ok
  }

  // a dashboard export is immutable config — parse each file once per JVM
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  def rawSqls(p: String = path): Seq[String] =
    cache.computeIfAbsent(p, parse)

  private def parse(p: String): Seq[String] = {
    val root = new ObjectMapper().readTree(new File(p))
    val out = mutable.ArrayBuffer[String]()
    def walk(n: JsonNode): Unit =
      if (n.isObject) {
        val sql = n.get("rawSql")
        if (sql != null && sql.isTextual) out += sql.asText
        n.fields().forEachRemaining(e => walk(e.getValue))
      } else if (n.isArray) n.forEach(walk)
    walk(root)
    out.toSeq
  }

  /** The dashboard's SQL-valued template variables (name → query) — the
    * other half of its query surface (GD:3767 `sec_code`, GD:3879
    * `sec_code_etf`). Non-SQL variables (the `interval` options list)
    * are skipped.
    */
  private val tmplCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  def templatingSqls(p: String = path): Seq[(String, String)] =
    tmplCache.computeIfAbsent(p, parseTemplating)

  private def parseTemplating(p: String): Seq[(String, String)] = {
    val root = new ObjectMapper().readTree(new File(p))
    val list = root.path("templating").path("list")
    val out = mutable.ArrayBuffer[(String, String)]()
    list.forEach { v =>
      val q = v.path("query")
      if (q.isTextual && q.asText.toLowerCase.contains("select"))
        out += (v.path("name").asText -> q.asText)
    }
    out.toSeq
  }
}
