package graft.tools

/** Pre-driver check for the verbatim ch_* panel entries (round 6): each
  * ch_qNN result must equal its transliterated qNN twin's rows
  * positionally (the ch entries rename columns to the panels' Cyrillic
  * aliases) at the DRIVER's correctness SF (sf0.01) — ChDialectSpec proves
  * the same at sf0.001. For the tie-sensitive top-10 panels (q01-q03) the
  * whole row set is compared anyway: a mismatch there would mean a real
  * boundary tie that the oracle's tiebreak and the verbatim LIMIT resolve
  * differently, which is exactly what we need to know before the driver
  * does. Run with `sbt "Test/runMain graft.tools.ChCheck [sfDir]"`.
  */
object ChCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = graft.SparkEntry.queries
    def rows(name: String): Seq[Seq[String]] =
      qs(name)(spark, dir).collect().toSeq
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0000"))

    var bad = 0
    for (n <- 1 to 22) {
      val ch = f"ch_q$n%02d_dashboard_sql"
      // twin lookup by NAME, not list position (r6 advice): a reordered or
      // extended TradeQueries.all must fail loudly, not compare wrong twins
      val prefix = f"q$n%02d_"
      val q = graft.queries.TradeQueries.all.map(_.name)
        .filter(_.startsWith(prefix)) match {
        case Seq(one) => one
        case other => sys.error(s"[chcheck] twin lookup for $ch: expected " +
          s"exactly one $prefix* query, got $other")
      }
      val (a, b) = (rows(ch), rows(q))
      val ok = a == b
      if (!ok) {
        bad += 1
        println(s"[chcheck] MISMATCH $ch vs $q: ${a.length} vs ${b.length} rows")
        a.diff(b).take(3).foreach(r => println(s"[chcheck]   ch-only: $r"))
        b.diff(a).take(3).foreach(r => println(s"[chcheck]   q-only:  $r"))
      } else println(s"[chcheck] OK $ch == $q (${a.length} rows)")
    }
    println(if (bad == 0) "[chcheck] ALL GREEN" else s"[chcheck] $bad MISMATCHES")
    spark.stop()
  }
}
