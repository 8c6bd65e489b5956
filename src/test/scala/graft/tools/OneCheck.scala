package graft.tools

/** Dev-only single-entry correctness check (test scope — the committed
  * gate is the driver's full Verify + DuckDB run). Runs ONE registered
  * entry under the Verify session recipe ([[graft.GraftSession]]), dumps its parquet and oracle
  * SQL under /tmp/graft_onecheck/<name>, for tools/oracle_check.py to
  * compare. Usage:
  *   sbt "Test/runMain graft.tools.OneCheck <entry> [<entry2> ...]"
  *   python3 tools/oracle_check.py <sfDir> /tmp/graft_onecheck
  */
object OneCheck {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OneCheck <entryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = "/tmp/graft_onecheck"
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val defs = graft.SparkEntry.allDefs.filter(d => args.contains(d.name))
    val missing = args.toSet -- defs.map(_.name).toSet
    require(missing.isEmpty, s"unknown entries: $missing")
    defs.foreach { d =>
      d.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      println(s"[onecheck] dumped ${d.name}")
    }
    import graft.Verify.jsonString
    val json = defs.flatMap(d => d.oracle.map(o => s"${jsonString(d.name)}: ${jsonString(o)}"))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
