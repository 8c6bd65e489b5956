package graft.tools

/** Measures the adaptive-width recall claim empirically (round 7): the
  * embed-near-dup fixture plants exactly 50 cos≈0.99 twin pairs
  * (vec_id < 50 ↔ vec_id + 100000, replica 0 only in the scaled corpus),
  * so planted-pair recall is directly countable at both scales:
  * sf0.1 → 8-bit signatures (the historical width), /tmp/graft_sf1 →
  * 11 bits (corpus-adaptive). The Scaladoc predicts ≈0.99 recall at 8
  * bits and ≈0.97 at 11; this prints the measured values.
  *
  * Run with `sbt "Test/runMain graft.tools.RecallProbe"` (after
  * ScaleProbe has materialized /tmp/graft_sf1).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- Seq(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "/tmp/graft_sf1")) {
      graft.fixtures.Fixtures.clearDerivedCache(spark)
      val out = graft.SparkEntry.queries("llm_embed_neardup")(spark, dir)
      val planted = out
        .where("vec_a < 50 AND vec_b = vec_a + 100000").count()
      val total = out.count()
      println(f"[recall] $dir: planted $planted/50 (${planted / 50.0}%.2f), total pairs $total")
    }
    spark.stop()
  }
}
