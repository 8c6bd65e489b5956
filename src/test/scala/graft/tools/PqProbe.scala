package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Embed, Pq}

/** Dev probe: PQ recall@3 vs shortlist width (and vs the untrained
  * codebook) on the sf0.001 fixture — the measurement behind PqSpec's
  * recall bar. `sbt "Test/runMain graft.tools.PqProbe"`.
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.GraftFunctions.register(spark)
    val NQ = 50
    val emb = Embed.prepared(graft.fixtures.Fixtures.embeddings(spark, dir))
      .filter(col("nrm") > 0).cache()
    println(s"[pqprobe] corpus=${emb.count()}")
    val subn = Pq.subvecs(emb)
    val init = Pq.initCb(subn, NQ)
    val trained = Pq.lloydIter(subn, init, NQ).cache()

    val truth = {
      val q = emb.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("nrm").as("qnrm"))
      emb.filter(col("vec_id") >= NQ).join(broadcast(q), lit(true))
        .withColumn("cos_sim",
          expr(Embed.cosineSql(Embed.dotExpr("qqv", "qv"), "qnrm", "nrm")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rank") <= 3).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    for (cbl <- Seq("init" -> init, "trained" -> trained); sl <- Seq(10, 25, 50, 100)) {
      val got = Pq.search(emb, subn, cbl._2, NQ, sl, 3)
        .select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[pqprobe] cb=${cbl._1}%-7s shortlist=$sl%3d recall@3=${(got & truth).size.toDouble / truth.size}%.3f")
    }
    spark.stop()
  }
}
