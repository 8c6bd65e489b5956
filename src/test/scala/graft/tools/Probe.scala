package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.fixtures.Fixtures

/** Per-key measurement runner (test scope, not part of the SparkEntry
  * contract), under the [[graft.GraftSession]] recipe over the testdata
  * directory `SPARK_GRAFT_SF_DIR` names. Two modes:
  *
  *   - `keys <entry>...`: the bench's warm protocol (clear; rep1; rep2 →
  *     min-of-2) and cold protocol (clear before EACH rep, min-of-2) for
  *     `SPARK_GRAFT_PROBE_ROUNDS` rounds (default 3) after one warm-up
  *     pass — a per-key before/after reading with the committed bench's
  *     methodology, without a full-surface run;
  *   - `jobs <entry>`: every Spark job's wall time and task count in the
  *     steady-state rep (warm-up, clear, rep1, then rep2 instrumented), so
  *     an overhead-bound key's cost is attributed to jobs (broadcast
  *     builds, eager checkpoints, the final action) rather than guessed.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sfDir> sbt "Test/runMain graft.tools.Probe keys <entry> [<entry2> ...]"
  * SPARK_GRAFT_SF_DIR=<sfDir> sbt "Test/runMain graft.tools.Probe jobs <entry>"
  * }}}
  */
object Probe {
  private val Usage = "usage: Probe keys <entry> [more...] | Probe jobs <entry>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (mode, keys) = (args.head, args.toSeq.tail)
    require(mode == "keys" || (mode == "jobs" && keys.length == 1), Usage)
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: $unknown")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR; $Usage"))
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def run(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    if (mode == "keys") keysMode(spark, keys, run)
    else jobsMode(spark, keys.head, run)
    spark.stop()
  }

  private def keysMode(spark: SparkSession, keys: Seq[String], run: String => Double): Unit = {
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "3").toInt
    // warm-up pass (JIT/codegen + memoized base tables), like the bench
    keys.foreach { n =>
      try run(n)
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[probe] warm-up $n failed: ${e.getMessage}") }
    }
    for (r <- 1 to rounds; n <- keys) {
      Fixtures.clearDerivedCache(spark)
      val w1 = run(n); val w2 = run(n)
      Fixtures.clearDerivedCache(spark)
      val c1 = run(n)
      Fixtures.clearDerivedCache(spark)
      val c2 = run(n)
      println(f"[probe] round=$r $n%-32s warm=${math.min(w1, w2)}%6.2f " +
        f"(reps $w1%5.2f/$w2%5.2f) cold=${math.min(c1, c2)}%6.2f " +
        f"(reps $c1%5.2f/$c2%5.2f)")
    }
  }

  private def jobsMode(spark: SparkSession, n: String, run: String => Double): Unit = {
    run(n) // warm-up (JIT + memo tables)
    Fixtures.clearDerivedCache(spark)
    run(n) // rep1 (cold-ish, builds entry caches)
    // instrument rep2 — the steady-state rep the warm lane reports
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, js.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, tasks) = starts.getOrDefault(je.jobId, (je.time, 0))
        lines.add(f"  job=${je.jobId}%3d ${(je.time - t0) / 1000.0}%6.2fs tasks=$tasks%4d")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t = run(n)
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus deliver the last job ends
    println(f"[probe] $n rep2 total $t%.2fs, jobs:")
    lines.forEach(l => println(l))
  }
}
