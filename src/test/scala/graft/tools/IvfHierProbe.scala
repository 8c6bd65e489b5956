package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Embed, Ivf, SemDedup}

/** Dev probe for the round-14 two-level assignment (r13 verdict item 1):
  * at two corpus sizes where K = chooseK(N, 35) grows 10×, measure the
  * flat O(N·K) assignment vs [[Ivf.assignHier]] — wall time AND the
  * counted dot products (flat = N·K exactly; hier = N·G coarse scan +
  * Σ assigned cells' member counts for the fine stage + ~3·K·G codebook
  * train/membership) — plus the AGREEMENT rate (fraction of vectors whose
  * two-level cell equals the flat argmax; the documented nprobe=1
  * approximation contract, not an exactness claim, at K ≥ HierMinK).
  *
  * Two corpus shapes, because cell quality is data-dependent:
  *   - CLUSTERED: each vector is a base embedding from the real fixture
  *     plus small deterministic per-id noise — the corpus shape semantic
  *     dedup actually targets (near-dup clumps);
  *   - RANDOM: hash-derived pseudo-random vectors — the adversarial case
  *     (coarse cells carve an isotropic sphere, boundary assignments
  *     dominate, agreement is the honest floor).
  *
  * `sbt "Test/runMain graft.tools.IvfHierProbe"`.
  */
object IvfHierProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.GraftFunctions.register(spark)

    val base = Embed.prepared(
      graft.fixtures.Fixtures.embeddings(spark, "/root/testdata/sf0.01"))
      .select("vec_id", "qv").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Long](1).toArray)

    /** Clustered corpus: vector i = base[i % nBase] + deterministic noise
      * in [-noise, +noise] per component (base quantized values are ~1e3,
      * so noise 20 keeps members within a tight cone of their clump).
      */
    def clustered(n: Int, noise: Int): DataFrame = {
      val bcast = spark.sparkContext.broadcast(base)
      import spark.implicits._
      spark.range(n).as[Long].mapPartitions { it =>
        val b = bcast.value
        it.map { i =>
          val v = b((i % b.length).toInt)
          val out = new Array[Long](v.length)
          var j = 0
          while (j < v.length) {
            // splitmix-style deterministic mix of (i, j)
            var z = i * 0x9e3779b97f4a7c15L + j * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z ^= z >>> 31
            out(j) = v(j) + (z % (2L * noise + 1)) - noise
            j += 1
          }
          (i, out.toSeq)
        }
      }.toDF("vec_id", "qv")
        .withColumn("nrm", expr(Embed.normExprOf("qv")))
    }

    /** Random corpus: every component an independent hash mix. */
    def random(n: Int): DataFrame = {
      import spark.implicits._
      spark.range(n).as[Long].mapPartitions { it =>
        it.map { i =>
          val out = new Array[Long](Embed.Dim)
          var j = 0
          while (j < Embed.Dim) {
            var z = (i + 1) * 0x9e3779b97f4a7c15L + (j + 7) * 0x94d049bb133111ebL
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z ^= z >>> 31
            out(j) = (z % 2001L) - 1000L
            j += 1
          }
          (i, out.toSeq)
        }
      }.toDF("vec_id", "qv")
        .withColumn("nrm", expr(Embed.normExprOf("qv")))
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    def probe(tag: String, emb: DataFrame, n: Long, checkAgree: Boolean): Unit = {
      val e = emb.cache(); e.count()
      val k = SemDedup.chooseK(n, 35)
      val g = Ivf.hierG(k).toLong
      val cent = Ivf.initCent(e, k, 0)
      // agreement at the family's smaller N (at the larger one it would
      // double the flat lane's cost; the contract is spec-pinned anyway)
      val agree = if (!checkAgree) -1.0 else {
        val flatRes = Ivf.assign(e, cent, k).withColumnRenamed("cent_id", "cf")
        val hierRes = Ivf.assignHier(e, cent, k).withColumnRenamed("cent_id", "ch")
        val j = flatRes.join(hierRes, Seq("vec_id"), "full").cache()
        val tot = j.count()
        val same = j.filter(col("cf") === col("ch")).count()
        j.unpersist()
        same.toDouble / tot
      }
      // measured dots: hier pays N·G (coarse, live cells ≤ g) + Σ assigned
      // cells' member counts (fine) + ~3·K·G (codebook); flat pays N·K
      val fineDots = Ivf.hierCellCosts(e, cent, k)
        .agg(sum("cell_n")).first().getLong(0)
      val nValid = e.filter(col("nrm") > 0).count()
      val flatDots = nValid * k
      val hierDots = nValid * g + fineDots + 3L * k * g
      val tFlat = (1 to 2).map(_ =>
        time(Ivf.assign(e, cent, k).write.format("noop").mode("overwrite").save())).min
      val tHier = (1 to 2).map(_ =>
        time(Ivf.assignHier(e, cent, k).write.format("noop").mode("overwrite").save())).min
      println(f"[hierprobe] $tag n=$n k=$k g=$g agree=$agree%.4f " +
        f"flat_dots=$flatDots hier_dots=$hierDots dot_ratio=${flatDots.toDouble / hierDots}%.1f " +
        f"flat_sec=$tFlat%.2f hier_sec=$tHier%.2f speedup=${tFlat / tHier}%.2f")
      e.unpersist()
    }

    // two decades: K grows 10× between them (the r13 verdict's bar —
    // "a probe at two N's deep enough that K grows 10×")
    for (n <- Seq(70000L, 700000L))
      probe("clustered", clustered(n.toInt, 20), n, checkAgree = n == 70000L)
    for (n <- Seq(70000L, 700000L))
      probe("random", random(n.toInt), n, checkAgree = n == 70000L)
    spark.stop()
  }
}
