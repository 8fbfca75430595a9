package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measure the q_lsh_recall sampled-gate PRODUCTION posture (VERDICT
  * r15 #6): the lshRecall scaladoc's sampleFraction device has two
  * forms — the pair-filter form the query ships (exact side still
  * computes ALL pairs, then keeps those whose endpoints both survive
  * the id-hash draw: correctness-identical, no cost cut) and the
  * corpus-sample form the scaladoc names as the scale path ("at scale,
  * build the exact side from the sampled corpus directly"). The second
  * had never been RUN at f < 1 on a large corpus; this main measures
  * both at a given decade and prints the binomial detection-power table
  * for the measured sampled-pair counts: a tier whose true recall
  * regressed to r trips a gate of m checked pairs with probability
  * 1 − r^m.
  *
  * The two forms check the SAME pair population: an exact pair survives
  * the pair filter iff both endpoints survive the corpus draw, and the
  * sampled corpus produces exactly the pairs with both endpoints kept
  * (pair membership in the label-blocked join depends on the two rows
  * alone). Printed `pairs` from the two forms at equal f must therefore
  * be EQUAL — the run asserts it (fails loudly on drift).
  *
  * The approx side (fixed 4 bits at the loose 0.35 threshold) is
  * candidate-gated past ~sfp10 BY DESIGN (lshNearDupPairs' analytic
  * gate; sfp100 estimates 1.2e11). The 4th arg therefore either raises
  * the budget explicitly for an offline measurement (sfp30: ~1.1e10
  * candidates) or passes 0 = exact-only mode (sfp100), which measures
  * the sampled exact side and detection table without the recall join.
  *
  * Usage: runMain graft.TuneSampledRecall <dir> [f1,f2,…] [cpus] [approxBudget|0]
  */
object TuneSampledRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val fracs = if (args.length > 1) args(1).split(",").map(_.toDouble).toSeq
      else Seq(0.3, 0.1)
    val cpus = if (args.length > 2) args(2).toInt else 16
    val approxBudget = if (args.length > 3) args(3).toLong
      else operators.Ann.MaxLshCandidateEstimate
    val exactOnly = approxBudget == 0L
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def keep(f: Double)(id: org.apache.spark.sql.Column) =
      pmod(xxhash64(id, lit(48)), lit(1000000L)) < lit((f * 1e6).toLong)

    // the production approx side, timed once (it runs the full corpus
    // at every fraction — the gate samples only the exact side)
    def timed[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[sampled-recall] $what%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val ap: Option[DataFrame] = if (exactOnly) None
      else Some(timed("approx side (full corpus, 48 tables)") {
        val e = sources.Tables.embeddings(spark, dir)
          .select($"vec_id".as("id"), $"embedding".as("vec"))
          .repartition(spark.sparkContext.defaultParallelism)
        val df = operators.Ann.lshNearDupPairs(e, threshold = 0.35,
            nTables = 48, maxCandidateEstimate = approxBudget)
          .select($"a_id", $"b_id", lit(1L).as("__hit"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count(); df
      })

    def stats(ex: DataFrame): (Long, Long) = ap match {
      case Some(a) =>
        val r = ex.join(a, Seq("a_id", "b_id"), "left_outer")
          .agg(count(lit(1)), sum(coalesce($"__hit", lit(0L)))).head()
        (r.getLong(0), r.getLong(1))
      case None => (ex.count(), -1L)
    }

    for (f <- fracs) {
      // form A (shipped query): full exact pair frame, endpoint filter
      val (nA, foundA) = timed(f"f=$f pair-filter form (full exact join)") {
        stats(queries.Embeddings.cosineNearDupPairsFrom(spark,
          sources.Tables.embeddings(spark, dir)
            .select($"vec_id", $"label", $"embedding"), 0.35)
          .filter(keep(f)($"a_id") && keep(f)($"b_id")))
      }
      // form B (production): exact side built from the sampled corpus
      val (nB, foundB) = timed(f"f=$f corpus-sample form (f^2 exact join)") {
        stats(queries.Embeddings.cosineNearDupPairsFrom(spark,
          sources.Tables.embeddings(spark, dir)
            .select($"vec_id", $"label", $"embedding")
            .filter(keep(f)($"vec_id")), 0.35))
      }
      require(nA == nB && foundA == foundB,
        s"form drift at f=$f: pair-filter ($nA, $foundA) vs corpus-sample ($nB, $foundB)")
      val miss = if (exactOnly) -1L else nB - foundB
      println(f"[sampled-recall] f=$f pairs=$nB found=$foundB missed=$miss")
      // detection power of THIS sampled gate against a tier whose true
      // recall regressed to r: P(>=1 miss) = 1 - r^pairs
      for (r <- Seq(0.99, 0.95, 0.90))
        println(f"[sampled-recall]   P(detect recall=$r%.2f) = ${1 - math.pow(r, nB.toDouble)}%.4f")
    }
    spark.stop()
  }
}
