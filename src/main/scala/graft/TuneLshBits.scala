package graft.operators

import org.apache.spark.sql.functions._

/** Measured demonstration of the sign-LSH signature-width law
  * (Ann.nBitsForCorpus) on DISTINCT-content corpora — the r14 companion
  * to the perturbed-payload scale decade (VERDICT r13 #1): with nBits
  * fixed, per-table bucket occupancy grows with the corpus and the
  * Σ bucket² candidate join goes quadratic on content no collapse valve
  * can absorb; holding occupancy via nBits = law(n) restores the linear
  * shape. Runs lshNearDupPairsDirect at the PRODUCTION near-dup
  * threshold 0.9 (p ≈ 0.86 per hyperplane — recall 1−(1−0.86^b)^24 stays
  * ≥ 0.999 at the law's widths, unlike the corpus's loose 0.35 regime
  * where q_lsh_neardup's pinned 4 bits is the measured-recall choice),
  * both widths timed twice on the same persisted corpus, min reported.
  *
  * Usage: runMain graft.operators.TuneLshBits dir1 [dir2 ...]
  */
object TuneLshBits {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1")
    val spark = graft.Sessions.builder(graft.Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timeOnce(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val rows = f
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    println("| corpus | n | law nBits | pairs fixed4/law | t_fixed4 (s) | t_law (s) |")
    println("|---|---|---|---|---|---|")
    for (dir <- dirs) {
      val c = graft.sources.Tables.embeddings(spark, dir)
        .select($"vec_id".as("id"), $"embedding".as("vec"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val n = c.count()
      val dim = c.select(size($"vec")).head().getInt(0)
      val law = Ann.nBitsForCorpus(n)
      def run(bits: Int): (Long, Double) = {
        val (r1, t1) = timeOnce(Ann.lshNearDupPairsDirect(
          c, 0.9, 24, bits, 42, 10000, dim).count())
        val (_, t2) = timeOnce(Ann.lshNearDupPairsDirect(
          c, 0.9, 24, bits, 42, 10000, dim).count())
        (r1, math.min(t1, t2))
      }
      // same analytic estimate as the shipped gate: don't run an arm the
      // gate would (correctly) refuse — record it as gated instead
      val est4 = 24.0 * n * n / 16.0
      val (p4s, t4s) =
        if (est4 > Ann.MaxLshCandidateEstimate) ("gated", "gated")
        else { val (p, t) = run(4); (p.toString, f"$t%.2f") }
      val (pl, tl) = run(law)
      println(f"| ${new java.io.File(dir).getName} | $n%d | $law%d | " +
        f"$p4s/$pl%d | $t4s | $tl%.2f |")
      // r15 auto-width arm (VERDICT r14 #4): the PUBLIC operator at the
      // production threshold with NO width knob — the valve probe, the
      // candidate gate, and the auto-resolved occupancy law all engage
      // on their own. Pairs must equal the explicit law arm's.
      val (ra, ta) = timeOnce(
        Ann.lshNearDupPairs(c, threshold = 0.9).count())
      println(f"|  └ auto (no knob) | $n%d | — | $ra%d | — | $ta%.2f |")
      require(ra == pl,
        s"auto width produced $ra pairs vs explicit law $pl")
      c.unpersist(blocking = true)
      System.gc()
    }
    spark.stop()
  }
}
