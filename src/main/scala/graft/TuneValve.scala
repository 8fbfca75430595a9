package graft.operators

import org.apache.spark.sql.functions._

/** Valve-constant sensitivity sweep (round 12, VERDICT r11 #7): measure
  * the direct-vs-collapsed crossover of the exact-twin collapse as a
  * function of the duplication factor, on the REAL sf0.1 embeddings
  * corpus, for the Ann.lshNearDupPairs valve (the family's most
  * expensive member; the five valves share the same Σ-pair-mass ∝ dup²
  * cost model and the same constant, DupProbe.CollapseDupFactor).
  *
  * Corpus construction per dup factor d: the base corpus plus ⌊d−1⌋
  * full re-id'd replicas plus a prefix replica for the fractional part
  * — total/distinct = d with a mixed class-size profile (some classes
  * at ⌈d⌉, some at 1), the partial-duplication shape a real crawl has,
  * not just integer twin decks. Both branches are timed on the SAME
  * persisted corpus, twice each (min reported) so JIT/page-cache
  * first-pay doesn't pick the winner. Emits a markdown table for
  * SCALE_r12.md.
  *
  * Usage: runMain graft.operators.TuneValve [sfDir] */
object TuneValve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.builder(graft.Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val n = base.count()
    val dim = base.select(size($"vec")).head().getInt(0)

    // replica id offset derived from the real id range — base ids need
    // not be dense from 0 or bounded, and replica ids can never collide
    val offset = base.agg(max($"id").cast("long")).head().getLong(0) + 1L

    def corpusAt(d: Double) = {
      val full = math.floor(d - 1.0 + 1e-9).toInt
      val fracL = ((d - 1.0 - full) * n).toLong
      // DataFrame.limit takes an Int; a silent saturation would mis-size
      // the sweep corpus for base corpora beyond ~2.1B rows (ADVICE r13)
      require(fracL <= Int.MaxValue,
        s"fractional replica $fracL exceeds Int.MaxValue — limit() cannot express it")
      val frac = fracL.toInt
      var c = base
      for (k <- 1 to full)
        c = c.unionByName(base.select(($"id" + k * offset).as("id"), $"vec"))
      if (frac > 0)
        // deterministic fractional replica: the first `frac` ids in order,
        // independent of how dense or where the id range starts
        c = c.unionByName(base.orderBy($"id").limit(frac)
          .select(($"id" + (full + 1) * offset).as("id"), $"vec"))
      c
    }

    def timeOnce(f: => Long): Double = {
      val t0 = System.nanoTime(); val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"    rows=$rows%d  $s%.2f s"); s
    }

    println("| dup factor | rows | direct (s) | collapsed (s) | winner |")
    println("|---|---|---|---|---|")
    for (d <- Seq(1.0, 1.1, 1.2, 1.4, 1.7, 2.0, 3.0)) {
      val c = corpusAt(d).persist()
      val rows = c.count()
      // (threshold, tables, bits, seed, maxBucket) = the q_lsh_neardup
      // production parameters, so the sweep measures the shipped plan
      val td = (1 to 2).map(_ => timeOnce(
        Ann.lshNearDupPairsDirect(c, 0.35, 24, 4, 42, 10000, dim).count())).min
      val tc = (1 to 2).map(_ => timeOnce(
        Ann.lshNearDupPairsCollapsed(c, 0.35, 24, 4, 42, 10000, dim).count())).min
      val win = if (td <= tc) "direct" else "collapsed"
      println(f"| $d%.1f | $rows%d | $td%.2f | $tc%.2f | $win |")
      c.unpersist(blocking = true)
      System.gc()
    }
    spark.stop()
  }
}
