package graft

import org.apache.spark.sql.functions._

/** IVF-PQ probe sweep — decomposes the tier's shortlist-recall loss
  * into its two terms (the TunePq discipline applied to the composed
  * index). Usage:
  *
  *   runMain graft.TuneIvfPq [sfDir...]
  *   TUNEIVFPQ_PROBES=4,8,16 to override the probe grid.
  *
  * For each corpus: exact top-5, then shortlist-recall@(5 in 50) of
  * (a) plain PQ-ADC (scan everything — no probe loss, raw-vector
  * codebooks) and (b) IVF-PQ at each nProbe (residual codebooks, only
  * nProbe of 16 cells scanned). nProbe = 16 is the full-probe point:
  * any gap from it to the nProbe = 8 shipped default is pure PROBE
  * MISS (the true neighbor lived in an unprobed cell); the gap between
  * full-probe IVF-PQ and plain PQ is the residual-coding delta at
  * equal code budget. The testdata embeddings are uniform random — the
  * worst case for BOTH terms: coarse cells on structureless vectors
  * are near-arbitrary Voronoi shards (so true neighbors scatter across
  * cells), and residuals to such centroids are WORSE than the raw
  * vectors: a random unit vector is near-orthogonal to its (near-
  * arbitrary) centroid, so ‖v̂ − c‖ ≈ √2 — the residual carries ~2× the
  * energy of the unit vector itself, and the same 48 code bits quantize
  * it with ~2× the error. Measured (r14, shortlist@50): sf0.1 raw-PQ
  * 0.72 vs full-probe IVF-PQ 0.48 (that whole gap is the residual-
  * energy effect — nProbe = 16 scans everything), nProbe 8 → 0.48,
  * nProbe 4 → 0.38; sfp30 0.32 / 0.26 / 0.24 / 0.24. On clustered
  * production embeddings the inequality flips — cells capture real
  * structure, ‖residual‖ ≪ 1, and residual coding is why FAISS
  * composes the two tiers; these uniform-data numbers are the honest
  * floor, not the typical case. */
object TuneIvfPq {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1")
    val probes = sys.env.getOrElse("TUNEIVFPQ_PROBES", "4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    for (dir <- dirs) {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select($"vec_id".as("id"), $"embedding".as("vec"))
        .repartition(spark.sparkContext.defaultParallelism)
      val q = e.filter($"id" < 10)
      val exact = graft.operators.Ann.bruteTopK(e, q, k = 5)
        .select($"q_id", $"id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val sl = df.select($"q_id", $"id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact & sl).size.toDouble / exact.size
      }
      val coarse = graft.queries.Extended.ivfCentroidsFor(spark, dir)
      val cb = graft.queries.Extended.ivfPqCodebooksFor(spark, dir)
      val cbRaw = graft.queries.Extended.pqCodebooksFor(spark, dir)
      val k = graft.queries.Extended.PqShortlist
      val dSub = graft.queries.Extended.PqDSub
      val t0 = System.nanoTime()
      val pq = recallOf(graft.operators.Ann.pqTopKWith(cbRaw, dSub, e, q, k))
      println(f"[tuneivfpq] $dir pq_scan_all recall@(5 in $k)=$pq%.3f " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      for (p <- probes) {
        val t1 = System.nanoTime()
        val r = recallOf(graft.operators.Ann.ivfPqTopKWith(
          coarse, cb, dSub, e, q, k = k, nProbe = p))
        println(f"[tuneivfpq] $dir ivfpq nProbe=$p%-2d recall=$r%.3f " +
          f"(${(System.nanoTime() - t1) / 1e9}%.1f s)")
      }
    }
    spark.stop()
  }
}
