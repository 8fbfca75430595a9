package graft

/** Seeded mixture-of-Gaussians embedding fixture (VERDICT r14 #5) — the
  * clustered arm for the PQ/IVF-PQ recall measurements. The driver
  * testdata embeddings are uniform random, the information-theoretic
  * WORST case for any space partitioner (TuneIvfPq's scaladoc carries
  * the residual-energy argument); production embeddings cluster, which
  * is the regime residual coding exists for. This tool writes an
  * embeddings.parquet with the testdata schema (vec_id BIGINT,
  * embedding FLOAT[dim], label INT = the generating component) so
  * TunePq/TuneIvfPq run on it UNCHANGED — same fit paths, same recall
  * harness, directly comparable rows for the SCALE artifact.
  *
  *   runMain graft.MakeClustered <outDir> [n] [centers] [sigma] [dim]
  *
  * Deterministic: one driver-side java.util.Random(42) stream
  * generates centers then points in a fixed order (n·dim ≈ 10 MB at
  * the defaults — trivially driver-sized; the fixture is a measurement
  * input, not a scale corpus). Component assignment is round-robin
  * (i mod centers) so every component has n/centers members; points
  * are center + sigma·N(0, I). At sigma 0.25 over unit-scale centers
  * the clusters are well-separated but overlapping enough that
  * recall is not trivially 1. */
object MakeClustered {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/clustered")
    val n = args.lift(1).map(_.toInt).getOrElse(2000)
    val centers = args.lift(2).map(_.toInt).getOrElse(32)
    val sigma = args.lift(3).map(_.toDouble).getOrElse(0.25)
    val dim = args.lift(4).map(_.toInt).getOrElse(64)
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val rnd = new java.util.Random(42)
    val cs = Array.fill(centers)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until n).map { i =>
      val c = cs(i % centers)
      val v = Array.tabulate(dim)(d =>
        c(d) + (sigma * rnd.nextGaussian()).toFloat)
      (i.toLong, v, i % centers)
    }
    rows.toDF("vec_id", "embedding", "label")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[make-clustered] $out/embeddings.parquet: n=$n " +
      s"centers=$centers sigma=$sigma dim=$dim")
    spark.stop()
  }
}
