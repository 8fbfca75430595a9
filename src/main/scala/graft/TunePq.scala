package graft

import org.apache.spark.sql.functions._

/** PQ codebook-width sweep — the measurement behind Extended.PqKSub = 64
  * and the AnnSpec shortlist floor (r14). Usage:
  *
  *   runMain graft.TunePq [sfDir...]
  *
  * For each corpus and (kSub, lloydIters) candidate, fits the 8×8 PQ
  * codebooks and prints recall@5 and shortlist-recall@(5 in 50) of the
  * ADC ranking against exact brute-force cosine. The testdata
  * embeddings are uniform random — PQ's structureless worst case — so
  * these are floor numbers, not typical ones. Measured r14 (sf0.01 /
  * sf0.1 shortlist@50): kSub=16,it=2 0.72/0.48; 32,2 0.78/0.66;
  * 64,2 0.88/0.62; 64,4 0.94/0.72. */
object TunePq {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    for (dir <- dirs) {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select($"vec_id".as("id"), $"embedding".as("vec"))
      val q = e.filter($"id" < 10)
      val nv = e
        .select($"id", transform($"vec", _.cast("double")).as("v"))
        .withColumn("nrm", graft.queries.Embeddings.norm($"v"))
        .filter($"nrm" > 0)
        .select($"id", transform($"v", x => x / $"nrm").as("vh"))
        .persist()
      val exact = graft.operators.Ann.bruteTopK(e, q, 5)
        .select($"q_id", $"id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((kSub, iters) <- sys.env.get("TUNEPQ_GRID").map(_.split(";").toSeq.map { s => val p = s.split(","); (p(0).toInt, p(1).toInt) }).getOrElse(Seq((16, 2), (32, 2), (64, 2), (64, 4)))) {
        val t0 = System.nanoTime()
        val cb = graft.operators.Ann.pqFit(nv, 8, 8, kSub, iters, 42)
        val fitS = (System.nanoTime() - t0) / 1e9
        def recallAt(kShort: Int): Double = {
          val sl = graft.operators.Ann.pqTopKWith(cb, 8, e, q, kShort)
            .select($"q_id", $"id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          (exact & sl).size.toDouble / exact.size
        }
        println(f"$dir kSub=$kSub%3d iters=$iters fit=$fitS%5.1fs " +
          f"recall@5=${recallAt(5)}%.3f shortlist@50=${recallAt(50)}%.3f")
      }
      nv.unpersist()
    }
    spark.stop()
  }
}
