package graft

/** Throwaway: measure the sampled lshRecall gate (r8 #6) — sampled pair
  * counts and missed-pair counts per degraded nTables. */
object TuneGate {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    for (f <- Seq(1.0, 0.5, 0.7); nt <- Seq(48, 8, 4, 2, 1)) {
      val rows = graft.queries.Embeddings.lshRecall(spark, dir, f, nt)
        .select("found").collect().map(_.getLong(0))
      println(f"f=$f nTables=$nt pairs=${rows.length} missed=${rows.count(_ == 0L)}")
    }
    spark.stop()
  }
}
