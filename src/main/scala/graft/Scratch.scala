package graft

/** Ad-hoc profiling entry point (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q_ngram_jaccard"
    // Time construction separately: some queries (q_linkpred_e2e) run
    // eager Spark jobs (ML fit, cache materialization) while BUILDING the
    // DataFrame — timing only the final count() hides most of their cost.
    val tc = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val buildSec = (System.nanoTime() - tc) / 1e9
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    val countSec = (System.nanoTime() - t0) / 1e9
    println(f"rows=$n  build=$buildSec%.2f s  count_sec=$countSec%.2f s  total=${buildSec + countSec}%.2f s")
    spark.stop()
  }
}
