package graft

/** Write `.explain("formatted")` for a list of registered queries to
  * files — the plans/r17 before/after evidence (not part of the driver
  * contract). Usage:
  *   runMain graft.DumpPlans <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try w.println(plan) finally w.close()
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[plans] $name FAILED: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
