package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session settings live. Bench, Verify, the
  * offline mains and the test suite all build their session from
  * `builder` and add only what is their own (an app name, a warehouse
  * dir, a master override). */
object Sessions {

  /** Cores a session runs on: `SPARK_GRAFT_CPUS`, else the machine's
    * cores capped at 32. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))

  /** `local[cpus]`, `cpus` shuffle partitions, UTC session time zone, no
    * UI. AQE starts big shuffles at 8 × cpus partitions, so per-task
    * sort/agg state stays inside execution memory at 10×+ scale factors
    * (the r8 scale run's q_linkpred_e2e died at `cpus` partitions), and
    * coalesces small ones back to about `cpus`. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 8L * cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
}
