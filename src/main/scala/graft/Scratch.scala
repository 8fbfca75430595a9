package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{GraftBridge, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** One registered query in isolation (not part of the driver contract):
  * its formatted plan, then its row count, its build and run seconds,
  * and the jobs and stages each started.
  *
  *   runMain graft.Scratch <sf-dir> <query> > plan.txt
  *
  * Building is timed apart from running: some queries (q_linkpred_e2e)
  * run eager Spark jobs (ML fit, cache materialization) while BUILDING
  * the DataFrame. Running is a `noop` write, as in lpbench's timed
  * region, which evaluates every column of every row. A `count()` would
  * not: column pruning drops each deterministic projected expression the
  * count does not need, so it times the scan and can leave out most of a
  * query's work (SCALE_r16.md §6b). The row count rides the same write
  * as an Observation, so the query runs once. Stages count those that
  * ran, not those skipped because their shuffle output already existed. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q_ngram_jaccard"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    })
    def started(): (Int, Int) = {
      GraftBridge.drainListeners(spark)
      (jobs.get, stages.get)
    }
    val tc = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val buildSec = (System.nanoTime() - tc) / 1e9
    val (buildJobs, buildStages) = started()
    df.explain("formatted")
    val rows = Observation("scratch")
    val (j0, s0) = started()
    val t0 = System.nanoTime()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val runSec = (System.nanoTime() - t0) / 1e9
    val n = rows.get("rows")
    val (j1, s1) = started()
    println(f"rows=$n  build=$buildSec%.2f s  run=$runSec%.2f s  total=${buildSec + runSec}%.2f s")
    println(s"jobs: build=$buildJobs run=${j1 - j0}  " +
      s"stages: build=$buildStages run=${s1 - s0}")
    spark.stop()
  }
}
