package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** End-to-end replay of the reference's p1 program from its OWN file
  * formats (reference Predictor.scala:350-380 wired to the readers of
  * Predictor.scala:83-203): headerless node CSV + space-delimited
  * labeled/unlabeled edge lists + tab-delimited SNAP ground truth →
  * LinkPredictor.run → threshold-sweep metrics.
  *
  * A user of the reference points this at the same four files
  * (node_information.csv, training_set.txt, testing_set.txt,
  * Cit-HepTh.txt) and gets the same pipeline on Spark 4 — with the
  * conscious fidelity deviations documented in LinkPredictor's scaladoc
  * (built-in exprs for the UDFs, probability sweep, seeded determinism).
  */
object P1Files {

  /** Run p1 from reference-format files; returns (scored candidates,
    * threshold-sweep metrics). The train filter drops rows whose label
    * failed the ANSI-safe parse (malformed lines → null, Tables
    * .labeledEdges) — BOTH label values are kept: LR needs positives and
    * negatives, and the labeled training file itself carries supervision
    * (reference :158-167). A training file that reads as fewer splits
    * than `defaultParallelism` is featurized on every core and fitted at
    * its own split count (LinkPredictor.run's width rule); the candidate
    * side runs at the width its files read as. */
  def run(spark: SparkSession, nodeCsvPath: String, trainingPath: String,
      testingPath: String, groundTruthPath: String,
      maxIter: Int = 100): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val nodes = Tables.nodeInfoCsv(spark, nodeCsvPath)
      .na.fill(Map("title" -> "", "authors" -> "", "journal" -> "",
        "abstract" -> ""))
      .withColumnRenamed("srcId", "id")
    val train = Tables.labeledEdges(spark, trainingPath)
      .filter(col("label").isNotNull)
    val cand = Tables.edges(spark, testingPath)
    val gt = Tables.snapEdges(spark, groundTruthPath)
    val (_, scored, metrics) =
      LinkPredictor.run(spark, nodes, train, cand, gt, maxIter)
    (scored, metrics)
  }

  /** CLI mirroring the reference's main (Predictor.scala:424-432):
    * args = nodeCsv trainingTxt testingTxt groundTruthTxt [maxIter]. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: P1Files <node_information.csv> <training_set.txt> " +
        "<testing_set.txt> <ground_truth.txt> [maxIter]")
    val maxIter = if (args.length > 4) args(4).toInt else 100
    val builder = graft.Sessions.builder(graft.Sessions.cpus)
    val spark = sys.env.get("SPARK_GRAFT_MASTER").fold(builder)(builder.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (scored, metrics) = run(spark, args(0), args(1), args(2), args(3), maxIter)
    println(s"Total candidate edges scored: ${scored.count()}")
    // collect-then-print: the reference's RDD foreach(println) executes on
    // executors (SURVEY.md §3.2 stage 8) — driver-side print is the fix.
    metrics.collect().foreach(println)
    spark.stop()
  }
}
