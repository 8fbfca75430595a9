package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Offline stage profile of q_linkpred_e2e's RERUN cost (ad-hoc tool,
  * not part of the driver contract). The fit is session-memoized, so
  * min-of-N reruns pay: candidate-pair production, the two attach
  * joins + codegen featurize, the scoring chain (VectorAssembler →
  * model.transform's vector UDFs → the p1 UDF), and the sweep. This
  * main VALUES each stage (ProfileValued discipline — count() prunes
  * projected expressions) on a warm model, printing the split that
  * decides whether the interpreted scoring chain is worth fusing. */
object ProfileLinkpred {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    // Warm pass 1: fit + memoize (the cold run the bench bills to pass 1).
    val t0 = System.nanoTime()
    SparkEntry.queries("q_linkpred_e2e")(spark, dir).count()
    println(f"[lp] cold run (fit + score + sweep): ${(System.nanoTime() - t0) / 1e9}%.2f s")

    // Rerun, end-to-end (what min-of-N reports).
    for (i <- 1 to 2) {
      val t = System.nanoTime()
      SparkEntry.queries("q_linkpred_e2e")(spark, dir).count()
      println(f"[lp] warm rerun $i (memoized model): ${(System.nanoTime() - t) / 1e9}%.2f s")
    }

    // Stage split on the same shapes linkpredE2e builds (model warm).
    val nodes = Tables.documents(spark, dir).select(
      $"doc_id".cast("string").as("id"),
      (lit(1993) + pmod($"n_chars", lit(10))).cast("string").as("year"),
      concat_ws(" ", slice(queries.TextAnalysis.toks($"text"), 1, 5)).as("title"),
      concat_ws(",", $"source", $"lang").as("authors"),
      $"lang".as("journal"),
      $"text".as("abstract"))
    val pairs = queries.TextAnalysis.linkpredPairsUnsorted(spark, dir)
      .filter(pmod(xxhash64($"source"), lit(3)) === 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"a_id".cast("string").as("srcId"),
        $"b_id".cast("string").as("dstId"), $"label", $"a_id", $"b_id")

    def stage(name: String)(f: => Any): Unit = {
      val t = System.nanoTime()
      val r = f
      println(f"[lp] $name%-34s ${(System.nanoTime() - t) / 1e9}%6.2f s  ($r)")
    }

    val prepared = ml.LinkPredictor.prepareNodes(nodes).cache()
    stage("prepareNodes cache+count") { prepared.count() }

    val cand = pairs.filter(($"a_id" + $"b_id") % 3 === 0)
      .select($"srcId", $"dstId").withColumn("label", lit(0))
    stage("candidate pairs (count)") { cand.count() }

    val attached = ml.LinkPredictor.attachNodeAttrs(cand, prepared)
    stage("attach joins (valued ids)") {
      ProfileValued.timeValued(attached, col("srcId"), col("dstId"))._1
    }
    val feat = ml.LinkPredictor.featurize(attached)
    stage("+ featurize (valued features)") {
      ProfileValued.timeValued(feat,
        ml.LinkPredictor.featureCols.map(col): _*)._1
    }
    val assembled = ml.LinkPredictor.assemble(feat)
    val model = ml.LinkPredictor.train(
      ml.LinkPredictor.featurize(ml.LinkPredictor.attachNodeAttrs(
        pairs.filter(($"a_id" + $"b_id") % 3 =!= 0)
          .select($"srcId", $"dstId", $"label"), prepared)), maxIter = 5)
    stage("+ assemble+transform+p1 (valued)") {
      ProfileValued.timeValued(
        ml.LinkPredictor.score(model, assembled), col("p1"))._1
    }
    stage("full sweep over scored (count)") {
      ml.LinkPredictor.sweepMetrics(
        ml.LinkPredictor.score(model, assembled)
          .withColumn("p1r", round(col("p1"), 3)), "p1r").count()
    }
    spark.stop()
  }
}
