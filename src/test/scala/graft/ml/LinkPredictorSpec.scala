package graft.ml

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end p1 (reference Predictor.scala:350-380) on a deterministic
  * in-memory fixture: two "topic clusters" of papers; real links connect
  * same-cluster papers. The trained model must separate same-cluster from
  * cross-cluster candidate pairs (F1 well above chance at best threshold).
  */
class LinkPredictorSpec extends SparkSpec {

  private val t1 = "quantum gravity entanglement duality holographic boundary"
  private val t2 = "supersymmetry breaking gauge mediation soft terms"

  private def nodes = {
    val spark2 = spark
    import spark2.implicits._
    (0 until 20).map { i =>
      val c = i % 2
      val words = if (c == 0) t1 else t2
      (s"p$i", (1993 + i % 10).toString, s"paper $i on ${words.split(" ").take(2).mkString(" ")}",
        s"author${i % 3},author${3 + i % 4}", if (c == 0) "JHEP" else "PRL",
        s"$words study ${i}")
    }.toDF("id", "year", "title", "authors", "journal", "abstract")
  }

  private def pairsOf(ids: Seq[(Int, Int)]) = {
    val spark2 = spark
    import spark2.implicits._
    ids.map { case (a, b) => (s"p$a", s"p$b") }.toDF("srcId", "dstId")
  }

  test("p1 end-to-end: trains, scores, same-cluster pairs rank higher") {
    val spark2 = spark
    import spark2.implicits._
    // train edges: same-cluster = 1, cross-cluster = 0
    val trainPos = (0 until 8).map(i => (i, i + 2))            // same parity
    val trainNeg = (0 until 8).map(i => (i, i + 1))            // cross parity
    val train = pairsOf(trainPos).withColumn("label", lit(1))
      .union(pairsOf(trainNeg).withColumn("label", lit(0)))
    // candidates: 4 same-cluster (true links), 4 cross (non-links)
    val cand = pairsOf(Seq((10, 12), (11, 13), (12, 14), (13, 15),
      (10, 11), (11, 12), (12, 13), (13, 14)))
    val gt = pairsOf(Seq((10, 12), (11, 13), (12, 14), (13, 15)))
    val (model, scored, metrics) = LinkPredictor.run(
      spark, nodes, train, cand, gt, maxIter = 50)
    assert(model.coefficients.size === LinkPredictor.featureCols.length)
    val rows = scored.select($"srcId", $"label", $"p1").collect()
    assert(rows.length === 8)
    val bestF1 = metrics.agg(max($"f1")).head.getDouble(0)
    assert(bestF1 === 1.0)  // clusters are linearly separable by features
  }

  test("run releases the node cache when the fit or the scoring throws") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val cand = pairsOf(Seq((10, 12), (11, 13)))
    val gt = pairsOf(Seq((10, 12)))
    val before = persisted
    // a negative label is rejected inside the fit's first job, after the
    // node cache has been built
    val badTrain = pairsOf((0 until 8).map(i => (i, i + 2)))
      .withColumn("label", lit(-1))
    intercept[Exception] {
      LinkPredictor.run(spark, nodes, badTrain, cand, gt, maxIter = 5)
    }
    assert(persisted === before, "the failed fit left an RDD persisted")
    val train = pairsOf((0 until 8).map(i => (i, i + 2))).withColumn("label", lit(1))
      .union(pairsOf((0 until 8).map(i => (i, i + 1))).withColumn("label", lit(0)))
    val (model, scored, _) = LinkPredictor.run(spark, nodes, train, cand, gt, maxIter = 5)
    scored.unpersist()
    assert(persisted === before, "the successful run left an RDD persisted")
    val badCand = cand.withColumn("srcId",
      when(col("srcId") === "p11", raise_error(lit("boom"))).otherwise(col("srcId")))
    intercept[Exception] {
      LinkPredictor.run(spark, nodes, train, badCand, gt, cachedModel = Some(model))
    }
    assert(persisted === before, "the failed scoring left an RDD persisted")
  }

  test("assemble plans built by separate calls generate the same code") {
    // a range, not a local relation, which the optimizer would fold away
    val featurized = spark.range(4).select(LinkPredictor.featureCols.map(c =>
      (col("id") % 3).as(c)) :+ (col("id") % 2).as("label"): _*)
    def code = org.apache.spark.sql.execution.debug.codegenStringSeq(
      LinkPredictor.assemble(featurized).queryExecution.executedPlan).map(_._2)
    val first = code
    assert(first.nonEmpty)
    // a per-call assembler uid lands in the generated code, so every call
    // would compile new classes
    assert(code === first)
  }

  test("planPartitions reads a scan's width without a job and leaves an " +
      "exchange undecided") {
    val dir = tempDir("lp-width").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "edges.txt")
    java.nio.file.Files.writeString(f.toPath, "p1 p2 1\np2 p3 0\n")
    val edges = graft.sources.Tables.labeledEdges(spark, f.getPath)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val cached = edges.cache()
    try {
      val widths = withListener(listener) {
        Seq(LinkPredictor.planPartitions(edges.filter(col("label").isNotNull)),
          LinkPredictor.planPartitions(cached.select("srcId")))
      }
      assert(widths === Seq(Some(1), Some(1)))
      assert(jobs.get === 0, s"reading the widths launched ${jobs.get} jobs")
    } finally cached.unpersist()
    assert(LinkPredictor.planPartitions(edges.repartition(3)) === None)
    // a cached input whose plan holds an exchange, like q_linkpred_e2e's
    val spread = edges.repartition(3).cache()
    try assert(LinkPredictor.planPartitions(spread.select("srcId")) === None)
    finally spread.unpersist()
  }

  test("sweepMetrics on hard 0/1 predictions reproduces the degenerate " +
      "two-point sweep (reference Q4)") {
    val spark2 = spark
    import spark2.implicits._
    val scored = Seq((1.0, 1), (1.0, 1), (0.0, 0), (0.0, 1))
      .toDF("prediction", "label")
    val m = LinkPredictor.sweepMetrics(scored, "prediction").collect()
    assert(m.length === 2)                       // thresholds {1.0, 0.0}
    val at1 = m.find(_.getDouble(0) == 1.0).get
    assert(at1.getDouble(1) === 1.0)             // precision at threshold 1
    assert(at1.getDouble(2) === 2.0 / 3.0)       // recall 2 of 3 positives
  }
}
