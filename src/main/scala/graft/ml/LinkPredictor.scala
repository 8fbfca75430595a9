package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Supervised link prediction — the reference's p1 program
  * (Predictor.scala:350-380) as a reusable operator set.
  *
  * Node table shape: (id, year, title, authors, journal, abstract) — all
  * strings (reference S1). Edge tables: (srcId, dstId[, label]).
  *
  * Deviations from the reference, all deliberate (SURVEY.md §2.6/2.8):
  *  - F1/F2/F4 are built-in expressions, not UDFs (codegen, null-propagating;
  *    nulls filled explicitly instead of the Spark-2.4 silent null→0).
  *  - metrics sweep on P(label=1) (probability), not the hard 0/1
  *    prediction the reference fed BinaryClassificationMetrics (Q4) —
  *    and it is relational (groupBy + window cumsum), not an RDD detour.
  *  - the double attribute join broadcasts the node table when small.
  */
object LinkPredictor {

  /** Tokenize/clean the node table ONCE — O(nodes), not O(pairs). The
    * reference tokenizes inside the per-pair feature UDF path; at pair
    * scale (quadratic in nodes) that re-tokenizes every document per
    * candidate pair, which measured ~10× slower end-to-end at sf0.1. */
  def prepareNodes(nodes: DataFrame): DataFrame = {
    def cleanToks(c: String) = TextOps.removeStopwords(
      TextOps.tokenize(col(c)), enStopwords)
    nodes.select(col("id"), col("year"), col("journal"),
      cleanToks("title").as("title_toks"),
      cleanToks("abstract").as("abstract_toks"),
      split(col("authors"), ",").as("author_toks"))
  }

  /** J1+J2: attach both endpoints' (prepared) attributes to an edge list.
    * Output columns: srcId, dstId [, label] + *_from / *_to attrs. */
  def attachNodeAttrs(edges: DataFrame, preparedNodes: DataFrame): DataFrame = {
    val from = preparedNodes.toDF(preparedNodes.columns.map(c =>
      if (c == "id") "__fid" else s"${c}_from"): _*)
    val to = preparedNodes.toDF(preparedNodes.columns.map(c =>
      if (c == "id") "__tid" else s"${c}_to"): _*)
    // No broadcast() hint: a forced broadcast of the prepared node table
    // (full token arrays, shipped TWICE as from/to) caps the operator at
    // the 8 GB broadcast limit. AQE picks broadcast at runtime when the
    // cached table is actually small — same plan at test scale, shuffle
    // join when the node table outgrows an executor.
    edges
      .join(from, edges("srcId") === col("__fid"))
      .join(to, edges("dstId") === col("__tid"))
      .drop("__fid", "__tid")
  }

  /** F1-F3 over an attached-pairs frame (token columns pre-computed by
    * prepareNodes; only the pair-local intersects run per pair). Uses the
    * native codegen expression (graft.functions.TextExprs) — identical
    * values to the fidelity UDF, no UDF boundary in the O(pairs) path. */
  def featurize(pairs: DataFrame): DataFrame = {
    val common = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.TextExprs.commonWordsMultiset(a, b)
    pairs
      .withColumn("year_diff",
        coalesce(TextOps.yearDiff(col("year_from"), col("year_to")), lit(0)))
      .withColumn("same_journal",
        TextOps.sameJournal(col("journal_from"), col("journal_to")))
      .withColumn("common_title_words",
        common(col("title_toks_from"), col("title_toks_to")))
      .withColumn("common_abstract_words",
        common(col("abstract_toks_from"), col("abstract_toks_to")))
      .withColumn("common_authors",
        common(col("author_toks_from"), col("author_toks_to")))
  }

  /** private[graft]: the q_linkpred_e2e replay oracle embeds this SAME
    * list (single source of truth — no copy to drift). */
  private[graft] val enStopwords =
    org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english").toSeq

  val featureCols: Array[String] = Array(
    "year_diff", "same_journal", "common_title_words",
    "common_abstract_words", "common_authors")

  /** Assemble features + fit LR (reference M6/M7; maxIter as reference).
    * The assembled frame is cached for the fit: L-BFGS runs one
    * treeAggregate job per iteration, and without persistence every
    * iteration re-executes the whole featurization lineage (the
    * reference's no-cache mistake, SURVEY.md §3.2 stage 8 — measured
    * ~10× end-to-end on the e2e query). The cache is built at the
    * featurized frame's width; with `fitPartitions` the fit reads it
    * coalesced to that many partitions, so each L-BFGS job runs that
    * many tasks. The cache is released before returning, also when the
    * fit throws. */
  def train(featurized: DataFrame, maxIter: Int = 100,
      fitPartitions: Option[Int] = None): LogisticRegressionModel = {
    val assembled = assemble(featurized).cache()
    try {
      new LogisticRegression()
        .setMaxIter(maxIter)
        .setFeaturesCol("features")
        .setLabelCol("label")
        .fit(fitPartitions.fold(assembled)(assembled.coalesce))
    } finally assembled.unpersist(blocking = false)
  }

  /** One assembler for every call. A transformer's uid ends up in the
    * struct field names of the generated code (`year_diff_double_<uid>`),
    * so a fresh random uid per call compiled new classes on every run. */
  private val assembler = new VectorAssembler("vecAssembler_linkPredictor")
    .setInputCols(featureCols)
    .setOutputCol("features")
    .setHandleInvalid("skip")

  def assemble(featurized: DataFrame): DataFrame =
    assembler.transform(featurized.withColumn("label", col("label").cast("double")))

  /** P(label=1) from the model's probability vector, as a column. */
  def score(model: LogisticRegressionModel, assembled: DataFrame): DataFrame = {
    val p1 = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    model.transform(assembled)
      .withColumn("p1", p1(col("probability")))
  }

  /** Relational threshold-sweep metrics (A5', replaces the RDD
    * BinaryClassificationMetrics detour, Predictor.scala:319-342):
    * precision/recall/F1 at every distinct score. Sweeps on the given
    * score column — pass p1 (probability), or the 0/1 prediction to
    * reproduce the reference's degenerate two-point sweep (Q4). */
  def sweepMetrics(scored: DataFrame, scoreCol: String,
      labelCol: String = "label"): DataFrame = {
    val grouped = scored
      .select(col(scoreCol).as("score"), col(labelCol).cast("long").as("l"))
      .groupBy(col("score"))
      .agg(sum(col("l")).as("pos"), count(lit(1)).as("tot"))
    val wOrd = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grouped
      .withColumn("cum_tp", sum(col("pos")).over(wOrd))
      .withColumn("cum_pred", sum(col("tot")).over(wOrd))
      .withColumn("total_pos", sum(col("pos")).over(wAll))
      .select(col("score").as("threshold"),
        (col("cum_tp").cast("double") / col("cum_pred").cast("double")).as("precision"),
        // all-negative evaluation sets have total_pos = 0 — recall is 0
        // by convention, not the IEEE NaN the bare division yields
        when(col("total_pos") === 0L, 0.0)
          .otherwise(col("cum_tp").cast("double") / col("total_pos").cast("double"))
          .as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
      .orderBy(col("threshold").desc)
  }

  /** The partition count `df` runs at, read from its physical plan
    * without launching a job. None when the plan holds an exchange (with
    * AQE on, an adaptive root, which a scan of a cached frame whose plan
    * holds one gets too; its final width only its run decides) or a
    * subquery (preparing the plan would run it). */
  private[ml] def planPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan
    val undecided = plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    }
    if (undecided) None else Some(plan.execute().getNumPartitions)
  }

  /** End-to-end p1: train on labeled edges, score candidate edges,
    * return (model, scored candidates, metrics vs ground truth).
    * `cachedModel` skips the fit entirely (the session-memoized-state
    * device, r15): Extended.linkpredE2e trains once per (session,
    * corpus) so its coefficient-embed replay oracle scores with the
    * SAME coefficients the query does.
    *
    * Width rule: a training edge list whose plan reads fewer partitions
    * than `defaultParallelism` (a one-split file, say) is spread
    * round-robin to `defaultParallelism` partitions, so the attach joins,
    * featurization and assembly use every core; the fit then reads that
    * cache coalesced back to the input's own partition count, where each
    * L-BFGS iteration stays one small job of that many tasks (a fit at
    * full width kept less than half of the gain: every iteration then
    * launches `defaultParallelism` tiny tasks). An input already that
    * wide, with no partitions, or whose width its plan leaves open is
    * used as it is. The candidate side is never spread.
    *
    * The node cache is released before returning, also when the fit or
    * the scoring throws; the returned scored frame stays cached. */
  def run(spark: SparkSession, nodes: DataFrame, trainEdges: DataFrame,
      candidateEdges: DataFrame, groundTruth: DataFrame,
      maxIter: Int = 100,
      cachedModel: Option[LogisticRegressionModel] = None)
      : (LogisticRegressionModel, DataFrame, DataFrame) = {
    val prepared = prepareNodes(nodes).cache()
    try {
      val model = cachedModel.getOrElse {
        val width = spark.sparkContext.defaultParallelism
        val narrow = planPartitions(trainEdges).filter(n => n > 0 && n < width)
        val edges = if (narrow.isDefined) trainEdges.repartition(width) else trainEdges
        train(featurize(attachNodeAttrs(edges, prepared)), maxIter, narrow)
      }
      // J3: left-outer membership probe labels the candidates (Q3: directed).
      // dropDuplicates: it is a MEMBERSHIP probe — a ground-truth dump
      // listing an edge twice would otherwise fan each matching candidate
      // into duplicate scored rows and double-count it in the metrics.
      val gt = groundTruth
        .select(col("srcId").as("g_src"), col("dstId").as("g_dst"))
        .dropDuplicates()
      val labeled = candidateEdges
        .join(gt, col("srcId") === col("g_src") && col("dstId") === col("g_dst"),
          "left_outer")
        .withColumn("label", when(col("g_src").isNull, 0).otherwise(1))
        .drop("g_src", "g_dst")
      val scored = score(model,
        assemble(featurize(attachNodeAttrs(labeled, prepared)))).cache()
      // materialize before the node cache is dropped
      try scored.count()
      catch { case e: Throwable => scored.unpersist(); throw e }
      // sweep on probabilities bucketed to 3 decimals: raw p1 is distinct
      // per candidate, and sweepMetrics' global cumsum window would pull
      // every candidate into ONE task (the bound Extended.linkpredE2e
      // applies for the same reason); ≤1001 buckets keeps it tiny
      (model, scored,
        sweepMetrics(scored.withColumn("p1r", round(col("p1"), 3)), "p1r"))
    } finally prepared.unpersist()
  }
}
