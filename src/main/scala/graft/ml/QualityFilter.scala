package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TextAnalysis
import graft.sources.Tables

/** Model-based quality filtering — the GPT-3/LLaMA-pipeline step after
  * the rule-based filters: train a cheap linear classifier on WEAK
  * labels (here a heuristic rule; in production "looks like a reference
  * corpus" vs "random crawl") and score every document, so the keep
  * decision generalizes beyond the rule that seeded it. The classifier
  * is the scalable artifact: scoring is one broadcast of KB-scale
  * coefficients and a map-only pass — no shuffle touches the corpus at
  * inference time.
  *
  * Shapes reused from the p1 pipeline (ml/LinkPredictor): surface-stat
  * featurization (one projection over the scan), VectorAssembler →
  * LogisticRegression, deterministic salted-md5 train/holdout split
  * (Extended.hashSplit's discipline — backfill-stable, no RNG state).
  * Weak labels deliberately include a signal (token count) that is NOT
  * in the feature vector, so the fit is learnable but not an identity.
  * Training state is Spark-side (treeAggregate float order), so driver
  * evidence is rows-only; QualityFilterSpec pins a holdout-accuracy
  * floor.
  */
object QualityFilter {

  /** Per-doc surface features + the weak quality label. */
  def featurize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"n_chars", TextAnalysis.toks($"text").as("t"))
      .select($"doc_id", $"n_chars",
        size($"t").as("n_tokens"),
        size(array_distinct($"t")).as("n_distinct"))
      .select($"doc_id",
        ($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("avg_token_len"),
        ($"n_distinct".cast("double") / $"n_tokens".cast("double"))
          .as("distinct_ratio"),
        $"n_chars".cast("double").as("chars"),
        // weak rule: long enough AND not repetition-soup (the same
        // integer-exact bounds as the pipeline funnel's quality stage)
        when($"n_tokens" >= 20 &&
          lit(20) * ($"n_tokens" - $"n_distinct") <= lit(13) * $"n_tokens",
          1.0).otherwise(0.0).as("label"))
  }

  /** The featurized frame with the md5-salted holdout flag and the
    * assembled feature vector (handleInvalid = skip, so null/NaN
    * feature rows never reach the model — the oracle replays the same
    * guard). */
  private def assembled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = featurize(s, dir)
      .withColumn("holdout",
        (substring(md5(concat(lit("qf:"), $"doc_id".cast("string"))), 1, 1)
          .isin("0", "1", "2")).cast("boolean"))
    new VectorAssembler()
      .setInputCols(Array("avg_token_len", "distinct_ratio", "chars"))
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(f)
  }

  /** Session-memoized fit (the semCentroidsFor device, r15): training
    * state is treeAggregate-float-order-dependent across JVMs, so the
    * oracle cannot recompute it — instead ONE fit per (session, corpus,
    * budget) serves both the query and the coefficient-embed oracle,
    * which replays the pure scoring function of THESE coefficients. */
  def modelFor(s: SparkSession, dir: String,
      maxIter: Int = 20): LogisticRegressionModel =
    graft.Caches.memo(s, ("qualityModel", dir, maxIter)) {
      import s.implicits._
      val a = assembled(s, dir).filter(!$"holdout").cache()
      try {
        new LogisticRegression()
          .setMaxIter(maxIter)
          .setLabelCol("label")
          .setFeaturesCol("features")
          .fit(a)
      } finally a.unpersist(blocking = false)
    }

  /** Score the holdout with the memoized fit and emit the confusion
    * counts — the slim per-round driver signal, hash-checked against
    * the coefficient-embed replay oracle (prediction at the default
    * 0.5 threshold ≡ margin > 0; see oracle.LrReplaySql). */
  def confusion(s: SparkSession, dir: String,
      maxIter: Int = 20): DataFrame = {
    import s.implicits._
    val model = modelFor(s, dir, maxIter)
    val scored = model.transform(assembled(s, dir).filter($"holdout"))
      .select($"label".cast("long").as("label"),
        $"prediction".cast("long").as("pred"))
      .groupBy($"label", $"pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"pred")
    val out = scored.collect() // ≤4 rows — materialize to a tiny frame
    s.createDataFrame(
      s.sparkContext.parallelize(out.toIndexedSeq, 1), scored.schema)
      .orderBy($"label", $"pred")
  }

  /** The q_quality_classifier oracle: the memoized fit's coefficients
    * embedded in the scoring replay. */
  def prepareOracle(s: SparkSession, dir: String): Option[String] = {
    val m = modelFor(s, dir)
    Some(graft.LrReplaySql.qualityClassifierSql(
      m.coefficients.toArray, m.intercept))
  }
}
