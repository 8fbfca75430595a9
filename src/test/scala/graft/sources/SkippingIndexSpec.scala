package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The data-skipping index: per-file stats correctness, identical query
  * results with strictly fewer files read, conservative null/stale
  * handling, and the empty-candidate path. */
class SkippingIndexSpec extends SparkSpec {

  // a range-clustered table: 8 files, each covering a tight key band —
  // the layout ZOrder/compaction produce, where skipping pays
  private def writeClustered(): String = {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-skip").toString
    (0L until 800L).map(i => (i, s"p$i", (i % 7).toInt))
      .toDF("k", "payload", "tag")
      .repartitionByRange(8, $"k")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("index stats match per-file reality; candidate pruning is tight") {
    val dir = writeClustered()
    val idx = SkippingIndex.build(spark, dir, Seq("k")).cache()
    val rows = idx.collect()
    assert(rows.length === 8)
    assert(rows.map(_.getAs[Long]("n_rows")).sum === 800L)
    rows.foreach { r =>
      assert(r.getAs[Long]("k_min") <= r.getAs[Long]("k_max"))
      assert(r.getAs[Long]("k_nulls") === 0L)
    }
    // a one-band probe keeps 1-2 files, never all 8
    val cand = SkippingIndex.candidateFiles(idx, "k", 250L, 260L)
    assert(cand.nonEmpty && cand.length <= 2, s"kept ${cand.length} files")
  }

  test("prunedRead ≡ full-scan filter, reading strictly fewer files") {
    val dir = writeClustered()
    val idx = SkippingIndex.build(spark, dir, Seq("k"))
    val pruned = SkippingIndex.prunedRead(spark, dir, idx, "k", 100L, 199L)
    val full = spark.read.parquet(dir)
      .filter(col("k") >= 100L && col("k") <= 199L)
    assert(pruned.collect().map(_.toSeq).toSet ===
      full.collect().map(_.toSeq).toSet)
    assert(pruned.count() === 100L)
    // the plan's scan really lists fewer files than the table holds
    val scanned = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scanned > 0 && scanned <= 2, s"scanned $scanned files")
  }

  test("conservative paths: null stats keep the file; empty range reads " +
    "nothing but keeps the schema") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-skip-null").toString
    // file with an all-null column next to a normal one
    Seq((Option.empty[Long], "a"), (None, "b")).toDF("k", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Seq((Some(5L), "c")).toDF("k", "payload")
      .coalesce(1).write.mode("append").parquet(dir)
    val idx = SkippingIndex.build(spark, dir, Seq("k"))
    // the all-null file has null min/max and must survive pruning
    assert(SkippingIndex.candidateFiles(idx, "k", 0L, 10L).length === 2)
    assert(SkippingIndex.prunedRead(spark, dir, idx, "k", 0L, 10L)
      .collect().map(_.getAs[String]("payload")).toSeq === Seq("c"))
    // a range nothing matches: empty result, schema intact
    val none = SkippingIndex.prunedRead(spark, dir, idx, "k", 100L, 200L)
    assert(none.isEmpty && none.columns.toSeq === Seq("k", "payload"))
  }
}
