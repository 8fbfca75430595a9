package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Compaction (file count tracks target size, data identical) and
  * schema-evolution reads (old files null-fill new columns). */
class MaintenanceSpec extends SparkSpec {

  test("compact: fragmented table to ~target-sized files, data identical") {
    val spark2 = spark
    import spark2.implicits._
    val base = tempDir("graft-compact").toString
    // 64 fragments of a small table
    spark.range(20000L).select($"id", ($"id" % 97).as("v"))
      .repartition(64)
      .write.parquet(s"$base/frag")
    def fileCount(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(fileCount(s"$base/frag") === 64)
    val bytes = Maintenance.inputBytes(spark, s"$base/frag")
    assert(bytes > 0)
    // target half the table size (rounded up so bytes/target ≤ 2 exactly)
    // → expect exactly 2 output files
    Maintenance.compact(spark, s"$base/frag", s"$base/compacted",
      targetFileBytes = bytes / 2 + 1)
    assert(fileCount(s"$base/compacted") === 2)
    val before = spark.read.parquet(s"$base/frag")
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    val after = spark.read.parquet(s"$base/compacted")
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    assert(after === before)
  }

  test("compact rejects an equivalent (not just string-equal) destination") {
    val spark2 = spark
    import spark2.implicits._
    val base = tempDir("graft-compact-self").toString
    Seq((1L, 1)).toDF("id", "v").write.parquet(s"$base/t")
    for (alias <- Seq(s"$base/t", s"$base/t/", s"$base/./t")) {
      val e = intercept[IllegalArgumentException] {
        Maintenance.compact(spark, s"$base/t", alias)
      }
      assert(e.getMessage.contains("new location"), s"alias $alias")
    }
    // the data survived every rejected call
    assert(spark.read.parquet(s"$base/t").count() === 1L)
  }

  test("readEvolved unions schemas; old files null-fill the new column") {
    val spark2 = spark
    import spark2.implicits._
    val base = tempDir("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$base/t")
    // schema grows a column; append without rewriting old files
    Seq((3L, "c", 0.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(s"$base/t")
    val evolved = Maintenance.readEvolved(spark, s"$base/t")
    assert(evolved.columns.sorted.toSeq === Seq("id", "name", "score"))
    val rows = evolved.orderBy($"id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    assert(rows(0) === ((1L, true, 0.0)))
    assert(rows(2) === ((3L, false, 0.5)))
    // default (non-merge) read would surface one file's schema only;
    // the explicit mergeSchema read is the contract
    val plain = spark.read.parquet(s"$base/t")
    assert(plain.columns.length <= evolved.columns.length)
  }
}
