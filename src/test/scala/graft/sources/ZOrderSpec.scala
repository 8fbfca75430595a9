package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order clustering: Morton-key bit interleaving, quantization bounds,
  * and the payoff — a 2-D box predicate touches far fewer files than under
  * a single-column layout. */
class ZOrderSpec extends SparkSpec {

  test("interleave produces the textbook Morton codes") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L))
      .toDF("x", "y")
    val got = df.select(ZOrder.interleave(Seq($"x", $"y"), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // bit i of x → position 2i; bit i of y → position 2i+1
    // (3,5)=(011,101): x bits at 0,2 → 1+16=17... compute: x=3 → bits0,1 →
    // z bits 0,2 = 5; y=5 → bits 0,2 → z bits 1,5 = 2+32=34; total 39
    assert(got === Seq(0L, 1L, 2L, 3L, 39L))
  }

  test("quantize clamps to [0, 2^bits) and is monotone") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(-10.0, 0.0, 2.5, 5.0, 99.0).toDF("v")
    val got = df.select(ZOrder.quantize($"v", 0.0, 5.0, bits = 4).as("q"))
      .collect().map(_.getLong(0)).toSeq
    assert(got.head === 0L && got.last === 15L)
    assert(got === got.sorted)
  }

  test("degenerate dimensions are dropped, not allowed to disable clustering") {
    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    assert(ZOrder.cluster(empty, Seq("x", "y")).count() === 0L)
    // y is all-null: clustering must still happen on x — the layout on
    // the live dimension equals clustering on x alone
    val mixed = Seq((Some(5.0), Option.empty[Double]),
      (Some(1.0), Option.empty[Double]), (Some(3.0), Option.empty[Double]))
      .toDF("x", "y")
    val clustered = ZOrder.cluster(mixed, Seq("x", "y"), numFiles = 1)
    assert(clustered.count() === 3L)
    assert(clustered.collect().map(_.getDouble(0)).toSeq === Seq(1.0, 3.0, 5.0))
    // both dimensions dead → unchanged
    val dead = Seq((Option.empty[Double], Option.empty[Double]))
      .toDF("x", "y")
    assert(ZOrder.cluster(dead, Seq("x", "y")).count() === 1L)
  }

  test("reserved __z column on the input fails fast, not clobber") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1.0, 2.0, 0L)).toDF("x", "y", "__z")
    val e = intercept[IllegalArgumentException] {
      ZOrder.cluster(df, Seq("x", "y"))
    }
    assert(e.getMessage.contains("__z"))
  }

  test("non-leading-dimension filter touches fewer files after z-order") {
    val spark2 = spark
    import spark2.implicits._
    val n = 141 * 141
    // full uniform 2-D grid: every x-slice contains every y value
    val df = spark.range(n.toLong)
      .select(($"id" % 141).cast("double").as("x"),
        ($"id" / 141).cast("double").as("y"))
    // a y-band predicate: the worst case for an x-sorted layout (every
    // file holds all y values → no pruning), the payoff case for z-order
    // (16 files ≈ a 4×4 quadtree grid → a y-band hits ~one row of cells)
    def filesWithMatches(path: String): Long =
      spark.read.parquet(path)
        .filter($"y".between(30, 40))
        .select(input_file_name()).distinct().count()
    def totalFiles(path: String): Long =
      spark.read.parquet(path)
        .select(input_file_name()).distinct().count()
    val base = tempDir("graft-zorder").toString
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.parquet(s"$base/linear")
    ZOrder.cluster(df, Seq("x", "y"), bits = 8, numFiles = 16)
      .write.parquet(s"$base/zorder")
    val lin = filesWithMatches(s"$base/linear")
    val zo = filesWithMatches(s"$base/zorder")
    // same rows in both layouts
    assert(spark.read.parquet(s"$base/zorder").count() === n.toLong)
    assert(lin === totalFiles(s"$base/linear"),
      s"x-sorted layout should spread y over every file, got $lin")
    assert(zo * 2 <= totalFiles(s"$base/zorder"),
      s"y-band should localize to a minority of z-ordered files, got $zo")
  }
}
