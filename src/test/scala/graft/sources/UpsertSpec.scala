package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MERGE semantics: matched keys replaced, unmatched appended, deletes
  * drop by predicate, old snapshot untouched. */
class UpsertSpec extends SparkSpec {

  test("upsert replaces matched keys and appends new ones") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq((1L, "old-a", 10), (2L, "old-b", 20), (3L, "old-c", 30))
      .toDF("id", "name", "v")
    val updates = Seq((2L, "NEW-b", 99), (4L, "NEW-d", 40))
      .toDF("id", "name", "v")
    val got = Upsert.upsert(base, updates, Seq("id"))
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === Seq((1L, "old-a", 10), (2L, "NEW-b", 99),
      (3L, "old-c", 30), (4L, "NEW-d", 40)))
  }

  test("column order differences are resolved by name") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq((1L, "a", 10)).toDF("id", "name", "v")
    val updates = Seq((99, "z", 2L)).toDF("v", "name", "id")
    val got = Upsert.upsert(base, updates, Seq("id"))
      .orderBy($"id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Int]("v")))
    assert(got.toSeq === Seq((1L, "a", 10), (2L, "z", 99)))
  }

  test("snapshot upsert rejects duplicate update keys") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-upsert-dup").toString
    Seq((1L, 10)).toDF("id", "v").write.parquet(s"$dir/v1")
    val dup = Seq((2L, 99), (2L, 77)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertSnapshot(spark, s"$dir/v1", dup, Seq("id"), s"$dir/v2")
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("snapshot upsert rejects null update keys by name") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-upsert-null").toString
    Seq((1L, 10)).toDF("id", "v").write.parquet(s"$dir/v1")
    val withNull = Seq((Some(2L), 99), (None, 77)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertSnapshot(spark, s"$dir/v1", withNull, Seq("id"), s"$dir/v2")
    }
    assert(e.getMessage.contains("null key"))
  }

  test("equivalent destination paths are rejected, not just string-equal") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-upsert-self").toString
    Seq((1L, 10)).toDF("id", "v").write.parquet(s"$dir/v1")
    val up = Seq((1L, 99)).toDF("id", "v")
    // trailing slash and a dot segment both resolve to the source itself
    for (alias <- Seq(s"$dir/v1/", s"$dir/./v1")) {
      val e = intercept[IllegalArgumentException] {
        Upsert.upsertSnapshot(spark, s"$dir/v1", up, Seq("id"), alias)
      }
      assert(e.getMessage.contains("new location"), s"alias $alias")
    }
    intercept[IllegalArgumentException] {
      Upsert.deleteWhere(spark, s"$dir/v1", $"id" === 1L, s"$dir/v1/")
    }
  }

  test("a symlinked destination alias of the source is rejected") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-upsert-link").toString
    Seq((1L, 10)).toDF("id", "v").write.parquet(s"$dir/v1")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$dir/alias"),
      java.nio.file.Paths.get(s"$dir/v1"))
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertSnapshot(spark, s"$dir/v1",
        Seq((1L, 99)).toDF("id", "v"), Seq("id"), s"$dir/alias")
    }
    assert(e.getMessage.contains("new location"))
    assert(spark.read.parquet(s"$dir/v1").count() === 1L)
  }

  test("merge keeps numeric-looking string partitions intact (no inference rename)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-merge-infer").toString
    // month=01: type inference would read this back as int 1 and the
    // rewrite would emit a NEW month=1 directory — a silent layout split
    val base = Seq((1L, "01", "a"), (2L, "01", "b"), (3L, "02", "c"))
      .toDF("id", "month", "text")
    PartitionedLayout.writePartitioned(base, s"$dir/v1", Seq("month"))
    Upsert.mergePartitioned(spark, s"$dir/v1",
      Seq((2L, "01", "B")).toDF("id", "month", "text"),
      Seq("id"), Seq("month"), s"$dir/v2")
    val dirs = new java.io.File(s"$dir/v2").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === Seq("month=01", "month=02"))
    // read back with inference off too, or this read itself turns 01→1
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(inferKey, "false")
    val got =
      try spark.read.parquet(s"$dir/v2")
        .select($"id", $"month", $"text").orderBy($"id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      finally spark.conf.set(inferKey, "true")
    assert(got === Seq((1L, "01", "a"), (2L, "01", "B"), (3L, "02", "c")))
  }

  test("merge fails loudly when a matched key lives in a null base partition") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-merge-nullpart").toString
    Seq((Some(1L), Option.empty[String], "a"), (Some(2L), Some("en"), "b"))
      .toDF("id", "lang", "text")
      .write.partitionBy("lang").parquet(s"$dir/v1")
    val e = intercept[IllegalArgumentException] {
      Upsert.mergePartitioned(spark, s"$dir/v1",
        Seq((1L, "en", "MOVED")).toDF("id", "lang", "text"),
        Seq("id"), Seq("lang"), s"$dir/v2")
    }
    assert(e.getMessage.contains("null-valued base partition"))
  }

  test("merge with many touched partitions takes the semi-join path correctly") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-merge-many").toString
    // 70 single-row partitions: above the 64-partition literal-predicate
    // cutoff, so the broadcast semi-join branch plans the rewrite
    val base = (0 until 70).map(i => (i.toLong, f"p$i%02d", s"old-$i"))
      .toDF("id", "part", "text")
    PartitionedLayout.writePartitioned(base, s"$dir/v1", Seq("part"))
    val updates = (0 until 70).map(i => (i.toLong, f"p$i%02d", s"new-$i"))
      .toDF("id", "part", "text")
    val rewritten = Upsert.mergePartitioned(spark, s"$dir/v1", updates,
      Seq("id"), Seq("part"), s"$dir/v2")
    assert(rewritten.size === 70)
    val got = spark.read.parquet(s"$dir/v2")
      .select($"id", $"text").orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === (0 until 70).map(i => (i.toLong, s"new-$i")))
  }

  test("partition-scoped merge rewrites only touched partitions; the rest are byte-identical") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-merge-part").toString
    val base = Seq(
      (1L, "en", "old-1"), (2L, "en", "old-2"),
      (42L, "fr", "old-42"), (43L, "fr", "old-43"),
      (7L, "de", "old-7"), (8L, "de", "old-8"))
      .toDF("id", "lang", "text")
    PartitionedLayout.writePartitioned(base, s"$dir/v1", Seq("lang"))
    val updates = Seq(
      (2L, "en", "NEW-2"),   // in-place replace in en
      (42L, "en", "MOVED"),  // key moves fr → en: fr must drop the stale row
      (99L, "es", "NEW-99")) // insert into a brand-new partition
      .toDF("id", "lang", "text")
    val rewritten = Upsert.mergePartitioned(spark, s"$dir/v1", updates,
      keyCols = Seq("id"), partCols = Seq("lang"), destPath = s"$dir/v2")
    assert(rewritten === Seq("lang=en", "lang=es", "lang=fr"))

    val got = spark.read.parquet(s"$dir/v2")
      .select($"id", $"lang", $"text").orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(
      (1L, "en", "old-1"), (2L, "en", "NEW-2"), (7L, "de", "old-7"),
      (8L, "de", "old-8"), (42L, "en", "MOVED"), (43L, "fr", "old-43"),
      (99L, "es", "NEW-99")))

    // the untouched partition moved by reference: same file names, same bytes
    def dataFiles(p: String): Seq[java.io.File] =
      new java.io.File(p).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).sortBy(_.getName)
    val before = dataFiles(s"$dir/v1/lang=de")
    val after = dataFiles(s"$dir/v2/lang=de")
    assert(before.nonEmpty)
    assert(after.map(_.getName) === before.map(_.getName))
    before.zip(after).foreach { case (b, a) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(b.toPath),
        java.nio.file.Files.readAllBytes(a.toPath)), s"${b.getName} differs")
    }
    // and the rewritten partitions are genuinely new files, not links
    assert(dataFiles(s"$dir/v2/lang=en").map(_.getName)
      .intersect(dataFiles(s"$dir/v1/lang=en").map(_.getName)).isEmpty)
  }

  test("snapshot upsert + deleteWhere leave the old snapshot untouched") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-upsert").toString
    Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v")
      .write.parquet(s"$dir/v1")
    Upsert.upsertSnapshot(spark, s"$dir/v1",
      Seq((2L, 99), (4L, 40)).toDF("id", "v"), Seq("id"), s"$dir/v2")
    Upsert.deleteWhere(spark, s"$dir/v2", $"id" === 1L, s"$dir/v3")
    def rows(p: String) = spark.read.parquet(p).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows(s"$dir/v1") === Seq((1L, 10), (2L, 20), (3L, 30)))
    assert(rows(s"$dir/v2") === Seq((1L, 10), (2L, 99), (3L, 30), (4L, 40)))
    assert(rows(s"$dir/v3") === Seq((2L, 99), (3L, 30), (4L, 40)))
  }
}
