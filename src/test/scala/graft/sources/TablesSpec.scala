package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** The reference's raw file formats (SURVEY.md §2.1 S1-S4), written as tmp
  * fixtures in the shapes FIXTURES.md §A documents, read back through the
  * pure-DataFrame readers (no RDD detour). */
class TablesSpec extends SparkSpec {

  private def tmpFile(name: String, lines: Seq[String]): String = {
    val f = tempFile(s"graft-$name", ".txt")
    Files.write(f, String.join("\n", lines: _*).getBytes)
    f.toString
  }

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    withListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })(body)
    jobs.get
  }

  test("table memoizes the parquet schema: the first read of a file runs " +
      "one job, a second read of the unchanged file none") {
    val dir = tempDir("graft-schema-memo").toString
    spark.range(3).toDF("k").coalesce(1).write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(Tables.table(spark, dir, "t")) === 1)
    assert(jobsDuring(Tables.table(spark, dir, "t")) === 0)
    assert(Tables.table(spark, dir, "t").count() === 3)
  }

  test("table reads a file rewritten in place with its new schema, " +
      "without Caches.invalidate") {
    val dir = tempDir("graft-schema-rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("k").coalesce(1).write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("k"))
    spark.range(2).selectExpr("cast(id AS string) AS name", "id * 2 AS v")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq === Seq("name", "v"))
    assert(t.orderBy("v").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq === Seq(("0", 0L), ("1", 2L)))
  }

  test("S1 nodeInfoCsv: headerless, quoted commas, explicit schema") {
    val p = tmpFile("nodes", Seq(
      """1001,1999,"Black Holes, Strings","A. Author,B. Author",JHEP,"an abstract, with comma"""",
      """1002,2001,Title2,C. Author,,"""))
    val df = Tables.nodeInfoCsv(spark, p)
    assert(df.columns.toSeq === Seq("srcId", "year", "title", "authors", "journal", "abstract"))
    val r = df.orderBy("srcId").collect()
    assert(r(0).getString(2) === "Black Holes, Strings")   // comma preserved
    assert(r(1).getString(4) === null)                     // missing journal
  }

  test("S2 labeledEdges: space-separated with int label, ANSI-safe") {
    val p = tmpFile("train", Seq("1001 1002 1", "1002 1003 0", "1003 1001 x"))
    val r = Tables.labeledEdges(spark, p).orderBy("srcId").collect()
    assert(r(0).getString(0) === "1001" && r(0).getInt(2) === 1)
    assert(r(2).isNullAt(2))   // malformed label → null, not a throw
  }

  test("S3 edges: two-column variant") {
    val p = tmpFile("test", Seq("1 2", "3 4"))
    assert(Tables.edges(spark, p).count() === 2)
  }

  test("S4 snapEdges: tab-delimited, comment lines dropped (unlike the " +
      "reference, which let '#' rows become garbage edges)") {
    val p = tmpFile("gt", Seq("# Directed graph", "# FromNodeId\tToNodeId",
      "1001\t1002", "1002\t1003"))
    val df = Tables.snapEdges(spark, p)
    assert(df.count() === 2)
    assert(df.orderBy("srcId").head.getString(0) === "1001")
  }

  test("events reader adapts to the on-disk ts type: nanos-long, NTZ(µs), " +
      "and LTZ(µs) fixtures all normalize to the same TimestampType micros") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // one instant, three physical shapes; 1.7e18 ns exercises the integer-DIV
    // precision rationale (a double division would round here)
    val micros = Seq(1700000000000001L, 1700000000123456L)
    val base = spark.range(2).toDF("i")
      .withColumn("event_id", col("i") + 1)
      .withColumn("us", when(col("i") === 0, micros(0)).otherwise(micros(1)))
      .withColumn("user_id", lit(7L))
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.5))
      .withColumn("props", lit("{}"))
    def writeShape(name: String, tsCol: org.apache.spark.sql.Column): String = {
      val dir = tempDir(s"graft-events-$name").toString
      base.select(col("event_id"), tsCol.as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val shapes = Map(
      "nslong" -> writeShape("nslong", (col("us") * 1000).cast(LongType)),
      "ntz"    -> writeShape("ntz", timestamp_micros(col("us")).cast(TimestampNTZType)),
      "ltz"    -> writeShape("ltz", timestamp_micros(col("us"))))
    for ((shape, dir) <- shapes) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, s"shape=$shape")
      val got = ev.select(unix_micros(col("ts"))).orderBy("ts")
        .collect().map(_.getLong(0)).toSeq
      assert(got === micros, s"shape=$shape")
    }
  }

  test("documents/embeddings readers normalize drifted physical types " +
      "to the canonical schema (same lesson as the events ts change)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-drift").toString
    // int32 ids, float64 embeddings, reordered columns — plausible
    // regenerations of the same logical tables
    Seq((1, "hello world", "en", "s", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select($"text", $"lang", $"doc_id".cast(IntegerType).as("doc_id"),
        $"source", $"n_chars".cast(IntegerType).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((7, Array(0.5, 1.5), 3))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id".cast(IntegerType).as("vec_id"),
        $"embedding".cast(ArrayType(DoubleType)).as("embedding"),
        $"label".cast(LongType).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val d = graft.schema.documents(spark, dir).head()
    assert(d.doc_id === 1L && d.n_chars === 11L && d.text === "hello world")
    val e = graft.schema.embeddings(spark, dir).head()
    assert(e.vec_id === 7L && e.label === 3 &&
      e.embedding.toSeq === Seq(0.5f, 1.5f))
  }

  test("JSONL round-trip: gzip shards, explicit schema, row equality") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val dir = tempDir("graft-jsonl").toString + "/docs"
    Tables.writeJsonl(docs.repartition(3), dir, compression = "gzip")
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.endsWith(".json.gz")) === 3, files.toSeq.toString)
    // reference a data column alongside _corrupt: a corrupt-column-only
    // query on a raw-file scan is rejected by Spark (see reader scaladoc)
    val back = Tables.documentsJsonl(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("_corrupt")).collect()
    assert(back.forall(_.isNullAt(5)))
    val a = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = back.sortBy(_.getLong(0)).map(_.toSeq.init).toSeq
    assert(a === b)
  }

  test("JSONL malformed lines land in _corrupt, not as a job failure") {
    import org.apache.spark.sql.functions._
    val p = tmpFile("jsonl", Seq(
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""",
      """{"doc_id": oops not json""",
      """{"doc_id": 3, "text": "also ok", "lang": "de", "source": "s", "n_chars": 7}"""))
    val rows = Tables.documentsJsonl(spark, p).collect()
    val (bad, good) = rows.partition(r => !r.isNullAt(r.fieldIndex("_corrupt")))
    assert(good.length === 2)
    assert(bad.length === 1 && bad(0).getAs[String]("_corrupt").contains("oops"))
    assert(bad(0).isNullAt(bad(0).fieldIndex("doc_id")))
  }

  test("S5 sampling: seeded Bernoulli sample is deterministic") {
    val df = Tables.documents(spark, sf("sf0.001"))
    val a = df.sample(0.2, 12345L).count()
    val b = df.sample(0.2, 12345L).count()
    assert(a === b && a > 0 && a < 500)
  }
}
