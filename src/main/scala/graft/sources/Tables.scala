package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Readers for the driver-generated parquet corpus (TESTDATA.md) plus the
  * reference's raw text/CSV edge formats, re-expressed as pure DataFrame
  * scans with explicit schemas (no RDD detour — cf. reference
  * Predictor.scala:158-203 which round-trips through sc.textFile/map/toDF).
  *
  * Design for scale: every reader returns a lazy scan; callers project the
  * columns they need so Catalyst pushes pruning/filters into the parquet
  * footer (verify with .explain: PushedFilters / ReadSchema).
  */
object Tables {

  /** `$dir/$name.parquet` as a lazy scan over a session-memoized schema.
    * Inferring a parquet schema runs a Spark job that reads a footer, and
    * every query builds its scans afresh on every call, so only the first
    * read of an unchanged file pays that job: the inferred schema is kept
    * in `Caches.memo` and handed back through `spark.read.schema`.
    *
    * The memo key is the path, a fingerprint of its files (name, length
    * and mtime of the file, or of every leaf file under a directory) and
    * the session's parquet read confs (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.nanosAsLong`), which change the inferred
    * types. A file rewritten in place thus gets a new key without
    * `Caches.invalidate`. Only the schema is memoized, never the frame: a
    * relation's file listing is fixed when the frame is built. A missing
    * path falls through to the plain read and its usual error. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k == "spark.sql.legacy.parquet.nanosAsLong" }.sorted
        val schema = graft.Caches.memo(spark,
            ("parquetSchema", path, files, confs)) {
          spark.read.parquet(path).schema
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** (path, length, mtime) of every leaf file under `path`, or of `path`
    * itself, sorted; None when it does not exist. */
  private def fingerprint(spark: SparkSession,
      path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      Some(Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts normalized to a µs TimestampType, whatever the parquet
    * footer actually stores. The driver-owned corpus has changed physical
    * type between generations (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs)), so
    * the reader adapts to the SCANNED schema instead of assuming one shape:
    *
    *  - LongType (TIMESTAMP(NANOS) surfaced via the legacy nanosAsLong
    *    conf): rebuild with integer DIV — floor division matches DuckDB's
    *    ns→µs truncation exactly, and avoids the double-division precision
    *    loss a `col/1000` would hit at ~1.7e18 ns.
    *  - TimestampNTZType (µs, no zone): cast to TimestampType. Under the
    *    UTC session timezone (all graft entry points set it) this cast is
    *    value-preserving on the stored micros, so `unix_micros`/
    *    `date_trunc`/`session_window` and the DuckDB `epoch_us` oracles
    *    keep bit-matching.
    *  - TimestampType: already the target shape; pass through.
    *
    * SESSION-WIDE SIDE EFFECT, by design: the nanosAsLong conf must still
    * be set when the lazy scan EXECUTES, so a set/restore scope around this
    * call would break the read. It is a no-op for non-NANOS parquet; it
    * changes how any OTHER nanos-timestamp parquet in the same session is
    * read (LongType instead of an error) — graft readers all come through
    * here; embedders with their own nanos parquet should set the conf at
    * session build instead. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected nanos-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  /** documents/embeddings normalize to their canonical column types on
    * read — same driver-owned-corpus lesson as `events`: the physical
    * types can change between corpus generations (int32 ids, float vs
    * double embeddings), and the typed views (graft.schema) plus every
    * downstream operator assume one shape. The casts are no-ops that
    * Catalyst's SimplifyCasts removes when the footer already matches,
    * so the canonical case pays nothing; a changed footer degrades to a
    * widening cast instead of an analysis-time crash (r5 lost the whole
    * events family to exactly that). Columns are selected by NAME — a
    * reordered footer is also survived. */
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").select(
      org.apache.spark.sql.functions.col("doc_id").cast(LongType).as("doc_id"),
      org.apache.spark.sql.functions.col("text").cast(StringType).as("text"),
      org.apache.spark.sql.functions.col("lang").cast(StringType).as("lang"),
      org.apache.spark.sql.functions.col("source").cast(StringType).as("source"),
      org.apache.spark.sql.functions.col("n_chars").cast(LongType).as("n_chars"))

  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").select(
      org.apache.spark.sql.functions.col("vec_id").cast(LongType).as("vec_id"),
      org.apache.spark.sql.functions.col("embedding")
        .cast(ArrayType(FloatType)).as("embedding"),
      org.apache.spark.sql.functions.col("label").cast(IntegerType).as("label"))

  // ---- reference text/CSV formats (SURVEY.md §2.1 S1-S4), schema-explicit ----

  /** S1: headerless CSV node table (reference Predictor.scala:83-97).
    * Explicit StructType instead of positional toDF renames; all-string
    * columns as in the reference, quotes handled by the CSV reader.
    */
  val nodeInfoSchema: StructType = StructType(Seq(
    StructField("srcId", StringType),
    StructField("year", StringType),
    StructField("title", StringType),
    StructField("authors", StringType),
    StructField("journal", StringType),
    StructField("abstract", StringType)))

  def nodeInfoCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "false").schema(nodeInfoSchema).csv(path)

  /** S2: whitespace-delimited labeled edge list (Predictor.scala:158-167),
    * pure-DataFrame — no RDD. ANSI-safe int cast via try_cast-equivalent.
    */
  // short-line-safe field access: ANSI (Spark 4 default) turns an
  // out-of-bounds getItem into INVALID_ARRAY_INDEX, so a blank or
  // truncated line would abort the whole read instead of parsing to the
  // nulls the malformed-line contract promises (P1Files filters them)
  private def field(f: org.apache.spark.sql.Column, i: Int) = {
    import org.apache.spark.sql.functions._
    when(size(f) > i, f.getItem(i))
  }

  def labeledEdges(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.text(path)
      .select(split(col("value"), " ").as("f"))
      .select(
        field(col("f"), 0).as("srcId"),
        field(col("f"), 1).as("dstId"),
        field(col("f"), 2).try_cast(IntegerType).as("label"))
  }

  /** S3: unlabeled edge list (Predictor.scala:176-185). */
  def edges(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.text(path)
      .select(split(col("value"), " ").as("f"))
      .select(field(col("f"), 0).as("srcId"), field(col("f"), 1).as("dstId"))
  }

  /** S4: tab-delimited SNAP edge list with '#' comment headers
    * (Predictor.scala:194-203 — which does NOT filter comments; we do).
    */
  def snapEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("comment", "#")
      .schema(StructType(Seq(
        StructField("srcId", StringType), StructField("dstId", StringType))))
      .csv(path)

  // ---- JSONL ingest/egress (the dominant training-corpus interchange) ----

  /** JSON-lines reader with a REQUIRED explicit schema: schema inference
    * is a full extra pass over the data — never acceptable at corpus
    * scale — and silently widens types between batches. Malformed lines
    * land in `_corrupt` (PERMISSIVE) with every data column null, so an
    * ingest job can split good/bad with one filter instead of dying
    * mid-corpus (same malformed-line contract as labeledEdges). Caveat
    * (Spark UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN): a
    * query whose referenced columns are ONLY `_corrupt` is rejected on
    * raw-file scans — select at least one data column alongside it (any
    * real good/bad split does), or cache the parsed frame first.
    * Compressed inputs (.gz/.zst per-file) decompress transparently;
    * note gzip files are unsplittable — one task per file, so shard
    * uploads into many files (the 100 TB layout is thousands of
    * .jsonl.gz shards, which is exactly this reader's parallelism). */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** The documents table's JSONL twin (corpus interchange shape). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    jsonl(spark, path, documentsSchema)

  /** JSONL sink; `compression` "gzip"/"none". Writes one shard per
    * partition — repartition upstream to choose the shard count. */
  def writeJsonl(df: DataFrame, path: String,
      compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)
}
