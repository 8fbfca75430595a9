package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{SparkEntry, SparkSpec}
import graft.sources.Tables

/** The watermarked-dedup replay (`Storage.streamDedup`, q_stream_dedup):
  * its result against the oracle's aggregate over the raw slice, its two
  * micro-batches, the session conf and views it leaves behind, the code
  * it compiles again on a rerun, and the driver-side replay order. */
class StreamDedupSpec extends SparkSpec {

  test("streamDedup equals the oracle aggregate over the raw slice, runs " +
      "exactly two micro-batches, both with input, and restores the conf") {
    val dir = sf("sf0.01")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(spark.conf.get)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val got = try {
      val rows = Storage.streamDedup(spark, dir).collect().toSeq
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      rows
    } finally spark.streams.removeListener(listener)

    assert(keys.map(spark.conf.get) === before)
    val batches = progress.asScala.toSeq
    assert(batches.map(_.numInputRows > 0) === Seq(true, true),
      batches.map(p => s"batch ${p.batchId}: ${p.numInputRows} rows"))

    val want = oracleRows(dir)
    assert(want.nonEmpty)
    assert(got === want)
  }

  /** The oracle's SQL run by Spark over `Tables.events`. */
  private def oracleRows(dir: String) = {
    Tables.events(spark, dir).createOrReplaceTempView("events")
    try spark.sql(SparkEntry.oracleSql("q_stream_dedup")).collect().toSeq
    finally spark.catalog.dropTempView("events")
  }

  test("streamDedup leaves no memory-sink view behind, and its rows still " +
      "equal the oracle") {
    val dir = sf("sf0.01")
    val got = Storage.streamDedup(spark, dir).collect().toSeq
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("graft_stream_dedup_")), views.mkString(", "))
    assert(got === oracleRows(dir))
  }

  test("a second streamDedup call compiles no class, and a fresh session " +
      "whose first query is q_stream_dedup keeps its own artifact state") {
    val dir = sf("sf0.01")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Storage.streamDedup(spark, dir).collect()
    val before = compiles.getCount
    Storage.streamDedup(spark, dir).collect()
    assert(compiles.getCount - before === 0L)

    val fresh = spark.newSession()
    SparkEntry.queries("q_stream_dedup")(fresh, dir).collect()
    assert(org.apache.spark.sql.GraftBridge.artifactIsolated(fresh))
  }

  test("the driver-side replay order equals orderBy(ts, event_id), with " +
      "tied and null ts") {
    val spark2 = spark
    import spark2.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq[Storage.DedupEvent](
      (5L, t("2024-01-01 00:00:00.000001"), "a", 1.0),
      (3L, t("2024-01-01 00:00:00.000001"), "b", 2.0),
      (9L, null, "c", 3.0),
      (1L, t("2024-01-01 00:00:00"), "a", 4.0),
      (7L, t("2024-01-01 00:00:00.000001"), "c", 5.0),
      (2L, null, "b", 6.0),
      (4L, t("2023-12-31 23:59:59.999999"), "a", 7.0))
    val df = rows.toDF("event_id", "ts", "event_type", "value").repartition(3)
    val want = df.orderBy($"ts", $"event_id").as[Storage.DedupEvent].collect().toSeq
    val got = df.as[Storage.DedupEvent].collect().sorted(Storage.replayOrder).toSeq
    assert(got === want)
    assert(got.map(_._1) === Seq(2L, 9L, 4L, 1L, 3L, 5L, 7L))
  }
}
