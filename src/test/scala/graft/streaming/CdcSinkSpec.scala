package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The streaming MERGE sink: last-change-wins collapse, delete support,
  * snapshot-chain commits with an atomic pointer, and multi-batch
  * evolution ending in exactly the expected table. */
class CdcSinkSpec extends SparkSpec {

  test("applyBatch: last change per key wins; deletes remove; others kept") {
    val spark2 = spark
    import spark2.implicits._
    val current = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
    val changes = Seq(
      (2L, "b1", "U", 1L), (2L, "b2", "U", 2L), // same key: seq 2 wins
      (3L, "ignored", "D", 1L),                 // delete
      (4L, "d", "U", 1L))                       // insert
      .toDF("id", "payload", "_op", "_seq")
    val got = CdcSink.applyBatch(current, changes, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "b2", 4L -> "d"))
  }

  test("streaming apply: two micro-batches evolve the snapshot chain") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft-cdc").toString
    CdcSink.init(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), root)
    assert(CdcSink.currentSnapshot(spark, root).endsWith("/v0"))

    val mem = MemoryStream[(Long, String, String, Long)]
    val q = CdcSink.apply(
      mem.toDF().toDF("id", "payload", "_op", "_seq"), root, Seq("id"))
    try {
      mem.addData((2L, "b1", "U", 1L), (3L, "c", "U", 1L))
      q.processAllAvailable()
      assert(CdcSink.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ===
        Map(1L -> "a", 2L -> "b1", 3L -> "c"))
      mem.addData((1L, "x", "D", 1L), (3L, "c2", "U", 1L), (3L, "c3", "U", 2L))
      q.processAllAvailable()
      assert(CdcSink.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ===
        Map(2L -> "b1", 3L -> "c3"))
    } finally q.stop()
    // the chain is intact: every superseded snapshot is still readable
    // (time travel), and the pointer names the newest
    assert(spark.read.parquet(s"$root/v0").count() === 2)
    assert(spark.read.parquet(s"$root/v1").count() === 3)
    assert(CdcSink.currentSnapshot(spark, root).endsWith("/v2"))
  }

  test("durable checkpoint: a restarted stream resumes the chain instead " +
      "of reprocessing committed batches") {
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val land = tempDir("graft-cdc-land").toString
    val root = tempDir("graft-cdc-durable").toString
    val ckpt = tempDir("graft-cdc-durable-ckpt").toString
    CdcSink.init(Seq((1L, "a")).toDF("id", "payload"), root)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("payload", StringType), StructField("_op", StringType),
      StructField("_seq", LongType)))
    def drop(name: String, rows: Seq[(Long, String, String, Long)]): Unit = {
      Files.write(java.nio.file.Paths.get(s"$land/$name"),
        rows.map { case (id, p, op, seq) =>
          s"""{"id": $id, "payload": "$p", "_op": "$op", "_seq": $seq}"""
        }.mkString("\n").getBytes)
      ()
    }
    // one bounded drain of everything new since the checkpoint — the
    // restart shape (each drain is a NEW query instance; only the
    // checkpoint carries continuity)
    def drain(): Unit = {
      val changes = spark.readStream.schema(schema).json(land)
      val q = CdcSink.apply(changes, root, Seq("id"),
        checkpointLocation = Some(ckpt))
      q.processAllAvailable()
      q.stop()
    }
    drop("c1.jsonl", Seq((2L, "b", "U", 1L)))
    drain()
    assert(CdcSink.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a", 2L -> "b"))
    drop("c2.jsonl", Seq((1L, "a2", "U", 1L), (2L, "x", "D", 2L)))
    // a restart that reprocessed c1 would call commitBatch(batchId=0)
    // against a pointer already at v1+ and fail fast on the chain
    // require — so a clean second drain IS the no-reprocessing proof
    drain()
    assert(CdcSink.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === Map(1L -> "a2"))
    // chain: one snapshot per committed batch on top of v0, pointer at
    // the newest
    assert(CdcSink.currentSnapshot(spark, root).endsWith("/v2"))
  }

  test("crash replay is idempotent; a foreign checkpoint is rejected") {
    val spark2 = spark
    import spark2.implicits._
    val root = tempDir("graft-cdc-replay").toString
    CdcSink.init(Seq((1L, "a")).toDF("id", "payload"), root)
    val changes = Seq((2L, "b", "U", 1L)).toDF("id", "payload", "_op", "_seq")
    CdcSink.commitBatch(changes, root, Seq("id"), batchId = 0L)
    val after = CdcSink.read(spark, root).collect().map(_.toSeq).toSet
    // the post-commit crash scenario: the checkpoint never recorded
    // batch 0, so the stream replays it — same base, same result, same
    // pointer; nothing duplicated, nothing wedged
    CdcSink.commitBatch(changes, root, Seq("id"), batchId = 0L)
    assert(CdcSink.read(spark, root).collect().map(_.toSeq).toSet === after)
    assert(CdcSink.currentSnapshot(spark, root).endsWith("/v1"))
    // a batchId the chain cannot account for (fresh checkpoint against
    // an old table) must fail fast, not overwrite history
    val boom = intercept[IllegalArgumentException] {
      CdcSink.commitBatch(changes, root, Seq("id"), batchId = 7L)
    }
    assert(boom.getMessage.contains("checkpoint/table mismatch"))
  }
}
