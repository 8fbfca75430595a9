package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

class CorpusStreamsSpec extends SparkSpec {

  test("streaming ingest dedup flags batch near-dups vs corpus and in-batch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "a b c d e f g h", "en"),
      (2L, "z y x w v u t s", "en")).toDF("doc_id", "text", "lang")
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = CorpusStreams.ingestDedup(corpus, docs, threshold = 0.3) {
      (pairs, _) =>
        got.synchronized {
          got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
    }
    try {
      // 10 near-dups corpus doc 1 (6/8 shared bigrams = 0.75);
      // 11 shares nothing; 13 is an in-batch near-dup of 10
      mem.addData((10L, "a b c d e f g x", "en"),
        (11L, "p q r m n o k j", "en"),
        (13L, "a b c d e f g x", "en"))
      q.processAllAvailable()
      assert(got.toSet === Set((1L, 10L), (1L, 13L), (10L, 13L)))
      // a later batch still probes the standing corpus
      mem.addData((12L, "z y x w v u t q", "en"))
      q.processAllAvailable()
      assert(got.toSet === Set((1L, 10L), (1L, 13L), (10L, 13L), (2L, 12L)))
    } finally q.stop()
  }

  test("jsonl landing-dir stream: each shard exactly once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val land = tempDir("graft-land").toString
    val ckpt = tempDir("graft-ckpt").toString
    def drop(name: String, ids: Seq[Long]): Unit = {
      val lines = ids.map(i =>
        s"""{"doc_id": $i, "text": "doc $i", "lang": "en", "source": "s", "n_chars": 5}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$land/$name"),
        lines.mkString("\n").getBytes)
      ()
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    // one bounded drain of everything new since the checkpoint, then stop —
    // the restart-shaped trigger (AvailableNow)
    def drain(): Unit = {
      val q = CorpusStreams.jsonlStream(spark, land).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: java.lang.Long) =>
          got.synchronized { got ++= b.collect().map(_.getLong(0)) }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drop("shard1.jsonl", Seq(1L, 2L, 3L))
    drain()
    assert(got.sorted.toSeq === Seq(1L, 2L, 3L))
    drop("shard2.jsonl", Seq(4L, 5L))
    drain() // restart from checkpoint: shard1 must NOT reprocess
    assert(got.sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("landing-dir -> streaming dedup end-to-end: a dropped shard's " +
      "near-dup is flagged against the standing corpus") {
    val spark2 = spark
    import spark2.implicits._
    val land = tempDir("graft-land2").toString
    val corpus = Seq(
      (1L, "a b c d e f g h", "en"),
      (2L, "z y x w v u t s", "en")).toDF("doc_id", "text", "lang")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$land/batch.jsonl"),
      Seq(
        """{"doc_id": 10, "text": "a b c d e f g x", "lang": "en", "source": "s", "n_chars": 15}""",
        """{"doc_id": 11, "text": "p q r m n o k j", "lang": "en", "source": "s", "n_chars": 15}""")
        .mkString("\n").getBytes)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = CorpusStreams.jsonlStream(spark, land)
      .select($"doc_id", $"text", $"lang")
    val q = CorpusStreams.ingestDedup(corpus, stream, threshold = 0.3) {
      (pairs, _) =>
        got.synchronized {
          got ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
    }
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet === Set((1L, 10L)))
  }

  test("jsonl landing-dir stream routes malformed lines to _corrupt, " +
      "not all-null document rows") {
    import org.apache.spark.sql.streaming.Trigger
    val land = tempDir("graft-land3").toString
    val ckpt = tempDir("graft-ckpt3").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$land/mixed.jsonl"),
      Seq(
        """{"doc_id": 1, "text": "good line", "lang": "en", "source": "s", "n_chars": 9}""",
        """{"doc_id": 2, "text": "broken""", // truncated JSON
        """not json at all""").mkString("\n").getBytes)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Option[Long], Option[String])]
    val q = CorpusStreams.jsonlStream(spark, land)
      .select("doc_id", "_corrupt").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: java.lang.Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r => (
            if (r.isNullAt(0)) None else Some(r.getLong(0)),
            Option(r.getString(1))))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val (good, bad) = rows.partition(_._2.isEmpty)
    assert(good.map(_._1) === Seq(Some(1L)))      // clean line parses
    assert(bad.size === 2)                         // both bad lines captured
    assert(bad.forall(_._2.exists(_.nonEmpty)))    // raw text preserved
  }

  test("ingestBatchPairs equals the batch incremental operator") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq((1L, "a b c d e f g h", "en")).toDF("doc_id", "text", "lang")
    val batch = Seq((10L, "a b c d e f g x", "en")).toDF("doc_id", "text", "lang")
    val got = CorpusStreams.ingestBatchPairs(corpus, batch, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 10L, 0.75)))
  }

  test("streaming CM sketch ≡ batch sketch, bit-exact across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val probes = Seq("a", "b", "zz")
    val batch1 = Seq(("en", "a"), ("en", "a"), ("en", "b"), ("de", "a"))
    val batch2 = Seq(("en", "a"), ("de", "c"), ("de", "a"), ("en", "q"))
    val mem = MemoryStream[(String, String)]
    val q = CorpusStreams
      .cmWordsStream(mem.toDF().toDF("lang", "w"), probes)
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*) // second micro-batch merges into state
      q.processAllAvailable()
      def flat(df: org.apache.spark.sql.DataFrame) = df
        .select($"lang", org.apache.spark.sql.functions.explode($"ests").as("e"))
        .select($"lang", $"e.item", $"e.est")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val streamed = flat(spark.table("cm_stream"))
      val batched = flat(CorpusStreams.cmWordsStream(
        (batch1 ++ batch2).toDF("lang", "w"), probes))
      assert(streamed === batched, "state-merged sketch must equal batch")
      // and the estimates are the true counts here (no collisions at
      // this width): en saw a×3 b×1, de saw a×2; zz absent
      assert(streamed === Set(
        ("en", "a", 3L), ("en", "b", 1L), ("en", "zz", 0L),
        ("de", "a", 2L), ("de", "b", 0L), ("de", "zz", 0L)))
    } finally q.stop()
  }

  test("streaming HLL sketch ≡ batch sketch, and re-delivered values " +
    "cannot double-count (idempotent max-merge)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1L to 400L).map(("en", _)) ++ (1L to 50L).map(("de", _))
    // batch2 re-delivers half of batch1's values (at-least-once shape)
    // alongside new ones
    val batch2 = (201L to 600L).map(("en", _)) ++ (40L to 90L).map(("de", _))
    val mem = MemoryStream[(String, Long)]
    val q = CorpusStreams.hllStream(mem.toDF().toDF("grp", "v"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      def flat(df: org.apache.spark.sql.DataFrame) = df
        .select($"grp", $"h.est", $"h.n_zero")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
      val streamed = flat(spark.table("hll_stream"))
      val batched = flat(CorpusStreams.hllStream(
        (batch1 ++ batch2).toDF("grp", "v")))
      assert(streamed === batched,
        "state-merged registers must equal the batch sketch bit-for-bit")
      // and equal the sketch of the DISTINCT union — duplicates across
      // micro-batches are invisible to distinct-count state
      val dedup = flat(CorpusStreams.hllStream(
        (batch1 ++ batch2).distinct.toDF("grp", "v")))
      assert(streamed === dedup)
      val en = streamed.find(_._1 == "en").get
      assert(math.abs(en._2 / 600.0 - 1.0) < 0.25, s"en est=${en._2}")
    } finally q.stop()
  }
}
