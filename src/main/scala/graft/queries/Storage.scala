package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Driver-visible evidence queries for the storage/streaming families
  * that were previously spec-only (VERDICT r7 #2/#3): deterministic
  * Structured-Streaming replays through the CDC MERGE sink, the
  * stateful session machine, and the watermarked dedup; COW MERGE
  * (flat and partitioned) snapshot reads; schema-evolution reads;
  * skipping-index / z-order prunes whose file-level outcomes are
  * recomputable in SQL; compaction data identity; and a plan-gated
  * bucketed co-located join. Each derives its inputs purely from the
  * sf tables so a DuckDB oracle can recompute the exact final state —
  * these are the table-maintenance capabilities a 100 TB training
  * corpus needs (recrawl upserts, takedown deletes, scan pruning,
  * shuffle-free layouts), and until now a regression in them was
  * invisible to the driver's per-round correctness gate.
  *
  * Scratch space: each invocation replays into fresh temp-dir roots
  * (`tempDir`). The returned DataFrame lazily reads the final snapshot,
  * so the roots must outlive the call; one JVM shutdown hook deletes
  * them all, recursively, when the process exits.
  */
object Storage {

  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    tempRoots.forEach(root => org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile))
  }

  /** A fresh `Files.createTempDirectory` root, deleted at JVM exit. */
  private def tempDir(prefix: String): String = {
    val root = Files.createTempDirectory(prefix)
    tempRoots.add(root)
    root.toString
  }

  /** Run `body` with `spark.sql.shuffle.partitions` sized from the
    * replay's ACTUAL row count instead of the session-wide core count
    * (r18, VERDICT r17 #2 — the streaming replays are round-sequential:
    * scaling ratios 0.65–0.92, so their cost is per-batch fixed overhead,
    * not parallelism). Stateful streaming operators run OUTSIDE AQE and
    * allocate one state-store instance (tasks + per-batch checkpoint
    * delta files) per shuffle partition per micro-batch — 32 partitions
    * for a few-hundred-row replay slice is pure fixed cost. The law is
    * data-adaptive, not a local[32] constant: one partition per ~2000
    * slice rows, capped at the session's parallelism, so a decade-scale
    * slice climbs back to the full width. Restored in finally; the value
    * is also pinned into each stream's checkpoint at first start, so a
    * restarted drain keeps its partitioning regardless of session state.
    *
    * `noDataBatches` sets `spark.sql.streaming.noDataMicroBatches.enabled`
    * for the streams started in `body`, restored in the same finally.
    *
    * Artifact isolation is off in the scope. Spark keys its codegen cache
    * on (context class loader, code), and each `writeStream.start()`
    * clones the session; with isolation on, every clone gets its own
    * executor class loader, so every call compiled the stream's classes
    * again. The engine adds no session artifacts, so the streams lose
    * nothing. The caller's own lazy artifact state is resolved before the
    * scope opens, so the caller stays isolated. */
  private def withReplayPartitions[T](s: SparkSession, rows: Long,
      noDataBatches: Boolean = true)(body: => T): T = {
    val conf = s.conf
    val target = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, rows / 2000L))
    org.apache.spark.sql.GraftBridge.artifactIsolated(s)
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> target.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.artifact.isolation.enabled" -> "false")
    val prev = scoped.map { case (k, _) => k -> conf.get(k) }
    scoped.foreach { case (k, v) => conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  /** End-to-end CDC MERGE replay (streaming.CdcSink) with a DuckDB
    * oracle AND per-round restart evidence: seed the table from
    * `customer`, derive a deterministic change stream from a ~14%
    * slice of `orders` (o_orderkey ≡ 0 mod 7; `_seq` = o_orderkey —
    * unique and total-ordered; '1-URGENT'+'F' orders become deletes;
    * keys ≡ 0 mod 5 are remapped +2000 — mostly hitting OTHER real
    * customers, i.e. the update path, while keys landing above
    * max(c_custkey) exercise true inserts), publish it as JSONL into a
    * landing directory, and replay it through the real
    * foreachBatch→collapse→snapshot→commit sink as TWO separate query
    * instances off ONE durable checkpoint. Nothing touches the driver:
    * Spark writes the batch files and the sink's file source reads
    * them — the production ingest shape (the previous MemoryStream
    * seam collected the whole orders table driver-side; VERDICT r8).
    *
    * Restart evidence: each drain is a NEW StreamingQuery — only the
    * checkpoint carries continuity. A restart that reprocessed the
    * committed batch 0 would call commitBatch(batchId=0) against a
    * pointer already at v1+ and fail the chain require (driver-visible
    * err); a restart that lost the checkpoint would re-apply batch 1's
    * deletes/updates on the wrong base and break the hash compare. So
    * the oracle-green result IS the exactly-once-across-restart proof,
    * re-run every round (VERDICT r8 #4).
    *
    * Oracle-exactness across batching: the batch boundary is a `_seq`
    * threshold, so batch 1's every `_seq` precedes batch 2's, and
    * sequential per-batch last-wins application equals GLOBAL last-wins
    * per key — one SQL window (row_number over _seq desc) in DuckDB,
    * independent of batching. A sink that loses a batch, applies one
    * twice, or collapses in arrival order instead of `_seq` order
    * breaks the hash compare. */
  def cdcState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = tempDir("graft-cdc-state-")
    val ckpt = tempDir("graft-cdc-state-ckpt-")
    val land = tempDir("graft-cdc-state-land-")
    val stage = tempDir("graft-cdc-state-stage-")

    graft.streaming.CdcSink.init(
      Tables.customer(s, dir).select(
        $"c_custkey".as("custkey"),
        lit("init").as("status"),
        $"c_acctbal".as("last_price")),
      root)

    val changes = Tables.orders(s, dir)
      .filter($"o_orderkey" % 7 === 0)
      .select(
        when($"o_orderkey" % 5 === 0, $"o_custkey" + 2000L)
          .otherwise($"o_custkey").as("custkey"),
        $"o_orderstatus".as("status"),
        $"o_totalprice".as("last_price"),
        when($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "F",
          "D").otherwise("U").as("_op"),
        $"o_orderkey".as("_seq"))
    // batch boundary: a _seq threshold (max/2 ≈ the midpoint of the
    // dense key domain) — batch 1's every _seq < batch 2's, the
    // precondition for batch-order-invariant last-wins
    val mid = changes.agg(max($"_seq")).head.getLong(0) / 2

    // Executors write the batch as JSONL; completed part files are
    // renamed into the watched landing dir (rename-into-place is the
    // atomic-visibility convention file-stream producers use — the
    // source never sees a half-written file). Doubles survive the JSON
    // round trip bit-exactly (Double.toString is round-trip by spec).
    val hconf = s.sparkContext.hadoopConfiguration
    def publish(batch: DataFrame, n: Int): Unit = {
      val tmp = s"$stage/b$n"
      batch.write.json(tmp)
      val src = new org.apache.hadoop.fs.Path(tmp)
      val fs = src.getFileSystem(hconf)
      fs.listStatus(src).map(_.getPath).filter(_.getName.startsWith("part-"))
        .zipWithIndex.foreach { case (p, i) =>
          val dest = new org.apache.hadoop.fs.Path(land, s"b$n-$i.json")
          require(fs.rename(p, dest),
            s"cdcState publish: rename $p -> $dest failed — a dropped " +
              "batch file would only surface later as an oracle mismatch")
        }
    }
    val schema = changes.schema
    // one bounded drain of everything new since the checkpoint, then stop
    def drain(): Unit = {
      val q = graft.streaming.CdcSink.apply(
        s.readStream.schema(schema).json(land),
        root, Seq("custkey"), checkpointLocation = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    // NOT wrapped in withReplayPartitions (r18, measured): the CDC
    // replay has no state store — its per-batch cost is the snapshot
    // MERGE (anti-join + full parquet rewrite of the ~150k-row table),
    // which is real parallel work that a rows/2000 width would starve
    // (7 tasks on 32 cores; both A/B mini-bench runs came out 15-40%
    // slower wrapped). The stateful replays below keep the wrapper —
    // their fixed cost IS per-partition state-store instances.
    publish(changes.filter($"_seq" <= mid), 1)
    drain()
    publish(changes.filter($"_seq" > mid), 2)
    drain() // a RESTART: new query instance, same checkpoint
    graft.streaming.CdcSink.read(s, root).orderBy($"custkey")
  }

  private val streamSessionsSeq =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private val bucketSeq =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Bucketed co-located join evidence (sources.Bucketing): orders and
    * customer are written as managed tables bucketed (and bucket-sorted)
    * on the join key, the join is planned under frozen conf (broadcast
    * off, AQE off — the same freeze BucketingSpec uses) and the plan is
    * REQUIRE-gated in-query: a shuffle exchange anywhere, a non-SMJ
    * join, or an unbucketed scan turns this query into a driver-visible
    * `err`. The returned aggregate is oracle-checked against the plain
    * join in SQL — plan shape AND data correctness in one driver
    * signal. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = bucketSeq.incrementAndGet()
    val (tl, tr) = (s"graft_bkt_orders_$n", s"graft_bkt_customer_$n")
    // The in-memory catalog is per-JVM but the warehouse directory is
    // not: a previous process's table leaves its location behind, and
    // saveAsTable(Overwrite) only replaces REGISTERED tables — a stale
    // location fails with LOCATION_ALREADY_EXISTS (seen on the second
    // 10× bench run). Drop both the catalog entry and the physical
    // location for the names this query owns.
    def dropTables(): Unit = Seq(tl, tr).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    dropTables()
    // The whole body runs under a second try/finally that drops the
    // tables once the (≤ 5-row) aggregate is materialized — repeated
    // invocations in one process (a 10× bench = 20 table copies)
    // otherwise accumulate catalog entries and warehouse data
    // indefinitely (ADVICE r8).
    try {
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir).select($"o_custkey".as("custkey"),
          $"o_totalprice"), tl, "custkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, dir).select($"c_custkey".as("custkey"),
          $"c_mktsegment".as("segment")), tr, "custkey", buckets = 8)
      val conf = s.conf
      val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = conf.get("spark.sql.adaptive.enabled")
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        val joined = graft.sources.Bucketing.bucketJoin(s, tl, tr, "custkey")
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"bucketed join planned a shuffle:\n$plan")
        require(plan.contains("SortMergeJoin"),
          s"bucketed join did not plan SMJ:\n$plan")
        require(plan.contains("Bucketed: true"),
          s"scan did not use the bucketed layout:\n$plan")
      } finally {
        conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      val agg = s.table(tl).join(s.table(tr), "custkey")
        .groupBy($"segment")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy($"segment")
      val out = agg.collect() // one row per mktsegment (5) — tiny
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1),
          agg.schema)
        .orderBy($"segment")
    } finally dropTables()
  }

  /** Streaming sessionization evidence (streaming.EventStreams
    * .sessionize — flatMapGroupsWithState with event-time timeout): a
    * deterministic replay of a 2 % user slice of the events table
    * through the REAL stateful operator, in two ts-ordered
    * micro-batches, then one per-user far-future sentinel event that
    * closes every still-open session through the ordinary gap logic
    * (the sentinel's own session stays open and unemitted). With
    * batches sliced in global ts order, an event in a later batch is ≥
    * every earlier event, so a session the timeout already emitted can
    * never be extended by a later event (t > last + 2·gap ⇒ the batch
    * semantics also split there) — stream output ≡ the batch gap
    * sessionization, which is one lag/cumsum window in SQL. The oracle
    * therefore checks the custom state machine's session boundaries,
    * counts, and µs timestamps bit-for-bit — driver-visible evidence
    * for the stateful-streaming family beyond the CDC sink. */
  def streamSessions(s: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"user_id" % 50 === 0)
      .select($"user_id".cast("long").as("user_id"), $"ts")
      .orderBy($"ts", $"user_id")
      .as[(Long, java.sql.Timestamp)].collect()
    require(ev.nonEmpty, s"no events for the user slice in $dir")
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val evUs = ev.map { case (u, t) => (u, us(t)) }
    val users = evUs.map(_._1).distinct.toIndexedSeq
    val sentinelUs =
      evUs.iterator.map(_._2).max + (gapMinutes + 120L) * 60000000L

    // Since r11 this replay runs through a RESTART (ADVICE r9 #7): a
    // JSON landing dir + checkpoint + parquet file sink (the cdcState
    // conventions), batch 1 under query instance 1, batch 2 + the
    // sentinel under a NEW instance recovering the same checkpoint — so
    // the oracle bit-match now also proves the flatMapGroupsWithState
    // state store (open sessions, watermark, timeout registrations)
    // survives a query restart: a session spanning the restart boundary
    // is only emitted whole if instance 2 recovered instance 1's state.
    val land = tempDir("graft-sess-land-")
    val ckpt = tempDir("graft-sess-ckpt-")
    val out = tempDir("graft-sess-out-")

    // driver-side atomic publish: write hidden (source-ignored), then
    // rename into visibility — the file source never sees a half file.
    // µs epochs as JSON longs round-trip exactly (no timestamp parsing).
    // Replay order: the file source sorts by mtime, and the watermark
    // advances per micro-batch, so the sentinel file MUST sort strictly
    // after every data batch or its max-ts rows drag the watermark past
    // the later events (dropped as late → wrong sessions). A sleep-based
    // gap (the pre-r12 form) breaks on filesystems with coarse mtime
    // granularity (ADVICE r11); set strictly increasing mtimes EXPLICITLY
    // instead — 10 s apart so even second-truncating stores preserve the
    // order, anchored in the past so real clock time never interleaves.
    val publishSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    val mtimeBase = (System.currentTimeMillis() / 1000L) * 1000L - 3600000L
    def publish(name: String, batch: Seq[(Long, Long)]): Unit = {
      val tmp = java.nio.file.Paths.get(land, s".$name.tmp")
      java.nio.file.Files.write(tmp, batch
        .map { case (u, t) => s"""{"user_id":$u,"ts_us":$t}""" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      val dst = java.nio.file.Paths.get(land, s"$name.json")
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          mtimeBase + publishSeq.getAndIncrement() * 10000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType)))
    // one bounded drain of everything new since the checkpoint; with
    // onePerTrigger each landed file replays as its own micro-batch
    def drain(onePerTrigger: Boolean): Unit = {
      val rdr = s.readStream.schema(schema)
      val src =
        (if (onePerTrigger) rdr.option("maxFilesPerTrigger", 1) else rdr)
          .json(land)
      val q = graft.streaming.EventStreams
        .sessionize(src.select($"user_id",
          timestamp_micros($"ts_us").as("ts")), gapMinutes)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val half = math.max((evUs.length + 1) / 2, 1)
    val batches = evUs.grouped(half).toSeq
    withReplayPartitions(s, evUs.length.toLong) {
      publish("b1", batches.head.toIndexedSeq)
      drain(onePerTrigger = false) // instance 1
      batches.drop(1).zipWithIndex.foreach { case (b, i) =>
        publish(s"b${i + 2}", b.toIndexedSeq) }
      publish("b9-sentinel", users.map(u => (u, sentinelUs)))
      drain(onePerTrigger = true) // instance 2: a RESTART, same checkpoint
    }
    s.read.parquet(out)
      .select($"user_id", $"start_us", $"end_us", $"n_events")
      .orderBy($"user_id", $"start_us")
  }

  private[graft] type DedupEvent = (Long, java.sql.Timestamp, String, Double)

  /** The order `streamDedup` replays its slice in, applied on the driver
    * to the collected slice: `orderBy(ts, event_id)` with Spark's default
    * nulls-first, without a range sort across the cluster. */
  private[graft] val replayOrder: Ordering[DedupEvent] =
    Ordering.by((e: DedupEvent) => (Option(e._2), e._1))(Ordering.Tuple2(
      Ordering.Option(Ordering.fromLessThan[java.sql.Timestamp](_ before _)),
      Ordering.Long))

  /** Streaming exact-dedup evidence (streaming.EventStreams.dedupEvents
    * — dropDuplicatesWithinWatermark, the bounded-state dedup of an
    * at-least-once ingest): a 5 % event slice is replayed in two
    * ts-ordered micro-batches with every third event RE-DELIVERED, both
    * within its own batch and again in the following batch (the two
    * at-least-once failure shapes). The survivors must be exactly the
    * original slice: in-batch duplicates collapse against state,
    * cross-batch duplicates are either matched by state inside the
    * delay window or dropped as late — both remove them, and originals
    * are never late because batches are fed in ts order. The aggregate
    * over the survivors is recomputed by the oracle from the raw slice,
    * so a dedup that loses an original, passes a duplicate, or expires
    * state too early breaks the hash compare.
    *
    * The stream runs with no-data micro-batches off: the dedup emits
    * every survivor in the data batch that brings it, so a batch that
    * only advances the watermark and evicts state adds no output row, and
    * the stream stops right after its second data batch. (The session
    * replay above keeps them: its sessions are emitted on watermark
    * advance.) */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = Tables.events(s, dir)
      .filter($"event_id" % 20 === 0)
      .select($"event_id", $"ts", $"event_type", $"value")
      .as[DedupEvent].collect().sorted(replayOrder)
    require(ev.nonEmpty, s"no events in the dedup slice for $dir")
    val name = s"graft_stream_dedup_${streamSessionsSeq.incrementAndGet()}"
    val mem = MemoryStream[DedupEvent]
    withReplayPartitions(s, ev.length.toLong, noDataBatches = false) {
      val q = graft.streaming.EventStreams.dedupEvents(
          mem.toDF().toDF("event_id", "ts", "event_type", "value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val half = math.max((ev.length + 1) / 2, 1)
        val slices = ev.grouped(half).toSeq
        slices.zipWithIndex.foreach { case (b, i) =>
          val dupesWithin = b.zipWithIndex.collect {
            case (e, j) if j % 3 == 0 => e }
          val dupesFromPrev = if (i == 0) IndexedSeq.empty
            else slices(i - 1).takeRight(5).toIndexedSeq
          mem.addData(b.toIndexedSeq ++ dupesWithin ++ dupesFromPrev)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    // the frame keeps the memory sink through its analyzed plan; the view
    // would otherwise hold it, and its rows, for the session's lifetime
    val survivors = s.table(name)
    s.catalog.dropTempView(name)
    survivors
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("value_sum"),
        sum($"event_id").as("id_sum"))
      .orderBy($"event_type")
  }

  /** Copy-on-write MERGE evidence (sources.Upsert): write a base
    * snapshot derived from `customer`, merge a deterministic update set
    * derived from `orders` — the latest order per customer among order
    * keys ≡ 0 (mod 7) updates that customer's row; the latest among
    * keys ≡ 3 (mod 11) inserts a fresh +1 000 000 key — and return the
    * merged snapshot the new directory holds. The anti-join∖union MERGE
    * is one SQL set expression in DuckDB, so the post-merge table is
    * hash-compared bit-for-bit (doubles round-trip parquet exactly). */
  def mergeState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseDir = tempDir("graft-merge-base-")
    val dest = tempDir("graft-merge-dest-") + "/snap"

    Tables.customer(s, dir)
      .select($"c_custkey".as("custkey"), $"c_mktsegment".as("segment"),
        $"c_acctbal".as("bal"))
      .write.mode("overwrite").parquet(baseDir)

    def latestPer(filtered: DataFrame): DataFrame =
      filtered
        .withColumn("__rn", row_number().over(
          Window.partitionBy($"o_custkey").orderBy($"o_orderkey".desc)))
        .filter($"__rn" === 1).drop("__rn")
    val o = Tables.orders(s, dir)
    // Insert-arm key offset DERIVED from the key domain (r15 — the
    // fixed +1e6 collided with real custkeys once the corpus passed a
    // million customers: the sfp100 storage decade failed the MERGE's
    // duplicate-key guard with 2.0M update rows / 1.8M distinct keys.
    // max+1 keeps the arms disjoint at ANY scale; the oracle computes
    // the same scalar from the same table).
    val insertOffset = Tables.customer(s, dir)
      .agg(max($"c_custkey")).head.getLong(0) + 1L
    val updates = latestPer(o.filter($"o_orderkey" % 7 === 0))
      .select($"o_custkey".as("custkey"), $"o_orderpriority".as("segment"),
        $"o_totalprice".as("bal"))
      .unionByName(latestPer(o.filter($"o_orderkey" % 11 === 3))
        .select(($"o_custkey" + lit(insertOffset)).as("custkey"),
          $"o_orderstatus".as("segment"), $"o_totalprice".as("bal")))

    graft.sources.Upsert.upsertSnapshot(s, baseDir, updates,
      Seq("custkey"), dest)
    s.read.parquet(dest).orderBy($"custkey")
  }

  /** Partition-scoped COW MERGE evidence (sources.Upsert.mergePartitioned):
    * the base snapshot is hive-partitioned by `segment`
    * (c_mktsegment, 5 values); the update set re-segments each matched
    * customer to its latest ≡0 (mod 13) order's priority — a DIFFERENT
    * value domain, so every update MOVES its key across partitions and
    * materializes new partition directories, exercising the
    * touched-partition discovery (update partitions ∪ partitions holding
    * matched keys), the literal-predicate pruning path, and the
    * by-reference move of untouched files. The merged table itself is
    * the same anti-join∖union set expression in SQL — the oracle
    * hash-checks it bit-for-bit. */
  def mergePartitionedState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseDir = tempDir("graft-mergep-base-") + "/t"
    val dest = tempDir("graft-mergep-dest-") + "/t"
    Tables.customer(s, dir)
      .select($"c_custkey".as("custkey"), $"c_mktsegment".as("segment"),
        $"c_acctbal".as("bal"))
      .write.partitionBy("segment").parquet(baseDir)
    val updates = Tables.orders(s, dir)
      .filter($"o_orderkey" % 13 === 0)
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"o_orderkey".desc)))
      .filter($"__rn" === 1)
      .select($"o_custkey".as("custkey"),
        $"o_orderpriority".as("segment"), $"o_totalprice".as("bal"))
    graft.sources.Upsert.mergePartitioned(s, baseDir, updates,
      keyCols = Seq("custkey"), partCols = Seq("segment"), dest)
    s.read.parquet(dest)
      .select($"custkey", $"segment", $"bal") // partition col order varies
      .orderBy($"custkey")
  }

  /** Schema-evolution read evidence (sources.Maintenance.readEvolved):
    * legacy files carry (custkey, bal); later files add a `seg` column.
    * The mergeSchema read must union the schemas and null-fill `seg` on
    * legacy rows — the aggregate over coalesce(seg,'legacy') is
    * recomputed by the oracle from customer ∪ orders directly, so a
    * read that drops legacy rows, mis-fills the evolved column, or
    * fails to merge footers breaks the hash compare. */
  def evolvedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempDir("graft-evolve-") + "/t"
    Tables.customer(s, dir)
      .select($"c_custkey".as("custkey"), $"c_acctbal".as("bal"))
      .write.parquet(table)
    // same derived offset as mergeState (r15): evolved rows must not
    // collide with legacy custkeys at any corpus scale
    val insertOffset = Tables.customer(s, dir)
      .agg(max($"c_custkey")).head.getLong(0) + 1L
    Tables.orders(s, dir)
      .filter($"o_orderkey" % 3 === 1)
      .select(($"o_custkey" + lit(insertOffset)).as("custkey"),
        $"o_totalprice".as("bal"), $"o_orderpriority".as("seg"))
      .write.mode("append").parquet(table)
    graft.sources.Maintenance.readEvolved(s, table)
      .groupBy(coalesce($"seg", lit("legacy")).as("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum($"bal".cast("decimal(18,2)")).cast("double").as("bal_sum"),
        sum($"custkey").as("key_sum"))
      .orderBy($"seg")
  }

  /** Z-order layout evidence (sources.ZOrder + SkippingIndex) with a
    * FULL oracle: lineitem is clustered on the Morton key of
    * (l_partkey, l_suppkey) — the REAL quantize/interleave operators, 4
    * bits per dimension — into 16 contiguous z-range files, the min/max
    * index is built over BOTH dimensions from the real files, and a 2-D
    * box predicate (~25 % of each dimension) prunes through it. The one
    * departure from ZOrder.cluster is the file assignment: explicit
    * z-range buckets (z >> 4) instead of repartitionByRange, because
    * range-partitioner SAMPLING is not replicable in SQL while the
    * explicit buckets — the same contiguous-z layout — make every
    * output column a pure function of the data. The top 4 z bits are
    * the interleaved high-order bits of both dimensions, so the 16
    * files tile a 4×4 grid over (partkey, suppkey): a quarter-domain
    * box keeps ~the 2×2 grid cells it touches — the multi-dimension
    * locality a 1-D sort cannot give — and DuckDB recomputes the exact
    * per-file ranges, hence exactly which files an honest index keeps. */
  def zorderPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = tempDir("graft-zorder-")
    val table = s"$tmp/table"
    val Z = graft.sources.ZOrder
    val bits = 4
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey")
    val st = li.agg(
      min($"l_partkey").cast("double"), max($"l_partkey").cast("double"),
      min($"l_suppkey").cast("double"), max($"l_suppkey").cast("double"))
      .head
    val (pLo, pHi, sLo, sHi) =
      (st.getDouble(0), st.getDouble(1), st.getDouble(2), st.getDouble(3))
    val z = Z.interleave(Seq(
      Z.quantize($"l_partkey", pLo, pHi, bits),
      Z.quantize($"l_suppkey", sLo, sHi, bits)), bits)
    li.withColumn("zb", shiftright(z, 4))
      .repartition($"zb")
      .write.partitionBy("zb").parquet(table)

    val index = graft.sources.SkippingIndex
      .build(s, table, Seq("l_partkey", "l_suppkey")).persist()
    // box: [lo+0.30·span, lo+0.55·span] × [lo+0.40·span, lo+0.65·span],
    // floored to integers with the same double ops the oracle uses
    val bpLo = math.floor(pLo + (pHi - pLo) * 0.30).toLong
    val bpHi = math.floor(pLo + (pHi - pLo) * 0.55).toLong
    val bsLo = math.floor(sLo + (sHi - sLo) * 0.40).toLong
    val bsHi = math.floor(sLo + (sHi - sLo) * 0.65).toLong
    def ruledOut(c: String, lo: Long, hi: Long) =
      col(s"${c}_min").isNotNull && col(s"${c}_max").isNotNull &&
        (col(s"${c}_max") < lit(lo) || col(s"${c}_min") > lit(hi))
    val kept = index.filter(!(ruledOut("l_partkey", bpLo, bpHi) ||
      ruledOut("l_suppkey", bsLo, bsHi)))
    val files = kept.select($"file").collect().map(_.getString(0))
    val filesTotal = index.count()
    index.unpersist(blocking = false)
    val matched = (if (files.isEmpty) li.limit(0)
      else s.read.parquet(files.toIndexedSeq: _*))
      .filter($"l_partkey".between(bpLo, bpHi) &&
        $"l_suppkey".between(bsLo, bsHi))
      .agg(count(lit(1)), sum($"l_orderkey")).head
    Seq((filesTotal, files.length.toLong, matched.getLong(0),
      matched.getLong(1)))
      .toDF("files_total", "files_kept", "rows_matched", "key_sum")
  }

  /** Compaction evidence (sources.Maintenance.compact): fragment
    * lineitem into 64 files, compact to ~16 MB targets, and return
    * data-identity aggregates over the COMPACTED table — the oracle
    * recomputes them from lineitem directly, so any row lost,
    * duplicated, or corrupted by the rewrite breaks the hash compare.
    * The file-count outcome is enforced in-query (fragmented count is
    * exactly the requested 64; compacted count is size-derived — real
    * bytes, not SQL-recomputable — so it is gated by a hard require
    * rather than emitted): a compaction that stops compacting turns
    * this query into a driver-visible `err`, not a silent pass. */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = tempDir("graft-compact-")
    val (frag, dest) = (s"$tmp/frag", s"$tmp/compacted")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
      .repartition(64)
      .write.parquet(frag)
    def dataFiles(p: String): Int =
      new java.io.File(p).listFiles().count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    val before = dataFiles(frag)
    require(before == 64, s"fragmented write produced $before files")
    // Scale-correct target (r15 — caught at the 100× distinct decade):
    // a FIXED 16 MB target makes `after < before/2` corpus-dependent —
    // at 60M rows the 64 fragments are already ~8-13 MB each, the
    // size-derived correct output is ~40 files, and the guard read
    // honest compaction as "not compacting". Aim for ~16 output files
    // at any corpus size, floored at 16 MB so small corpora still
    // exercise real multi-file merges; the require is now a
    // scale-invariant property of the operator, not of the corpus.
    val fragBytes = new java.io.File(frag).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    graft.sources.Maintenance.compact(s, frag, dest,
      targetFileBytes = math.max(16L * 1024 * 1024, fragBytes / 16))
    val after = dataFiles(dest)
    require(after < before / 2,
      s"compaction left $after of $before files — not compacting")
    s.read.parquet(dest)
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_orderkey").as("key_sum"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double")
          .as("qty_sum"))
  }

  /** Data-skipping prune evidence (sources.SkippingIndex) with a FULL
    * oracle — the file-level outcome is recomputed in SQL, not just the
    * row counts: lineitem is laid out as 8 contiguous `l_orderkey`
    * ranges (one file per range — the clustered layout ZOrder produces
    * on one dimension), the min/max index is built from the real files,
    * and an interval predicate covering ~15 % of the key domain is
    * pruned through it. Because the layout is a pure function of the
    * data (bucket = ⌊key·8/(max+1)⌋, floor'd in double on both
    * engines), DuckDB recomputes the per-bucket min/max and hence exactly
    * which files an honest index must keep — files_total, files_kept,
    * rows_matched and the matched key-sum are all bit-checkable. An
    * index that stops pruning (kept = 8) or over-prunes (wrong rows /
    * key-sum through prunedRead) fails the hash compare. */
  def skippingPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = tempDir("graft-skip-")
    val table = s"$tmp/table"
    val li = Tables.lineitem(s, dir).select($"l_orderkey")
    val m = li.agg(max($"l_orderkey")).head.getLong(0) + 1L
    li.withColumn("b",
        floor($"l_orderkey" * lit(8.0) / lit(m.toDouble)).cast("int"))
      .repartition($"b")
      .write.partitionBy("b").parquet(table)

    val index = graft.sources.SkippingIndex.build(s, table, Seq("l_orderkey"))
      .persist()
    val lo = math.floor(m.toDouble * 0.5).toLong
    val hi = math.floor(m.toDouble * 0.65).toLong
    val filesTotal = index.count()
    val filesKept =
      graft.sources.SkippingIndex.candidateFiles(index, "l_orderkey", lo, hi)
        .length.toLong
    val matched = graft.sources.SkippingIndex
      .prunedRead(s, table, index, "l_orderkey", lo, hi)
      .agg(count(lit(1)).as("rows_matched"),
        sum($"l_orderkey").as("key_sum"))
      .head
    index.unpersist(blocking = false)
    Seq((filesTotal, filesKept, matched.getLong(0), matched.getLong(1)))
      .toDF("files_total", "files_kept", "rows_matched", "key_sum")
  }
}
