package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the temporal joins, pinned against tiny hand-checked
  * frames: inclusive as-of with deterministic tie-breaks, exactly-once
  * bounded range pairs (incl. pairs that span a cell boundary).
  */
class TemporalJoinSpec extends SparkSpec {

  test("asOf attaches latest right row at-or-before, inclusive, max tie-break") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(
      (1L, 100L, 50L),  // user 100: probe at t=50
      (2L, 100L, 10L),  // probe before any right row -> null payload
      (3L, 200L, 30L)   // user 200: probe exactly AT a right timestamp
    ).toDF("event_id", "user_id", "ts_us")
    val right = Seq(
      (11L, 100L, 20L), // user 100 @20
      (12L, 100L, 50L), // user 100 @50 (same ts as probe 1 -> visible)
      (13L, 100L, 60L), // after every probe -> never visible
      (21L, 200L, 30L), // user 200 @30, tie on ts with 22
      (22L, 200L, 30L)  // same ts: max click_id (22) must win
    ).toDF("click_id", "user_id", "ts_us")
      .select($"user_id", $"ts_us", $"click_id", $"ts_us".as("click_ts_us"))

    val got = TemporalJoin
      .asOf(left, right, Seq("user_id"), "ts_us",
        payloadCols = Seq("click_id", "click_ts_us"), tieBreak = "click_id")
      .orderBy($"event_id")
      .select($"event_id", $"click_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))

    assert(got.toSeq === Seq((1L, 12L), (2L, -1L), (3L, 22L)))
  }

  test("timeRangePairs finds each in-gap pair exactly once, incl. across cells") {
    val spark2 = spark
    import spark2.implicits._
    // gap = 100µs; cells are [0,100), [100,200), ...
    val rows = Seq(
      (1L, 7L, 10L),   // pairs with 2 (gap 80, same cell) and 3 (gap 100, next cell)
      (2L, 7L, 90L),   // pairs with 3 (gap 20, crosses cell boundary 90->110)
      (3L, 7L, 110L),  // pairs with 4? gap 190 > 100 -> no
      (4L, 7L, 300L),  // isolated
      (5L, 7L, 300L),  // exact tie with 4: ordered by id, gap 0
      (6L, 9L, 15L)    // other key: never pairs with user 7
    ).toDF("event_id", "user_id", "ts_us")

    val got = TemporalJoin
      .timeRangePairs(rows, Seq("user_id"), "ts_us", "event_id", maxGapUs = 100L)
      .select($"a_id", $"b_id", $"gap_us")
      .orderBy($"a_id", $"b_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    assert(got.toSeq === Seq(
      (1L, 2L, 80L), (1L, 3L, 100L), (2L, 3L, 20L), (4L, 5L, 0L)))
  }

  test("asOf agrees with a per-row reference on a random scatter") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic scatter with deliberate ts collisions (mod 97)
    val lefts = (1 to 80).map { i =>
      val h = i * 2654435761L
      (i.toLong, (h % 5).toLong, (h / 7) % 97L)
    }
    val rights = (1 to 60).map { i =>
      val h = (i + 1000) * 2654435761L
      (i + 100L, (h % 5).toLong, (h / 11) % 97L)
    }
    val got = TemporalJoin
      .asOf(lefts.toDF("event_id", "user_id", "ts_us"),
        rights.toDF("click_id", "user_id", "ts_us")
          .select($"user_id", $"ts_us", $"click_id"),
        Seq("user_id"), "ts_us", payloadCols = Seq("click_id"),
        tieBreak = "click_id")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    val expected = lefts.map { case (id, u, ts) =>
      val cands = rights.filter(r => r._2 == u && r._3 <= ts)
      // latest ts, then max click_id
      id -> (if (cands.isEmpty) -1L
             else cands.maxBy(r => (r._3, r._1))._1)
    }.toMap
    assert(got === expected)
    assert(expected.values.exists(_ != -1L) && expected.values.exists(_ == -1L))
  }

  test("asOf differential on the real corpus (NTZ-µs parquet) vs a naive " +
      "per-row reference — exercises the full reader→unix_micros→asOf path") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.sources.Tables.events(spark, sf("sf0.001"))
      .select($"event_id", $"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_us")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts_us", $"event_id".as("click_id"))
    val got = TemporalJoin
      .asOf(purchases, clicks, Seq("user_id"), "ts_us",
        payloadCols = Seq("click_id"), tieBreak = "click_id")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    val clickRows = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = purchases.collect().map { r =>
      val (id, u, ts) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val cands = clickRows.filter(c => c._1 == u && c._2 <= ts)
      id -> (if (cands.isEmpty) -1L else cands.maxBy(c => (c._2, c._3))._3)
    }.toMap
    assert(got === expected)
    assert(expected.nonEmpty && expected.values.exists(_ != -1L))
  }

  test("asOf differential is shape-independent: the same randomized events " +
      "written as nanos-long and as NTZ-µs parquet give identical answers") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val rnd = new scala.util.Random(20260813L)
    val rows = (1 to 300).map { i =>
      val typ = if (rnd.nextBoolean()) "click" else "purchase"
      (i.toLong, 1600000000000000L + rnd.nextInt(1000000) * 1000L,
        rnd.nextInt(10).toLong, typ, rnd.nextDouble(), "{}")
    }
    val base = rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    def write(name: String, tsCol: org.apache.spark.sql.Column): String = {
      val dir = tempDir(s"graft-asof-$name").toString
      base.select($"event_id", tsCol.as("ts"), $"user_id", $"event_type",
          $"value", $"props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val dirs = Seq(
      write("ns", ($"us" * 1000).cast(LongType)),
      write("ntz", timestamp_micros($"us").cast(TimestampNTZType)))
    val answers = dirs.map { dir =>
      graft.queries.Events.asofClickPurchase(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    }
    assert(answers(0) === answers(1))
    // cross-check shape 0 against a naive reference on the raw tuples
    val clicks = rows.filter(_._4 == "click")
    val expected = rows.filter(_._4 == "purchase").map { p =>
      val cands = clicks.filter(c => c._3 == p._3 && c._2 <= p._2)
      val best = if (cands.isEmpty) (-1L, -1L)
        else { val c = cands.maxBy(c => (c._2, c._1)); (c._1, p._2 - c._2) }
      (p._1, best._1, best._2)
    }.sortBy(_._1)
    assert(answers(0) === expected)
    assert(expected.exists(_._2 != -1L))
  }

  test("timeRangePairs agrees with the naive quadratic join") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random scatter: 60 events, 3 users, hash-spread
    val rows = (1 to 60).map { i =>
      (i.toLong, (i % 3).toLong, (i * 2654435761L) % 1000L)
    }.toDF("event_id", "user_id", "ts_us")
    val gap = 150L

    val fast = TemporalJoin
      .timeRangePairs(rows, Seq("user_id"), "ts_us", "event_id", gap)
      .select($"a_id", $"b_id", $"gap_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val a = rows.select($"event_id".as("a_id"), $"user_id", $"ts_us".as("a_ts"))
    val b = rows.select($"event_id".as("b_id"), $"user_id".as("b_u"), $"ts_us".as("b_ts"))
    val naive = a.join(b, $"user_id" === $"b_u" &&
        ($"b_ts" > $"a_ts" || ($"b_ts" === $"a_ts" && $"b_id" > $"a_id")) &&
        $"b_ts" - $"a_ts" <= gap)
      .select($"a_id", $"b_id", ($"b_ts" - $"a_ts").as("gap_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(fast === naive)
    assert(fast.nonEmpty)
  }
}
