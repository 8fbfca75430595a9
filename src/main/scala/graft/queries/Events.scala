package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.plans.BoundedSort._
import graft.sources.Tables

/** Event-stream batch queries: tumbling-window aggregation, JSON column
  * extraction, gap-based sessionization via window functions. The same
  * logic runs incrementally under Structured Streaming — see
  * graft.streaming.EventStreams, which shares these column expressions.
  *
  * Scale notes: hourly bucketing uses date_trunc (codegen'd, no UDF); the
  * sessionize window shuffles once on user_id and all per-user work stays
  * within the partition. Timestamp arithmetic is done in exact microseconds
  * (unix_micros) so the DuckDB oracle (epoch_us) bit-matches.
  */
object Events {

  /** Tumbling 1-hour window counts/sums per event type. */
  def hourlyStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type", $"value")
      .groupBy($"hour", $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy($"hour", $"event_type")
  }

  /** JSON property extraction (from_json/get_json_object path) + aggregate. */
  def jsonProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        // try_cast: a malformed k (non-integer string) nulls the row
        // instead of aborting the query under ANSI — same convention as
        // Tables.labeledEdges / TextOps.yearDiff
        get_json_object($"props", "$.k").try_cast(IntegerType).as("k"))
      .groupBy($"event_type")
      .agg(
        sum($"k").cast("long").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        count(lit(1)).as("n"))
      .boundedSort($"event_type")
  }

  /** As-of join (graft.operators.TemporalJoin.asOf): each purchase event
    * picks up the most recent click at-or-before it by the same user.
    * Missing matches surface as -1 (not null) so the driver's oracle
    * compare stays dtype-stable (nullable int64 → float64 in pandas). */
  def asofClickPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_us")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts_us",
        $"event_id".as("click_id"), $"ts_us".as("click_ts_us"))
    graft.operators.TemporalJoin
      .asOf(purchases, clicks, Seq("user_id"), "ts_us",
        payloadCols = Seq("click_id", "click_ts_us"), tieBreak = "click_id")
      .select($"event_id", $"user_id",
        coalesce($"click_id", lit(-1L)).as("click_id"),
        coalesce($"ts_us" - $"click_ts_us", lit(-1L)).as("gap_us"))
      .orderBy($"event_id")
  }

  /** Bounded time-range self-join (TemporalJoin.timeRangePairs): ordered
    * same-user event pairs within 10 minutes. */
  def eventPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
    graft.operators.TemporalJoin
      .timeRangePairs(e, Seq("user_id"), "ts_us", "event_id",
        maxGapUs = 10L * 60L * 1000000L)
      .select($"a_id", $"b_id", $"user_id", $"gap_us")
      .orderBy($"a_id", $"b_id")
  }

  /** Hour-over-hour volume deltas per event type — the drift/anomaly
    * diagnostic over the tumbling-window rollup (a spike shows as a
    * delta outlier long before totals move). The lag window runs over
    * the ALREADY-AGGREGATED hourly frame (one row per (hour, type)), so
    * its sort is over thousands of rows at any corpus scale; first hour
    * per type is dropped (no predecessor — kept semantics exact instead
    * of a sentinel). Integer arithmetic end-to-end. */
  def hourlyDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, dir)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .groupBy($"hour", $"event_type")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    hourly
      .withColumn("prev_events", lag($"n_events", 1).over(w))
      .filter($"prev_events".isNotNull)
      .select($"hour", $"event_type", $"n_events", $"prev_events",
        ($"n_events" - $"prev_events").as("delta"))
      .orderBy($"hour", $"event_type")
  }

  /** Funnel conversion — the event-sequence analytic the family lacked:
    * per user, the FIRST click anchors the funnel, and purchases inside
    * [first_click, first_click + windowMinutes] count as conversions.
    * Users with clicks but no in-window purchase report 0 (left join +
    * coalesce), so the result is the full funnel base, not just
    * converters.
    *
    * Scale: the anchor agg (min over clicks) is map-side combinable per
    * user; the purchases join is an equi-join on user_id with the window
    * predicate applied post-join (no range-join machinery needed — the
    * anchor side is one row per user); exact integer µs arithmetic
    * end-to-end. */
  def funnel(s: SparkSession, dir: String,
      windowMinutes: Int = 60): DataFrame = {
    import s.implicits._
    val winUs = windowMinutes.toLong * 60L * 1000000L
    val e = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val anchors = e.filter($"event_type" === "click")
      .groupBy($"user_id").agg(min($"ts_us").as("first_click_us"))
    val conv = e.filter($"event_type" === "purchase")
      .join(anchors, "user_id")
      .filter($"ts_us" >= $"first_click_us" &&
        $"ts_us" - $"first_click_us" <= winUs)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_conversions"),
        min($"ts_us" - $"first_click_us").as("first_gap_us"))
    anchors.join(conv, Seq("user_id"), "left_outer")
      .select($"user_id", $"first_click_us",
        coalesce($"n_conversions", lit(0L)).as("n_conversions"),
        coalesce($"first_gap_us", lit(-1L)).as("first_gap_us"))
      .orderBy($"user_id")
  }

  /** Native SessionWindow operator (session_window() grouping — Spark's
    * built-in merging session assignment, vs the lag/cumsum formulation in
    * userSessions). Semantics: a session's end = last event + gap, and an
    * event at exactly end starts a NEW session (merge iff diff < gap,
    * strictly) — the oracle's lag predicate uses >= accordingly. */
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"),
        $"n_events")
      .orderBy($"user_id", $"start_us")
  }

  /** Gap-based sessionization: a new session starts after a >30-minute gap.
    * lag + cumulative-sum over a per-user window; exact integer µs math. */
  def userSessions(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val wUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      .withColumn("prev_us", lag($"ts_us", 1).over(wUser))
      .withColumn("new_session",
        when($"prev_us".isNull || $"ts_us" - $"prev_us" > gapUs, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(
        sum($"new_session").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** Hourly volume anomaly detection: per event type, flag hours whose
    * event count deviates from that type's mean by more than 2σ — the
    * monitoring query every event pipeline runs. Two hash aggregates
    * (hour cells, then per-type moments) plus a broadcast-able join of
    * the tiny moment table back onto the cells.
    *
    * Cross-engine float discipline: the moments come from INTEGER sums
    * (Σn, Σn² — exact, order-free), never a running stddev (Welford's
    * accumulation order differs per engine/partitioning). z² is compared
    * AS A RATIO OF EXACT PRODUCTS — (n·count − Σn)² vs 4·(n·Σn² − Σn²?…)
    * precisely: (count·n_hours − Σn)² > 4 · (n_hours·Σn² − Σn·Σn) — so
    * the verdict is pure integer arithmetic, immune to any float
    * rounding; the reported z itself is a fixed double op sequence. */
  def hourlyAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every moment/verdict product runs in DECIMAL(38,0) (DuckDB:
    // HUGEINT): at production volumes (10⁹ events/hour over 10⁴ hours)
    // Σn² ≈ 10²² and the verdict squares ≈ 10²⁶ — a BIGINT wraps
    // silently in Spark and errors in DuckDB. Both widenings are exact
    // integer arithmetic, so the cross-engine bit-match holds.
    def d18(c: Column) = c.cast("decimal(18,0)")
    val cells = Tables.events(s, dir)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .groupBy($"hour", $"event_type")
      .agg(count(lit(1)).as("n"))
    val moments = cells.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum($"n").as("s1"), sum(d18($"n") * d18($"n")).as("s2"))
    val diff = d18($"n") * d18($"n_hours") - d18($"s1")
    val variance = d18($"n_hours") * $"s2" - d18($"s1") * d18($"s1")
    cells.join(broadcast(moments), "event_type")
      .select($"hour", $"event_type", $"n", $"n_hours", $"s1", $"s2",
        // z = (n − mean)/σ with mean = s1/H, σ² = s2/H − (s1/H)²; fixed
        // sequence so both engines run the identical divisions. The σ=0
        // degenerate (all hours equal) is gated on the INTEGER variance
        // test so neither engine divides by zero
        when(variance > 0,
          ($"n".cast("double") - $"s1".cast("double") / $"n_hours".cast("double")) /
            sqrt($"s2".cast("double") / $"n_hours".cast("double") -
              ($"s1".cast("double") / $"n_hours".cast("double")) *
                ($"s1".cast("double") / $"n_hours".cast("double"))))
          .as("z"),
        // integer-exact verdict: (n·H − s1)² > 4·(H·s2 − s1²) ⇔ |z| > 2
        when(diff * diff > d18(lit(4)) * variance, 1L)
          .otherwise(0L).as("anomaly"))
      .select($"hour", $"event_type", $"n", $"z", $"anomaly")
      .orderBy($"hour", $"event_type")
  }

  /** Cohort retention — the classic warehouse self-referential shape the
    * other event queries don't cover: users are grouped by their
    * first-active DAY (the cohort), and each (cohort, day-offset) cell
    * counts how many of that cohort were active again offset days later,
    * with the retention ratio against the cohort's size. Dataflow: one
    * distinct over slim (user, day) pairs, a per-user min (the
    * first-touch attribution), a join back keyed on user_id, and
    * count-distinct cells keyed (cohort, offset) — all hash aggregates,
    * no window, no self-join on the event table itself. The ratio is one
    * exact IEEE division of two integers, so the whole result
    * oracle-bit-matches. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val active = Tables.events(s, dir)
      .select($"user_id", date_trunc("day", $"ts").as("day"))
      .distinct()
    val first = active.groupBy($"user_id").agg(min($"day").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(count(lit(1)).as("cohort_size"))
    active.join(first, "user_id")
      .groupBy($"cohort", datediff($"day", $"cohort").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .join(sizes, "cohort")
      .select($"cohort", $"day_offset", $"n_active", $"cohort_size",
        ($"n_active".cast("double") / $"cohort_size".cast("double"))
          .as("retention"))
      .orderBy($"cohort", $"day_offset")
  }
}
