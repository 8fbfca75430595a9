package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.BoundedSort._
import graft.sources.Tables

/** Relational operator coverage (SURVEY.md §2.2-§2.5): scans with pushdown,
  * projections, filters, equi-joins (inner/left-outer/semi/anti), label
  * derivation via when/otherwise (reference Predictor.scala:307), hash
  * aggregation, rollup, window functions, top-k.
  *
  * Oracle-parity rules (SURVEY.md §5.2): every float aggregate goes through
  * DECIMAL(18,2) (exact, order-independent) and is cast back to double; all
  * results carry an explicit sort (`boundedSort` where a domain bounds
  * the rows, see graft.plans.BoundedSort); divisions happen in double on
  * integer-exact inputs so both engines hit identical IEEE ops.
  *
  * Scale notes: only genuinely small dimensions (nation: 25 rows, region: 5)
  * are broadcast-hinted; customer/orders/part/supplier scale with SF and are
  * left to Catalyst/AQE join selection. Filters and projections are applied
  * at the scan so parquet pushdown/pruning kicks in.
  */
object Relational {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** TPC-H Q1 shape: pricing summary over lineitem (hash agg, map-side
    * partial agg; filter pushed to parquet). */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus", $"l_quantity",
        $"l_extendedprice", $"l_discount", $"l_shipdate")
      .filter($"l_shipdate" <= lit("2000-01-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .boundedSort($"l_returnflag", $"l_linestatus")
  }

  /** Incremental materialized-view refresh (operators.IncrementalAgg):
    * the standing order-status rollup is maintained by MERGING partial
    * aggregates with a delta batch (simulated: orders with
    * o_orderkey % 10 = 7 arrive late), never by re-aggregating the
    * base. avg_price is derived from the additive parts at read time —
    * storing it would be the avg-of-avgs bug, which this construction
    * makes unrepresentable. The DuckDB oracle is the FULL recompute, so
    * the driver's bit-compare IS the refresh-equals-recompute theorem
    * on real data (the decimal sum is order-independent, so merge order
    * cannot drift the double). */
  def mvRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def partial(df: DataFrame): DataFrame = df
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).as("total_dec"))
    val o = Tables.orders(s, dir)
    val state = partial(o.filter($"o_orderkey" % 10 =!= 7))
    val delta = partial(o.filter($"o_orderkey" % 10 === 7))
    graft.operators.IncrementalAgg
      .refresh(state, delta, keys = Seq("o_orderstatus"),
        sumCols = Seq("n_orders", "total_dec"))
      .select($"o_orderstatus", $"n_orders",
        $"total_dec".cast("double").as("total_price"),
        ($"total_dec".cast("double") / $"n_orders".cast("double"))
          .as("avg_price"))
      .boundedSort($"o_orderstatus")
  }

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers semi-
    * restrict orders, a 3-way join with post-cutoff lineitems, revenue
    * per order, global top-k. The classic selective-join + top-k plan:
    * all three filters reach their parquet scans (PushedFilters), the
    * customer side reduces to a semi-join (it only FILTERS — carrying
    * its columns through the join would widen every shuffle row), and
    * orderBy().limit(k) plans as TakeOrderedAndProject — each partition
    * keeps k rows, the driver merges, no global sort. Revenue sums in
    * decimal (exact, order-independent) and casts to double once. */
  def shipPriority(s: SparkSession, dir: String, segment: String = "BUILDING",
      cutoff: String = "1998-06-01", k: Int = 10): DataFrame = {
    import s.implicits._
    val cut = lit(cutoff).cast("timestamp")
    val c = Tables.customer(s, dir)
      .filter($"c_mktsegment" === segment).select($"c_custkey")
    val o = Tables.orders(s, dir)
      .filter($"o_orderdate" < cut)
      .join(c, $"o_custkey" === $"c_custkey", "left_semi")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" > cut)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(dec($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"o_orderdate".asc, $"l_orderkey".asc)
      .limit(k)
  }

  /** TPC-H Q5 shape: revenue by region/nation through a 5-way join chain.
    * nation/region are broadcast (constant-size dims); lineitem⋈orders and
    * orders⋈customer shuffle on their keys and AQE picks the strategy. */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(s, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
    val r = Tables.region(s, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        sum(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .boundedSort($"r_name", $"n_name")
  }

  /** Global top-k (Catalyst TakeOrderedAndProject — no full sort/shuffle). */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
  }

  /** Top-k per group via row_number window (rank pushdown-friendly shape). */
  def customerTopOrders(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .orderBy($"o_custkey", $"rn")
  }

  /** J3 shape (reference Predictor.scala:297-312): left-outer membership
    * probe + when/otherwise label derivation, then aggregate. */
  def labelJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val highBal = Tables.customer(s, dir)
      .filter($"c_acctbal" > 5000.0).select($"c_custkey")
    Tables.orders(s, dir).select($"o_orderkey", $"o_custkey", $"o_orderstatus")
      .join(highBal, $"o_custkey" === $"c_custkey", "left_outer")
      .withColumn("label", when($"c_custkey".isNull, 0).otherwise(1))
      .groupBy($"o_orderstatus", $"label")
      .agg(count(lit(1)).as("n_orders"))
      .boundedSort($"o_orderstatus", $"label")
  }

  /** Left-semi join (EXISTS): customers that placed at least one order. */
  def customersWithOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
      .join(Tables.orders(s, dir).select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .boundedSort($"c_nationkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no high-value order.
    * (Every customer has *some* order in this corpus, so the anti probe
    * filters the right side to keep the result non-trivial.) */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
      .join(Tables.orders(s, dir).select($"o_custkey", $"o_totalprice")
          .filter($"o_totalprice" > 400000.0).select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .boundedSort($"c_nationkey")
  }

  /** J1+J2 shape (reference Predictor.scala:213-243): fact/edge table joined
    * twice against attribute tables — the relational GraphX-triplets
    * equivalent — then featurized and aggregated. */
  def tripletJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
      .filter($"l_quantity" >= 30.0)
    val p = Tables.part(s, dir).select($"p_partkey", $"p_brand")
    val sup = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    li.join(p, $"l_partkey" === $"p_partkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy($"p_brand", $"s_nationkey")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec($"l_quantity")).cast("double").as("sum_qty"))
      .boundedSort($"p_brand", $"s_nationkey")
  }

  /** ROLLUP grouping sets over orders (agg coverage the reference lacks,
    * SURVEY.md §2.4). */
  def ordersRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderstatus", $"o_orderpriority", $"o_totalprice")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("sum_price"))
      .boundedSort($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** String-function surface over part: regexp extraction, case mapping,
    * substring/concat, LIKE filtering — all codegen'd built-ins, all
    * exact cross-engine (no locale-dependent collation in play). */
  def partStrings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_name".like("%o%"))
      .select(
        $"p_partkey",
        upper($"p_type").as("type_upper"),
        regexp_extract($"p_brand", "(\\d+)", 1).cast("int").as("brand_num"),
        split($"p_name", " ").getItem(0).as("name_head"),
        length($"p_name").as("name_len"),
        concat_ws("-", $"p_brand", $"p_type").as("brand_type"),
        substring($"p_name", 1, 3).as("name_pfx"))
      .orderBy($"p_partkey")
  }

  /** PIVOT (wide aggregation): quantity totals per return flag, one column
    * per line status. Pivot values are pinned explicitly — the implicit
    * form runs an extra distinct-values job over the corpus and makes the
    * output schema data-dependent, both wrong at 100 TB. */
  def pivotStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus", $"l_quantity")
      .groupBy($"l_returnflag")
      .pivot($"l_linestatus", Seq("F", "O"))
      .agg(sum(dec($"l_quantity")).cast("double"))
      .withColumnsRenamed(Map("F" -> "f_qty", "O" -> "o_qty"))
      .na.fill(Map("f_qty" -> 0.0, "o_qty" -> 0.0))
      .boundedSort($"l_returnflag")
  }

  /** CUBE grouping sets (all 4 combinations; rollup's 3-set sibling). */
  def ordersCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderstatus", $"o_orderpriority", $"o_totalprice")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("sum_price"))
      .boundedSort($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Exact percentiles per group (sort-based exact `percentile`, the
    * oracle-checkable twin of the approx_percentile sketch; l_quantity is
    * integer-valued so linear interpolation is IEEE-exact in both
    * engines). At 100 TB exact percentiles shuffle the full column —
    * production would use approx_percentile; this operator is the
    * correctness reference for it. */
  def quantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity")
      .groupBy($"l_returnflag")
      .agg(
        percentile($"l_quantity", lit(0.25)).as("p25"),
        percentile($"l_quantity", lit(0.5)).as("p50"),
        percentile($"l_quantity", lit(0.75)).as("p75"),
        count(lit(1)).as("n_rows"))
      .boundedSort($"l_returnflag")
  }

  /** Relational threshold-sweep metrics (A5' — replaces the reference's
    * RDD BinaryClassificationMetrics, Predictor.scala:319-342): p1's own
    * sweep (LinkPredictor.sweepMetrics) over scores/labels derived
    * deterministically from lineitem. A lineitem with no 'R' row has no
    * positives, and recall is 0.0 there, not a division by zero. */
  def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ml.LinkPredictor.sweepMetrics(
      Tables.lineitem(s, dir).select($"l_discount".as("score"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("label")),
      "score")
  }

  /** Null-safe equi-join — the reference joins EVERY key with `<=>`
    * (EqualNullSafe, Predictor.scala:216), though its keys are never null
    * post-fill; here the semantics actually bite: negative-balance
    * customers get a NULL tier, and `<=>` matches the null tier to itself
    * (plain `=` would drop those rows). Catalyst still plans this as a
    * hash equi-join on the null-safe key. Oracle: DuckDB
    * `IS NOT DISTINCT FROM` over the ENUMERATED pair join.
    *
    * The Spark plan pushes the aggregation BELOW the join: the defining
    * semantics (per-tier self-pairs a < b, then counted) enumerate
    * Σ n_tier² intermediate rows to produce an 11-row aggregate — the
    * r10 30× scale run measured that form 60× super-linear (1.0 s →
    * 60.6 s) because `tier` has only 11 values, so every equi-group is
    * corpus-sized. Per-tier counts first, THEN the null-safe self-join
    * (11×11, the NULL row matching itself through `<=>`), then closed
    * forms: pairs(a<b over distinct keys) = n·(n−1) div 2, distinct
    * left keys = n−1 (every key but the tier's max appears on the
    * left). The DuckDB oracle keeps the quadratic enumerating form, so
    * the bit-match PROVES the pushdown, not just exercises it. */
  def nullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.customer(s, dir)
      .select(
        when($"c_acctbal" < 0.0, lit(null))
          .otherwise(floor($"c_acctbal" / 1000.0)).as("tier"))
      .groupBy($"tier")
      .agg(count(lit(1)).as("n"))
    val b = counts.select($"tier".as("b_tier"), $"n".as("b_n"))
    counts.join(b, $"tier" <=> $"b_tier")
      .filter($"n" >= 2) // a 1-row tier yields no a<b pair downstream
      .select($"tier",
        expr("(n * (n - 1)) div 2").as("n_pairs"),
        ($"n" - 1).as("n_left"))
      .boundedSort($"tier".asc_nulls_first)
  }

  /** Full-outer join: per-customer order stats stitched onto the customer
    * table in BOTH directions — customers without orders AND orphaned
    * order keys survive with nulls, then coalesce buckets them. */
  def fullOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = Tables.orders(s, dir)
      .filter($"o_totalprice" > 350000.0)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_big"))
    Tables.customer(s, dir)
      .filter($"c_acctbal" > 9000.0)
      .select($"c_custkey", $"c_nationkey")
      .join(stats, $"c_custkey" === $"o_custkey", "full_outer")
      .groupBy(
        coalesce($"c_nationkey", lit(-1)).as("nationkey"),
        ($"n_big".isNotNull).as("has_big"),
        ($"c_custkey".isNotNull).as("known_customer"))
      .agg(count(lit(1)).as("n"))
      .boundedSort($"nationkey", $"has_big", $"known_customer")
  }

  /** Intersect (the set op nationDelta's except leaves uncovered):
    * nations with a high-balance customer AND a near-cap open order.
    * Threshold 496000 matches nationDelta's calibration — it excludes
    * 7 of 25 nations at sf0.01, so the intersect is a PROPER subset of
    * both sides (400000 admitted every nation: a broken intersect that
    * echoed its left input would still have "passed"). */
  def nationIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val richCust = Tables.customer(s, dir)
      .filter($"c_acctbal" > 9000.0)
      .select($"c_nationkey".as("nationkey"))
    val bigOrders = Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter($"o_orderstatus" === "O" && $"o_totalprice" > 496000.0),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_nationkey".as("nationkey"))
    richCust.intersect(bigOrders).boundedSort($"nationkey")
  }

  /** Window-function suite beyond row_number: lag/lead, first_value,
    * rank vs dense_rank, ntile, percent_rank, and a sliding-frame sum —
    * one pass over each customer's order history. percent_rank is
    * (rank-1)/(n-1): one IEEE division on exact ints, bit-stable across
    * engines. */
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_key", lead($"o_orderkey", 1).over(w))
      .withColumn("first_key", first($"o_orderkey").over(wFrame))
      .withColumn("rnk", rank().over(w))
      .withColumn("tile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("run_sum",
        sum(dec($"o_totalprice")).over(wFrame).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"prev_price", $"next_key",
        $"first_key", $"rnk", $"tile", $"pct_rank", $"run_sum")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** TPC-H Q13 shape (customer distribution): LEFT OUTER join customers
    * to orders, count orders per customer INCLUDING the zero bucket,
    * then the count-of-counts histogram — two cascaded hash aggregates
    * over different keys, the shape that catches an engine conflating
    * "no match" with "count 0 dropped". The order filter keeps the
    * outer join non-vacuous (customers whose only orders are filtered
    * out land in the 0 bucket). */
  def custDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .filter($"o_totalprice" > 150000.0)
      .select($"o_custkey", $"o_orderkey")
    Tables.customer(s, dir).select($"c_custkey")
      .join(o, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count")) // count skips outer nulls
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** RANGE-frame window (vs windowSuite's ROWS frames): each order's
    * trailing-7-day revenue for its customer — the frame is bounded by
    * the ORDER BY VALUE (micros since epoch), not by row position, so
    * ties and gaps behave like the SQL standard's RANGE BETWEEN, the
    * frame no ROWS offset can express. Decimal-routed sum for oracle
    * bit-parity. */
  def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sevenDaysUs = 7L * 24 * 3600 * 1000000L
    val w = Window.partitionBy($"o_custkey").orderBy($"ts_us")
      .rangeBetween(-sevenDaysUs, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
        // o_orderdate is parquet NTZ; the session is pinned UTC, so the
        // cast-then-micros equals DuckDB's epoch_us on the naive value
        unix_micros($"o_orderdate".cast("timestamp")).as("ts_us"))
      .withColumn("trailing_7d",
        sum(dec($"o_totalprice")).over(w).cast("double"))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select($"o_custkey", $"o_orderkey", $"trailing_7d", $"n_in_window")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * totals by (status, priority), by status alone, and by priority
    * alone — but NOT the grand total, which neither ROLLUP nor CUBE can
    * express as-is — with grouping_id disambiguating which set each row
    * came from (a null status in the data vs "aggregated over status"). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderstatus", $"o_orderpriority", $"o_totalprice")
      .createOrReplaceTempView("graft_orders_gs")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
        -- explicit bit arithmetic, not grouping_id(): both engines agree
        -- on GROUPING(col) ∈ {0,1}, while grouping_id's bit ORDER is a
        -- per-engine convention
        CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
          AS BIGINT) AS gid,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price
      FROM graft_orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        (o_orderstatus), (o_orderpriority))
      ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """)
  }

  /** Argmin join (TPC-H Q2 shape on the available tables): for each part,
    * the cheapest lineitem offer and its supplier — the correlated
    * "= (SELECT min ...)" subquery pattern, planned as ONE shuffle on the
    * group key + a row_number top-1 (no per-row subquery, no second scan
    * of the fact table). Ties broken by min suppkey so the result is
    * deterministic; the SQL oracle uses the identical tie-break. */
  def argminJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
    val w = Window.partitionBy($"l_partkey")
      .orderBy($"l_extendedprice".asc, $"l_suppkey".asc)
    li.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .join(Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey", $"l_suppkey", $"s_nationkey",
        $"l_extendedprice".as("min_price"))
      .orderBy($"l_partkey")
  }

  /** Compare-to-group-average via a SALTED shuffle join
    * (operators.SkewJoin): orders re-joined to their per-priority average
    * price. o_orderpriority has 5 distinct values — the canonical skewed
    * key: an unsalted shuffle join puts ~1/5 of all orders in one task.
    * Salting spreads each priority over 16 buckets; the oracle is the
    * plain SQL join, pinning that salting changes nothing but the
    * partitioning. The average is decimal-exact-sum / exact-count, one
    * IEEE division — bit-identical across engines. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    val avgs = o.groupBy($"o_orderpriority".as("p"))
      .agg((sum(dec($"o_totalprice")).cast("double") /
        count(lit(1)).cast("double")).as("avg_price"))
    graft.operators.SkewJoin
      .salted(o, avgs, $"o_orderpriority" === $"p", saltOn = $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when($"o_totalprice" > $"avg_price", 1L).otherwise(0L))
          .as("n_above_avg"))
      .boundedSort($"o_orderpriority")
  }

  /** Selective fact⋈dim join with Bloom pre-join pruning
    * (operators.BloomPrune): lineitems of high-value orders. The order
    * filter keeps ~1% of orders; the Bloom sketch of their keys prunes
    * ~99% of lineitem INSIDE its scan stage, before any shuffle — at
    * 100 TB that is the difference between shuffling the whole fact table
    * and shuffling the matching slice. The oracle is the plain SQL join:
    * Bloom false positives are removed by the exact join, false negatives
    * don't exist, so the result is identical. */
  def bloomPruneJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, dir)
      .filter($"o_totalprice" > 450000.0)
      .select($"o_orderkey")
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_returnflag", $"l_quantity")
    graft.operators.BloomPrune
      .prunedInnerJoin(li, big, $"l_orderkey" === $"o_orderkey",
        $"l_orderkey", $"o_orderkey", expectedItems = 100000L)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec($"l_quantity")).cast("double").as("sum_qty"))
      .boundedSort($"l_returnflag")
  }

  /** Point-in-interval join via bucket decomposition
    * (operators.RangeJoin): orders priced into half-open price bands.
    * The bands here are four literal rows (Catalyst would happily
    * broadcast-nested-loop them); the point is the operator — the same
    * call with a million-interval table stays a hash join on the bucket
    * id. Width 50k ≈ the median band span (see RangeJoin scaladoc). */
  def priceBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("p0_small", 0.0, 100000.0),
      ("p1_mid", 100000.0, 200000.0),
      ("p2_large", 200000.0, 350000.0),
      ("p3_huge", 350000.0, 600000.0)).toDF("band", "lo", "hi")
    graft.operators.RangeJoin
      .pointInInterval(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_totalprice"),
        "o_totalprice", bands, "lo", "hi", bucketWidth = 50000.0)
      .groupBy($"band")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("sum_price"))
      .boundedSort($"band")
  }

  /** Correlated-EXISTS with a non-equi predicate (TPC-H Q4 shape): orders
    * from one year having at least one lineitem shipped more than 60 days
    * after the order date, counted per priority. The semi join shuffles on
    * the equi key (orderkey) only; the date inequality is evaluated on
    * matched rows after the hash probe — no range-join explosion, and the
    * year filter is pushed into the orders scan. Day arithmetic on
    * timestamps is exact integer math cross-engine. */
  def lateOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .filter(year($"o_orderdate") === 1997)
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    o.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .boundedSort($"o_orderpriority")
  }

  /** Ordered aggregation (LISTAGG / string_agg): per nation, the top-5
    * BUILDING-segment customers by balance, emitted as one deterministic
    * comma-joined name list. Ordered collect is inherently a bounded-group
    * operator — an unbounded LISTAGG over a hot group is a single-row blob
    * at corpus scale — so the window top-k (full tie-break: balance desc,
    * then name, then key) bounds every group to k rows BEFORE the collect.
    * Spark has no ORDER BY inside agg; `array_sort(collect_list(...))`
    * forces the same deterministic order DuckDB's `string_agg(... ORDER
    * BY)` declares (names are ASCII — binary collation agrees). */
  def orderedAgg(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_name".asc, $"c_custkey".asc)
    Tables.customer(s, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_nationkey", $"c_name", $"c_acctbal", $"c_custkey")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .groupBy($"c_nationkey")
      .agg(
        count(lit(1)).as("n_top"),
        concat_ws(",", array_sort(collect_list($"c_name"))).as("top_names"))
      .orderBy($"c_nationkey")
  }
}
