package graft.queries

import java.time.LocalDateTime

import graft.SparkSpec

/** Value-level pins for the correlated-EXISTS (lateOrders) and ordered-
  * aggregation (orderedAgg) operators, independent of the DuckDB oracle:
  * each is recomputed driver-side from the raw parquet with plain Scala
  * collections, so a semi-join or window defect can't hide behind an
  * equivalently-wrong SQL twin. */
class RelationalOpsSpec extends SparkSpec {

  test("lateOrders ≡ driver-side recompute; both outcome classes occur") {
    // events corpus timestamps are NTZ → rows carry LocalDateTime
    val orders = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1), r.getString(2)))
      .filter(_._2.getYear == 1997)
    val shipByOrder = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select("l_orderkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expected = orders
      .filter { case (ok, od, _) =>
        shipByOrder.getOrElse(ok, Seq.empty)
          .exists(_.isAfter(od.plusDays(60))) }
      .groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val got = Relational.lateOrders(spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // non-vacuous: some 1997 orders are late, some are not
    assert(got.values.sum > 0 && got.values.sum < orders.length)
  }

  test("orderedAgg ≡ driver-side top-k + sorted join recompute") {
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_nationkey", "c_name", "c_acctbal", "c_custkey",
        "c_mktsegment").collect()
      .filter(_.getString(4) == "BUILDING")
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // k=2 so the bound bites at sf0.001 (the sf0.01 oracle runs k=5)
    val expected = cust.groupBy(_._1).map { case (nk, rows) =>
      val top = rows.sortBy(r => (-r._3, r._2, r._4)).take(2).map(_._2)
      nk -> ((top.length.toLong, top.sorted.mkString(",")))
    }
    val got = Relational.orderedAgg(spark, sf("sf0.001"), k = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got === expected)
    // the k-bound bites somewhere (a nation with >2 BUILDING customers)
    assert(cust.groupBy(_._1).exists(_._2.length > 2))
  }

  test("nullsafeJoin closed forms ≡ enumerated pair join (n_left = n − 1)") {
    // The q_nullsafe_join rewrite (r10) replaces the enumerating per-tier
    // self-join with closed forms: n_pairs = n(n−1) div 2 and — the form
    // this test pins (VERDICT r10 #7) — n_left = n − 1, i.e. every key of
    // an n-key tier except its maximum appears at least once as the left
    // side of an a < b pair. Synthetic tier table with the two edge
    // shapes the algebra must survive: a NULL tier (matched to itself
    // only through <=>) and a 1-row tier (no pair, no row at all).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq( // (custkey, tier): NULL×3, 10×4, 20×1, 30×2
      (1L, Option.empty[Long]), (2L, None), (3L, None),
      (4L, Some(10L)), (5L, Some(10L)), (6L, Some(10L)), (7L, Some(10L)),
      (8L, Some(20L)),
      (9L, Some(30L)), (10L, Some(30L)))
    val t = rows.toDF("k", "tier")
    // enumerated (defining) form: a<b pairs within a <=>-matched tier
    val enumerated = t.as("a")
      .join(t.as("b"), $"a.tier" <=> $"b.tier" && $"a.k" < $"b.k")
      .groupBy($"a.tier".as("tier"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"a.k").as("n_left"))
      .collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSet
    // closed form, exactly the production rewrite's arithmetic
    val closed = t.groupBy($"tier").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select($"tier", expr("(n * (n - 1)) div 2").as("n_pairs"),
        ($"n" - 1).as("n_left"))
      .collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSet
    assert(closed === enumerated)
    // non-vacuous: the NULL tier produced pairs; the 1-row tier is absent
    assert(closed.exists(_._1.isEmpty))
    assert(!closed.exists(_._1.contains(20L)))
    assert(closed === Set(
      (None, 3L, 2L), (Some(10L), 6L, 3L), (Some(30L), 1L, 1L)))
  }

  test("thresholdSweep on an all-negative lineitem: recall and f1 are 0.0 " +
      "on every row, and its DuckDB oracle answers the same bits") {
    val s = spark
    import s.implicits._
    // sf0.001's lineitem with every 'R' flag turned 'N': no positives
    val dir = tempDir("allneg").toString
    spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select($"l_discount",
        org.apache.spark.sql.functions.regexp_replace($"l_returnflag", "R", "N")
          .as("l_returnflag"))
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = Relational.thresholdSweep(spark, dir).collect()
      .map(r => Seq(0, 1, 2, 3).map(r.getDouble))
    assert(rows.length > 1)
    assert(rows.forall(r => r(1) == 0.0 && r(2) == 0.0 && r(3) == 0.0))
    // the same rows, double for double, from the oracle SQL in DuckDB
    import scala.sys.process._
    assume(Seq("python3", "-c", "import duckdb").! == 0,
      "python3 with duckdb is not on the PATH")
    val replay =
      """import duckdb, struct, sys
        |con = duckdb.connect()
        |con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sys.argv[1]}/lineitem.parquet/*.parquet'")
        |for r in con.sql(sys.stdin.read()).fetchall():
        |    print(" ".join(struct.pack(">d", v).hex() for v in r))""".stripMargin
    val sql = graft.SparkEntry.oracleSql("q_threshold_sweep")
    val duck = (Seq("python3", "-c", replay, dir) #<
      new java.io.ByteArrayInputStream(sql.getBytes("UTF-8"))).!!
      .split("\n").filter(_.nonEmpty).toSeq
    val bits = rows.map(_.map(v =>
      f"${java.lang.Double.doubleToRawLongBits(v)}%016x").mkString(" ")).toSeq
    assert(duck === bits)
  }
}
