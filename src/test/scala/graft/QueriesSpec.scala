package graft

import graft.SparkSpec

/** Smoke + invariants for every SparkEntry query at sf0.001. Value-level
  * correctness is enforced by the driver's DuckDB oracle (and locally by
  * tools/compare.py at sf0.01); this spec guards the contract: every
  * query runs, every oracle key has a query, the flagship is non-empty. */
class QueriesSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // fitted oracles name registered queries and never shadow a static one
    assert(SparkEntry.fittedOracles.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.fittedOracles.keySet.intersect(
      SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("Verify.oracleEntries turns a failed fitted prepare into an " +
      "entry that raises in DuckDB, leaving the static entries as they are") {
    val entries = Verify.oracleEntries(spark, "/nonexistent/graft-sf")
    SparkEntry.fittedOracles.keys.foreach { name =>
      assert(entries.get(name).exists(
        _.startsWith("SELECT error('oracle prepare failed: ")), name)
    }
    assert(entries -- SparkEntry.fittedOracles.keys === SparkEntry.oracleSql)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001 and yields a stable schema") {
      val df = fn(spark, sf("sf0.001"))
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.nonEmpty)
      assert(df.columns.distinct.length === df.columns.length) // no dup names
    }
  }

  test("no registered query plans a Cartesian product or nested-loop join") {
    // The scale regression net: a refactor that drops an equi-join key
    // (or turns a salted join back into a cross) surfaces here before it
    // surfaces as an sf0.1 bench cliff. Initial physical plans — AQE can
    // only improve on them, never introduce a cartesian.
    //
    // q_cosine_topk is the sanctioned nested-loop: the brute-force
    // exact baseline is DEFINITIONALLY all-pairs — corpus × a small
    // broadcast query set in one scan is its correct plan (the scale
    // path is q_lsh_topk/q_ivf_topk). The PQ pair (r14) shares the
    // shape for a different reason: ADC is a LINEAR corpus scan scored
    // against a tiny broadcast query set — the compression (8-byte
    // codes vs 256-byte vectors) is the scale device, and the
    // corpus × nQueries product is inherent to "k queries against
    // everything" until an IVF coarse index prunes cells —
    // q_ivfpq_recall carries the same exact-baseline arm as
    // q_pq_recall. q_sketch_overlap's nested loops join the per-source
    // KMV SKETCH frames (|S| single-row sketches, |S|·k exploded rows —
    // KBs at any corpus size) under `<` and OR predicates; the corpus
    // itself is consumed once by the sketch aggregate behind them
    // (PlanShapeSpec pins that the token pass sits inside the cached
    // frame and never feeds a join). Everything else must be an
    // equi-join.
    // the registry is the run order; a name declared twice would
    // silently collapse to its last entry in the map
    val names = SparkEntry.registry.map(_._1)
    assert(names.distinct === names,
      s"declared twice: ${names.diff(names.distinct).mkString(", ")}")
    assert(SparkEntry.orderedQueryNames === names)
    val sanctioned = Set("q_cosine_topk", "q_pq_topk", "q_pq_recall",
      "q_ivfpq_recall", "q_sketch_overlap")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => sanctioned.contains(q._1))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf("sf0.001")).queryExecution.executedPlan.toString
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains).map(op => s"$name: $op")
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
