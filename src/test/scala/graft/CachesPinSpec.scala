package graft

import org.apache.spark.sql.execution.ExternalRDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Caches.memo — one build per (session, key), retried after a failure —
  * and Caches.pin — the lineage-cut contract behind every session-scoped
  * materialized frame (SCALE_r17 §6: a persist()'d shared frame pins
  * its whole production pipeline's shuffle files on disk for the
  * cache's lifetime; the sfp100 full suite died on the accumulated
  * floor). pin() must (1) preserve the rows bit-for-bit and (2)
  * actually CUT the lineage — the returned plan is a materialized-scan
  * leaf, not the producing pipeline. */
class CachesPinSpec extends SparkSpec {
  import spark.implicits._

  private def producer = {
    // a real shuffle-producing pipeline (groupBy + join), so a retained
    // lineage would reference two ShuffleDependencies
    val base = spark.range(1000).select(
      (col("id") % 37).as("k"), col("id").as("v"))
    val agg = base.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
    agg.join(base.groupBy($"k").agg(max($"v").as("m")), "k")
  }

  test("pin preserves rows exactly") {
    val expected = producer.collect().map(_.toSeq).toSet
    val got = Caches.pin(producer).collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(Caches.pin(producer).schema === producer.schema)
  }

  test("pin cuts lineage: the plan is a materialized leaf, not the " +
      "producing pipeline (shuffle files become ContextCleaner-eligible)") {
    val pinned = Caches.pin(producer)
    val leaf = pinned.queryExecution.analyzed
    assert(leaf.isInstanceOf[LogicalRDD] || leaf.isInstanceOf[ExternalRDD[_]],
      s"expected a checkpoint-scan leaf, got:\n${leaf.treeString}")
    // and no Exchange survives in the physical plan of a pinned scan
    val phys = pinned.queryExecution.executedPlan.toString()
    assert(!phys.contains("Exchange"),
      s"pinned frame's physical plan still shuffles:\n$phys")
  }

  test("memo builds a key once even when two threads race for it") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = ("memoRace", System.nanoTime())
    // the build holds until both threads are at the memo call, then
    // sleeps so the second one asks while the first is still building
    val ready = new java.util.concurrent.CountDownLatch(2)
    def build: Int = {
      builds.incrementAndGet()
      ready.await(10, java.util.concurrent.TimeUnit.SECONDS)
      Thread.sleep(300)
      42
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Int] {
          def call(): Int = { ready.countDown(); Caches.memo(spark, key)(build) }
        }))
      assert(calls.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS)) ===
        Seq(42, 42))
    } finally pool.shutdownNow()
    assert(builds.get() === 1)
    assert(Caches.memo(spark, key)(build) === 42)
    assert(builds.get() === 1)
  }

  test("memo stores nothing for a build that throws: the next call " +
      "builds again") {
    val key = ("memoRetry", System.nanoTime())
    intercept[IllegalStateException] {
      Caches.memo[Int](spark, key)(throw new IllegalStateException("boom"))
    }
    assert(Caches.memo(spark, key)(7) === 7)
    assert(Caches.memo(spark, key)(8) === 7)
  }
}
