package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared valve probe (DupProbe, r12 — VERDICT r11 #2): the dup
  * factor must be (a) an accurate rows ÷ distinct-content estimate,
  * (b) MEMOIZED per (session, probe plan) so a query family pays the
  * linear probe scan once per session, and (c) keyed by the probe plan,
  * so different frames / content keys get independent factors.
  *
  * Memoization is proven by SIDE EFFECT, not timing: the probe input
  * routes through a UDF that counts row evaluations into a JVM-global
  * counter (local mode shares the JVM, so executor-thread increments are
  * visible). A second probe over the same plan must add ZERO
  * evaluations. */
class DupProbeSpec extends SparkSpec {
  import DupProbeSpec._

  private val countingId =
    udf { x: Long => evals.incrementAndGet(); x }

  test("dupFactor estimates rows ÷ distinct content within the 2% rsd") {
    val s = spark
    import s.implicits._
    // 200 rows, 50 distinct keys → true dup factor 4.0
    val df = s.range(200).select((col("id") % 50).as("k"))
    val v = DupProbe.dupFactor(df, col("k"))
    assert(v > 3.5 && v < 4.5, s"dup factor $v not ≈ 4.0")
    // dup-free frame → ≈ 1.0, below the collapse threshold
    val flat = s.range(300).select(col("id").as("k2"))
    val v1 = DupProbe.dupFactor(flat, col("k2"))
    assert(v1 > 0.9 && v1 < 1.1, s"dup factor $v1 not ≈ 1.0")
    assert(!DupProbe.shouldCollapse(flat, col("k2")))
    assert(DupProbe.shouldCollapse(df, col("k")))
  }

  test("the probe pass runs ONCE per (session, plan): repeat calls and " +
      "semantically-equal rebuilt plans hit the memo") {
    val s = spark
    import s.implicits._
    def frame = s.range(120).select(countingId((col("id") % 30)).as("k"))
    evals.set(0L)
    val v1 = DupProbe.dupFactor(frame, col("k"))
    val afterFirst = evals.get()
    assert(afterFirst >= 120L, // ≥: speculative/retried tasks may re-eval
      s"probe did not scan the frame (evals=$afterFirst)")
    // same plan, rebuilt from scratch (a second query in the family
    // constructing its own identical probe input) → memo hit, zero evals
    val v2 = DupProbe.dupFactor(frame, col("k"))
    assert(evals.get() === afterFirst,
      s"second probe re-scanned: ${evals.get()} vs $afterFirst")
    assert(v2 === v1)
    // a DIFFERENT content key on the same frame is a different probe
    val v3 = DupProbe.dupFactor(frame.withColumn("k3", col("k") % 3),
      col("k3"))
    assert(evals.get() > afterFirst, "distinct probe plan must re-scan")
    assert(v3 > v1, "coarser key must show a higher dup factor")
  }

  // NOTE: rowCount memoization cannot be proven by the counting-UDF
  // side effect above — count() column-prunes the deterministic UDF
  // projection to zero evaluations (the SCALE_r16 §6b "count() lies"
  // finding, demonstrated live by this very suite's first draft). Jobs
  // launched is the honest signal for a plain count.
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("rowCount memoizes per (session, plan) — ADVICE r16: lshTopK's " +
      "gate count must not re-run a job per call") {
    val s = spark
    import s.implicits._
    def frame = s.range(80).select((col("id") * 3).as("q"))
    assert(DupProbe.rowCount(frame) === 80L) // warm the memo
    var n = -1L
    val jobs = jobsDuring { n = DupProbe.rowCount(frame) }
    assert(n === 80L)
    assert(jobs === 0, s"memoized rowCount launched $jobs jobs")
  }

  test("Caches.invalidate drops DupProbe's memos (ADVICE r16: the memo " +
      "now feeds SAFETY GATES — lshNearDupPairs nEff, lshTopK rerank " +
      "mass — so an in-place dir rewrite must not leave stale counts " +
      "behind the one-call hook)") {
    val s = spark
    import s.implicits._
    def frame = s.range(60).select((col("id") % 10).as("k"))
    def qframe = s.range(40).select((col("id") * 7).as("q"))
    DupProbe.dupFactor(frame, col("k"))
    DupProbe.rowCount(qframe)
    // memo warm: both re-calls are job-free
    assert(jobsDuring {
      DupProbe.dupFactor(frame, col("k")); DupProbe.rowCount(qframe)
    } === 0, "memos should have been warm")
    graft.Caches.invalidate(s)
    val jobs = jobsDuring {
      DupProbe.dupFactor(frame, col("k")); DupProbe.rowCount(qframe)
    }
    assert(jobs >= 2,
      s"invalidate must force both probes to re-scan (jobs=$jobs)")
  }

  test("Caches.invalidate drops the learned BPE model: q_bpe_tokens " +
      "relearns instead of reusing the old corpus's merges") {
    val dir = sf("sf0.001")
    graft.queries.TextAnalysis.bpeTokens(spark, dir) // learns the model
    // a warm call still runs the parquet schema-inference jobs of its
    // table reads; relearning the model adds the histogram pass on top
    val warm = jobsDuring { graft.queries.TextAnalysis.bpeTokens(spark, dir) }
    graft.Caches.invalidate(spark)
    val jobs = jobsDuring { graft.queries.TextAnalysis.bpeTokens(spark, dir) }
    assert(jobs > warm,
      s"invalidate must force the model to relearn (jobs=$jobs, warm=$warm)")
  }
}

object DupProbeSpec {
  /** JVM-global so local-mode executor threads and the driver see the
    * same counter (a closure-captured counter would be task-serialized
    * and increments lost). */
  val evals = new AtomicLong(0L)
}
