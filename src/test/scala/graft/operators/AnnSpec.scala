package graft.operators

import org.apache.spark.sql.functions.{explode, posexplode, typedlit}

import graft.SparkSpec

class AnnSpec extends SparkSpec {

  private def corpus = {
    val spark2 = spark
    import spark2.implicits._
    // 3 clusters along axes + one duplicate of id 0
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
  }

  test("bruteTopK: exact neighbors, ranked by cosine desc") {
    val spark2 = spark
    import spark2.implicits._
    val q = corpus.filter($"id" === 0L)
    val out = Ann.bruteTopK(corpus, q, k = 2)
      .orderBy($"rank").collect()
    // nearest to e0: its duplicate (5, cos=1), then 1
    assert(out(0).getLong(1) === 5L)
    assert(out(0).getDouble(2) === 1.0)
    assert(out(1).getLong(1) === 1L)
  }

  test("lshTopK finds the exact duplicate (same bucket in every table)") {
    val spark2 = spark
    import spark2.implicits._
    val q = corpus.filter($"id" === 0L)
    val out = Ann.lshTopK(corpus, q, k = 3, nTables = 4, nBits = 4)
      .collect()
    val ids = out.map(_.getLong(1)).toSet
    assert(ids.contains(5L))  // identical vector always collides
    assert(out.forall(_.getLong(0) == 0L))
  }

  test("ivfTopK with nProbe = nCells degenerates to exact bruteTopK") {
    val spark2 = spark
    import spark2.implicits._
    val q = corpus.filter($"id" < 2L)
    val exact = Ann.bruteTopK(corpus, q, k = 3)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Ann.ivfTopK(corpus, q, k = 3, nCells = 3, nProbe = 3,
        lloydIters = 1)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === exact)
  }

  test("ivfTopK partial probe keeps decent recall on real embeddings") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.filter($"id" < 10)
    val exact = Ann.bruteTopK(e, q, k = 5)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.ivfTopK(e, q, k = 5, nCells = 16, nProbe = 8)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uniform random embeddings are the worst case for any space
    // partitioner; probing 8/16 cells should still recover well over the
    // ~50% a random half-probe would
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall=$recall")
    assert(approx.map(_._1) === (0L until 10L).toSet)
  }

  test("lshNearDupPairs auto width (r15): the occupancy law engages at " +
    "threshold ≥ 0.7 with no caller knob, the exploratory regime keeps " +
    "its pinned 4 bits — each pinned by equality with the explicit call") {
    val spark2 = spark
    import spark2.implicits._
    // 2100 distinct seeded vectors: past the 4-bit operating point
    // (125·2⁴ = 2000), so nBitsForCorpus resolves to 5
    assert(Ann.nBitsForCorpus(2100) === 5)
    val rnd = new scala.util.Random(7)
    val big = (0L until 2100L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // production threshold: auto ≡ explicit nBitsForCorpus width
    assert(run(Ann.lshNearDupPairs(big, threshold = 0.9)) ===
      run(Ann.lshNearDupPairs(big, threshold = 0.9, nBits = 5)))
    // exploratory threshold: auto ≡ the pinned 4 bits (the r12 retune
    // measured real borderline pairs LOST at 5 bits here)
    val small = corpus
    assert(run(Ann.lshNearDupPairs(small, threshold = 0.35)) ===
      run(Ann.lshNearDupPairs(small, threshold = 0.35, nBits = 4)))
  }

  test("lshNearDupPairs: exact duplicates always collide; high recall vs exact") {
    val spark2 = spark
    import spark2.implicits._
    // identical vectors share every signature — recall 1 on true dups
    val pairs = Ann.lshNearDupPairs(corpus, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 5L)))
    // real embeddings: recall vs the exact all-pairs join at the query
    // threshold (4 bits × 24 tables ≈ 0.97 predicted at cosine 0.35)
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val approx = Ann.lshNearDupPairs(e, threshold = 0.35)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = {
      val v = e.select($"id", $"vec")
      val a = v.select($"id".as("a_id"), $"vec".as("a_v"))
      val b = v.select($"id".as("b_id"), $"vec".as("b_v"))
      import org.apache.spark.sql.functions._
      a.join(b, $"a_id" < $"b_id")
        .select($"a_id", $"b_id",
          (graft.queries.Embeddings.dot(
            transform($"a_v", x => x.cast("double")),
            transform($"b_v", x => x.cast("double"))) /
            (graft.queries.Embeddings.norm(transform($"a_v", x => x.cast("double"))) *
             graft.queries.Embeddings.norm(transform($"b_v", x => x.cast("double")))))
            .as("cosine"))
        .filter($"cosine" >= 0.35)
        .select($"a_id", $"b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(approx.subsetOf(exact), "LSH must not invent pairs (exact verify)")
    if (exact.nonEmpty) {
      val recall = (approx & exact).size.toDouble / exact.size
      assert(recall >= 0.85, s"recall=$recall (${approx.size}/${exact.size})")
    }
  }

  test("lshNearDupPairsTagged: min_table < T selects EXACTLY the " +
      "independent T-table pair set, cosines bit-equal (both valve branches)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"a_id", $"b_id", $"cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // direct branch: the real (dup-light) sf0.001 embeddings
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val tagged = Ann.lshNearDupPairsTagged(e, 0.35, nTables = 48, nBits = 4)
    assert(rows(tagged.filter($"min_table" < 32)) ===
      rows(Ann.lshNearDupPairs(e, 0.35, nTables = 32, nBits = 4)),
      "48-table tagged frame restricted to tables 0-31 must equal the " +
        "independent 32-table run")
    assert(rows(tagged) ===
      rows(Ann.lshNearDupPairs(e, 0.35, nTables = 48, nBits = 4)))
    // collapsed branch: every vector replicated 4x (dupFactor 4 >= valve)
    val dup = e.select(explode(typedlit(Seq(0, 1, 2, 3))).as("r"), $"id", $"vec")
      .select(($"id" * 4 + $"r").as("id"), $"vec")
    val taggedDup = Ann.lshNearDupPairsTagged(dup, 0.35, nTables = 48, nBits = 4)
    assert(rows(taggedDup.filter($"min_table" < 32)) ===
      rows(Ann.lshNearDupPairs(dup, 0.35, nTables = 32, nBits = 4)),
      "collapsed tagged frame restricted to tables 0-31 must equal the " +
        "independent 32-table run")
    // full-width equality on the COLLAPSED branch too (ADVICE r17 #4):
    // the tagged intra/cross rewrite must reproduce the untagged 48-table
    // row set on the valve path q_lsh_recall consumes on dup-heavy corpora
    assert(rows(taggedDup) ===
      rows(Ann.lshNearDupPairs(dup, 0.35, nTables = 48, nBits = 4)),
      "collapsed tagged frame at full width must equal the independent " +
        "48-table run")
  }

  test("lshNearDupFeasible mirrors the candidate-volume gate decision") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    assert(Ann.lshNearDupFeasible(e, 0.35, nTables = 48, nBits = 4))
    // a 1-candidate budget refuses any non-trivial corpus — and the gate
    // inside the full call refuses the same configuration
    assert(!Ann.lshNearDupFeasible(e, 0.35, nTables = 48, nBits = 4,
      maxCandidateEstimate = 1L))
    val ex = intercept[IllegalArgumentException] {
      Ann.lshNearDupPairs(e, 0.35, nTables = 48, nBits = 4,
        maxCandidateEstimate = 1L)
    }
    assert(ex.getMessage.contains("expected bucket-join candidates"))
  }

  test("lshNearDupPairs maxBucket guard cuts a degenerate identical-vector mass") {
    val spark2 = spark
    import spark2.implicits._
    // 50 identical vectors collide in EVERY table at any nBits — the
    // guard must cut them; a distinct near-dup pair must survive
    val degenerate = (100L until 150L).map(i => (i, Array(1.0f, 0f, 0f, 0f)))
    val pair = Seq((1L, Array(0f, 1.0f, 0.05f, 0f)), (2L, Array(0f, 1.0f, 0f, 0.05f)))
    val df = (degenerate ++ pair).toDF("id", "vec")
    val out = Ann.lshNearDupPairs(df, threshold = 0.9, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.exists(p => p._1 >= 100L || p._2 >= 100L))
    assert(out === Set((1L, 2L)))
  }

  test("candidate-volume gate fails fast with the width law named, and " +
      "stays silent at the shipped budget") {
    val spark2 = spark
    import spark2.implicits._
    val distinct = (0L until 200L)
      .map(i => (i, Array(i.toFloat, 1f, 0f, 0f))).toDF("id", "vec")
    // 24·200²/16 = 60k estimated candidates: trips a 50k budget…
    val e = intercept[IllegalArgumentException] {
      Ann.lshNearDupPairs(distinct, 0.9, maxCandidateEstimate = 50000L)
    }
    assert(e.getMessage.contains("nBitsForCorpus"))
    // …and passes untouched at the shipped default budget
    Ann.lshNearDupPairs(distinct, 0.9).count()
  }

  test("joined assignment ≡ literal assignment: same cell, same probe " +
      "list, same order, on a random corpus at a past-the-bound quantizer") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextDouble() * 2 - 1)
    val cents: Seq[Array[Double]] = Seq.fill(40) { // > the 32-cell literal bound
      val v = vec(); val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cv = (0L until 300L).map(i => (i, vec())).toDF("id", "v")
    val lit40 = cv.select($"id",
        Ann.assignCell(cents)($"v").as("cell"),
        transform(slice(reverse(array_sort(Ann.cellScores(cents)($"v"))), 1, 3),
          sc => sc.getField("cell")).as("probes"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Int](2).toList))).toMap
    val joined = Ann.assignProbesJoined(cv, cents, 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Int](2).toList))).toMap
    assert(joined.keySet === lit40.keySet)
    for ((id, lv) <- lit40) assert(joined(id) === lv, s"id=$id")
  }

  test("fused ivfProbes ≡ literal chain ≡ joined assignment: same cell, " +
      "same probe list, same order, at both quantizer regimes, float and " +
      "double inputs (r18 kernel parity)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    def vec() = Array.fill(8)(rnd.nextDouble() * 2 - 1)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // below and past the 32-cell literal bound — the two old dispatch arms
    for (nCells <- Seq(12, 40)) {
      val cents: Seq[Array[Double]] = Seq.fill(nCells)(unit(vec()))
      val cv = (0L until 300L).map(i => (i, vec())).toDF("id", "v")
      def probesOf(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getSeq[Int](2).toList))).toMap
      val lit = probesOf(cv.select($"id",
        Ann.assignCell(cents)($"v").as("cell"),
        transform(slice(reverse(array_sort(Ann.cellScores(cents)($"v"))), 1, 3),
          sc => sc.getField("cell")).as("probes")))
      val fused = probesOf(cv.select($"id",
        element_at(Ann.ivfProbes(cents, 1)($"v"), 1).as("cell"),
        Ann.ivfProbes(cents, 3)($"v").as("probes")))
      assert(fused === lit, s"fused vs literal at nCells=$nCells")
      val joined = probesOf(Ann.assignProbesJoined(cv, cents, 3))
      assert(joined === fused, s"joined vs fused at nCells=$nCells")
    }
    // float inputs widen exactly at read — same chain, float column
    val centsF: Seq[Array[Double]] = Seq.fill(6)(unit(vec()))
    val cvF = (0L until 100L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("id", "v")
    val litF = cvF.select($"id",
        transform(slice(reverse(array_sort(
          Ann.cellScores(centsF)($"v"))), 1, 2),
          sc => sc.getField("cell")).as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val fusedF = cvF.select($"id", Ann.ivfProbes(centsF, 2)($"v").as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(fusedF === litF)
  }

  test("fused ivfProbes pins the ±0.0 score tie toward the larger cell, " +
      "nProbe past nCells yields what exists, interpreted twin agrees") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    // vector (0, -1): cell 0 scores -0.0, cell 1 scores +0.0, cell 2 -1.0.
    // Spark's double total order treats ±0.0 EQUAL, so the 0-vs-1 tie
    // breaks toward the LARGER cell: probes = [1, 0, 2]. A kernel using
    // java.lang.Double.compare unguarded would order -0.0 < 0.0 and flip
    // nothing here (0.0 still wins) — the EQUAL case matters when the
    // larger cell holds the -0.0: cells (1,0) swapped below.
    val cents = Seq(Array(-1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq((0L, Array(0.0, -1.0))).toDF("id", "v")
    val lit = df.select(transform(slice(reverse(array_sort(
        Ann.cellScores(cents)($"v"))), 1, 5),
        sc => sc.getField("cell")).as("probes"))
      .head.getSeq[Int](0).toList
    val fused = df.select(Ann.ivfProbes(cents, 5)($"v").as("probes"))
      .head.getSeq[Int](0).toList
    assert(fused === lit)
    assert(fused === List(1, 0, 2)) // 3 cells, nProbe=5: what exists
    // swapped: the LARGER cell scores -0.0; equality must still send it first
    val centsSwap = Seq(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0))
    val litS = df.select(transform(slice(reverse(array_sort(
        Ann.cellScores(centsSwap)($"v"))), 1, 3),
        sc => sc.getField("cell")).as("probes"))
      .head.getSeq[Int](0).toList
    val fusedS = df.select(Ann.ivfProbes(centsSwap, 3)($"v").as("probes"))
      .head.getSeq[Int](0).toList
    assert(fusedS === litS)
    assert(fusedS === List(1, 0, 2))
    // interpreted (nullSafeEval) path agrees with codegen
    val one = graft.functions.IvfProbesFused(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.0, -1.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      cents.toArray, 3)
    val ev = one.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(ev.toSeq === Seq(1, 0, 2))
  }

  test("nBitsForCorpus holds occupancy: 4 bits through every driver SF, " +
      "then one bit per doubling") {
    // every driver corpus (≤ 2000 vectors at sf0.1) stays in the pinned
    // 4-bit calibration regime — the law must not move the shipped plans
    for (n <- Seq(20L, 200L, 2000L))
      assert(Ann.nBitsForCorpus(n) === 4, s"n=$n")
    // exact boundary: 125·2^4 = 2000 is the last 4-bit corpus
    assert(Ann.nBitsForCorpus(2001L) === 5)
    // the perturbed-decade sizes: 10×/30× sf0.1 distinct content
    assert(Ann.nBitsForCorpus(20000L) === 8)  // 125·2^7 = 16000 < 20000
    assert(Ann.nBitsForCorpus(60000L) === 9)  // 125·2^9 = 64000 ≥ 60000
    // occupancy n/2^b never exceeds 2·targetOcc (one-bit granularity)
    for (n <- Seq(5000L, 123456L, 10000000L)) {
      val b = Ann.nBitsForCorpus(n)
      assert(n.toDouble / (1L << b) <= 250.0, s"n=$n b=$b")
    }
    assert(Ann.nBitsForCorpus(Long.MaxValue) === 16) // clamp
  }

  test("empty corpus yields empty results, not a driver crash") {
    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    val queries = Seq((0L, Array(1.0f, 0f, 0f, 0f))).toDF("id", "vec")
    assert(Ann.lshNearDupPairs(empty, threshold = 0.9).count() === 0L)
    assert(Ann.lshTopK(empty, queries, k = 3).count() === 0L)
    assert(Ann.ivfTopK(empty, queries, k = 3).count() === 0L)
  }

  test("lshNearDupPairs: twin-collapsed form \u2261 direct form on a " +
      "twin-heavy corpus, including the weighted maxBucket guard") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.xxhash64
    val rng = new scala.util.Random(7)
    val dim = 16
    // 7 classes of 5 twins each + one singleton (no zero vectors: ANSI
    // mode turns 0/0 into an error in BOTH forms alike)
    val base = Seq.tabulate(7)(_ => Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = (for {
      (v, bi) <- base.zipWithIndex
      c <- 0 until 5
    } yield ((bi * 100 + c).toLong, v)) :+
      (9999L, Array.fill(dim)(rng.nextGaussian().toFloat))
    val df = rows.toDF("id", "vec")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    for (maxBucket <- Seq(10000, 6)) {
      val direct = run(Ann.lshNearDupPairsDirect(
        df, 0.2, 24, 4, 42, maxBucket, dim))
      val collapsed = run(Ann.lshNearDupPairsCollapsed(
        df, 0.2, 24, 4, 42, maxBucket, dim))
      assert(collapsed === direct, s"maxBucket=$maxBucket")
      if (maxBucket == 10000) assert(direct.nonEmpty)
    }
    // the public API's probe engages the collapse on this corpus
    val n = df.count().toDouble
    val u = df.agg(org.apache.spark.sql.functions
      .approx_count_distinct(xxhash64($"vec"), 0.02)).head.getLong(0)
    assert(n / u >= 1.4)
    assert(run(Ann.lshNearDupPairs(df, 0.2)) ===
      run(Ann.lshNearDupPairsDirect(df, 0.2, 24, 4, 42, 10000, dim)))
  }

  test("lshTopK: twin-collapsed form ≡ direct form on a twin-heavy " +
      "corpus, including queries that are themselves corpus twins") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(11)
    val dim = 16
    // 6 classes of 8 twins (well past k+1 = 4, so the member cap is
    // load-bearing) + 3 singletons; queries = 4 corpus rows, two of them
    // members of twin classes (the id ≠ q_id exclusion must surface the
    // (k+1)-th class member)
    val base = Seq.tabulate(6)(_ => Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = (for {
      (v, bi) <- base.zipWithIndex
      c <- 0 until 8
    } yield ((bi * 100 + c).toLong, v)) ++ Seq.tabulate(3)(i =>
      (9000L + i, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("id", "vec")
    val q = df.filter($"id".isin(0L, 100L, 9000L, 9001L))
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(p => (p._1, p._4)).toSeq
    for (k <- Seq(3, 5)) {
      val direct = run(Ann.lshTopKDirect(df, q, k, 8, 4, 42, dim))
      val collapsed = run(Ann.lshTopKCollapsed(df, q, k, 8, 4, 42, dim))
      assert(collapsed === direct, s"k=$k")
      assert(direct.nonEmpty)
      // the twin classes actually dominate the top-k (ties broken by id)
      assert(direct.exists(_._3 > 0.999), s"k=$k twin neighbors present")
    }
    // the public API's probe engages the collapse on this corpus
    assert(DupProbe.dupFactor(df, $"vec") >= DupProbe.CollapseDupFactor)
    assert(run(Ann.lshTopK(df, q, 5, 8, 4, 42)) ===
      run(Ann.lshTopKDirect(df, q, 5, 8, 4, 42, dim)))
  }

  test("signature is deterministic and identical for identical vectors") {
    val spark2 = spark
    import spark2.implicits._
    val sigs = corpus.select($"id",
        Ann.signature(
          org.apache.spark.sql.functions.transform($"vec", _.cast("double")),
          table = 0, nBits = 8, dim = 4, seed = 42).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(5L))
  }

  test("pqCodes: hand-checked encode, ties toward the larger cell") {
    val spark2 = spark
    import spark2.implicits._
    // 2 subspaces × 2 dims, unit basis codebooks in both subspaces
    val cb: Seq[Seq[Array[Double]]] = Seq(
      Seq(Array(1.0, 0.0), Array(0.0, 1.0)),
      Seq(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)),  // codes (0, 1)
      (1L, Seq(0.0, 1.0, 1.0, 0.0)),  // codes (1, 0)
      // sub (0,0): s = 0 − ½ for BOTH cells — tie → larger cell
      (2L, Seq(0.0, 0.0, 1.0, 0.0))   // codes (1, 0)
    ).toDF("id", "vh")
    val out = df.select($"id", Ann.pqCodes(cb, dSub = 2)($"vh").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(0L) === Seq(0, 1))
    assert(out(1L) === Seq(1, 0))
    assert(out(2L) === Seq(1, 0))
    // recon = concatenated chosen centroids
    val rec = df.select($"id", Ann.pqRecon(cb, dSub = 2)($"vh").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rec(0L) === Seq(1.0, 0.0, 0.0, 1.0))
    assert(rec(2L) === Seq(0.0, 1.0, 1.0, 0.0))
  }

  test("pqCodes is partition-invariant for fixed codebooks") {
    val spark2 = spark
    import spark2.implicits._
    val nv = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id".as("id"),
        org.apache.spark.sql.functions.transform(
          $"embedding", _.cast("double")).as("vh"))
    val cb = Ann.pqFit(nv, mSub = 8, dSub = 8, kSub = 8,
      lloydIters = 1, seed = 7)
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", Ann.pqCodes(cb, 8)($"vh").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codesOf(nv) === codesOf(nv.repartition(7)))
  }

  test("pqTopKWith a lossless codebook (every distinct subvector) " +
      "degenerates to exact bruteTopK") {
    val spark2 = spark
    import spark2.implicits._
    // normalized corpus subvectors, deduped, as the codebook: encode is
    // then exact (dot − ½|c|² is uniquely maximal at c = sub), recon ≡ v̂,
    // ADC ≡ cosine — PQ's IVF-full-probe analogue
    val vecs = corpus.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }
    val normed = vecs.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(_ / n)
    }
    val cb: Seq[Seq[Array[Double]]] = Seq(0, 1).map { m =>
      normed.map(_._2.slice(m * 2, m * 2 + 2)).map(_.toSeq)
        .distinct.map(_.toArray).toSeq
    }
    val q = corpus.filter($"id" < 2L)
    val exact = Ann.bruteTopK(corpus, q, k = 3)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = Ann.pqTopKWith(cb, dSub = 2, corpus, q, k = 3)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq === exact)
  }

  test("pqCodesJoined ≡ literal pqCodes row-by-row on a random corpus " +
      "at a past-the-bound codebook") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(99)
    val df = (0L until 200L).map { id =>
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(_ / n).toSeq)
    }.toDF("id", "vh")
    // 8 × 40 = 320 entries > PqLiteralEntriesBound (256): the shipped
    // dispatch takes the joined path; this pins it against the literal
    // chains (which still EVALUATE correctly on a tiny corpus even when
    // janino refuses to compile them — Spark's interpreted fallback)
    val cb = Ann.pqFit(df, mSub = 8, dSub = 8, kSub = 40,
      lloydIters = 1, seed = 3)
    assert(cb.map(_.size).sum > Ann.PqLiteralEntriesBound)
    val literal = df.select($"id", Ann.pqCodes(cb, 8)($"vh").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val joined = Ann.pqCodesJoined(df, cb, 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(joined === literal)
  }

  test("pqCodesFused ≡ literal pqCodes ≡ pqCodesJoined row-by-row " +
      "(r17 kernel parity), including NaN scores, exact ties, and a " +
      "short vector") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(23)
    val organic = (0L until 150L).map { id =>
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(_ / n).toSeq)
    }
    // adversarial rows: NaN component (NaN-greatest total order), the
    // zero vector (every score = -½|c|², ties broken toward larger
    // cell), and a SHORT vector (3 of 64 dims — the slice/lim seam)
    val edges = Seq(
      (900L, (Seq(Double.NaN) ++ Seq.fill(63)(0.1)).toSeq),
      (901L, Seq.fill(64)(0.0)),
      (902L, Seq(0.5, -0.5, 0.25)))
    val df = (organic ++ edges).toDF("id", "vh")
    val cb = Ann.pqFit(df.filter($"id" < 900L), mSub = 8, dSub = 8,
      kSub = 12, lloydIters = 1, seed = 11)
    // force duplicate centroids so equal non-zero scores exercise the
    // tie-break in every subspace
    val cbDup = cb.map(s => s ++ Seq(s.head.clone()))
    def mapOf(df2: org.apache.spark.sql.DataFrame) = df2
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val fused = mapOf(df.select($"id",
      graft.functions.PqCodesExpr.pqCodesFused($"vh", cbDup, 8).as("c")))
    val literal = mapOf(df.select($"id",
      Ann.pqCodes(cbDup, 8)($"vh").as("c")))
    assert(fused === literal)
    val joined = mapOf(Ann.pqCodesJoined(df, cbDup, 8))
    assert(fused === joined)
    // and the shipped dispatch IS the fused kernel
    assert(mapOf(Ann.pqEncode(df, cbDup, 8)) === literal)
  }

  test("pqFit + pqTopKWith keep decent recall on real embeddings; " +
      "small corpus caps the codebook") {
    val spark2 = spark
    import spark2.implicits._
    val dir = sf("sf0.001")
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.filter($"id" < 10)
    val cb = graft.queries.Extended.pqCodebooksFor(spark, dir)
    assert(cb.size === 8 &&
      cb.forall(_.size === graft.queries.Extended.PqKSub))
    val shortlist = Ann.pqTopKWith(cb, 8, e, q,
        k = graft.queries.Extended.PqShortlist)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Ann.bruteTopK(e, q, k = 5)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uniform random embeddings are PQ's worst case (no subspace
    // structure to quantize); the production-shape metric is SHORTLIST
    // recall (exact top-5 surviving the ADC top-50 before re-rank)
    val recall = (exact & shortlist).size.toDouble / exact.size
    assert(recall >= 0.6, s"shortlist recall=$recall")
    assert(shortlist.map(_._1) === (0L until 10L).toSet)
    // kSub larger than the corpus: codebooks cap at n, search still runs
    val tiny = e.filter($"id" < 6)
    val nvTiny = tiny.select($"id",
      org.apache.spark.sql.functions.transform(
        $"vec", _.cast("double")).as("vh"))
    val cbTiny = Ann.pqFit(nvTiny, 8, 8, kSub = 16, lloydIters = 1, seed = 1)
    assert(cbTiny.forall(_.size === 6))
    assert(Ann.pqTopKWith(cbTiny, 8, tiny, tiny.filter($"id" < 2), k = 3)
      .count() > 0)
  }

  test("ivfPqTopKWith: one coarse cell + lossless residual codebook " +
      "degenerates to exact bruteTopK ranks") {
    val spark2 = spark
    import spark2.implicits._
    // single coarse centroid → every vector in cell 0, full probe at
    // nProbe = 1; codebook = every distinct residual subvector → encode
    // is exact (argmax dot − ½|c|² ≡ argmin L2², uniquely at c = r) and
    // recon = c + (v̂ − c), within 1 ulp of v̂ per element — far inside
    // the fixture's cosine gaps, so the rank SET matches brute force
    val c0 = {
      val v = Array(1.0, 1.0, 1.0, 1.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val normed = corpus.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val residuals = normed.map(v => v.indices.map(i => v(i) - c0(i)).toArray)
    val cb: Seq[Seq[Array[Double]]] = Seq(0, 1).map { m =>
      residuals.map(_.slice(m * 2, m * 2 + 2).toSeq)
        .distinct.map(_.toArray).toSeq
    }
    val q = corpus.filter($"id" < 2L)
    val exact = Ann.bruteTopK(corpus, q, k = 3)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfpq = Ann.ivfPqTopKWith(Seq(c0), cb, dSub = 2, corpus, q,
        k = 3, nProbe = 1)
      .select($"q_id", $"id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfpq === exact)
  }

  test("ivfPqReconFrame joined ≡ literal row-by-row below the bound " +
      "(forceJoined)") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(17)
    val nv = (0L until 150L).map { id =>
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(_ / n).toSeq)
    }.toDF("id", "vh")
    val coarse = Ann.ivfFit(nv.select($"id", $"vh".as("v")),
      nCells = 4, lloydIters = 1, seed = 5)
    val res = Ann.ivfPqResiduals(nv, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb = Ann.pqFit(res.select($"id", $"rv".as("vh")),
        mSub = 8, dSub = 8, kSub = 8, lloydIters = 1, seed = 3)
      assert(cb.map(_.size).sum <= Ann.PqLiteralEntriesBound)
      def collectOf(df: org.apache.spark.sql.DataFrame) = df
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Double](2))))
        .toMap
      val literal = collectOf(Ann.ivfPqReconFrame(res, coarse, cb, 8))
      val joined = collectOf(
        Ann.ivfPqReconFrame(res, coarse, cb, 8, forceJoined = true))
      assert(joined === literal)  // cells, codes, AND recon doubles
    } finally res.unpersist(blocking = false)
  }

  test("ivfPq tier on real embeddings: residual codebooks fit, probed " +
      "shortlist recall holds a floor, state is shared") {
    val spark2 = spark
    import spark2.implicits._
    val dir = sf("sf0.001")
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val q = e.filter($"id" < 10)
    val coarse = graft.queries.Extended.ivfCentroidsFor(spark, dir)
    val cb = graft.queries.Extended.ivfPqCodebooksFor(spark, dir)
    assert(cb.size === 8 &&
      cb.forall(_.size === graft.queries.Extended.PqKSub))
    val shortlist = Ann.ivfPqTopKWith(coarse, cb, 8, e, q,
        k = graft.queries.Extended.PqShortlist, nProbe = 8)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Ann.bruteTopK(e, q, k = 5)
      .select($"q_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probed recall stacks two losses (unprobed cells + quantization);
    // uniform random embeddings are the worst case for both
    val recall = (exact & shortlist).size.toDouble / exact.size
    assert(recall >= 0.4, s"probed shortlist recall=$recall")
  }

  test("fused signLshBucketsArr ≡ the per-bit signature forest, " +
      "bucket-for-bucket, on float inputs (r16 kernel parity)") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0L until 200L)
      .map(i => (i, Array.fill(16)(rng.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("id", "vec")
    val (nT, nB, dim) = (8, 5, 16)
    val forest = df.select($"id", explode(
        Ann.signLshBuckets($"vec".cast("array<double>"), nT, nB, dim)).as("bk"))
      .select($"id", $"bk.table", $"bk.bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val fused = df.select($"id", posexplode(
        Ann.signLshBucketsArr($"vec", nT, nB, dim))
        .as(Seq("table", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fused === forest)
    // interpreted fallback path agrees with codegen (nullSafeEval twin)
    val one = graft.functions.SignLshBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vecs.head._2,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), nT, nB, dim, 42)
    val ev = one.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val exp = (0 until nT).map(t => fused((vecs.head._1, t)))
    assert(ev.toSeq === exp)
  }

  test("lshTopK rerank-mass gate (r16): fires past budget naming the " +
      "quantization tiers as the scale path, runs only the analytic " +
      "probe jobs first, and stays silent at the shipped budget") {
    val spark2 = spark
    import spark2.implicits._
    val distinct = (0L until 300L)
      .map(i => (i, Array(i.toFloat, 1f, 0.5f, 0f))).toDF("id", "vec")
    val q = distinct.filter($"id" < 5L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 5 queries × ~0.23 coverage × ~300 distinct ≈ 340 ≫ a 10 budget
      val e = intercept[IllegalArgumentException] {
        Ann.lshTopK(distinct, q, k = 3, nTables = 4, nBits = 4,
          maxRerankEstimate = 10L)
      }
      // the remedy names the fitted tiers, NOT the width law (top-k
      // recall collapses at corpus-width signatures — SCALE_r15 §7)
      assert(e.getMessage.contains("ivfTopK"))
      assert(e.getMessage.contains("q_ivf_topk"))
      assert(!e.getMessage.contains("nBitsForCorpus"))
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      // analytic gate: dim take(1) + dup probe + query count — a
      // refactor that moves the require after an eager action on the
      // bucket join (signatures + shuffle + exchange) blows this bound
      assert(jobs.get() <= 5, s"jobs before the gate = ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // …and passes untouched at the shipped default budget
    assert(Ann.lshTopK(distinct, q, k = 3, nTables = 4, nBits = 4)
      .count() > 0)
  }
}
