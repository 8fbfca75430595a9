package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs.dotProduct
import graft.queries.Embeddings.{dot, norm}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>/array<double>).
  *
  *  - `bruteTopK` — exact cosine top-k; the correctness baseline. The
  *    query set is broadcast, so the corpus is scanned once with no
  *    shuffle until the final tiny per-query top-k.
  *  - `signature`/`lshTopK` — random-hyperplane (sign) LSH: each vector
  *    gets an `nBits`-bit signature per table; candidates = same-bucket
  *    vectors across `nTables` independent tables; exact cosine re-rank
  *    on the deduped candidates. The scale path: at 100 TB the
  *    (table, bucket) id is the shuffle/partition key.
  *
  * Hyperplanes are generated driver-side from a seeded PRNG — fully
  * deterministic, embedded in the plan as literal arrays, and evaluated
  * with the codegen DotProduct expression (a per-(table,bit) interpreted
  * higher-order fold measured ~10× slower at sf0.1).
  */
object Ann {

  /** array<float> → array<double>, DELIBERATELY as the interpreted
    * `transform` HOF (r16 audit): a cheap native Cast here would be
    * inlined by CollapseProject into every consumer of the projected
    * column (the fit/search paths below reference `v` from norms,
    * 16-way literal centroid chains and subvector slices), re-allocating
    * the cast array per consumer; the non-cheap HOF keeps the projection
    * as a once-per-row barrier. The hot LSH paths avoid the cast
    * entirely instead — DotProduct and the fused SignLshBuckets kernel
    * read array<float> natively with exact widening, so lshTopK /
    * lshNearDupPairs / bruteTopK pass raw float vectors and never call
    * this. */
  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact cosine top-k of `queries` against `corpus`.
    * Both frames: (id, vec). Output: (q_id, id, cosine, rank<=k). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select($"id", $"vec".as("v"))
      .withColumn("nrm", norm($"v"))
    val q = queries.select($"id".as("q_id"), $"vec".as("q_v"))
      .withColumn("q_nrm", norm($"q_v"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"id".asc)
    c.join(broadcast(q), $"id" =!= $"q_id")
      .select($"q_id", $"id",
        (dot($"q_v", $"v") / ($"q_nrm" * $"nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** Deterministic ±1 hyperplane for (seed, table, bit): `dim` components
    * from a seeded PRNG. Same on every JVM — no state to broadcast. */
  def hyperplane(table: Int, bit: Int, dim: Int, seed: Int): Array[Double] = {
    val rng = new java.util.Random(
      seed.toLong * 1000003L + table.toLong * 10007L + bit.toLong)
    Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** nBits-bit signature for one table: bit b = sign(vec · h(table, b)).
    * Codegen dot products over literal hyperplane arrays. */
  def signature(vec: Column, table: Int, nBits: Int, dim: Int,
      seed: Int = 42): Column =
    (0 until nBits).map { b =>
      when(dotProduct(vec, typedlit(hyperplane(table, b, dim, seed))) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Array of (table, bucket) keys for a vector — explode for the join.
    * Kept for reference/spec parity; the HOT paths use the fused
    * array<long> form below, whose per-row cost is the loop nest rather
    * than a 96-node expression forest (functions.SignLshBuckets — the
    * forest was measured 60 s of q_lsh_topk's 62 s at sfp100). */
  def signLshBuckets(vec: Column, nTables: Int, nBits: Int, dim: Int,
      seed: Int = 42): Column =
    array((0 until nTables).map(t =>
      struct(lit(t).as("table"),
        signature(vec, t, nBits, dim, seed).as("bucket"))): _*)

  /** All-table bucket ids as ONE fused codegen kernel returning
    * array<long> (element t = table t's signature) — posexplode for the
    * join key frame; bit-identical buckets to signLshBuckets (AnnSpec). */
  def signLshBucketsArr(vec: Column, nTables: Int, nBits: Int, dim: Int,
      seed: Int = 42): Column =
    graft.functions.LshSignature.signLshBucketsArr(vec, nTables, nBits, dim, seed)

  /** IVF (inverted-file) approximate top-k — the second classic ANN scale
    * path next to sign-LSH (coarse quantizer → probe the nProbe nearest
    * cells → exact re-rank within them; the IVF-Flat scheme of Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", §IV).
    *
    * Centroids: nCells seeded-deterministic corpus vectors, refined by
    * `lloydIters` distributed k-means passes (assign = argmax cosine;
    * update = per-cell elementwise mean via a map-combinable aggregate
    * keyed (cell, pos) — one slim shuffle of nCells×dim rows). The
    * centroid set (nCells × dim doubles — KBs) is collected driver-side
    * like any MLlib estimator state and embedded as plan literals, so
    * cell assignment is a codegen dot-product chain with NO join or
    * broadcast state; at 100 TB the corpus partitions by `cell` and each
    * query touches only nProbe/nCells of the data.
    *
    * nProbe = nCells degenerates to exact search (every cell probed) —
    * pinned by AnnSpec against bruteTopK. */
  /** Score-struct array over literal centroids: array_max/array_sort
    * order structs by field order, so (dot, cell) sorts by similarity
    * with cell as tie-break. */
  def cellScores(centroids: Seq[Array[Double]])(vec: Column): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct(dotProduct(vec, typedlit(c)).as("s"), lit(i).as("cell"))
    }: _*)

  /** Nearest-centroid cell id as a codegen dot-product chain — no join,
    * no broadcast state (the centroids are plan literals). */
  def assignCell(centroids: Seq[Array[Double]])(vec: Column): Column =
    array_max(cellScores(centroids)(vec)).getField("cell")

  /** Fused top-`nProbe` cell assignment (r18, VERDICT r17 #1 — the
    * PqCodesFused pattern applied to the coarse quantizer): ONE codegen
    * kernel returns the top-nProbe cell ids by (score DESC, cell DESC);
    * element 1 IS assignCell's argmax. Replaces BOTH prior dispatch arms
    * everywhere on the corpus-sized paths — the ≤ 32-cell literal
    * struct chain (SCALE_r14.md §3) AND the broadcast-join assignment,
    * whose nCells× row explosion dominated the semantic-dedup fit at the
    * sfp100 decade (200k rows × 800 cells = 160M joined rows per Lloyd
    * pass). Bit-parity with both pinned in AnnSpec; the prior forms stay
    * below as executable parity witnesses. */
  def ivfProbes(centroids: Seq[Array[Double]], nProbe: Int)(
      vec: Column): Column =
    graft.functions.IvfProbesExpr.ivfProbesFused(vec, centroids, nProbe)

  /** The large-quantizer assignment: centroids broadcast as a tiny table,
    * each row scored against every cell through ONE constant-size codegen
    * dot product (explode a literal cell-id array → broadcast hash join —
    * an equi-join, not a cartesian), then a single map-combinable
    * hash-aggregate picks the argmax cell and the top-`nProbe` probe
    * list. Decision-identical to the literal path: the same DotProduct
    * expression produces the same IEEE score, and max/array_sort over
    * (s, cell) structs break ties toward the greater cell exactly like
    * array_max over cellScores. Output: (id, cell, probe_cells). */
  def assignProbesJoined(cv: DataFrame, centroids: Seq[Array[Double]],
      nProbe: Int): DataFrame = {
    val spark = cv.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("c_cell", "c_v")
    val scored = cv
      .withColumn("c_cell", explode(typedlit(centroids.indices.toArray)))
      .join(broadcast(cents), "c_cell")
      .select($"id", $"c_cell", dotProduct($"v", $"c_v").as("s"))
    scored.groupBy($"id").agg(
      max(struct($"s", $"c_cell")).getField("c_cell").as("cell"),
      transform(
        slice(reverse(array_sort(collect_list(struct($"s", $"c_cell")))),
          1, nProbe),
        sc => sc.getField("c_cell")).as("probe_cells"))
  }

  /** Slim argmax-only form of assignProbesJoined for the Lloyd loop:
    * (id, cell), no probe list, no collect_list buffer. */
  private[operators] def assignCellsJoined(cv: DataFrame,
      centroids: Seq[Array[Double]]): DataFrame = {
    val spark = cv.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("c_cell", "c_v")
    cv.withColumn("c_cell", explode(typedlit(centroids.indices.toArray)))
      .join(broadcast(cents), "c_cell")
      .select($"id", $"c_cell", dotProduct($"v", $"c_v").as("s"))
      .groupBy($"id")
      .agg(max(struct($"s", $"c_cell")).getField("c_cell").as("cell"))
  }

  /** The IVF coarse-quantizer fit shared by ivfTopK and
    * Embeddings.semanticDedup: deterministic seeding (the nCells corpus
    * vectors with the smallest seeded id-hash — stable under
    * partitioning, no RNG state) plus `lloydIters` distributed k-means
    * passes (assign = argmax cosine; update = per-cell elementwise mean
    * via a map-combinable aggregate keyed (cell, pos) — one slim shuffle
    * of nCells×dim rows). Returns unit-norm centroids, empty for an
    * empty corpus. `cv` must expose (id, v: array<double>); callers
    * persist it around the fit (1 + lloydIters actions). */
  def ivfFit(cv: DataFrame, nCells: Int, lloydIters: Int,
      seed: Int): Seq[Array[Double]] = {
    val spark = cv.sparkSession
    import spark.implicits._
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    var centroids: Seq[Array[Double]] = cv
      .orderBy(xxhash64($"id", lit(seed)), $"id").limit(nCells)
      .select($"v").collect().map(r => unit(r.getSeq[Double](0).toArray)).toSeq
    if (centroids.isEmpty) return centroids

    // Lloyd refinement: per-cell elementwise mean, renormalized. The agg
    // output is nCells × dim rows — collected like IDF.fit's DF counts.
    for (_ <- 0 until lloydIters) {
      // The exchange between the assignment projection and the
      // posexplode is load-bearing: without it, codegen inlines the
      // whole assignment kernel into the Generate and re-evaluates it
      // PER EXPLODED ELEMENT — a dim× amplification that turned one
      // Lloyd pass at 80 cells into ~16 min of CPU in the r8 10×
      // experiment (jstack: every worker in generate_doConsume).
      // Behind the barrier the cell is computed once per row and the
      // shuffle is a slim (cell, v) pair, nCells-independent. The r18
      // fused kernel (ivfProbes) replaces both prior dispatch arms:
      // the literal chain (fine ≤ 32 cells) and the
      // broadcast-join assignment, whose nCells× row explosion was the
      // decade fit's real cost — decision-identical by AnnSpec pin.
      val assigned =
        cv.select(element_at(ivfProbes(centroids, 1)($"v"), 1).as("cell"),
          $"v")
      val means = assigned
        .repartition(spark.sparkContext.defaultParallelism)
        .select($"cell", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos").agg(avg($"x").as("m"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val dim = centroids.head.length
      centroids = centroids.indices.map { c =>
        val updated = Array.tabulate(dim)(p => means.getOrElse((c, p), 0.0))
        if (updated.forall(_ == 0.0)) centroids(c) else unit(updated)
      }
    }
    centroids
  }

  /** Weighted ivfFit over exact-twin class representatives: each rep
    * carries its class size `w`, Lloyd means are Σ w·v / Σ w (same
    * mass the unweighted fit sees on the full corpus, at distinct-
    * vector cost), seeding and the cell-keep rule mirror ivfFit.
    * `cvw` must expose (id, v: array<double>, w: numeric); callers
    * persist it around the fit. The two fits are NOT bit-identical (a
    * weighted mean accumulates differently) — callers that need a
    * replay oracle must embed whichever centroids they actually used
    * (Embeddings.semCentroidsFor). */
  def ivfFitWeighted(cvw: DataFrame, nCells: Int, lloydIters: Int,
      seed: Int): Seq[Array[Double]] = {
    val spark = cvw.sparkSession
    import spark.implicits._
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    var centroids: Seq[Array[Double]] = cvw
      .orderBy(xxhash64($"id", lit(seed)), $"id").limit(nCells)
      .select($"v").collect().map(r => unit(r.getSeq[Double](0).toArray)).toSeq
    if (centroids.isEmpty) return centroids
    for (_ <- 0 until lloydIters) {
      // same exchange barrier as ivfFit: the cell is computed once per
      // row, never inlined into the Generate (the r8 16-minute hazard);
      // same r18 fused assignment kernel (parity-pinned in AnnSpec)
      val assigned =
        cvw.select(element_at(ivfProbes(centroids, 1)($"v"), 1).as("cell"),
          $"v", $"w")
      val means = assigned
        .repartition(spark.sparkContext.defaultParallelism)
        .select($"cell", $"w", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x" * $"w") / sum($"w")).as("m"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val dim = centroids.head.length
      centroids = centroids.indices.map { c =>
        val updated = Array.tabulate(dim)(p => means.getOrElse((c, p), 0.0))
        if (updated.forall(_ == 0.0)) centroids(c) else unit(updated)
      }
    }
    centroids
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 1,
      seed: Int = 42): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the fit phase runs 1 + lloydIters actions over the corpus (seeding
    // collect + each Lloyd mean); persist the scan+cast lineage once so
    // they hit the cache instead of re-reading parquet per pass —
    // estimator-state pattern, released before the (unavoidable) final
    // assignment scan below
    val cv = corpus.select($"id", asDouble($"vec").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfFit(cv, nCells, lloydIters, seed)
    // fit is done (centroids are plan literals now); drop the cache so the
    // lazily-evaluated result below reads the corpus once from source
    // rather than pinning executor memory past the operator's lifetime
    cv.unpersist(blocking = false)
    ivfTopKWith(centroids, corpus, queries, k, nProbe)
  }

  /** The post-fit IVF search against ALREADY-FITTED centroids — split
    * out (r13) so callers can reuse one fit across queries and so the
    * replay oracle can embed exactly the centroids the query ran with
    * (Extended.ivfCentroidsFor). */
  def ivfTopKWith(centroids: Seq[Array[Double]], corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (centroids.isEmpty)  // empty corpus: no cells, no neighbors
      return queries.select($"id".as("q_id"), $"id".as("id"),
        lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    val cv = corpus.select($"id", asDouble($"vec").as("v"))
    val qv = queries.select($"id".as("q_id"), asDouble($"vec").as("q_v"))
    // norms computed once per row, not per candidate pair (bruteTopK's
    // shape: a per-pair norm() re-folds O(dim) for every candidate);
    // corpus assignment is the r18 fused kernel — one loop nest per row,
    // no join/row-explosion arm at any nCells (parity-pinned in AnnSpec)
    val assigned =
      cv.select($"id", $"v", norm($"v").as("nrm"),
        element_at(ivfProbes(centroids, 1)($"v"), 1).as("cell"))
    // query probes: top-nProbe cells by centroid similarity — the same
    // fused kernel's full probe list (≡ the sorted-struct-slice form)
    val probes = qv.select($"q_id", $"q_v", norm($"q_v").as("q_nrm"),
        explode(ivfProbes(centroids, nProbe)($"q_v")).as("cell"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"id".asc)
    assigned.join(broadcast(probes), Seq("cell"))
      .filter($"id" =!= $"q_id")
      .select($"q_id", $"id",
        (dot($"q_v", $"v") / ($"q_nrm" * $"nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** LSH-blocked cosine near-duplicate PAIRS over the whole corpus — the
    * true scale path for embedding dedup (Embeddings.cosineNearDup blocks
    * on a label column; real corpora have no labels). Same sign-LSH
    * machinery as lshTopK, self-joined: candidates = id pairs sharing a
    * (table, bucket) in ANY table, deduped, then one exact cosine per
    * unique pair, thresholded.
    *
    * Calibration (collision p = 1 − θ/π per hyperplane): recall for a
    * pair at angle θ is 1 − (1 − p^nBits)^nTables. Few bits + many
    * tables → high recall at moderate similarity (the defaults here,
    * 4 bits × 24 tables, give ≈0.97 at cosine 0.35 on random 64-d data —
    * pinned in AnnSpec); true near-dup thresholds (cosine ≥ 0.9, p ≥
    * 0.85) tolerate far more bits, and more bits is what shrinks buckets:
    * candidate volume per table is Σ bucket², so at production scale
    * nBits rises with log₂(corpus) to hold buckets at the candidate
    * budget. The `maxBucket` guard (same role as minhashNearDup's) is
    * the hard backstop: a degenerate bucket — identical/zero vectors
    * collide in EVERY table at any nBits — is dropped rather than
    * joined, bounding the pair join by #buckets × maxBucket² regardless
    * of input; the guard's window count is sort-based (spillable) and
    * runs on the join key's own partitioning. Pairs lost to the guard
    * are the pathological self-similar mass exact dedup removes more
    * cheaply first. */
  /** The log₂(corpus) signature-width law the scaladoc above prescribes,
    * as a callable: the smallest nBits ≥ `floorBits` holding expected
    * per-table bucket occupancy at or below `targetOcc` — i.e. the
    * smallest b with n ≤ targetOcc · 2^b. Integer arithmetic (no float
    * log whose last ulp could flip a boundary corpus). Per-table
    * candidate volume is Σ bucket² ≈ n · occupancy, so fixing occupancy
    * makes the candidate join LINEAR in corpus size where a fixed nBits
    * is quadratic. The default targetOcc 125 is the sf0.1 (n = 2000,
    * b = 4) operating point, so every driver SF keeps nBits 4 and the
    * law only engages beyond the pinned-calibration regime. Recall
    * falls with bits (1 − (1 − p^b)^T): fine at production near-dup
    * thresholds (cosine ≥ 0.9 ⇒ p ≈ 0.86; b = 9, T = 24 still gives
    * 0.999 — measured, SCALE_r14.md §5), but NOT at this corpus's loose
    * 0.35 exploratory threshold (p ≈ 0.61; the r12 5-bit retune was
    * measured losing real borderline pairs) — which is why
    * q_lsh_neardup keeps its pinned 4 bits and the law ships as the
    * explicit knob for high-threshold production use. */
  def nBitsForCorpus(n: Long, targetOcc: Long = 125L,
      floorBits: Int = 4): Int = {
    var b = floorBits
    while ((targetOcc << b) < n && b < 16) b += 1
    b
  }

  /** Sentinel default for lshNearDupPairs' nBits: resolve the width
    * automatically — the corpus-occupancy law (nBitsForCorpus) at
    * production near-dup thresholds, the pinned 4 bits in the
    * exploratory regime. An explicit caller value always wins. */
  val AutoNBits: Int = 0

  /** Threshold at or above which the auto width applies the occupancy
    * law (VERDICT r14 #4): per-hyperplane collision probability
    * p = 1 − acos(θ)/π ≥ ~0.75 there, so widening to b =
    * nBitsForCorpus(n) keeps recall 1−(1−p^b)^T high (cosine 0.9 ⇒
    * b = 9, T = 24 still 0.999 — SCALE_r14.md §5), while below it the r12
    * retune MEASURED real borderline pairs lost at 5 bits — the
    * exploratory regime keeps pinned 4 bits and relies on the
    * candidate-volume gate to fail fast instead. */
  val HighThresholdForWidthLaw: Double = 0.7

  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
      nTables: Int = 24, nBits: Int = AutoNBits, seed: Int = 42,
      maxBucket: Int = 10000,
      maxCandidateEstimate: Long = MaxLshCandidateEstimate): DataFrame =
    lshNearDupImpl(corpus, threshold, nTables, nBits, seed, maxBucket,
      maxCandidateEstimate, tag = false)

  /** lshNearDupPairs plus a `min_table` column — the smallest table
    * index (post-guard) in which the pair co-bucketed. Because
    * hyperplanes depend only on (table, bit, seed), the first T tables
    * of an N-table run (T < N, same seed/nBits) are bit-identical to a
    * T-table run, so `tagged(N).filter(min_table < T)` selects EXACTLY
    * the T-table pair set (AnnSpec pins it). One banded pass can
    * therefore serve consumers at different table counts — the r16
    * shared-minhash-frame device applied to the sign-LSH tier (guide
    * §2.4: one exchange, several keyed consumers). Same gate/valve
    * semantics as lshNearDupPairs at the given nTables. */
  def lshNearDupPairsTagged(corpus: DataFrame, threshold: Double,
      nTables: Int = 24, nBits: Int = AutoNBits, seed: Int = 42,
      maxBucket: Int = 10000,
      maxCandidateEstimate: Long = MaxLshCandidateEstimate): DataFrame =
    lshNearDupImpl(corpus, threshold, nTables, nBits, seed, maxBucket,
      maxCandidateEstimate, tag = true)

  /** Whether lshNearDupPairs at these parameters would pass its
    * candidate-volume gate — the SAME analytic estimate the gate
    * computes (dup-probe memo + row count; no new jobs beyond the
    * memoized probe). Lets a caller choose between a wider shared
    * banding pass and an independent narrower one WITHOUT changing any
    * query's feasible region: if the wide pass would be refused, the
    * caller falls back to its own parameters and gets the exact
    * per-query gate behavior (message included) it always had. */
  def lshNearDupFeasible(corpus: DataFrame, threshold: Double,
      nTables: Int, nBits: Int = AutoNBits,
      maxCandidateEstimate: Long = MaxLshCandidateEstimate): Boolean = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, _) = DupProbe.stats(corpus, $"vec")
    if (n == 0L) return true
    val (_, estCandidates) = lshGateEstimate(corpus, threshold, nTables,
      nBits)
    estCandidates <= maxCandidateEstimate.toDouble
  }

  /** THE candidate-volume estimate both the lshNearDupImpl gate and
    * lshNearDupFeasible consult — one implementation (ADVICE r17 #1: two
    * copies of the arithmetic could silently drift, making feasible=true
    * coexist with a refusing gate and turning the promised historical
    * fallback into a throw). Returns (resolved nBits, expected pre-dedup
    * candidate volume ≈ nTables · nEff² / 2^bits); rides the memoized
    * dup probe — no new jobs. */
  private def lshGateEstimate(corpus: DataFrame, threshold: Double,
      nTables: Int, nBits: Int): (Int, Double) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, dupFactor) = DupProbe.stats(corpus, $"vec")
    val nEff = (n / math.max(dupFactor, 1.0)).toLong
    val bits =
      if (nBits != AutoNBits) nBits
      else if (threshold >= HighThresholdForWidthLaw) nBitsForCorpus(nEff)
      else 4
    (bits, nTables.toDouble * nEff.toDouble * nEff.toDouble / (1L << bits))
  }

  private def lshNearDupImpl(corpus: DataFrame, threshold: Double,
      nTables: Int, nBits: Int, seed: Int,
      maxBucket: Int,
      maxCandidateEstimate: Long, tag: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dims = corpus.select(size($"vec")).take(1)
    if (dims.isEmpty) {  // empty corpus: no dim to read, no pairs to emit
      val empty = corpus.select($"id".as("a_id"), $"id".as("b_id"),
        lit(0.0).as("cosine"))
      return (if (tag) empty.withColumn("min_table", lit(0)) else empty)
        .limit(0)
    }
    val dim = dims(0).getInt(0)
    // EXACT-TWIN COLLAPSE VALVE (the postingPairCounts device applied to
    // vectors — found by the r11 30× twin-replica decade, where this
    // query TIMED OUT at 300 s: identical vectors share every bucket in
    // every table, so each bucket's member count multiplies by the dup
    // factor and the Σ bucket² candidate join by its square). One cheap
    // linear probe estimates the exact-duplication factor; dup-light
    // corpora (the common case) keep the direct form and its plan.
    // Probe memoized per session (DupProbe, r12): q_lsh_neardup and
    // q_lsh_recall share one pass over the same corpus frame.
    val dupFactor = DupProbe.dupFactor(corpus, $"vec")
    // CANDIDATE-VOLUME GATE (r14, the q_linkpred_e2e posture applied to
    // the one remaining fixed-width plan): with nBits fixed, expected
    // pre-dedup candidates ≈ nTables · nEff² / 2^nBits, where nEff is
    // the DISTINCT-vector count the chosen branch actually buckets
    // (n / dupFactor — the collapse valve absorbs the twin axis, this
    // gate covers the distinct axis the r14 perturbed decade measured:
    // 30× sf0.1 ⇒ ~7.2e9 candidates, OOM at 8 g heap and disk-full at
    // 48 g after 709 s). The estimate is analytic — a row count, no
    // signature pass — and fails FAST with the remedy named, instead of
    // crashing the cluster minutes in. Every driver SF is ≤ 8e6; the
    // measured-feasible 10× decade point (8e8) passes. The row count
    // rides the dup probe's own aggregate (DupProbe.stats) — no second
    // scan.
    val nEff = (DupProbe.stats(corpus, $"vec")._1 /
      math.max(dupFactor, 1.0)).toLong
    // AUTO WIDTH (r15, VERDICT r14 #4): with nBits unspecified, apply
    // the occupancy law at production thresholds — the 30× distinct
    // corpus that needed a caller knob in r14 now passes ungated with
    // none — and keep the pinned 4 bits in the exploratory regime,
    // where widening was measured to LOSE real pairs (r12 retune).
    // Width + volume come from the ONE shared estimator so this gate and
    // lshNearDupFeasible can never drift (ADVICE r17 #1).
    val (bits, estCandidates) =
      lshGateEstimate(corpus, threshold, nTables, nBits)
    require(estCandidates <= maxCandidateEstimate,
      f"lshNearDupPairs: ~$estCandidates%.2g expected bucket-join candidates " +
        f"at $nTables tables × $bits bits over $nEff%d distinct vectors " +
        f"exceeds the ${maxCandidateEstimate}%d budget. At high " +
        f"thresholds raise nBits toward nBitsForCorpus($nEff%d) = " +
        f"${nBitsForCorpus(nEff)}%d (and nTables for recall — see the " +
        "nBitsForCorpus scaladoc); at loose thresholds the ≥-threshold " +
        "pair set itself is quadratic and should be range-partitioned " +
        "or threshold-tightened upstream.")
    if (dupFactor < CollapseDupFactor)
      lshNearDupPairsDirect(corpus, threshold, nTables, bits, seed,
        maxBucket, dim, tag)
    else
      lshNearDupPairsCollapsed(corpus, threshold, nTables, bits, seed,
        maxBucket, dim, tag)
  }

  /** Fail-fast budget for lshNearDupPairs' expected pre-dedup candidate
    * volume — calibrated between the measured-feasible 10× distinct
    * decade (8e8 candidates, 139.8 s) and the measured-infeasible 30×
    * (7.2e9: 8 g OOM / 48 g disk-full). */
  val MaxLshCandidateEstimate = 2000000000L

  /** Duplication factor above which lshNearDupPairs collapses exact
    * vector twins before bucketing — the family-wide constant
    * (DupProbe.CollapseDupFactor). */
  private def CollapseDupFactor = DupProbe.CollapseDupFactor

  /** The direct bucket self-join — optimal when exact twins are rare. */
  private[operators] def lshNearDupPairsDirect(corpus: DataFrame,
      threshold: Double, nTables: Int, nBits: Int, seed: Int,
      maxBucket: Int, dim: Int, tag: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cv = corpus.select($"id", $"vec".as("v"))
      .withColumn("nrm", norm($"v"))
    val wBucket = Window.partitionBy($"table", $"bucket")
    val b = cv
      .select($"id", posexplode(
        signLshBucketsArr($"v", nTables, nBits, dim, seed))
        .as(Seq("table", "bucket")))
      .withColumn("n", count(lit(1)).over(wBucket))
      .filter($"n" <= maxBucket)
      .drop("n")
    val hits = b
      .join(b.select($"id".as("b_id"), $"table", $"bucket"),
        Seq("table", "bucket"))
      .filter($"id" < $"b_id")
    // tag=false keeps the historical plan byte-for-byte; tag=true keys
    // the same dedup on the two longs and keeps min(table) alongside
    val cand =
      if (!tag) hits.select($"id".as("a_id"), $"b_id").distinct()
      else hits.select($"id".as("a_id"), $"b_id", $"table")
        .groupBy($"a_id", $"b_id")
        .agg(min($"table").as("min_table"))
    val outCols =
      if (!tag) Seq($"a_id", $"b_id",
        (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"))
      else Seq($"a_id", $"b_id",
        (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"),
        $"min_table")
    cand
      .join(cv.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_nrm")), "a_id")
      .join(cv.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_nrm")), "b_id")
      .select(outCols: _*)
      .filter($"cosine" >= threshold)
  }

  /** The twin-collapsed form: identical vectors form one class, buckets
    * and candidate pairs run on one representative per class, classes
    * expand back into member pairs afterwards. Produces EXACTLY the
    * direct form's rows:
    *  - the maxBucket guard counts VECTORS (Σ class sizes) per bucket,
    *    not classes, so guard semantics are unchanged;
    *  - cross-class pairs inherit the rep-pair cosine (members share the
    *    reps' vectors, so the direct form computes the identical IEEE
    *    expression);
    *  - intra-class (twin) pairs get dot(v,v)/(nrm·nrm) — the exact
    *    expression the direct form evaluates for an identical pair
    *    (NOT a literal 1.0: sqrt-then-square rounds; a zero vector is
    *    an ANSI divide-by-zero error in BOTH forms alike);
    *  - a class emits intra pairs iff it survives the guard in ≥ 1
    *    table, exactly when the direct form would co-bucket its twins
    *    (twins share ALL buckets, so survival is class-level). */
  private[operators] def lshNearDupPairsCollapsed(corpus: DataFrame,
      threshold: Double, nTables: Int, nBits: Int, seed: Int,
      maxBucket: Int, dim: Int, tag: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val wTwin = Window.partitionBy($"vec")
    val keyed = corpus
      .withColumn("rep", min($"id").over(wTwin))
      .withColumn("csize", count(lit(1)).over(wTwin))
    val memb = keyed.select($"rep", $"id")
    val reps = keyed.filter($"id" === $"rep")
      .select($"rep".as("id"), $"vec".as("v"), $"csize")
      .withColumn("nrm", norm($"v"))
    val wBucket = Window.partitionBy($"table", $"bucket")
    val b = reps
      .select($"id", $"csize", posexplode(
        signLshBucketsArr($"v", nTables, nBits, dim, seed))
        .as(Seq("table", "bucket")))
      .withColumn("n", sum($"csize").over(wBucket))
      .filter($"n" <= maxBucket)
      .drop("n")
    val repHits = b
      .join(b.select($"id".as("b_id"), $"table", $"bucket"),
        Seq("table", "bucket"))
      .filter($"id" < $"b_id")
    val repCand =
      if (!tag) repHits.select($"id".as("a_id"), $"b_id").distinct()
      else repHits.select($"id".as("a_id"), $"b_id", $"table")
        .groupBy($"a_id", $"b_id")
        .agg(min($"table").as("min_table"))
    val repOut =
      if (!tag) Seq($"a_id", $"b_id",
        (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"))
      else Seq($"a_id", $"b_id",
        (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"),
        $"min_table")
    val repPairs = repCand
      .join(reps.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_nrm")), "a_id")
      .join(reps.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_nrm")), "b_id")
      .select(repOut: _*)
      .filter($"cosine" >= threshold)
    // cross-class expansion: join-based and task-distributed — never a
    // per-row array explode (the postingPairCountsCollapsed discipline).
    // Tagged: members share their reps' buckets, so the member pair's
    // min colliding table IS the rep pair's (what the direct form
    // computes for them).
    val crossOut =
      if (!tag) Seq(least($"x", $"y").as("a_id"),
        greatest($"x", $"y").as("b_id"), $"cosine")
      else Seq(least($"x", $"y").as("a_id"),
        greatest($"x", $"y").as("b_id"), $"cosine", $"min_table")
    val cross = repPairs
      .join(memb.select($"rep".as("a_id"), $"id".as("x")), "a_id")
      .join(memb.select($"rep".as("b_id"), $"id".as("y")), "b_id")
      .select(crossOut: _*)
    // intra-class expansion: survivors = classes present in ≥1 kept
    // bucket; self-cosine computed once per class, then a member
    // self-join (x < y). Tagged: twins co-bucket exactly in the class's
    // kept tables, so min(table) over the class's kept buckets is the
    // pair's min colliding table.
    val intra = if (!tag) {
      val survivors = b.select($"id".as("rep")).distinct()
      reps.filter($"csize" >= 2)
        .join(survivors, reps("id") === survivors("rep"), "left_semi")
        .select($"id".as("rep"),
          (dot($"v", $"v") / ($"nrm" * $"nrm")).as("cosine"))
        .filter($"cosine" >= threshold)
        .join(memb.select($"rep", $"id".as("x")), "rep")
        .join(memb.select($"rep", $"id".as("y")), "rep")
        .filter($"x" < $"y")
        .select($"x".as("a_id"), $"y".as("b_id"), $"cosine")
    } else {
      val survivors = b.groupBy($"id")
        .agg(min($"table").as("min_table"))
        .withColumnRenamed("id", "rep")
      reps.filter($"csize" >= 2)
        .join(survivors, reps("id") === survivors("rep"))
        .select($"id".as("rep"),
          (dot($"v", $"v") / ($"nrm" * $"nrm")).as("cosine"),
          $"min_table")
        .filter($"cosine" >= threshold)
        .join(memb.select($"rep", $"id".as("x")), "rep")
        .join(memb.select($"rep", $"id".as("y")), "rep")
        .filter($"x" < $"y")
        .select($"x".as("a_id"), $"y".as("b_id"), $"cosine", $"min_table")
    }
    cross.unionByName(intra)
  }

  /** LSH-bucketed approximate top-k: candidates share a (table, bucket)
    * with the query in any table; deduped, then exact cosine re-rank.
    * Recall < 1 by construction; raise nTables / lower nBits to trade
    * cost for recall. `dim` is read from the first corpus row. */
  /** Expected fraction of the (distinct) corpus that shares at least one
    * (table, bucket) with a query under uniform bucket occupancy —
    * 1 − (1 − 2^−nBits)^nTables. With (nBits, nTables) FIXED this is a
    * scale-invariant CONSTANT (≈ 0.22 at q_lsh_topk's 6 bits × 16
    * tables), which is exactly the fixed-parameter tier's scale defect:
    * the exact re-rank probes the same corpus fraction per query at
    * every corpus size — near-brute-force at 100 TB. */
  def lshTopKCoverage(nTables: Int, nBits: Int): Double =
    1.0 - math.pow(1.0 - 1.0 / (1L << nBits).toDouble, nTables.toDouble)

  /** Budget on nQueries × nEff × coverage — the expected exact re-rank
    * candidate mass of one lshTopK call. Calibration: the largest
    * measured point (sfp100, 600k distinct vectors × 10 queries × 0.22
    * coverage ≈ 1.3e6, 60.9 s warm — SCALE_r15 §7) passes with ~150×
    * headroom, while a 100-TB-class corpus (~1e9 vectors) fails for even
    * ONE query (0.22 × 1e9 = 2.2e8) — precisely the scale where probing
    * a fifth of the corpus per query is the wrong plan and the fitted
    * quantization tiers (3.7–4.2× warm for 100× vectors vs this tier's
    * 36×) are the right one. */
  val MaxLshTopKRerankEstimate: Long = 200000000L

  /** EAGER-GATE CONTRACT (ADVICE r16): unlike most operators here this
    * is NOT purely lazy — it runs the analytic gate's probe jobs at
    * plan-construction time (the memoized dup probe on `corpus`, a
    * memoized count on `queries` — both via DupProbe, session-scoped,
    * so repeated calls over the same frames pay no re-probe) and can
    * throw IllegalArgumentException from the rerank-mass gate BEFORE
    * returning a frame. Callers embedding it in a larger lazy plan
    * should expect jobs + a possible throw at call time, not at
    * action time. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 8, nBits: Int = 12, seed: Int = 42,
      maxRerankEstimate: Long = MaxLshTopKRerankEstimate): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dims = corpus.select(size($"vec")).take(1)
    if (dims.isEmpty)  // empty corpus: no dim to read, no neighbors to emit
      return queries.select($"id".as("q_id"), $"id".as("id"),
        lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    val dim = dims(0).getInt(0)
    // EXACT-TWIN COLLAPSE VALVE (r13, VERDICT r11 #5: 23.6× at the 50×
    // twin-replica decade — the family's worst post-fix ratio). With
    // nBits fixed, per-table bucket occupancy ∝ corpus size, so the
    // candidate join and the per-candidate exact cosine grow linearly
    // with the duplication factor; twins share every signature, so the
    // whole pipeline can run once per distinct vector. Same memoized
    // probe as lshNearDupPairs (identical corpus frame → one scan).
    val (n, dupFactor) = DupProbe.stats(corpus, $"vec")
    val nEff = (n / math.max(dupFactor, 1.0)).toLong
    // RERANK-MASS GATE (r16, the q_lsh_topk scale-posture decision —
    // VERDICT r15 #1). Analytic: the dup probe's cached (count, dup)
    // pair plus one count on the (small) query frame — no signature
    // pass, no shuffle scheduled before the require. The width law is
    // deliberately NOT offered as the remedy: a top-k query's best
    // neighbors can sit at ANY cosine (this corpus: ~0.4, per-
    // hyperplane collision p ≈ 0.63), so corpus-width signatures
    // collapse recall (p⁹ ≈ 0.016/table at nBitsForCorpus widths —
    // SCALE_r15 §7) where the near-dup tier's threshold ≥ 0.9 keeps it
    // safe. Past the budget the fitted quantization tiers are the
    // scale path by measurement, not assertion.
    val nQ = DupProbe.rowCount(queries)
    val coverage = lshTopKCoverage(nTables, nBits)
    val estRerank = nQ.toDouble * nEff.toDouble * coverage
    require(estRerank <= maxRerankEstimate,
      f"lshTopK: ~$estRerank%.2g expected exact re-rank candidates " +
        f"($nQ%d queries × coverage $coverage%.2f of $nEff%d distinct " +
        f"vectors at $nTables tables × $nBits bits) exceeds the " +
        f"$maxRerankEstimate%d budget. Fixed (nBits, nTables) probes a " +
        "scale-invariant corpus fraction per query — near-brute-force " +
        "at this size — and widening nBits is NOT recall-safe for " +
        "top-k (best neighbors sit at arbitrary cosine; see " +
        "lshTopKCoverage scaladoc). Use the fitted quantization tiers " +
        "instead: Ann.ivfTopK / pqTopK / ivfPqTopK " +
        "(q_ivf_topk / q_pq_topk / q_ivfpq_topk — 3.7-4.2x warm for " +
        "100x vectors, recall arms in SCALE_r15 §5).")
    if (dupFactor >= DupProbe.CollapseDupFactor)
      lshTopKCollapsed(corpus, queries, k, nTables, nBits, seed, dim)
    else
      lshTopKDirect(corpus, queries, k, nTables, nBits, seed, dim)
  }

  /** The direct per-row form — optimal when exact twins are rare. */
  private[operators] def lshTopKDirect(corpus: DataFrame,
      queries: DataFrame, k: Int, nTables: Int, nBits: Int, seed: Int,
      dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Raw float vectors throughout (r16): DotProduct reads array<float>
    // natively with exact widening, so neither the signature chain nor
    // the cosine pays a per-consumer cast materialization (see the
    // asDouble scaladoc for the CollapseProject duplication this avoids).
    val cv = corpus.select($"id", $"vec".as("v"))
    val qv = queries.select($"id".as("q_id"), $"vec".as("q_v"))
    // Bucket frames carry ONLY (table, bucket, id): the nTables×nBits
    // signature dot products run once per input row, and the re-rank
    // vectors come from the slim pre-bucket frames — the previous
    // `c.select(id, v).distinct()` shape re-ran the whole signature
    // lineage (96 dot products/row at the q_lsh_topk parameters) plus an
    // extra shuffle just to recover what `cv` already was.
    def bucketsOf(df: DataFrame, idAs: String, vc: Column) = df
      .select(col(idAs), posexplode(
        signLshBucketsArr(vc, nTables, nBits, dim, seed))
        .as(Seq("table", "bucket")))
    val c = bucketsOf(cv, "id", $"v")
    val q = bucketsOf(qv, "q_id", $"q_v")
    // slim candidate ids first (dedup across tables), then one exact
    // cosine per unique (q_id, id) — vectors re-joined after the dedup
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .filter($"id" =!= $"q_id")
      .select($"q_id", $"id").distinct()
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"id".asc)
    cand.join(cv, "id").join(broadcast(qv), "q_id")
      .select($"q_id", $"id",
        (dot($"q_v", $"v") / (norm($"q_v") * norm($"v"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  /** Twin-collapsed lshTopK: signatures, the bucket join, candidate
    * dedup, and the exact cosine all run once per DISTINCT vector;
    * classes then expand to members and the final top-k window re-ranks.
    * Produces EXACTLY the direct form's rows:
    *  - a member is a candidate iff its class rep is (identical vectors
    *    ⇒ identical signatures ⇒ identical buckets in every table);
    *  - the cosine is computed on the rep's vector, which is bit-for-bit
    *    the member's vector — the identical IEEE expression the direct
    *    form evaluates;
    *  - expansion keeps only the k+1 smallest member ids per class: all
    *    class members tie on cosine and the rank window breaks ties by
    *    id ASC, so a member beyond the (k+1) smallest is preceded by ≥ k
    *    surviving class-mates (at most one of the k+1 is the query row
    *    itself, removed by the id ≠ q_id filter) and can never reach
    *    rank ≤ k;
    *  - the direct form's id ≠ q_id filter is applied post-expansion at
    *    member granularity (the class stays a candidate even when one
    *    member IS the query row). */
  private[operators] def lshTopKCollapsed(corpus: DataFrame,
      queries: DataFrame, k: Int, nTables: Int, nBits: Int, seed: Int,
      dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Twin window keyed by (xxhash64(vec), vec) rather than the raw
    // 64-dim array alone (VERDICT r13 #5, the twinClasses discipline):
    // the 8-byte hash leads the exchange/sort key, so the shuffle sort
    // compares longs and only falls through to the full array compare on
    // equal hashes — i.e. on actual twins (or a 2⁻⁶⁴ collision, which
    // the trailing exact-vec key keeps in separate classes, preserving
    // bit-exactness unconditionally).
    val hashed = corpus.withColumn("vh", xxhash64($"vec"))
    val wTwin = Window.partitionBy($"vh", $"vec")
    val keyed = hashed
      .withColumn("rep", min($"id").over(wTwin))
      .withColumn("mrank", row_number().over(wTwin.orderBy($"id".asc)))
    // k+1 smallest ids per class — the only members that can ever rank
    val membK = keyed.filter($"mrank" <= k + 1).select($"rep", $"id")
    val reps = keyed.filter($"id" === $"rep")
      .select($"rep".as("id"), $"vec".as("v"))
    val qv = queries.select($"id".as("q_id"), $"vec".as("q_v"))
    def bucketsOf(df: DataFrame, idAs: String, vc: Column) = df
      .select(col(idAs), posexplode(
        signLshBucketsArr(vc, nTables, nBits, dim, seed))
        .as(Seq("table", "bucket")))
    val c = bucketsOf(reps, "id", $"v")
    val q = bucketsOf(qv, "q_id", $"q_v")
    // candidates at CLASS granularity (no id ≠ q_id here — a class with
    // the query row in it still has other rankable members)
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .select($"q_id", $"id").distinct()
    val classCos = cand.join(reps, "id").join(broadcast(qv), "q_id")
      .select($"q_id", $"id".as("rep"),
        (dot($"q_v", $"v") / (norm($"q_v") * norm($"v"))).as("cosine"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"id".asc)
    classCos.join(membK, "rep")
      .filter($"id" =!= $"q_id")
      .select($"q_id", $"id", $"cosine")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ-ADC) — the third classic ANN scale path
  // next to sign-LSH and IVF-Flat (Jégou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011, §II-III;
  // the flat-ADC variant). Vectors are unit-normalized (cosine regime),
  // each split into `mSub` subvectors of `dSub` dims; every subvector is
  // quantized to its nearest of `kSub` per-subspace centroids, so a
  // 64-dim float vector compresses to mSub code bytes — 8 bytes vs 256,
  // a 32× scan-width reduction, which is why PQ (usually composed with
  // an IVF coarse quantizer) is the standard billion-vector search
  // layout. Search is asymmetric distance computation: the query stays
  // exact and each corpus vector is scored against its RECONSTRUCTION
  // (the concatenation of its code centroids), so approx-cosine =
  // one dot product against an 8-bytes-of-state row.
  //
  // Determinism discipline = the IVF quantizer's: seeding is the kSub
  // corpus vectors with the smallest seeded id-hash (partition-stable),
  // Lloyd means are distributed float aggregates whose ulps can vary
  // between fits, so callers memoize ONE fit per (session, corpus) and
  // the replay oracle embeds exactly those codebook doubles
  // (Extended.pqCodebooksFor).

  /** Per-subspace encode score against one literal centroid:
    * dot(sub, c) − ½|c|² — argmax of this over the codebook IS argmin
    * L2² (the ½|x|² term is constant per row) in real arithmetic; in
    * floats it is simply the DEFINED encode rule, replayed bit-for-bit
    * by the oracle (the fold and the driver-computed ½|c|² literal are
    * identical on both engines). Ties → larger cell via the array_max
    * struct order, the assignCell convention. */
  private def pqCellOf(codebook: Seq[Array[Double]], sub: Column): Column =
    array_max(array(codebook.zipWithIndex.map { case (c, i) =>
      val halfCC = 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)
      struct((dotProduct(sub, typedlit(c.toSeq)) - lit(halfCC)).as("s"),
        lit(i).as("cell"))
    }: _*)).getField("cell")

  /** mSub-element code array for a unit-normalized vector column —
    * literal codegen dot chains (mSub·kSub small dots), no join, no
    * broadcast state. Only sound below PqLiteralEntriesBound: the
    * generated encode method is mSub·kSub inlined dot products and
    * janino refuses methods past 64 KB (measured: 8×64 = 512 chains
    * fail to compile and the whole stage silently degrades to
    * interpreted eval — the IVF literal-chain failure shape). */
  def pqCodes(cb: Seq[Seq[Array[Double]]], dSub: Int)(vh: Column): Column =
    array(cb.indices.map { m =>
      pqCellOf(cb(m), slice(vh, m * dSub + 1, dSub))
    }: _*)

  /** Literal-chain encode stays whole-stage-codegen-compilable up to
    * this many TOTAL codebook entries (mSub·kSub); past it the encode
    * takes the broadcast-join path (pqCodesJoined), decision-
    * identically. 8×32 = 256 compiles; 8×64 = 512 measured failing
    * with "Code grows beyond 64 KB" (r14). */
  val PqLiteralEntriesBound = 256

  /** The large-codebook encode — the IVF assignProbesJoined lesson
    * applied to PQ (and the shape a 100 TB corpus needs anyway, where
    * kSub is 256 and the codebook is estimator state, not code):
    * explode the mSub subspace ids, broadcast-join the flattened
    * (m, cell, centroid, ½|c|²) table — an equi-join on m, not a
    * cartesian — score each (row, subspace, cell) through ONE
    * constant-size codegen dot product, then a single map-combinable
    * hash-aggregate takes the per-subspace argmax. Decision-identical
    * to the literal chains: same DotProduct IEEE score minus the same
    * driver-computed ½|c|² double, and max over (s, cell) structs
    * breaks ties toward the larger cell exactly like array_max over
    * pqCellOf's struct array (AnnSpec pins joined ≡ literal row-by-row
    * past the bound). Output: (id, codes: array<int>). */
  def pqCodesJoined(nv: DataFrame, cb: Seq[Seq[Array[Double]]],
      dSub: Int): DataFrame = {
    val spark = nv.sparkSession
    import spark.implicits._
    val cents = cb.indices.flatMap { m =>
      cb(m).zipWithIndex.map { case (c, i) =>
        (m, i, c.toSeq, 0.5 * c.foldLeft(0.0)((a, x) => a + x * x))
      }
    }.toDF("m", "cell", "cv", "halfcc")
    nv.withColumn("m", explode(typedlit(cb.indices.toArray)))
      .join(broadcast(cents), "m")
      .select($"id", $"m", $"cell",
        (dotProduct(slice($"vh", $"m" * dSub + 1, lit(dSub)), $"cv") -
          $"halfcc").as("s"))
      .groupBy($"id")
      .agg(array(cb.indices.map { m =>
        max(when($"m" === m, struct($"s", $"cell"))).getField("cell")
      }: _*).as("codes"))
  }

  /** Encode dispatch (r17): the FUSED codegen kernel for every size —
    * the codebook rides as a plan reference object (no janino 64 KB
    * wall, no join, no shuffle), and the valued-probe audit measured it
    * strictly dominating both prior forms (literal chains ~520 ns/entry
    * — the sign-LSH forest pathology; broadcast-join ~22 ns/entry but
    * paying a join — SCALE_r17 §3). Bit-parity with both is pinned in
    * AnnSpec (same in-order dot, same driver ½|c|² double, same
    * total-order tie-break), so the dispatch change can never move a
    * result. pqCodes/pqCodesJoined remain as the parity witnesses and
    * the documented estimator-state-as-data shape. `nv` must expose
    * (id, vh). */
  def pqEncode(nv: DataFrame, cb: Seq[Seq[Array[Double]]],
      dSub: Int): DataFrame = {
    val spark = nv.sparkSession
    import spark.implicits._
    nv.select($"id",
      graft.functions.PqCodesExpr.pqCodesFused($"vh", cb, dSub).as("codes"))
  }

  /** Decode a materialized code column: mSub literal-DATA lookups
    * (element_at on a constant 2-D array is a Literal child — bytes in
    * the plan, not generated code, so it never hits the 64 KB wall). */
  def pqReconFromCodes(cb: Seq[Seq[Array[Double]]])(codes: Column): Column =
    concat(cb.indices.map { m =>
      element_at(typedlit(cb(m).map(_.toSeq)),
        element_at(codes, m + 1) + 1)
    }: _*)

  /** Reconstruction (decode) as ONE projection — the small-codebook
    * path: each subspace's code is computed inline and immediately
    * looks up its literal codebook row, so every argmax chain is
    * referenced exactly once (no repeated evaluation under
    * CollapseProject) and the output is the concatenated centroid
    * array the ADC dot product consumes. */
  def pqRecon(cb: Seq[Seq[Array[Double]]], dSub: Int)(vh: Column): Column =
    concat(cb.indices.map { m =>
      element_at(typedlit(cb(m).map(_.toSeq)),
        pqCellOf(cb(m), slice(vh, m * dSub + 1, dSub)) + 1)
    }: _*)

  /** Fit mSub per-subspace codebooks of kSub centroids each over a
    * unit-normalized corpus `nv` (id, vh: array<double>) — per-subspace
    * k-means, all subspaces trained in ONE distributed pass per Lloyd
    * iteration (assign = the pqCellOf literal chains; update = one slim
    * map-combinable mean keyed (m, cell, pos), mSub·kSub·dSub rows
    * collected driver-side like any estimator state). Callers persist
    * `nv` around the fit (1 + lloydIters actions). Codebooks are NOT
    * renormalized — PQ centroids are raw subvector means. Empty cells
    * keep their previous centroid (the ivfFit convention). Returns
    * fewer than kSub centroids per subspace when the corpus is smaller
    * than kSub. */
  def pqFit(nv: DataFrame, mSub: Int, dSub: Int, kSub: Int,
      lloydIters: Int, seed: Int): Seq[Seq[Array[Double]]] = {
    val spark = nv.sparkSession
    import spark.implicits._
    val seeds = nv.orderBy(xxhash64($"id", lit(seed)), $"id").limit(kSub)
      .select($"vh").collect().map(_.getSeq[Double](0).toArray).toSeq
    if (seeds.isEmpty) return Seq.empty
    var cb: Seq[Seq[Array[Double]]] = (0 until mSub).map { m =>
      seeds.map(_.slice(m * dSub, m * dSub + dSub))
    }
    for (_ <- 0 until lloydIters) {
      // same exchange barrier as ivfFit (the r8 hazard): codes are
      // computed once per row in a projection, never inlined into the
      // Generate where codegen would re-evaluate the whole mSub·kSub
      // chain per exploded element; fused kernel since r17 (one
      // reference-object codebook, no join at any size — parity-pinned)
      val assigned = nv
        .select(graft.functions.PqCodesExpr.pqCodesFused($"vh", cb, dSub)
          .as("codes"), $"vh")
        .repartition(spark.sparkContext.defaultParallelism)
      val means = assigned
        .select(posexplode($"codes").as(Seq("m", "cell")),
          $"vh")
        .select($"m", $"cell",
          posexplode(slice($"vh", $"m" * dSub + 1, lit(dSub)))
            .as(Seq("pos", "x")))
        .groupBy($"m", $"cell", $"pos").agg(avg($"x").as("mean"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = cb.indices.map { m =>
        cb(m).zipWithIndex.map { case (old, c) =>
          // a cell is empty iff no row chose it — pos 0 present means
          // posexplode emitted every pos for that (m, cell)
          if (!means.contains((m, c, 0))) old
          else Array.tabulate(dSub)(p => means((m, c, p)))
        }
      }
    }
    cb
  }

  /** PQ-ADC approximate top-k against ALREADY-FITTED codebooks — split
    * out like ivfTopKWith so q_pq_topk, q_pq_recall, and the replay
    * oracle share one fit. Both frames: (id, vec). Output:
    * (q_id, id, adc, rank ≤ k), adc = dot(q̂, reconstruction(v̂)) ≈
    * cosine(q, v). Plan shape at 100 TB: the corpus is scanned once
    * through the literal encode+decode projection (pure codegen, no
    * shuffle), the query side is broadcast, and the only shuffle is the
    * final tiny per-query top-k window — bruteTopK's shape with the
    * corpus side compressed to codes. */
  def pqTopKWith(cb: Seq[Seq[Array[Double]]], dSub: Int, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def normalized(df: DataFrame, idAs: String, vAs: String) = df
      .select($"id".as(idAs), asDouble($"vec").as("v"))
      .withColumn("nrm", norm($"v"))
      .filter($"nrm" > 0)
      .select(col(idAs), transform($"v", x => x / $"nrm").as(vAs))
    val nvC = normalized(corpus, "id", "vh")
    // one branch since r17: the fused encode + literal-DATA decode is
    // the fastest form at EVERY codebook size (SCALE_r17 §3) and
    // bit-identical to the pqRecon single-projection it replaces
    val r = pqEncode(nvC, cb, dSub)
      .select($"id", pqReconFromCodes(cb)($"codes").as("recon"))
    val q = normalized(queries, "q_id", "qh")
    val w = Window.partitionBy($"q_id").orderBy($"adc".desc, $"id".asc)
    r.join(broadcast(q), $"id" =!= $"q_id")
      .select($"q_id", $"id", dotProduct($"qh", $"recon").as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }

  // ---------------------------------------------------------------------
  // IVF-PQ — the composed billion-vector layout (FAISS's IndexIVFPQ
  // shape): a coarse quantizer prunes the SCAN to nProbe cells while
  // PQ codes of the RESIDUAL (vector − its coarse centroid) compress
  // what remains. Residual coding is what makes the composition better
  // than either tier alone: residuals concentrate near the origin, so
  // the same code budget quantizes them with far less error than raw
  // vectors. ADC score = one in-order dot of the query against
  // coarse(cell) + decode(codes) — the same pinned DotProduct fold as
  // every other tier, so the replay oracle (which embeds both the
  // coarse centroids and the residual codebooks as literals) reproduces
  // every double bit-for-bit.

  /** Coarse cell + residual for each unit-normalized vector — the frame
    * IVF-PQ's codebooks are trained on and its codes reconstruct
    * against. Assignment is argmax dot(vh, c) with ties toward the
    * larger cell (the assignCell convention). `nv` must expose
    * (id, vh); output (id, cell, rv). Assignment is the
    * r18 fused kernel (ivfProbes element 1 ≡ assignCell's argmax,
    * parity-pinned in AnnSpec) — one loop nest per row at any nCells,
    * replacing the literal-chain/broadcast-join dispatch. */
  def ivfPqResiduals(nv: DataFrame, coarse: Seq[Array[Double]]): DataFrame = {
    val spark = nv.sparkSession
    import spark.implicits._
    val coarseLit = typedlit(coarse.map(_.toSeq))
    nv.select($"id", $"vh",
        element_at(ivfProbes(coarse, 1)($"vh"), 1).as("cell"))
      .select($"id", $"cell",
        zip_with($"vh", element_at(coarseLit, $"cell" + 1),
          (a, b) => a - b).as("rv"))
  }

  /** Encode + reconstruct (id, cell, rv) → (id, cell, recon = coarse(cell)
    * + decode(codes)), carrying `cell` through so the coarse centroid can
    * be re-added without a second derivation of the residual lineage (the
    * r13 shared-frame lesson: a rejoin on id would re-run assign+residual
    * for both sides of the join). Fused encode kernel at every size
    * since r17 (parity-pinned); the joined arm is the pqCodesJoined plan
    * with `cell` riding the groupBy key (id is unique, so the extra key
    * only keeps cell in scope): same score expression, same max-struct
    * tie-break (→ larger pcell). `forceJoined` exists so AnnSpec can pin
    * joined ≡ fused. */
  private[operators] def ivfPqReconFrame(res: DataFrame,
      coarse: Seq[Array[Double]], cb: Seq[Seq[Array[Double]]], dSub: Int,
      forceJoined: Boolean = false): DataFrame = {
    val spark = res.sparkSession
    import spark.implicits._
    val coarseLit = typedlit(coarse.map(_.toSeq))
    if (!forceJoined)
      res.select($"id", $"cell",
        zip_with(element_at(coarseLit, $"cell" + 1),
          pqReconFromCodes(cb)(
            graft.functions.PqCodesExpr.pqCodesFused($"rv", cb, dSub)),
          (a, b) => a + b).as("recon"))
    else {
      val cents = cb.indices.flatMap { m =>
        cb(m).zipWithIndex.map { case (c, i) =>
          (m, i, c.toSeq, 0.5 * c.foldLeft(0.0)((a, x) => a + x * x))
        }
      }.toDF("m", "pcell", "cv", "halfcc")
      res.withColumn("m", explode(typedlit(cb.indices.toArray)))
        .join(broadcast(cents), "m")
        .select($"id", $"cell", $"m", $"pcell",
          (dotProduct(slice($"rv", $"m" * dSub + 1, lit(dSub)), $"cv") -
            $"halfcc").as("s"))
        .groupBy($"id", $"cell")
        .agg(array(cb.indices.map { m =>
          max(when($"m" === m, struct($"s", $"pcell"))).getField("pcell")
        }: _*).as("codes"))
        .select($"id", $"cell",
          zip_with(element_at(coarseLit, $"cell" + 1),
            pqReconFromCodes(cb)($"codes"), (a, b) => a + b).as("recon"))
    }
  }

  /** IVF-PQ approximate top-k against ALREADY-FITTED state (coarse
    * centroids + residual codebooks) — split out like ivfTopKWith /
    * pqTopKWith so q_ivfpq_topk, q_ivfpq_recall, and the replay oracle
    * share one fit of each stage. Both frames: (id, vec). Output:
    * (q_id, id, adc, rank ≤ k), adc = dot(q̂, coarse(cell) + decode) ≈
    * cosine(q, v).
    *
    * Plan shape at 100 TB: the corpus is scanned ONCE through assign →
    * residual → encode (all codegen projections, or one broadcast
    * equi-join past the literal bounds — never a shuffle of the
    * vectors); the stored state per row is (cell: int, codes: 8 bytes)
    * vs the 256-byte raw vector; the query side is a broadcast of
    * nQueries × nProbe probe rows; the cell equi-join prunes the scan
    * to nProbe/nCells of the corpus BEFORE the ADC dot runs; the only
    * shuffle is the final tiny per-query top-k window. This is the
    * layout a 10⁹-vector search actually deploys — IVF alone still
    * reads raw vectors, PQ alone still scans every row. */
  def ivfPqTopKWith(coarse: Seq[Array[Double]], cb: Seq[Seq[Array[Double]]],
      dSub: Int, corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    if (coarse.isEmpty || cb.isEmpty || cb.exists(_.isEmpty))
      return queries.select($"id".as("q_id"), $"id".as("id"),
        lit(0.0).as("adc"), lit(0).as("rank")).limit(0)
    def normalized(df: DataFrame, idAs: String, vAs: String) = df
      .select($"id".as(idAs), asDouble($"vec").as("v"))
      .withColumn("nrm", norm($"v"))
      .filter($"nrm" > 0)
      .select(col(idAs), transform($"v", x => x / $"nrm").as(vAs))
    val res = ivfPqResiduals(normalized(corpus, "id", "vh"), coarse)
    val recon = ivfPqReconFrame(res, coarse, cb, dSub)
    // query probes: top-nProbe cells by centroid dot — the same fused
    // kernel as the corpus side (≡ the sorted-struct-slice form: s desc,
    // cell desc; parity-pinned in AnnSpec)
    val q = normalized(queries, "q_id", "qh")
    val probes = q.select($"q_id", $"qh",
      explode(ivfProbes(coarse, nProbe)($"qh")).as("cell"))
    val w = Window.partitionBy($"q_id").orderBy($"adc".desc, $"id".asc)
    recon.join(broadcast(probes), Seq("cell"))
      .filter($"id" =!= $"q_id")
      .select($"q_id", $"id", dotProduct($"qh", $"recon").as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
  }
}
