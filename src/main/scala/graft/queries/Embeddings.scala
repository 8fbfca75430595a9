package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.BoundedSort._
import graft.sources.Tables

/** Embedding similarity-search queries: brute-force cosine top-k (exact
  * baseline) and cosine near-duplicate pairs blocked by label. The
  * LSH-bucketed approximate variants (the 100 TB scale path) live in
  * graft.operators.Ann and are covered by rows-only checks + unit tests.
  *
  * Float math parity with the DuckDB oracle: elements are cast to double
  * and the dot product is a strict left-fold in element order (Spark
  * `aggregate` starting at 0.0 ≡ DuckDB `list_reduce` over the same list),
  * so both engines execute the identical IEEE addition sequence and the
  * raw double scores are bit-equal — no rounding needed (or wanted:
  * round() would reintroduce HALF_UP vs HALF_EVEN tie divergence).
  */
object Embeddings {

  /** elementwise cast to double. */
  /** Native codegen array cast (r16) — the previous `transform` HOF was
    * interpreted with per-element boxing and got duplicated into every
    * consumer of the projected column by CollapseProject (see
    * Ann.asDouble). Identical values: elementwise float→double widening
    * is exact. */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Strict in-order left-fold dot product of two double arrays — a
    * codegen'd native expression (graft.functions.DotProduct). Same fold
    * order as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, ~100× cheaper:
    * no per-element lambda interpretation or boxing. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force exact cosine top-k: a small query set (vec_id < nQueries)
    * against the full corpus. The query side is broadcast — at cluster
    * scale this is one pass over the corpus, no shuffle until the final
    * per-query top-k (tiny). */
  def cosineTopK(s: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"v".as("q_v"), $"nrm".as("q_nrm"))
    val pairs = e.repartition(s.sparkContext.defaultParallelism)
      .join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (dot($"q_v", $"v") / ($"q_nrm" * $"nrm")).as("cosine"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .orderBy($"q_id", $"rank")
  }

  /** Embedding-cosine near-duplicate pairs, blocked by label (the cluster
    * id acts as the blocking key; at scale the blocker is an LSH bucket —
    * graft.operators.Ann.signLsh).
    *
    * Salted shuffle join on (label, salt) via operators.SkewJoin: `label`
    * alone has ~10 distinct values, so an unsalted equi-join serializes
    * each block into one task, and broadcasting the build side (the
    * round-3 form) ships the whole embeddings table to every executor —
    * impossible at 100 TB. */
  def cosineNearDup(s: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import s.implicits._
    val pairs =
      if (threshold >= BaseCosineThreshold)
        // any threshold ≥ the base is a pure filter over the shared
        // materialized pair frame — exact because the cached `cosine`
        // doubles are the very values the direct plan would compare
        exactNearDupPairs(s, dir).filter($"cosine" >= threshold)
      else cosineNearDupPairsOn(s, dir, threshold)
    pairs.orderBy($"a_id", $"b_id")
  }

  /** Base threshold of the shared materialized exact pair frame — the
    * loosest any consumer (q_cosine_neardup, lshRecall) asks for. */
  val BaseCosineThreshold = 0.35

  /** Table count of the shared sign-LSH banding frame — the widest any
    * consumer asks for (lshRecall's pinned-recall gate). */
  val SharedLshTables = 48

  /** Table count of the PRODUCTION near-dup tier (q_lsh_neardup) — one
    * named constant for the `min_table < ProductionLshTables` slice of
    * the shared frame AND its independent fallback call, which must stay
    * in sync with each other and with the AnnSpec prefix pin (ADVICE
    * r17 #3). */
  val ProductionLshTables = 32

  /** The corpus frame both sign-LSH consumers bucket — ONE construction
    * so the DupProbe memo and the shared banding frame key identically. */
  private def lshCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Session-materialized sign-LSH banding candidates at the widest
    * consumer's table count, tagged with `min_table` (r17, the
    * minhashCandidates discipline applied to the vector tier): ONE
    * 48-table banding + verify pass serves both q_lsh_neardup (pairs
    * colliding in tables 0–31 — `min_table < 32`, bit-identical to an
    * independent 32-table run because hyperplanes depend only on
    * (table, bit, seed); AnnSpec pins it) and q_lsh_recall (all 48).
    * Consumers fall back to their own independent Ann call whenever the
    * 48-table gate estimate would refuse — so each query's feasible
    * region and gate message are EXACTLY its historical ones, and the
    * shared pass exists only where it is safe. */
  private[graft] def lshBandedCandidates(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, ("lshBandedCandidates", dir))(
      graft.Caches.pin(graft.operators.Ann.lshNearDupPairsTagged(
        lshCorpus(s, dir), BaseCosineThreshold,
        nTables = SharedLshTables, nBits = 4)))

  /** Session-scoped materialized intermediate: the exact label-blocked
    * cosine pair frame at the base threshold, persisted on first use.
    * Both q_cosine_neardup and the lshRecall gate consume it, and the
    * salted all-pairs join that produces it dominates their cost —
    * recomputing it per query was 10 of q_lsh_recall's 21 s (ADVICE r6).
    * The frame is tiny (one row per near-dup pair), so MEMORY_AND_DISK
    * holds it at any scale where the pair join itself is feasible — the
    * same shared-CTE pattern as TextAnalysis.scoredNearDupPairs. */
  def exactNearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, ("exactNearDupPairs", dir))(
      graft.Caches.pin(cosineNearDupPairsOn(s, dir, BaseCosineThreshold)))

  /** The direct (uncached) exact pair plan; see cosineNearDup. Adaptive
    * exact-twin collapse (r11): on a duplicated corpus the label blocks
    * multiply by the dup factor and the salted block self-join by its
    * square — the 30× decade measured the q_lsh_recall exact side past
    * its cap on exactly this. Identical (label, vector) rows form one
    * class; the block join runs on representatives and classes expand
    * back join-wise. Rows are EXACTLY the direct form's: cross pairs
    * share the reps' vectors (identical IEEE expression), twin pairs get
    * dot(v,v)/(nrm·nrm) — what the direct plan computes for an identical
    * pair (a zero vector is an ANSI divide-by-zero error in both plans
    * alike). Dup-light corpora keep the direct plan. */
  private def cosineNearDupPairsOn(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import s.implicits._
    cosineNearDupPairsFrom(s,
      Tables.embeddings(s, dir).select($"vec_id", $"label", $"embedding"),
      threshold)
  }

  /** The same exact pair plan over an arbitrary (vec_id, label,
    * embedding) frame — split out (r16) so the sampled-gate production
    * posture can build the exact side from a SAMPLED corpus directly
    * (the lshRecall scaladoc's "at scale" form) instead of filtering
    * the full pair frame; SCALE_r16.md §5 measures it. */
  private[graft] def cosineNearDupPairsFrom(s: SparkSession,
      raw: DataFrame, threshold: Double): DataFrame = {
    import s.implicits._
    // probe memoized per session (operators.DupProbe, r12)
    val dupFactor =
      graft.operators.DupProbe.dupFactor(raw, $"label", $"embedding")

    def pairsOf(src: DataFrame): DataFrame = {
      val e = src.select($"vec_id", $"label", asDouble($"embedding").as("v"))
        .withColumn("nrm", norm($"v"))
      val a = e.repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id".as("a_id"), $"label",
          $"v".as("a_v"), $"nrm".as("a_nrm"))
      val b = e.select($"vec_id".as("b_id"), $"label".as("b_label"),
        $"v".as("b_v"), $"nrm".as("b_nrm"))
      graft.operators.SkewJoin.salted(a, b,
          $"label" === $"b_label" && $"a_id" < $"b_id",
          saltOn = $"a_id", salts = Extended.PAIR_SALTS)
        .select($"a_id", $"b_id", $"label",
          (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"))
        .filter($"cosine" >= threshold)
    }

    if (dupFactor < graft.operators.DupProbe.CollapseDupFactor) pairsOf(raw)
    else {
      // hash-prefixed twin key (the r14 lshTopKCollapsed discipline):
      // the 8-byte xxhash64 leads the sort key so shuffle-sort compares
      // longs and falls through to the exact array compare only on true
      // twins; exactness is unconditional — the payload stays in the key
      val wTwin = Window.partitionBy($"__vh", $"label", $"embedding")
      val keyed = raw
        .withColumn("__vh", xxhash64($"label", $"embedding"))
        .withColumn("rep", min($"vec_id").over(wTwin))
        .withColumn("csize", count(lit(1)).over(wTwin))
      val memb = keyed.select($"rep", $"vec_id")
      val reps = keyed.filter($"vec_id" === $"rep")
      val repPairs = pairsOf(
        reps.select($"vec_id", $"label", $"embedding"))
      val cross = repPairs
        .join(memb.select($"rep".as("a_id"), $"vec_id".as("x")), "a_id")
        .join(memb.select($"rep".as("b_id"), $"vec_id".as("y")), "b_id")
        .select(least($"x", $"y").as("a_id"),
          greatest($"x", $"y").as("b_id"), $"label", $"cosine")
      val intra = reps.filter($"csize" >= 2)
        .select($"rep", $"label", asDouble($"embedding").as("v"))
        .withColumn("nrm", norm($"v"))
        .select($"rep", $"label",
          (dot($"v", $"v") / ($"nrm" * $"nrm")).as("cosine"))
        .filter($"cosine" >= threshold)
        .join(memb.select($"rep", $"vec_id".as("x")), "rep")
        .join(memb.select($"rep", $"vec_id".as("y")), "rep")
        .filter($"x" < $"y")
        .select($"x".as("a_id"), $"y".as("b_id"), $"label", $"cosine")
      cross.unionByName(intra)
    }
  }

  /** Label-free near-dup pairs via sign-LSH blocking
    * (operators.Ann.lshNearDupPairs) — the scale path next to the
    * label-blocked cosineNearDup: no blocking column needed, recall
    * calibrated by (nBits, nTables); spec-gated against the exact join
    * in AnnSpec and against the real corpus in NearDupCrossGateSpec.
    *
    * Calibration history at this query's loose threshold (0.35 ≈ 69°,
    * per-hyperplane collision p ≈ 0.614 for a borderline pair):
    * 4 bits × 24 tables missed 3/26 borderline pairs on the sf0.01
    * corpus (recall 0.885); 4 bits × 32 tables recalls all 26. A
    * 5-bit retune was MEASURED and rejected: 5×32 drops recall back to
    * 0.885 (the real borderline pairs sit harder on the boundary than
    * the S-curve midpoint suggests), and 5×40 — recall-green, and ~0.6×
    * the expected random-pair collisions — ran 9.3 s vs 7.9 s at sf0.1:
    * at this corpus size the extra 72 signature dot-products/row cost
    * more than the candidate savings. At production corpus sizes the
    * candidate term (Σ bucket², quadratic in rows-per-bucket) dominates
    * the linear signature term and the rebalance flips — retune nBits
    * upward with log₂(corpus), as the operator scaladoc prescribes. */
  def cosineNearDupLsh(s: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import s.implicits._
    val e = lshCorpus(s, dir)
    // r17: serve from the shared 48-table tagged frame when (a) this is
    // the registry's threshold (the frame's terminal filter) and (b) the
    // 48-table gate estimate passes — `min_table < 32` is EXACTLY the
    // independent 32-table pair set (hyperplanes depend only on
    // (table, bit, seed); AnnSpec pins the equality) with the identical
    // IEEE cosine. Otherwise: the historical independent call, so the
    // feasible region and gate message are unchanged.
    val pairs =
      if (threshold == BaseCosineThreshold &&
          graft.operators.Ann.lshNearDupFeasible(e, threshold,
            SharedLshTables, nBits = 4))
        lshBandedCandidates(s, dir)
          .filter($"min_table" < ProductionLshTables)
          .select($"a_id", $"b_id", $"cosine")
      else graft.operators.Ann
        .lshNearDupPairs(e, threshold, nTables = ProductionLshTables,
          nBits = 4)
    pairs.orderBy($"a_id", $"b_id")
  }

  /** Driver-visible recall gate for the sign-LSH embedding tier — the
    * q_neardup_recall construction applied to vectors: every exact
    * label-blocked near-dup pair (cosineNearDup, whose DuckDB oracle is
    * already proven) left-joined against the label-FREE LSH pair set,
    * with found pinned to 1 in the oracle. The LSH tier sees no labels,
    * so covering the label-blocked pairs is a strict subset claim of its
    * measured full recall (NearDupCrossGateSpec) — a single lost pair
    * breaks the driver's hash compare.
    *
    * nTables = 48 here (not the production query's 32): a PINNED gate
    * needs measured recall exactly 1.0, and at 32 tables two boundary
    * pairs (cosine 0.356 / 0.369, per-table collision ≈ 0.144) were
    * missed. 48 tables puts the residual miss odds at ~6e-4 per
    * boundary pair and is measured clean on this corpus; the production
    * q_lsh_neardup keeps 32 with its ≥0.9 spec gate.
    *
    * Cost shape: the exact side is the session-materialized
    * exactNearDupPairs frame — a tiny cached lookup when
    * q_cosine_neardup already ran, ONE salted join per session
    * otherwise (it was recomputed from scratch here, r6's single
    * biggest bench line at 21 s).
    *
    * `sampleFraction` bounds the gate at production scale, where even
    * one full exact-pair pass per round is a scale-killer: fraction f
    * keeps vectors whose seeded id-hash falls below f (deterministic —
    * both pair endpoints must survive, matching the pairs a sampled
    * corpus would produce), so the gate checks recall on ~f² of the
    * exact pairs while the approx side still runs the full corpus. A
    * tier whose true recall regressed to r still trips the gate with
    * probability 1 − r^(f²·N) — at N near-dup pairs per corpus even
    * f = 0.1 catches a 10 % recall drop with ≥ 99 % odds once
    * f²·N ≳ 460 (binomial, same math as the 48-table comment above).
    * Full fraction (the sf0.1 driver gate) is bit-identical to the
    * unsampled query; at scale, build the exact side from the sampled
    * corpus directly instead of filtering the full frame. */
  def lshRecall(s: SparkSession, dir: String,
      sampleFraction: Double = 1.0, nTables: Int = 48): DataFrame = {
    import s.implicits._
    val exactAll = exactNearDupPairs(s, dir)
    def keep(id: Column): Column =
      pmod(xxhash64(id, lit(48)), lit(1000000L)) <
        lit((sampleFraction * 1e6).toLong)
    val exact = if (sampleFraction >= 1.0) exactAll
      else exactAll.filter(keep($"a_id") && keep($"b_id"))
    val e = lshCorpus(s, dir)
    // r17: the shared 48-table tagged frame IS this query's approx side
    // (same tables, same terminal threshold filter); fall back to the
    // historical independent call off the registry parameters or when
    // the 48-table gate estimate would refuse (identical gate message).
    val approxPairs =
      if (nTables == SharedLshTables &&
          graft.operators.Ann.lshNearDupFeasible(e, BaseCosineThreshold,
            SharedLshTables, nBits = 4))
        lshBandedCandidates(s, dir)
      else graft.operators.Ann
        .lshNearDupPairs(e, threshold = 0.35, nTables = nTables)
    val approx = approxPairs
      .select($"a_id", $"b_id", lit(1L).as("__hit"))
    exact.join(approx, Seq("a_id", "b_id"), "left_outer")
      .select($"a_id", $"b_id", $"label", $"cosine",
        coalesce($"__hit", lit(0L)).as("found"))
      .orderBy($"a_id", $"b_id")
  }

  /** Per-label embedding statistics with integer-exact vector reductions —
    * elementwise ops (filter/transform) folded to integers so the
    * cross-engine oracle is bit-exact despite float inputs: counts are
    * integers, and the quantized sum multiplies by 16 (a power of two —
    * EXACT on binary floats) then floors to a long, so no
    * order-of-addition float drift can exist in either engine. The
    * float-summing twin (centroids) is spec-checked instead. */
  def embedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", asDouble($"embedding").as("v"))
      .select($"label", size($"v").as("dims"),
        size(filter($"v", x => x > 0.0)).as("n_pos"),
        aggregate(transform($"v", x => floor(x * lit(16.0)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("q_sum"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum($"dims").as("total_dims"),
        sum($"n_pos").as("sum_pos"),
        sum($"q_sum").as("sum_q16"))
      .boundedSort($"label")
  }

  /** Per-label centroids: posexplode → groupBy (label, dim) mean. The
    * aggregation state is one row per (label, dimension) — at 100 TB this
    * shuffles ~|labels|×dims rows after map-side partial aggregation,
    * never a whole vector row; the alternative (collect vectors per label
    * and average on one task) dies on the first hot label. Output is one
    * ROW per (label, dim) — scalar columns only, so the driver's pandas
    * comparer can sort/hash it (an assembled array<double> cell crashes
    * it); callers wanting the vector shape re-assemble with
    * collect_list over dim order.
    *
    * The mean accumulates EXACTLY, in fixed point (r14, flipping this
    * from rows-only to hash-checked): each float32 component scaled by
    * 2^63 is an integer (float32 values with exponent ≥ −40 are integer
    * multiples of 2^−63; the ×2^63 double multiply is an exact exponent
    * shift, and a per-row guard raises loudly if a sub-2^−63-granular
    * value ever appears), summed as DECIMAL(38,0) — integer addition is
    * order-independent, so the result is bit-identical across
    * partitionings, AQE re-plans, and engines, where `avg(double)`'s
    * last ulp changes with the reduction tree. One rounding happens at
    * the end (exact sum → double → ÷n ÷2^63, each deterministic IEEE),
    * so the emitted mean is also ≤1 ulp from the infinitely-precise
    * value — tighter than the float avg it replaces. At 100 TB the
    * decimal partial-aggregates exactly like the double did; headroom is
    * ~10^18 per element vs DECIMAL(38)'s 10^38 range. */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scale = lit(9223372036854775808.0) // 2^63, exact as a double
    Tables.embeddings(s, dir)
      .select($"label", posexplode(asDouble($"embedding")).as(Seq("dim", "x")))
      // double → LONG → decimal: the long cast truncates the EXACT double
      // value (integral by the guard, in-range since |x| < 1 ⇒ |x·2^63| <
      // 2^63; an out-of-range component overflows the ANSI cast loudly).
      // A direct double → decimal cast is LOSSY here: Spark routes it
      // through Double.toString's shortest round-trip form (~17 sig
      // digits), which drops the low digits of these 19-digit integers —
      // measured as a 44-unit sum drift at sf0.01.
      .withColumn("xs",
        when(($"x" * scale) % 1.0 === 0.0,
          ($"x" * scale).cast("long").cast("decimal(38,0)"))
          .otherwise(raise_error(concat(
            lit("centroids: component not 2^-63-granular: "),
            $"x".cast("string")))
            .cast("decimal(38,0)")))
      .groupBy($"label", $"dim")
      .agg((sum($"xs").cast("double") / count(lit(1)) / scale).as("m"),
        count(lit(1)).as("n_vecs"))
      .boundedSort($"label", $"dim")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, search for near-duplicate pairs ONLY within each
    * cluster, and keep one representative per duplicate group. The
    * cluster pass is what makes embedding dedup tractable without labels
    * or LSH tuning: the pair join is blocked on the learned `cell`, so
    * its cost is Σ cell², never corpus² — at production scale nCells
    * grows with the corpus (SemDeDup used 50k clusters for LAION) to
    * hold cells at the pair-join budget, and the corpus partitions by
    * cell with each cell processed independently.
    *
    * Composition of already-gated operators: the IVF coarse-quantizer
    * fit (Ann.ivfFit — centroids are plan literals, assignment is a
    * codegen dot chain), the salted within-block exact-cosine pair join
    * (cosineNearDup's shape with the learned cell as the block key), and
    * min-id representative election via connected components
    * (Graph.connectedComponents — a duplicate GROUP is the transitive
    * closure of pairwise hits, exactly like the MinHash cluster path).
    *
    * SemDeDup's inherent miss mode — a pair whose endpoints straddle a
    * cluster boundary is invisible — is mitigated the IVF multi-probe
    * way: each vector joins under its `nAssign` nearest cells, so a pair
    * is found when ANY cell is shared. Measured on this corpus's loose
    * 0.35 threshold (the worst case for clustering — barely-similar
    * pairs), by a driver-side recompute over the deterministic fit (r8,
    * the shape SemanticDedupSpec still runs):
    * single-assign recall ≈ 0.34-0.38 across (nCells, lloydIters) ∈
    * {8,16}×{1,3,8}; top-2 at (8, 3) 0.73-0.79 for a 4× candidate
    * factor; top-3 at (8, 3) 0.954/0.963/0.957 at sf0.1/0.01/0.001 for
    * a 9× factor — and measured MORE stable across SFs than ε-re-probe
    * variants of equal budget (ε targets the boundary but inherits the
    * fit's per-SF noise: eps=0.2 swings 0.76→0.94 across SFs where
    * top-3 stays ≥0.95). The spec pins the measured floor at 0.90.
    * The candidate factor is relative to single-assign Σ cell²: the
    * scale law (grow nCells with the corpus, partition by cell) is
    * unchanged, the constant is 9/4× the r7 shipping config — spent
    * deliberately for the recall demanded by VERDICT r7 #4. The
    * label-free full answer at the same threshold is cosineNearDupLsh.
    * Centroids are learned Spark-side state, so this is a rows-only
    * driver query; the full decision path is recomputed driver-side in
    * the spec. */
  /** The session-memoized SemDeDup quantizer state for the default
    * query shape (nCells derived, 3 Lloyd passes, seed 42), computable
    * standalone (Verify's oracle prepare may run before the query
    * does). Valve-aware (r13,
    * VERDICT r11 #8): on a dup-heavy corpus the quantizer fits WEIGHTED
    * on exact-twin class reps (Σ w·v / Σ w sees the same mass at
    * distinct-vector cost) and nCells follows the scale law on DISTINCT
    * vectors — SemDeDup's linear-by-cell-count constant stops scaling
    * with the duplication factor. The oracle stays sound whichever
    * branch fit: it embeds THESE centroids and replays downstream. */
  def semCentroidsFor(s: SparkSession, dir: String): Seq[Array[Double]] =
    graft.Caches.memo(s, ("semCentroids", dir)) {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      if (graft.operators.DupProbe.shouldCollapse(e, $"embedding")) {
        // hash-prefixed twin key (the r14 lshTopKCollapsed discipline)
        val wTwin = Window.partitionBy($"__vh", $"embedding")
        val reps = e
          .withColumn("__vh", xxhash64($"embedding"))
          .withColumn("rep", min($"vec_id").over(wTwin))
          .withColumn("w", count(lit(1)).over(wTwin))
          .filter($"vec_id" === $"rep")
          .select($"vec_id".as("id"), asDouble($"embedding").as("v"), $"w")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cells = math.max(8, (reps.count() / 250L).toInt)
          graft.operators.Ann.ivfFitWeighted(reps, cells, lloydIters = 3,
            seed = 42)
        } finally reps.unpersist(blocking = false)
      } else {
        val cv = e.select($"vec_id".as("id"), asDouble($"embedding").as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cells = math.max(8, (cv.count() / 250L).toInt)
          graft.operators.Ann.ivfFit(cv, cells, lloydIters = 3, seed = 42)
        } finally cv.unpersist(blocking = false)
      }
    }

  /** The q_semantic_dedup replay oracle from the memoized fit (None,
    * rows-only, for an empty fit): DuckDB independently recomputes the
    * argmax cell assignment and the top-3 probe list from the embedded
    * centroid literals, the cosine-thresholded candidate pairs over
    * shared probe cells, the connected components via a recursive
    * min-label reachability CTE (edges are symmetric, so min reachable
    * id ≡ the group minimum Graph.connectedComponents converges to),
    * and the min-id keep election. */
  def prepareSemDedupOracle(s: SparkSession, dir: String): Option[String] = {
    val cs = semCentroidsFor(s, dir)
    if (cs.isEmpty) None else Some(buildSemDedupOracleSql(cs))
  }

  private[graft] def buildSemDedupOracleSql(
      centroids: Seq[Array[Double]]): String = {
    // strict in-order left-fold dots (the DotProduct numeric contract;
    // centroid doubles embed via round-trip Double.toString)
    def cdot(c: Array[Double]): String = {
      // sqlDouble: exponent-form literals lex as DOUBLE (bare decimals
      // parse as DECIMAL and can round to an inferred common scale)
      val lit = c.map(graft.SparkEntry.sqlDouble).mkString("[", ",", "]")
      s"list_reduce(list_transform(generate_series(1, ${c.length}), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * ($lit)[i]), (x, y) -> x + y)"
    }
    def pairDot(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, len($a.embedding)), " +
        s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)), " +
        s"(x, y) -> x + y)"
    val scoredArms = centroids.zipWithIndex.map { case (c, i) =>
      s"SELECT vec_id, $i AS cell, ${cdot(c)} AS s FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE scored AS (
       |  $scoredArms
       |), cellranks AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |  FROM scored
       |), assigned AS (
       |  SELECT vec_id, cell FROM cellranks WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id, cell FROM cellranks WHERE rn <= 3
       |), e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${pairDot("embeddings", "embeddings")}) AS nrm
       |  FROM embeddings
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM probes a JOIN probes b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |), pairs AS (
       |  SELECT cand.a_id, cand.b_id
       |  FROM cand JOIN e a ON a.vec_id = cand.a_id
       |            JOIN e b ON b.vec_id = cand.b_id
       |  WHERE ${pairDot("a", "b")} / (a.nrm * b.nrm) >= 0.35
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs
       |), reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT ed.dst, r.comp FROM reach r JOIN edges ed ON ed.src = r.id
       |), comp AS (
       |  SELECT id, min(comp) AS component FROM reach GROUP BY id
       |)
       |SELECT a.vec_id, a.cell,
       |  CAST(CASE WHEN c.component IS NULL OR c.component = a.vec_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM assigned a LEFT JOIN comp c ON c.id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  def semanticDedup(s: SparkSession, dir: String, threshold: Double = 0.35,
      nCells: Int = 0, lloydIters: Int = 3, nAssign: Int = 3,
      seed: Int = 42): DataFrame = {
    import s.implicits._
    // The DEFAULT query shape fits through the session memo so the
    // registered query, its bench reruns, and the replay oracle all use
    // ONE fitted quantizer (the Lloyd mean's ulps need not reproduce
    // across fits, so the oracle must embed exactly the centroids the
    // query ran with), and runs behind the family's twin-collapse valve
    // (r13, VERDICT r11 #8 — the combined 30× pass measured the direct
    // form at 257 s / 37×, 37% of the whole suite). Explicit parameters
    // (the spec's synthetic corpora) fit inline and search direct.
    val defaultShape = nCells <= 0 && lloydIters == 3 && seed == 42
    if (defaultShape) {
      val centroids = semCentroidsFor(s, dir)
      val e = Tables.embeddings(s, dir)
      if (centroids.isEmpty)
        return e.select($"vec_id", lit(0).as("cell"),
          lit(1L).as("kept")).limit(0)
      if (graft.operators.DupProbe.shouldCollapse(e, $"embedding"))
        semanticDedupCollapsedWith(centroids, s, dir, threshold, nAssign)
      else
        semanticDedupDirectWith(centroids, s, dir, threshold, nAssign)
    } else {
      // nCells ≤ 0 → derive from the corpus: ~250 vectors per cell, min
      // 8 — the SemDeDup scale law APPLIED (the r8 10× experiment
      // measured the hardcoded-8 version timing out; with cells ∝
      // corpus the per-cell pair cost stays constant).
      val cv = Tables.embeddings(s, dir)
        .select($"vec_id".as("id"), asDouble($"embedding").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val centroids = try {
        val cells = if (nCells > 0) nCells
          else math.max(8, (cv.count() / 250L).toInt)
        graft.operators.Ann.ivfFit(cv, cells, lloydIters, seed)
      } finally cv.unpersist(blocking = false)
      if (centroids.isEmpty)
        return Tables.embeddings(s, dir).select($"vec_id",
          lit(0).as("cell"), lit(1L).as("kept")).limit(0)
      semanticDedupDirectWith(centroids, s, dir, threshold, nAssign)
    }
  }

  /** The direct (per-vector) SemDeDup search given fitted centroids —
    * the r11-and-earlier shape, optimal when exact twins are rare. */
  private[graft] def semanticDedupDirectWith(centroids: Seq[Array[Double]],
      s: SparkSession, dir: String, threshold: Double,
      nAssign: Int): DataFrame = {
    import s.implicits._
    val Ann = graft.operators.Ann
    val cv = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), asDouble($"embedding").as("v"))
    // Persisted + eagerly materialized: the frame has THREE consumers
    // (both sides of the salted candidate join and the final select),
    // and the per-row score machinery (2× cells dot-product arrays +
    // a sort) must evaluate once per row, never inlined into the
    // explode below or re-derived per consumer — the same
    // generate-inlining hazard ivfFit's Lloyd pass guards against.
    // r18: ONE fused kernel (Ann.ivfProbes) replaces both prior dispatch
    // arms — probe_cells is the kernel's array, cell its first element
    // (≡ assignCell's argmax; parity with the literal chain AND the
    // broadcast-join form pinned in AnnSpec). The kernel is referenced
    // twice (cell + probe_cells), which keeps CollapseProject from
    // inlining the non-cheap expression into consumers.
    val assigned = cv
      .select($"id", $"v", norm($"v").as("nrm"),
        Ann.ivfProbes(centroids, nAssign)($"v").as("probe_cells"))
      .withColumn("cell", element_at($"probe_cells", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    // candidate pairs: share ≥1 probe cell, exact cosine evaluated
    // INLINE in the salted probe-cell join (r18 — the q_similarity_join
    // lesson applied here): the old candidates-then-verify form deduped
    // 2.3e8 slim candidate pairs through a distinct() and re-attached
    // the vectors through two more joins — three candidate-scale
    // exchanges, 26.5 GB of shuffle at the sfp100 decade. Carrying
    // (v, nrm) INTO the join bounds shuffle by the exploded-probe frame
    // (600k rows × a 64-double payload, salts× on the build side), the
    // cosine predicate is pushed into the join condition and evaluated
    // once per candidate (a single DotProduct tree — nothing re-walks),
    // and only threshold survivors reach the dedup aggregate. first()
    // is exact: a pair surviving via 2-3 shared probe cells carries the
    // identical cosine double each time (same expression, same rows),
    // so the survivor pair SET — all the component step consumes — is
    // the old one bit-for-bit.
    val ex = assigned.select($"id", $"v", $"nrm",
      explode($"probe_cells").as("pc"))
    val pairs = graft.operators.SkewJoin.salted(
        ex.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_nrm"),
          $"pc"),
        ex.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_nrm"),
          $"pc".as("b_pc")),
        $"pc" === $"b_pc" && $"a_id" < $"b_id",
        saltOn = $"a_id", salts = Extended.PAIR_SALTS)
      .filter(dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm") >= threshold)
      .select($"a_id", $"b_id",
        (dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm")).as("cosine"))
      .groupBy($"a_id", $"b_id").agg(first($"cosine").as("cosine"))
    // connectedComponents materializes its rounds eagerly (checkpointed
    // lineage), so the pair join runs against the cached assigned here…
    val comps = graft.operators.Graph.connectedComponents(pairs)
    // …and the single remaining downstream scan recomputes once from
    // source (same discipline as the cv release — don't pin executor
    // memory past the operator's lifetime).
    assigned.unpersist(blocking = false)
    assigned.select($"id", $"cell")
      .join(comps.select($"id", $"component"), Seq("id"), "left_outer")
      .select($"id".as("vec_id"), $"cell",
        // component labels converge to the group minimum: the min-id
        // member is the elected representative; unpaired vectors survive
        when($"component".isNull || $"component" === $"id", 1L)
          .otherwise(0L).as("kept"))
      .orderBy($"vec_id")
  }

  /** The twin-collapsed SemDeDup search given fitted centroids (r13):
    * assignment, the probe list, the candidate join, the exact cosines,
    * and connected components all run once per DISTINCT vector; classes
    * then expand join-wise to members. Produces EXACTLY the direct
    * form's rows for the same centroids:
    *  - twins share the rep's vector bit-for-bit, so cell / probe_cells
    *    / every pair cosine are the identical IEEE expressions;
    *  - the member pair graph is the blow-up of the rep graph plus an
    *    internal clique per surviving class (twins always share probe
    *    cells; their pair cosine is the self-cosine, evaluated here once
    *    per class with the EXACT expression the direct form computes for
    *    an identical pair — a zero-vector class is an ANSI error in both
    *    forms alike);
    *  - a member's component label is the min member id over its
    *    rep-component, and rep = min(member id) per class, so the rep
    *    graph's converged label IS the member label;
    *  - kept: classes with cross edges elect the component minimum;
    *    intra-only classes (csize ≥ 2, self-cosine ≥ threshold) elect
    *    their rep; untouched singletons survive — exactly the direct
    *    form's component/isNull election. */
  private[graft] def semanticDedupCollapsedWith(
      centroids: Seq[Array[Double]], s: SparkSession, dir: String,
      threshold: Double, nAssign: Int): DataFrame = {
    import s.implicits._
    val Ann = graft.operators.Ann
    // hash-prefixed twin key (the r14 lshTopKCollapsed discipline)
    val wTwin = Window.partitionBy($"__vh", $"embedding")
    val keyed = Tables.embeddings(s, dir)
      .withColumn("__vh", xxhash64($"embedding"))
      .withColumn("rep", min($"vec_id").over(wTwin))
      .withColumn("csize", count(lit(1)).over(wTwin))
    val memb = keyed.select($"rep", $"vec_id")
    val reps = keyed.filter($"vec_id" === $"rep")
      .select($"rep".as("id"), asDouble($"embedding").as("v"), $"csize")
    // same persist + eager-materialize discipline as the direct form,
    // same large-quantizer join branch
    // same r18 fused-kernel assignment as the direct form (see there)
    val assigned = reps
      .select($"id", $"v", norm($"v").as("nrm"), $"csize",
        Ann.ivfProbes(centroids, nAssign)($"v").as("probe_cells"))
      .withColumn("cell", element_at($"probe_cells", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    // same r18 inline-verify candidate join as the direct form (see
    // there): cosine in the join condition, survivors-only dedup
    val ex = assigned.select($"id", $"v", $"nrm",
      explode($"probe_cells").as("pc"))
    val repPairs = graft.operators.SkewJoin.salted(
        ex.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_nrm"),
          $"pc"),
        ex.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_nrm"),
          $"pc".as("b_pc")),
        $"pc" === $"b_pc" && $"a_id" < $"b_id",
        saltOn = $"a_id", salts = Extended.PAIR_SALTS)
      .filter(dot($"a_v", $"b_v") / ($"a_nrm" * $"b_nrm") >= threshold)
      .select($"a_id", $"b_id").distinct()
    val comps = graft.operators.Graph.connectedComponents(repPairs)
    // classes whose twins are mutual near-dups (any nonzero vector at a
    // sane threshold; zero vectors error like the direct form)
    val intraOk = assigned.filter($"csize" >= 2)
      .select($"id".as("rep"),
        (dot($"v", $"v") / ($"nrm" * $"nrm") >= threshold).as("intra_ok"))
    val classInfo = assigned.select($"id".as("rep"), $"cell", $"csize")
      .join(comps.select($"id".as("rep"), $"component"), Seq("rep"),
        "left_outer")
      .join(intraOk, Seq("rep"), "left_outer")
    assigned.unpersist(blocking = false)
    memb.join(classInfo, "rep")
      .select($"vec_id", $"cell",
        when($"component".isNotNull,
          when($"vec_id" === $"component", 1L).otherwise(0L))
        .otherwise(when(coalesce($"intra_ok", lit(false)),
            when($"vec_id" === $"rep", 1L).otherwise(0L))
          .otherwise(lit(1L))).as("kept"))
      .orderBy($"vec_id")
  }
}
