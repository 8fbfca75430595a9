package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over the near-duplicate pair graph (the n-gram Jaccard
  * pairs at threshold 0.08 — dense enough at sf0.01 for non-vacuous
  * oracles: 298 edges, 16 triangles, 44 components incl. a 139-node one).
  *
  * q_dedup_clusters is the pipeline payoff: near-dup PAIRS collapsed into
  * duplicate CLUSTERS via connected components — the step that turns a
  * similarity join into an actual deduplication decision ("keep min doc_id
  * per cluster").
  */
object GraphQueries {

  /** Shared pair graph: n-gram Jaccard near-dup pairs at a denser
    * threshold than q_ngram_jaccard's 0.12 — read from the session-scoped
    * materialized pair frame, so the four graph queries and
    * q_ngram_jaccard pay for the posting join once per session. */
  private def pairGraph(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.scoredNearDupPairs(s, dir)
      .select(col("a_id"), col("b_id"))

  /** Session-scoped materialized QUOTIENT edges — the pair graph
    * restricted to class representatives (the twin quotient's cross
    * edges). All three quotient-form analytics (triangles, components,
    * fixed-point PageRank) consume this same frame; deriving it is two
    * semi-joins over the member-level pair frame (27.5M rows at the
    * 30× corpus, ~8 s), so computing it once per session instead of
    * 2-3× per query is what makes the quotient devices NET wins
    * in-bench (measured: quotient PageRank 35.7 s with per-query
    * derivation vs the direct form's 26.6 s — the loop savings were
    * eaten by re-derivation). */
  private def quotientEdges(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, ("quotientEdges", dir)) {
      import s.implicits._
      val reps = TextAnalysis.twinClasses(s, dir).select($"rep")
      graft.Caches.pin(pairGraph(s, dir)
        .join(reps.withColumnRenamed("rep", "a_id"), Seq("a_id"), "left_semi")
        .join(reps.withColumnRenamed("rep", "b_id"), Seq("b_id"), "left_semi"))
    }

  /** Degree of each document in the near-dup pair graph. */
  def pairDegrees(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Graph.degrees(pairGraph(s, dir))
      .select($"id".as("doc_id"), $"degree")
      .orderBy($"doc_id")
  }

  /** Global triangle count of the pair graph (1 row).
    *
    * Computed on the TWIN QUOTIENT (r11): the near-dup pair graph is by
    * construction the blow-up of its exact-twin quotient — documents
    * with identical (lang, shingle-set) content have identical
    * adjacency, a class with kept shingles is an internal clique
    * (jaccard 1.0 intra pairs), and two adjacent classes are completely
    * joined. The direct wedge join is Σ deg² and exploded on the r11
    * 30× twin-replica decade (the wedge shuffle filled the disk at
    * 252 s): every twin class of size m is a K_m, so wedge mass grows
    * with m³ per class. On the quotient the count decomposes exactly:
    *   Σ_c survived C(m_c,3)                       (one class)
    * + Σ_{(c,d)∈E_Q} C(m_c,2)·m_d + m_c·C(m_d,2)   (two classes)
    * + Σ_{{c,d,e} triangle in E_Q} m_c·m_d·m_e      (three classes)
    * where E_Q = pair-frame edges between class representatives — both
    * quotient-sized, so the wedge join runs at unique-content scale at
    * any duplication factor. (c,d) ∈ E_Q implies both classes survived
    * (a pair needs a common kept shingle), so only the first term
    * filters on `survived`. The DuckDB oracle keeps the enumerating
    * blown-up definition — the bit-match PROVES the decomposition.
    *
    * Deliberately NOT gated on a dup-factor probe (unlike the collapse
    * valves): on the dup-light driver corpus the twinClasses pass costs
    * ~1.8 s over the direct wedge join at sf0.1, and that price buys
    * the ORACLE exercising the decomposition every round — a gate would
    * route the driver SFs to the direct path and demote the quotient
    * proof to spec-only (TwinCollapseSpec). */
  def pairTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cls = TextAnalysis.twinClasses(s, dir)
    val eq = quotientEdges(s, dir)
    val m = cls.select($"rep", $"csize")
    // Σ m(m−1)(m−2) over survived classes; divisible by 6 term-wise
    val t1x6 = cls.filter($"survived" && $"csize" >= 3)
      .agg(coalesce(sum(
        $"csize" * ($"csize" - 1) * ($"csize" - 2)), lit(0L)).as("v"))
      .head.getLong(0)
    val eqm = eq
      .join(m.select($"rep".as("a_id"), $"csize".as("ma")), "a_id")
      .join(m.select($"rep".as("b_id"), $"csize".as("mb")), "b_id")
    // Σ [m_c(m_c−1)·m_d + m_c·m_d(m_d−1)] over edges; divisible by 2
    val t2x2 = eqm
      .agg(coalesce(sum(
        $"ma" * ($"ma" - 1) * $"mb" + $"ma" * $"mb" * ($"mb" - 1)),
        lit(0L)).as("v"))
      .head.getLong(0)
    // weighted closed wedges on the quotient: a<b<c paths closed by (a,c)
    val e = eq.select($"a_id".as("a"), $"b_id".as("b"))
    val wedge = e.join(e.select($"a".as("b"), $"b".as("c")), "b")
    val t3 = wedge
      .join(e.select($"a", $"b".as("c")), Seq("a", "c"), "left_semi")
      .join(m.select($"rep".as("a"), $"csize".as("ma")), "a")
      .join(m.select($"rep".as("b"), $"csize".as("mb")), "b")
      .join(m.select($"rep".as("c"), $"csize".as("mc")), "c")
      .agg(coalesce(sum($"ma" * $"mb" * $"mc"), lit(0L)).as("v"))
      .head.getLong(0)
    val total = t1x6 / 6 + t2x2 / 2 + t3
    Seq(total).toDF("n_triangles")
  }

  /** Session-scoped materialized components of the pair graph — the
    * iterative large-star/small-star run is the dominant cost of BOTH
    * q_dedup_clusters and q_dedup_corpus, so it is computed once and
    * persisted (same pattern as TextAnalysis.scoredNearDupPairs).
    *
    * Computed on the TWIN QUOTIENT (r13, after quotient triangles and
    * PageRank): the iterative rounds run on the quotient's cross edges
    * instead of the blown-up member edges, purely structural so the
    * collapse is trivially exact — a member's reachable set is the
    * union of the member sets of its class's quotient component, whose
    * minimum id IS the quotient label (rep = class min, component =
    * quotient min rep). Intra-clique-only classes (survived, m ≥ 2, no
    * cross edge) label themselves; edgeless classes are absent, as in
    * the direct form. The unchanged q_dedup_clusters member-level
    * oracle bit-matches — the per-round proof. */
  private def components(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, ("components", dir)) {
      import s.implicits._
      val cls = TextAnalysis.twinClasses(s, dir)
      val ccQ = graft.operators.Graph.connectedComponents(
        quotientEdges(s, dir))
      val nodeCls = cls.select($"rep", $"csize", $"survived")
        .join(ccQ.withColumnRenamed("id", "rep"), Seq("rep"), "left_outer")
        .filter($"component".isNotNull || ($"survived" && $"csize" >= 2))
        .select($"rep", coalesce($"component", $"rep").as("component"))
      graft.Caches.pin(TextAnalysis.twinMembers(s, dir)
        .join(nodeCls, "rep")
        .select($"doc_id".as("id"), $"component"))
    }

  /** Near-dup clusters: (doc_id, component) with component = min doc_id
    * reachable through near-dup pairs. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    components(s, dir)
      .select($"id".as("doc_id"), $"component")
      .orderBy($"doc_id")
  }

  /** Cluster-size distribution — the dedup PLANNING diagnostic read
    * before choosing a representative-selection policy: how much of the
    * near-dup mass sits in pairs vs long chains (a corpus dominated by
    * size-2 clusters dedups cheaply; heavy clusters want keep-best
    * scoring). Two map-combinable rollups over the component frame:
    * component → size, then size → how many clusters and docs. */
  def clusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    components(s, dir)
      .groupBy($"component").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_size").as("n_docs"))
      .orderBy($"cluster_size")
  }

  /** PageRank over the near-dup pair graph — which documents sit at the
    * center of duplicate clusters (a dedup-representative-selection signal
    * richer than min-id). Float power iteration, so rows-only + GraphSpec
    * invariants rather than a SQL oracle. */
  def pairPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 6 iterations: convergence is geometric at the damping rate, and a
    // duplicate-centrality RANKING stabilizes far before the values do —
    // each extra iteration is a full join+agg round trip (the per-round
    // cost, not the data size, dominates at any corpus scale).
    graft.operators.Graph.pageRank(pairGraph(s, dir), iterations = 6)
      .select($"id".as("doc_id"), $"pagerank")
      .orderBy($"doc_id")
  }

  /** Fixed-point PageRank twin of q_pair_pagerank: ranks are integer
    * multiples of 10⁻⁹ and every divide truncates, so 6 power iterations
    * are bit-reproducible in any 64-bit-integer engine — this is the
    * oracle-checked face of the pair (the float query keeps the
    * real-world output; GraphSpec pins the two to the same ranking).
    *
    * Computed on the TWIN QUOTIENT (r13 — the pairTriangles device
    * applied to the power iteration): twins hold identical ranks at
    * every iteration (integer update, identical inputs), so the six
    * join+agg rounds run on quotient-sized frames and class ranks
    * expand join-wise to members at the end. Integer arithmetic makes
    * the collapse EXACT — the unchanged member-level DuckDB replay
    * oracle bit-matches, which proves it per round (GraphSpec pins
    * quotient ≡ member-level brute force on twin blow-ups besides).
    * Like pairTriangles, deliberately NOT dup-probe-gated: the
    * quotient runs on the driver SFs too, so the oracle exercises it
    * every round. */
  def pairPagerankFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cls = TextAnalysis.twinClasses(s, dir)
    graft.operators.Graph.pageRankFixedPointQuotient(
        quotientEdges(s, dir),
        cls.select($"rep", $"csize", $"survived"), iterations = 6)
      .withColumnRenamed("id", "rep")
      .join(TextAnalysis.twinMembers(s, dir), "rep")
      .select($"doc_id", $"rank_fp".as("pagerank_fp"))
      .orderBy($"doc_id")
  }

  /** The deduplicated corpus: documents minus every non-representative
    * cluster member (Dedup.keepRepresentatives over the pair graph). */
  def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Dedup.keepRepresentativesFromComponents(
        Tables.documents(s, dir).select($"doc_id", $"lang", $"source"),
        components(s, dir), "doc_id")
      .orderBy($"doc_id")
  }

  /** Quality-aware deduplicated corpus: like dedupCorpus, but each
    * near-dup cluster keeps its highest-quality member (distinct-token
    * ratio, ties to the lowest doc_id) instead of the minimum id — the
    * production decision rule ("keep the best representative, not the
    * first-crawled"). The score is one IEEE division of exact integers,
    * so the ordering — and therefore the kept set — is bit-reproducible
    * cross-engine; reuses the session-cached components. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val scores = docs
      .select($"doc_id".as("id"), TextAnalysis.toks($"text").as("t"))
      .select($"id", (size(array_distinct($"t")).cast("double") /
        size($"t").cast("double")).as("score"))
    graft.operators.Dedup.keepBestFromComponents(
        docs.select($"doc_id", $"lang", $"source"),
        components(s, dir), "doc_id", scores)
      .orderBy($"doc_id")
  }

  /** 2-core of the near-dup pair graph (Graph.kCore): the documents in
    * CYCLIC duplication structure — template families where everything
    * resembles everything — as opposed to chains of borderline pairwise
    * hits, which a 2-core sheds entirely. Degrees/components can't make
    * that distinction (a bridge merges components; raw degree counts
    * chain links). ORACLE-checked since r9: recursive CTEs forbid
    * aggregation inside recursion, so the DuckDB twin UNROLLS the
    * peeling (10 rounds; the sf0.01 graph's measured depth is 7, and
    * post-fixpoint rounds are no-ops) — the same device as the
    * pagerank_fp oracle. GraphSpec additionally pins ≡ local peeling
    * on both synthetic and the real sf0.001 pair graph. */
  def pairKcore(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    import s.implicits._
    // TWIN QUOTIENT (r13): twins share every per-round degree, so
    // classes peel as units and the rounds run at quotient size; every
    // member inherits its class's core degree. The unchanged
    // member-level unrolled-peeling oracle bit-matches — the proof.
    val cls = TextAnalysis.twinClasses(s, dir)
    graft.operators.Graph.kCoreQuotient(quotientEdges(s, dir),
        cls.select($"rep", $"csize", $"survived"), k)
      .withColumnRenamed("id", "rep")
      .join(TextAnalysis.twinMembers(s, dir), "rep")
      .select($"doc_id", $"core_degree")
      .orderBy($"doc_id")
  }
}
