package graft.operators

import graft.SparkSpec

/** Graph operator semantics: degrees, oriented triangle count, and
  * alternating-star connected components (pinned against a test-side
  * union-find on randomized graphs, plus the worst-case chain shape that
  * defeats plain label propagation).
  */
class GraphSpec extends SparkSpec {

  private def edgesDf(es: Seq[(Long, Long)]) = {
    val spark2 = spark
    import spark2.implicits._
    es.toDF("a_id", "b_id")
  }

  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      parent.getOrElse(a, parent.update(a, a))
      parent.getOrElse(b, parent.update(b, b))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = es.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(i => i -> find(i)).toMap
  }

  private def ccMap(es: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edgesDf(es)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("degrees of a known graph") {
    val d = Graph.degrees(edgesDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("triangleCount: K4 has 4 triangles, a square has 0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(Graph.triangleCount(edgesDf(k4)).collect().head.getLong(0) === 4L)
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(Graph.triangleCount(edgesDf(square)).collect().head.getLong(0) === 0L)
  }

  test("triangleCount: degree-ordered orientation (r16) is exact on a " +
    "mid-id hub — the case id-ordering fans out on — incl. degree ties") {
    // hub 50 (degree 12, the graph max) with leaves on both id sides,
    // two triangles through the hub, one triangle away from it
    val hubEdges = (1L to 6L).map(i => (i, 50L)) ++
      (90L to 95L).map(j => (50L, j)) ++
      Seq((1L, 2L), (90L, 91L),      // close hub triangles (1,2,50), (50,90,91)
        (70L, 71L), (70L, 72L), (71L, 72L)) // degree-2 tie triangle
    val got = Graph.triangleCount(edgesDf(hubEdges))
      .collect().head.getLong(0)
    assert(got === 3L)
  }

  test("connectedComponents: two components + chain worst case") {
    // components {1,2,3} (root 1) and {10,11} (root 10)
    assert(ccMap(Seq((1L, 2L), (2L, 3L), (10L, 11L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // 40-node chain: diameter 39, must still converge in O(log n) rounds
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = ccMap(chain)
    assert(got.size === 40 && got.values.forall(_ == 1L))
  }

  test("connectedComponents identical under a reliable checkpoint dir") {
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val before = ccMap(es)
    val dir = tempDir("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    assert(ccMap(es) === before)
  }

  /** Reference power iteration on the same symmetrized adjacency, same
    * formula and iteration count as Graph.pageRank. */
  private def localPageRank(es: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
    val n = adj.size
    var r = adj.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for ((u, vs) <- adj; v <- vs) contrib(v) += r(u) / vs.size
      r = adj.keys.map(k => k -> ((1.0 - d) / n + d * contrib(k))).toMap
    }
    r
  }

  private def prMap(es: Seq[(Long, Long)], iters: Int = 10): Map[Long, Double] =
    Graph.pageRank(edgesDf(es), iterations = iters).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRank: uniform on a regular graph, sums to 1") {
    // triangle — every vertex identical by symmetry
    val got = prMap(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: star center outranks leaves, matches closed form") {
    // undirected star K1,3: c = (1+3d)/(4(1+d)) at the fixed point;
    // convergence is geometric at rate d, so 40 iters → error ≈ 0.23·d⁴⁰
    // ≈ 4e-4
    val got = prMap(Seq((1L, 2L), (1L, 3L), (1L, 4L)), iters = 40)
    val d = 0.85
    val c = (1 + 3 * d) / (4 * (1 + d))
    assert(math.abs(got(1L) - c) < 1e-3)
    Seq(2L, 3L, 4L).foreach(l => assert(got(l) < got(1L)))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank agrees with local power iteration on a random graph") {
    val es = (1 to 60).map { i =>
      val h = i * 2654435761L
      (h % 23L, (h / 23) % 29L)
    }.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val got = prMap(es, iters = 8)
    val want = localPageRank(es, iters = 8)
    assert(got.keySet === want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-9, s"node $k")
  }

  test("fixed-point pageRank tracks the float ranks within truncation error") {
    val es = (1 to 60).map { i =>
      val h = i * 2654435761L
      (h % 23L, (h / 23) % 29L)
    }.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val float = prMap(es, iters = 6)
    val fixed = Graph.pageRankFixedPoint(edgesDf(es), iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed.keySet === float.keySet)
    // per-vertex truncation loses ≤ deg parts-per-scale per round; at
    // S = 1e9 over 6 rounds that is far under 1e-5 absolute
    for ((k, v) <- float)
      assert(math.abs(fixed(k) / 1e9 - v) < 1e-5, s"node $k")
    // total mass stays within the cumulative truncation budget of S
    val total = fixed.values.sum
    assert(total <= 1000000000L && total > 1000000000L - 1000000L)
    // empty graph: empty result, not a driver division-by-zero
    assert(Graph.pageRankFixedPoint(edgesDf(Seq.empty)).count() === 0L)
  }

  test("quotient fixed-point pageRank ≡ member-level brute force on a " +
      "twin blow-up (incl. intra-only, unsurvived, and isolated classes)") {
    val spark2 = spark
    import spark2.implicits._
    // quotient: c0 (m=4, survived) — c100 (m=3, survived) — c200 (m=1,
    // survived, cross-edge only); c300 (m=2, NOT survived: no edges at
    // all); c400 (m=1, survived but isolated); c500 (m=5, survived,
    // intra-only clique)
    val classes = Seq(
      (0L, 4L, true), (100L, 3L, true), (200L, 1L, true),
      (300L, 2L, false), (400L, 1L, true), (500L, 5L, true))
      .toDF("rep", "csize", "survived")
    val eq = Seq((0L, 100L), (100L, 200L)).toDF("a_id", "b_id")
    val members = Map[Long, Seq[Long]](
      0L -> Seq(0L, 1L, 2L, 3L), 100L -> Seq(100L, 101L, 102L),
      200L -> Seq(200L), 300L -> Seq(300L, 301L), 400L -> Seq(400L),
      500L -> Seq(500L, 501L, 502L, 503L, 504L))
    // blown-up member edges: intra cliques for survived m ≥ 2 classes,
    // complete bipartite expansion of each quotient cross edge
    val intra = Seq(0L, 100L, 500L).flatMap { c =>
      val ms = members(c)
      for (i <- ms.indices; j <- i + 1 until ms.size) yield (ms(i), ms(j))
    }
    val cross = Seq((0L, 100L), (100L, 200L)).flatMap { case (c, d) =>
      for (x <- members(c); y <- members(d)) yield (x, y)
    }
    val direct = Graph.pageRankFixedPoint(edgesDf(intra ++ cross))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val memb = members.toSeq.flatMap { case (rep, ms) => ms.map(rep -> _) }
      .toDF("rep", "doc_id")
    // BOTH loop paths must equal the brute force: the driver-exact path
    // (default bound) and the distributed path (bound forced to 0)
    for (bound <- Seq(Graph.QuotientDriverEdgeBound, 0L)) {
      val quotient = Graph.pageRankFixedPointQuotient(eq, classes,
          driverEdgeBound = bound)
        .withColumnRenamed("id", "rep")
        .join(memb, "rep")
        .select($"doc_id", $"rank_fp")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(quotient === direct, s"driverEdgeBound=$bound")
    }
    val quotient = Graph.pageRankFixedPointQuotient(eq, classes)
      .withColumnRenamed("id", "rep")
      .join(memb, "rep")
      .select($"doc_id", $"rank_fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the edgeless classes are in NEITHER output
    assert(!direct.contains(300L) && !direct.contains(400L))
    // non-vacuous: ranks differentiate (the bridge class outranks leaves)
    assert(direct.values.toSet.size > 1)
  }

  test("quotient k-core ≡ member-level peeling on a twin blow-up, " +
      "both loop paths, k ∈ {2, 4, 7}") {
    val spark2 = spark
    import spark2.implicits._
    // same blow-up family as the quotient-PageRank fixture: intra
    // cliques, a 2-class bridge, an isolated intra-only clique, an
    // unsurvived class, and a singleton — k=7 peels the small classes
    // but keeps the K8-ish mass, k=2 keeps almost everything
    val classes = Seq(
      (0L, 4L, true), (100L, 3L, true), (200L, 1L, true),
      (300L, 2L, false), (400L, 1L, true), (500L, 5L, true))
      .toDF("rep", "csize", "survived")
    val eq = Seq((0L, 100L), (100L, 200L)).toDF("a_id", "b_id")
    val members = Map[Long, Seq[Long]](
      0L -> Seq(0L, 1L, 2L, 3L), 100L -> Seq(100L, 101L, 102L),
      200L -> Seq(200L), 300L -> Seq(300L, 301L), 400L -> Seq(400L),
      500L -> Seq(500L, 501L, 502L, 503L, 504L))
    val intra = Seq(0L, 100L, 500L).flatMap { c =>
      val ms = members(c)
      for (i <- ms.indices; j <- i + 1 until ms.size) yield (ms(i), ms(j))
    }
    val cross = Seq((0L, 100L), (100L, 200L)).flatMap { case (c, d) =>
      for (x <- members(c); y <- members(d)) yield (x, y)
    }
    val memb = members.toSeq.flatMap { case (rep, ms) => ms.map(rep -> _) }
      .toDF("rep", "doc_id")
    for (k <- Seq(2, 4, 7); bound <- Seq(Graph.QuotientDriverEdgeBound, 0L)) {
      val direct = Graph.kCore(edgesDf(intra ++ cross), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val quotient = Graph.kCoreQuotient(eq, classes, k,
          driverEdgeBound = bound)
        .withColumnRenamed("id", "rep")
        .join(memb, "rep")
        .select($"doc_id", $"core_degree")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(quotient === direct, s"k=$k bound=$bound")
      if (k == 2) assert(direct.nonEmpty)
      // k=4: the 200-singleton peels, cascading nothing — the bridge
      // classes and the K5 survive (12 of 13 edged members)
      if (k == 4) assert(direct.nonEmpty && direct.size < 13,
        "k=4 must peel something and keep something")
      // k=7: everything cascades away — both forms agree on empty
      if (k == 7) assert(direct.isEmpty)
    }
  }

  test("quotient components ≡ direct member-level connected components " +
      "on a twin-replica corpus (dedupClusters path)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.max
    // dup-factor-3 corpus: sf0.001 documents plus two re-id'd replicas —
    // every doc gets a 3-twin class (intra cliques), real near-dup pairs
    // become complete cross joins between classes
    val base = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val off = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def re(k: Int) = base.withColumn("doc_id", $"doc_id" + k * off)
    val tmp = tempDir("graft-ccq-").toString
    base.unionByName(re(1)).unionByName(re(2))
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val direct = Graph.connectedComponents(
        graft.queries.TextAnalysis.scoredNearDupPairs(spark, tmp)
          .select($"a_id", $"b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = graft.queries.GraphQueries.dedupClusters(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === direct)
    // non-vacuous: intra-only twin classes AND multi-class components
    assert(got.nonEmpty && got.values.toSet.size > 1)
    val sizes = got.groupBy(_._2).view.mapValues(_.size).values.toSet
    assert(sizes.contains(3), "an intra-only 3-twin class exists")
    assert(sizes.exists(_ > 3), "a multi-class component exists")
  }

  test("connectedComponents agrees with union-find on a random graph") {
    // deterministic scatter: 120 nodes, 90 edges over 3 clumps of ids
    val es = (1 to 90).map { i =>
      val h = i * 2654435761L
      val clump = (h % 3) * 1000L
      val a = clump + (h % 37)
      val b = clump + ((h / 37) % 41)
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    assert(ccMap(es) === unionFind(es))
  }

  /** Test-side iterative peeling (the definition). */
  private def peel(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var edges = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    var changed = true
    while (changed) {
      val deg = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val drop = deg.filter(_._2 < k).keySet
      changed = drop.nonEmpty
      edges = edges.filterNot(e => drop(e._1) || drop(e._2))
    }
    edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("kCore: triangle survives a 2-core, chain appendage peels away") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = Graph.kCore(edgesDf(es), k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // no 3-core anywhere in this graph
    assert(Graph.kCore(edgesDf(es), k = 3).collect().isEmpty)
    // and cascading: a chain hanging off the triangle peels end-first
    assert(got === peel(es, 2))
  }

  test("kCore agrees with local peeling on a random graph and the real " +
    "sf0.001 pair graph") {
    val es = (0 until 400).map { i =>
      val h = i * 2654435761L
      val a = (h % 53).abs
      val b = ((h / 53) % 57).abs
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    for (k <- Seq(2, 3, 4))
      assert(Graph.kCore(edgesDf(es), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === peel(es, k),
        s"k=$k")
    val pair = graft.queries.TextAnalysis
      .scoredNearDupPairs(spark, sf("sf0.001"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val core = graft.queries.GraphQueries.pairKcore(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core === peel(pair, 2))
    // non-vacuous both ways: a real cyclic core exists AND chains peeled
    val allVerts = pair.flatMap(e => Seq(e._1, e._2)).distinct
    assert(core.nonEmpty && core.size < allVerts.size,
      s"core ${core.size} of ${allVerts.size}")
  }
}
