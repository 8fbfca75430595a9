package graft.queries

import graft.SparkSpec

/** Gates for Embeddings.semanticDedup (rows-only in the driver — the
  * centroids are learned Spark-side state):
  *  - the full decision path downstream of the fit (top-nAssign cell
  *    assignment, shared-cell candidate join, exact-cosine threshold,
  *    components, representative election) is recomputed driver-side
  *    from the raw vectors plus the deterministic Ann.ivfFit centroids;
  *  - determinism across runs;
  *  - measured cluster recall vs the brute-force pair set (SemDeDup's
  *    inherent miss mode — boundary-straddling pairs — is bounded by
  *    the multi-probe assignment, and pinned, not hidden).
  */
class SemanticDedupSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val threshold = 0.35
  private val (nCells, lloydIters, nAssign, seed) = (8, 3, 3, 42)

  private def vectors: Map[Long, Array[Double]] =
    spark.read.parquet(dir + "/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def dot(a: Array[Double], b: Array[Double]) =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
  private def nrm(a: Array[Double]) = math.sqrt(dot(a, a))

  /** The operator's centroids, reproduced: ivfFit is seeded and
    * partitioning-stable, so re-running it yields the same fit. */
  private def fittedCentroids: Seq[Array[Double]] = {
    val spark2 = spark
    import spark2.implicits._
    val cv = spark.read.parquet(dir + "/embeddings.parquet")
      .select($"vec_id".as("id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => x.cast("double")).as("v"))
    graft.operators.Ann.ivfFit(cv, nCells, lloydIters, seed)
  }

  /** Brute-force cosine pairs at the threshold. */
  private def allPairs(vs: Map[Long, Array[Double]]): Seq[(Long, Long)] = {
    val ids = vs.keys.toSeq.sorted
    for {
      i <- ids; j <- ids if i < j
      c = dot(vs(i), vs(j)) / (nrm(vs(i)) * nrm(vs(j))) if c >= threshold
    } yield (i, j)
  }

  test("semanticDedup ≡ driver-side recompute from the fitted centroids") {
    val got = Embeddings.semanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val vs = vectors
    assert(got.length === vs.size)
    val cents = fittedCentroids

    // per-vector: top-1 must equal the reported cell; top-nAssign sets
    // drive the pairing. Ties break to the HIGHER cell id — array_max /
    // reverse(array_sort) over (score, cell) structs order by score then
    // cell, so on a score tie the larger cell index wins
    def topCells(v: Array[Double]): Seq[Int] =
      cents.indices.sortBy(i => (-dot(v, cents(i)), -i)).take(nAssign)
    val probe = vs.map { case (id, v) => id -> topCells(v).toSet }
    got.foreach { case (id, cell, _) =>
      assert(cell === probe(id).maxBy(i => (dot(vs(id), cents(i)), i)),
        s"vec $id top-1 cell")
    }

    val pairs = allPairs(vs).filter { case (a, b) =>
      (probe(a) & probe(b)).nonEmpty }
    // union-find → min-id roots → expected kept flags
    val ids = vs.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(ids.map(x => x -> x): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    got.foreach { case (id, _, kept) =>
      assert(kept === (if (find(id) == id) 1L else 0L), s"vec $id kept")
    }
    // non-vacuous: duplicates dropped AND survivors kept
    assert(got.count(_._3 == 0L) > 0, "no duplicates dropped")
    assert(got.count(_._3 == 1L) > 0)
  }

  test("deterministic across runs") {
    val a = Embeddings.semanticDedup(spark, dir).collect().toSeq
    val b = Embeddings.semanticDedup(spark, dir).collect().toSeq
    assert(a === b)
  }

  test("twin-collapsed search ≡ direct search given the same centroids " +
      "on a twin-heavy corpus; the public valve engages and agrees") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(13)
    val dim = 16
    // 9 classes of 6 twins + 5 singletons (dup factor 59/14 ≈ 4.2 — well
    // past the 1.4 valve). No zero vectors (ANSI 0/0 in both forms).
    val base = Seq.tabulate(9)(_ =>
      Array.fill(dim)(rng.nextGaussian().toFloat))
    val rows = (for {
      (v, bi) <- base.zipWithIndex
      c <- 0 until 6
    } yield ((bi * 100 + c).toLong, bi, v)) ++ Seq.tabulate(5)(i =>
      (9000L + i, 90 + i, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val tmp = tempDir("semdedup_twin").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(tmp + "/embeddings.parquet")

    val cents = Embeddings.semCentroidsFor(spark, tmp)
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val direct = run(Embeddings.semanticDedupDirectWith(
      cents, spark, tmp, threshold, nAssign))
    val collapsed = run(Embeddings.semanticDedupCollapsedWith(
      cents, spark, tmp, threshold, nAssign))
    assert(collapsed === direct)
    assert(direct.length === rows.length)
    // non-vacuous: twins were dropped and reps survive
    assert(direct.count(_._3 == 0L) >= 9 * 5, "each class drops 5 twins")
    assert(direct.count(_._3 == 1L) >= 1)
    // the public API's probe engages the collapse here and agrees
    assert(graft.operators.DupProbe.dupFactor(
      graft.sources.Tables.embeddings(spark, tmp),
      $"embedding") >= graft.operators.DupProbe.CollapseDupFactor)
    assert(run(Embeddings.semanticDedup(spark, tmp)) === direct)
  }

  test("multi-probe cluster recall vs brute-force pairs is pinned") {
    val vs = vectors
    val cents = fittedCentroids
    def topCells(v: Array[Double]): Set[Int] = // ties → higher cell, as
      cents.indices.sortBy(i => (-dot(v, cents(i)), -i)) // the operator
        .take(nAssign).toSet
    val probe = vs.map { case (id, v) => id -> topCells(v) }
    val all = allPairs(vs)
    val found = all.count { case (a, b) => (probe(a) & probe(b)).nonEmpty }
    val recall = found.toDouble / all.length
    info(f"multi-probe cluster recall at sf0.001: $recall%.3f ($found/${all.length})")
    // floor pinned under the measured value (top-3 at (8,3) measures
    // 0.957/0.963/0.954 at sf0.001/0.01/0.1 — graft.TuneSemDedup): a
    // broken fit, or a silent fall-back to fewer probes, collapses
    // recall well below it (top-2 measures 0.73-0.79)
    assert(recall >= 0.90, f"cluster recall $recall%.3f")
  }
}
