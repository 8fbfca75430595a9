package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Equivalence pins for the r11 exact-twin collapse valves that run
  * behind DIRECTORY-based queries (the frame-based valves are pinned in
  * TextAnalysisSpec/AnnSpec): each test writes a twin-heavy corpus to a
  * temp dir — so the adaptive dup-factor probe ENGAGES the collapsed
  * plan — and checks the output against an independent brute-force
  * recompute with the same IEEE expression order. The valves exist
  * because the r11 30×/50× twin-replica scale decade measured the
  * direct plans at 42×–217× for 30× data (SCALE_r11.md); the testdata
  * SFs are dup-light, so without these dirs the collapsed branches
  * would ship unexercised.
  */
class TwinCollapseSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("multisetPairs engages the twin collapse and matches a local " +
      "brute force (multiset AND set counts, intra + cross rows)") {
    val spark2 = spark
    import spark2.implicits._
    // 3 sources × (2 content classes × 4 twins): every same-source pair
    // shares ≥ 20 common words; dup factor 4 → valve engages
    val w = (1 to 24).map(i => s"w$i")
    val texts = Seq(
      w.mkString(" "),                              // class A
      (w.take(21) ++ Seq("q1", "q2", "q3")).mkString(" ")) // class B
    val docs = for {
      s <- 0 until 3
      (t, ci) <- texts.zipWithIndex
      c <- 0 until 4
    } yield ((s * 100 + ci * 10 + c).toLong, t, "en", s"src$s", t.length.toLong)
    val dir = tmp("graft-twin-ms-")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = Extended.multisetPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3), r.getInt(4)))
      .sortBy(p => (p._1, p._2)).toSeq
    // brute force with reference Seq.intersect semantics
    val byId = docs.map(d => d._1 -> (d._2.split(" ").toSeq, d._4)).toMap
    val want = (for {
      a <- byId.keys; b <- byId.keys
      if a < b && byId(a)._2 == byId(b)._2
      cm = byId(a)._1.intersect(byId(b)._1).size
      if cm >= 20
    } yield (a, b, byId(a)._2, cm,
      byId(a)._1.toSet.intersect(byId(b)._1.toSet).size))
      .toSeq.sortBy(p => (p._1, p._2))
    assert(want.nonEmpty && want.exists(p => byId(p._1)._1 == byId(p._2)._1)
      && want.exists(p => byId(p._1)._1 != byId(p._2)._1),
      "intra-twin and cross-class rows must both occur")
    assert(got === want)
  }

  test("cosineNearDup engages the twin collapse and matches a local " +
      "brute force bit-exactly (label blocking, intra + cross rows)") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(11)
    val dim = 8
    // per label: 3 vector classes × 3 twins (no zero vectors: ANSI mode
    // turns 0/0 into an error in both plans alike)
    val rows = for {
      label <- 0 until 2
      ci <- 0 until 3
      v = Array.fill(dim)(rng.nextGaussian().toFloat)
      c <- 0 until 3
    } yield ((label * 100 + ci * 10 + c).toLong, v, label)
    val dir = tmp("graft-twin-cos-")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = Embeddings.cosineNearDup(spark, dir, threshold = 0.35)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(p => (p._1, p._2)).toSeq
    // brute force with the identical expression order: in-order fold dot,
    // sqrt norms, one division
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) =>
        acc + a(i).toDouble * b(i).toDouble)
    val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
    val want = (for {
      a <- byId.keys; b <- byId.keys
      if a < b && byId(a)._2 == byId(b)._2
      cos = dot(byId(a)._1, byId(b)._1) /
        (math.sqrt(dot(byId(a)._1, byId(a)._1)) *
          math.sqrt(dot(byId(b)._1, byId(b)._1)))
      if cos >= 0.35
    } yield (a, b, byId(a)._2, cos)).toSeq.sortBy(p => (p._1, p._2))
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("similarityJoinP2 engages the twin collapse and equals the direct " +
      "reference-shape MLlib self-join row-for-row") {
    val spark2 = spark
    import spark2.implicits._
    // 4 content classes × 6 twins: the seeded 0.5 sample keeps ~3 per
    // class (dup factor ≈ 3 → valve engages); classes 0/1 and 2/3 are
    // mutual near-dups above the 0.5 similarity threshold
    val texts = Seq(
      "a b c d e f g h i j k l",
      "a b c d e f g h i j k m",
      "p q r s t u v w x y z1 z2",
      "p q r s t u v w x y z1 z3")
    val docs = for {
      (t, ci) <- texts.zipWithIndex
      c <- 0 until 6
    } yield ((ci * 10 + c).toLong, t, "en", "srcA", t.length.toLong)
    val dir = tmp("graft-twin-p2-")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    val got = rows(Extended.similarityJoinP2(spark, dir))
    // the direct path, reconstructed exactly (same seeded sample, same
    // prep, same reference-shape operator)
    val d = graft.sources.Tables.documents(spark, dir)
      .sample(0.5, 12345L)
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id",
        array_distinct(TextAnalysis.bigramShingles($"t")).as("sh"))
      .filter(size($"sh") > 0)
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("sh").setOutputCol("tf")
      .setNumFeatures(4096).transform(d)
    val direct = rows(graft.operators.SimilarityJoin
      .selfJoin(tf, "doc_id", "tf", threshold = 0.5, seed = 42L))
    assert(direct.nonEmpty, "sampled twin corpus must produce pairs")
    assert(direct.exists(_._3 == 1.0) && direct.exists(_._3 < 1.0),
      "intra-twin and cross-class pairs must both occur")
    assert(got === direct)
  }

  test("pairTriangles quotient decomposition ≡ direct wedge count on a " +
      "twin-heavy corpus exercising all three terms") {
    val spark2 = spark
    import spark2.implicits._
    // 3 mutually-near-dup content classes (sizes 4, 2, 1) + an isolated
    // twin class of 3 (term-1 only) + a singleton: term1 (intra-clique),
    // term2 (edge × class sizes) and term3 (3-class triangles) all
    // non-zero
    val tri = Seq(
      "a b c d e f g h i j",
      "a b c d e f g h i k",
      "a b c d e f g h q r")
    val iso = "z1 z2 z3 z4 z5 z6"
    val docs =
      (0 until 4).map(i => (i * 7L, tri(0))) ++
        (0 until 2).map(i => (50L + i, tri(1))) ++
        Seq((60L, tri(2))) ++
        (0 until 3).map(i => (70L + i, iso)) ++
        Seq((80L, "totally different words only"))
    val rows = docs.map { case (id, t) =>
      (id, t, "en", "srcA", t.length.toLong) }
    val dir = tmp("graft-twin-tri-")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = GraphQueries.pairTriangles(spark, dir)
      .head.getLong(0)
    // direct wedge count over the expanded pair frame
    val direct = graft.operators.Graph.triangleCount(
        TextAnalysis.scoredNearDupPairs(spark, dir)
          .select($"a_id", $"b_id"))
      .head.getLong(0)
    assert(direct > 0L)
    // the isolated class alone contributes C(3,3) = 1 intra triangle
    assert(direct >= 1L)
    assert(got === direct)
  }
}
