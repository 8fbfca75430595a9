package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-distribution arm for the graph family (VERDICT r15 #7):
  * the quotient decades all ran near-uniform pair graphs; this main
  * generates a deterministic POWER-LAW graph (Zipf degrees, hub at the
  * LOWEST id — adversarial for any id-ordered orientation) plus a
  * uniform control of the same edge count, and times degrees /
  * connected components / k-core / fixed-point PageRank / triangle
  * count on both. Hub skew hits the shuffle-join iteration (PageRank's
  * rank⋈edges), the peel loop (k-core), and above all the wedge join
  * (triangles), where a hub of degree d contributes Θ(d²) wedges unless
  * the orientation is degree-ordered.
  *
  * Generator (no RNG — xxhash64-derived, reproducible): node i gets
  * target degree max(1, dmax/(rank_i+1)) where rank_i =
  * pmod(xxhash64(i, 99), n) — the Zipf ranks are HASH-PERMUTED over
  * the id space so the big hub lands at an arbitrary id (a hub at id 0
  * or n−1 would have one-sided id-order orientation and contribute ~0
  * wedges; a mid-id hub contributes in×out ≈ (d/2)² — the adversarial
  * case an id-oriented wedge join must face). Partner j of node i is
  * pmod(xxhash64(i, j), n). Self-loops dropped, edges canonicalized
  * (least, greatest), deduped. Σ deg ≈ dmax·ln(n) + n.
  *
  * Usage: runMain graft.TunePowerLawGraph [n] [dmax] [cpus] [ops]
  */
object TunePowerLawGraph {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dmax = if (args.length > 1) args(1).toLong else 100000L
    val cpus = if (args.length > 2) args(2).toInt else 16
    val ops = if (args.length > 3) args(3).split(",").toSet
      else Set("degrees", "cc", "kcore", "pagerank", "triangles")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def edgesOf(degreeOf: org.apache.spark.sql.Column): DataFrame =
      spark.range(n)
        .withColumn("d", degreeOf)
        .withColumn("j", explode(sequence(lit(1L), $"d")))
        .select($"id".as("a0"), pmod(xxhash64($"id", $"j"), lit(n)).as("b0"))
        .filter($"a0" =!= $"b0")
        .select(least($"a0", $"b0").as("a_id"),
          greatest($"a0", $"b0").as("b_id"))
        .distinct()

    def timed(what: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = try body.toString catch {
        case e: Exception => s"FAILED ${e.getClass.getSimpleName}: " +
          e.getMessage.take(120)
      }
      println(f"[powerlaw] $what%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $r")
    }

    for ((name, degCol) <- Seq(
      ("powerlaw",
        greatest(lit(1L), (lit(dmax) /
          (pmod(xxhash64($"id", lit(99)), lit(n)) + 1L)).cast("long"))),
      // uniform control with ~the same edge mass: dmax·ln(n)/n + 1 each
      ("uniform",
        lit(math.max(1L, (dmax * math.log(n.toDouble)).toLong / n) + 1L)))) {
      val e = edgesOf(degCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = e.count()
      val dmaxActual = operators.Graph.degrees(e)
        .agg(max($"degree")).head.getLong(0)
      println(s"[powerlaw] --- $name: n=$n edges=$m maxDegree=$dmaxActual")
      if (ops("degrees")) timed(s"$name degrees") {
        operators.Graph.degrees(e).count()
      }
      if (ops("cc")) timed(s"$name connectedComponents") {
        operators.Graph.connectedComponents(e).count()
      }
      if (ops("kcore")) timed(s"$name kCore(k=3)") {
        operators.Graph.kCore(e, k = 3).count()
      }
      if (ops("pagerank")) timed(s"$name pageRankFixedPoint(6)") {
        operators.Graph.pageRankFixedPoint(e, iterations = 6).count()
      }
      if (ops("triangles")) timed(s"$name triangleCount") {
        operators.Graph.triangleCount(e).head.getLong(0)
      }
      e.unpersist(blocking = false)
    }
    spark.stop()
  }
}
