package graft

import org.apache.spark.sql.functions._

/** Throwaway: phase-level timing of semanticDedup at the 10× scale dir
  * (r8 triage — which phase eats the 240 s: fit, candidates, re-rank,
  * or components?). */
object TuneScale {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/repo/target/sf1.0")
    val Ann = graft.operators.Ann
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $tag%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val cv = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id".as("id"), transform($"embedding",
        x => x.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = t("count")(cv.count())
    val cells = math.max(8, (n / 250L).toInt)
    println(s"n=$n cells=$cells")
    val cents = t("ivfFit")(Ann.ivfFit(cv, cells, 3, 42))
    // same branch as the shipped query (Embeddings.semanticDedupDirectWith)
    val assigned = (
      if (cents.size <= Ann.LiteralCentroidBound)
        cv.select($"id", $"v",
          graft.queries.Embeddings.norm($"v").as("nrm"),
          Ann.assignCell(cents)($"v").as("cell"),
          transform(slice(reverse(array_sort(Ann.cellScores(cents)($"v"))), 1, 3),
            sc => sc.getField("cell")).as("probe_cells"))
      else
        Ann.assignProbesJoined(cv, cents, 3).join(cv, "id")
          .select($"id", $"v", graft.queries.Embeddings.norm($"v").as("nrm"),
            $"cell", $"probe_cells"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("assign")(assigned.count())
    val ex = assigned.select($"id", explode($"probe_cells").as("pc"))
    val cand = graft.operators.SkewJoin.salted(
        ex.select($"id".as("a_id"), $"pc"),
        ex.select($"id".as("b_id"), $"pc".as("b_pc")),
        $"pc" === $"b_pc" && $"a_id" < $"b_id",
        saltOn = $"a_id", salts = 16)
      .select($"a_id", $"b_id").distinct()
    val nc = t("candidates")(cand.count())
    println(s"candidates=$nc")
    val vv = assigned.select($"id", $"v", $"nrm")
    val pairs = cand
      .join(vv.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_nrm")), "a_id")
      .join(vv.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_nrm")), "b_id")
      .select($"a_id", $"b_id",
        (graft.queries.Embeddings.dot($"a_v", $"b_v") /
          ($"a_nrm" * $"b_nrm")).as("cosine"))
      .filter($"cosine" >= 0.35)
      .persist()
    val np = t("rerank")(pairs.count())
    println(s"pairs=$np")
    val comps = t("components")(
      graft.operators.Graph.connectedComponents(pairs.select($"a_id", $"b_id")))
    t("final")(comps.count())
    spark.stop()
  }
}
