package graft

import org.apache.spark.sql.functions._

/** r17 valued-probe audit (VERDICT r16 #3): apply the SCALE_r16 §6b
  * lesson — count() probes lie; VALUE the column — to every remaining
  * vector/signature expression chain: the minhash signature (HOF and
  * production aggregate forms), SimHash's 64-pass majority vote, the
  * IVF literal centroid chain, and the PQ encode/reconstruct chains.
  * Prints ns/row per chain next to its rough FLOP count so a forest
  * pathology (cost ≫ FLOPs, the sign-LSH 24× shape) is visible.
  * Numbers land in SCALE_r17 §3.
  */
object ProfileValuedChains {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def row(what: String, frame: org.apache.spark.sql.DataFrame,
        cols: org.apache.spark.sql.Column*): Unit = {
      ProfileValued.timeValued(frame, cols: _*) // warm (scan cache, JIT)
      val (n, sec) = ProfileValued.timeValued(frame, cols: _*)
      println(f"[chain] $what%-44s ${sec * 1e9 / math.max(1, n)}%10.0f ns/row  ($n%d rows, $sec%6.2f s)")
    }

    // ---- embeddings-side chains --------------------------------------
    val e = sources.Tables.embeddings(spark, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nE = e.count()
    println(s"[chain] embeddings rows = $nE (dim 64)")
    val cv = e.select($"id", $"vec".cast("array<double>").as("v"))
    val plane0 = operators.Ann.hyperplane(0, 0, 64, 42)
    row("baseline: 1 dot (64 FLOPs)", cv,
      functions.VectorExprs.dotProduct($"v", typedlit(plane0.toSeq)))
    val cents = operators.Ann.ivfFit(cv, nCells = 16, lloydIters = 1,
      seed = 42)
    row("ivf assignCell: 16-dot chain (1k FLOPs)", cv,
      operators.Ann.assignCell(cents)($"v"))
    val nv = cv.withColumn("nrm", queries.Embeddings.norm($"v"))
      .filter($"nrm" > 0)
      .select($"id", transform($"v", x => x / $"nrm").as("vh"))
    val cbSmall = operators.Ann.pqFit(nv, 8, 8, 32, lloydIters = 1,
      seed = 42) // 256 entries: the literal-chain regime
    row("pq literal recon: 8x32 dot chain (2k FLOPs)", nv,
      operators.Ann.pqRecon(cbSmall, 8)($"vh"))
    // isolate the literal-path pathology: codes-only chain, half-size
    // codebooks, and the codes->lookup composition in one projection
    row("pq literal CODES only: 8x32 argmax chains", nv,
      operators.Ann.pqCodes(cbSmall, 8)($"vh"))
    row("pq literal codes->lookup one projection", nv,
      operators.Ann.pqReconFromCodes(cbSmall)(
        operators.Ann.pqCodes(cbSmall, 8)($"vh")))
    val cbTiny = operators.Ann.pqFit(nv, 8, 8, 16, lloydIters = 1,
      seed = 42) // 128 entries
    row("pq literal recon 8x16 (half size)", nv,
      operators.Ann.pqRecon(cbTiny, 8)($"vh"))
    row("pq FUSED codes 8x32 (r17 kernel)", nv,
      functions.PqCodesExpr.pqCodesFused($"vh", cbSmall, 8))
    val cbShip = queries.Extended.pqCodebooksFor(spark, dir) // 8x64
    row("pq FUSED codes 8x64 (the shipped encode)", nv,
      functions.PqCodesExpr.pqCodesFused($"vh", cbShip, 8))
    val coded = operators.Ann.pqCodesJoined(nv, cbShip, 8)
    row("pq encode joined 8x64 (the old dispatch)", coded, $"codes")
    val codedM = coded.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codedM.count()
    row("pq reconFromCodes: 8 literal lookups", codedM,
      operators.Ann.pqReconFromCodes(cbShip)($"codes"))
    row("pq recon+adc dot (the per-candidate score)", codedM,
      functions.VectorExprs.dotProduct(
        operators.Ann.pqReconFromCodes(cbShip)($"codes"),
        typedlit(operators.Ann.hyperplane(1, 0, 64, 42).toSeq)))
    codedM.unpersist(blocking = false)

    // ---- documents-side chains ---------------------------------------
    val d = sources.Tables.documents(spark, dir)
      .select($"doc_id", queries.TextAnalysis.toks($"text").as("tokens"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nD = d.count()
    val avgTok = d.select(avg(size($"tokens"))).head().getDouble(0)
    println(f"[chain] documents rows = $nD, avg tokens = $avgTok%.0f")
    row("baseline: xxhash64(tokens) 1 pass", d, xxhash64($"tokens"))
    row("simhash HOF witness: 64 passes", d,
      operators.Dedup.simhashHof($"tokens"))
    row("simhash FUSED one-pass kernel (r17)", d,
      operators.Dedup.simhash($"tokens"))
    row("minhashSignature HOF form (k=32)", d,
      operators.Dedup.minhashSignature($"tokens", 32))
    // the production aggregate form: whole-frame timing (per-doc cost)
    val shingled = d.filter(size($"tokens") >= 2)
      .select($"doc_id".as("id"),
        array_distinct(functions.TextOps.shingles($"tokens", 2)).as("sh"))
    val t0 = System.nanoTime()
    val sig = operators.Dedup.minhashBuckets(shingled, 32, 8)
    val nB = sig.count()
    val secB = (System.nanoTime() - t0) / 1e9
    println(f"[chain] minhashBuckets agg form (k=32,b=8)    ${secB * 1e9 / math.max(1, nD)}%10.0f ns/doc  ($nB%d bucket rows, $secB%6.2f s)")
    spark.stop()
  }
}
