package graft

import org.apache.spark.sql.functions._

/** Throwaway stage profile of lshTopK at a given dir — times the
  * signature/bucket pass, the candidate join+dedup, and the full query
  * separately to locate where a decade's wall-clock goes. */
object ProfileLshTopK {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def timed[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $what%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val e = sources.Tables.embeddings(spark, dir)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .repartition(spark.sparkContext.defaultParallelism)
    val q = e.filter($"id" < 10)
    val (nT, nB, dim) = (16, 6, 64)
    val cv = e.select($"id", transform($"vec", x => x.cast("double")).as("v"))
    val qv = q.select($"id".as("q_id"), transform($"vec", x => x.cast("double")).as("q_v"))
    def bucketsOf(df: org.apache.spark.sql.DataFrame, idAs: String,
        vc: org.apache.spark.sql.Column) = df
      .select(col(idAs), posexplode(
        operators.Ann.signLshBucketsArr(vc, nT, nB, dim))
        .as(Seq("table", "bucket")))
    timed("corpus scan+repartition count") { e.count() }
    // expression-cost isolation: 1 dot, 6-bit signature, full 16-table
    // bucket array — all VALUED via sum so nothing can be pruned
    val plane0 = operators.Ann.hyperplane(0, 0, dim, 42)
    timed("one dot/row (valued)") {
      e.select(sum(graft.functions.VectorExprs
        .dotProduct($"vec", typedlit(plane0)))).head
    }
    timed("one 6-bit signature/row (valued)") {
      e.select(sum(operators.Ann.signature($"vec", 0, nB, dim, 42))).head
    }
    timed("16-table bucket array/row (valued)") {
      e.select(operators.Ann.signLshBuckets($"vec", nT, nB, dim).as("bks"))
        .select(explode($"bks").as("bk"))
        .select(sum($"bk.bucket")).head
    }
    timed("v1: sig cols project, then posexplode of refs") {
      val sigs = (0 until nT).map(t =>
        operators.Ann.signature($"vec", t, nB, dim, 42).as(s"__sig$t"))
      e.select(($"id" +: sigs): _*)
        .select($"id", posexplode(array((0 until nT).map(t =>
          col(s"__sig$t")): _*)).as(Seq("table", "bucket")))
        .select(sum($"bucket")).head
    }
    timed("v2: posexplode of inline sig array (no structs)") {
      e.select($"id", posexplode(array((0 until nT).map(t =>
          operators.Ann.signature($"vec", t, nB, dim, 42)): _*))
          .as(Seq("table", "bucket")))
        .select(sum($"bucket")).head
    }
    timed("v3: 16 sig cols valued, no explode") {
      val sigs = (0 until nT).map(t =>
        operators.Ann.signature($"vec", t, nB, dim, 42))
      e.select(sigs.reduce(_ + _).as("s")).select(sum($"s")).head
    }
    val c = bucketsOf(cv, "id", $"v")
    timed("corpus signature+bucket pass") { c.count() }
    val qb = bucketsOf(qv, "q_id", $"q_v")
    val joined = c.join(broadcast(qb), Seq("table", "bucket"))
      .filter($"id" =!= $"q_id")
    val nJ = timed("candidate join (pre-distinct)") { joined.count() }
    println(s"[profile] pre-distinct candidates = $nJ")
    val cand = joined.select($"q_id", $"id").distinct()
    val nC = timed("candidate join + distinct") { cand.count() }
    println(s"[profile] distinct candidates = $nC")
    val occ = c.groupBy($"table", $"bucket").count()
      .agg(max($"count"), avg($"count"), count(lit(1))).head
    println(s"[profile] bucket occupancy max/avg/nBuckets = $occ")
    // variant 1: probe side persisted (does the join recompute lineage
    // pathologically?)
    val cP = c.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("persist c") { cP.count() }
    timed("join from persisted c") {
      cP.join(broadcast(qb), Seq("table", "bucket"))
        .filter($"id" =!= $"q_id").count()
    }
    // variant 2: broadcast side persisted tiny frame (does building the
    // 160-row broadcast repeatedly cost?)
    val qbP = qb.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    timed("persist qb") { qbP.count() }
    timed("join c x persisted qb") {
      c.join(broadcast(qbP), Seq("table", "bucket"))
        .filter($"id" =!= $"q_id").count()
    }
    // variant 3: shuffle join instead of broadcast
    timed("shuffle join (no broadcast hint)") {
      c.join(qb.hint("merge"), Seq("table", "bucket"))
        .filter($"id" =!= $"q_id").count()
    }
    cP.unpersist(); qbP.unpersist()
    val full = operators.Ann.lshTopK(e, q, k = 5, nTables = nT, nBits = nB)
    timed("full lshTopK") { full.count() }
    timed("full lshTopK (2nd)") { full.count() }
    spark.stop()
  }
}
