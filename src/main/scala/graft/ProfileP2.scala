package graft

import org.apache.spark.sql.functions._

/** Offline stage-by-stage profile of the native similarity self-join
  * (q_similarity_join_p2's operator) — not part of the driver contract.
  * Times each piece of the candidates-then-verify pipeline in isolation
  * so a decade-scale pathology can be attributed to a stage instead of
  * a 400 s timeout. Usage: runMain graft.ProfileP2 <sfDir>
  */
object ProfileP2 {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    // stage census: task count + max/total task time per stage, printed
    // at completion — the poor-man's UI for attributing wall clock to
    // parallelism (few fat tasks = AQE coalesced an exploding join's
    // tiny INPUT bytes) vs per-row cost (many busy tasks)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val times = new java.util.concurrent.ConcurrentHashMap[
          Int, (Int, Long, Long)]()
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = e.taskInfo.duration
          times.merge(e.stageId, (1, d, d), (a, b) =>
            (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val s = e.stageInfo
          Option(times.get(s.stageId)).filter(_._2 > 2000).foreach {
            case (n, tot, mx) => println(
              f"[stage] id=${s.stageId}%-4d tasks=$n%-5d total=${tot / 1e3}%8.1fs max=${mx / 1e3}%7.1fs  ${s.name.take(60)}")
          }
        }
      })

    def timed[T](label: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = body
      println(f"[p2prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    import org.apache.spark.ml.feature.HashingTF
    val d = graft.sources.Tables.documents(spark, dir)
      .sample(0.5, 12345L)
      .select($"doc_id", graft.queries.TextAnalysis.toks($"text").as("t"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id",
        array_distinct(graft.queries.TextAnalysis.bigramShingles($"t")).as("sh"))
      .filter(size($"sh") > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("tf")
      .setNumFeatures(4096).transform(d)

    val Op = graft.operators.SimilarityJoin
    val model = timed("fit")(Op.fitMinHash(tf, "tf", 3, 42L))
    val coefs = Op.randCoefficientsOf(model)
    val nzi = udf((v: org.apache.spark.ml.linalg.Vector) => {
      val buf = scala.collection.mutable.ArrayBuilder.make[Int]
      v.foreachActive((i, x) => if (x != 0.0) buf += i)
      buf.result()
    })
    val base = tf.select($"doc_id".as("__id"), nzi($"tf").as("__iset"))
      .filter(size($"__iset") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("base materialize (iset per doc)")(base.count())
    val sigCols = coefs.toSeq.zipWithIndex.map { case ((a, b), t) =>
      array_min(transform(col("__iset"), e =>
        ((lit(1L) + e.cast("long")) * lit(a.toLong) + lit(b.toLong))
          % lit(Op.HashPrime))).as(s"__m$t")
    }
    val sig = base.select(
      col("__id") +: col("__iset") +: size(col("__iset")).as("__n") +:
        sigCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("signatures")(sig.count())
    val ex = sig.select(col("__id"),
      posexplode(array(coefs.indices.map(t => col(s"__m$t")): _*))
        .as(Seq("__t", "__h")))
    // bucket-size census: the candidate join's cost is Σ C(bucket, 2)
    val census = timed("bucket census") {
      ex.groupBy($"__t", $"__h").agg(count(lit(1)).as("n"))
        .agg(sum($"n" * ($"n" - 1) / 2).as("pairs"), max($"n").as("maxb"),
          count(lit(1)).as("buckets")).head
    }
    println(s"[p2prof] candidate multiset = ${census.get(0)}, " +
      s"max bucket = ${census.get(1)}, buckets = ${census.get(2)}")
    // inline-verify shapes (the shipped r18 form): payload rides the
    // bucket join, exact jaccard evaluated in the join stage, dedup only
    // on survivors. A/B: plain join (AQE coalesces the tiny-input-bytes
    // partitions onto a few cores while the OUTPUT explodes) vs the
    // SkewJoin.salted form (each hot bucket's nested loop split 16 ways).
    val exWide = sig.select(col("__id"), col("__iset"), col("__n"),
      posexplode(array(coefs.indices.map(t => col(s"__m$t")): _*))
        .as(Seq("__t", "__h")))
    val inter = graft.functions.SortedIntersectExpr
      .sortedIntersectCount(col("__a_iset"), col("__b_iset"))
    val distCol = lit(1.0) - inter.cast("double") /
      (col("__a_n") + col("__b_n") - inter).cast("double")
    def finish(joined: org.apache.spark.sql.DataFrame) = joined
      .select(col("a_id"), col("b_id"), distCol.as("distCol"))
      .filter(col("distCol") < 1.0)
      .select(col("a_id"), col("b_id"),
        (lit(1.0) - col("distCol")).as("similarity"))
      .filter(col("similarity") >= 0.5)
      .groupBy(col("a_id"), col("b_id"))
      .agg(first(col("similarity")).as("similarity"))
    val a = exWide.toDF("a_id", "__a_iset", "__a_n", "__t", "__h")
    val b = exWide.toDF("b_id", "__b_iset", "__b_n", "__bt", "__bh")
    val cond = col("__t") === col("__bt") && col("__h") === col("__bh") &&
      col("a_id") < col("b_id")
    timed("join iteration only (count)")(println(
      s"[p2prof] joined rows = ${a.join(b, cond).count()}"))
    timed("join + intersect (sum inter)")(println(
      s"[p2prof] sum inter = ${a.join(b, cond)
        .agg(sum(inter.cast("long"))).head.getLong(0)}"))
    timed("full finish")(println(
      s"[p2prof] full rows = ${finish(a.join(b, cond)).count()}"))
    base.unpersist(); sig.unpersist()
    spark.stop()
  }
}
