package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc stage-level profiling of the r17 optimization targets (not
  * part of the driver contract). Each probe isolates one stage of a hot
  * query with the noop sink (guide §1.4) so the timed region is the
  * computation, not the sink or a count()-pruned subtree. */
object ProfileHot {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "editdist"
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def noop(tag: String, df: DataFrame, reps: Int = 2): Unit =
      (1 to reps).foreach { i =>
        spark.sparkContext.setJobDescription(s"$tag#$i")
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[probe] $tag%-40s rep$i ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }

    which match {
      case "editdist" =>
        val base = graft.sources.Tables.customer(spark, dir)
          .select($"c_custkey".cast("long").as("__id"), $"c_name".as("__s"))
          .filter($"__s".isNotNull)
        noop("base scan", base)
        val guarded = when(length($"__s") <=
            graft.operators.EditDistanceJoin.MaxStringLen, $"__s")
          .otherwise(raise_error(lit("overlong")))
        val variants = graft.operators.EditDistanceJoin
          .deletionVariants($"__s", 1)
        noop("variants (no explode)", base.select($"__id", variants.as("v")))
        noop("variants guarded", base.select($"__id",
          graft.operators.EditDistanceJoin.deletionVariants(guarded, 1).as("v")))
        val posts = base.select($"__id", $"__s", length($"__s").as("__l"),
          explode(variants).as("__v"))
        noop("posts (exploded)", posts)
        val cand = posts.as("a").join(posts.as("b"),
            col("a.__v") === col("b.__v") &&
              col("a.__id") < col("b.__id") &&
              abs(col("a.__l") - col("b.__l")) <= 1)
          .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
            col("a.__s").as("__sa"), col("b.__s").as("__sb"))
        noop("candidates (join, pre-distinct)", cand)
        noop("candidates distinct", cand.distinct())
        val verified = cand.distinct()
          .withColumn("dist", levenshtein($"__sa", $"__sb", 1))
          .filter($"dist" >= 0)
          .select($"a_id", $"b_id", $"dist")
        noop("verified (levenshtein thresholded)", verified)
        val candMin = cand.groupBy($"a_id", $"b_id")
          .agg(min($"__sa").as("__sa"), min($"__sb").as("__sb"))
        noop("candidates groupBy-min", candMin)
        noop("verified via groupBy-min", candMin
          .withColumn("dist", levenshtein($"__sa", $"__sb", 1))
          .filter($"dist" >= 0)
          .select($"a_id", $"b_id", $"dist"))
        noop("full query (with orderBy)",
          SparkEntry.queries("q_editdist_pairs")(spark, dir))

      case "lsh" =>
        val e = graft.sources.Tables.embeddings(spark, dir)
          .select($"vec_id".as("id"), $"embedding".as("vec"))
          .repartition(spark.sparkContext.defaultParallelism)
        noop("embeddings scan", e)
        val dims = e.select(size($"vec")).take(1)
        val dim = dims(0).getInt(0)
        println(s"[probe] dim=$dim")
        val cv = e.select($"id", $"vec".as("v"))
          .withColumn("nrm", graft.queries.Embeddings.norm($"v"))
        noop("norms", cv)
        for (nt <- Seq(32, 48)) {
          val b = cv.select($"id", posexplode(
            graft.operators.Ann.signLshBucketsArr($"v", nt, 4, dim, 42))
            .as(Seq("table", "bucket")))
          noop(s"signatures nt=$nt (explode)", b)
        }
      case "lsh2" =>
        val e = graft.sources.Tables.embeddings(spark, dir)
          .select($"vec_id".as("id"), $"embedding".as("vec"))
          .repartition(spark.sparkContext.defaultParallelism)
        noop("warm scan", e)
        noop("untagged 32", graft.operators.Ann
          .lshNearDupPairs(e, 0.35, nTables = 32, nBits = 4))
        noop("untagged 48", graft.operators.Ann
          .lshNearDupPairs(e, 0.35, nTables = 48, nBits = 4))
        noop("tagged 48", graft.operators.Ann
          .lshNearDupPairsTagged(e, 0.35, nTables = 48, nBits = 4))
        val t0 = System.nanoTime()
        val pinned = graft.Caches.pin(graft.operators.Ann
          .lshNearDupPairsTagged(e, 0.35, nTables = 48, nBits = 4))
        println(f"[probe] pin (localCheckpoint build)        ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        noop("pinned read", pinned)

      case _ => sys.error(s"unknown probe: $which")
    }
    spark.stop()
  }
}
