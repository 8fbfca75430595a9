package graft

import org.apache.spark.sql.functions._

/** Throwaway measurement harness for SemDeDup probe strategies (r8 #4):
  * recall vs brute-force pairs and candidate-join budget for fixed
  * top-k vs ε-re-probe assignment. Driver-side math on the collected
  * corpus (≤2k vectors at bench SF) against the REAL Ann.ivfFit
  * centroids, mirroring SemanticDedupSpec's recompute. */
object TuneSemDedup {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val threshold = 0.35

    for (dir <- args) {
      val cv = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id".as("id"), transform($"embedding",
          x => x.cast("double")).as("v"))
        .persist()
      val vs = cv.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
      val ids = vs.keys.toSeq.sorted
      val all = for {
        i <- ids; j <- ids if i < j
        c = dot(vs(i), vs(j)) / (nrm(vs(i)) * nrm(vs(j))) if c >= threshold
      } yield (i, j)

      for ((nCells, iters) <- Seq((8, 3), (16, 3))) {
        val cents = graft.operators.Ann.ivfFit(cv, nCells, iters, 42)
        val scores = vs.map { case (id, v) =>
          id -> cents.indices.map(i => dot(v, cents(i))).toArray }
        def report(tag: String, probe: Map[Long, Set[Int]]): Unit = {
          val found = all.count { case (a, b) => (probe(a) & probe(b)).nonEmpty }
          val recall = found.toDouble / all.length
          // pair-join budget proxy: sum over cells of (membership)^2,
          // relative to single-assign
          def cost(p: Map[Long, Set[Int]]) =
            p.values.flatten.groupBy(identity).values
              .map(g => g.size.toDouble * g.size).sum
          val single = vs.keys.map(id =>
            id -> Set(scores(id).zipWithIndex.maxBy(t => (t._1, t._2))._2)).toMap
          val factor = cost(probe) / cost(single)
          println(f"$dir%-28s cells=$nCells it=$iters $tag%-14s recall=$recall%.3f ($found/${all.length}) budget=${factor}%.2fx")
        }
        for (k <- Seq(2, 3)) {
          report(s"top$k", vs.keys.map { id =>
            id -> scores(id).zipWithIndex.sortBy(t => (-t._1, -t._2))
              .take(k).map(_._2).toSet }.toMap)
        }
        for (eps <- Seq(0.05, 0.1, 0.15, 0.2, 0.3)) {
          report(s"eps$eps", vs.keys.map { id =>
            val best = scores(id).max
            id -> scores(id).zipWithIndex
              .filter(_._1 >= best - eps).sortBy(t => (-t._1, -t._2))
              .take(4).map(_._2).toSet }.toMap)
        }
        // hybrid: top-2 plus any cell within eps of best, cap 4
        for (eps <- Seq(0.1, 0.2)) {
          report(s"top2+eps$eps", vs.keys.map { id =>
            val best = scores(id).max
            val byScore = scores(id).zipWithIndex.sortBy(t => (-t._1, -t._2))
            id -> (byScore.take(2) ++ byScore.drop(2).filter(_._1 >= best - eps))
              .take(4).map(_._2).toSet }.toMap)
        }
      }
      cv.unpersist()
    }
    spark.stop()
  }
}
