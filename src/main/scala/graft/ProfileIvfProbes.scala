package graft

import org.apache.spark.sql.functions._

/** r18 valued-probe of the fused IVF assignment kernel vs the two prior
  * dispatch arms (literal chain / broadcast join), at the shipped sf0.1
  * quantizer sizes and a decade-scale 800-cell quantizer — the probe
  * VERDICT r17 #1 said was never run for the semantic-dedup fit path.
  * Offline tooling, not a query path. */
object ProfileIvfProbes {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def row(what: String, frame: org.apache.spark.sql.DataFrame,
        cols: org.apache.spark.sql.Column*): Unit = {
      ProfileValued.timeValued(frame, cols: _*) // warm
      val (n, sec) = ProfileValued.timeValued(frame, cols: _*)
      println(f"[ivfprobe] $what%-52s ${sec * 1e9 / math.max(1, n)}%10.0f ns/row  ($n%d rows, $sec%6.3f s)")
    }

    // deterministic synthetic 200k×64 frame (sf0.1 has only 2k vectors —
    // per-row numbers there are pure job-launch overhead); hash-derived
    // components so the frame is cheap to build and fully parallel
    val cv = spark.range(200000)
      .select($"id", transform(sequence(lit(0), lit(63)),
        d => (pmod(xxhash64($"id" * 64 + d), lit(2000000)) - 1000000)
          .cast("double") / 1000000.0).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nE = cv.count()
    println(s"[ivfprobe] synthetic rows = $nE (dim 64)")

    for (nCells <- Seq(8, 16, 40, 800)) {
      val rnd = new scala.util.Random(7)
      val cents: Seq[Array[Double]] = Seq.fill(nCells) {
        val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      row(s"assignCell literal chain, $nCells cells", cv,
        operators.Ann.assignCell(cents)($"v"))
      row(s"probe slice (sort/reverse/slice 3), $nCells cells", cv,
        transform(slice(reverse(array_sort(
          operators.Ann.cellScores(cents)($"v"))), 1, 3),
          sc => sc.getField("cell")))
      row(s"FUSED ivfProbes nProbe=1, $nCells cells", cv,
        operators.Ann.ivfProbes(cents, 1)($"v"))
      row(s"FUSED ivfProbes nProbe=3, $nCells cells", cv,
        operators.Ann.ivfProbes(cents, 3)($"v"))
    }
    spark.stop()
  }
}
