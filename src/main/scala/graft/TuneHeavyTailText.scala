package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r17 heavy-tailed document-length arm (VERDICT r16 #2): the power-law
  * GRAPH arm caught a 73× hub defect precisely because the organic
  * decades were near-uniform; document LENGTH is the same untested axis
  * for the shingle/text family, whose per-doc work is ∝ len (or worse).
  *
  * Generates two corpora with EQUAL TOTAL TOKEN COUNT — near-uniform
  * lengths vs a Zipf tail topped by a ~10⁶-token document — and runs
  * the length-sensitive queries through both. A heavy-tail-specific
  * pathology shows as zipf-time ≫ uniform-time at equal token mass
  * (straggler task or per-doc superlinearity); matched times mean the
  * operator's work really is token-linear and shuffle-balanced.
  *
  * Text is built from a shared 20-token phrase bank so duplicate spans
  * and shingle structure exist (span/winnow/minhash machinery has real
  * work), while whole-doc similarity stays low (the pair joins don't
  * drown in output). All integer-deterministic: both arms are
  * regenerable bit-for-bit. Numbers land in SCALE_r17 §4.
  */
object TuneHeavyTailText {
  val PhraseBank = 200000
  val PhraseLen = 20

  /** Token j of phrase p — small vocab inside a phrase, phrase-distinct. */
  private def token(p: Int, j: Int): String =
    "w" + (((p.toLong * 1000003L + j.toLong * 8191L) ^ (p >> 3)) % 60000L)

  /** Deterministic phrase id for block b of doc d. */
  private def phraseOf(d: Long, b: Long): Int =
    (java.lang.Long.rotateLeft(d * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL, 23)
      .abs % PhraseBank).toInt

  def docText(d: Long, tokens: Int): String = {
    val sb = new java.lang.StringBuilder(tokens * 7)
    var t = 0
    var b = 0L
    while (t < tokens) {
      val p = phraseOf(d, b)
      var j = 0
      while (j < PhraseLen && t < tokens) {
        if (t > 0) sb.append(' ')
        sb.append(token(p, j))
        j += 1; t += 1
      }
      b += 1L
    }
    sb.toString
  }

  def writeCorpus(spark: SparkSession, dir: String,
      lengths: Array[Int]): Unit = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(lengths)
    spark.range(lengths.length)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Long]
      .map { d =>
        val text = docText(d, bc.value(d.toInt))
        (d, text, if (d % 7 < 5) "en" else "de", "s" + (d % 10),
          text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Zipf lengths: l_i = max(20, head / (i+1)^alpha) until the token
    * budget is spent; the remainder becomes 20-token dust. */
  def zipfLengths(total: Long, head: Int, alpha: Double): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var sum = 0L
    var i = 0
    while (sum < total) {
      val l = math.max(20, (head / math.pow(i + 1.0, alpha)).toInt)
      val take = math.min(l.toLong, total - sum).toInt
      out += math.max(1, take)
      sum += take
      i += 1
    }
    out.toArray
  }

  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(20000000L)
    val outRoot = args.drop(1).headOption.getOrElse("target/heavytail")
    val spark = Sessions.builder(Sessions.cpus)
      .config("spark.driver.maxResultSize", "4g").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val uniform = Array.fill((total / 200L).toInt)(200)
    val zipf = zipfLengths(total, head = 1000000, alpha = 1.05)
    println(s"[ht] uniform: ${uniform.length} docs x 200 tokens")
    println(s"[ht] zipf: ${zipf.length} docs, head=${zipf.take(5).mkString(",")}, " +
      s"p50=${zipf(zipf.length / 2)}, total=${zipf.map(_.toLong).sum}")

    val arms = Seq("unif" -> uniform, "zipf" -> zipf)
    arms.foreach { case (name, lens) =>
      val t0 = System.nanoTime()
      writeCorpus(spark, s"${outRoot}_$name", lens)
      println(f"[ht] wrote $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val queryNames = Seq("q_token_stats", "q_span_dedup", "q_winnow",
      "q_winnow_pairs", "q_winnow_dedup", "q_cdc_chunks", "q_cdc_dedup",
      "q_doc_chunks", "q_bpe_roundtrip", "q_minhash_neardup",
      "q_lang_id", "q_fingerprint")
    val qs = SparkEntry.queries
    println(f"[ht] ${"query"}%-20s ${"unif_cold"}%10s ${"unif_warm"}%10s ${"zipf_cold"}%10s ${"zipf_warm"}%10s  ratio(warm)")
    queryNames.foreach { qn =>
      val times = arms.map { case (name, _) =>
        val dir = s"${outRoot}_$name"
        def once(): Double = {
          val t0 = System.nanoTime()
          val n = qs(qn)(spark, dir).count()
          require(n >= 0)
          (System.nanoTime() - t0) / 1e9
        }
        try { val cold = once(); val warm = once(); (cold, warm) }
        catch { case e: Exception =>
          println(s"[ht] $qn/$name FAILED: ${e.getMessage.take(200)}")
          (-1.0, -1.0)
        }
      }
      val Seq((uc, uw), (zc, zw)) = times
      val ratio = if (uw > 0 && zw > 0) zw / uw else Double.NaN
      println(f"[ht] $qn%-20s $uc%10.2f $uw%10.2f $zc%10.2f $zw%10.2f  $ratio%8.2fx")
    }
    spark.stop()
  }
}
