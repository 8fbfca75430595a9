package graft.operators

import graft.SparkSpec
import graft.queries.TextAnalysis

/** The learned-BPE tokenizer: exact merge sequence on a hand-computable
  * corpus, greedy encode, histogram-cap determinism, the distributed
  * tokenize path, and the roundtrip/stats query contracts. */
class BpeSpec extends SparkSpec {

  private def docs(texts: (Long, String)*) = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  test("learn: exact merges on the classic low/lower corpus") {
    // word histogram: low ×3, lower ×2 (one doc contributes each word
    // count; frequencies weight the pair counts)
    val df = docs((1L, "low low lower"), (2L, "low lower"))
    val m = Bpe.learn(df, "text", vocabSize = 4)
    // pair counts round 1: (l,o)=5, (o,w)=5, (w,</w>)=3, (w,e)=2,
    // (e,r)=2, (r,</w>)=2 → tie (l,o) vs (o,w) breaks lexicographically
    assert(m.merges(0) === Bpe.Merge("l", "o", 0))
    // round 2: (lo,w)=5 wins
    assert(m.merges(1) === Bpe.Merge("lo", "w", 1))
    // round 3: (low,</w>)=3 beats (low,e)=2
    assert(m.merges(2) === Bpe.Merge("low", "</w>", 2))
    // round 4: (low,e)=2, (e,r)=2, (r,</w>)=2 → lexicographic: (e,r)
    assert(m.merges(3) === Bpe.Merge("e", "r", 3))
  }

  test("learn: exhausts gracefully when every pair is merged") {
    val m = Bpe.learn(docs((1L, "ab ab")), "text", vocabSize = 50)
    // "ab</w>" has 2 pairs to merge, then nothing: (a,b) then (ab,</w>)
    assert(m.merges.length === 2)
    assert(Bpe.encodeWord("ab", m) === Vector("ab</w>"))
  }

  test("encodeWord: greedy lowest-rank-first application") {
    val m = Bpe.Model(Seq(Bpe.Merge("l", "o", 0), Bpe.Merge("lo", "w", 1),
      Bpe.Merge("low", "</w>", 2), Bpe.Merge("e", "r", 3)))
    assert(Bpe.encodeWord("low", m) === Vector("low</w>"))
    assert(Bpe.encodeWord("lower", m) === Vector("low", "er", "</w>"))
    // unseen word falls back to codepoints + learned prefixes
    assert(Bpe.encodeWord("slow", m) === Vector("s", "low</w>"))
    assert(Bpe.encodeWord("", m) === Vector("</w>"))
  }

  test("learn is deterministic and cap keeps top words by frequency") {
    val df = docs((1L, "aa aa aa bb bb cc"), (2L, "aa bb cc dd"))
    val m1 = Bpe.learn(df, "text", vocabSize = 3)
    val m2 = Bpe.learn(df, "text", vocabSize = 3)
    assert(m1 === m2)
    // cap to 1 word: only "aa" (freq 4) survives → merges only from aa
    val capped = Bpe.learn(df, "text", vocabSize = 3, maxWords = 1)
    assert(capped.merges.forall(mg =>
      (mg.left + mg.right).replace("</w>", "").forall(_ == 'a')))
  }

  test("tokenize: distributed, per-doc counts, empty-word filtering") {
    val df = docs((1L, "low  lower"), (2L, "low"), (3L, ""))
    val m = Bpe.learn(df, "text", vocabSize = 4)
    val out = Bpe.tokenize(df, "text", "doc_id", m).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getInt(2)))).toMap
    assert(out(1L)._1 === Seq("low</w>", "low", "er", "</w>"))
    assert(out(1L)._2 === 4)
    assert(out(2L)._1 === Seq("low</w>"))
    assert(out(3L)._1 === Seq.empty) // empty text → zero tokens
  }

  test("roundtrip invariant holds on the real corpus slice") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.bpeRoundtrip(spark, sf("sf0.001"))
    val expected = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), array_join(filter(split(col("text"), " "),
        w => length(w) > 0), " ").as("expected"))
    val joined = out.join(expected, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("detok") =!= col("expected")).count() === 0)
    // the oracle's sentinel-collision precondition: no '<' in the corpus
    assert(graft.sources.Tables.documents(spark, sf("sf0.001"))
      .filter(col("text").contains("<")).count() === 0)
  }

  test("bpeTokens: compression beats whitespace-codepoint baseline") {
    val rows = TextAnalysis.bpeTokens(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val words = r.getAs[Long]("total_words")
      val cps = r.getAs[Long]("total_codepoints")
      val toks = r.getAs[Long]("total_tokens")
      // learned subwords: strictly fewer tokens than codepoints+words
      // (the no-merge worst case), at least one token per word
      assert(toks < cps + words)
      assert(toks >= words)
    }
  }

  test("bpe oracle builder: literal ranks table, escaping, fallbacks") {
    import graft.operators.Bpe.{Merge, Model}
    // a representable model → SQL embedding every (left, right, rank)
    val sql = TextAnalysis
      .buildBpeOracleSql(Model(Seq(Merge("a", "b", 0), Merge("ab", "c", 1))))
      .getOrElse(fail("representable model must yield an oracle"))
    assert(sql.contains("('a','b',0), ('ab','c',1)"))
    assert(sql.contains("GROUP BY source ORDER BY source"))
    // single quotes in symbols are SQL-escaped by doubling
    val quoted = TextAnalysis
      .buildBpeOracleSql(Model(Seq(Merge("a'b", "c", 0)))).get
    assert(quoted.contains("('a''b','c',0)"))
    // unrepresentable models fall back to rows-only (None): no merges,
    // or a symbol containing a control char (the chr(31) map-key
    // separator lives in that range, so this also guards key collisions)
    assert(TextAnalysis.buildBpeOracleSql(Model(Nil)).isEmpty)
    assert(TextAnalysis
      .buildBpeOracleSql(Model(Seq(Merge("a\u001f", "b", 0)))).isEmpty)
    // prepareBpeOracle is the fitted oracle registered under the query's
    // name, and it reuses the memoized model (same SQL on a second call)
    val entry = TextAnalysis.prepareBpeOracle(spark, sf("sf0.001"))
    assert(graft.SparkEntry.fittedOracles("q_bpe_tokens")(
      spark, sf("sf0.001")) === entry)
    assert(entry.exists(_.contains("WITH RECURSIVE")))
  }

  test("initialSymbols iterates codepoints: one symbol per astral char") {
    import graft.operators.Bpe
    // U+1D538 (𝔸) is a surrogate pair in UTF-16; the DuckDB replay
    // oracle slices per codepoint, so the Spark side must too
    val astral = new String(Character.toChars(0x1D538))
    assert(Bpe.initialSymbols(s"a${astral}b") ===
      Vector("a", astral, "b", Bpe.EndOfWord))
    // and the encode/decode roundtrip is unharmed by the grouping
    val m = Bpe.Model(Nil)
    assert(Bpe.encodeWord(s"a${astral}b", m).mkString("")
      .stripSuffix(Bpe.EndOfWord) === s"a${astral}b")
  }
}
