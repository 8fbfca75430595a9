package graft.queries

import graft.SparkSpec

/** Pins the hot-shingle document-frequency cap in ngramJaccardPairsOn:
  * shingles with df > maxDf leave the pairing universe entirely (both
  * intersection and union), and a high cap reproduces uncapped Jaccard.
  */
class TextAnalysisSpec extends SparkSpec {

  private def tokensFrame = {
    val spark2 = spark
    import spark2.implicits._
    // "a b" is the hot shingle: df = 12 (every doc). Docs 1 and 2 also
    // share the rare shingle "b c"; docs 3..12 share ONLY the hot one.
    val docs = Seq(
      (1L, "a b c x"),
      (2L, "a b c y")) ++ (3 to 12).map(i => (i.toLong, s"a b q$i"))
    docs.map { case (id, text) => (id, "en", text.split(" ").toSeq) }
      .toDF("doc_id", "lang", "t")
  }

  test("df cap drops hot shingles from intersection AND union") {
    val spark2 = spark
    import spark2.implicits._
    val capped = TextAnalysis
      .ngramJaccardPairsOn(tokensFrame, threshold = 0.01, maxDf = 5)
      .collect()
    // only the (1,2) pair survives: its rare universe is {"b c","c x"} vs
    // {"b c","c y"} → jaccard 1/3; docs 3..12 shared only "a b" → gone.
    assert(capped.length === 1)
    val row = capped.head
    assert((row.getLong(0), row.getLong(1)) === ((1L, 2L)))
    assert(math.abs(row.getDouble(3) - 1.0 / 3.0) < 1e-12)
  }

  test("bm25TopK ≡ independent local BM25 (ranks exact, scores to 1e-12)") {
    val dir = sf("sf0.001")
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // plain-Scala recompute, same rational idf and sorted-term fold
    val toks = texts.map { case (id, t) => (id, t.split(" ", -1).toSeq) }
    val n = toks.size
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, g) => ((id, w), g.size.toLong) } }
      .toMap
    val dl = toks.map { case (id, ts) => (id, ts.size.toLong) }
    val df = tf.keys.groupBy(_._2).map { case (w, g) => (w, g.size.toLong) }
    val qterms = df.toSeq.sortBy { case (w, c) => (-c, w) }
      .slice(19, 27).map(_._1).toSet
    val avgdl = dl.values.sum.toDouble / n.toDouble
    val scored = toks.keys.flatMap { id =>
      val terms = qterms.filter(w => tf.contains((id, w))).toSeq.sorted
      if (terms.isEmpty) None
      else {
        val s = terms.foldLeft(0.0) { (acc, w) =>
          val t = tf((id, w)).toDouble
          val d = df(w)
          val idf = ((n - d).toDouble + 0.5) / (d.toDouble + 0.5)
          acc + idf * (t * 2.2) /
            (t + 1.2 * (1.0 - 0.75 + 0.75 * (dl(id).toDouble / avgdl)))
        }
        Some((id, terms.size.toLong, s))
      }
    }.toSeq
    val want = scored.sortBy { case (id, _, s) => (-s, id) }.take(10)
    val got = TextAnalysis.bm25TopK(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === want.length)
    got.zip(want).zipWithIndex.foreach {
      case (((rank, id, nt, s), (wId, wNt, wS)), i) =>
        assert(rank === i + 1)
        assert(id === wId, s"rank ${i + 1}")
        assert(nt === wNt, s"doc $id")
        assert(math.abs(s - wS) <= math.abs(wS) * 1e-12, s"doc $id: $s vs $wS")
    }
    // non-vacuous: the top-k is full and multi-term matches exist
    assert(got.length === 10 && got.exists(_._3 > 1))
  }

  test("twin-collapsed pairwise form ≡ direct form on a twin-heavy corpus " +
      "(rows identical, including intra-twin and cross-class swaps)") {
    val spark2 = spark
    import spark2.implicits._
    // 4 content classes × 3 twins each + 2 singletons + 1 empty-shingle
    // class of 2 docs (must produce NO pairs in either form); ids
    // interleave across classes so the cross-class a_id < b_id swap path
    // is exercised (a twin of a LATER class can carry a SMALLER id)
    val base = Seq(
      "alpha beta gamma delta epsilon",
      "alpha beta gamma zeta eta",
      "one two three four five six",
      "one two three nine ten")
    val docs =
      (0 until 12).map(i => (i.toLong, base(i % 4))) ++
        Seq((12L, "solo text piece first"), (13L, "second lonely doc here"),
          (14L, "x"), (15L, "y")) // single-token docs: empty shingle sets
    val toks = docs.map { case (id, t) => (id, "en", t.split(" ").toSeq) }
      .toDF("doc_id", "lang", "t")
    val d = TextAnalysis.shingleFrame(toks)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val direct = TextAnalysis.postingPairCountsDirect(d, 10000)
      .collect().map(key).sortBy(x => (x._1, x._2))
    val collapsed = TextAnalysis.postingPairCountsCollapsed(d, 10000)
      .collect().map(key).sortBy(x => (x._1, x._2))
    assert(direct.nonEmpty, "twin corpus must produce pairs")
    assert(collapsed.toSeq === direct.toSeq)
    // intra-twin pairs exist (inter == a_n == b_n) and the empty-shingle
    // docs appear in neither form
    assert(direct.exists(p => p._4 == p._5 && p._5 == p._6))
    assert(!direct.exists(p => p._1 >= 14L || p._2 >= 14L))
  }

  test("compressRatio ≡ in-process deflate recompute; both verdicts occur") {
    val dir = sf("sf0.001")
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = TextAnalysis.compressRatio(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    assert(got.length === texts.size)
    got.foreach { case (id, nBytes, nDefl, ratio, keep) =>
      val raw = texts(id).getBytes("UTF-8")
      assert(nBytes === raw.length.toLong, s"doc $id")
      assert(nDefl === TextAnalysis.deflateLen(raw), s"doc $id")
      val want = if (raw.isEmpty) 1000L else nDefl * 1000L / raw.length
      assert(ratio === want, s"doc $id")
      assert(keep === (ratio >= 250L && ratio <= 950L), s"doc $id")
    }
    assert(got.exists(_._5) && got.exists(!_._5),
      "both keep and drop must occur on the real corpus")
  }

  test("containment catches quote inclusion that Jaccard misses") {
    val spark2 = spark
    import spark2.implicits._
    // doc 2 is a verbatim passage of doc 1: jaccard = 5/59 ≈ 0.085
    // (below the 0.12 near-dup threshold) while doc 2's own containment
    // is 1.0; doc 3 shares nothing
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 15).map(i => s"w$i").mkString(" ")
    val toks = Seq((1L, long), (2L, quote), (3L, "x y z q r"))
      .map { case (id, text) => (id, "en", text.split(" ").toSeq) }
      .toDF("doc_id", "lang", "t")
    val got = TextAnalysis.containmentPairsOn(toks, 0.4, 10000).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    val (inter, aN, bN) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert(inter === 5L && aN === 59L && bN === 5L) // 6 tokens → 5 bigrams
    assert(r.getDouble(7) === 1.0, "short side fully contained")
    assert(r.getDouble(8) < 0.12, "jaccard below the near-dup threshold")
    assert(r.getBoolean(9), "flagged as quote inclusion")
    // the Jaccard tier at its production threshold indeed misses it
    assert(TextAnalysis.ngramJaccardPairsOn(toks, 0.12, 10000).count() === 0)
  }

  test("containmentPairs at sf0.001: internal consistency, " +
      "jaccard twin agreement, non-vacuous") {
    val dir = sf("sf0.001")
    val got = TextAnalysis.containmentPairs(spark, dir).collect()
    got.foreach { r =>
      val (inter, aN, bN) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r.getDouble(6) === inter.toDouble / aN.toDouble)
      assert(r.getDouble(7) === inter.toDouble / bN.toDouble)
      assert(math.max(r.getDouble(6), r.getDouble(7)) >= 0.4)
      assert(r.getBoolean(9) === (r.getDouble(8) < 0.12))
    }
    assert(got.nonEmpty)
  }

  test("frame-routed containment == standalone posting join, at the " +
      "declared threshold AND at the retention-envelope floor") {
    val dir = sf("sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        java.lang.Double.doubleToRawLongBits(r.getDouble(6)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(7)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(8)))).toSet
    // the envelope keeps every row any routed consumer can emit: pin the
    // frame route against the standalone join at 0.4 (the declared
    // query) and at FrameContainmentFloor itself (the worst case — any
    // over-trimming of the envelope shows up here first)
    for (t <- Seq(0.4, TextAnalysis.FrameContainmentFloor)) {
      val routed = rows(TextAnalysis.containmentPairs(spark, dir, t))
      val standalone = rows(TextAnalysis.containmentPairsOn(
        TextAnalysis.shingleTokens(spark, dir), t, 10000))
      assert(routed === standalone, s"threshold $t")
      assert(routed.nonEmpty, s"threshold $t must be non-vacuous")
    }
  }

  test("hybridRetrieval: rerank-1 is the query doc, cosine ordered, " +
      "all rows from the BM25 candidate set") {
    val dir = sf("sf0.001")
    val cand = TextAnalysis.bm25TopK(spark, dir, k = 50).collect()
      .map(r => (r.getLong(1), r.getInt(0))).toMap // doc_id -> bm25_rank
    val top1 = cand.collectFirst { case (id, 1) => id }.get
    val got = TextAnalysis.hybridRetrieval(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
    assert(got.nonEmpty && got.length <= 10)
    // the query vector IS doc top1's embedding → self-cosine ≈ 1 wins
    assert(got.head._2 === top1)
    assert(math.abs(got.head._4 - 1.0) < 1e-9)
    got.zipWithIndex.foreach { case ((rr, id, br, _), i) =>
      assert(rr === i + 1)
      assert(cand(id) === br, s"doc $id carries its stage-1 rank")
    }
    val cos = got.map(_._4)
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
      "rerank order is non-increasing cosine")
  }

  test("rrfFusion: rrf recomputed from the two integer ranks, ordered, " +
      "candidates from the BM25 top-20") {
    val dir = sf("sf0.001")
    val cand = TextAnalysis.bm25TopK(spark, dir, k = 20).collect()
      .map(r => (r.getLong(1), r.getInt(0))).toMap // doc_id -> bm25_rank
    val got = TextAnalysis.rrfFusion(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4)))
    assert(got.nonEmpty && got.length <= 10)
    got.zipWithIndex.foreach { case ((rr, id, br, cr, rrf), i) =>
      assert(rr === i + 1)
      assert(cand(id) === br, s"doc $id carries its stage-1 rank")
      assert(cr >= 1 && cr <= 20, s"doc $id cos_rank in candidate range")
      // the fused score is exactly the two-term reciprocal sum
      assert(rrf === 1.0 / (60 + br) + 1.0 / (60 + cr), s"doc $id")
    }
    val scores = got.map(_._5)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "fusion order is non-increasing rrf")
    // cos ranks are a permutation slice: distinct within the output
    assert(got.map(_._4).distinct.length === got.length)
  }

  test("repetition filter: hand-computed metrics and keep verdicts") {
    val spark2 = spark
    import spark2.implicits._
    val got = TextAnalysis.repetitionFilter(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    assert(got.nonEmpty)
    got.foreach { case (id, nTok, topN, dup, topFrac, keep) =>
      assert(nTok >= 2 && topN >= 1 && topN <= nTok - 1, s"doc $id")
      assert(dup >= 0.0 && dup < 1.0, s"doc $id dup=$dup")
      assert(topFrac > 0.0 && topFrac <= 1.0, s"doc $id top=$topFrac")
      assert(keep === (dup <= 0.65 && topFrac <= 0.0625), s"doc $id")
    }
    // non-vacuous on the real corpus: both verdicts occur
    assert(got.exists(_._6) && got.exists(!_._6))
  }

  test("token packing: mass conserved, bins ordered, budget respected") {
    val spark2 = spark
    import spark2.implicits._
    val budget = 2048
    val got = TextAnalysis.tokenPacking(spark, sf("sf0.001"), budget)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    // total token mass across bins equals the corpus token mass
    val totalTokens = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          TextAnalysis.toks($"text"))).cast("long"))
      .head.getLong(0)
    assert(got.map(_._4).sum === totalTokens)
    got.groupBy(_._1).foreach { case (grp, bins) =>
      val sorted = bins.sortBy(_._2)
      assert(sorted.head._2 === 0L, s"group $grp must start at bin 0")
      // doc spans of consecutive bins never interleave
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6 < b._5, s"group $grp bins overlap")
        case _ =>
      }
      // a bin holds less than budget + one max-doc of tokens: all docs
      // STARTING inside the budget window, plus the one that crosses in
      sorted.foreach { b =>
        assert(b._4 < 2L * budget,
          s"group $grp bin ${b._2} mass ${b._4} (docs are far below " +
            "budget-sized in this corpus)")
      }
    }
  }

  test("doc chunking matches a driver-side recompute exactly") {
    val spark2 = spark
    import spark2.implicits._
    val (w, s) = (32, 24)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val want = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      val nChunks = 1 + (math.max(t.length - w, 0) + s - 1) / s
      (0 until nChunks).map { k =>
        val chunk = t.slice(k * s, k * s + math.min(w, t.length - k * s))
        (id, k.toLong, k.toLong * s + 1, chunk.length.toLong,
          md5hex(chunk.mkString(" ")))
      }
    }.toSet
    val got = TextAnalysis.docChunks(spark, sf("sf0.001"), w, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got === want)
    assert(got.exists(_._2 >= 1L), "corpus should produce multi-chunk docs")
  }

  test("contamination matches a driver-side recompute exactly") {
    val spark2 = spark
    import spark2.implicits._
    val got = TextAnalysis.contamination(spark, sf("sf0.01"), n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // independent recompute (plain Scala, no Spark expressions shared
    // with the implementation under test)
    val toksById = graft.sources.Tables.documents(spark, sf("sf0.01"))
      .select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 3)
    val benchGrams = toksById.filter(_._1 % 100 == 0)
      .flatMap(_._2.sliding(3).map(_.mkString(" "))).toSet
    val want = toksById.filter(_._1 % 100 != 0).map { case (id, t) =>
      val grams = t.sliding(3).map(_.mkString(" ")).toSet
      val nCont = grams.count(benchGrams.contains).toLong
      val rate = nCont.toDouble / grams.size
      (id, grams.size, nCont, rate, rate >= 0.0625)
    }.toSet
    assert(got.toSet === want)
    // benchmark rows (doc_id % 100 == 0) never appear in the output
    assert(!got.exists(_._1 % 100 == 0))
    // at n = 3 on this corpus both verdicts occur (measured: 9 flagged)
    assert(got.exists(_._5) && got.exists(!_._5))
    assert(got.exists(_._3 === 0L), "some docs must be fully clean")
  }

  test("frequentWords: MG contract holds against exact corpus counts") {
    val spark2 = spark
    import spark2.implicits._
    val got = TextAnalysis.frequentWords(spark, sf("sf0.01"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    assert(got.nonEmpty)
    val exact = graft.sources.Tables.documents(spark, sf("sf0.01"))
      .select($"lang", $"text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(w => (r.getString(0), w)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (lang, word, est, err, _) =>
      val truth = exact((lang, word))
      assert(est >= 1 && est <= truth, s"$lang/$word est=$est true=$truth")
      assert(truth <= est + err, s"$lang/$word true=$truth est+err=${est + err}")
    }
    // capacity 16 < 31-word vocab: the sketch truncates for real
    assert(got.forall(_._4 > 0L), "err must be non-zero on this corpus")
    // ranks are contiguous 1..k per language
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._5).sorted === (1 to rows.size).toArray)
    }
  }

  test("chunkDedup: kept mass equals distinct chunk count, drops are real") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.sum
    val got = TextAnalysis.chunkDedup(spark, sf("sf0.01"))
      .agg(sum($"n_chunks"), sum($"n_kept"), sum($"n_dropped"))
      .collect().head
    val (total, kept, dropped) =
      (got.getLong(0), got.getLong(1), got.getLong(2))
    val distinctChunks = TextAnalysis.docChunks(spark, sf("sf0.01"))
      .select($"chunk_md5").distinct().count()
    assert(kept === distinctChunks, "each distinct chunk survives exactly once")
    assert(total === kept + dropped)
    assert(dropped > 0, "corpus must exercise the dedup for real")
  }

  test("incremental ingest pairs == full self-join filtered to batch-touching") {
    val spark2 = spark
    import spark2.implicits._
    // the shipped query (r18: a filter over the session pair frame at the
    // base threshold)…
    val incr = TextAnalysis.ingestNearDup(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val full = TextAnalysis.ngramJaccardPairs(spark, sf("sf0.01"), 0.08)
      .filter($"a_id" % 10 === 7 || $"b_id" % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(incr === full, "shipped ingest must equal the filtered self-join")
    // …AND the index-probe machinery itself (the real-nightly-batch scale
    // path, no longer on the default query route) must reproduce it too
    val probe = TextAnalysis.ngramJaccardIncrementalOn(
        graft.sources.Tables.documents(spark, sf("sf0.01"))
          .select($"doc_id", $"lang",
            TextAnalysis.toks($"text").as("t")),
        $"doc_id" % 10 === 7, 0.08, maxDf = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(probe === full, "probe path must reproduce the self-join exactly")
    assert(incr.nonEmpty, "batch must touch real pairs")
    // both pair classes exercised: old-new and new-new
    assert(incr.exists(p => p._1 % 10 == 7 && p._2 % 10 == 7), "new-new")
    assert(incr.exists(p => (p._1 % 10 == 7) != (p._2 % 10 == 7)), "old-new")
  }

  test("cap above max df is a no-op (oracle-parity guarantee)") {
    val spark2 = spark
    import spark2.implicits._
    val uncapped = TextAnalysis
      .ngramJaccardPairsOn(tokensFrame, threshold = 0.01, maxDf = 1000)
    // (1,2) now includes "a b": {"a b","b c","c x"} ∩ {"a b","b c","c y"}
    // = 2, union 4 → 0.5; the hot-only pairs (3..12 choose 2 = 45 pairs
    // plus hot pairs with 1,2) reappear.
    val r12 = uncapped.filter($"a_id" === 1L && $"b_id" === 2L).collect()
    assert(r12.length === 1)
    assert(math.abs(r12.head.getDouble(3) - 0.5) < 1e-12)
    assert(uncapped.count() === (12L * 11L) / 2L) // every pair shares "a b"
  }

  test("span dedup ≡ driver-side sliding-window recompute at sf0.001") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spans = docs.map { case (id, text) =>
      val t = text.split(" ")
      id -> (if (t.length < 16) Seq.empty[String]
             else t.sliding(16).map(_.mkString(" ")).toSeq)
    }
    val freq = spans.values.flatten.groupBy(identity).map {
      case (k, v) => k -> v.size
    }
    val got = TextAnalysis.spanDedup(spark, sf("sf0.001")).collect()
    assert(got.length === docs.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val sp = spans(id)
      val nd = sp.count(s => freq(s) > 1)
      assert(r.getLong(1) === sp.length, s"doc $id n_spans")
      assert(r.getLong(2) === nd, s"doc $id n_dup")
      if (sp.isEmpty) assert(r.isNullAt(3), s"doc $id short-doc frac")
      else assert(r.getDouble(3) === nd.toDouble / sp.length, s"doc $id")
      assert(r.getString(4) ===
        (if (sp.nonEmpty && nd * 2 >= sp.length) "drop" else "keep"),
        s"doc $id verdict")
    }
    // non-vacuous on the real corpus: drops, keeps, AND span-less docs
    val verdicts = got.map(_.getString(4))
    assert(verdicts.contains("drop") && verdicts.contains("keep"))
    assert(got.exists(_.getLong(1) == 0L), "short-doc left-join path")
  }

  test("scrubPii: hand strings, pass-through, and idempotence") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq(
      "mail a.b-c@x.co end",
      "call 555-123-4567 or 555-12-34",
      "host 8.8.8.8 up",
      "plain words only",
      "mix u@d.org 555-000-1111 10.0.0.1")
      .toDF("t").select(graft.functions.TextOps.scrubPii(col("t")))
      .collect().map(_.getString(0))
    assert(got(0) === "mail <EMAIL> end")
    assert(got(1) === "call <PHONE> or 555-12-34") // 2-digit run: no match
    assert(got(2) === "host <IP> up")
    assert(got(3) === "plain words only") // no-op path byte-identical
    assert(got(4) === "mix <EMAIL> <PHONE> <IP>")
    // idempotent: placeholders contain nothing any pattern can re-match
    val twice = got.toSeq.toDF("t")
      .select(graft.functions.TextOps.scrubPii(col("t")))
      .collect().map(_.getString(0))
    assert(twice.toSeq === got.toSeq)
  }

  private def md5hexOf(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // driver-side winnowing replica (k=8, w=4)
  private def winnowLocal(tokens: Array[String]): Set[String] = {
    if (tokens.length < 8) return Set.empty
    val h = tokens.sliding(8).map(sp => md5hexOf(sp.mkString(" "))).toArray
    (0 to h.length - 4).map(i => h.slice(i, i + 4).min).toSet
  }

  test("winnowing guarantee: ≥(w+k−1)-token shared run ⇒ shared fingerprint") {
    val spark2 = spark
    import spark2.implicits._
    val run = (1 to 11).map(i => s"r$i") // w+k−1 = 11 tokens
    val short = (1 to 7).map(i => s"s$i") // k−1: no shared span possible
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i") ++ run ++ (1 to 5).map(i => s"z$i")),
      (2L, (1 to 9).map(i => s"b$i") ++ run ++ (1 to 14).map(i => s"y$i")),
      (3L, (1 to 20).map(i => s"c$i") ++ short ++ (1 to 9).map(i => s"x$i")),
      (4L, (1 to 16).map(i => s"d$i") ++ short ++ (1 to 13).map(i => s"w$i")))
      .toDF("doc_id", "t")
    val fps = TextAnalysis.winnowFingerprintsOn(docs, k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "guaranteed shared fingerprint")
    assert((fps(3L) & fps(4L)).isEmpty, "k−1 run shares no span, so no fp")
    // the window-min replica agrees with the operator exactly
    docs.collect().foreach { r =>
      assert(fps(r.getLong(0)) === winnowLocal(r.getSeq[String](1).toArray))
    }
  }

  test("winnow rollup ≡ driver-side recompute at sf0.001") {
    val raw = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val got = TextAnalysis.winnow(spark, sf("sf0.001")).collect()
    assert(got.length === raw.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val fps = winnowLocal(raw(id))
      assert(r.getLong(1) === math.max(raw(id).length - 7, 0), s"doc $id")
      assert(r.getLong(2) === fps.size, s"doc $id n_fp")
      if (fps.isEmpty) assert(r.isNullAt(3), s"doc $id digest")
      else assert(r.getString(3) === md5hexOf(fps.toSeq.sorted.mkString("")),
        s"doc $id digest")
    }
    assert(got.exists(_.getLong(2) == 0L), "short-doc path non-vacuous")
  }

  test("winnow pairs ≡ recompute; maxDf=1 kills every shared fingerprint") {
    val raw = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val fps = raw.map { case (id, t) => id -> winnowLocal(t) }
    val ids = raw.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = (fps(a) & fps(b)).size if shared >= 2
    } yield (a, b) -> ((shared.toLong,
      shared.toDouble / math.min(fps(a).size, fps(b).size)))).toMap
    val got = TextAnalysis.winnowPairs(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // any fingerprint shared by a pair has df ≥ 2 — a df cap of 1
    // removes the entire pairing universe by construction
    assert(TextAnalysis.winnowPairs(spark, sf("sf0.001"), maxDf = 1)
      .isEmpty)
  }

  test("pipeline funnel ≡ driver-side staged recompute; monotone") {
    val raw = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ")))
    val q1 = raw.filter { case (_, _, _, t) =>
      t.length >= 20 && 20 * (t.length - t.distinct.length) <= 13 * t.length
    }.map(_._1).toSet
    val q2 = raw.filter { case (id, _, lang, _) =>
      q1(id) && lang == "en" }.map(_._1).toSet
    val byPfx = raw.filter(r => q2(r._1))
      .groupBy(r => md5hexOf(r._4.take(16).mkString(" ")))
    val q3 = byPfx.values.map(_.map(_._1).min).toSet
    // span df among q3 survivors only
    val spanFreq = raw.filter(r => q3(r._1))
      .flatMap(r => r._4.sliding(16).filter(_.length == 16)
        .map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.length).toMap
    val q4 = raw.filter(r => q3(r._1)).filter { case (_, _, _, t) =>
      val sp = if (t.length < 16) Seq.empty
               else t.sliding(16).map(_.mkString(" ")).toSeq
      val dups = sp.count(s => spanFreq(s) > 1)
      sp.isEmpty || dups * 2 < sp.length
    }.map(_._1).toSet
    val expected = raw.groupBy(_._2).map { case (src, rows) =>
      src -> ((rows.length.toLong, rows.count(r => q1(r._1)).toLong,
        rows.count(r => q2(r._1)).toLong, rows.count(r => q3(r._1)).toLong,
        rows.count(r => q4(r._1)).toLong))
    }
    val got = TextAnalysis.pipelineFunnel(spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
    // funnel is monotone and the first three stages strictly drop
    val tot = got.values.toSeq
    val sums = (tot.map(_._1).sum, tot.map(_._2).sum, tot.map(_._3).sum,
      tot.map(_._4).sum, tot.map(_._5).sum)
    assert(sums._1 > sums._2 && sums._2 > sums._3 && sums._3 > sums._4,
      s"stages must strictly drop at sf0.001: $sums")
    assert(sums._4 >= sums._5, s"span stage monotone: $sums")
  }

  test("piiScrub query: residue classes scrubbed, others pass through") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val raw = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.piiScrub(spark, sf("sf0.001")).collect()
    assert(got.length === raw.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val (e, p, ip) = (id % 3 == 0, id % 4 == 0, id % 5 == 0)
      assert(r.getLong(1) === (if (e) 1L else 0L), s"doc $id n_email")
      assert(r.getLong(2) === (if (p) 1L else 0L), s"doc $id n_phone")
      assert(r.getLong(3) === (if (ip) 1L else 0L), s"doc $id n_ip")
      assert(r.getLong(5) === (if (e || p || ip) 1L else 0L), s"doc $id")
      if (!e && !p && !ip) // untouched docs: scrub is byte-exact no-op
        assert(r.getString(4) === md5hex(raw(id)), s"doc $id md5")
    }
  }

  test("incremental ingest: twin-collapsed form \u2261 direct form on a " +
      "twin-heavy corpus (old\u00d7new, new\u00d7new, intra-twin rows)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.{array_distinct, col, transform, xxhash64}
    // 5 base docs replicated 6\u00d7 with distinct ids + 2 singletons; batch =
    // ids \u2261 0 mod 3 (some twins new, some old, mixed within classes)
    val base = Seq(
      "a b c d e f g h", "a b c d e f g x", "a b c d e q r s",
      "m n o p q r s t", "m n o p q r s u")
    val rows = (for {
      (t, bi) <- base.zipWithIndex
      c <- 0 until 6
    } yield ((bi * 100 + c).toLong, "en", t)) ++
      Seq((9001L, "en", "z y x w v u t s"), (9002L, "de", "k l m n o p q r"))
    val tokens = rows.toDF("doc_id", "lang", "text")
      .select($"doc_id", $"lang", TextAnalysis.toks($"text").as("t"))
    val d = tokens.select($"doc_id", $"lang",
      (col("doc_id") % 3 === 0).as("is_new"),
      array_distinct(transform(TextAnalysis.bigramShingles($"t"),
        sh => xxhash64(sh))).as("sh"))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(p => (p._1, p._2)).toSeq
    val direct = run(TextAnalysis.ngramJaccardIncrementalDirect(d, 0.08, 10000))
    val collapsed = run(TextAnalysis.ngramJaccardIncrementalCollapsed(d, 0.08, 10000))
    assert(direct.nonEmpty)
    // non-vacuous on all three row species
    assert(direct.exists { case (a, b, _, j) => j == 1.0 }, "twin pairs present")
    assert(direct.exists { case (a, b, _, j) => j < 1.0 }, "cross pairs present")
    assert(collapsed === direct)
  }

  test("mmrRerank ≡ independent local greedy MMR (selection, order, and " +
      "scores bit-exact) and the diversity penalty is non-vacuous") {
    val dir = sf("sf0.001")
    val got = TextAnalysis.mmrRerank(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length === 5)
    assert(got.map(_._2).distinct.length === 5, "distinct selections")
    // independent local recompute from raw parquet: same candidate rule
    // (BM25 rank-1 doc is the query, ranks 2..20 are candidates), same
    // greedy formulas
    val bm25 = TextAnalysis.bm25TopK(spark, dir, 20).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val ids = bm25.map(_._2).toSet
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      .filter { case (id, _) => ids.contains(id) }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val q = vecs(bm25.find(_._1 == 1).get._2)
    var remaining = bm25.filter(_._1 != 1).map(_._2).sortBy(identity).toList
    var selected = List.empty[Long]
    val want = (1 to 5).map { rank =>
      val scored = remaining.map { id =>
        val rel = cos(q, vecs(id))
        val m = if (selected.isEmpty) rel
          else 0.5 * rel - 0.5 * selected.map(s => cos(vecs(id), vecs(s))).max
        (id, rel, m)
      }
      val best = scored.minBy { case (id, _, m) => (-m, id) }
      selected = selected :+ best._1
      remaining = remaining.filterNot(_ == best._1)
      (rank, best._1, best._2, best._3)
    }
    assert(got.toSeq === want)
    // non-vacuity: at least one selection's marginal differs from its
    // rel (the diversity penalty actually moved a score)
    assert(want.exists { case (rank, _, rel, m) => rank > 1 && m != rel })
  }

  test("dsirWeights: scores match a local recompute bit-exactly and the " +
      "target-exclusive doc is kept") {
    val spark2 = spark
    import spark2.implicits._
    // 1 target doc of exclusive tokens, 3 raw docs: two of raw-only
    // tokens, one mixed. Weights: target-only tok → (cnt+1)/1; raw-only
    // tok → 1/(cnt+1).
    val docs = Seq(
      (1L, "src0", "alpha beta alpha gamma"),
      (2L, "srcX", "delta epsilon delta"),
      (3L, "srcY", "epsilon zeta zeta"),
      (4L, "srcZ", "alpha delta"))
    val dir = tempDir("graft-dsir-").toString
    docs.toDF("doc_id", "source", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.dsirWeights(spark, dir, target = "src0")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    // local recompute with the same smoothing and sorted-token fold
    val toks = docs.map { case (id, src, t) => (id, src, t.split(" ").toSeq) }
    val vocab = toks.flatMap(_._3).distinct
    val wt = vocab.map { w =>
      val tgt = toks.filter(_._2 == "src0").map(_._3.count(_ == w)).sum
      val raw = toks.filter(_._2 != "src0").map(_._3.count(_ == w)).sum
      w -> (tgt + 1).toDouble / (raw + 1).toDouble
    }.toMap
    toks.foreach { case (id, _, ts) =>
      val sorted = ts.sorted
      val s = sorted.foldLeft(0.0)((acc, w) => acc + wt(w))
      val score = s / ts.size.toDouble
      val (n, gotScore, keep) = got(id)
      assert(n === ts.size.toLong, s"doc $id n_tokens")
      assert(gotScore === score, s"doc $id score bit-exact")
      assert(keep === (score >= 55.0 / 1024.0), s"doc $id keep")
    }
    // the target doc's exclusive tokens weigh (cnt+1)/1 ≥ 2 — far above
    // any sane threshold (raw-doc drop verdicts need a big corpus where
    // the baseline ≈ 1/(S−1) bites; pinned on sf0.01 below)
    assert(got(1L)._3, "target-exclusive doc must be kept")
  }

  test("dsirWeights: both keep verdicts occur on the real sf0.01 corpus") {
    val rows = TextAnalysis.dsirWeights(spark, sf("sf0.01")).collect()
    val kept = rows.count(_.getBoolean(3))
    assert(kept > 0, "no doc kept — threshold vacuously strict")
    assert(kept < rows.length, "every doc kept — threshold vacuously loose")
  }

  test("lmFluency: scores match a local bigram-LM recompute bit-exactly") {
    val spark2 = spark
    import spark2.implicits._
    // a fluent doc (repeats the corpus's dominant bigrams), a disfluent
    // doc (each bigram unique), and a two-token doc; one single-token
    // doc must be excluded entirely
    val docs = Seq(
      (1L, "src0", "the cat sat on the cat sat on the cat"),
      (2L, "srcX", "cat the on sat zebra quark lemon vivid"),
      (3L, "srcY", "the cat"),
      (4L, "srcZ", "lonely"))
    val dir = tempDir("graft-lmflu-").toString
    docs.toDF("doc_id", "source", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.lmFluency(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "single-token doc excluded")
    // local recompute: Laplace-smoothed p(w2|w1) with history counts
    // and the corpus vocabulary, folded in sorted-bigram order
    val toksAll = docs.map { case (id, _, t) => id -> t.split(" ").toSeq }
    val vocabN = toksAll.flatMap(_._2).distinct.size
    val bgs = toksAll.filter(_._2.size >= 2).map { case (id, ts) =>
      id -> ts.sliding(2).map(p => p.head + " " + p(1)).toSeq }
    val cBg = bgs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val cHist = bgs.flatMap(_._2).map(_.split(" ").head)
      .groupBy(identity).view.mapValues(_.size).toMap
    bgs.foreach { case (id, bs) =>
      val sorted = bs.sorted
      val psum = sorted.foldLeft(0.0)((acc, bg) => acc +
        (cBg(bg) + 1).toDouble / (cHist(bg.split(" ").head) + vocabN).toDouble)
      val score = psum / bs.size.toDouble
      val (n, gotScore, keep) = got(id)
      assert(n === bs.size.toLong, s"doc $id n_bigrams")
      assert(gotScore === score, s"doc $id score bit-exact")
      assert(keep === (score >= 34.0 / 1024.0), s"doc $id keep")
    }
    // the repeated-bigram doc outscores the all-unique-bigram doc
    assert(got(1L)._2 > got(2L)._2, "fluent doc must outscore disfluent")
  }

  test("lmFluency: both keep verdicts occur on the real sf0.01 corpus") {
    val rows = TextAnalysis.lmFluency(spark, sf("sf0.01")).collect()
    val kept = rows.count(_.getBoolean(3))
    assert(kept > 0, "no doc kept — threshold vacuously strict")
    assert(kept < rows.length, "every doc kept — threshold vacuously loose")
  }
}
