package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Embeddings, Events, Extended, GraphQueries, Relational, Storage, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Entries in `queries` have a DuckDB-equivalent in `oracleSql` or, when
  * the SQL embeds fitted state, in `fittedOracles` (same column names,
  * same ordering, same arithmetic op order so doubles are bit-equal —
  * rationale in the query modules' scaladoc). The rest are rows-only by
  * design, covered by ScalaTest specs instead, per the contract.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference p1 relational core re-expressed on the documents table
    * (SURVEY.md §7.3): candidate pairs → featurize → label. */
  def entry(spark: SparkSession): DataFrame =
    TextAnalysis.linkpredPairs(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** Every registered query, in harness run order: oracle-checked
    * relational core first, heavy library operators last, so a
    * wall-clock-capped Verify/Bench pass on a slow host (measured 5-20×
    * slower than local) degrades by trimming the heavy tail, never the
    * cheap core. The LR e2e pair closes the order.
    * Declaration order IS run order; QueriesSpec checks that no name is
    * declared twice (a map literal would silently keep the last). */
  private[graft] def registry: Seq[(String, Query)] = Seq(
    // relational core — cheap, oracle-checked
    "q_top_orders"        -> (Relational.topOrders(_, _)),
    "q_pricing_summary"   -> (Relational.pricingSummary(_, _)),
    "q_ship_priority"     -> ((s, d) => Relational.shipPriority(s, d)),
    "q_mv_refresh"        -> (Relational.mvRefresh(_, _)),
    "q_orders_rollup"     -> (Relational.ordersRollup(_, _)),
    "q_label_join"        -> (Relational.labelJoin(_, _)),
    "q_customers_with_orders"    -> (Relational.customersWithOrders(_, _)),
    "q_customers_without_orders" -> (Relational.customersWithoutOrders(_, _)),
    "q_customer_top_orders" -> ((s, d) => Relational.customerTopOrders(s, d)),
    "q_region_revenue"    -> (Relational.regionRevenue(_, _)),
    "q_triplet_join"      -> (Relational.tripletJoin(_, _)),
    "q_threshold_sweep"   -> (Relational.thresholdSweep(_, _)),
    "q_nation_delta"      -> (Extended.nationDelta(_, _)),
    "q_null_fill"         -> (Extended.nullFill(_, _)),
    "q_distinct_counts"   -> (Extended.distinctCounts(_, _)),
    "q_pivot_status"      -> (Relational.pivotStatus(_, _)),
    "q_orders_cube"       -> (Relational.ordersCube(_, _)),
    "q_quantiles"         -> (Relational.quantiles(_, _)),
    "q_part_strings"      -> (Relational.partStrings(_, _)),
    // wave 2: library operators — the Spark-internal sketches
    // (q_approx_distinct HLL++, q_approx_quantiles GK) stay rows-only by
    // design with graft-native hash-checked twins (q_hll_distinct,
    // q_hash_quantiles); q_lsh_topk got its hyperplane-replay oracle in
    // r13, q_minhash_neardup/q_simhash_neardup their full xxhash64-replay
    // oracles in r14 (XxhReplaySql), q_similarity_join_p2 its
    // Murmur3/coefficient-replay oracle in r14 (Murmur3ReplaySql, a
    // fitted oracle — the sampled ids + reflected MinHash coefficients
    // embed per-session, see fittedOracles), and
    // q_stratified_sample its key-hash flip in r14 (the draw is a pure
    // function of the row key, so the sample itself replays)
    "q_approx_distinct"   -> (Extended.approxDistinct(_, _)),
    "q_approx_quantiles"  -> (Extended.approxQuantiles(_, _)),
    "q_hll_distinct"      -> (Extended.hllDistinct(_, _)),
    "q_hash_quantiles"    -> (Extended.hashQuantiles(_, _)),
    // KMV sketch-intersection source-overlap matrix: the no-pairwise-
    // join overlap estimator (Beyer et al. / theta sketches), fully
    // replayed from raw text by the oracle
    "q_sketch_overlap"    -> (Extended.sketchOverlap(_, _)),
    "q_window_hll"        -> (Extended.windowHll(_, _)),
    // sketch-state-as-data: stored binary HLL states merged on read;
    // the full-recompute oracle proves merge ≡ one-pass bit-for-bit
    "q_hll_merge"         -> (Extended.hllMergeMv(_, _)),
    // KMV snapshot difference: batch-vs-corpus vocabulary novelty from
    // sketches alone (the crawl-worth-keeping measure)
    "q_sketch_delta"      -> (Extended.sketchDelta(_, _)),
    "q_stratified_sample" -> (Extended.stratifiedSample(_, _)),
    "q_bottomk_sample"    -> (Extended.bottomkSample(_, _)),
    // key-hash priority sampling (r14) is a deterministic pure function
    // of the rows, so it carries a full oracle — the first rows-exact
    // SAMPLING query
    "q_priority_sample"   -> (Extended.prioritySample(_, _)),
    "q_hash_split"        -> (Extended.hashSplit(_, _)),
    "q_source_mix"        -> (Extended.sourceMix(_, _)),
    "q_mix_temperature"   -> (Extended.mixTemperature(_, _)),
    "q_epoch_shuffle"     -> ((s, d) => Extended.epochShuffle(s, d)),
    "q_skew_join"         -> (Relational.skewJoin(_, _)),
    "q_price_bands"       -> (Relational.priceBands(_, _)),
    "q_bloom_prune"       -> (Relational.bloomPruneJoin(_, _)),
    "q_argmin_join"       -> (Relational.argminJoin(_, _)),
    "q_late_orders"       -> (Relational.lateOrders(_, _)),
    "q_string_agg"        -> ((s, d) => Relational.orderedAgg(s, d)),
    "q_custdist"          -> (Relational.custDist(_, _)),
    "q_range_window"      -> (Relational.rangeWindow(_, _)),
    "q_grouping_sets"     -> (Relational.groupingSets(_, _)),
    "q_full_outer"        -> (Relational.fullOuter(_, _)),
    "q_nation_intersect"  -> (Relational.nationIntersect(_, _)),
    "q_window_suite"      -> (Relational.windowSuite(_, _)),
    "q_nullsafe_join"     -> (Relational.nullsafeJoin(_, _)),
    // events
    "q_hourly_stats"      -> (Events.hourlyStats(_, _)),
    "q_json_props"        -> (Events.jsonProps(_, _)),
    "q_json_typed"        -> (Extended.jsonTyped(_, _)),
    "q_event_windows"     -> (Extended.eventWindows(_, _)),
    "q_user_sessions"     -> ((s, d) => Events.userSessions(s, d)),
    "q_session_windows"   -> (Events.sessionWindows(_, _)),
    "q_asof_join"         -> (Events.asofClickPurchase(_, _)),
    "q_event_pairs"       -> (Events.eventPairs(_, _)),
    "q_funnel"            -> ((s, d) => Events.funnel(s, d)),
    "q_hourly_delta"      -> (Events.hourlyDelta(_, _)),
    "q_cohort_retention"  -> (Events.cohortRetention(_, _)),
    "q_hourly_anomaly"    -> (Events.hourlyAnomaly(_, _)),
    // storage / streaming table maintenance (writes scratch snapshots;
    // r8): the CDC MERGE sink replay, the COW MERGE snapshot, and the
    // skipping-index prune — all oracle-checked (VERDICT r7 #2/#3)
    "q_skipping_prune"    -> (Storage.skippingPrune(_, _)),
    "q_zorder_prune"      -> (Storage.zorderPrune(_, _)),
    "q_compaction"        -> (Storage.compaction(_, _)),
    "q_merge_state"       -> (Storage.mergeState(_, _)),
    "q_merge_partitioned" -> (Storage.mergePartitionedState(_, _)),
    "q_evolved_read"      -> (Storage.evolvedRead(_, _)),
    "q_bucketed_join"     -> (Storage.bucketedJoin(_, _)),
    "q_cdc_state"         -> (Storage.cdcState(_, _)),
    "q_stream_sessions"   -> ((s, d) => Storage.streamSessions(s, d)),
    "q_stream_dedup"      -> (Storage.streamDedup(_, _)),
    // text analysis
    "q_token_stats"       -> (TextAnalysis.tokenStats(_, _)),
    "q_source_diversity"  -> (TextAnalysis.sourceDiversity(_, _)),
    "q_quality_score"     -> (TextAnalysis.qualityScore(_, _)),
    "q_repetition_filter" -> (TextAnalysis.repetitionFilter(_, _)),
    // deflate-based repetitiveness signal; rows-only by design (no
    // DuckDB deflate) — kernel pinned by in-process recompute in spec
    "q_compress_ratio"    -> (TextAnalysis.compressRatio(_, _)),
    "q_profile"           -> (Extended.profileDocuments(_, _)),
    "q_token_packing"     -> ((s, d) => TextAnalysis.tokenPacking(s, d)),
    "q_doc_chunks"        -> ((s, d) => TextAnalysis.docChunks(s, d)),
    "q_cdc_chunks"        -> ((s, d) => TextAnalysis.cdcChunks(s, d)),
    "q_cdc_dedup"         -> ((s, d) => TextAnalysis.cdcDedup(s, d)),
    "q_chunk_dedup"       -> ((s, d) => TextAnalysis.chunkDedup(s, d)),
    "q_contamination"     -> ((s, d) => TextAnalysis.contamination(s, d, n = 3)),
    "q_lang_id"           -> (TextAnalysis.langId(_, _)),
    "q_fingerprint"       -> (TextAnalysis.fingerprint(_, _)),
    "q_df_score"          -> ((s, d) => TextAnalysis.dfScore(s, d)),
    "q_dsir_weights"      -> ((s, d) => TextAnalysis.dsirWeights(s, d)),
    "q_lm_fluency"        -> ((s, d) => TextAnalysis.lmFluency(s, d)),
    "q_span_dedup"        -> ((s, d) => TextAnalysis.spanDedup(s, d)),
    "q_pii_scrub"         -> (TextAnalysis.piiScrub(_, _)),
    "q_winnow"            -> ((s, d) => TextAnalysis.winnow(s, d)),
    "q_winnow_pairs"      -> ((s, d) => TextAnalysis.winnowPairs(s, d)),
    "q_winnow_dedup"      -> (TextAnalysis.winnowDedup(_, _)),
    "q_pipeline_funnel"   -> (TextAnalysis.pipelineFunnel(_, _)),
    "q_dedup_exact"       -> (TextAnalysis.dedupExact(_, _)),
    "q_word_topk"         -> ((s, d) => TextAnalysis.wordTopK(s, d)),
    "q_bigram_topk"       -> ((s, d) => TextAnalysis.bigramTopK(s, d)),
    // rows-only PRECISELY because Misra–Gries' per-partition UPDATE
    // fold is arrival-order-dependent (r15, VERDICT r14 #7: the merge
    // tree IS order-invariant by design — pointwise sum + one
    // eval-time truncation — but the in-partition fold is not: at
    // capacity 1 the multiset {a,a,c,d} yields summary {} with err 2
    // streamed a,a,c,d and {a:2} with err 1 streamed c,d,a,a — both
    // honor est ≤ true ≤ est+err; pinned executable in
    // SketchAggsSpec). A DuckDB replay would therefore have to
    // simulate Spark's exact scan-split boundaries and in-file row
    // order — a function of session config, not of the table, so no
    // pure-SQL oracle can exist. The est ≤ true ≤ est+err CONTRACT is
    // what the sketch promises and what the spec pins under
    // 1/3/8-partition splits; the exact-sum twin q_cm_words is the
    // hash-checked ground truth.
    "q_frequent_words"    -> ((s, d) => TextAnalysis.frequentWords(s, d)),
    "q_cm_words"          -> (TextAnalysis.cmWords(_, _)),
    "q_tfidf_topk"        -> ((s, d) => TextAnalysis.tfidfTopK(s, d)),
    // BM25 retrieval over a corpus-derived query (df-rank terms); the
    // RAG passage-ranking primitive as a broadcast posting-list probe
    "q_bm25_topk"         -> ((s, d) => TextAnalysis.bm25TopK(s, d)),
    // two-stage lexical→semantic rerank over the BM25 candidates
    "q_hybrid_retrieval"  -> ((s, d) => TextAnalysis.hybridRetrieval(s, d)),
    "q_rrf_fusion"        -> ((s, d) => TextAnalysis.rrfFusion(s, d)),
    "q_mmr_rerank"        -> ((s, d) => TextAnalysis.mmrRerank(s, d)),
    "q_embed_stats"       -> (Embeddings.embedStats(_, _)),
    // multimodal driver evidence: generated seeded PNGs encoded + decoded
    // through the real codec seam; rows-only by design (DuckDB cannot
    // decode PNG — exact sums for one id are pinned in PngSpec instead)
    "q_png_stats"         -> ((s, _) => graft.multimodal.Multimodal.pngStats(s)),
    "q_jpeg_stats"        -> ((s, _) => graft.multimodal.Multimodal.jpegStats(s)),
    // the lossless half of the JPEG evidence: container structure parsed
    // without entropy decode, oracle-replayed from the generator formulas
    "q_jpeg_meta"         -> ((s, _) => graft.multimodal.Multimodal.jpegMeta(s)),
    // same pattern for the real WAV + Y4M kernels: seeded generated
    // clips round-trip through the codec seams, integer features
    "q_wav_stats"         -> ((s, _) => graft.multimodal.Multimodal.wavStats(s)),
    "q_adpcm_stats"       -> ((s, _) => graft.multimodal.Multimodal.adpcmStats(s)),
    // the lossy MDCT/TDAC transform tier: silence exactness + SNR floor
    // as oracle-hashable booleans (see Multimodal.mdctStats)
    "q_mdct_stats"        -> ((s, _) => graft.multimodal.Multimodal.mdctStats(s)),
    "q_video_stats"       -> ((s, _) => graft.multimodal.Multimodal.videoStats(s)),
    "q_mjpeg_stats"       -> ((s, _) => graft.multimodal.Multimodal.mjpegStats(s)),
    // perceptual image near-dup (r17): dHash through the real codec
    // round trip, Hamming-banded pairs. PNG path oracle-exact (the
    // generator's cell lumas survive the lossless round trip, so DuckDB
    // recomputes the pair set from the formulas); JPEG twin rows-only by
    // design — its fingerprints ride the lossy transform (the
    // q_jpeg_stats argument), pinned instead by ImageNearDupSpec.
    "q_image_neardup"     -> ((s, _) => graft.multimodal.Multimodal.imageNearDup(s)),
    "q_image_neardup_jpeg" -> ((s, _) =>
      graft.multimodal.Multimodal.imageNearDup(s, codec = "jpg")),
    // learned-BPE tokenizer (operators/Bpe.scala): roundtrip is the
    // oracle gate (lossless detokenization, DuckDB recomputes the
    // normalized text independently); token totals replay the learned
    // merges in DuckDB (r12 — see TextAnalysis.prepareBpeOracle)
    "q_bpe_roundtrip"     -> (TextAnalysis.bpeRoundtrip(_, _)),
    "q_bpe_tokens"        -> (TextAnalysis.bpeTokens(_, _)),
    // pairwise / embeddings / library — heavier.
    // The deletion-neighborhood edit-distance join (r14) is a
    // deterministic pure function of the rows: full oracle.
    "q_editdist_pairs"    -> (Extended.editdistPairs(_, _)),
    "q_linkpred_pairs"    -> (TextAnalysis.linkpredPairs(_, _)),
    "q_ngram_jaccard"     -> ((s, d) => TextAnalysis.ngramJaccardPairs(s, d)),
    // per-side containment over the same postings: the quote-inclusion
    // pairs symmetric Jaccard structurally misses
    "q_containment_pairs" -> ((s, d) => TextAnalysis.containmentPairs(s, d)),
    "q_ingest_neardup"    -> ((s, d) => TextAnalysis.ingestNearDup(s, d)),
    "q_pair_degrees"      -> (GraphQueries.pairDegrees(_, _)),
    "q_pair_triangles"    -> (GraphQueries.pairTriangles(_, _)),
    "q_dedup_clusters"    -> (GraphQueries.dedupClusters(_, _)),
    "q_cluster_sizes"     -> (GraphQueries.clusterSizes(_, _)),
    "q_dedup_corpus"      -> (GraphQueries.dedupCorpus(_, _)),
    "q_dedup_keepbest"    -> (GraphQueries.dedupKeepBest(_, _)),
    "q_pair_kcore"        -> ((s, d) => GraphQueries.pairKcore(s, d)),
    // q_pair_pagerank (float twin) RETIRED r11 (ADVICE r9 #6): 5.3 s of
    // bench for zero oracle signal — rows-only while the fixed-point twin
    // below is oracle bit-matched; the float operator (Graph.pageRank)
    // stays, pinned by GraphSpec (closed forms + ≡ local power iteration
    // + fp-twin agreement within truncation error).
    "q_pair_pagerank_fp"  -> (GraphQueries.pairPagerankFixed(_, _)),
    "q_embed_centroids"   -> (Embeddings.centroids(_, _)),
    "q_semantic_dedup"    -> ((s, d) => Embeddings.semanticDedup(s, d)),
    "q_multiset_pairs"    -> (Extended.multisetPairs(_, _)),
    "q_cosine_topk"       -> ((s, d) => Embeddings.cosineTopK(s, d)),
    "q_cosine_neardup"    -> ((s, d) => Embeddings.cosineNearDup(s, d)),
    // sign-LSH near-dup: oracle replays the seeded hyperplanes (r13)
    "q_lsh_neardup"       -> ((s, d) => Embeddings.cosineNearDupLsh(s, d)),
    "q_lsh_recall"        -> (Embeddings.lshRecall(_, _)),
    "q_simhash_neardup"   -> (Extended.simhashNearDup(_, _)),
    "q_simhash_recall"    -> (Extended.simhashRecall(_, _)),
    "q_minhash_neardup"   -> (Extended.minhashNearDup(_, _)),
    "q_neardup_recall"    -> (Extended.neardupRecall(_, _)),
    "q_retrieval_eval"    -> (Extended.retrievalEval(_, _)),
    "q_lsh_topk"          -> (Extended.lshTopK(_, _)),
    "q_ivf_topk"          -> (Extended.ivfTopK(_, _)),
    "q_ivf_recall"        -> (Extended.ivfRecall(_, _)),
    "q_pq_topk"           -> (Extended.pqTopK(_, _)),
    "q_pq_recall"         -> (Extended.pqRecall(_, _)),
    "q_ivfpq_topk"        -> (Extended.ivfPqTopK(_, _)),
    "q_ivfpq_recall"      -> (Extended.ivfPqRecall(_, _)),
    "q_similarity_join_p2" -> (Extended.similarityJoinP2(_, _)),
    // LR family flipped to hash-checked in r15 (the coefficient-embed
    // device, oracle/LrReplaySql): training stays Spark-side (L-BFGS
    // treeAggregate float order) and session-memoized, the oracle
    // embeds the fitted coefficients and replays the pure scoring
    // function — prediction at the default threshold ≡ margin > 0,
    // libm-free
    "q_quality_classifier" -> (graft.ml.QualityFilter.confusion(_, _)),
    "q_linkpred_ann_e2e"  -> (Extended.linkpredAnnE2e(_, _)),
    "q_linkpred_e2e"      -> (Extended.linkpredE2e(_, _)),
  )

  /** One entry per implemented operator from SURVEY.md §2, iterating in
    * run order. */
  def queries: Map[String, Query] = ListMap.from(registry)

  /** queries keys in run order. */
  def orderedQueryNames: Seq[String] = queries.keys.toSeq

  // DuckDB lambda/list helpers used below (verified against DuckDB 1.x):
  //   string_split, list_distinct, list_intersect (set semantics =
  //   Spark array_intersect), list_filter(x -> x IN (...)),
  //   list_transform(generate_series(1, n), i -> ...) (1-based, [] when
  //   n < 1), list_reduce (left fold from the first element ≡ Spark
  //   aggregate with 0.0 init), epoch_us, json_extract_string, md5.

  // shared CTE: per-document distinct bigram-shingle sets with the SAME
  // per-(lang, shingle) document-frequency cap (TextAnalysis.NearDupMaxDf,
  // the ONE shared constant — ADVICE r11) the Spark
  // side applies (TextAnalysis.postingPairCounts maxDf) — mirrored here
  // so the bit-match holds by construction even on a corpus where the
  // cap binds (ADVICE r10; it is a measured no-op on the testdata — max
  // shingle df 152 at sf0.1). Docs whose kept set is empty drop out of
  // `d`; they can never pass any overlap threshold, so the pair results
  // are unchanged. Ends with `d(doc_id, lang, sh)`.
  private val cappedShingleCte =
    s"""d0 AS (
      |  SELECT doc_id, lang,
      |    list_distinct(CASE WHEN len(string_split(text, ' ')) < 2 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
      |             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) END) AS sh0
      |  FROM documents
      |), dk AS (
      |  SELECT doc_id, lang, shingle
      |  FROM (SELECT doc_id, lang, unnest(sh0) AS shingle FROM d0)
      |  QUALIFY count(*) OVER (PARTITION BY lang, shingle) <= ${TextAnalysis.NearDupMaxDf}
      |), d AS (
      |  SELECT doc_id, lang, list(shingle) AS sh FROM dk GROUP BY doc_id, lang
      |)""".stripMargin

  // shared CTE: the near-dup pair graph (GraphQueries.pairGraph) — bigram
  // shingle Jaccard ≥ 0.08 within a language, canonical a_id < b_id.
  private val pairGraphCte =
    cappedShingleCte + """, pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) + len(b.sh) AS sz
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |), p AS (
      |  SELECT a_id, b_id FROM pr
      |  WHERE CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) >= 0.08
      |)""".stripMargin

  /** A double literal that LEXES as DOUBLE in DuckDB. Bare decimals
    * (`0.25`) parse as DECIMAL and, inside a VALUES list whose rows
    * infer a common DECIMAL scale, can be ROUNDED to that scale before
    * any cast — a 1-ulp drift measured on q_pq_topk's codebook table
    * (r14). Exponent-form literals (`0.25e0`, `1.0E-5`) lex as DOUBLE
    * with the standard correctly-rounded parse, bit-identical to the
    * JVM's. */
  private[graft] def sqlDouble(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  private[graft] val dotSql =
    // strict in-order left-fold dot product, elementwise double cast —
    // mirrors graft.queries.Embeddings.dot exactly. private[graft]: the
    // PQ replay builder (Extended.pqReplayCtes) reuses the same pinned
    // fold so the two oracles can never drift apart.
    (a: String, b: String) =>
      s"list_reduce(list_transform(generate_series(1, len($a)), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** BM25 top-k oracle body (see q_bm25_topk comment at its map entry);
    * parameterized by k so q_hybrid_retrieval can reuse the exact same
    * candidate stage at a wider k. */
  private def bm25Sql(limit: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
       |), dl AS (
       |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), nn AS (
       |  SELECT (SELECT count(*) FROM documents) AS n,
       |         (SELECT sum(dl) FROM dl) AS tot
       |), qt AS (
       |  SELECT term, df FROM (
       |    SELECT term, df,
       |      row_number() OVER (ORDER BY df DESC, term ASC) AS r
       |    FROM df)
       |  WHERE r BETWEEN 20 AND 27
       |), sc AS (
       |  SELECT tf.doc_id, tf.term,
       |    (CAST(n - qt.df AS DOUBLE) + 0.5) / (CAST(qt.df AS DOUBLE) + 0.5)
       |      * (CAST(tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
       |          (CAST(dl.dl AS DOUBLE)
       |            / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))) AS score
       |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN nn
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    list_reduce(list(score ORDER BY term), (a, x) -> a + x) AS score
       |  FROM sc GROUP BY doc_id
       |)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
       |    AS rank,
       |  doc_id, n_terms, score
       |FROM agg ORDER BY score DESC, doc_id ASC LIMIT $limit""".stripMargin

  /** MMR diverse-rerank oracle: 5 unrolled greedy steps over the
    * BM25-top-20 candidate set (see TextAnalysis.mmrRerank). Each step
    * re-scores the unselected candidates with
    * 0.5·rel − 0.5·max(sim to every selected doc) and takes the
    * (m DESC, doc_id ASC) head — the same arithmetic and tie-break as
    * the Spark driver loop, so doubles bit-match. */
  private lazy val mmrSql: String = {
    def self(a: String) = s"sqrt(${dotSql(s"$a.embedding", s"$a.embedding")})"
    def simS(a: String, b: String) =
      s"${dotSql(s"$a.embedding", s"$b.embedding")} / (${self(a)} * ${self(b)})"
    val head =
      s"""WITH cand AS (
         |  SELECT rank, doc_id FROM (${bm25Sql(20)})
         |), qv AS (
         |  SELECT embedding AS qe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS q_nrm
         |  FROM embeddings
         |  WHERE vec_id = (SELECT doc_id FROM cand WHERE rank = 1)
         |), sc AS (
         |  SELECT cand.doc_id, e.embedding,
         |    ${dotSql("qv.qe", "e.embedding")}
         |      / (qv.q_nrm * sqrt(${dotSql("e.embedding", "e.embedding")}))
         |      AS rel
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id
         |  CROSS JOIN qv
         |  WHERE cand.rank <> 1
         |), s1 AS (
         |  SELECT doc_id, embedding, rel, rel AS m FROM sc
         |  ORDER BY rel DESC, doc_id ASC LIMIT 1
         |)""".stripMargin
    val steps = (2 to 5).map { j =>
      val sel = (1 until j).map(i => s"s$i")
      val sims = sel.map(si => simS("c", si))
      val maxSim = if (sims.size == 1) sims.head
        else s"greatest(${sims.mkString(", ")})"
      val notIn = sel.map(si => s"c.doc_id <> $si.doc_id").mkString(" AND ")
      s""", r$j AS (
         |  SELECT c.doc_id, c.embedding, c.rel,
         |    0.5 * c.rel - 0.5 * ($maxSim) AS m
         |  FROM sc c, ${sel.mkString(", ")}
         |  WHERE $notIn
         |), s$j AS (
         |  SELECT doc_id, embedding, rel, m FROM r$j
         |  ORDER BY m DESC, doc_id ASC LIMIT 1
         |)""".stripMargin
    }.mkString
    val union = (1 to 5).map(j =>
      s"SELECT CAST($j AS INT) AS mmr_rank, doc_id, rel, m AS mmr_score FROM s$j")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY mmr_rank")
    head + steps + union
  }

  /** Exact cosine top-k (query set vec_id < 10, k = 5) — the oracle for
    * BOTH q_cosine_topk (brute force) and q_ivf_recall (IVF at full
    * probe, which must equal brute force bit-for-bit). */
  private lazy val exactTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), pairs AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cosine
       |  FROM e JOIN e q ON q.vec_id < 10 AND e.vec_id != q.vec_id
       |), ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM pairs
       |)
       |SELECT q_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH replay oracle device (r13 — the q_bpe_tokens merge-replay
    * idea applied to vectors): the hyperplanes are pure functions of
    * (seed, table, bit), so the ENTIRE sign-LSH pipeline — signatures,
    * bucket joins, the exact cosine re-rank — is independently
    * recomputable in DuckDB with the ±1 hyperplanes embedded as literal
    * arrays and the same strict in-order dot fold as dotSql (the
    * DotProduct expression's pinned numeric contract). This flips
    * q_lsh_topk and q_lsh_neardup from rows-only to hash-checked.
    * `dim` is pinned to the driver corpus's 64 — the Spark side reads
    * it from the data; a generator dim change fails this oracle loudly
    * rather than silently weakening the check. */
  private val LshOracleDim = 64

  /** In-order signed sum `Σ ±embedding[i]` for hyperplane (table, bit). */
  private def hplaneDotSql(table: Int, bit: Int, col: String): String = {
    val h = graft.operators.Ann.hyperplane(table, bit, LshOracleDim, 42)
    val lit = h.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"list_reduce(list_transform(generate_series(1, $LshOracleDim), " +
      s"i -> CAST($col[i] AS DOUBLE) * ($lit)[i]), (x, y) -> x + y)"
  }

  /** One table's nBits-bit bucket id: bit b set iff dot ≥ 0 (the OR of
    * disjoint power-of-two terms is a plain sum). */
  private def lshBucketSql(table: Int, nBits: Int, col: String): String =
    (0 until nBits).map(b =>
      s"(CASE WHEN ${hplaneDotSql(table, b, col)} >= 0 " +
        s"THEN ${1L << b} ELSE 0 END)").mkString("(", " + ", ")")

  /** (vec_id, tbl, bucket) over all tables — one UNION ALL arm per
    * table, mirroring the Spark side's explode over signLshBuckets. */
  private def lshSigSql(nTables: Int, nBits: Int): String =
    (0 until nTables).map(t =>
      s"SELECT vec_id, $t AS tbl, " +
        s"${lshBucketSql(t, nBits, "embedding")} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")

  /** q_lsh_topk replay: 16 tables × 6 bits, queries vec_id < 10, k = 5
    * (Extended.lshTopK's pinned parameters). */
  private lazy val lshTopKSql: String =
    s"""WITH sig AS (
       |  ${lshSigSql(nTables = 16, nBits = 6)}
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS id
       |  FROM sig c JOIN sig q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
       |), pairs AS (
       |  SELECT cand.q_id, cand.id,
       |    ${dotSql("qe.embedding", "ce.embedding")}
       |      / (sqrt(${dotSql("qe.embedding", "qe.embedding")})
       |         * sqrt(${dotSql("ce.embedding", "ce.embedding")})) AS cosine
       |  FROM cand
       |  JOIN embeddings ce ON ce.vec_id = cand.id
       |  JOIN embeddings qe ON qe.vec_id = cand.q_id
       |), ranked AS (
       |  SELECT q_id, id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, id ASC) AS rank
       |  FROM pairs
       |)
       |SELECT q_id, id, cosine, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** q_lsh_neardup replay: 32 tables × 4 bits, threshold 0.35, the
    * maxBucket 10000 guard as a windowed per-(tbl, bucket) count filter
    * (Embeddings.cosineNearDupLsh's pinned parameters). */
  private lazy val lshNearDupSql: String =
    s"""WITH sig AS (
       |  ${lshSigSql(nTables = 32, nBits = 4)}
       |), kept AS (
       |  SELECT vec_id, tbl, bucket FROM (
       |    SELECT vec_id, tbl, bucket,
       |      count(*) OVER (PARTITION BY tbl, bucket) AS n
       |    FROM sig)
       |  WHERE n <= 10000
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM kept a JOIN kept b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)
       |SELECT cand.a_id, cand.b_id,
       |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM cand JOIN e a ON a.vec_id = cand.a_id
       |          JOIN e b ON b.vec_id = cand.b_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  /** Oracles that embed state fitted at run time (learned merge ranks,
    * quantizer centroids and codebooks, sampled ids, LR coefficients),
    * one per query name, in the order Verify prepares them. Each reads
    * the same session-memoized fit (graft.Caches.memo) its query uses,
    * so the embedded literals are exactly the query run's state. None
    * means rows-only by design (e.g. a BPE model with no merges). */
  def fittedOracles: Map[String, (SparkSession, String) => Option[String]] =
    ListMap(
      "q_bpe_tokens"         -> TextAnalysis.prepareBpeOracle,
      "q_ivf_topk"           -> Extended.prepareIvfOracle,
      "q_semantic_dedup"     -> Embeddings.prepareSemDedupOracle,
      "q_similarity_join_p2" -> Extended.prepareP2Oracle,
      "q_pq_topk"            -> Extended.preparePqTopKOracle,
      "q_pq_recall"          -> Extended.preparePqRecallOracle,
      "q_ivfpq_topk"         -> Extended.prepareIvfPqTopKOracle,
      "q_ivfpq_recall"       -> Extended.prepareIvfPqRecallOracle,
      "q_quality_classifier" -> graft.ml.QualityFilter.prepareOracle,
      "q_linkpred_ann_e2e"   -> Extended.prepareLinkpredAnnOracle,
      "q_linkpred_e2e"       -> Extended.prepareLinkpredE2eOracle)

  /** Static oracles: for each key in queries, equivalent ANSI SQL
    * runnable by DuckDB on the same parquet tables. Queries in neither
    * this map nor fittedOracles are rows-only by design. */
  def oracleSql: Map[String, String] = Map(
    // incremental refresh vs full recompute: the oracle IS the full
    // group-by, so the hash match proves refresh == recompute.
    "q_mv_refresh" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // TPC-H Q3 shape; IN-subquery = the Spark side's semi-join.
    "q_ship_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > TIMESTAMP '1998-06-01'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q_customer_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_label_join" ->
      """SELECT o_orderstatus,
        |  CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS label,
        |  count(*) AS n_orders
        |FROM orders
        |LEFT OUTER JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0) hb
        |  ON o_custkey = hb.c_custkey
        |GROUP BY o_orderstatus, label
        |ORDER BY o_orderstatus, label""".stripMargin,

    "q_customers_with_orders" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_customers_without_orders" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_triplet_join" ->
      """SELECT p_brand, s_nationkey,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_quantity >= 30.0
        |GROUP BY p_brand, s_nationkey
        |ORDER BY p_brand, s_nationkey""".stripMargin,

    "q_orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_threshold_sweep" ->
      """WITH grouped AS (
        |  SELECT l_discount AS score,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
        |    count(*) AS tot
        |  FROM lineitem GROUP BY l_discount
        |), cum AS (
        |  SELECT score,
        |    sum(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
        |    sum(tot) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pred,
        |    sum(pos) OVER () AS total_pos
        |  FROM grouped
        |), pr AS (
        |  SELECT score AS threshold,
        |    CAST(cum_tp AS DOUBLE) / CAST(cum_pred AS DOUBLE) AS precision,
        |    CASE WHEN total_pos = 0 THEN 0.0
        |         ELSE CAST(cum_tp AS DOUBLE) / CAST(total_pos AS DOUBLE) END AS recall
        |  FROM cum
        |)
        |SELECT threshold, precision, recall,
        |  CASE WHEN precision + recall = 0.0 THEN 0.0
        |       ELSE 2.0 * precision * recall / (precision + recall) END AS f1
        |FROM pr
        |ORDER BY threshold DESC""".stripMargin,

    "q_hourly_stats" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY hour, event_type
        |ORDER BY hour, event_type""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // hour-over-hour deltas: lag over the hourly rollup; first hour per
    // type dropped (no predecessor).
    "q_hourly_delta" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    count(*) AS n_events
        |  FROM events GROUP BY hour, event_type
        |), lagged AS (
        |  SELECT hour, event_type, n_events,
        |    lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY hour)
        |      AS prev_events
        |  FROM hourly
        |)
        |SELECT hour, event_type, n_events, prev_events,
        |  n_events - prev_events AS delta
        |FROM lagged WHERE prev_events IS NOT NULL
        |ORDER BY hour, event_type""".stripMargin,

    "q_hourly_anomaly" ->
      """WITH cells AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  -- moment/verdict products in HUGEINT (Spark: DECIMAL(38,0)):
        |  -- Σn² and the squares overflow BIGINT at production volumes
        |  SELECT event_type, count(*) AS n_hours,
        |    CAST(sum(n) AS BIGINT) AS s1,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2
        |  FROM cells GROUP BY event_type
        |)
        |SELECT c.hour, c.event_type, c.n,
        |  CASE WHEN CAST(m.n_hours AS HUGEINT) * m.s2 -
        |      CAST(m.s1 AS HUGEINT) * m.s1 > 0 THEN
        |    (CAST(c.n AS DOUBLE) - CAST(m.s1 AS DOUBLE) / CAST(m.n_hours AS DOUBLE)) /
        |      sqrt(CAST(m.s2 AS DOUBLE) / CAST(m.n_hours AS DOUBLE) -
        |        (CAST(m.s1 AS DOUBLE) / CAST(m.n_hours AS DOUBLE)) *
        |          (CAST(m.s1 AS DOUBLE) / CAST(m.n_hours AS DOUBLE)))
        |    END AS z,
        |  CAST(CASE WHEN
        |      (CAST(c.n AS HUGEINT) * m.n_hours - m.s1) *
        |        (CAST(c.n AS HUGEINT) * m.n_hours - m.s1) >
        |      4 * (CAST(m.n_hours AS HUGEINT) * m.s2 -
        |        CAST(m.s1 AS HUGEINT) * m.s1)
        |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM cells c JOIN m USING (event_type)
        |ORDER BY hour, event_type""".stripMargin,

    "q_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort FROM a GROUP BY user_id
        |), s AS (
        |  SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort
        |), cells AS (
        |  SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, a.day) AS INT) AS day_offset,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM a JOIN f USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT c.cohort, c.day_offset, c.n_active,
        |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |  CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention
        |FROM cells c JOIN s USING (cohort)
        |ORDER BY cohort, day_offset""".stripMargin,

    // funnel: first click anchors; purchases within the hour convert.
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), anchors AS (
        |  SELECT user_id, min(ts_us) AS first_click_us
        |  FROM e WHERE event_type = 'click' GROUP BY user_id
        |), conv AS (
        |  SELECT e.user_id, count(*) AS n_conversions,
        |    min(e.ts_us - a.first_click_us) AS first_gap_us
        |  FROM e JOIN anchors a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts_us >= a.first_click_us
        |    AND e.ts_us - a.first_click_us <= 3600000000
        |  GROUP BY e.user_id
        |)
        |SELECT a.user_id, a.first_click_us,
        |  COALESCE(c.n_conversions, 0) AS n_conversions,
        |  COALESCE(c.first_gap_us, -1) AS first_gap_us
        |FROM anchors a LEFT JOIN conv c ON a.user_id = c.user_id
        |ORDER BY a.user_id""".stripMargin,

    "q_user_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), flagged AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |              OR ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |)
        |SELECT user_id,
        |  CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_token_stats" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents
        |)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_distinct) AS BIGINT) AS total_distinct,
        |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM d
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // per-source diversity: exact distinct token/bigram counts; the
    // ratio is one IEEE division of exact integers.
    "q_source_diversity" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        |), tt AS (
        |  SELECT source, count(*) AS n_tokens,
        |    count(DISTINCT w) AS distinct_tokens
        |  FROM tok GROUP BY source
        |), bg AS (
        |  SELECT source,
        |    unnest(CASE WHEN len(string_split(text, ' ')) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        |             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) END) AS b
        |  FROM documents
        |), bb AS (
        |  SELECT source, count(DISTINCT b) AS distinct_bigrams
        |  FROM bg GROUP BY source
        |), dd AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        |)
        |SELECT dd.source, n_docs, n_tokens, distinct_tokens, distinct_bigrams,
        |  CAST(distinct_bigrams AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS bigram_diversity
        |FROM dd JOIN tt USING (source) JOIN bb USING (source)
        |ORDER BY source""".stripMargin,

    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS n_stop,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, n_tokens,
        |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
        |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
        |FROM d
        |ORDER BY doc_id""".stripMargin,

    // repetition filter: modal-bigram mass via unnest + two-level agg;
    // fractions are single IEEE divisions of exact integers, and the
    // 1/16 threshold is dyadic, so keep-verdicts match bit-exactly.
    "q_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), base AS (
        |  SELECT doc_id, len(t) AS n_tokens,
        |    len(list_distinct(t)) AS n_distinct
        |  FROM t WHERE len(t) >= 2
        |), b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM t WHERE len(t) >= 2
        |), modal AS (
        |  SELECT doc_id, max(c) AS top_bigram_n FROM (
        |    SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg)
        |  GROUP BY doc_id
        |)
        |SELECT base.doc_id, n_tokens, top_bigram_n,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS dup_token_frac,
        |  CAST(top_bigram_n AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
        |    AS top_bigram_frac,
        |  (1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) <= 0.65
        |    AND CAST(top_bigram_n AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE) <= 0.0625
        |    AS keep
        |FROM base JOIN modal ON base.doc_id = modal.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    // sequence packing: integer-only window cumsum + div, so the bin
    // assignment is engine-independent; DuckDB's window/agg sums widen
    // to HUGEINT — cast back to BIGINT to match Spark's long
    "q_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
        |  FROM t
        |)
        |SELECT lang, source,
        |  CAST((csum - n_tokens) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c
        |GROUP BY lang, source, bin
        |ORDER BY lang, source, bin""".stripMargin,

    // chunking: window 32 / stride 24; chunk k covers 1-based tokens
    // [24k+1, 24k+32] (last chunk short). md5 over the space-joined
    // chunk text matches Spark's md5(concat_ws(' ', slice(...)))
    // bit-for-bit; list_slice's inclusive end = start + len - 1.
    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, t, n_tokens,
        |    unnest(generate_series(0,
        |      CAST(1 + (greatest(n_tokens - 32, 0) + 23) // 24 AS BIGINT) - 1))
        |      AS chunk_id
        |  FROM t
        |)
        |SELECT doc_id, chunk_id,
        |  chunk_id * 24 + 1 AS start_tok,
        |  least(32, n_tokens - chunk_id * 24) AS chunk_len,
        |  md5(array_to_string(list_slice(t, chunk_id * 24 + 1,
        |    chunk_id * 24 + least(32, n_tokens - chunk_id * 24)), ' '))
        |    AS chunk_md5
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // chunk-level exact dedup: same chunk CTE, first-occurrence window on
    // the content fingerprint, integer per-doc rollup (all-BIGINT output).
    "q_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, t, n_tokens,
        |    unnest(generate_series(0,
        |      CAST(1 + (greatest(n_tokens - 32, 0) + 23) // 24 AS BIGINT) - 1))
        |      AS chunk_id
        |  FROM t
        |), ch AS (
        |  SELECT doc_id, chunk_id,
        |    md5(array_to_string(list_slice(t, chunk_id * 24 + 1,
        |      chunk_id * 24 + least(32, n_tokens - chunk_id * 24)), ' '))
        |      AS chunk_md5
        |  FROM c
        |), k AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY chunk_md5
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM ch
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  count(*) - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // decontamination at n=3 (see TextAnalysis.contamination scaladoc for
    // why not the natural-text 8): rate is one double division of exact
    // integers and the 1/16 flag threshold is dyadic — bit-exact.
    "q_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 100 = 0
        |), train AS (
        |  SELECT doc_id, len(sh) AS n_grams, sh FROM sh WHERE doc_id % 100 != 0
        |), hits AS (
        |  SELECT e.doc_id, count(*) AS n_contaminated
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM train) e
        |  JOIN bench USING (g) GROUP BY e.doc_id
        |)
        |SELECT train.doc_id, n_grams,
        |  coalesce(n_contaminated, 0) AS n_contaminated,
        |  CAST(coalesce(n_contaminated, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    AS contamination_rate,
        |  CAST(coalesce(n_contaminated, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    >= 0.0625 AS flagged
        |FROM train LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS s_en,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'de'))) AS s_es,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'und'))) AS s_de,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'et'))) AS s_fr,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('ni', 'hao', 'ma'))) AS s_zh
        |  FROM documents
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS lang_guess
        |FROM scored
        |ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        |  count(*) OVER (PARTITION BY md5(text)) AS n_same
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT lang, source, min(doc_id) AS kept_doc_id
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q_ngram_jaccard" ->
      ("WITH " + cappedShingleCte + """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) AS sz
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, lang,
        |  CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) >= 0.12
        |ORDER BY a_id, b_id""".stripMargin),

    // per-side containment over the q_ngram_jaccard shingle universe;
    // quote_inclusion marks rows under the Jaccard tier's 0.12 threshold
    "q_containment_pairs" ->
      ("WITH " + cappedShingleCte + """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |    CAST(len(a.sh) AS BIGINT) AS a_n,
        |    CAST(len(b.sh) AS BIGINT) AS b_n
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, lang, inter, a_n, b_n,
        |  CAST(inter AS DOUBLE) / CAST(a_n AS DOUBLE) AS cont_a,
        |  CAST(inter AS DOUBLE) / CAST(b_n AS DOUBLE) AS cont_b,
        |  CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) AS jaccard,
        |  (CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) < 0.12)
        |    AS quote_inclusion
        |FROM pairs
        |WHERE greatest(CAST(inter AS DOUBLE) / CAST(a_n AS DOUBLE),
        |               CAST(inter AS DOUBLE) / CAST(b_n AS DOUBLE)) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin),

    // minhash recall gate: the exact strong-pair universe (same shingle
    // construction as q_ngram_jaccard, threshold 0.7) with found=1 pinned —
    // the oracle has no approximate side, so it bit-matches exactly when
    // the Spark-side banding recalled EVERY strong pair.
    "q_neardup_recall" ->
      ("WITH " + cappedShingleCte + """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) AS sz
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, lang,
        |  CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) AS jaccard,
        |  CAST(1 AS BIGINT) AS found
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) >= 0.7
        |ORDER BY a_id, b_id""".stripMargin),

    // simhash recall gate: the same exact strong-pair universe with
    // covered=1 pinned. Spark-side, covered = found-by-SimHash OR outside
    // the Hamming-3 pigeonhole guarantee — so the bit-match asserts no
    // GUARANTEED pair was missed (deterministic, unlike an empirical
    // found pin); non-vacuity is pinned in NearDupCrossGateSpec.
    "q_simhash_recall" ->
      ("WITH " + cappedShingleCte + """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) AS sz
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, lang,
        |  CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) AS jaccard,
        |  CAST(1 AS BIGINT) AS covered
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) >= 0.7
        |ORDER BY a_id, b_id""".stripMargin),

    // incremental ingest dedup: the same pair universe restricted to
    // pairs touching the simulated batch (doc_id % 10 = 7).
    "q_ingest_neardup" ->
      ("WITH " + cappedShingleCte + """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) AS sz
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE a.doc_id % 10 = 7 OR b.doc_id % 10 = 7
        |)
        |SELECT a_id, b_id, lang,
        |  CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(sz - inter AS DOUBLE) >= 0.08
        |ORDER BY a_id, b_id""".stripMargin),

    "q_linkpred_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    list_distinct(string_split(text, ' ')) AS tset
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.source,
        |    len(list_intersect(a.tset, b.tset)) AS common_tokens,
        |    len(a.tset) + len(b.tset) AS sz,
        |    CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS same_lang,
        |    abs(a.n_chars - b.n_chars) AS chars_diff
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, source, common_tokens, same_lang, chars_diff,
        |  CAST(common_tokens AS DOUBLE) / CAST(sz - common_tokens AS DOUBLE) AS jaccard,
        |  CASE WHEN CAST(common_tokens AS DOUBLE) / CAST(sz - common_tokens AS DOUBLE) >= 0.5
        |       THEN 1 ELSE 0 END AS label
        |FROM pairs
        |ORDER BY a_id, b_id""".stripMargin,

    "q_cosine_topk" -> exactTopKSql,

    // JPEG container replay (r14): every field is a pure function of the
    // seeded generator's (w, h, subsample, restart-interval) formulas —
    // the MCU grid gives the restart-marker count, the encoder's T.81
    // layout gives the table counts. The lossy pixel path stays in
    // rows-only q_jpeg_stats.
    "q_jpeg_meta" ->
      """WITH g AS (
        |  SELECT id, 8 + id % 11 AS w, 8 + id % 5 AS h,
        |    CASE WHEN id % 2 = 1 THEN 2 ELSE 1 END AS f,
        |    id % 4 AS ri
        |  FROM range(64) t(id)
        |), m AS (
        |  SELECT *,
        |    ((w + 8*f - 1) // (8*f)) * ((h + 8*f - 1) // (8*f)) AS nmcu
        |  FROM g
        |)
        |SELECT id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(3 AS INT) AS n_components, CAST(8 AS INT) AS "precision",
        |  CAST(f AS INT) AS luma_h, CAST(f AS INT) AS luma_v,
        |  CAST(ri AS INT) AS restart_interval,
        |  CAST(1 AS INT) AS n_dqt, CAST(2 AS INT) AS n_dht,
        |  CAST(CASE WHEN ri > 0 THEN (nmcu - 1) // ri ELSE 0 END AS INT) AS n_rst,
        |  true AS eoi
        |FROM m ORDER BY media_id""".stripMargin,

    // exact fixed-point centroid mean (r14): components scaled by 2^63
    // are integers, summed exactly (order-independent), one rounding at
    // the end — so DuckDB's replay is bit-identical by construction (see
    // Embeddings.centroids scaladoc). Division order pinned: (double)sum
    // / n / 2^63.
    "q_embed_centroids" ->
      """WITH ex AS (
        |  SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding
        |  FROM embeddings
        |), ex2 AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim,
        |    CAST(CAST(embedding[i] AS DOUBLE) * 9223372036854775808.0 AS HUGEINT) AS xs
        |  FROM ex
        |)
        |SELECT label, dim,
        |  CAST(sum(xs) AS DOUBLE) / count(*) / 9223372036854775808.0 AS m,
        |  count(*) AS n_vecs
        |FROM ex2 GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    // IVF at full probe (nProbe = nCells) is exactly brute force — same
    // oracle as q_cosine_topk, so the bit-compare proves the quantizer/
    // probe/re-rank machinery loses nothing when probing everything.
    "q_ivf_recall" -> exactTopKSql,

    "q_cosine_neardup" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
         |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
         |ORDER BY a_id, b_id""".stripMargin,

    // sign-LSH recall gate: the exact label-blocked pair universe with
    // found=1 pinned — bit-matches exactly when the label-free LSH tier
    // recalled every exact pair.
    "q_lsh_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
         |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine,
         |  CAST(1 AS BIGINT) AS found
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
         |ORDER BY a_id, b_id""".stripMargin,

    // seed-deterministic sign-LSH replayed end-to-end with literal ±1
    // hyperplanes (see lshTopKSql/lshNearDupSql scaladoc) — previously
    // rows-only for want of the replay, not by nature
    "q_lsh_topk" -> lshTopKSql,
    "q_lsh_neardup" -> lshNearDupSql,

    // r14 (VERDICT r13 #2): the remaining two hash-seeded near-dup tiers,
    // replayed from raw text — DuckDB recomputes Spark's xxhash64 itself
    // (staged HUGEINT XXH64 over the UTF8 bytes; see XxhReplaySql) and
    // re-derives signatures, band buckets, the guarded candidate join,
    // and the exact jaccard/hamming verify
    // r14 continuation: key-hash priority sampling replayed through the
    // same XXH64 machinery (hashLong fast path) + bit-identical float
    // affine/division; and the deletion-neighborhood edit-distance join,
    // whose completeness theorem lets the oracle be the FULL brute-force
    // levenshtein self-join (length band |Δl| <= 1 is implied by ed <= 1)
    "q_priority_sample" -> XxhReplaySql.prioritySampleSql,
    // r14: the stratified Bernoulli sample's draw became a pure key-hash
    // function (top-53-bit uniform vs exact integer per-stratum
    // thresholds), so the whole sample — not just its rate contract —
    // is replayable; flips q_stratified_sample from rows-only
    "q_stratified_sample" -> XxhReplaySql.stratifiedSampleSql,
    "q_editdist_pairs" ->
      """SELECT CAST(a.c_custkey AS BIGINT) AS a_id,
        |  CAST(b.c_custkey AS BIGINT) AS b_id,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "q_minhash_neardup" -> XxhReplaySql.minhashNearDupSql,
    "q_simhash_neardup" -> XxhReplaySql.simhashNearDupSql,
    // tier-quality evaluation as a query (r16): recall@10/MRR/nDCG@10 of
    // the minhash candidate tier vs exact-jaccard gold — the candidate
    // replay is minhashCandJacCtes verbatim, the metric floats are pure
    // functions of integer rank flags and shared literals
    "q_retrieval_eval" -> XxhReplaySql.retrievalEvalSql,

    // …and the splitmix64-seeded sketches (r14): Count-Min counters are
    // exact sums and bottom-k is a rank over a seeded hash of the value
    // set, so DuckDB rebuilds both sketches from the raw tables
    // (SplitmixReplaySql scaladoc)
    "q_cm_words" -> SplitmixReplaySql.cmWordsSql,
    "q_bottomk_sample" -> SplitmixReplaySql.bottomkSampleSql,
    // r14 continuation: the graft-native HLL registers + raw estimator
    // and the bottom-k-row-sample quantiles are pure functions of the
    // value/key sets, so both replay end-to-end (SplitmixReplaySql
    // scaladoc) — hash-checked twins for the two Spark-internal sketches
    "q_hll_distinct" -> SplitmixReplaySql.hllDistinctSql,
    "q_hash_quantiles" -> SplitmixReplaySql.hashQuantilesSql,
    "q_sketch_overlap" -> SplitmixReplaySql.sketchOverlapSql,
    "q_window_hll" -> SplitmixReplaySql.windowHllSql,
    "q_hll_merge" -> SplitmixReplaySql.hllMergeSql,
    "q_sketch_delta" -> SplitmixReplaySql.sketchDeltaSql,

    "q_nation_delta" ->
      """SELECT nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
        |      AND o_totalprice > 496000.0)
        |)
        |ORDER BY nationkey""".stripMargin,

    "q_null_fill" ->
      """WITH big AS (
        |  SELECT o_custkey, max(o_totalprice) AS max_big
        |  FROM orders WHERE o_totalprice > 400000.0 GROUP BY o_custkey
        |)
        |SELECT c_nationkey,
        |  count(*) AS n_customers,
        |  CAST(sum(CASE WHEN coalesce(max_big, 0.0) > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big,
        |  CAST(sum(CAST(coalesce(max_big, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_max_big
        |FROM customer LEFT OUTER JOIN big ON c_custkey = o_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_json_typed" ->
      """SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY event_type, k_bucket
        |ORDER BY event_type, k_bucket""".stripMargin,

    "q_event_windows" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
        |  count(*) AS n_events
        |FROM events
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,

    "q_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_parts,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_pivot_status" ->
      """SELECT l_returnflag,
        |  CAST(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS f_qty,
        |  CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS o_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_orders_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_part_strings" ->
      """SELECT p_partkey,
        |  upper(p_type) AS type_upper,
        |  CAST(regexp_extract(p_brand, '(\d+)', 1) AS INTEGER) AS brand_num,
        |  string_split(p_name, ' ')[1] AS name_head,
        |  length(p_name) AS name_len,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  substring(p_name, 1, 3) AS name_pfx
        |FROM part
        |WHERE p_name LIKE '%o%'
        |ORDER BY p_partkey""".stripMargin,

    "q_session_windows" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
        |), flagged AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |              OR ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  min(ts_us) AS start_us,
        |  max(ts_us) + 1800000000 AS end_us,
        |  count(*) AS n_events
        |FROM sess
        |GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    // timestamp comparisons in the two temporal-join oracles go through
    // epoch_us() so DuckDB's nanosecond parquet reads truncate to the same
    // microsecond domain Spark computes in (Tables.events)
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |  coalesce(c.click_id, -1) AS click_id,
        |  coalesce(c.gap_us, -1) AS gap_us
        |FROM events p
        |LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |  FROM events c
        |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |    AND epoch_us(c.ts) <= epoch_us(p.ts)
        |  ORDER BY epoch_us(c.ts) DESC, c.event_id DESC LIMIT 1) c ON TRUE
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_event_pairs" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND (epoch_us(b.ts) > epoch_us(a.ts)
        |       OR (epoch_us(b.ts) = epoch_us(a.ts) AND b.event_id > a.event_id))
        |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
        |ORDER BY a_id, b_id""".stripMargin,

    "q_pair_degrees" ->
      s"""WITH $pairGraphCte,
         |sym AS (SELECT a_id AS id FROM p UNION ALL SELECT b_id FROM p)
         |SELECT id AS doc_id, count(*) AS degree
         |FROM sym GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_pair_triangles" ->
      s"""WITH $pairGraphCte
         |SELECT count(*) AS n_triangles
         |FROM p e1
         |JOIN p e2 ON e1.b_id = e2.a_id
         |JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id""".stripMargin,

    // fixed-point pagerank: 6 unrolled power-iteration CTEs; every
    // arithmetic step is 64-bit integer (// truncates like Spark's div on
    // the all-positive ranks), so the match is bit-exact by construction.
    // sum() in DuckDB widens to HUGEINT — cast back to BIGINT to agree
    // with Spark's long. Base term (15·S div 100) div n and the damping
    // multiply-then-divide replicate Graph.pageRankFixedPoint exactly.
    "q_pair_pagerank_fp" -> {
      val step = (prev: String, cur: String) =>
        s"""$cur AS (
           |  SELECT e.dst AS id,
           |    CAST((SELECT b FROM params) +
           |      CAST(85 AS BIGINT) * sum(r.rank // e.deg) // 100 AS BIGINT)
           |      AS rank
           |  FROM e JOIN $prev r ON e.src = r.id GROUP BY e.dst)""".stripMargin
      val steps = (1 to 6).map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
      s"""WITH $pairGraphCte,
         |sym AS (SELECT a_id AS src, b_id AS dst FROM p
         |        UNION ALL SELECT b_id, a_id FROM p),
         |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |e AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
         |params AS (SELECT
         |  (CAST(15 AS BIGINT) * 1000000000 // 100) // count(*) AS b,
         |  CAST(1000000000 AS BIGINT) // count(*) AS init FROM deg),
         |r0 AS (SELECT src AS id, (SELECT init FROM params) AS rank FROM deg),
         |$steps
         |SELECT id AS doc_id, rank AS pagerank_fp
         |FROM r6 ORDER BY doc_id""".stripMargin
    },

    // k-core by UNROLLED peeling (recursive CTEs forbid aggregation
    // inside recursion, so the loop is unrolled like pagerank_fp's):
    // each round drops degree<2 vertices and their edges; once the
    // fixpoint is reached every further round is a no-op, so 10 rounds
    // ≡ Graph.kCore's loop as long as the data's peeling depth ≤ 10
    // (measured: 7 rounds at sf0.01 — the oracle SF). The rounds are
    // AS MATERIALIZED: left to the inliner, each round re-expands its
    // whole predecessor chain (2^rounds scans — 'Too many open files').
    "q_pair_kcore" -> {
      val round = (i: Int) =>
        s"""dr$i AS MATERIALIZED (
           |  SELECT id FROM (SELECT a_id AS id FROM e$i
           |                  UNION ALL SELECT b_id FROM e$i)
           |  GROUP BY id HAVING count(*) < 2),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT a_id, b_id FROM e$i
           |  WHERE a_id NOT IN (SELECT id FROM dr$i)
           |    AND b_id NOT IN (SELECT id FROM dr$i))""".stripMargin
      val rounds = (0 until 10).map(round).mkString(",\n")
      // fixpoint guard: the unrolled depth (10; measured 7 at sf0.01)
      // must actually reach the fixpoint — if the LAST round still
      // peeled a vertex (dr9 non-empty), error() out loudly instead of
      // silently diverging from Graph.kCore's fixpoint loop on a deeper
      // corpus and reporting a false hash mismatch
      s"""WITH $pairGraphCte,
         |e0 AS MATERIALIZED (SELECT a_id, b_id FROM p),
         |$rounds
         |SELECT id AS doc_id, count(*) AS core_degree
         |FROM (SELECT a_id AS id FROM e10 UNION ALL SELECT b_id FROM e10)
         |GROUP BY id
         |HAVING (SELECT count(*) FROM dr9) = 0
         |  OR error('kcore oracle: peeling depth exceeds the 10 unrolled rounds')
         |ORDER BY doc_id""".stripMargin
    },

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $pairGraphCte,
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |      UNION SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // cluster-size histogram: the component CTE rolled up twice.
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $pairGraphCte,
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |      UNION SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
         |),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sizes AS (
         |  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "q_dedup_corpus" ->
      s"""WITH RECURSIVE $pairGraphCte,
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |      UNION SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
         |),
         |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE c < id)
         |ORDER BY doc_id""".stripMargin,

    // keep-best dedup: same components, representative = argmax
    // distinct-token ratio (single IEEE division of exact integers —
    // bit-identical ordering cross-engine), ties to the lowest doc_id.
    "q_dedup_keepbest" ->
      s"""WITH RECURSIVE $pairGraphCte,
         |e AS (SELECT a_id AS u, b_id AS v FROM p
         |      UNION SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
         |),
         |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
         |q AS (SELECT doc_id AS id,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
         |  FROM documents),
         |m AS (SELECT comp.id, row_number() OVER (PARTITION BY comp.c
         |        ORDER BY q.score DESC, comp.id ASC) AS rn
         |      FROM comp JOIN q USING (id))
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM m WHERE rn > 1)
         |ORDER BY doc_id""".stripMargin,

    "q_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 'e6' THEN 'train'
        |       WHEN bucket < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |  FROM documents
        |)
        |ORDER BY doc_id""".stripMargin,

    // epoch-salted md5 permutation; hexv via position() so both engines
    // agree; positions are a window per shard (Extended.epochShuffle)
    "q_epoch_shuffle" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    md5('epoch:3:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents
        |), sharded AS (
        |  SELECT doc_id, shuffle_key,
        |    CAST(position(substr(shuffle_key, 1, 1)
        |      IN '0123456789abcdef') - 1 AS INT) AS shard
        |  FROM keyed
        |)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
        |FROM sharded
        |ORDER BY shard, pos""".stripMargin,

    "q_source_mix" -> {
      val rows = graft.queries.Extended.mixTiers
        .map { case (src, thr) => s"('$src', '$thr')" }.mkString(", ")
      s"""WITH rates AS (
         |  SELECT * FROM (VALUES $rows) AS t(source, mix_thr)
         |)
         |SELECT doc_id, source, bucket FROM (
         |  SELECT doc_id, source,
         |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
         |  FROM documents
         |) d JOIN rates USING (source)
         |WHERE bucket < mix_thr
         |ORDER BY doc_id""".stripMargin
    },

    // weight quantization (⌊√n·2²⁰⌋) makes the Σ over languages an exact
    // integer sum (float Σ√n would be summation-order-dependent); every
    // later double op is the identical fixed sequence in both engines,
    // and the keep decision is integer-vs-integer.
    "q_mix_temperature" ->
      """WITH sizes AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), wq AS (
        |  SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq
        |  FROM sizes
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(wq) AS BIGINT) AS w_total
        |  FROM wq
        |), rates AS (
        |  SELECT lang,
        |    CAST(floor(least(1.0,
        |      (CAST(n_total AS DOUBLE) * 549755813888.0) /
        |        (CAST(wq AS DOUBLE) * CAST(w_total AS DOUBLE)))
        |      * 16777216.0) AS BIGINT)
        |      AS thr6
        |  FROM wq, tot
        |), u AS (
        |  SELECT doc_id, lang,
        |    md5('tmix:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |)
        |SELECT u.doc_id, u.lang,
        |  CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)
        |    AS u6,
        |  r.thr6,
        |  CAST(CASE WHEN
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) < r.thr6
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM u JOIN rates r USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "q_skew_join" ->
      """WITH avgs AS (
        |  SELECT o_orderpriority AS p,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price
        |  FROM orders GROUP BY p
        |)
        |SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_totalprice > avg_price THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        |FROM orders JOIN avgs ON o_orderpriority = p
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_price_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('p0_small', 0.0, 100000.0),
        |  ('p1_mid', 100000.0, 200000.0),
        |  ('p2_large', 200000.0, 350000.0),
        |  ('p3_huge', 350000.0, 600000.0))
        |SELECT band, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band
        |ORDER BY band""".stripMargin,

    "q_nullsafe_join" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_acctbal < 0.0 THEN NULL
        |         ELSE CAST(floor(c_acctbal / 1000.0) AS BIGINT) END AS tier
        |  FROM customer
        |)
        |SELECT a.tier, count(*) AS n_pairs,
        |  count(DISTINCT a.c_custkey) AS n_left
        |FROM t a JOIN t b
        |  ON a.tier IS NOT DISTINCT FROM b.tier
        |  AND a.c_custkey < b.c_custkey
        |GROUP BY a.tier
        |ORDER BY a.tier ASC NULLS FIRST""".stripMargin,

    "q_full_outer" ->
      """WITH stats AS (
        |  SELECT o_custkey, count(*) AS n_big FROM orders
        |  WHERE o_totalprice > 350000.0 GROUP BY o_custkey
        |), c AS (
        |  SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 9000.0
        |)
        |SELECT coalesce(c_nationkey, -1) AS nationkey,
        |  (n_big IS NOT NULL) AS has_big,
        |  (c_custkey IS NOT NULL) AS known_customer,
        |  count(*) AS n
        |FROM c FULL OUTER JOIN stats ON c_custkey = o_custkey
        |GROUP BY nationkey, has_big, known_customer
        |ORDER BY nationkey, has_big, known_customer""".stripMargin,

    "q_nation_intersect" ->
      """SELECT nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  WHERE c_acctbal > 9000.0
        |  INTERSECT
        |  SELECT DISTINCT c_nationkey FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
        |      AND o_totalprice > 496000.0)
        |)
        |ORDER BY nationkey""".stripMargin,

    "q_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(ntile(4) OVER w AS INT) AS tile,
        |  percent_rank() OVER w AS pct_rank,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER wf AS DOUBLE) AS run_sum
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_argmin_join" ->
      """SELECT l_partkey, l_suppkey, s_nationkey, min_price FROM (
        |  SELECT l_partkey, l_suppkey, l_extendedprice AS min_price,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY l_extendedprice ASC, l_suppkey ASC) AS rn
        |  FROM lineitem) x
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1
        |ORDER BY l_partkey""".stripMargin,

    "q_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT OUTER JOIN (
        |    SELECT o_custkey, o_orderkey FROM orders
        |    WHERE o_totalprice > 150000.0) o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey) x
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_range_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS trailing_7d,
        |  count(*)
        |    OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |    AS n_in_window
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
        |    AS BIGINT) AS gid,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,

    "q_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_late
        |FROM orders o
        |WHERE year(o_orderdate) = 1997
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_string_agg" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_name,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_name ASC, c_custkey ASC) AS rn
        |  FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT c_nationkey, count(*) AS n_top,
        |  string_agg(c_name, ',' ORDER BY c_name) AS top_names
        |FROM r WHERE rn <= 5
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0) big
        |  ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_tfidf_topk" ->
      // rational IDF (N+1)/(df+1): exactly-rounded IEEE div/mul only, so
      // score doubles (and therefore the per-doc ranking) are bit-equal
      // across engines — a libm ln() could differ in the last ulp
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(*) AS n FROM documents),
        |ranked AS (
        |  SELECT doc_id, term, tf, df,
        |    CAST(tf AS DOUBLE) * (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf AS DOUBLE) * (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) DESC, term ASC) AS rnk
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    // BM25 with a RATIONAL idf (N−df+0.5)/(df+0.5) — no ln(), so score
    // doubles bit-match across engines; the per-doc sum folds in sorted
    // term order on both sides (list(ORDER BY)+list_reduce here,
    // sort_array+aggregate in Spark) to pin double-addition order; the
    // query is the 8 terms at df ranks 20-27 (df desc, term asc)
    "q_bm25_topk" -> bm25Sql(10),

    // hybrid two-stage retrieval: BM25 candidates (the exact bm25Sql
    // stage at k=50) reranked by embedding cosine to the rank-1 doc's
    // vector; same in-order dot fold and q_nrm * nrm denominator shape
    // as q_cosine_topk
    "q_hybrid_retrieval" ->
      s"""WITH cand AS (
         |  SELECT rank AS bm25_rank, doc_id, score AS bm25
         |  FROM (${bm25Sql(50)})
         |), qv AS (
         |  SELECT embedding AS qe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS q_nrm
         |  FROM embeddings
         |  WHERE vec_id = (SELECT doc_id FROM cand WHERE bm25_rank = 1)
         |), rr AS (
         |  SELECT cand.bm25_rank, cand.doc_id, cand.bm25,
         |    ${dotSql("qv.qe", "e.embedding")}
         |      / (qv.q_nrm * sqrt(${dotSql("e.embedding", "e.embedding")}))
         |      AS cosine
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id
         |  CROSS JOIN qv
         |)
         |SELECT
         |  CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
         |    AS rerank,
         |  doc_id, bm25_rank, bm25, cosine
         |FROM rr ORDER BY cosine DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Reciprocal rank fusion over (BM25 rank, cosine rank): integer
    // ranks → rrf is two exact IEEE divisions + one add per row, so the
    // whole fusion replays bit-for-bit. 1.0e0 literals lex as DOUBLE.
    "q_rrf_fusion" ->
      s"""WITH cand AS (
         |  SELECT rank AS bm25_rank, doc_id
         |  FROM (${bm25Sql(20)})
         |), qv AS (
         |  SELECT embedding AS qe,
         |    sqrt(${dotSql("embedding", "embedding")}) AS q_nrm
         |  FROM embeddings
         |  WHERE vec_id = (SELECT doc_id FROM cand WHERE bm25_rank = 1)
         |), sc AS (
         |  SELECT cand.bm25_rank, cand.doc_id,
         |    ${dotSql("qv.qe", "e.embedding")}
         |      / (qv.q_nrm * sqrt(${dotSql("e.embedding", "e.embedding")}))
         |      AS cosine
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id
         |  CROSS JOIN qv
         |), cr AS (
         |  SELECT bm25_rank, doc_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
         |      AS cos_rank
         |  FROM sc
         |), f AS (
         |  SELECT doc_id, bm25_rank, cos_rank,
         |    1.0e0 / (60 + bm25_rank) + 1.0e0 / (60 + cos_rank) AS rrf
         |  FROM cr
         |)
         |SELECT
         |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT)
         |    AS rrf_rank,
         |  doc_id, bm25_rank, cos_rank, rrf
         |FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,

    // MMR diverse rerank: 5 unrolled greedy steps; λ = 1/2 dyadic.
    "q_mmr_rerank" -> mmrSql,

    "q_embed_stats" ->
      // integer-exact vector reductions: counts, and a ×16 (power of two —
      // exact on binary floats) quantized floor-sum; no float accumulation
      """WITH q AS (
        |  SELECT label, len(embedding) AS dims,
        |    len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS n_pos,
        |    list_reduce(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 16.0) AS BIGINT)),
        |      (acc, x) -> acc + x) AS q_sum
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(dims) AS BIGINT) AS total_dims,
        |  CAST(sum(n_pos) AS BIGINT) AS sum_pos,
        |  CAST(sum(q_sum) AS BIGINT) AS sum_q16
        |FROM q GROUP BY label
        |ORDER BY label""".stripMargin,

    // BPE lossless-roundtrip gate: DuckDB recomputes the whitespace-
    // normalized text WITHOUT running BPE; the Spark side rebuilds it
    // from the learned subword stream — equality proves no codepoint is
    // dropped, duplicated, or corrupted by learn/encode anywhere in the
    // corpus (TextAnalysis.bpeRoundtrip scaladoc).
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(string_split(text, ' '),
        |    w -> w <> ''), ' ') AS detok
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Multimodal codec gates: the generated clips/images are pure integer
    // functions of media_id (Multimodal.{wavStats,pngStats,videoStats}),
    // so the oracle recomputes what a CORRECT encode→decode round trip
    // MUST yield straight from the generator formulas — DuckDB never
    // decodes a byte, yet any codec regression (chunk walk, filter,
    // zlib, plane math) breaks the bit-match. JPEG stays rows-only:
    // its values depend on the lossy transform itself.
    "q_wav_stats" ->
      // square wave of ±amp: rms == amp exactly (every sample ±amp, the
      // double accumulation is exact at these magnitudes), zero
      // crossings = floor((frames-1)/period), duration = frames*1000/rate
      """SELECT id AS media_id,
        |  CAST(8000 + (id % 5) * 2000 AS INT) AS sample_rate,
        |  CAST(1 + (id % 2) AS INT) AS channels,
        |  CAST(((400 + (id % 97) * 10) * 1000)
        |    // (8000 + (id % 5) * 2000) AS BIGINT) AS duration_ms,
        |  CAST((3000 + 100 * (id % 29)) * 256 AS BIGINT) AS rms256,
        |  CAST(3000 + 100 * (id % 29) AS INT) AS peak,
        |  CAST((400 + (id % 97) * 10 - 1)
        |    // (20 + (id % 13)) AS BIGINT) AS zero_crossings,
        |  true AS decoded
        |FROM range(64) t(id)
        |ORDER BY media_id""".stripMargin,

    "q_png_stats" ->
      // pixel i carries ((31*i + 17*id) mod 256); channel c of pixel p is
      // i = 3p + c, so sum_c = Σ_p ((93p + 31c + 17id) mod 256) over the
      // w×h raster (w = 4 + id%13, h = 3 + id%7, wh ≤ 144)
      """WITH imgs AS (
        |  SELECT id, (4 + (id % 13)) AS w, (3 + (id % 7)) AS h
        |  FROM range(64) t(id)
        |), px AS (
        |  SELECT id, w, h, p FROM imgs CROSS JOIN range(144) r(p)
        |  WHERE p < w * h
        |)
        |SELECT id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(sum((93 * p + 17 * id) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((93 * p + 31 + 17 * id) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((93 * p + 62 + 17 * id) % 256) AS BIGINT) AS sum_b,
        |  true AS decoded
        |FROM px GROUP BY id, w, h
        |ORDER BY media_id""".stripMargin,

    // q_image_neardup: the PNG round trip is lossless and each 4×4 pixel
    // box is one constant cell luma whose box average is EXACT (grayscale
    // luma (77+150+29)·L >> 8 = L), so the decoded 9×8 dHash grid equals
    // Multimodal.neardupCellLuma's integer formula — DuckDB recomputes
    // every fingerprint bit and the full exact pair set (Hamming ≤ 7)
    // without decoding a byte. The banded plan's pigeonhole recall
    // guarantee (8 bands ⊇ radius 7) is what makes the oracle the
    // ALL-PAIRS join: candidates-by-band equals pairs-by-radius exactly.
    "q_image_neardup" ->
      """WITH g AS (
        |  SELECT t.id, t.id % 4 AS v, r1.cy, r2.cx,
        |    ((t.id // 4) * 31 + r1.cy * 17 + r2.cx * 13) AS s0,
        |    ((t.id // 4) * 31 + 7 + r1.cy * 23 + r2.cx * 29) AS s3
        |  FROM range(96) t(id), range(8) r1(cy), range(9) r2(cx)
        |), cells AS (
        |  SELECT id, cy, cx,
        |    CASE v
        |      WHEN 0 THEN (s0 * s0) % 256
        |      WHEN 1 THEN ((s0 * s0) % 256 + 6) % 256
        |      WHEN 2 THEN CASE WHEN (cy * 9 + cx) % 29 = 0
        |        THEN 255 - (s0 * s0) % 256 ELSE (s0 * s0) % 256 END
        |      ELSE (s3 * s3) % 256
        |    END AS l
        |  FROM g
        |), bits AS (
        |  SELECT a.id, a.cy * 8 + a.cx AS k,
        |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON a.id = b.id AND a.cy = b.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8
        |)
        |SELECT x.id AS a_id, y.id AS b_id,
        |  CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT)
        |    AS hamming
        |FROM bits x JOIN bits y ON x.k = y.k AND y.id > x.id
        |GROUP BY x.id, y.id
        |HAVING sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) <= 7
        |ORDER BY a_id, b_id""".stripMargin,

    // every q_mjpeg_stats column is container arithmetic (the sampling
    // schedule, frame timing, dims, frame count — all closed formulas of
    // media_id); each ROW existing proves the sampled frame survived AVI
    // parse + JPEG decompression with consistent dims. Pixel values are
    // lossy and spec-bounded instead.
    "q_mjpeg_stats" ->
      """WITH g AS (
        |  SELECT id, CAST(16 + (id % 4) * 8 AS INT) AS w,
        |    CAST(16 + (id % 3) * 8 AS INT) AS h,
        |    CAST(2 + (id % 5) AS INT) AS nf,
        |    CAST(10 + (id % 5) AS INT) AS fps
        |  FROM range(32) t(id)
        |), ts AS (
        |  SELECT id, w, h, nf, fps, u.t
        |  FROM g, unnest(range(0, nf * 1000 // fps + 1, 250)) AS u(t)
        |), ix AS (
        |  SELECT DISTINCT id, w, h, nf, fps,
        |    CAST(t * fps // 1000 AS INT) AS idx
        |  FROM ts WHERE t * fps // 1000 < nf
        |)
        |SELECT id AS media_id, idx AS frame_idx,
        |  CAST(idx * 1000 // fps AS BIGINT) AS frame_ms,
        |  w AS width, h AS height, nf AS n_frames
        |FROM ix
        |ORDER BY media_id, frame_idx""".stripMargin,

    // constant per-channel levels survive IMA ADPCM exactly (header
    // sample verbatim, zero deltas, step pinned at the 7-floor), so the
    // lossy-codec evidence query still has closed-formula signal values:
    // mono rms = amp; stereo rms = sqrt((a0²+a1²)/2), rounded as
    // floor(x·256 + 0.5) to mirror Java math.round exactly.
    "q_adpcm_stats" ->
      """SELECT id AS media_id,
        |  CAST(8000 + (id % 5) * 2000 AS INT) AS sample_rate,
        |  CAST(1 + (id % 2) AS INT) AS channels,
        |  CAST(((300 + (id % 50) * 7) * 1000)
        |    // (8000 + (id % 5) * 2000) AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN id % 2 = 0 THEN (2000 + 150 * (id % 23)) * 256
        |    ELSE floor(sqrt((pow(2000 + 150 * (id % 23), 2) +
        |      pow(2500 + 150 * (id % 23), 2)) / 2.0) * 256 + 0.5)
        |    END AS BIGINT) AS rms256,
        |  CAST(CASE WHEN id % 2 = 0 THEN 2000 + 150 * (id % 23)
        |    ELSE 2500 + 150 * (id % 23) END AS INT) AS peak,
        |  CAST(0 AS BIGINT) AS zero_crossings,
        |  true AS decoded
        |FROM range(48) t(id)
        |ORDER BY media_id""".stripMargin,

    // lossy MDCT codec: metadata fields are exact by construction; the
    // lossy contract rides in two oracle-predicted booleans — silence
    // round-trips to exact zeros (silent-band elision), tones clear a
    // 30 dB SNR floor vs the formula-regenerated original (MdctSpec pins
    // the same bound single-node)
    "q_mdct_stats" ->
      """SELECT id AS media_id,
        |  CAST(8000 + (id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(1 + (id % 2) AS INT) AS channels,
        |  CAST(((700 + (id % 40) * 11) * 1000)
        |    // (8000 + (id % 3) * 4000) AS BIGINT) AS duration_ms,
        |  (id % 5 = 0) AS silent,
        |  true AS snr_ok,
        |  true AS decoded
        |FROM range(40) t(id)
        |ORDER BY media_id""".stripMargin,

    "q_video_stats" ->
      // 4 fps clips of nf = 3 + id%6 frames → duration nf*250 ms; frame
      // sampling at 500 ms picks idx = 2k while 500k < nf*250 and 2k < nf;
      // Y-plane byte i of frame f is ((7i + 31f + 13id) mod 256), so
      // mean_luma256 = (Σ_i value) * 256 // (w*h) with w*h ≤ 160
      """WITH vids AS (
        |  SELECT id, (8 + (id % 5) * 2) AS w, (6 + (id % 3) * 2) AS h,
        |    (3 + (id % 6)) AS nf
        |  FROM range(32) t(id)
        |), fidx AS (
        |  SELECT id, w, h, (2 * k) AS f FROM vids CROSS JOIN range(4) r(k)
        |  WHERE 500 * k < nf * 250 AND 2 * k < nf
        |), luma AS (
        |  SELECT id, w, h, f, sum((7 * p + 31 * f + 13 * id) % 256) AS s
        |  FROM fidx CROSS JOIN range(160) q(p) WHERE p < w * h
        |  GROUP BY id, w, h, f
        |)
        |SELECT id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(f * 250 AS BIGINT) AS frame_ms,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST((s * 256) // (w * h) AS BIGINT) AS mean_luma256
        |FROM luma
        |ORDER BY media_id, frame_idx""".stripMargin,

    // multiset intersection (reference F3/Q5: Seq.intersect preserves
    // multiplicity) = Σ_token least(count_a, count_b), via per-pair unnest
    "q_multiset_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |), pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.source,
        |    a.t AS at, b.t AS bt
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |), ca AS (
        |  SELECT a_id, b_id, unnest(at) AS tok FROM pr
        |), cb AS (
        |  SELECT a_id, b_id, unnest(bt) AS tok FROM pr
        |), na AS (SELECT a_id, b_id, tok, count(*) AS n FROM ca GROUP BY a_id, b_id, tok),
        |nb AS (SELECT a_id, b_id, tok, count(*) AS n FROM cb GROUP BY a_id, b_id, tok),
        |inter AS (
        |  SELECT a_id, b_id,
        |    CAST(sum(least(na.n, nb.n)) AS INT) AS common_multiset
        |  FROM na JOIN nb USING (a_id, b_id, tok)
        |  GROUP BY a_id, b_id
        |)
        |SELECT p.a_id, p.b_id, p.source, i.common_multiset,
        |  CAST(len(list_intersect(p.at, p.bt)) AS INT) AS common_set
        |FROM pr p JOIN inter i ON p.a_id = i.a_id AND p.b_id = i.b_id
        |WHERE i.common_multiset >= 20
        |ORDER BY p.a_id, p.b_id""".stripMargin,

    // content-defined chunking: same boundary rule (salted md5 < '10'),
    // same strictly-before cumulative boundary count, chunk text
    // re-assembled in token order for the fingerprint. DuckDB SUM over a
    // window returns HUGEINT — cast to BIGINT to match Spark's long.
    "q_cdc_chunks" ->
      """WITH sp AS (
        |  SELECT doc_id, string_split(text, ' ') AS sp FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(generate_series(1, len(sp))) AS pos,
        |    unnest(sp) AS tok
        |  FROM sp
        |), flagged AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN substr(md5('cdc:' || tok), 1, 2) < '10'
        |         THEN 1 ELSE 0 END AS b
        |  FROM tok
        |), chunked AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS chunk_id
        |  FROM flagged
        |)
        |SELECT doc_id, chunk_id, count(*) AS n_tokens,
        |  CAST(min(pos) - 1 AS INTEGER) AS start_pos,
        |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        |FROM chunked
        |GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // column profiler: one UNION ALL branch per column, stats rendered
    // as strings; binary string collation matches Spark's.
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |    count(*) - count(doc_id) AS n_nulls,
        |    count(DISTINCT doc_id) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_str,
        |    CAST(max(doc_id) AS VARCHAR) AS max_str
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang),
        |    count(DISTINCT lang), min(lang), max(lang) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |    count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |    CAST(max(n_chars) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |    count(DISTINCT source), min(source), max(source) FROM documents
        |  UNION ALL
        |  SELECT 'text', count(*), count(*) - count(text),
        |    count(DISTINCT text), min(text), max(text) FROM documents
        |) ORDER BY col_name""".stripMargin,

    // CDC-chunk first-occurrence dedup: same chunk CTEs, then the
    // fingerprint-keyed window and per-doc survival rollup.
    "q_cdc_dedup" ->
      """WITH sp AS (
        |  SELECT doc_id, string_split(text, ' ') AS sp FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(generate_series(1, len(sp))) AS pos,
        |    unnest(sp) AS tok
        |  FROM sp
        |), flagged AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN substr(md5('cdc:' || tok), 1, 2) < '10'
        |         THEN 1 ELSE 0 END AS b
        |  FROM tok
        |), chunked AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS chunk_id
        |  FROM flagged
        |), chunks AS (
        |  SELECT doc_id, chunk_id, count(*) AS n_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        |  FROM chunked GROUP BY doc_id, chunk_id
        |), ranked AS (
        |  SELECT doc_id, chunk_id, n_tokens, chunk_md5,
        |    row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id) AS rn
        |  FROM chunks
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mean token document-frequency: integer sums, one final division.
    "q_df_score" ->
      """WITH d AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents
        |), dfs AS (
        |  SELECT tok, count(*) AS df FROM d GROUP BY tok
        |)
        |SELECT d.doc_id, count(*) AS n_distinct,
        |  CAST(sum(dfs.df) AS BIGINT) AS df_sum,
        |  CAST(sum(dfs.df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
        |FROM d JOIN dfs USING (tok)
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // DSIR importance weights: smoothed target/raw occurrence-mass
    // ratios per token, per-doc mean over the token stream folded in
    // sorted token order (the bm25 float-parity device); the 55/1024
    // keep threshold is dyadic and sits inside the measured score band
    // at every SF. See TextAnalysis.dsirWeights.
    "q_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), w AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |      / CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |      AS wt
        |  FROM t GROUP BY tok
        |), per AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    list_reduce(list(w.wt ORDER BY t.tok), (a, x) -> a + x) AS wsum
        |  FROM t JOIN w USING (tok)
        |  GROUP BY t.doc_id
        |)
        |SELECT doc_id, n_tokens,
        |  wsum / CAST(n_tokens AS DOUBLE) AS dsir_score,
        |  (wsum / CAST(n_tokens AS DOUBLE) >= CAST(55 AS DOUBLE) / 1024)
        |    AS keep
        |FROM per
        |ORDER BY doc_id""".stripMargin,

    // CCNet-style bigram-LM fluency: Laplace-smoothed conditional
    // probabilities (rational arithmetic, no libm log), per-doc mean
    // folded in sorted-bigram order (the dsirWeights device); the
    // 34/1024 keep threshold is dyadic and sits inside the measured
    // score band at every SF. See TextAnalysis.lmFluency.
    "q_lm_fluency" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |), inst AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS bg
        |    FROM d)
        |), bgc AS (
        |  SELECT bg, count(*) AS c_bg FROM inst GROUP BY bg
        |), hist AS (
        |  SELECT w1, count(*) AS c_hist FROM inst GROUP BY w1
        |), vocab AS (
        |  SELECT count(DISTINCT tok) AS v FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |), per AS (
        |  SELECT inst.doc_id, count(*) AS n_bigrams,
        |    list_reduce(
        |      list(CAST(bgc.c_bg + 1 AS DOUBLE)
        |             / CAST(hist.c_hist + vocab.v AS DOUBLE)
        |           ORDER BY inst.bg),
        |      (a, x) -> a + x) AS psum
        |  FROM inst
        |  JOIN bgc USING (bg)
        |  JOIN hist USING (w1)
        |  CROSS JOIN vocab
        |  GROUP BY inst.doc_id
        |)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  psum / CAST(n_bigrams AS DOUBLE) AS lm_score,
        |  (psum / CAST(n_bigrams AS DOUBLE) >= CAST(34 AS DOUBLE) / 1024)
        |    AS keep
        |FROM per
        |ORDER BY doc_id""".stripMargin,

    "q_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sp AS (
        |  SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 15), ' ')) AS h
        |  FROM t, unnest(generate_series(1, len(t) - 15)) AS u(i)
        |  WHERE len(t) >= 16
        |), wc AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS c FROM sp
        |), per AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM wc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup,
        |  CASE WHEN coalesce(per.n_spans, 0) > 0
        |    THEN CAST(per.n_dup AS DOUBLE) / CAST(per.n_spans AS DOUBLE)
        |    END AS dup_frac,
        |  CASE WHEN coalesce(per.n_spans, 0) > 0 AND per.n_dup * 2 >= per.n_spans
        |    THEN 'drop' ELSE 'keep' END AS verdict
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sp AS (
        |  SELECT doc_id, i AS pos, len(t) - 7 AS n_spans,
        |    md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
        |  FROM t, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), w AS (
        |  SELECT doc_id, n_spans, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f
        |  FROM sp
        |), fps AS (
        |  SELECT DISTINCT doc_id, f FROM w WHERE pos <= n_spans - 3
        |), per AS (
        |  SELECT doc_id, count(*) AS n_fp,
        |    md5(string_agg(f, '' ORDER BY f)) AS fp_digest
        |  FROM fps GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(greatest(len(string_split(d.text, ' ')) - 7, 0) AS BIGINT)
        |    AS n_spans,
        |  CAST(coalesce(per.n_fp, 0) AS BIGINT) AS n_fp,
        |  per.fp_digest
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_pipeline_funnel" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, string_split(text, ' ') AS t
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, source, lang, t, len(t) AS n,
        |    len(list_distinct(t)) AS nd
        |  FROM d
        |), fl AS (
        |  SELECT *, (n >= 20 AND 20 * (n - nd) <= 13 * n) AS q1,
        |    (n >= 20 AND 20 * (n - nd) <= 13 * n AND lang = 'en') AS q2,
        |    md5(array_to_string(t[1:16], ' ')) AS pfx
        |  FROM f
        |), s3 AS (
        |  SELECT *, q2 AND doc_id = min(CASE WHEN q2 THEN doc_id END)
        |    OVER (PARTITION BY pfx) AS q3
        |  FROM fl
        |), sp AS (
        |  SELECT doc_id, md5(array_to_string(t[i:i+15], ' ')) AS h
        |  FROM s3, unnest(generate_series(1, len(t) - 15)) AS u(i)
        |  WHERE q3 AND len(t) >= 16
        |), wc AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS c FROM sp
        |), per AS (
        |  SELECT doc_id, count(*) AS nsp,
        |    sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS ndp
        |  FROM wc GROUP BY doc_id
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN q1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(CASE WHEN q2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(sum(CASE WHEN q3 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN q3 AND (coalesce(nsp, 0) = 0 OR ndp * 2 < nsp)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |FROM s3 LEFT JOIN per USING (doc_id)
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_winnow_dedup" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sp AS (
        |  SELECT doc_id, i AS pos, len(t) - 7 AS n_spans,
        |    md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
        |  FROM t, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), w AS (
        |  SELECT doc_id, n_spans, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f
        |  FROM sp
        |), fps AS (
        |  SELECT DISTINCT doc_id, f FROM w WHERE pos <= n_spans - 3
        |), pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fps a JOIN fps b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), e AS (
        |  SELECT a_id AS u, b_id AS v FROM pr
        |  UNION SELECT b_id, a_id FROM pr
        |), nodes AS (SELECT DISTINCT u AS id FROM e),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
        |  CAST(CASE WHEN c.component IS NULL OR c.component = d.doc_id
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY d.doc_id""".stripMargin,

    // winnowPairs' df cap is a measured no-op on this corpus (max
    // fingerprint df = 3 vs cap 50; pinned in TextAnalysisSpec), so the
    // oracle omits it — same convention as q_ngram_jaccard's cap.
    "q_winnow_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sp AS (
        |  SELECT doc_id, i AS pos, len(t) - 7 AS n_spans,
        |    md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
        |  FROM t, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), w AS (
        |  SELECT doc_id, n_spans, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f
        |  FROM sp
        |), fps AS (
        |  SELECT DISTINCT doc_id, f FROM w WHERE pos <= n_spans - 3
        |), per AS (
        |  SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
        |), pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, n_shared,
        |  CAST(n_shared AS DOUBLE) /
        |    CAST(least(pa.n_fp, pb.n_fp) AS DOUBLE) AS containment
        |FROM pr
        |JOIN per pa ON pr.a_id = pa.doc_id
        |JOIN per pb ON pr.b_id = pb.doc_id
        |WHERE n_shared >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' mail user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com ok' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' call 555-867-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |      CAST(doc_id % 200 + 1 AS VARCHAR) || ' up' ELSE '' END AS txt
        |  FROM documents
        |), scr AS (
        |  SELECT doc_id, txt,
        |    regexp_replace(regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |  FROM inj
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(txt,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  md5(clean) AS clean_md5,
        |  CAST(CASE WHEN clean <> txt THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM scr
        |ORDER BY doc_id""".stripMargin,

    "q_bigram_topk" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN len(string_split(text, ' ')) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        |             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) END AS bgs
        |  FROM documents
        |), bg AS (
        |  SELECT lang, unnest(bgs) AS bigram FROM d
        |), counts AS (
        |  SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram
        |), ranked AS (
        |  SELECT lang, bigram, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram ASC) AS rnk
        |  FROM counts
        |)
        |SELECT lang, bigram, cnt, rnk FROM ranked
        |WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin,

    "q_word_topk" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        |), counts AS (
        |  SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
        |), ranked AS (
        |  SELECT lang, token, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rnk
        |  FROM counts
        |)
        |SELECT lang, token, cnt, rnk FROM ranked
        |WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    // The post-replay CDC table: global last-wins per key over the
    // derived change stream (queries.Storage.cdcState — a ~14% slice,
    // o_orderkey ≡ 0 mod 7, replayed across TWO query instances off one
    // checkpoint). One window in SQL == any batching of the sink,
    // because the replay splits batches on a _seq threshold; a sink
    // that drops/double-applies a batch (e.g. a restart that loses or
    // ignores the checkpoint) or collapses out of _seq order diverges.
    "q_cdc_state" ->
      """WITH changes AS (
        |  SELECT
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 2000
        |         ELSE o_custkey END AS custkey,
        |    o_orderstatus AS status, o_totalprice AS last_price,
        |    CASE WHEN o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |         THEN 'D' ELSE 'U' END AS _op,
        |    o_orderkey AS _seq
        |  FROM orders
        |  WHERE o_orderkey % 7 = 0
        |), last AS (
        |  SELECT custkey, status, last_price, _op,
        |    row_number() OVER (PARTITION BY custkey ORDER BY _seq DESC) AS rn
        |  FROM changes
        |)
        |SELECT c_custkey AS custkey, 'init' AS status,
        |       c_acctbal AS last_price
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT custkey FROM last WHERE rn = 1)
        |UNION ALL
        |SELECT custkey, status, last_price FROM last
        |WHERE rn = 1 AND _op <> 'D'
        |ORDER BY custkey""".stripMargin,

    // The post-MERGE snapshot: base ∖ keys(updates) ∪ updates
    // (queries.Storage.mergeState) as one SQL set expression.
    "q_merge_state" ->
      """WITH upd_m AS (
        |  SELECT o_custkey AS custkey, o_orderpriority AS segment,
        |    o_totalprice AS bal,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), upd_i AS (
        |  -- insert-arm offset derived from the key domain (r15): the
        |  -- same max(c_custkey)+1 scalar the Spark side embeds
        |  SELECT o_custkey + (SELECT max(c_custkey) + 1 FROM customer)
        |    AS custkey, o_orderstatus AS segment,
        |    o_totalprice AS bal,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderkey % 11 = 3
        |), updates AS (
        |  SELECT custkey, segment, bal FROM upd_m WHERE rn = 1
        |  UNION ALL
        |  SELECT custkey, segment, bal FROM upd_i WHERE rn = 1
        |)
        |SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |       c_acctbal AS bal
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT custkey FROM updates)
        |UNION ALL
        |SELECT custkey, segment, bal FROM updates
        |ORDER BY custkey""".stripMargin,

    // Streaming watermarked dedup replay (Storage.streamDedup): the
    // survivors of an at-least-once replay with injected in-batch and
    // cross-batch duplicates ≡ the raw distinct slice.
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_id % 20 = 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Bucketed co-located join (Storage.bucketedJoin): the aggregate
    // over the shuffle-free-require-gated join ≡ the plain SQL join.
    "q_bucketed_join" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Streaming sessionization replay (Storage.streamSessions): the
    // flatMapGroupsWithState machine over ts-ordered micro-batches ≡
    // batch gap sessionization (one lag/cumsum window), per-session
    // rows with µs-exact bounds.
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE user_id % 50 = 0
        |), flagged AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        |), sess AS (
        |  SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    // The post-MERGE partitioned snapshot (Storage.mergePartitionedState):
    // same set expression as q_merge_state; the partition mechanics
    // (cross-partition key moves, new partition dirs, by-reference
    // moves) happen Spark-side and any mistake surfaces as missing/
    // duplicated rows here.
    "q_merge_partitioned" ->
      """WITH updates AS (
        |  SELECT custkey, segment, bal FROM (
        |    SELECT o_custkey AS custkey, o_orderpriority AS segment,
        |      o_totalprice AS bal,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderkey % 13 = 0
        |  ) WHERE rn = 1
        |)
        |SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |       c_acctbal AS bal
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT custkey FROM updates)
        |UNION ALL
        |SELECT custkey, segment, bal FROM updates
        |ORDER BY custkey""".stripMargin,

    // The schema-evolution read (Storage.evolvedRead): legacy rows are
    // customer-derived with a null evolved column, evolved rows are
    // orders-derived — the aggregate proves the mergeSchema union and
    // null-fill.
    "q_evolved_read" ->
      """SELECT seg, count(*) AS n_rows,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
        |  CAST(sum(custkey) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT 'legacy' AS seg, c_acctbal AS bal, c_custkey AS custkey
        |  FROM customer
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice,
        |    o_custkey + (SELECT max(c_custkey) + 1 FROM customer)
        |  FROM orders WHERE o_orderkey % 3 = 1
        |)
        |GROUP BY seg
        |ORDER BY seg""".stripMargin,

    // The z-order prune outcome (queries.Storage.zorderPrune): the
    // Morton layout is a pure function of the data (quantize to 4 bits
    // per dim between observed min/max, interleave, bucket = z >> 4),
    // so DuckDB recomputes the per-file 2-D ranges and exactly which
    // files survive the box predicate.
    "q_zorder_prune" ->
      """WITH st AS (
        |  SELECT CAST(min(l_partkey) AS DOUBLE) AS plo,
        |         CAST(max(l_partkey) AS DOUBLE) AS phi,
        |         CAST(min(l_suppkey) AS DOUBLE) AS slo,
        |         CAST(max(l_suppkey) AS DOUBLE) AS shi
        |  FROM lineitem
        |), q AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    least(greatest(CAST(floor((CAST(l_partkey AS DOUBLE) - plo)
        |      / (phi - plo) * 15) AS BIGINT), 0), 15) AS bp,
        |    least(greatest(CAST(floor((CAST(l_suppkey AS DOUBLE) - slo)
        |      / (shi - slo) * 15) AS BIGINT), 0), 15) AS bs
        |  FROM lineitem, st
        |), zz AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    (((bp >> 0) & 1) << 0) | (((bs >> 0) & 1) << 1)
        |    | (((bp >> 1) & 1) << 2) | (((bs >> 1) & 1) << 3)
        |    | (((bp >> 2) & 1) << 4) | (((bs >> 2) & 1) << 5)
        |    | (((bp >> 3) & 1) << 6) | (((bs >> 3) & 1) << 7) AS z
        |  FROM q
        |), files AS (
        |  SELECT z >> 4 AS zb,
        |    min(l_partkey) AS pmn, max(l_partkey) AS pmx,
        |    min(l_suppkey) AS smn, max(l_suppkey) AS smx
        |  FROM zz GROUP BY 1
        |), bounds AS (
        |  SELECT CAST(floor(plo + (phi - plo) * 0.30) AS BIGINT) AS bplo,
        |         CAST(floor(plo + (phi - plo) * 0.55) AS BIGINT) AS bphi,
        |         CAST(floor(slo + (shi - slo) * 0.40) AS BIGINT) AS bslo,
        |         CAST(floor(slo + (shi - slo) * 0.65) AS BIGINT) AS bshi
        |  FROM st
        |)
        |SELECT
        |  (SELECT count(*) FROM files) AS files_total,
        |  (SELECT count(*) FROM files, bounds
        |     WHERE NOT ((pmx < bplo OR pmn > bphi)
        |             OR (smx < bslo OR smn > bshi))) AS files_kept,
        |  (SELECT count(*) FROM lineitem, bounds
        |     WHERE l_partkey BETWEEN bplo AND bphi
        |       AND l_suppkey BETWEEN bslo AND bshi) AS rows_matched,
        |  (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem, bounds
        |     WHERE l_partkey BETWEEN bplo AND bphi
        |       AND l_suppkey BETWEEN bslo AND bshi) AS key_sum""".stripMargin,

    // Post-compaction data identity (queries.Storage.compaction): the
    // file-count outcome is require-gated in the query (bytes are not
    // SQL-recomputable); the oracle proves the rewrite lost/duplicated
    // nothing.
    "q_compaction" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
        |FROM lineitem""".stripMargin,

    // The skipping-index prune outcome (queries.Storage.skippingPrune):
    // the clustered layout is a pure function of the data (bucket =
    // floor(key·8/(max+1)), one file per bucket), so the per-file
    // min/max stats — and therefore exactly which files an honest index
    // keeps for the interval — are recomputable from lineitem alone.
    "q_skipping_prune" ->
      """WITH m AS (
        |  SELECT CAST(max(l_orderkey) + 1 AS DOUBLE) AS m FROM lineitem
        |), bounds AS (
        |  SELECT CAST(floor(m * 0.5) AS BIGINT) AS lo,
        |         CAST(floor(m * 0.65) AS BIGINT) AS hi
        |  FROM m
        |), files AS (
        |  SELECT CAST(floor(l_orderkey * 8.0 / m) AS INT) AS b,
        |    min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |  FROM lineitem, m GROUP BY 1
        |)
        |SELECT
        |  (SELECT count(*) FROM files) AS files_total,
        |  (SELECT count(*) FROM files, bounds
        |     WHERE NOT (mx < lo OR mn > hi)) AS files_kept,
        |  (SELECT count(*) FROM lineitem, bounds
        |     WHERE l_orderkey BETWEEN lo AND hi) AS rows_matched,
        |  (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem, bounds
        |     WHERE l_orderkey BETWEEN lo AND hi) AS key_sum""".stripMargin,
  )
}
