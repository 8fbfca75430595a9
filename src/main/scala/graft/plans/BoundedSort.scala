package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Final ordering of a result whose size is bounded by a domain, not by
  * the corpus: `df.boundedSort(keys*)`, after `import BoundedSort._`, is
  * `df.coalesce(1).sortWithinPartitions(keys*)`.
  *
  * A plain `orderBy` plans a range exchange: a RangePartitioner sampling
  * job, then one more shuffle stage, to sort 3–190 rows. Here the last
  * stage runs as one task and sorts its rows locally, so that job and
  * that stage go away. The rows and their order are those of `orderBy`
  * whenever the keys are unique per output row (they are the group-by
  * keys at every site below, so ties cannot reorder).
  *
  * `coalesce(1)` is narrow: it collapses the whole stage beneath it into
  * one task. Use this only where that stage reads the bounded aggregate's
  * own output (an exchange of partial aggregates), never where it would
  * also pull a corpus-sized scan, join or window into one task
  * (q_string_agg's aggregate shares a stage with a window over every
  * customer, so it keeps `orderBy`). Top-k and per-row results
  * (q_asof_join, q_similarity_join_p2) grow with the corpus and keep
  * `orderBy`. PlanShapeSpec checks every site below for both properties.
  *
  * '''Ledger of deliberate single-partition steps.'''
  *
  * Converted sorts (query: sort key, bound on output rows):
  *  - q_pricing_summary: l_returnflag, l_linestatus — 3 flags × 2 statuses
  *  - q_mv_refresh: o_orderstatus — 3 statuses
  *  - q_label_join: o_orderstatus, label — 3 statuses × 2 labels
  *  - q_region_revenue: r_name, n_name — 25 nations
  *  - q_customers_with_orders, q_customers_without_orders: c_nationkey — 25
  *  - q_triplet_join: p_brand, s_nationkey — 25 brands × 25 nations
  *  - q_orders_rollup, q_orders_cube: o_orderstatus, o_orderpriority —
  *    (3 + 1) × (5 + 1) grouping rows
  *  - q_pivot_status, q_quantiles, q_bloom_prune, q_distinct_counts,
  *    q_approx_distinct, q_hll_distinct, q_approx_quantiles,
  *    q_stratified_sample, q_bottomk_sample: l_returnflag — 3 flags
  *  - q_skew_join, q_late_orders: o_orderpriority — 5 priorities
  *  - q_price_bands: band — 4 literal bands
  *  - q_nullsafe_join: tier — 10 balance tiers and the null tier
  *  - q_full_outer: nationkey, has_big, known_customer — 26 × 2 × 2
  *  - q_nation_intersect, q_nation_delta, q_null_fill: nation key — 25
  *  - q_hash_quantiles: o_orderstatus — 3 statuses
  *  - q_json_props, q_hll_merge, q_stream_dedup: event_type — 5 types
  *  - q_json_typed: event_type, k_bucket — 5 types × 10 buckets
  *  - q_sketch_overlap: src_a, src_b — 190 pairs of 20 sources; its
  *    source list is one partition too, so one task reads the pinned
  *    sketch frame (a row per source) and runs the pair joins, the
  *    union-rank window and both aggregates over at most 190 × 2 × 256
  *    sketch entries, a bound set by the sources and k, with no exchange
  *  - q_sketch_delta: lang — 5 languages; its window runs over at most
  *    5 × 2 × 256 sketch entries
  *  - q_token_stats: lang — 5 languages
  *  - q_source_diversity, q_bpe_tokens, q_pipeline_funnel: source — 20
  *  - q_embed_stats: label — 10 labels
  *  - q_embed_centroids: label, dim — 10 labels × 64 dimensions
  *  - q_evolved_read: seg — 5 priorities and "legacy"
  *  - q_bucketed_join: segment — 5 market segments
  *
  * Windows with no `PARTITION BY` (Spark logs "No Partition Defined for
  * Window operation"), each over a bounded input:
  *  - q_bm25_topk, and the BM25 candidate step of q_hybrid_retrieval,
  *    q_mmr_rerank and q_rrf_fusion: the query-term rank over the top 27
  *    terms by df (`limit(27)`), and the result rank over `limit(k)` or
  *    `limit(nCand)` documents
  *  - q_hybrid_retrieval: the cosine rerank over at most nCand candidates
  *  - q_rrf_fusion: the cosine rank and the fused rank over at most nCand
  *    candidates
  *  - q_threshold_sweep: `LinkPredictor.sweepMetrics`' cumulative and
  *    total windows over one row per distinct score, 11 `l_discount`
  *    values
  *  - q_linkpred_e2e: the same sweep over at most 1,001 p1 scores rounded
  *    to 3 decimals
  *  - q_mix_temperature: the totals window over one row per language, 5
  */
object BoundedSort {
  implicit class BoundedSortOps(private val df: DataFrame) extends AnyVal {
    def boundedSort(keys: Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(keys: _*)
  }
}
