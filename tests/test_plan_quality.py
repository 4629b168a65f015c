"""Physical-plan quality gates — the 100 TB contract, asserted.

Correct results are necessary, not sufficient: these tests pin the PLAN
properties that make each operator survive a 1000-executor scale-up —
predicate pushdown reaching the parquet scan, column pruning, broadcast
(never sort-merge) for dim joins, TakeOrderedAndProject for top-k,
WindowGroupLimit for rank-filters, and no Python eval in JVM-only paths.
A regression here is a performance bug even while every value still matches.
"""

from __future__ import annotations

import re

import pytest

from eth_event_stream_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return _formatted_plan(QUERIES[name].fn(spark, sf_dir))


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


PLAN_EXPECTATIONS = {
    # filter reaches the scan; aggregation is hash-based (partial + final)
    "q1_pricing_summary": [r"PushedFilters: .*l_shipdate", r"HashAggregate"],
    # star joins broadcast; a SortMergeJoin here would shuffle the fact table
    "join_broadcast_dim": [r"BroadcastHashJoin"],
    "q5_local_supplier_volume": [r"BroadcastHashJoin"],
    "q3_top_unshipped": [r"TakeOrderedAndProject", r"PushedFilters: .*l_shipdate"],
    # top-k must be heap+merge, not global sort
    "topk_orders": [r"TakeOrderedAndProject"],
    "similarity_topk_bruteforce": [r"TakeOrderedAndProject"],
    # semantic decontamination: benchmark set broadcast into a codegen'd
    # fold over ONE corpus scan; per-vector max partial-aggregates
    "decontaminate_semantic": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # rn <= 3 must push a per-partition group limit below the shuffle
    "window_rank_topn": [r"WindowGroupLimit"],
    # the codec round trip must be two Arrow map passes (encode + decode)
    # feeding a hash aggregate — per-row Python is the whole point here,
    # so the gate pins the MapInPandas shape rather than banning it
    "multimodal_codec_roundtrip": [r"MapInPandas.*MapInPandas|MapInPandas[\s\S]*MapInPandas", r"HashAggregate"],
    # the audio-segment lane is the same two-Arrow-pass shape (encode +
    # segment-decode), with the lane filter applied BEFORE the encode pass
    # (only audio-lane documents pay the Python encode cost)
    "multimodal_audio_segments": [r"MapInPandas[\s\S]*MapInPandas", r"Filter"],
    # resample round trip: THREE Arrow passes (encode, resample,
    # verify-decode), lane filter before the first
    "multimodal_resample_roundtrip": [
        r"MapInPandas[\s\S]*MapInPandas[\s\S]*MapInPandas", r"Filter",
    ],
    # audio downsample round trip: the same three-Arrow-pass shape
    "multimodal_audio_resample_roundtrip": [
        r"MapInPandas[\s\S]*MapInPandas[\s\S]*MapInPandas", r"Filter",
    ],
    # WARC ingest: two Arrow passes (build archives, parse records),
    # bytes partition-local, no shuffle anywhere in the plan
    "ingest_warc_documents": [r"MapInPandas[\s\S]*MapInPandas"],
    # WET extraction: the HTML -> text chain itself is pure Catalyst —
    # only the two WARC Arrow passes may appear, extraction stays codegen
    "ingest_warc_html_text": [r"MapInPandas[\s\S]*MapInPandas"],
    # HTTP header layer: two Arrow passes (build archives, split records);
    # the field extraction over the header block stays codegen
    "web_http_headers": [r"MapInPandas[\s\S]*MapInPandas"],
    # bytes -> content blocks: the two WARC Arrow passes feed a pure-
    # codegen block explode + classification
    "web_content_extraction": [r"MapInPandas[\s\S]*MapInPandas"],
    # registrable-domain profile: the PSL rules dim must broadcast and
    # the politeness window must partition by domain (never one task)
    "web_domain_profile": [r"BroadcastHashJoin"],
    "web_fetch_schedule": [r"hashpartitioning\(domain"],
    # robots decision: rules dim broadcast into the URL fact table, the
    # longest-match winner via a per-URL group limit — and the whole
    # parse+decide pipeline is Catalyst (no Python nodes)
    "web_robots_filter": [r"BroadcastHashJoin", r"WindowGroupLimit"],
    # the composed web pipeline: the WARC Arrow passes feed codegen'd
    # extraction/quality, the robots dim broadcasts, the winner windows
    "web_pipeline_keep_list": [
        r"MapInPandas[\s\S]*MapInPandas",
        r"BroadcastHashJoin",
        r"WindowGroupLimit",
    ],
    "flagship_user_netflow": [r"HashAggregate"],
    "dedup_minhash_lsh_pairs": [r"HashAggregate"],
    # global token counts must partial-aggregate and top-k via heap
    "corpus_top_terms": [r"HashAggregate", r"TakeOrderedAndProject"],
    # date window pushed to the orders scan; nation dim broadcast; heap top-k
    "q10_returned_items": [
        r"PushedFilters: .*o_orderdate",
        r"BroadcastHashJoin",
        r"TakeOrderedAndProject",
    ],
    # the HAVING-derived key set must broadcast into the fact semi-join
    "q18_large_orders": [r"BroadcastHashJoin LeftSemi", r"TakeOrderedAndProject"],
    # the correlated LATERAL subquery must decorrelate to a per-partition
    # group limit, not execute per outer row
    "join_lateral_topn": [r"WindowGroupLimit"],
    # the production dedup composition: hash aggregates (collapse + minhash
    # + intersection counts) with the tiny sides broadcast — a SortMergeJoin
    # anywhere in it means a size estimate degraded
    "dedup_collapse_then_lsh_verify": [r"HashAggregate", r"BroadcastHashJoin"],
    # correlated EXISTS must decorrelate to ONE semi join (never a per-order
    # subquery execution)
    "q4_priority_semijoin": [r"LeftSemi", r"HashAggregate"],
    # q6 lives on pushdown: the date range AND the measure predicates must
    # reach the parquet scan
    "q6_forecast_revenue": [
        r"GreaterThanOrEqual\(l_shipdate",
        r"GreaterThanOrEqual\(l_discount",
        r"LessThan\(l_quantity",
    ],
    "q14_promo_revenue": [r"BroadcastHashJoin", r"LessThan\(l_shipdate"],
    # the disjunctive brackets must yield IMPLIED per-side filters pushed to
    # BOTH scans (the classic q19 optimization), residual OR post-join
    "q19_disjunctive_revenue": [
        r"Or\(Or\(And\(EqualTo\(p_brand",
        r"GreaterThanOrEqual\(l_quantity",
        r"BroadcastHashJoin",
    ],
    # NOT EXISTS -> left-anti hash join; the scalar cutoff broadcasts
    "q22_idle_balances": [r"LeftAnti", r"GreaterThan\(c_acctbal,0.0\)"],
    # correlated scalar-MIN against a join tree: the supplier->nation->region
    # dim chain broadcasts, the per-part min is ONE hash aggregate (never a
    # per-part subquery), and the top-100 is heap+merge
    "q2_min_cost_supplier": [
        r"BroadcastHashJoin",
        r"HashAggregate",
        r"TakeOrderedAndProject",
    ],
    # outer-join count distribution: the LEFT join must survive (no rewrite
    # to inner), and both aggregation levels are hash-based
    "q13_order_count_distribution": [r"LeftOuter", r"HashAggregate"],
    # nested semi-join over a correlated aggregate threshold: the date window
    # is pushed to the scan and the supplier gate is ONE left-semi hash join
    "q20_excess_shippers": [r"PushedFilters: .*l_shipdate", r"LeftSemi"],
    # EXISTS + NOT EXISTS pair: one left-semi and one left-anti hash join on
    # the order key — never per-row subquery execution
    "q21_waiting_suppliers": [r"LeftSemi", r"LeftAnti", r"HashAggregate"],
    # production Levenshtein: exact-collapse is a hash aggregate and the
    # bucket-cap filter broadcasts into the nomination join (a SortMergeJoin
    # means the distinct-name side was misestimated as large)
    "dedup_levenshtein_nominated": [r"HashAggregate", r"BroadcastHashJoin"],
    # eight-way market-share join: ONE fact scan, every dim broadcast, the
    # order-date window pushed to the orders scan
    "q8_national_market_share": [
        r"BroadcastHashJoin",
        r"PushedFilters: .*o_orderdate",
        r"HashAggregate",
    ],
    # profit mart: name-filtered part dim broadcasts (pushed StringContains),
    # one aggregation pass carrying both lanes
    "q9_product_type_profit": [r"BroadcastHashJoin", r"HashAggregate"],
    # global-scalar group filter: the 1-row total joins via broadcast
    # nested-loop, never a per-group subquery
    "q11_important_stock": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # fact-fact join with the ship-date window pushed to the lineitem scan
    "q12_late_priority_lines": [r"PushedFilters: .*l_shipdate", r"HashAggregate"],
    # argmax-by-scalar-subquery: Catalyst extracts the equality filter over
    # the 1-row max into an equi-condition, so BOTH the max join and the
    # supplier lookup are broadcast HASH joins (no nested loop at all)
    "q15_top_supplier": [
        r"BroadcastHashJoin",
        r"PushedFilters: .*l_shipdate",
    ],
    # NOT IN -> LEFT ANTI against the broadcast excluded set; distinct count
    # plans as expand + two-level hash aggregate
    "q16_supplier_relation_counts": [r"BroadcastHashJoin LeftAnti", r"HashAggregate"],
    # HAVING-gated per-order aggregate then enrichment joins
    "q18_large_volume_customers": [r"HashAggregate", r"BroadcastHashJoin"],
    # incremental ingest dedup: the batch side broadcasts into the band
    # probe and candidate joins; the corpus index streams past (hot-bucket
    # and hot-shingle guards are broadcast LEFT ANTIs)
    "dedup_incremental_pairs": [
        r"BroadcastHashJoin",
        r"BroadcastHashJoin LeftAnti",
        r"HashAggregate",
    ],
    # the accept decision is a LEFT ANTI of rejected ids against the batch
    "dedup_incremental_accept": [r"BroadcastHashJoin LeftAnti"],
    # prefix filtering: per-doc rarity window (doc-partitioned, never
    # SinglePartition — registry gate), hash-agg df table, candidate joins
    "dedup_prefix_filter_pairs": [r"HashAggregate", r"Window", r"BroadcastHashJoin"],
    # histogram quantiles: the cumulative sum is a broadcast nested-loop
    # self-join of the constant-size histogram, never a global window or
    # a cartesian over fact lineage
    "sketch_histogram_quantiles": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # waterfill: rank/prefix sums over the tiny per-stratum aggregate via
    # broadcast self-joins, never a SinglePartition window
    "mix_waterfill_allocation": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # exact-N stratified draw: per-partition top-N heaps below the shuffle
    "sample_stratified_exact_n": [r"WindowGroupLimit"],
    # constant-size broadcast arithmetic after one partial-agg shuffle
    "mix_temperature_allocation": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # the uniform exact-N draw must be per-partition heaps, never a sort
    "sample_topk_priority": [r"TakeOrderedAndProject"],
    # the epoch shuffle's rank is per-shard (hash shuffle + local sort),
    # never a SinglePartition window
    "layout_training_shuffle": [r"Window"],
    # CDC chunking is row-local: one projection + explode, shuffle-free
    "chunk_documents_cdc": [r"Generate"],
    # batched ANN: per-query cut must be WindowGroupLimit heaps, probes
    # and query embeddings broadcast into the shared candidate join
    "similarity_topk_batch_queries": [r"WindowGroupLimit", r"BroadcastHashJoin"],
    # the hybrid fusion's lanes cut to k rows and materialize (round 16:
    # the rank self-join consumed each lane's 20-row cut twice, so the
    # postings/probe towers ran once per copy — the lazy localCheckpoint
    # runs them once; the lanes' broadcast joins now live inside the
    # checkpoint jobs); the visible plan is the cached k-row lanes
    # (ExistingRDD), the fusion hash aggregate, and the final heap cut
    "search_hybrid_rrf_ivf": [
        r"Scan ExistingRDD",
        r"HashAggregate",
        r"TakeOrderedAndProject",
    ],
    # KMV: top-K via per-partition heaps, constant-size reduction
    "sketch_kmv_distinct": [r"TakeOrderedAndProject", r"HashAggregate"],
    # keyword lane: term-filtered postings, broadcast df, TakeOrdered cut,
    # rank via broadcast self-join (never a global window)
    "search_keyword_topk": [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
    # hybrid fusion: both lanes TakeOrdered-cut before the 20-row fusion
    "search_hybrid_rrf": [r"TakeOrderedAndProject", r"HashAggregate"],
    # grouped retrieval: label-partitioned rank prunes to 5-row heaps
    # below the shuffle
    "similarity_topk_per_label": [r"WindowGroupLimit"],
    # span scrub: the first-occurrence table must HASH-aggregate (the
    # decimal-encoded min key exists precisely so min(struct)'s
    # SortAggregate never sorts the full chunk stream)
    "dedup_chunk_scrub": [r"HashAggregate"],
    # sampled quantile: threshold via heap top-k, then a 1-row broadcast
    # against the corpus scan — never a global sort or quantile state
    "quality_quantile_filter": [r"TakeOrderedAndProject", r"BroadcastNestedLoopJoin"],
    # capped-vocab co-occurrence: vocab is a heap top-V broadcast; the
    # doc-frequency lookups are broadcast hash joins
    "text_cooccur_lift": [r"TakeOrderedAndProject", r"BroadcastHashJoin"],
    # PQ ADC search: codebook + query distance table broadcast, candidate
    # cut via heap top-k, code assignment a partial-agg HashAggregate
    "similarity_topk_pq": [
        r"BroadcastHashJoin",
        r"TakeOrderedAndProject",
        r"HashAggregate",
    ],
    "similarity_topk_pq_refined": [
        r"BroadcastHashJoin",
        r"TakeOrderedAndProject",
        r"HashAggregate",
    ],
    # since round 17 the encode runs as one MapInArrow pass against the
    # driver-carried codebook (the ivf kernel pattern); the final
    # per-vector assembly is still a hash aggregate
    "vector_pq_codes": [r"MapInArrow", r"HashAggregate"],
    # ordered funnel: three keyed MIN aggregations on the same key — all
    # hash-based, no window over per-user history
    "event_funnel_stages": [r"HashAggregate"],
    # retention cohorts: per-user min + distinct-day collapse, hash aggs
    "event_retention_cohorts": [r"HashAggregate"],
    # incremental span scrub: the corpus index streams past a BROADCAST of
    # the batch hashes; the anti decision runs against the small hit list
    "dedup_chunk_scrub_incremental": [
        r"BroadcastHashJoin LeftAnti",
        r"HashAggregate",
    ],
    # snapshot cutoff must reach the scan (file pruning at scale) and the
    # top-k must be heap+merge, never a global sort
    "balance_snapshot_topk": [
        r"PushedFilters: .*LessThan\(ts",
        r"TakeOrderedAndProject",
        r"HashAggregate",
    ],
    # the running-balance window is partitioned by entity, never global
    "balance_twab": [r"hashpartitioning\(user_id", r"HashAggregate"],
    # dense day spine fans out via explode (the cartesian gate proves no
    # CartesianProduct); the running sum partitions by entity
    "balance_daily_holders": [
        r"Generate",
        r"hashpartitioning\(user_id",
        r"HashAggregate",
    ],
    # the constant-size sketch broadcasts into the probe join; the top-k
    # candidate set is heap+merge, never a global sort
    "sketch_countmin_heavyhitters": [
        r"BroadcastHashJoin",
        r"TakeOrderedAndProject",
        r"HashAggregate",
    ],
    # MV refresh: the clean/dirty split must be broadcast semi+anti on the
    # dirty-key set, never a sort-merge shuffle of the MV
    "rollup_incremental_refresh": [
        r"BroadcastHashJoin LeftSemi",
        r"BroadcastHashJoin LeftAnti",
        r"HashAggregate",
    ],
    # the day layer merges hourly partials — hash aggs only, no window
    "rollup_cascade_daily": [r"HashAggregate"],
    # MERGE apply: untouched base passes through a broadcast anti join;
    # latest-wins is a key-partitioned WindowGroupLimit-eligible rank
    "merge_changelog_upsert": [r"BroadcastHashJoin LeftAnti", r"Window"],
    # SCD2: both gaps-and-islands passes partition by user, never globally
    # (string-typed MIN keeps the run collapse off HashAggregate — the gate
    # pins the partitioning and the windowed passes instead)
    "scd2_state_history": [r"hashpartitioning\(user_id", r"Window"],
    # key-skew audit: one partial-agg scan + a 1-row broadcast total
    "profile_key_skew": [r"BroadcastNestedLoopJoin", r"HashAggregate"],
    # contract audit: ONE partial-aggregating scan for all expectations
    "contract_events_audit": [r"HashAggregate"],
    # triangles: wedge closure is a broadcast/shuffle hash semi join over
    # oriented edges; the projection and degrees are hash aggs
    "graph_triangle_count": [r"LeftSemi", r"HashAggregate"],
    # path n-grams: one user-partitioned window, heap cut for the top 10
    "event_top_paths": [
        r"hashpartitioning\(user_id",
        r"TakeOrderedAndProject",
    ],
    # revisit resolution: the captures relation materializes ONCE
    # (localCheckpoint -> ExistingRDD scans), then pure relational
    # left joins against the record-id and digest dims — no window
    # over the capture fact, no explode
    "ingest_warc_revisits": [r"Scan ExistingRDD", r"LeftOuter"],
    "ingest_warc_unique_payloads": [
        r"Scan ExistingRDD",
        r"HashAggregate|SortAggregate",
    ],
    # URL canonicalization: codegen string work plus ONE one-row regex
    # dim broadcast (the row-local strip) — never a per-param explode
    # (Generate) or a SortMergeJoin against the rules
    "web_url_canonicalize": [r"BroadcastNestedLoopJoin"],
    # request/response pairing: checkpointed captures + one left join
    "web_request_response_pairs": [r"Scan ExistingRDD", r"LeftOuter"],
    # wire-to-entity decode rides the SAME two Arrow passes as the
    # plain HTTP layer — no extra pass, field extraction stays codegen
    "web_http_entity_decoding": [r"MapInPandas[\s\S]*MapInPandas"],
    # compliance window partitions by domain; delay dim broadcasts
    "web_politeness_audit": [
        r"hashpartitioning\(domain",
        r"BroadcastHashJoin",
    ],
    # SURT keys: pure codegen string work over the documents scan
    "web_url_surt_keys": [r"Project"],
    # outlink discovery: ONE explode (Generate) over fused codegen
    # extraction+resolution; the tracking-rules one-row dim is absent
    # here (no strip), so no join should appear at all
    "web_outlink_frontier": [r"Generate"],
    # freshness: pure codegen over header strings, no join, no window
    "web_cache_freshness": [r"Project"],
    # the composed fetch list: stale-subset window per DOMAIN + the
    # broadcast delay dim — never a global window
    "web_recrawl_fetch_list": [
        r"hashpartitioning\(domain",
        r"BroadcastHashJoin",
    ],
    # WET publish round trip: the read-back lanes join on archive_id
    # behind the published-bytes checkpoint
    "ingest_wet_roundtrip": [r"Scan ExistingRDD"],
    # page-level robots: codegen string work, no join, no explode
    "web_page_robots": [r"Project"],
    # WAT publish round trip: the read-back runs entirely behind the
    # published-bytes checkpoint (ExistingRDD), JSON envelope parse is
    # Catalyst from_json — no join at all after the publish
    "ingest_wat_roundtrip": [r"Scan ExistingRDD"],
    # robots refetch: dim-scale joins + codegen freshness — never the
    # URL fact table
    "web_robots_refetch": [r"Project"],
    # SURT access path: the per-site read prunes at PLANNING time —
    # the site equality must land in PartitionFilters (directory
    # listing), never in DataFilters over the row columns
    "web_surt_site_read": [r"PartitionFilters: \[[^\]]*site_key"],
    # SURT range probe: the prefix predicate must REACH the parquet
    # scan (row-group stats over the sorted runs), on top of the same
    # partition prune
    "web_surt_prefix_read": [
        r"PartitionFilters: \[[^\]]*site_key",
        r"PushedFilters: \[[^\]]*StringStartsWith\(surt_key",
    ],
    # webgraph from WAT: everything past the publish reads the
    # checkpointed published bytes; the explode is the only Generate
    "web_wat_outlink_edges": [r"Scan ExistingRDD", r"Generate"],
    # PII scrub: codegen string work fused into the scan
    "curation_pii_redaction": [r"Project"],
    # batched CDX lookup (round 16): the store scan must carry a
    # DYNAMIC pruning expression on the partition column — the
    # broadcast query batch's site keys become PartitionFilters at
    # runtime (the web_surt_site_read static gate generalized), and
    # the query side must arrive broadcast
    "web_surt_batch_lookup": [
        r"PartitionFilters: \[[^\]]*dynamicpruningexpression\([^\)]*site_key",
        r"BroadcastHashJoin",
    ],
    # host rank from WAT (round 16): the host aggregation must be a
    # partial (map-side-combining) hash agg on the edge pairs, and the
    # per-round dangling share arrives as a broadcast, never a shuffle
    # of the rank table
    "web_host_rank": [r"HashAggregate", r"BroadcastNestedLoopJoin"],
    # harmonic centrality (round 16): the sketch-merge rounds run behind
    # eager per-round checkpoints (the PageRank materialization
    # contract), so the visible plan is the final accumulator-state
    # join over the checkpointed frames
    "web_host_harmonic": [r"Scan ExistingRDD"],
    # CDX coverage (round 16): the store side must still be the DPP
    # inner join (never a left join against the store), misses via a
    # broadcast anti-join against the batch-sized hit set
    "web_surt_batch_coverage": [
        r"PartitionFilters: \[[^\]]*dynamicpruningexpression\([^\)]*site_key",
        r"BroadcastHashJoin LeftAnti",
    ],
}

# queries that must stay fully JVM-side (no Python workers in the plan)
JVM_ONLY = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q19_disjunctive_revenue",
    "q5_local_supplier_volume",
    "flagship_user_netflow",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "text_quality_score",
    "sync_dense_flush",
    "q2_min_cost_supplier",
    "q13_order_count_distribution",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "q8_national_market_share",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_late_priority_lines",
    "q15_top_supplier",
    "q16_supplier_relation_counts",
    "q18_large_volume_customers",
    "dedup_chunk_scrub",
    "quality_quantile_filter",
    "text_cooccur_lift",
    # the PQ rows left this list in round 17: their BUILD is the sanctioned
    # MapInArrow kernel (guide §4.4, pinned bit-for-bit by
    # test_arrow_pq_kernel_matches_expression_tower); the ADC search side
    # remains pure JVM and is pinned by PLAN_EXPECTATIONS above
    "dedup_chunk_scrub_incremental",
    "event_funnel_stages",
    "event_retention_cohorts",
    "balance_snapshot_topk",
    "balance_twab",
    "balance_daily_holders",
    "graph_pagerank",
    "graph_pagerank_weighted",
    "sql_recursive_ancestors",
    "scalar_variant_json",
    "sketch_countmin_heavyhitters",
    "web_robots_sitemap_roots",
    "web_redirect_chains",
    "web_sitemap_recursive",
    "web_crawl_budget",
    "web_fetch_schedule",
    "web_boilerplate_filter",
    "web_frontier_delta",
    "web_revalidation_plan",
    # the Arrow parse lanes hide behind the captures checkpoint; the
    # RESOLUTION itself must stay JVM-side
    "ingest_warc_revisits",
    "ingest_warc_unique_payloads",
    # canonicalization is codegen string work + a one-row regex dim
    "web_url_canonicalize",
    "web_frontier_delta_canonical",
    "web_request_response_pairs",
    "web_politeness_audit",
    "web_robots_availability",
    "web_url_surt_keys",
    "web_outlink_frontier",
    "web_cache_freshness",
    "web_recrawl_fetch_list",
    "web_page_robots",
    "curation_pii_redaction",
    "web_robots_refetch",
    "web_surt_site_read",
    "web_surt_prefix_read",
    "web_surt_batch_lookup",
    "web_surt_batch_coverage",
    # web_host_rank is NOT here: like web_wat_outlink_edges, its input
    # is the WAT publish's Arrow lane (behind the published-bytes
    # checkpoint); the rank loop itself is pure JVM
]

NO_SORT_MERGE = ["q1_pricing_summary", "join_broadcast_dim", "q5_local_supplier_volume"]


@pytest.mark.parametrize("name", sorted(PLAN_EXPECTATIONS))
def test_plan_contains_expected_operators(spark, sf_dir, name):
    p = plan_of(spark, sf_dir, name)
    for pat in PLAN_EXPECTATIONS[name]:
        assert re.search(pat, p), f"{name}: plan lacks {pat!r}\n{p[:2000]}"


@pytest.mark.parametrize("name", JVM_ONLY)
def test_plan_has_no_python_eval(spark, sf_dir, name):
    p = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
        f"{name}: Python eval leaked into a JVM-only plan"
    )


@pytest.mark.parametrize("name", NO_SORT_MERGE)
def test_dim_joins_broadcast(spark, sf_dir, name):
    p = plan_of(spark, sf_dir, name)
    assert "SortMergeJoin" not in p, f"{name}: dim join degraded to SortMergeJoin"


def test_pack_sequences_primary_window_is_partitioned(spark, sf_dir):
    """The PRIMARY packing entry must run per-shard: the plan's window sort
    must be a hash-partitioned exchange on shard_id, never the SinglePartition
    funnel the unsharded baseline pays (the round-1 scale-killer)."""
    for name in ("pack_sequences", "pack_sequences_sharded"):
        p = plan_of(spark, sf_dir, name)
        assert "Window" in p, p[:2000]
        assert "SinglePartition" not in p, (
            f"{name} still funnels through one task\n{p[:2000]}"
        )
        assert re.search(r"hashpartitioning\(shard_id", p), p[:2000]
    # and the explicitly-named baseline IS the funnel (documents the contrast)
    p0 = plan_of(spark, sf_dir, "pack_sequences_unsharded_baseline")
    assert "SinglePartition" in p0


# ---- headline scale-safety gates -----------------------------------------
# The bench headline is the repo's public performance claim; every entry must
# be a shape that survives 100 TB. The known scale-killers are registered
# ONLY under explicit *_baseline names and must never reappear in the
# headline, and no headline plan may funnel a window through one task.

UNCAPPED_BASELINES = {
    "dedup_jaccard_verify_uncapped_baseline",
    "dedup_lsh_then_verify_uncapped_baseline",
    "pack_sequences_unsharded_baseline",
}


def _bench_headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def test_headline_contains_no_uncapped_baseline():
    names = set(_bench_headline())
    leaked = names & UNCAPPED_BASELINES
    assert not leaked, f"uncapped funnels back in the bench headline: {leaked}"
    # the conflated build+search entry is replaced by the ivf_build /
    # ivf_search split rows emitted by bench.time_ivf_split
    assert "similarity_topk_ivf" not in names
    # every headline name must resolve — a typo here crashes the driver's
    # per-round bench run, which is far more expensive than this test
    missing = names - set(QUERIES)
    assert not missing, f"headline names not in the registry: {missing}"


def test_baseline_variants_stay_registered_and_flagged():
    """The lossless baselines remain available (they are the oracle-exact
    reference shapes) but must be explicitly named as baselines."""
    for name in UNCAPPED_BASELINES:
        assert name in QUERIES, f"{name} dropped from the registry"
        assert "baseline" in name


@pytest.mark.parametrize("name", sorted(set(_bench_headline())))
def test_headline_window_never_single_partition(spark, sf_dir, name):
    """No headline query may compute a window function over a SinglePartition
    exchange — the whole-corpus-through-one-task funnel. (Non-window global
    aggregates legitimately finish on one partition of partial-agg output;
    the funnel risk is windows, which carry full rows. The check therefore
    walks each Window's input chain to the exchange that establishes its
    distribution — co-occurrence of a partitioned window and a 1-row scalar
    aggregate elsewhere in the same plan is fine, e.g. classify_nb_lang's
    global doc count next to its per-doc argmin window.)"""
    p = plan_of(spark, sf_dir, name)
    assert not _single_partition_windows(p), (
        f"{name}: window funnels through one task\n{p[:2000]}"
    )


def _single_partition_windows(plan: str) -> bool:
    """True iff some Window operator in the formatted plan is fed by an
    Exchange whose distribution is SinglePartition — i.e. a GLOBAL
    (unpartitioned) window that funnels all rows through one task.

    Precision matters: a plan can legitimately contain both a partitioned
    window AND a SinglePartition exchange elsewhere (the 1-row global-count
    aggregate in corpus_tfidf, say), so co-occurrence is not enough. We walk
    the window's direct unary input chain (Sort/Project/Filter/
    WindowGroupLimit) to the exchange that establishes its distribution."""
    lines = plan.splitlines()
    tree: list[tuple[int, str, int]] = []  # (indent, opname, id)
    for ln in lines:
        m = re.match(r"^([ :+\-*]*)([A-Za-z][^()]*)\((\d+)\)\s*$", ln)
        if m:
            tree.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
    # operator-details blocks: id -> full text
    details: dict[int, str] = {}
    cur = None
    for ln in lines:
        m = re.match(r"^\((\d+)\) ", ln)
        if m:
            cur = int(m.group(1))
            details[cur] = ""
        elif cur is not None:
            details[cur] += ln + "\n"
    pass_through = ("Sort", "Project", "Filter", "WindowGroupLimit")
    for i, (_indent, name, _oid) in enumerate(tree):
        if not name.startswith("Window"):
            continue
        j = i + 1
        while j < len(tree) and tree[j][1].startswith(pass_through):
            j += 1
        if j < len(tree) and tree[j][1].startswith("Exchange"):
            if "SinglePartition" in details.get(tree[j][2], ""):
                return True
    return False


FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# global-window queries explicitly allowed: named baselines (the documented
# scale-killer contrast shapes) — nothing else may join this list without a
# *_baseline name
GLOBAL_WINDOW_ALLOWED = {"pack_sequences_unsharded_baseline"}


def test_registry_sweep_invariants(spark, sf_dir):
    """Registry-wide structural gates, one pass: every registered query is
    built and planned ONCE, and three invariants are checked on it.

    - Unique column names: duplicates break the driver's sort-by-name hash.
    - No CartesianProduct — the physical operator Spark falls back to when
      a join has no keys AND neither side is broadcastable, which is
      all-pairs-shuffled quadratic work at any real scale. Every legitimate
      small-side cross join in this repo (query vectors, centroid tables,
      scalar thresholds) must stay a BroadcastNestedLoopJoin; if size
      estimation ever degrades one, this catches it for ALL queries, not
      just the plan-gated subset.
    - No window over a SinglePartition exchange while scanning a fact table
      — the whole-corpus-through-one-task funnel. Dim-only global windows
      (quartiles over customer, say) are tolerated; fact-table ones must
      either be rewritten or registered under an explicit *_baseline name.
    """
    cartesian, global_windows = [], []
    for name, q in sorted(QUERIES.items()):
        df = q.fn(spark, sf_dir)
        cols = df.columns
        assert len(cols) == len(set(cols)), f"{name}: duplicate columns {cols}"
        p = _formatted_plan(df)
        if "CartesianProduct" in p:
            cartesian.append(name)
        if name in GLOBAL_WINDOW_ALLOWED:
            assert "baseline" in name, f"{name}: allowlisted without _baseline name"
            continue
        if _single_partition_windows(p):
            facts = [t for t in FACT_TABLES if f"{t}.parquet" in p]
            if facts:
                global_windows.append((name, facts))
    assert not cartesian, f"CartesianProduct planned in: {cartesian}"
    assert not global_windows, (
        f"global (SinglePartition) windows over fact tables: {global_windows}"
    )


def test_q1_scan_prunes_columns(spark, sf_dir):
    """The scan must read exactly the 6 referenced columns of 11."""
    p = plan_of(spark, sf_dir, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:1500]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_chunk_scrub_first_occurrence_hash_aggregates(spark, sf_dir):
    """The span scrub's first-occurrence table must never SortAggregate:
    min(struct(doc_id, chunk_idx)) has no mutable agg buffer and falls back
    to sorting every partition of the full chunk stream by hash — the
    DECIMAL-encoded min key exists to keep this a partial-agg HashAggregate
    (a corpus-wide boilerplate chunk combines map-side instead of funneling
    its copies through a sort)."""
    p = plan_of(spark, sf_dir, "dedup_chunk_scrub")
    assert "SortAggregate" not in p, p[:2000]


def test_prepare_corpus_materializes_collapse_once(spark, sf_dir):
    """The composed prepare-corpus plan must materialize the collapse
    output (quality filter + exact-collapse shuffle) ONCE: its subtree has
    three consumers (minhash bands, shingle index, finalize join) and an
    unmaterialized plan re-executes the full corpus scan + collapse
    shuffle for each — three redundant 100 TB scans per run (flagged by
    the r6 verdict as the one genuine scale-killer). With the eager
    localCheckpoint boundary the collapse aggregate runs at build time and
    the composed plan must (a) contain NO content_hash aggregate at all
    and (b) feed every consumer from a scan of the checkpointed RDD."""
    df = QUERIES["pipeline_prepare_corpus"].fn(spark, sf_dir)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "content_hash" not in p, p[:2000]
    assert p.count("Scan ExistingRDD") >= 3, p[:2000]


def test_join_salt_guided_explodes_build_side(spark, sf_dir):
    """The profiler-guided salted join must actually take the salted path
    on the registered skewed probe (events.event_type holds ~20% shares —
    hot at N_TASKS=32): the physical plan carries the salt explode on the
    build side and joins on (key, _salt), never a plain single-key
    shuffle that would re-concentrate the hot key on one reducer."""
    p = plan_of(spark, sf_dir, "join_salt_guided")
    assert "Generate" in p, p[:2000]
    assert "_salt" in p, p[:2000]


def test_cdc_chunker_is_shuffle_free(spark, sf_dir):
    """The row-local CDC chunker must stay a pure projection + explode:
    no Exchange, no Window, no aggregate — a token never leaves its
    document's row until the final fan-out. (The window-based form this
    replaced shuffled every token; the shuffle is what grows at 100 TB.)"""
    p = plan_of(spark, sf_dir, "chunk_documents_cdc")
    for op in ("Exchange", "Window", "HashAggregate", "SortAggregate"):
        assert op not in p, (op, p[:2000])


def test_pq_code_assignment_hash_aggregates(spark, sf_dir):
    """PQ plans must never SortAggregate. Historically this pinned the
    encoded-BIGINT argmin (micro-rounded dist * 16 + j) over min_by's
    struct ordering; since round 17 the assignment itself runs inside the
    MapInArrow build kernel (pinned by
    test_arrow_pq_kernel_matches_expression_tower), and this gate keeps
    the REMAINING aggregations — ADC distance sums, per-vector code
    assembly — hash-based."""
    for name in (
        "similarity_topk_pq",
        "similarity_topk_pq_refined",
        "vector_pq_codes",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "SortAggregate" not in p, (name, p[:2000])


def test_ivf_plan_broadcasts_and_stays_jvm(spark, sf_dir):
    """IVF ANN (learned centroids): the centroid table and probe list must
    BROADCAST (K rows each — a shuffle join on them would be absurd at any
    scale), the per-vector argmin must be a partial-aggregable min_by
    aggregate (SortAggregate: struct-ordered min_by), NOT a window sort
    over the N x K distance matrix, and the SEARCH must stay JVM-side.
    Since round 17 the Lloyd BUILD runs ahead of this plan as mapInArrow
    jobs with the K-row centroid table carried on the driver (the
    k-center pattern), so the search plan reads centroids from a local
    relation and contains no build aggregates."""
    p = plan_of(spark, sf_dir, "similarity_topk_ivf")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p[:2000]
    # partial-aggregable argmin (min_by over a (dist, cid) struct)
    assert "min_by" in p and "Aggregate" in p, p[:2000]
    # the argmin must not be a running-rank window over the distance matrix
    assert "Window" not in p, f"window sort leaked into the IVF argmin\n{p[:2000]}"
    assert "SortMergeJoin" not in p, f"centroid join degraded to SMJ\n{p[:2000]}"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p[:2000]
    # final top-k is heap+merge, not a global sort
    assert "TakeOrderedAndProject" in p, p[:2000]


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """The repeated-join story at 100 TB: pre-bucket both sides on the join
    key and the join runs with ZERO Exchange — each task reads matching
    buckets directly. This is the plan-level proof for the README's
    'pre-bucket both sides when a join repeats across jobs' guidance."""
    from pyspark.sql import functions as F

    from eth_event_stream_spark.plans.catalog import t

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path / 'bucketdb'}'"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: we are asserting the co-located
        # shuffle-free SMJ, the shape fact-fact joins take at scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("bucketdb.orders_b")
        t(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("bucketdb.customer_b")

        joined = spark.table("bucketdb.orders_b").join(
            spark.table("bucketdb.customer_b"), "o_custkey"
        )
        p = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in p, p[:2000]
        assert "Exchange" not in p, f"bucketed join still shuffles\n{p[:2000]}"

        # and it computes the same thing as the plain join
        plain = (
            t(spark, sf_dir, "orders")
            .join(
                t(spark, sf_dir, "customer").withColumnRenamed(
                    "c_custkey", "o_custkey"
                ),
                "o_custkey",
            )
            .count()
        )
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_runtime_bloom_filter_injects_on_shuffled_fact_fact_join(spark, sf_dir):
    """At 100 TB a selective fact-fact join never broadcasts; Spark's
    runtime bloom-filter injection (on by default) is what keeps the big
    side's shuffle bounded — the selective side's keys build a bloom filter
    that pre-filters the probe scan (semi-join reduction). The size
    thresholds that gate injection are tuned for real deployments
    (creation side < 100 MB, application scan > 10 GB), so this test
    lowers them to the fixture's scale and pins that OUR join shape
    qualifies: Catalyst injects might_contain on the lineitem side of a
    shuffled orders-lineitem join. If this stops injecting (join rewritten,
    filter no longer selective-side, non-equi condition), the at-scale
    deployment silently loses the reduction."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            lineitem.join(o, lineitem["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        p = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in p, p[:3000]
        assert "bloom_filter_agg" in p, p[:3000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_profile_stats_single_scan(spark, sf_dir):
    """profile_table_stats computes all six columns' stats in ONE pass:
    exactly one orders file scan in the plan (the oracle's per-column
    UNION ALL shape would be six scans — the Spark side must never
    degrade to it)."""
    p = plan_of(spark, sf_dir, "profile_table_stats")
    assert p.count("orders.parquet") == 1, p[:2000]


def test_hard_negatives_per_anchor_cut_is_window_group_limit(spark, sf_dir):
    """mine_hard_negatives: the 4-row anchor table broadcasts (never a
    CartesianProduct / shuffled join) and the per-anchor top-3 executes as
    WindowGroupLimit — per-partition heaps cut to |anchors| x k rows BEFORE
    the one shuffle on qid, so the window never sorts the scored corpus."""
    p = plan_of(spark, sf_dir, "mine_hard_negatives")
    assert "WindowGroupLimit" in p, p[:2000]
    assert "BroadcastNestedLoopJoin" in p, p[:2000]


def test_next_event_pairs_single_shuffle(spark, sf_dir):
    """prepare_next_event_pairs: the three LAGs share ONE window pass —
    exactly one Exchange (by user_id) and one Window in the whole plan; a
    second of either means the naive per-lag formulation crept back in."""
    p = plan_of(spark, sf_dir, "prepare_next_event_pairs")
    # count tree nodes only — the formatted detail section repeats each
    # node name once more as "(n) Exchange"
    assert p.count("+- Exchange") == 1, p[:2000]
    assert p.count("+- Window") == 1, p[:2000]
