"""Physical-plan audit: print (and write PLANS.md) the scale-critical
markers for the headline queries — join strategies, exchanges,
aggregate modes, pushed filters, read schemas. Run after changing any
plan; the committed PLANS.md is the reviewed-plan record.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = (
    "agg_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_volume",
    "tpch_q7_volume_shipping",
    "tpch_q21_suppliers_who_kept_waiting",
    "join_inner_broadcast",
    "window_rank",
    "window_distribution",
    "topk",
    "count_distinct",
    "events_hourly",
    "events_sessionize",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "embed_cosine_topk",
    "ann_lsh_bucketed",
    "ivf_topk_ann",
    "asof_join_events",
    "salted_join_agg",
    "multimodal_decode",
    "multimodal_frame_sample",
    "grouping_sets",
    "text_unigram_logprob",
    "contamination_check",
    "pivot_status_matrix",
    "unpivot_nation_metrics",
    "text_boilerplate",
    "text_bigram_logprob",
    "ivf_topk_ann_nprobe2",
    "pipeline_curate",
    "tpch_q2_min_price_supplier",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q22_dormant_customers",
    "source_cap",
    "semantic_dedup",
    # round 4: the five new TPC-H shapes + SQL-text recursion
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_priority_lateness",
    "tpch_q20_dominant_supplier",
    "recursive_cte_sql",
    # round 6: the new plan families worth a reviewed record — the
    # decorrelated LATERAL limit (WindowGroupLimit), the passage
    # group-then-mark single scan, the LSH+levenshtein verify, the
    # two-pass DSIR scoring, the one-scan Expand profile, the
    # closed-form water-filling windows, and the sliding window
    # generator
    "lateral_topn_per_group",
    "dedup_passage_exact",
    "dedup_edit_verify",
    "importance_weights",
    "table_profile",
    "token_budget_allocation",
    "events_hopping",
    # round 7: zero-shuffle chunk explode, persisted-tf three-stage
    # tf-idf, per-source median gate, label-excluded hard negatives
    "doc_chunking",
    "tfidf_top_terms",
    "quality_filter_percentile",
    "hard_negative_mining",
    "key_skew_profile",
    "perplexity_buckets",
    # round 8: zero-explode BM25 retrieval, the prefix-filtered
    # Jaccard join (measured 10.4x fewer candidate emissions than
    # the full inverted index at sf0.1), the zero-shuffle sorted-neighbors
    # diversity profile, and the ANN recall contract
    "bm25_search",
    "dedup_prefix_filter",
    "lexical_diversity",
    "ann_ivf_recall",
    "dedup_cross_corpus",
    "ivf_cluster_profile",
    "vocab_oov_rate",
    "minhash_calibration",
    "shard_balance",
    # round 9: the Lloyd-refined IVF family (one corpus pass per
    # round, bounded centroid broadcasts) and the query-table-driven
    # batch BM25 (single pruned posting join, per-query window top-k)
    "kmeans_convergence",
    "ivf_topk_kmeans",
    "ann_ivf_recall_kmeans",
    "ivf_kmeans_profile",
    "bm25_search_many",
    # the H2-dialect statement surface as one witnessed query (TOP /
    # boundary DATEDIFF / CASEWHEN / function aliases over one scan)
    "h2_dialect_battery",
    # deterministic Efraimidis-Spirakis weighted sampling (global
    # TakeOrderedAndProject + per-group window forms)
    "weighted_sample_topk",
    "weighted_sample_stratified",
    # query-table-driven ANN probe over the built IVF index
    "ann_index_search",
    # round 10 serving family (r10 VERDICT task 4): the engine-
    # lifecycle probes whose pruned-scan shapes are the proof of
    # design at 100x — the dynamicpruningexpression marker counts
    # below show the partitioned index scans pruning to the probed
    # lists; the *_index_search forms also rebuild their quantizers
    # in-plan (the oracle-replayable declaration)
    "text_index_search",
    "pq_index_search",
    "ivfpq_index_search",
    "ivfpq_index_append",
    "ann_bq_search",
    "hybrid_search_rrf",
    "mmr_diverse_topk",
    # round 11: the IVF+BQ composition (partition-pruned Hamming)
    "ann_ivfbq_search",
    "ivfbq_index_search",
)

MARKERS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange hashpartitioning",
    "BroadcastExchange",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "Window",
    "MapInPandas",
    # dynamic partition pruning on a partitioned index scan — the
    # marker that proves a serving probe reads nprobe/n_list of the
    # files, not the corpus (counted from PartitionFilters)
    "dynamicpruningexpression",
)

# ---------------------------------------------------------------------------
# Shared gate definitions — imported by tests/test_plan_audit.py, which
# FAILS the suite on violations; main() below additionally renders the
# reviewed-plan record (PLANS.md).
# ---------------------------------------------------------------------------

#: BroadcastNestedLoopJoin is tolerated only where it is the declared
#: design (the brute-force cosine baseline, one-row totals broadcasts,
#: literal tiny cross joins).
NLJ_OK = frozenset({
    "embed_cosine_topk",
    "sketch_theta_overlap",  # literal 1x1 join of two sketch rows
    "join_cross",  # literal CROSS JOIN of two broadcast-size dims
    "mixture_sample",  # 1-row totals aggregate broadcast onto rates
    "tfidf_top_terms",  # 1-row corpus-count broadcast onto the idf frame
    "hard_negative_mining",  # same broadcast-queries shape as embed_cosine_topk
    "key_skew_profile",  # 1-row global-stats broadcast onto the top-N keys
    "pmi_collocations",  # two 1-row total-count broadcasts onto the bigram frame
    # r8: the LM-family operators compute their corpus-token totals
    # as a one-row aggregate of the vocab frame crossJoin-broadcast
    # back (replacing the former driver-side count action); the
    # VOCAB joins themselves are unhinted key joins
    "text_unigram_logprob",
    "perplexity_buckets",
    "importance_weights",
    # r8: one-row corpus-stats broadcast onto the per-doc tf frame
    "bm25_search",
    # r9: the batch form's identical one-row stats broadcast
    "bm25_search_many",
    # the ANN recall contracts: the exact side is the declared
    # brute-force baseline — bounded query rows broadcast onto the
    # corpus (the embed_cosine_topk shape); the index side picks its
    # probe lists against literal centroids and joins on centroid_id
    "ann_ivf_recall",
    "ann_ivf_recall_kmeans",
    "ann_pq_recall",
    "ann_ivfpq_recall",
    "ann_bq_recall",
    "ann_ivfbq_recall",
    "ann_ivfpq_residual_recall",
    # r8: 1-row totals broadcast onto the n_shards-row aggregate
    "shard_balance",
    # the index appends: the 1-row drift-report frame crossJoin-
    # broadcast onto the n_list-row per-centroid aggregate (both
    # sides bounded)
    "ann_index_append",
    "ivfpq_index_append",
    "ivfbq_index_append",
    "cascade_index_append",
    # r10: the 1-row new-terms aggregate crossJoin-broadcast onto
    # the 1-row batch-vocab aggregate (both sides single rows)
    "text_index_drift",
    # r10 binary quantization: the bounded query-codes broadcast onto
    # the packed-codes scan (the embed_cosine_topk shape, integer
    # scoring)
    "ann_bq_topk",
    "ann_bq_search",
    # r10: the semantic leg is the declared brute-force baseline
    # (embed_cosine_topk's bounded-query broadcast NLJ); the lexical
    # leg carries bm25_search_many's 1-row stats broadcast; fusion
    # itself is bounded frames only
    "hybrid_search_rrf",
})

#: Tables whose repeated FileScan in one plan is a 100 TB scale killer.
BIG_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

#: Reviewed repeated big-table scans. Some repeats are inherent
#: (two-pass LM scoring, shared-SQL subquery demos, pruned event-type
#: slices) or cache-backed (the LSH persist) — each entry here names a
#: reviewed, justified repeat. Anything NEW fails the pytest gate.
RESCAN_REVIEWED = frozenset({
    # classic TPC-H row-level reuse of a big slice (agg + probe):
    "tpch_q2_min_price_supplier", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders", "tpch_q21_suppliers_who_kept_waiting",
    # shared-SQL subquery demos (pruned k-row subquery scans):
    "topk_with_ties", "subquery_scalar",
    # two-pass model-then-score algorithms over the corpus:
    "text_simhash", "contamination_check",
    # r8: winnow selection persisted — cache-backed single runtime
    # scan (rendering still prints the FileScan per InMemoryRelation):
    "text_boilerplate",
    # r17: the in-run PageRank's prepared edge frame is PERSISTED
    # (hash(src)-laid-out, replacing the r15 localCheckpoint that
    # erased partitioning and forced two rank-frame exchanges per
    # round); each of the 5 bounded rounds references the same
    # InMemoryRelation and toString() re-renders its orders/lineitem
    # scans per reference — at runtime the corpus pass happens ONCE,
    # when the cache materializes (the text_boilerplate precedent)
    "graph_pagerank_centrality",
    # r8 LM-family restructure: the per-(doc, token/bigram) count
    # frame is PERSISTED (MEMORY_AND_DISK) and carries the ONLY
    # corpus pass at runtime — the vocab aggregate and the per-doc
    # scoring join both read the cache; the un-materialized plan
    # RENDERING still prints the FileScan under each InMemoryRelation
    # reference, which is what this allowlist entry covers (same
    # cache-backed shape as key_skew_profile / tfidf_top_terms):
    "text_unigram_logprob", "text_bigram_logprob",
    "perplexity_buckets", "importance_weights",
    # pmi: bigram + unigram model builds are two real passes (both
    # persisted, so their one-row totals re-aggregate the cached
    # vocab frames instead of re-scanning the corpus):
    "pmi_collocations",
    # r15 CMS: the vocabulary count frame is PERSISTED and carries
    # the only corpus pass; the sketch-cell aggregate and the exact
    # top-k both read the cache (the tfidf/LM-family shape — the
    # rendering prints the FileScan under each InMemoryRelation):
    "sketch_countmin_heavyhitters",
    # r16 Bloom sketch: the bit table is ONE corpus pass (distinct
    # fingerprints -> <=m distinct bits, KB-sized, broadcast); the
    # second documents scan is the bounded probe-sample slice
    # (doc_id < n_probes, filter pushed to the scan) — the reviewed
    # bounded-query-sample shape of ann_index_search/ann_bq_*. A
    # production probe ships only the bit table; the corpus is never
    # rescanned at probe time.
    "sketch_bloom_membership",
    # query-set vs corpus / self-join sides (pruned or cached):
    "ann_lsh_bucketed", "embed_dedup_pairs", "embed_cosine_topk",
    "hard_negative_mining",
    "dedup_minhash_lsh", "multimodal_decode", "pipeline_curate",
    # per-level exact-verification scaffolding (sketch side scans once):
    "sketch_user_rollup",
    # pruned event-type slices (clicks vs purchases):
    "range_join_sessions", "asof_join_events", "asof_join_forward",
    # r8: bipartite new-vs-reference dedup — the two documents scans
    # are DISJOINT source-pruned slices (source = 'src0' vs <> —
    # pushed filters, each row read once); a real deployment reads
    # two separate tables, the conformance fixture splits one:
    "dedup_cross_corpus",
    # r5 composed dedup: repeated PRUNED corpus scans, each joined
    # against a dup-subgraph-sized side — the reviewed alternative to
    # a corpus-wide window/shuffle (see keep_best_per_cluster /
    # source_overlap_matrix docstrings):
    "dedup_keep_best", "source_overlap_matrix",
    # r6 edit-distance verification: the LSH candidate build scans
    # the persist-backed shingle projection, then the two Levenshtein
    # text lookups are each a PRUNED (doc_id, text) corpus scan
    # hash-joined against the subgraph-sized pair frame — same
    # reviewed shape as dedup_keep_best:
    "dedup_edit_verify",
    # structurally single-scan (verified in a fresh session: 1
    # FileScan each); the long-lived audit session sometimes
    # renders an AQE-finalized stage twice in toString():
    "dedup_ngram_jaccard", "minhash_signatures", "dedup_containment",
    # r7: the persisted tf frame carries the only full corpus pass;
    # the second documents scan is the doc_id-pruned total count:
    "tfidf_top_terms",
    # r7: the per-key count frame is persisted (MEMORY_AND_DISK);
    # both the top-N and the one-row stats aggregate read the cached
    # counts at runtime — the second FileScan in the unmaterialized
    # plan rendering never executes (same cache-backed shape as the
    # LSH persist):
    "key_skew_profile",
    # r8: scored (doc_id, source, quality) frame persisted — the
    # median aggregate and the filter both read the cache; single
    # runtime corpus scan (rendering still prints the FileScan per
    # InMemoryRelation reference):
    "quality_filter_percentile",
    # r8 cache-backed single-scan shapes (persisted frame carries the
    # only corpus pass; un-materialized renderings print the FileScan
    # under each InMemoryRelation reference):
    "bm25_search",         # persisted per-doc tf/length frame
    # r9: persisted tokenized base carries the only corpus pass; the
    # stats aggregate and the posting build both read the cache, and
    # scan-rendering count is query-count-INDEPENDENT (pytest-pinned)
    "bm25_search_many",
    "dedup_prefix_filter",  # persisted md5-shingle posting frame
    # r8: composition of the exact baseline and the IVF probe — each
    # side is its own reviewed query (embed_cosine_topk,
    # ivf_topk_ann_nprobe2); the localCheckpointed index carries the
    # assignment, the exact side's rescan is the bounded query sample
    "ann_ivf_recall",
    # r8: persisted doc-term frame carries the only corpus pass
    # (cache-backed rendering, same shape as tfidf_top_terms):
    "vocab_oov_rate",
    # r8: centroid selection + assignment both read embeddings; the
    # centroid side is the localCheckpointed n_list-row sample:
    "ivf_cluster_profile",
    # r8: persisted shingle projection + checkpointed signatures feed
    # candidates, estimate, and exact sides (cache-backed rendering,
    # same shape as dedup_minhash_lsh):
    "minhash_calibration",
    # r8: the persisted n_shards-row aggregate feeds the totals and
    # the share projection (cache-backed, key_skew_profile shape):
    "shard_balance",
    # r9 k-means family. kmeans_convergence: each Lloyd round's
    # scored assignment is a REAL corpus pass (that IS the
    # algorithm — one pass per round, persisted so the objective
    # aggregate and the next round's centroid update share it);
    # ann_ivf_recall_kmeans: the ann_ivf_recall composition (bounded
    # exact-baseline query sample rescans + checkpoint-backed index)
    # over refined centroids; ivf_kmeans_profile: the
    # ivf_cluster_profile shape (per-list aggregate + its own 1-row
    # total re-render the same scan subtree in toString()):
    "kmeans_convergence", "ann_ivf_recall_kmeans", "ivf_kmeans_profile",
    # r9 serving probe: the conformance fixture DERIVES its external
    # query table from the same embeddings file (pair averages), so
    # the query-input scan renders beside the checkpointed index; a
    # production probe reads a real query table and the index tables
    # stored by engine.build_ivf_index (pytest pins exactly one
    # embeddings scan — the query input — in the engine path)
    "ann_index_search",
    # r10 text-index family: the conformance forms build postings
    # IN-PLAN so the DuckDB oracle can replay them (the persisted
    # tokenized base carries the single real corpus pass; stats and
    # postings render the FileScan under each cache reference — the
    # bm25_search_many shape). The production path probes the STORED
    # bucketed postings with bucket-pruned reads and never scans the
    # corpus (tests/test_text_index.py pins it).
    "text_index_search", "text_index_drift",
    # r10 PQ family: the conformance forms train the codebook, encode
    # the corpus, slice the query vectors and (for recall) replay the
    # exact side IN ONE PLAN so the DuckDB oracle can reproduce it —
    # each stage re-reads the embeddings scan. The production path
    # trains/encodes ONCE into stored codes (pq_encode output —
    # skinny integer rows) and probes scan codes, not vectors
    # (tests/test_ext_operators.py pins the broadcast probe shape).
    "ann_pq_topk", "ann_pq_rerank", "ann_pq_recall",
    # the serving form probes STORED pq tables; the only embeddings
    # reads are the external query table's own pair-join sides
    # (vec_id < 3, both pruned at the scan)
    "pq_index_search",
    # r10 IVFPQ composition: the conformance forms train BOTH
    # quantizers (kmeans coarse + PQ codebooks), encode, probe and
    # (for recall) replay the exact side IN ONE PLAN so the DuckDB
    # oracle can reproduce them — each training/encode stage re-reads
    # the embeddings scan (the ann_pq_* + kmeans_convergence shapes
    # composed). The production path is engine.build_ivfpq_index →
    # ivfpq_search: probes read ONLY the stored centroid-partitioned
    # tables with dynamic partition pruning, zero embeddings scans
    # (tests/test_bucketing.py::test_ivfpq_index_lifecycle pins it);
    # ivfpq_index_search's remaining embeddings reads are the
    # external query table's own pair-join sides (vec_id < 3, pruned
    # at the scan).
    "ann_ivfpq_adc", "ann_ivfpq_search", "ann_ivfpq_recall",
    "ivfpq_index_search", "ann_ivfpq_filtered",
    # r10 binary quantization: the conformance forms encode in-plan
    # so the oracle replays the packing; the embeddings rescans are
    # the corpus-codes pass + the bounded query-slice reads + (for
    # recall/rerank) the shortlist float reads — at scale codes are
    # encoded once (bq_encode output is what a deployment stores)
    "ann_bq_topk", "ann_bq_search", "ann_bq_recall",
    "bq_balance_profile",
    # r10 MMR: the exact-baseline candidate build reads embeddings
    # (bounded query rows broadcast onto the corpus — the accepted
    # embed_cosine_topk shape) and the checkpointed candidate frame
    # renders beside it; at runtime the k greedy steps read the
    # localCheckpoint, not the corpus
    "mmr_diverse_topk",
    # r10 hybrid retrieval: the lexical leg is bm25_search_many's
    # persisted-tokenize shape, the semantic leg the brute-force
    # baseline — each its own reviewed query; fusion adds no scan
    "hybrid_search_rrf",
    # r10: the append conformance form REBUILDS the half-corpus index
    # per run (both trainings in-plan for the oracle) then appends the
    # other half — the embeddings rescans are the build declaration;
    # production appends touch only the batch (pytest pins appended
    # codes ≡ frozen-quantizer encode, zero corpus rescans)
    "ivfpq_index_append",
    # r11 IVF+BQ: the conformance forms train the coarse quantizer +
    # sign-encode in-plan for the oracle (the ivfpq shapes minus the
    # codebook); the serving/append forms' remaining embeddings reads
    # are the external query table's pruned pair-join sides — the
    # production probe reads only the stored centroid-partitioned
    # tables with DPP (tests/test_bucketing.py pins zero embeddings
    # scans)
    "ann_ivfbq_hamming", "ann_ivfbq_search", "ann_ivfbq_recall",
    "ivfbq_index_search", "ivfbq_index_append",
    # r11 cascade: the conformance form trains the coarse quantizer +
    # PQ codebooks + both encodes in ONE plan for the oracle — each
    # stage re-reads the embeddings scan (the ivfbq + ann_pq shapes
    # composed); a deployment stores both code tables once and the
    # funnel reads codes, never the corpus
    "ann_cascade_search",
    # r11 residual IVFADC: coarse training + residual frame +
    # Euclidean PQ training + encode in ONE plan for the oracle (the
    # ivfpq conformance declaration over the residual pipeline); a
    # deployment stores residual codes once
    "ann_ivfpq_residual_search",
    "ann_ivfpq_residual_recall",
    "ivfpq_residual_calibration",
    # r12 cascade ENGINE lifecycle: the serving plan's embeddings
    # reads are the EXTERNAL query table's bounded sides (probe
    # selection / sign pack / LUT / rerank each reference the nq-row
    # query frame; the corpus is read only through the stored
    # centroid-partitioned tables with DPP —
    # tests/test_bucketing.py::test_cascade_index_lifecycle pins zero
    # embeddings scans on a checkpointed query frame); the append
    # form's reads are the batch assignment + frozen encodes
    "cascade_index_search",
    "cascade_index_append",
})


def scan_schemas(jplan) -> list[tuple[int, str]]:
    """(n_cols, comma-joined field names) for every file-scan leaf of
    an executed plan, read from the scan node's requiredSchema via
    py4j — NOT from the plan's toString(), which truncates long
    struct<> lists and embeds commas inside decimal(p,s) types (the
    r6 audit misreported tpch_q7's 5-column lineitem scan as 19)."""
    if jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jplan = jplan.initialPlan()
    out = []
    leaves = jplan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "Scan" not in leaf.getClass().getSimpleName():
            continue
        try:
            names = list(leaf.requiredSchema().fieldNames())
        except Exception:
            continue
        out.append((len(names), ",".join(names)))
    return out


def sweep_violations(spark, sf_dir: str, queries) -> dict[str, list[str]]:
    """Plan every registered query and collect the scale-gate
    violations. Returns {gate: [offending query names]} — all empty
    on a clean repo. Shared by the pytest hard gate and main()."""
    from quasar_destination_h2_spark import cache

    cartesian: list[str] = []
    row_udf: list[str] = []
    nlj_unexpected: list[str] = []
    rescan_new: list[str] = []
    for name, fn in sorted(queries.items()):
        p = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        cache.release()  # drop per-query persisted intermediates
        if "CartesianProduct" in p:
            cartesian.append(name)
        if "BatchEvalPython" in p:
            row_udf.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in NLJ_OK:
            nlj_unexpected.append(name)
        if name not in RESCAN_REVIEWED:
            for tbl in BIG_TABLES:
                if len(re.findall(rf"FileScan parquet [^\n]*{tbl}\.parquet", p)) > 1:
                    rescan_new.append(f"{name}({tbl})")
    return {
        "cartesian": cartesian,
        "row_python_udf": row_udf,
        "unexpected_nlj": nlj_unexpected,
        "new_repeated_big_scans": rescan_new,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession

    # the index catalog entries store member tables under fixed names:
    # a warehouse of this run's own keeps concurrent gate runs apart
    warehouse = tempfile.mkdtemp(prefix="gate-warehouse-")
    atexit.register(shutil.rmtree, warehouse, True)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from quasar_destination_h2_spark import plans

    qs = plans.all_queries()
    lines = [
        "# PLANS — audited physical plans at " + sf_dir,
        "",
        "Generated by `python tools/plan_audit.py`. Invariants: zero",
        "`CartesianProduct` anywhere; aggregations partial+final; top-k",
        "as `TakeOrderedAndProject`; scans pruned + filter-pushed.",
        "",
    ]
    bad = 0
    from quasar_destination_h2_spark import cache

    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        jplan = df._jdf.queryExecution().executedPlan()
        p = jplan.toString()
        cache.release()  # keep each rendering fresh-session-like
        counts = {m: p.count(m) for m in MARKERS if p.count(m)}
        pushed = [f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if f]
        if counts.get("CartesianProduct"):
            bad += 1
        lines.append(f"## {name}")
        lines.append("")
        lines.append("- markers: " + ", ".join(f"{k}×{v}" for k, v in counts.items()))
        for ncols, fields in scan_schemas(jplan)[:4]:
            lines.append(f"- scan ({ncols} cols): `{fields[:100]}`")
        for f in pushed[:3]:
            lines.append(f"- pushed: `{f[:110]}`")
        lines.append("")
        print(name, "->", counts)

    # Global sweep: EVERY registered query must be CartesianProduct-
    # free, contain no row-at-a-time Python UDF (BatchEvalPython), no
    # undeclared BroadcastNestedLoopJoin, and no unreviewed repeated
    # big-table scan. Same gate tests/test_plan_audit.py enforces red.
    v = sweep_violations(spark, sf_dir, qs)
    cartesian = v["cartesian"]
    row_udf = v["row_python_udf"]
    nlj_unexpected = v["unexpected_nlj"]
    rescan_new = v["new_repeated_big_scans"]
    offenders = cartesian + row_udf
    bad += len(offenders)
    lines.append("## Global sweep (all registered queries)")
    lines.append("")
    lines.append(
        f"- {len(qs)} queries planned at {sf_dir}: "
        f"CartesianProduct: {len(cartesian)}, row-Python-UDF "
        f"(BatchEvalPython): {len(row_udf)}, unexpected "
        f"BroadcastNestedLoopJoin: {len(nlj_unexpected)}"
    )
    if offenders:
        lines.append("- OFFENDERS: " + ", ".join(offenders))
    if nlj_unexpected:
        lines.append("- NLJ (review): " + ", ".join(nlj_unexpected))
    lines.append(
        "- BroadcastNestedLoopJoin allowed by design: "
        + ", ".join(sorted(NLJ_OK))
    )
    lines.append(
        f"- repeated big-table scans needing review: "
        f"{', '.join(rescan_new) if rescan_new else 'none'} "
        f"({len(RESCAN_REVIEWED)} reviewed repeats allowlisted — "
        "inherent two-pass algorithms, shared-SQL demos, pruned "
        "slices, or cache-backed; NEW entries fail "
        "tests/test_plan_audit.py)"
    )
    lines.append("")
    print("sweep:", len(qs), "queries; offenders:", offenders or "none",
          "; unexpected NLJ:", nlj_unexpected or "none",
          "; new rescans:", rescan_new or "none")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print("wrote", out, "| cartesian products:", bad)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
