"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the headline Tier-B + [EXT] queries on local[$SPARK_GRAFT_CPUS]
and prints the full-payload JSON line

    {"metric": "wall_time_headline", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

followed by a COMPACT self-contained headline line (same metric/
value/unit/sf/queries keys, 2-decimal seconds, ~1.8 KB) as the very
LAST stdout line — the driver's artifact keeps only the final ~2000
characters, and in r15 the single ever-growing payload line outgrew
that window: the stored tail began mid-object and the r15→r16 PERF
comparison silently compared nothing (r16 verdict item 1). Both
lines carry the contract keys; consumers that parsed the old single
line parse either of these.

Each query is executed with a count-only terminal action (the driver
collects separately in correctness); timing covers plan + execution,
not session boot. Queries chosen to exercise the scale-critical plan
shapes: single-shuffle partial aggregation, broadcast-dim multi-join,
window top-k per group, global top-k (TakeOrderedAndProject), and the
bucketed LSH near-dup join (no cartesian product).

Attribution protocol (r10 VERDICT task 2 — three same-tree r10 runs
spread calibration 23% and disagreed on which queries "regressed"):

* the 44-query COMMON set (the r9∩r10 round-over-round comparison
  basis) runs FIRST in the fresh session, before any of the heavy
  index-build entries can pollute GC/cache;
* every family (common / index conformance / index serving) is
  BRACKETED by the multi-core calibration probe —
  ``family_calibration`` in the output — so drift WITHIN a run is
  visible, not just across runs; the run's best probe reading is
  ``calibration_mc_sec`` (on both output lines);
* per query: one warm run, then best-of-3 timed runs with the
  relative spread recorded (``queries_spread``: (max-min)/min of the
  timed runs) — a query whose spread is large is noise, not signal.

Cross-tree comparison: ``tools/bench_ab.py`` (alternating worktree
runs over ``queries``, ``queries_spread`` and ``common_set``), never
a division by a calibration probe — probe-normalised comparisons
proved untrustworthy (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: The round-over-round COMMON set (r9∩r10 basis, minus csv_load
#: which is timed by the load-path block below, inside the same
#: family bracket). Runs FIRST — see the module docstring.
COMMON = (
    "agg_pricing_summary",
    "join_inner_broadcast",
    "window_rank",
    "topk",
    "count_distinct",
    "cte_multi",
    "events_hourly",
    # hardest TPC-H decorrelation shapes: bilateral-trade multi-join,
    # sole-late-supplier semi+anti join, widest-scan 6-way product
    # profit join (r5 addition — heaviest remaining plan family)
    "tpch_q7_volume_shipping",
    "tpch_q21_suppliers_who_kept_waiting",
    "tpch_q17_small_quantity_revenue",
    "tpch_q9_product_profit",
    # [EXT] scale paths: bucketed LSH dedup + brute-force ANN baseline
    # + IVF-confined semantic dedup (r5 addition)
    "dedup_minhash_lsh",
    "embed_cosine_topk",
    "semantic_dedup",
    # [EXT] training-pipeline paths: iterative connected components,
    # quality-aware survivor selection over the same fixpoint (r6
    # addition), global token histogram top-k, applyInPandas sequence
    # packing
    "dedup_clusters",
    "dedup_keep_best",
    "vocab_topk",
    "sequence_pack",
    # [EXT] time-series paths: multi-resolution re-aggregation +
    # bucketized range join
    "rollup_cascade",
    "range_join_sessions",
    # [EXT] flagship composition: dedup -> quality gate -> stable split
    "pipeline_curate",
    # r6: two-pass LM scoring with broadcast vocabulary (the DSIR
    # data-selection shape) and the one-scan multi-distinct profile
    # aggregation (Expand-based)
    "importance_weights",
    "table_profile",
    # r7: zero-shuffle chunk explode, persisted-tf tf-idf ranking,
    # broadcast-median quality gate, label-excluded contrastive
    # mining, dual-model PMI build, head-ranked power-sum Zipf fit
    "doc_chunking",
    "tfidf_top_terms",
    "quality_filter_percentile",
    "hard_negative_mining",
    "pmi_collocations",
    "zipf_fit",
    # r8: zero-explode BM25 retrieval, prefix-filtered Jaccard join,
    # zero-shuffle sorted-neighbors diversity profile, exact-vs-IVF
    # recall contract
    "bm25_search",
    "dedup_prefix_filter",
    "lexical_diversity",
    "ann_ivf_recall",
    # bipartite new-batch-vs-reference inverted-index join
    "dedup_cross_corpus",
    # rolling power-sum z-score window over the hourly aggregate
    "events_anomaly_zscore",
    # IVF balance diagnostic + candidate-vocab coverage audit
    "ivf_cluster_profile",
    "vocab_oov_rate",
    # sketch-estimator calibration + training-shard balance audit
    "minhash_calibration",
    "shard_balance",
    # r9: iterative Lloyd refinement + objective trace, refined-index
    # recall contract, query-table batch BM25
    "kmeans_convergence",
    "ann_ivf_recall_kmeans",
    "bm25_search_many",
    # the ANN serving query family — NOTE: the registered query
    # rebuilds the k-means index per run (the oracle-replayable
    # form), so this entry times BUILD + probe; production amortizes
    # the build via engine.build_ivf_index and pays only the probe
    "ann_index_search",
    # r15: persisted-vocabulary count-min sketch build + broadcast
    # estimate join; 5-round integer power-iteration PageRank (two
    # shuffles per round over the prepared edge frame)
    "sketch_countmin_heavyhitters",
    "graph_pagerank_centrality",
)

#: Index-conformance entries (r10+): each registered query rebuilds
#: its quantizers/postings per run BY DECLARATION so the DuckDB
#: oracle can replay them — heavy on purpose; the amortized serving
#: numbers are the *_probe_only entries of the serving family.
INDEX_CONFORMANCE = (
    "text_index_search",
    "pq_index_search",
    "csvread_roundtrip",
    "ivfpq_index_search",
    "ann_bq_search",
    "hybrid_search_rrf",
    # r11: the composed IVF+BQ serving form (coarse training + sign
    # encode + partition-pruned Hamming + rerank per run;
    # ivfbq_probe_only is the amortized serving number) and the
    # full retrieval funnel (IVF -> Hamming-200 -> ADC-50 -> exact)
    "ivfbq_index_search",
    "ann_cascade_search",
    # r12: the funnel's ENGINE-lifecycle serving form (one cascade
    # build, every stage's scan centroid-pruned;
    # cascade_probe_only is the amortized steady-state number)
    "cascade_index_search",
)


def _calibration_mc(spark) -> float:
    """Multi-CORE calibration workload (r13 verdict task 1): a FIXED
    parallel shuffle+scan job — 32-partition range scan, hash
    projection, 1024-key hash aggregation — that exercises every
    executor thread AND the shuffle machinery. Round 13 proved the
    single-threaded codegen probe blind to a real 1.21x machine
    drift (same tree, identical probe reading, +21% wall): whatever
    moves multi-core throughput, memory bandwidth or shuffle latency
    moves THIS number with it. Emitted as ``calibration_mc_sec`` and
    bracketed per family so within-run drift is visible; cross-TREE
    perf verdicts come from ``tools/bench_ab.py`` (alternating
    worktree runs), never from dividing by any probe."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 48_000_000, 1, 32)
            .selectExpr("pmod(xxhash64(id), 1024) AS k", "id")
            .groupBy("k")
            .agg({"id": "avg"})
            .count()
        )
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


#: The explicit round-over-round comparison basis (r12 VERDICT task
#: 4): COMMON plus the amortized index-SERVING numbers — the figures
#: that matter at 100 TB get continuity even though their entries are
#: computed after the one-time builds late in the run. Emitted in the
#: output as ``common_set`` so the basis can never silently drift.
PROBE_ONLY = (
    "ann_probe_only",
    "text_probe_only",
    "pq_probe_only",
    "ivfpq_probe_only",
    "ivfbq_probe_only",
    "cascade_probe_only",
    # r16: the graph-index serving split — rank iterations over the
    # stored src-bucketed edge frame, no per-run edge preparation
    "graph_rank_only",
)

#: SPARK_GRAFT_BENCH_PAIR=1: interleaved same-tree pair mode (r12
#: VERDICT task 4 — the r12 pair was two SEQUENTIAL full runs, so
#: slow thermal/co-tenant drift hit one run more than the other and
#: widened the apparent same-tree noise to a 10.6% median; r11
#: measured 5.7%). In pair mode every timed entry runs 2x3 times
#: with the A and B series INTERLEAVED (A,B,A,B,A,B), so any drift
#: slower than one run hits both series symmetrically; the output
#: carries the B series beside the A series plus the paired
#: per-query delta summary. One-shot build timings have no pair.
PAIR_MODE = os.environ.get("SPARK_GRAFT_BENCH_PAIR") == "1"


def _next_job_id(spark) -> int:
    """Driver-side DAGScheduler job counter (r17 verdict task 3): at
    sf0.1 the heavy entries are scheduler-bound (~0.15-0.2 s fixed
    overhead per Spark job), so per-entry JOB COUNT is the
    mechanism-level signal wall time can't show — and it is also the
    number that tracks the shuffle/action structure the 100 TB
    claims rest on. Returns -1 if the internal API ever moves; the
    bench must never fail over an instrumentation probe."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    except Exception:
        return -1


def _timed(fn, runs: int = 3) -> tuple[float, float]:
    """(best_sec, spread) over ``runs`` timed executions — spread =
    (max-min)/min, the per-query noise bar: a round-over-round delta
    smaller than the spread is not a regression signal."""
    vals = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    best = min(vals)
    spread = round((max(vals) - best) / best, 3) if best > 0 else 0.0
    return round(best, 4), spread


def _timed_pair(fn, runs: int = 3):
    """Pair mode: 2*runs executions with the two best-of-``runs``
    series interleaved in time — (best_a, spread_a, best_b,
    spread_b)."""
    a_vals, b_vals = [], []
    for i in range(2 * runs):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        (a_vals if i % 2 == 0 else b_vals).append(dt)
    out = []
    for vals in (a_vals, b_vals):
        best = min(vals)
        out.append(round(best, 4))
        out.append(
            round((max(vals) - best) / best, 3) if best > 0 else 0.0
        )
    return tuple(out)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import tempfile as _tf

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("quasar-h2-spark-bench")
        .config("spark.sql.warehouse.dir", _tf.mkdtemp(prefix="bench-wh-"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES (1 MB floor
        # by default). The CPU-dense stages here (posting-list pair
        # fan-out, shingle arrays, vector math) do far more work per
        # byte than a scan, so the byte floor under-parallelizes them
        # ~4x at small SF (measured: ngram pair build 1.8 s -> 1.0 s
        # with the floor at 256k). At cluster scale partitions are
        # tens of MB and the floor is never the binding constraint.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from quasar_destination_h2_spark import cache, plans

    qs = plans.all_queries()
    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    times_b: dict[str, float] = {}
    spreads_b: dict[str, float] = {}
    #: Spark jobs per single execution of each entry (r17 verdict
    #: task 3): measured as the DAGScheduler job-id delta across the
    #: timed runs divided by the run count — additions-only field
    jobs: dict[str, float] = {}
    #: best-of-2 one-shot index-build timings (r17 verdict task 6):
    #: the one-shot `queries` build fields keep their continuity, but
    #: their cold spread reaches 1.4x same-tree; this field is the
    #: one regression flags on build entries should use
    build_b2: dict[str, float] = {}
    missing: list[str] = []

    def timed_into(key: str, fn) -> None:
        """Route one timed entry through single or pair mode; record
        the per-execution Spark job count alongside."""
        j0 = _next_job_id(spark)
        if PAIR_MODE:
            a, sa, b, sb = _timed_pair(fn)
            times[key], spreads[key] = a, sa
            times_b[key], spreads_b[key] = b, sb
            n_execs = 6
        else:
            times[key], spreads[key] = _timed(fn)
            n_execs = 3
        j1 = _next_job_id(spark)
        if j0 >= 0 and j1 >= 0:
            jobs[key] = round((j1 - j0) / n_execs, 1)
    # per-family [start, end] brackets of the multi-core probe
    fam_calib: dict[str, dict[str, list[float]]] = {}

    def bracket_start(fam: str) -> None:
        fam_calib[fam] = {"mc": [_calibration_mc(spark)]}

    def bracket_end(fam: str) -> None:
        fam_calib[fam]["mc"].append(_calibration_mc(spark))

    def run_query(name: str) -> None:
        fn = qs.get(name)
        if fn is None:
            # a typo'd or renamed entry must not silently vanish from
            # the round-over-round comparison set (advisor r11) — it
            # surfaces on stderr AND in the output JSON's "missing"
            import sys

            print(f"bench: query not in registry: {name!r}", file=sys.stderr)
            missing.append(name)
            return
        # time build+execute together: iterative operators (e.g.
        # dedup_clusters) do their work at build time via
        # localCheckpoint, so timing only a count of a pre-built
        # DataFrame would under-report them
        fn(spark, sf_dir).count()  # warm: footer reads, JIT, plans
        timed_into(name, lambda: fn(spark, sf_dir).count())
        # drop operator-level persisted intermediates between
        # queries (cache stays warm across the warm+timed runs of
        # ONE query — unchanged measurement — but never leaks into
        # the next query's memory budget)
        cache.release()

    # ---- family: the round-over-round COMMON set — FIRST, in the
    # fresh session, before any heavy index build runs (r10 task 2)
    bracket_start("common")
    for name in COMMON:
        run_query(name)
    bracket_end("common")

    # ---- family: load path (the reference IS a loader: CSVREAD-CTAS
    # bulk load, H2CsvCreateSink.scala:121-122). Export lineitem once
    # as headerless CSV, then time the full sink pipeline: validate ->
    # splittable CSV scan -> parquet saveAsTable (atomic replace).
    import tempfile

    from quasar_destination_h2_spark.engine import Engine
    from quasar_destination_h2_spark.types import Column, ColumnType

    bracket_start("load")
    stage = tempfile.mkdtemp(prefix="bench-csv-")
    li = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    )
    csv_dir = f"{stage}/lineitem_csv"
    # 16 files so the load parallelism reflects the engine, not the
    # accident of the staged export's layout (single-file CSVs cap
    # scan parallelism at maxPartitionBytes granularity)
    li.repartition(16).write.option("header", False).option(
        "emptyValue", ""
    ).csv(csv_dir)
    cols = [
        Column("l_orderkey", ColumnType.NUMBER),
        Column("l_partkey", ColumnType.NUMBER),
        Column("l_suppkey", ColumnType.NUMBER),
        Column("l_quantity", ColumnType.NUMBER),
        Column("l_extendedprice", ColumnType.NUMBER),
        Column("l_discount", ColumnType.NUMBER),
        Column("l_tax", ColumnType.NUMBER),
        Column("l_returnflag", ColumnType.STRING),
    ]
    engine = Engine.from_config(
        json.dumps({"connectionUri": f"{stage}/wh"}), spark=spark
    )
    sink = engine.csv_create_sink()
    sink.consume("/bench_load", cols, csv_dir)  # warm
    timed_into("csv_load", lambda: sink.consume("/bench_load", cols, csv_dir))
    bracket_end("load")

    # ---- family: index-conformance entries (heavy by declaration —
    # each rebuilds its quantizers/postings per run so the DuckDB
    # oracle can replay them)
    bracket_start("index_conformance")
    for name in INDEX_CONFORMANCE:
        run_query(name)
    bracket_end("index_conformance")

    # ---- family: index SERVING splits (r9 VERDICT task 3) — the
    # numbers that matter at 100 TB: build each index ONCE through
    # the engine lifecycle, then time successive probe batches over
    # the stored tables (each probe includes the torn-state
    # verification, memoized after the first call — honestly part of
    # every serving call).
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark.sources.tables import load_table

    def build_entry(key: str, build) -> None:
        """One-shot build timing (the historical `queries` field, kept
        for continuity) plus a SECOND build timed into
        ``queries_build_b2`` (r17 verdict task 6: one-shot cold builds
        spread up to 1.4x same-tree, generating false regression
        flags every round — flag build entries on the best-of-2
        field). The rebuild retrains deterministically from the same
        inputs, so the probes that follow serve identical tables. The
        job count is the FIRST (cold) build's."""
        j0 = _next_job_id(spark)
        t0 = time.perf_counter()
        build()
        times[key] = round(time.perf_counter() - t0, 4)
        j1 = _next_job_id(spark)
        if j0 >= 0 and j1 >= 0:
            jobs[key] = float(j1 - j0)
        t0 = time.perf_counter()
        build()
        build_b2[key] = min(
            times[key], round(time.perf_counter() - t0, 4)
        )

    bracket_start("index_serving")
    emb = load_table(spark, sf_dir, "embeddings")
    build_entry(
        "ann_index_build",
        lambda: engine.build_ivf_index("bench_annix", emb, kmeans_iters=2),
    )
    probe_queries = (
        emb.where("vec_id < 5")
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 0.5 + 0.01, 6),
            ).alias("qv"),
        )
        .localCheckpoint()  # probe timing excludes query-batch prep
    )

    def probe_split(key: str, probe) -> None:
        """Warm once, then best-of-3 of (5 probe batches)/5 — in pair
        mode two interleaved best-of-3 series (the probe_only entries
        are in the round-over-round comparison basis, PROBE_ONLY)."""
        probe()  # warm

        def five():
            for _b in range(5):
                probe()

        j0 = _next_job_id(spark)
        if PAIR_MODE:
            a, sa, b, sb = _timed_pair(five)
            times[key], spreads[key] = round(a / 5, 4), sa
            times_b[key], spreads_b[key] = round(b / 5, 4), sb
            n_probes = 30
        else:
            best, spr = _timed(five)
            times[key] = round(best / 5, 4)
            spreads[key] = spr
            n_probes = 15
        j1 = _next_job_id(spark)
        if j0 >= 0 and j1 >= 0:
            jobs[key] = round((j1 - j0) / n_probes, 1)

    probe_split(
        "ann_probe_only",
        lambda: engine.ann_topk("bench_annix", probe_queries).count(),
    )

    # BM25 text-index serving: tok-bucketed postings store + stats
    # row; probes do a term semi-join prune over co-located inverted
    # lists, df from the pruned postings, per-query window top-k.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    build_entry(
        "text_index_build",
        lambda: engine.build_text_index("bench_tix", docs, n_buckets=nb),
    )
    text_queries = spark.createDataFrame(
        [
            (1, "query"), (1, "spark"), (1, "window"),
            (2, "data"), (2, "join"),
            (3, "stream"), (3, "state"), (3, "window"),
        ],
        "query_id bigint, term string",
    ).localCheckpoint()
    probe_split(
        "text_probe_only",
        lambda: engine.text_search("bench_tix", text_queries).count(),
    )

    # PQ serving: codebooks trained + corpus encoded ONCE; probes run
    # a bounded ADC LUT onto the vec_id-bucketed codes (shuffle-free
    # index side) + shortlist rerank against the stored vectors.
    build_entry(
        "pq_index_build", lambda: engine.build_pq_index("bench_pqix", emb)
    )
    probe_split(
        "pq_probe_only",
        lambda: engine.pq_search("bench_pqix", probe_queries).count(),
    )

    # IVFPQ serving: the composed index built ONCE (coarse k-means +
    # PQ codebooks + encode, stored PARTITIONED by centroid_id);
    # probes select nprobe lists against the bounded stored
    # centroids, ADC over ONLY the probed lists (dynamic partition
    # pruning restricts the file reads), exact rerank of the
    # shortlist against the same-pruned vector store.
    build_entry(
        "ivfpq_index_build",
        lambda: engine.build_ivfpq_index("bench_ipqix", emb),
    )
    probe_split(
        "ivfpq_probe_only",
        lambda: engine.ivfpq_search("bench_ipqix", probe_queries).count(),
    )

    # r11 — IVF+BQ serving: the coarse quantizer over the 1-bit sign
    # codes (no codebook — the sign quantizer is parameterless);
    # probes run XOR+popcount Hamming over ONLY the probed lists of
    # the centroid-partitioned packed codes + exact rerank.
    build_entry(
        "ivfbq_index_build",
        lambda: engine.build_ivfbq_index("bench_ibqix", emb),
    )
    probe_split(
        "ivfbq_probe_only",
        lambda: engine.ivfbq_search("bench_ibqix", probe_queries).count(),
    )

    # r12 — CASCADE serving: the full funnel's steady-state split
    # (coarse prune -> Hamming-200 cut -> PQ ADC narrow -> exact
    # rerank) over ONE build storing sign codes, PQ codes and
    # vectors all centroid-partitioned; every probe stage's scan is
    # dynamically pruned to the probed lists.
    build_entry(
        "cascade_index_build",
        lambda: engine.build_cascade_index("bench_cascix", emb),
    )
    probe_split(
        "cascade_probe_only",
        lambda: engine.cascade_search(
            "bench_cascix", probe_queries
        ).count(),
    )

    # r16 — GRAPH serving: the purchase-graph edge frame is deduped,
    # degree-attached and stored src-BUCKETED ONCE
    # (engine.build_graph_index); graph_rank_only times the 5-round
    # integer power iteration over the stored frames — the amortized
    # centrality number (the registered graph_pagerank_centrality
    # entry in COMMON times dedup+prepare+rank per run by
    # declaration, the oracle-replayable form). Rank runs are full
    # iterations, not sub-second probes, so the split uses the
    # standard best-of-3, not the /5 probe batching.
    g_orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    g_li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    g_edges = g_orders.join(
        g_li, g_orders["o_orderkey"] == g_li["l_orderkey"]
    ).select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
    )
    build_entry(
        "graph_index_build",
        lambda: engine.build_graph_index("bench_gix", g_edges, n_buckets=nb),
    )
    engine.pagerank_served("bench_gix").count()  # warm
    timed_into(
        "graph_rank_only",
        lambda: engine.pagerank_served("bench_gix").count(),
    )
    bracket_end("index_serving")

    calib_mc = min(v for f in fam_calib.values() for v in f["mc"])
    total = round(sum(times.values()), 4)
    pair_extra = {}
    if PAIR_MODE:
        basis = [
            k
            for k in (*COMMON, "csv_load", *PROBE_ONLY)
            if k in times and k in times_b
        ]
        deltas = sorted(
            abs(times[k] - times_b[k]) / min(times[k], times_b[k])
            for k in basis
            if min(times[k], times_b[k]) > 0
        )
        med = deltas[len(deltas) // 2] if deltas else 0.0
        pair_extra = {
            # the interleaved same-tree B series + paired noise bar:
            # the median per-entry |a-b|/min over the comparison
            # basis IS what "flat within noise" can mean this round
            "queries_pair_b": times_b,
            "queries_spread_pair_b": spreads_b,
            "pair_median_delta": round(med, 4),
            "pair_basis_n": len(basis),
        }
    print(
        json.dumps(
            {
                "metric": "wall_time_headline",
                "value": total,
                "unit": "sec",
                "sf": sf,
                # the explicit round-over-round comparison basis
                # (COMMON + load path + the amortized serving
                # numbers) — compare over exactly these keys
                "common_set": [*COMMON, "csv_load", *PROBE_ONLY],
                **pair_extra,
                # the run's best multi-core probe reading; family
                # brackets expose WITHIN-run drift
                "calibration_mc_sec": calib_mc,
                "family_calibration": fam_calib,
                "queries": times,
                # per-query noise bar: (max-min)/min of the timed
                # runs — deltas below the spread are noise
                "queries_spread": spreads,
                # Spark jobs per execution (r17): the structural
                # signal — at sf0.1 the heavy entries are
                # scheduler-bound (~0.15-0.2 s/job), and the job
                # count is what the shuffle/action-removal work
                # actually moves
                "queries_jobs": jobs,
                # best-of-2 one-shot build timings (r17): flag build
                # regressions on THIS, not the cold one-shot field
                "queries_build_b2": build_b2,
                # the headline repeated at the END of the line: the
                # driver's capture keeps the TAIL, and r9's file lost
                # the leading summary to truncation — now both ends
                # carry it (r9 VERDICT task 8)
                # names requested but absent from the registry —
                # non-empty means the comparison set silently shrank
                "missing": missing,
                "total_sec": total,
            }
        )
    )
    # Compact headline as the very LAST stdout line (r17 verdict task
    # 2): the driver's artifact keeps only the final ~2000 characters
    # of stdout, and the full payload above outgrew that in r15 — its
    # stored tail began mid-object, PERF_r16 parsed nothing, and the
    # round-over-round comparison silently vanished. This line is
    # self-contained (metric/value/unit/sf/queries at 2-decimal
    # precision, compact separators, ~1.8 KB at 69 entries) so a
    # tail-only capture still parses. The full-precision payload
    # stays on the preceding line; both lines are additions-only
    # relative to the r16 output.
    print(
        json.dumps(
            {
                "metric": "wall_time_headline",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "total_sec": total,
                "calibration_mc_sec": calib_mc,
                "queries": {k: round(v, 2) for k, v in times.items()},
                **({"missing": missing} if missing else {}),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
