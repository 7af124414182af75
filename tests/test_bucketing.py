"""Bucketed co-located joins: same-key bucketed tables must join and
aggregate without a SHUFFLE exchange (the 100 TB repeated-join
strategy). A BroadcastExchange on a tiny side is fine — the property
under test is that no hash-partitioning shuffle of the big tables is
needed."""

from __future__ import annotations

import json
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from quasar_destination_h2_spark.engine import Engine
from quasar_destination_h2_spark.sources.tables import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark, warehouse_dir):
    return Engine.from_config(
        json.dumps({"connectionUri": warehouse_dir}), spark=spark
    )


@contextmanager
def no_auto_broadcast(spark):
    """Force the sort-merge path so the bucketed co-location (not a
    small-table broadcast) is what eliminates the shuffle."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(engine, spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    engine.materialize_bucketed("b_lineitem", li, ["l_orderkey"], 8)
    engine.materialize_bucketed(
        "b_orders", orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        ["l_orderkey"], 8,
    )
    with no_auto_broadcast(spark):
        joined = (
            engine.table("b_lineitem")
            .join(engine.table("b_orders"), "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        got = {(r.l_orderkey, r.n) for r in joined.collect()}
    expect = (
        li.join(orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r.l_orderkey, r.n) for r in expect.collect()}
    assert got == want


def test_bucketed_aggregation_no_shuffle(engine, spark):
    agg = (
        engine.table("b_lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("s")
        )
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_semantic_dedup_bucketed_by_centroid_no_shuffle(engine, spark):
    """SCALE.md's semantic-dedup claim made concrete: with the
    centroid-assigned corpus STORED bucketed by centroid_id, the
    in-cluster pair self-join needs no shuffle of the corpus — the
    on-disk hash partitioning is reused on both sides."""
    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned = similarity.ivf_assign(
        emb, similarity.ivf_centroids(emb)
    ).select("vec_id", "centroid_id")
    engine.materialize_bucketed("b_assigned", assigned, ["centroid_id"], 8)
    stored = engine.table("b_assigned")
    with no_auto_broadcast(spark):
        pairs = (
            stored.alias("a")
            .join(stored.alias("b"), "centroid_id")
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        n_pairs = pairs.count()
    # sanity: same pair count as the unbucketed join
    want = (
        assigned.alias("a")
        .join(assigned.alias("b"), "centroid_id")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .count()
    )
    assert n_pairs == want


def test_bucketed_cross_corpus_reference_side(engine, spark):
    """The cross-corpus dedup's documented nightly path: reference
    postings materialized bucketed BY the shingle hash. The bucketed
    plan must (a) return exactly the inline-postings pairs and (b)
    carry strictly fewer hash-partitioning exchanges — the
    reference-side valve groupBy and join read co-located buckets."""
    from quasar_destination_h2_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    new_docs = docs.where("source = 'src0'")
    ref_docs = docs.where("source <> 'src0'")
    engine.materialize_bucketed(
        "cc_ref_postings", dedup.cross_corpus_postings(ref_docs), ["s"], 8
    )
    bucketed = engine.table("cc_ref_postings")
    with no_auto_broadcast(spark):
        inline = dedup.cross_corpus_pairs(new_docs, ref_docs)
        buck = dedup.cross_corpus_pairs(new_docs, ref_postings=bucketed)
        px = inline._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        bx = buck._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        got_inline = sorted(map(tuple, inline.collect()))
        got_bucket = sorted(map(tuple, buck.collect()))
    assert got_bucket == got_inline
    assert bx < px, (bx, px)


def test_cross_corpus_requires_exactly_one_reference_form():
    from quasar_destination_h2_spark.operators import dedup

    with pytest.raises(ValueError, match="exactly one"):
        dedup.cross_corpus_pairs(None)
    with pytest.raises(ValueError, match="exactly one"):
        dedup.cross_corpus_pairs(None, ref_docs="x", ref_postings="y")


def test_bucketed_semantic_dedup(engine, spark):
    """semantic_dedup's production path: the IVF assignment stored
    bucketed BY centroid_id. Same verdicts as the inline build, and
    the in-cluster self-join reads co-located buckets — strictly
    fewer hash exchanges than the inline plan."""
    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned = similarity.ivf_assign(
        emb, similarity.ivf_centroids(emb)
    )
    engine.materialize_bucketed("sd_assigned", assigned, ["centroid_id"], 8)
    stored = engine.table("sd_assigned")
    with no_auto_broadcast(spark):
        inline = similarity.semantic_dedup(emb)
        bucketed = similarity.semantic_dedup(emb, assigned=stored)
        bx = bucketed._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        ix = inline._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        got_b = sorted(map(tuple, bucketed.collect()))
        got_i = sorted(map(tuple, inline.collect()))
    assert got_b == got_i and len(got_b) > 0
    assert bx < ix, (bx, ix)


def test_ann_index_lifecycle(engine, spark):
    """Build-once / probe-many: engine.build_ivf_index stores the
    refined centroids + the centroid-bucketed assignment; ann_topk
    probes reuse the stored tables (no rebuild — the probe plan scans
    the index tables, not embeddings), carry fewer hash exchanges
    than an unbucketed probe, and match the operator composition
    row-for-row."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_ivf_index("annix", emb, n_list=8, kmeans_iters=2)
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 0.5 + 0.01, 6)
        ).alias("qv"),
    )
    with no_auto_broadcast(spark):
        got = engine.ann_topk("annix", queries, k=3, nprobe=2)
        plan = got._jdf.queryExecution().executedPlan().toString()
        rows1 = sorted(map(tuple, got.collect()))
        rows2 = sorted(
            map(tuple, engine.ann_topk("annix", queries, k=3, nprobe=2).collect())
        )
    # probe-many: identical answers, and the probe reads the STORED
    # index — the assignment table in the plan, the centroids as
    # driver-read literals (so no centroid scan) — and the only
    # embeddings scan is the query-table input itself (queries here
    # are derived from the corpus)
    import re as _re

    assert rows1 == rows2 and len(rows1) == 15
    assert "annix_assigned" in plan and "annix_centroids" not in plan
    # the centroids live in the index manifest, not in a table
    assert "annix_centroids" not in engine.sink.catalog
    n_emb_scans = len(
        _re.findall(r"FileScan parquet [^\n]*embeddings\.parquet", plan)
    )
    assert n_emb_scans == 1, plan
    # parity with the operator composition over the same index frames
    cents = _stored(engine, "annix")
    assigned = engine.table("annix_assigned")
    direct = sorted(
        map(
            tuple,
            similarity.ann_search(assigned, cents, queries, k=3, nprobe=2)
            .collect(),
        )
    )
    assert direct == rows1
    # the bucketed store earns its keep: the co-located probe carries
    # fewer hash exchanges than the same probe over an UNBUCKETED
    # copy of the assignment (broadcast hint disabled on both sides
    # so the join strategy, not the hint, is what differs)
    with no_auto_broadcast(spark):
        unbucketed = assigned.localCheckpoint()
        bx = engine.ann_topk(
            "annix", queries, k=3, nprobe=2
        )._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        ux = similarity.ann_search(
            unbucketed, cents, queries, k=3, nprobe=2,
            broadcast_queries=False,
        )._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
    assert bx <= ux, (bx, ux)
    # kmeans_iters=0 keeps the md5 seeds (baseline index)
    engine.build_ivf_index("annix0", emb, n_list=8, kmeans_iters=0)
    assert _stored(engine, "annix0").count() == 8


def _stored(engine, name, state="centroids"):
    """An index's bounded state (centroids, codebook) from its
    manifest, as a frame."""
    return engine._frame(engine._read_manifest(name)[state])


def _sim(a, b):
    from quasar_destination_h2_spark.operators import similarity

    return F.round(similarity.cosine(F.col(a), F.col(b)), 6)


def _window_lists(cents, queries, nprobe):
    """The reference list choice, all in the plan: every centroid
    scored against every query through a cross join, a window
    top-nprobe per query (ties to the lower centroid id)."""
    from pyspark.sql import Window

    return (
        queries.crossJoin(cents.select("centroid_id", "cvec"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    _sim("qv", "cvec").desc(), "centroid_id"
                )
            ),
        )
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )


def _window_ann_reference(assigned, cents, queries, k, nprobe):
    """The reference IVF probe, all in the plan: the window list
    choice, the list join and a per-query window top-k."""
    from pyspark.sql import Window

    lists = _window_lists(cents, queries, nprobe)
    scored = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            "centroid_id",
        )
        .join(lists, "centroid_id")
        .select(
            "query_id",
            "neighbor_id",
            "centroid_id",
            _sim("qv", "cv").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "centroid_id", "cos_sim", "rank")
    )


def _probe_queries(spark, n=5, dim=64):
    """Query vectors near the _clustered blocks (not corpus rows)."""
    rows = []
    for q in range(n):
        c = (q * 3) % 8
        rows.append(
            (q, [(1.0 if c * 8 <= d < c * 8 + 8 else 0.0) + ((q * 5 + d) % 7 - 3) / 9.0
                 for d in range(dim)])
        )
    return spark.createDataFrame(rows, "query_id int, qv array<double>")


@pytest.fixture(scope="module")
def probe_index(engine, spark):
    engine.build_ivf_index(
        "annp", _clustered(spark, per=10), n_list=8, kmeans_iters=1, n_buckets=4
    )
    return engine.table("annp_assigned"), _stored(engine, "annp")


@pytest.mark.parametrize("nprobe", [1, 3, 8, 20])
def test_ann_probe_matches_window_reference(engine, spark, probe_index, nprobe):
    """The literal-centroid probe equals the cross-join + window
    reference row for row at nprobe=1, a middle value, nprobe = n_list
    and nprobe > n_list — and probing every list is the exact top-k.
    ivfpq_probe_lists (the list choice of the compressed families,
    given the centroids as rows like the manifest's) picks the
    reference's lists."""
    from quasar_destination_h2_spark.operators import similarity

    assigned, cents = probe_index
    queries = _probe_queries(spark)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got = rows(engine.ann_topk("annp", queries, k=6, nprobe=nprobe))
    assert got == rows(_window_ann_reference(assigned, cents, queries, 6, nprobe))
    assert len(got) == 5 * 6
    lists = similarity.ivfpq_probe_lists(queries, cents.collect(), nprobe)
    ref = _window_lists(cents, queries, nprobe).select("query_id", "centroid_id")
    assert rows(lists) == rows(ref)
    assert len(rows(lists)) == 5 * min(nprobe, cents.count())
    if nprobe >= cents.count():
        # every list probed: the exact top-k over the whole assignment
        from pyspark.sql import Window

        from quasar_destination_h2_spark.operators import similarity

        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), "neighbor_id"
        )
        exact = (
            assigned.crossJoin(queries)
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                "centroid_id",
                F.round(
                    similarity.cosine(F.col("qv"), F.col("embedding")), 6
                ).alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where("rank <= 6")
        )
        assert got == rows(exact)


def test_ann_probe_tied_centroids_pick_lower_id(spark):
    """Centroids 3 and 5 are the same vector, so every query scores
    them equally: nprobe=1 probes list 3 only, nprobe=2 both — the
    window reference's lower-id tie order, in ann_search and in
    ivfpq_probe_lists alike."""
    from quasar_destination_h2_spark.operators import similarity

    cents = spark.createDataFrame(
        [(5, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0])],
        "centroid_id bigint, cvec array<double>",
    )
    assigned = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0], [3, 5, 9][i % 3]) for i in range(12)],
        "vec_id bigint, embedding array<double>, centroid_id bigint",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.2, 0.0]), (1, [0.9, 0.0, 0.1])], "query_id int, qv array<double>"
    )
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    for nprobe, lists in ((1, {3}), (2, {3, 5})):
        got = similarity.ann_search(assigned, cents, queries, k=10, nprobe=nprobe)
        ref = _window_ann_reference(assigned, cents, queries, 10, nprobe)
        assert rows(got) == rows(ref)
        assert {r.centroid_id for r in got.collect()} == lists
        picked = similarity.ivfpq_probe_lists(queries, cents, nprobe)
        want = _window_lists(cents, queries, nprobe).select("query_id", "centroid_id")
        assert rows(picked) == rows(want)
        assert {r.centroid_id for r in picked.collect()} == lists


def test_ann_probe_job_budget(engine, spark, probe_index):
    """A steady-state probe (verify memo warm) runs at most 3 Spark
    jobs — the probe-frame broadcast, the list-join stage and the
    per-query top-k stage; the centroids come from the manifest."""
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    engine.ann_topk("annp", _probe_queries(spark), k=6, nprobe=3).collect()
    queries = _probe_queries(spark)
    start = sched.nextJobId()
    engine.ann_topk("annp", queries, k=6, nprobe=3).collect()
    assert sched.nextJobId() - start <= 3


@pytest.fixture(scope="module")
def compressed_indexes(engine, spark):
    """One small, untrained (seed-quantizer) build of each compressed
    family for the job-budget pins below."""
    base = _clustered(spark, per=10)
    untrained = dict(n_list=8, kmeans_iters=0)
    engine.build_pq_index("budpq", base, kmeans_iters=0, n_buckets=4)
    engine.build_ivfpq_index("budipq", base, pq_iters=0, **untrained)
    engine.build_ivfbq_index("budibq", base, **untrained)
    engine.build_cascade_index("budcas", base, pq_iters=0, **untrained)


@pytest.mark.parametrize(
    "search, name, budget",
    [
        ("pq_search", "budpq", 6),
        ("ivfpq_search", "budipq", 9),
        ("ivfbq_search", "budibq", 9),
        ("cascade_search", "budcas", 14),
    ],
)
def test_compressed_probe_job_budget(
    engine, spark, compressed_indexes, search, name, budget
):
    """A steady-state compressed-family probe (verify memo warm)
    stays within its Spark job budget: the probe's own stages only —
    the quantizers come from the manifest and the member
    verification is not repeated."""
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    probe = getattr(engine, search)
    probe(name, _probe_queries(spark), topk=5).collect()
    queries = _probe_queries(spark)
    start = sched.nextJobId()
    probe(name, queries, topk=5).collect()
    assert sched.nextJobId() - start <= budget


@pytest.mark.parametrize(
    "append, name, budget",
    [
        ("append_to_ivfpq_index", "budipq", 7),
        ("append_to_ivfbq_index", "budibq", 6),
        ("append_to_cascade_index", "budcas", 7),
    ],
)
def test_compressed_append_job_budget(
    engine, spark, compressed_indexes, append, name, budget
):
    """An append plans its assign/encode from the manifest's
    quantizers: no Spark job reads index state."""
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    batch = _clustered(spark, per=2, start=50_000)
    start = sched.nextJobId()
    getattr(engine, append)(name, batch).collect()
    assert sched.nextJobId() - start <= budget


#: (build kwargs, search method) of the ANN families the manifest
#: tests below build small and untrained
_ANN = {
    "ivf": (dict(n_list=8, kmeans_iters=0, n_buckets=4), "ann_topk"),
    "ivfpq": (dict(n_list=8, kmeans_iters=0, pq_iters=0), "ivfpq_search"),
    "cascade": (dict(n_list=8, kmeans_iters=0, pq_iters=0), "cascade_search"),
}


@pytest.mark.parametrize("family", sorted(_ANN))
def test_failed_manifest_commit_refuses_until_rebuild(
    engine, spark, monkeypatch, family
):
    """An append whose manifest write fails leaves rows the manifest
    never committed: the index then refuses to serve AND to append
    (the member count sits above the committed one), and a rebuild
    repairs it. No bounded state table exists at any point."""
    name = f"mfail_{family}"
    kwargs, search = _ANN[family]
    build = getattr(engine, f"build_{family}_index")
    append = getattr(engine, f"append_to_{family}_index")
    probe = getattr(engine, search)
    build(name, _clustered(spark, per=10), **kwargs)
    append_kw = {"n_buckets": 4} if family == "ivf" else {}
    append(name, _clustered(spark, per=2, start=60_000), **append_kw).collect()
    served = sorted(map(tuple, probe(name, _probe_queries(spark)).collect()))
    assert served
    for state in ("centroids", "codebook", "stats"):
        assert f"{name}_{state}" not in engine.sink.catalog

    def boom(*_):
        raise OSError("manifest write failed")

    with monkeypatch.context() as mp:
        mp.setattr(engine, "_commit", boom)
        with pytest.raises(OSError, match="manifest write failed"):
            append(name, _clustered(spark, per=2, start=70_000), **append_kw)
    with pytest.raises(ValueError, match="is torn.*re-run build_"):
        probe(name, _probe_queries(spark))
    with pytest.raises(ValueError, match="is torn.*re-run build_"):
        append(name, _clustered(spark, per=2, start=80_000), **append_kw)
    build(name, _clustered(spark, per=10), **kwargs)
    append(name, _clustered(spark, per=2, start=60_000), **append_kw).collect()
    assert sorted(map(tuple, probe(name, _probe_queries(spark)).collect())) == served


def test_index_without_manifest_refuses(engine, spark):
    """An index without a manifest (its file removed, or stored
    before manifests existed) is refused by search and append alike,
    with the rebuild hint; so is a manifest of another family."""
    import os

    batch = _clustered(spark, per=2, start=90_000)
    engine.build_ivf_index(
        "nomani", _clustered(spark, per=10), n_list=8, kmeans_iters=0, n_buckets=4
    )
    engine.ann_topk("nomani", _probe_queries(spark)).collect()
    with pytest.raises(ValueError, match="re-run build_ivfpq_index"):
        engine.ivfpq_search("nomani", _probe_queries(spark))
    os.remove(engine._index_store("nomani").path)
    with pytest.raises(ValueError, match="no committed manifest.*build_ivf_index"):
        engine.ann_topk("nomani", _probe_queries(spark))
    with pytest.raises(ValueError, match="no committed manifest.*build_ivf_index"):
        engine.append_to_ivf_index("nomani", batch, n_buckets=4)


def _clustered(spark, K=8, per=40, dim=64, start=0, shift=0.0):
    """Deterministic clustered corpus (the test_ext_operators shape):
    K axis-aligned blocks + integer jitter; ``shift`` leans every
    vector toward a direction OUTSIDE the block structure (the
    distribution-shift knob for the drift instrument)."""
    rows = []
    for j in range(K * per):
        i = start + j
        c = j % K
        v = [shift] * dim
        for d in range(c * (dim // K), (c + 1) * (dim // K)):
            v[d] += 1.0
        for d in range(dim):
            v[d] += ((i * 31 + d * 7) % 13 - 6) / 12.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_index_append_lifecycle(engine, spark):
    """Incremental index append (r9 VERDICT task 4): the appended
    batch is assigned against the STORED centroids only (no corpus
    rescan, no retrain), probes over (build + append) return the
    same neighbors as a rebuild over the union for an unshifted
    batch, and the drift instrument moves on a shifted one."""
    from quasar_destination_h2_spark.operators import similarity

    base = _clustered(spark, start=0)
    batch = _clustered(spark, start=10_000)  # same distribution
    engine.build_ivf_index("apx", base, n_list=8, kmeans_iters=2)
    report = engine.append_to_ivf_index("apx", batch).collect()[0]
    assert report.appended_rows == 320
    # unshifted batch: near-zero drift against the build baseline
    assert abs(report.drift_micro) < 30_000, report
    # single build id survives the append (the torn-build invariant)
    ids = engine.table("apx_assigned").select("build_id").distinct().collect()
    assert len(ids) == 1
    # appended rows == what assigning the batch against the stored
    # centroids yields (exact mechanical equivalence, no rows lost)
    cents = _stored(engine, "apx")
    stored = engine.table("apx_assigned").where("vec_id >= 10000")
    direct = similarity._assign_scored(
        batch, cents.select("centroid_id", "cvec")
    )
    assert sorted(
        (r.vec_id, r.centroid_id, r.sim_micro) for r in stored.collect()
    ) == sorted(
        (r.vec_id, r.centroid_id, r.sim_micro) for r in direct.collect()
    )
    # probe parity with a REBUILD over the union: same neighbors at
    # the same ranks (cos_sim is centroid-independent; the clustered
    # corpus keeps the refined cells identical in structure)
    queries = base.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 0.5 + 0.01, 6)
        ).alias("qv"),
    )
    got = engine.ann_topk("apx", queries, k=3, nprobe=2)
    engine.build_ivf_index(
        "apx_rebuilt", base.unionAll(batch), n_list=8, kmeans_iters=2
    )
    rebuilt = engine.ann_topk("apx_rebuilt", queries, k=3, nprobe=2)
    triples = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in df.collect()
    )
    assert triples(got) == triples(rebuilt)
    # shifted batch: the drift metric moves — the rebuild trigger
    shifted = _clustered(spark, start=20_000, shift=3.0)
    drift2 = engine.append_to_ivf_index("apx", shifted).collect()[0]
    assert drift2.drift_micro > report.drift_micro + 50_000, (
        report.drift_micro,
        drift2.drift_micro,
    )


def test_pq_index_lifecycle(engine, spark):
    """Build-once / probe-many for the PQ index: build_pq_index
    stores codebook + vec_id-bucketed codes and vectors; pq_search
    probes the STORED tables (the only embeddings scan is the query
    input), the raw-ADC score aggregation runs shuffle-free on the
    bucketed codes (fewer exchanges than the same probe over an
    unbucketed copy), results match the operator composition, and a
    torn build refuses to serve."""
    import re as _re

    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_pq_index("pqix", emb)
    queries = (
        emb.where("vec_id < 3")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    got = engine.pq_search("pqix", queries, topk=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows1 = sorted(map(tuple, got.collect()))
    assert len(rows1) == 15
    assert "pqix_codes" in plan and "pqix_vectors" in plan
    # the probe reads ONLY the stored index tables + the query input
    # (checkpointed here, so any embeddings scan would be a leak)
    n_emb_scans = len(
        _re.findall(r"FileScan parquet [^\n]*embeddings\.parquet", plan)
    )
    assert n_emb_scans == 0, plan
    # probe-many: identical answers on a second probe (memoized
    # torn-check: the second probe skips the heavy distinct scans)
    assert rows1 == sorted(
        map(tuple, engine.pq_search("pqix", queries, topk=5).collect())
    )
    # parity with the operator composition (training is deterministic)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(queries, cb, id_col="query_id", vec_col="qv")
    direct = sorted(
        map(
            tuple,
            similarity.ann_pq_rerank(emb, codes, lut, 5, queries=queries).collect(),
        )
    )
    assert direct == rows1
    # the vec_id bucketing earns its keep: the raw-ADC aggregation
    # over the STORED codes carries fewer hash exchanges than the
    # same probe over an unbucketed copy
    bx = (
        engine.pq_search("pqix", queries, topk=5, rerank=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("Exchange hashpartitioning")
    )
    ux = (
        similarity.ann_pq_topk(codes.localCheckpoint(), lut, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("Exchange hashpartitioning")
    )
    assert bx < ux, (bx, ux)
    # torn build: a codes table from a different build refuses to serve
    engine.materialize_bucketed(
        "pqix_codes",
        engine.table("pqix_codes")
        .withColumn("build_id", F.lit("deadbeef"))
        .localCheckpoint(),  # break lineage: can't overwrite a read target
        ["vec_id"],
    )
    engine._verified.pop("pqix", None)
    with pytest.raises(ValueError, match="torn"):
        engine.pq_search("pqix", queries, topk=5)


def test_ivfpq_index_lifecycle(engine, spark):
    """Build-once / probe-many for the composed IVF+PQ index:
    build_ivfpq_index stores vectors + codes directory-PARTITIONED
    by centroid_id; ivfpq_search's broadcast probe-list join
    dynamically prunes BOTH partitioned scans to the probed lists
    (the IVF I/O contract — nprobe/n_list of the files, not a corpus
    scan), reads no raw embeddings, matches the operator
    composition, and refuses to serve a torn build."""
    import re as _re

    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_ivfpq_index("ipqix", emb)
    queries = (
        emb.where("vec_id < 3")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    got = engine.ivfpq_search("ipqix", queries, topk=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows1 = sorted(map(tuple, got.collect()))
    assert len(rows1) == 15
    # dynamic partition pruning on BOTH partitioned index scans: the
    # probe's file reads are restricted to the nprobe lists per query
    for tbl in ("ipqix_codes", "ipqix_vectors"):
        scans = [ln for ln in plan.splitlines() if f"{tbl}" in ln and "FileScan" in ln]
        assert scans, plan
        assert all("dynamicpruningexpression" in ln for ln in scans), (
            tbl,
            scans,
        )
    # the probe reads ONLY the stored index tables + the query input
    assert (
        len(_re.findall(r"FileScan parquet [^\n]*embeddings\.parquet", plan))
        == 0
    ), plan
    # probe-many: identical answers on a second probe (memoized
    # torn-check skips the heavy distinct scans)
    assert rows1 == sorted(
        map(tuple, engine.ivfpq_search("ipqix", queries, topk=5).collect())
    )
    # parity with the operator composition (both trainings are
    # deterministic)
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    probes = similarity.ivfpq_probe_lists(queries, cents, 2)
    lut = similarity.pq_query_lut(queries, cb, id_col="query_id", vec_col="qv")
    short = similarity.ann_ivfpq_topk(
        codes, lut, probes, similarity.PQ_SHORTLIST
    )
    direct = sorted(
        map(tuple, similarity.ann_ivfpq_rerank(emb, short, queries, 5).collect())
    )
    assert direct == rows1
    # torn build: a codes table from a different build refuses to serve
    engine.materialize_partitioned(
        "ipqix_codes",
        engine.table("ipqix_codes")
        .withColumn("build_id", F.lit("deadbeef"))
        .localCheckpoint(),
        ["centroid_id"],
    )
    engine._verified.pop("ipqix", None)
    with pytest.raises(ValueError, match="torn"):
        engine.ivfpq_search("ipqix", queries, topk=5)


def test_ivfpq_index_append(engine, spark):
    """Incremental append to the composed index: the batch is
    assigned/encoded against the STORED quantizers only (frozen —
    appended codes equal an operator encode against the stored
    centroids+codebooks exactly), probes over (build + append) equal
    the operator composition over the union with the same quantizers,
    and the drift metric moves on a distribution-shifted batch."""
    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    base, batch = emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    engine.build_ivfpq_index("ipqap", base)
    report = engine.append_to_ivfpq_index("ipqap", batch).collect()[0]
    assert report.appended_rows == batch.count()
    assert (
        report.drift_micro
        == report.build_mean_sim_micro - report.batch_mean_sim_micro
    )
    # appended codes == operator encode against the stored quantizers
    cents = _stored(engine, "ipqap")
    cb = _stored(engine, "ipqap", "codebook")
    stored = sorted(
        (r.vec_id, r.centroid_id, r.m, r.code)
        for r in engine.table("ipqap_codes").where("vec_id % 2 = 1").collect()
    )
    direct = sorted(
        (r.vec_id, r.centroid_id, r.m, r.code)
        for r in similarity.ivfpq_encode(batch, cents, cb).collect()
    )
    assert stored == direct
    # probe over (build + append) == operator composition over the
    # union against the SAME stored quantizers
    queries = (
        emb.where("vec_id < 3")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    got = sorted(
        map(tuple, engine.ivfpq_search("ipqap", queries, topk=5).collect())
    )
    codes_u = similarity.ivfpq_encode(emb, cents, cb)
    probes = similarity.ivfpq_probe_lists(queries, cents, 2)
    lut = similarity.pq_query_lut(queries, cb, id_col="query_id", vec_col="qv")
    short = similarity.ann_ivfpq_topk(
        codes_u, lut, probes, similarity.PQ_SHORTLIST
    )
    want = sorted(
        map(tuple, similarity.ann_ivfpq_rerank(emb, short, queries, 5).collect())
    )
    assert got == want
    # shifted batch: the drift metric moves — the rebuild trigger.
    # An all-ones batch is maximally out-of-distribution for the
    # zero-mean corpus (near-zero cosine to every centroid), so its
    # mean assigned similarity collapses and drift jumps toward the
    # build mean.
    shifted = batch.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: F.lit(1.0)).alias("embedding"),
    )
    report2 = engine.append_to_ivfpq_index("ipqap", shifted).collect()[0]
    assert report2.drift_micro > report.drift_micro + 50_000, (
        report.drift_micro,
        report2.drift_micro,
    )


def test_ivfpq_search_detects_half_appended_index(engine, spark):
    """The m-codes-per-vector count identity: vectors appended
    without their codes (a failure between append_to_ivfpq_index's
    two writes — same build id on both tables, invisible to the id
    check) refuse to serve instead of silently dropping the batch
    from ADC scoring."""
    from quasar_destination_h2_spark.idents import storage_safe_name

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_ivfpq_index("ipqtear", emb.where("vec_id % 2 = 0"))
    # simulate the torn append: vectors land, codes never do
    stored = engine.table("ipqtear_vectors")
    bid = stored.select("build_id").first().build_id
    extra = (
        emb.where("vec_id % 2 = 1")
        .limit(7)
        .select(
            F.col("vec_id") + 1_000_000,
            F.col("embedding"),
            F.lit(0).cast("bigint").alias("sim_micro"),
            F.lit(bid).alias("build_id"),
            F.lit(3).cast("bigint").alias("centroid_id"),
        )
        .toDF("vec_id", "embedding", "sim_micro", "build_id", "centroid_id")
    )
    (
        extra.write.mode("append")
        .format("parquet")
        .partitionBy("centroid_id")
        .saveAsTable(storage_safe_name("ipqtear_vectors"))
    )
    engine._verified.pop("ipqtear", None)
    queries = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    with pytest.raises(ValueError, match="torn: ipqtear_vectors holds"):
        engine.ivfpq_search("ipqtear", queries, topk=3)


def test_search_self_exclusion_is_explicit(engine, spark):
    """r10 advisor: the top-k probes drop candidates whose vec_id
    equals the query id — right for corpus-drawn queries, wrong when
    an EXTERNAL query id happens to collide with a corpus id. The
    exclusion is now a flag: exclude_query_ids=False serves the
    colliding corpus vector (it's the exact query vector here, so it
    must rank first); the default keeps the corpus-drawn contract."""
    emb = load_table(spark, SF_DIR, "embeddings").where("vec_id < 64")
    engine.build_pq_index("pqxs", emb)
    # external query whose id COLLIDES with corpus vec_id 5 and whose
    # vector IS vector 5 — exact self-similarity 1.0
    queries = (
        emb.where("vec_id = 5")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    dropped = engine.pq_search("pqxs", queries, topk=5)
    assert 5 not in [r.vec_id for r in dropped.collect()]
    served = engine.pq_search(
        "pqxs", queries, topk=5, exclude_query_ids=False
    ).collect()
    assert [r.vec_id for r in served if r.rank == 1] == [5]
    engine.build_ivfpq_index("ipqxs", emb)
    dropped = engine.ivfpq_search("ipqxs", queries, topk=5)
    assert 5 not in [r.vec_id for r in dropped.collect()]
    served = engine.ivfpq_search(
        "ipqxs", queries, topk=5, exclude_query_ids=False
    ).collect()
    assert [r.vec_id for r in served if r.rank == 1] == [5]


def test_ivfbq_index_lifecycle(engine, spark):
    """Build-once / probe-many for the composed IVF+BQ index (r10
    verdict task 1 — the partition-pruned form of the flat Hamming
    scan): build_ivfbq_index stores vectors + packed sign codes
    directory-PARTITIONED by centroid_id; ivfbq_search's broadcast
    probe-list join dynamically prunes BOTH partitioned scans to the
    probed lists, reads no raw embeddings, matches the operator
    composition, and refuses to serve a torn build."""
    import re as _re

    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_ivfbq_index("ibqix", emb)
    queries = (
        emb.where("vec_id < 3")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    got = engine.ivfbq_search("ibqix", queries, topk=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows1 = sorted(map(tuple, got.collect()))
    assert len(rows1) == 15
    # dynamic partition pruning on BOTH partitioned index scans
    for tbl in ("ibqix_codes", "ibqix_vectors"):
        scans = [
            ln for ln in plan.splitlines() if tbl in ln and "FileScan" in ln
        ]
        assert scans, plan
        assert all("dynamicpruningexpression" in ln for ln in scans), (
            tbl,
            scans,
        )
    # the probe reads ONLY the stored index tables + the query input
    assert (
        len(_re.findall(r"FileScan parquet [^\n]*embeddings\.parquet", plan))
        == 0
    ), plan
    # probe-many: identical answers on a second probe (memoized
    # torn-check skips the heavy distinct scans)
    assert rows1 == sorted(
        map(tuple, engine.ivfbq_search("ibqix", queries, topk=5).collect())
    )
    # parity with the operator composition (training is deterministic)
    cents = similarity.kmeans_refine(emb)
    codes = similarity.ivfbq_encode(emb, cents)
    probes = similarity.ivfpq_probe_lists(queries, cents, 2)
    qc = similarity.bq_query_codes(queries)
    short = similarity.ann_ivfbq_topk(
        codes, qc, probes, similarity.PQ_SHORTLIST
    )
    direct = sorted(
        map(tuple, similarity.ann_ivfpq_rerank(emb, short, queries, 5).collect())
    )
    assert direct == rows1
    # torn build: a codes table from a different build refuses to serve
    engine.materialize_partitioned(
        "ibqix_codes",
        engine.table("ibqix_codes")
        .withColumn("build_id", F.lit("deadbeef"))
        .localCheckpoint(),
        ["centroid_id"],
    )
    engine._verified.pop("ibqix", None)
    with pytest.raises(ValueError, match="torn"):
        engine.ivfbq_search("ibqix", queries, topk=5)


def test_ivfbq_index_append_and_tear(engine, spark):
    """Incremental IVF+BQ append: the batch is assigned against the
    STORED centroids and sign-packed in one batch pass; appended
    codes equal what a same-centroid rebuild would store (the sign
    quantizer is parameterless); a half-appended index (vectors
    landed, codes did not) is refused by the 1-code-per-vector count
    identity even though every build id agrees."""
    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_ivfbq_index("ibqap", emb.where("vec_id % 2 = 0"))
    rep = engine.append_to_ivfbq_index(
        "ibqap", emb.where("vec_id % 2 = 1")
    ).collect()[0]
    assert rep.appended_rows == emb.where("vec_id % 2 = 1").count()
    assert (
        rep.drift_micro
        == rep.build_mean_sim_micro - rep.batch_mean_sim_micro
    )
    # append ≡ rebuild against the SAME centroids: the appended codes
    # match a fresh encode of the odd half against the stored quantizer
    from quasar_destination_h2_spark.operators import similarity

    cents = _stored(engine, "ibqap")
    expect = sorted(
        map(
            tuple,
            similarity.ivfbq_encode(
                emb.where("vec_id % 2 = 1"), cents
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            engine.table("ibqap_codes")
            .where("vec_id % 2 = 1")
            .select("vec_id", "centroid_id", "sig_lo", "sig_hi")
            .collect(),
        )
    )
    assert got == expect
    queries = (
        emb.where("vec_id < 2")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    assert engine.ivfbq_search("ibqap", queries, topk=3).count() == 6
    # tear: append vectors WITHOUT codes under the same build id
    from quasar_destination_h2_spark.idents import storage_safe_name

    (
        engine.table("ibqap_vectors")
        .where("vec_id < 4")
        .withColumn("vec_id", F.col("vec_id") + 900000)
        .write.mode("append")
        .format("parquet")
        .partitionBy("centroid_id")
        .saveAsTable(storage_safe_name("ibqap_vectors"))
    )
    engine._verified.pop("ibqap", None)
    with pytest.raises(ValueError, match="torn: ibqap_vectors holds"):
        engine.ivfbq_search("ibqap", queries, topk=3)


def test_cascade_index_lifecycle(engine, spark):
    """Build-once / probe-many for the CASCADE index (r11 verdict
    task 3 — the steady-state serving split of the retrieval
    funnel): build_cascade_index stores sign codes, PQ codes and
    vectors all directory-PARTITIONED by centroid_id under one build
    id; cascade_search's broadcast joins dynamically prune ALL THREE
    partitioned scans to the probed lists (the partitioned PQ codes
    close the r11 funnel's one unpruned read), no raw-embedding scan
    appears in the probe plan, the answer matches the per-run
    operator composition, and a torn build refuses to serve."""
    import re as _re

    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_cascade_index("cascix", emb)
    queries = (
        emb.where("vec_id < 3")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    got = engine.cascade_search(
        "cascix", queries, topk=5, nprobe=2, hamming_cut=200, pq_narrow=50
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    rows1 = sorted(map(tuple, got.collect()))
    assert len(rows1) == 15
    # dynamic partition pruning on ALL THREE partitioned index scans
    for tbl in ("cascix_codes", "cascix_codes_pq", "cascix_vectors"):
        scans = [
            ln
            for ln in plan.splitlines()
            if f"{tbl}]" in ln or (tbl in ln and "FileScan" in ln)
        ]
        scans = [ln for ln in scans if "FileScan" in ln]
        assert scans, (tbl, plan)
        assert all("dynamicpruningexpression" in ln for ln in scans), (
            tbl,
            scans,
        )
    # the probe reads ONLY the stored index tables + the query input
    assert (
        len(_re.findall(r"FileScan parquet [^\n]*embeddings\.parquet", plan))
        == 0
    ), plan
    # probe-many: identical answers, memoized torn-check
    assert rows1 == sorted(
        map(
            tuple,
            engine.cascade_search(
                "cascix", queries, topk=5, hamming_cut=200, pq_narrow=50
            ).collect(),
        )
    )
    # parity with the per-run operator composition (deterministic
    # training; the registered ann_cascade_search shape)
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes_bq = similarity.ivfbq_encode(emb, cents)
    codes_pq = similarity.pq_encode(emb, cb)
    probes = similarity.ivfpq_probe_lists(queries, cents, 2)
    qc = similarity.bq_query_codes(queries)
    stage1 = similarity.ann_ivfbq_topk(codes_bq, qc, probes, 200)
    lut = similarity.pq_query_lut(queries, cb, id_col="query_id", vec_col="qv")
    stage2 = similarity.ann_cascade_pq_narrow(stage1, codes_pq, lut, 50)
    direct = sorted(
        map(
            tuple,
            similarity.ann_flat_rerank(emb, stage2, queries, 5).collect(),
        )
    )
    assert direct == rows1
    # torn build: a PQ codes table from a different build refuses
    engine.materialize_partitioned(
        "cascix_codes_pq",
        engine.table("cascix_codes_pq")
        .withColumn("build_id", F.lit("deadbeef"))
        .localCheckpoint(),
        ["centroid_id"],
    )
    engine._verified.pop("cascix", None)
    with pytest.raises(ValueError, match="torn"):
        engine.cascade_search("cascix", queries, topk=5)


def test_cascade_index_append_and_tear(engine, spark):
    """Incremental cascade append (r12): the batch is assigned
    against the STORED centroids, sign-packed and PQ-encoded against
    the STORED codebook in bounded batch passes; appended codes in
    BOTH tiers equal a frozen-quantizer re-encode; a half-appended
    index (vectors landed, PQ codes did not) is refused by the
    M-codes-per-vector count identity even though every build id
    agrees."""
    from quasar_destination_h2_spark.idents import storage_safe_name
    from quasar_destination_h2_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    engine.build_cascade_index("cscap", emb.where("vec_id % 2 = 0"))
    rep = engine.append_to_cascade_index(
        "cscap", emb.where("vec_id % 2 = 1")
    ).collect()[0]
    n_odd = emb.where("vec_id % 2 = 1").count()
    assert rep.appended_rows == n_odd
    assert (
        rep.drift_micro
        == rep.build_mean_sim_micro - rep.batch_mean_sim_micro
    )
    # appended PQ codes ≡ frozen-codebook re-encode of the odd half
    cb = _stored(engine, "cscap", "codebook")
    expect_pq = sorted(
        map(
            tuple,
            similarity.pq_encode(emb.where("vec_id % 2 = 1"), cb).collect(),
        )
    )
    got_pq = sorted(
        map(
            tuple,
            engine.table("cscap_codes_pq")
            .where("vec_id % 2 = 1")
            .select("vec_id", "m", "code")
            .collect(),
        )
    )
    assert got_pq == expect_pq
    # the appended index serves (memoized after the verify pass)
    queries = (
        emb.where("vec_id < 2")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    assert engine.cascade_search("cscap", queries, topk=3).count() == 6
    # tear: append vectors + sign codes WITHOUT PQ codes under the
    # same build id — caught by the M-codes-per-vector identity
    bid = engine._read_manifest("cscap")["build_id"]
    extra = (
        engine.table("cscap_vectors")
        .where("vec_id < 4")
        .withColumn("vec_id", F.col("vec_id") + 900000)
        .localCheckpoint()
    )
    extra.write.mode("append").format("parquet").partitionBy(
        "centroid_id"
    ).saveAsTable(storage_safe_name("cscap_vectors"))
    engine.spark.catalog.refreshTable(storage_safe_name("cscap_vectors"))
    (
        similarity.ivfbq_encode(extra, None, assigned=extra)
        .select(
            "vec_id",
            "sig_lo",
            "sig_hi",
            F.lit(bid).alias("build_id"),
            "centroid_id",
        )
        .write.mode("append")
        .format("parquet")
        .partitionBy("centroid_id")
        .saveAsTable(storage_safe_name("cscap_codes"))
    )
    engine.spark.catalog.refreshTable(storage_safe_name("cscap_codes"))
    engine._verified.pop("cscap", None)
    with pytest.raises(ValueError, match="torn: cscap_vectors holds"):
        engine.cascade_search("cscap", queries, topk=3)


def test_graph_index_lifecycle(engine, spark):
    """Build-once / rank-many (r16 verdict task 5): build_graph_index
    stores the deduped edges BUCKETED by src plus node-sized
    degree/node side tables; pagerank_served runs the SHARED
    pagerank_rounds loop over them — bit-identical to the in-run
    operator — and the per-round contrib join reads co-located edge
    buckets (strictly fewer hash exchanges than an unbucketed edge
    copy)."""
    from quasar_destination_h2_spark.operators.iterate import pagerank

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
    )
    engine.build_graph_index("gix", edges, n_buckets=8)
    served = sorted(map(tuple, engine.pagerank_served("gix").collect()))
    inrun = sorted(map(tuple, pagerank(edges).collect()))
    assert served == inrun and len(served) == 10
    # serve-many: the second call (memoized verification) is identical
    assert sorted(
        map(tuple, engine.pagerank_served("gix").collect())
    ) == served
    # the bucketed store earns its keep: one contrib round over the
    # stored frames vs the same round over an UNBUCKETED edge copy
    with no_auto_broadcast(spark):
        deg = engine.table("gix_degrees").select("src", "deg")
        ranks0 = engine.table("gix_nodes").select(
            "node", F.lit(1000).cast("bigint").alias("rank_ppb")
        )

        def contrib_exchanges(edge_frame):
            plan = (
                edge_frame.select("src", "dst")
                .join(deg, "src")
                .join(ranks0.withColumnRenamed("node", "src"), "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank_ppb DIV deg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("contrib"))
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            return plan.count("Exchange hashpartitioning")

        bx = contrib_exchanges(engine.table("gix_edges"))
        ux = contrib_exchanges(
            engine.table("gix_edges").localCheckpoint()
        )
        assert bx < ux, (bx, ux)


def test_graph_index_append_and_tear(engine, spark):
    """append_to_graph_index ≡ rebuild-on-union: appending the other
    half of the edge set reproduces the full build's served ranks; an
    all-duplicate re-append changes nothing and reports zero fresh
    mass; a degrees table from a foreign build id makes serving
    refuse (torn-build discipline)."""
    from quasar_destination_h2_spark.operators.iterate import pagerank

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
    )
    full = sorted(map(tuple, pagerank(edges).collect()))
    engine.build_graph_index(
        "gix2", edges.where("src % 2 = 0"), n_buckets=8
    )
    rep = engine.append_to_graph_index(
        "gix2", edges.where("src % 2 = 1"), n_buckets=8
    ).collect()[0]
    assert rep.appended_edges > 0 and rep.duplicate_edges == 0
    assert rep.new_nodes > 0
    got = sorted(map(tuple, engine.pagerank_served("gix2").collect()))
    assert got == full
    # all-duplicate re-append: nothing changes, the report says so
    rep2 = engine.append_to_graph_index(
        "gix2", edges.where("src % 2 = 0"), n_buckets=8
    ).collect()[0]
    assert rep2.appended_edges == 0 and rep2.duplicate_edges > 0
    assert rep2.new_nodes == 0
    assert sorted(
        map(tuple, engine.pagerank_served("gix2").collect())
    ) == full
    # torn APPEND: edge rows from a FUTURE revision (a crash after
    # the edge append, before the degrees rewrite — the build id
    # alone cannot see this, appends keep it) refuse to serve; the
    # memo is popped the way a real crashed append pops it before
    # its first write
    from quasar_destination_h2_spark.idents import storage_safe_name

    deg_state = engine.table("gix2_degrees").select(
        "build_id", "revision"
    ).first()
    engine._verified.pop("gix2", None)
    (
        spark.createDataFrame([(999999, 999998)], "src long, dst long")
        .withColumn("build_id", F.lit(deg_state.build_id))
        .withColumn(
            "revision",
            F.lit(int(deg_state.revision) + 1).cast("bigint"),
        )
        .write.mode("append")
        .format("parquet")
        .bucketBy(8, "src")
        .sortBy("src")
        .saveAsTable(storage_safe_name("gix2_edges"))
    )
    with pytest.raises(ValueError, match="torn"):
        engine.pagerank_served("gix2")
    # torn build: degrees under a foreign id refuse to serve
    deg2 = (
        engine.table("gix2_degrees")
        .withColumn("build_id", F.lit("zzzzzz"))
        .localCheckpoint()
    )
    engine.drop_table_if_exists("gix2_degrees")
    engine.create_table_as("gix2_degrees", deg2)
    with pytest.raises(ValueError, match="torn"):
        engine.pagerank_served("gix2")
