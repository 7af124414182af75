"""The BM25 text-index serving lifecycle (engine.build_text_index /
append_to_text_index / text_search) — the lexical sibling of the ANN
index lifecycle:

- probe parity: text_search over a built index returns EXACTLY what
  the one-shot bm25_search_many computes over the same corpus;
- exact appends: (build + append) serves bit-identical scores to a
  rebuild on the union — BM25 state is additive (postings union,
  stats sums), unlike the ANN index's frozen centroids;
- co-location: the probe's literal term prune and df window over the
  tok-bucketed postings run WITHOUT a hash-partitioning exchange on
  the index side, and bucket pruning reads exactly the query terms'
  buckets;
- the driver-held plan (text.bm25_probe_held) equals the reference
  bm25_search_many on awkward batches, the over-cap batch falls back
  to the semi-join plan, and a steady-state probe stays within its
  Spark job budget;
- torn-state detection: postings revision ahead of the stats row
  (an append whose stats rewrite failed) refuses to serve;
- the vocabulary-drift report: new_term_ppm is 0 for a same-vocab
  batch and grows for a shifted batch.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from quasar_destination_h2_spark.engine import Engine
from quasar_destination_h2_spark.operators import text


@pytest.fixture(scope="module")
def engine(spark, warehouse_dir):
    return Engine.from_config(
        json.dumps({"connectionUri": warehouse_dir}), spark=spark
    )


@contextmanager
def no_auto_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


DOCS_A = [
    (1, "spark query engine runs the query plan"),
    (2, "window functions rank rows inside a window"),
    (3, "the data join shuffles data on the join key"),
    (4, "streaming state lives in the state store"),
    (5, "query optimizer pushes filters to the scan"),
]
DOCS_B = [
    (6, "broadcast the small side of the join"),
    (7, "window watermark bounds the streaming state"),
    (8, "spark caches the hot query results"),
]
DOCS_SHIFTED = [
    (9, "voberant klaxophone mirrowed the quantic zylph"),
    (10, "frumious bandersnatch whiffled through tulgey woods"),
]
QUERY_ROWS = [
    (1, "query"), (1, "spark"),
    (2, "join"), (2, "data"),
    (3, "window"), (3, "state"),
]


def nb(spark):
    """Bucket count matching the session's shuffle partitions — the
    planner only keeps the co-located bucketed read when the bucket
    count matches the probe's target partitioning (mismatch ->
    'disabled by query planner' and a full re-shuffle)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def qdf(spark):
    return spark.createDataFrame(QUERY_ROWS, "query_id bigint, term string")


def rows_of(df):
    return sorted(map(tuple, df.collect()))


def test_text_search_matches_one_shot_bm25(engine, spark):
    docs = docs_df(spark, DOCS_A)
    engine.build_text_index("ti_par", docs, n_buckets=nb(spark))
    got = rows_of(engine.text_search("ti_par", qdf(spark), topn=3))
    want = rows_of(text.bm25_search_many(docs, qdf(spark), topn=3))
    assert got == want and got


def test_append_equals_rebuild_on_union(engine, spark):
    engine.build_text_index("ti_inc", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    rep = engine.append_to_text_index(
        "ti_inc", docs_df(spark, DOCS_B), n_buckets=nb(spark)
    ).collect()[0]
    assert rep.appended_docs == len(DOCS_B)
    assert rep.revision == 1
    engine.build_text_index(
        "ti_union", docs_df(spark, DOCS_A + DOCS_B), n_buckets=nb(spark)
    )
    got = rows_of(engine.text_search("ti_inc", qdf(spark), topn=10))
    want = rows_of(engine.text_search("ti_union", qdf(spark), topn=10))
    assert got == want and got
    # stats fold is exact: n_docs and sum_dl equal the union build's,
    # and they live in the manifest, not in a table
    a = engine._read_manifest("ti_inc")["stats"]
    assert a == engine._read_manifest("ti_union")["stats"]
    assert "ti_inc_stats" not in engine.sink.catalog


def test_drift_report_flags_vocabulary_shift(engine, spark):
    engine.build_text_index("ti_drift", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    same = engine.append_to_text_index(
        "ti_drift", docs_df(spark, DOCS_A), n_buckets=nb(spark)
    ).collect()[0]
    assert same.new_terms == 0 and same.new_term_ppm == 0
    shifted = engine.append_to_text_index(
        "ti_drift", docs_df(spark, DOCS_SHIFTED), n_buckets=nb(spark)
    ).collect()[0]
    # the shifted batch's vocabulary is almost entirely novel ("the"
    # is shared) — the rebuild trigger fires high
    assert shifted.new_terms > 0
    assert shifted.new_term_ppm > 500_000
    assert shifted.revision == 2


def test_probe_is_colocated_on_bucketed_postings(engine, spark):
    engine.build_text_index("ti_plan", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    with no_auto_broadcast(spark):
        plan = (
            engine.text_search("ti_plan", qdf(spark), topn=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    # the index side (literal IN prune + df window) must reuse the
    # bucketed layout: bucketed reads active on every postings scan,
    # never planner-disabled, and no Exchange sits between a
    # postings scan and its consuming window. The one exchange is
    # the query_id repartition above the scored postings.
    assert "disabled by query planner" not in plan, plan
    lines = plan.splitlines()
    scan_ix = [
        i
        for i, l in enumerate(lines)
        if "FileScan parquet" in l and "_postings" in l
    ]
    assert len(scan_ix) == 1, plan  # one scan feeds the prune and df
    for i in scan_ix:
        assert "SelectedBucketsCount" in lines[i], lines[i]
        above = "\n".join(lines[max(0, i - 3) : i])
        assert "Exchange hashpartitioning" not in above, plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _selected_buckets(plan: str) -> list[tuple[int, int]]:
    import re

    return [
        (int(m.group(1)), int(m.group(2)))
        for m in re.finditer(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    ]


def test_probe_bucket_prunes_to_query_terms(engine, spark):
    n = nb(spark)
    engine.build_text_index("ti_prune", docs_df(spark, DOCS_A), n_buckets=n)
    plan = (
        engine.text_search("ti_prune", qdf(spark), topn=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the literal IN pushdown must reach the postings scan and
    # bucket-prune the read to exactly the buckets Spark's bucket hash
    # puts the query terms in: probe I/O is sized by the query terms'
    # buckets, never the whole index
    terms = sorted({t for _, t in QUERY_ROWS})
    want = (
        spark.createDataFrame([(t,) for t in terms], "tok string")
        .select(F.expr(f"pmod(hash(tok), {n})").alias("b"))
        .distinct()
        .count()
    )
    counts = _selected_buckets(plan)
    assert counts, plan
    assert counts == [(want, n)] * len(counts), (counts, want)
    assert "In(tok" in plan, plan
    # a one-term probe reads one bucket of n
    one = _plan(
        engine.text_search(
            "ti_prune",
            spark.createDataFrame([(1, "query")], "query_id bigint, term string"),
            topn=3,
        )
    )
    assert _selected_buckets(one) == [(1, n)], one
    # the cap falls back to the pure semi-join plan, same results
    got = rows_of(engine.text_search("ti_prune", qdf(spark), topn=3))
    fallback = rows_of(
        engine.text_search("ti_prune", qdf(spark), topn=3, max_pushdown_terms=0)
    )
    assert got == fallback and got


@pytest.fixture(scope="module")
def edge_docs(engine, spark):
    docs = docs_df(spark, DOCS_A + DOCS_B)
    engine.build_text_index("ti_edge", docs, n_buckets=nb(spark))
    return docs


EDGE_BATCHES = {
    # a duplicate (query_id, term) row counts its term once
    "duplicate_rows": [(1, "query"), (1, "query"), (1, "spark"), (2, "join")],
    # a NULL term matches nothing; its query still scores its others
    "null_term": [(1, None), (1, "window"), (2, None)],
    # a term the index never saw contributes nothing
    "absent_term": [(1, "zyzzyva"), (1, "state"), (2, "zyzzyva")],
    "empty": [],
    "string_query_ids": [("alpha", "query"), ("alpha", "spark"), ("b'q", "join")],
}


@pytest.mark.parametrize("case", sorted(EDGE_BATCHES))
def test_held_probe_matches_bm25_search_many(engine, spark, edge_docs, case):
    qid = "string" if case == "string_query_ids" else "bigint"
    q = spark.createDataFrame(EDGE_BATCHES[case], f"query_id {qid}, term string")
    probe = engine.text_search("ti_edge", q, topn=5)
    # the held plan joins nothing: the batch and the stats are literals
    assert "Join" not in _plan(probe), _plan(probe)
    got = rows_of(probe)
    assert got == rows_of(text.bm25_search_many(edge_docs, q, topn=5))
    assert bool(got) == (case != "empty")


def test_over_cap_batch_runs_semi_join_plan(engine, spark, edge_docs):
    probe = engine.text_search("ti_edge", qdf(spark), topn=5, max_pushdown_terms=1)
    assert "LeftSemi" in _plan(probe), _plan(probe)
    got = rows_of(probe)
    assert got == rows_of(text.bm25_search_many(edge_docs, qdf(spark), topn=5))
    assert got == rows_of(engine.text_search("ti_edge", qdf(spark), topn=5))


def test_text_probe_job_budget(engine, spark, edge_docs):
    """A steady-state probe (verify memo warm) runs at most 3 Spark
    jobs: the batch read, the postings stage and the per-query top-N
    stage; the stats come from the manifest."""
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    engine.text_search("ti_edge", qdf(spark), topn=5).collect()
    start = sched.nextJobId()
    engine.text_search("ti_edge", qdf(spark), topn=5).collect()
    assert sched.nextJobId() - start <= 3


def test_torn_append_refuses_to_serve(engine, spark):
    engine.build_text_index("ti_torn", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    engine.text_search("ti_torn", qdf(spark), topn=3).collect()
    # simulate an append whose manifest commit never landed: postings
    # rows appear at revision 1 while the manifest still says 0
    from quasar_destination_h2_spark.idents import storage_safe_name

    postings, _ = text.build_postings(docs_df(spark, DOCS_B))
    (
        postings.withColumn(
            "build_id",
            F.lit(engine._read_manifest("ti_torn")["build_id"]),
        )
        .withColumn("revision", F.lit(1).cast("bigint"))
        .write.mode("append")
        .format("parquet")
        .bucketBy(nb(spark), "tok")
        .sortBy("tok")
        .saveAsTable(storage_safe_name("ti_torn_postings"))
    )
    engine._verified.pop("ti_torn", None)
    with pytest.raises(ValueError, match="torn"):
        engine.text_search("ti_torn", qdf(spark), topn=3)
    # a fresh build repairs the index
    engine.build_text_index("ti_torn", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    assert engine.text_search("ti_torn", qdf(spark), topn=3).count() > 0


def test_foreign_build_id_refuses_to_serve(engine, spark):
    engine.build_text_index("ti_mix", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    from quasar_destination_h2_spark.idents import storage_safe_name

    postings, _ = text.build_postings(docs_df(spark, DOCS_B))
    (
        postings.withColumn("build_id", F.lit("deadbe"))
        .withColumn("revision", F.lit(0).cast("bigint"))
        .write.mode("append")
        .format("parquet")
        .bucketBy(nb(spark), "tok")
        .sortBy("tok")
        .saveAsTable(storage_safe_name("ti_mix_postings"))
    )
    engine._verified.pop("ti_mix", None)
    with pytest.raises(ValueError, match="torn"):
        engine.text_search("ti_mix", qdf(spark), topn=3)


def test_empty_append_keeps_serving(engine, spark):
    engine.build_text_index("ti_empty", docs_df(spark, DOCS_A), n_buckets=nb(spark))
    rep = engine.append_to_text_index(
        "ti_empty", docs_df(spark, []), n_buckets=nb(spark)
    ).collect()[0]
    assert rep.appended_docs == 0 and rep.new_terms == 0
    got = rows_of(engine.text_search("ti_empty", qdf(spark), topn=3))
    want = rows_of(
        text.bm25_search_many(docs_df(spark, DOCS_A), qdf(spark), topn=3)
    )
    assert got == want
