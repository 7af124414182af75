"""[EXT] operator tests: semantics + plan-shape scale assertions.

The correctness of values is pinned by the DuckDB oracle gate
(tools/oracle_check.py, driver CORRECTNESS); these tests pin the
properties the oracle can't see — plan shapes that must survive
100 TB (no cartesian products in LSH joins, broadcast where claimed,
mapInPandas Arrow batching) and sketch accuracy bounds.
"""

from __future__ import annotations

import pytest

from quasar_destination_h2_spark.operators import (
    dedup,
    multimodal,
    packing,
    similarity,
    text,
)
from quasar_destination_h2_spark.sources.tables import TableSet

from conftest import SF_DIR


@pytest.fixture(scope="module")
def t(spark):
    return TableSet(spark, SF_DIR)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_exact_dedup_is_single_aggregation(t):
    out = dedup.exact_dedup(t.documents)
    rows = out.collect()
    assert len(rows) > 0
    assert {r.doc_id for r in rows} == {
        r.doc_id for r in out.select("doc_id").distinct().collect()
    }
    # one hash aggregate, no join anywhere
    plan = physical_plan(out)
    assert "Join" not in plan


def test_ngram_jaccard_no_cartesian(t):
    pairs = dedup.ngram_jaccard_pairs(t.documents)
    plan = physical_plan(pairs)
    assert "CartesianProduct" not in plan
    got = pairs.collect()
    for r in got:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= dedup.JACCARD_THRESHOLD


def test_minhash_lsh_matches_exact_jaccard(t):
    """LSH candidates verified with exact Jaccard == the inverted-
    index exact pairs (at j >= 0.8 the 4x2 band scheme has ~no false
    negatives on this data; both sets are deterministic)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(t.documents).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(t.documents).collect()}
    assert lsh == exact
    plan = physical_plan(dedup.minhash_lsh_pairs(t.documents))
    assert "CartesianProduct" not in plan


def test_simhash_signature_shape(t):
    sig = dedup.simhash64(t.documents)
    rows = sig.collect()
    assert all(len(r.simhash) == 16 for r in rows)
    assert all(set(r.simhash) <= set("0123456789abcdef") for r in rows)
    # near-dup docs (jaccard ~0.98) must land within small hamming
    pairs = dedup.simhash_pairs(t.documents).collect()
    for r in pairs:
        assert r.hamming <= dedup.HAMMING_MAX


def test_brute_force_topk_is_broadcast(t):
    topk = similarity.brute_force_topk(t.embeddings)
    plan = physical_plan(topk)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = topk.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 5
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)


def test_lsh_ann_bucket_join_no_cartesian(t):
    ann = similarity.lsh_bucketed_topk(t.embeddings)
    plan = physical_plan(ann)
    assert "CartesianProduct" not in plan
    rows = ann.collect()
    assert len(rows) > 0
    # every returned neighbor shares the query's bucket by construction
    assert all(0 <= r.bucket < (1 << similarity.N_PLANES) for r in rows)


def test_lsh_ann_recall_vs_brute_force(t):
    """Bucketed ANN top-1 should agree with brute force for a decent
    fraction of queries (coarse 16-bucket LSH: recall, not precision)."""
    bf = {
        r.query_id: r.neighbor_id
        for r in similarity.brute_force_topk(t.embeddings, k=1).collect()
    }
    ann = {
        r.query_id: r.neighbor_id
        for r in similarity.lsh_bucketed_topk(t.embeddings, k=1).collect()
    }
    hits = sum(1 for q, n in ann.items() if bf.get(q) == n)
    assert hits >= len(ann) * 0.3  # coarse buckets — sanity floor
    assert len(ann) > 0


def test_multimodal_decode_schema_and_determinism(t):
    media = multimodal.as_media_table(t.documents)
    assert dict(media.dtypes)["payload"] == "binary"
    decoded = multimodal.decode_media(media)
    assert decoded.schema == multimodal.DECODED_SCHEMA
    rows = {r.doc_id: r for r in decoded.collect()}
    metas = {r.doc_id: r for r in media.select("doc_id", "meta.n_bytes").collect()}
    for doc_id, r in rows.items():
        assert r.n_bytes == metas[doc_id].n_bytes
        assert r.width == r.n_bytes % 640 + 1
        assert r.height == r.n_bytes * 7 % 480 + 1
        assert len(r.content_md5) == 32


def test_sketch_accuracy_bounds(t):
    """HLL++ relative error must stay within ~5% (rsd default 0.05)."""
    from pyspark.sql import functions as F

    row = (
        t.lineitem.agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
    ).collect()[0]
    assert abs(row.approx - row.exact) <= max(5, 0.1 * row.exact)


def test_salted_join_equals_plain_join(t):
    from pyspark.sql import functions as F
    from quasar_destination_h2_spark.operators import joins

    li = t.lineitem.select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = t.orders.select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    salted = joins.salted_join(li, orders, "okey", n_salts=4)
    plain = li.join(orders, "okey")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b


def test_salted_join_rejects_build_duplicating_how(t):
    """right/full outer would emit each unmatched build row once per
    salt — the operator must refuse rather than silently duplicate."""
    import pytest
    from quasar_destination_h2_spark.operators import joins

    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            joins.salted_join(t.orders, t.customer, "o_custkey", how=how)


def test_asof_join_semantics(t):
    """Every attached value must be the max-timestamp purchase at or
    before the click, verified row-by-row against a pandas replay."""
    from quasar_destination_h2_spark.operators import joins
    from pyspark.sql import functions as F

    ev = t.events
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    got = joins.asof_join(
        clicks, purch, on="ts", by=["user_id"], right_cols=["value"]
    ).collect()
    pur = sorted(purch.collect(), key=lambda r: r.ts)
    by_user: dict = {}
    for r in pur:
        by_user.setdefault(r.user_id, []).append(r)
    for row in got:
        cands = [p for p in by_user.get(row.user_id, []) if p.ts <= row.ts]
        want = cands[-1].value if cands else None
        assert row.value_asof == want, (row, want)


def test_pattern_flags_on_real_matches(spark):
    """The synthetic corpus contains zero emails/URLs/phones, so the
    oracle match for text_pattern_flags is vacuous there — pin the
    regex semantics on constructed text with known match counts, and
    DuckDB parity on the same literals."""
    rows = [
        (1, "mail a@b.co and x.y+z@ex-ample.org, visit https://ex.com/p?q=1"),
        (2, "call +1 (415) 555-0100 or 415-555-0199 now"),
        (3, "no signals here, just words and 42"),
        (4, "edge: http://x.io a@b@c bad@tld. trailing@ok.museum"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.pattern_flags(docs).collect()}
    assert (got[1].n_emails, got[1].n_urls, got[1].n_phones) == (2, 1, 0)
    assert (got[2].n_emails, got[2].n_urls, got[2].n_phones) == (0, 0, 2)
    assert (got[3].n_emails, got[3].n_urls, got[3].n_phones) == (0, 0, 0)
    assert got[4].n_urls == 1 and got[4].n_emails >= 1
    import duckdb

    con = duckdb.connect()
    for doc_id, txt in rows:
        for name, rx in text.PATTERNS.items():
            duck = con.execute(
                "SELECT len(regexp_extract_all(?, ?))", [txt, rx]
            ).fetchone()[0]
            assert duck == got[doc_id][f"n_{name}"], (doc_id, name)


def test_sequence_pack_matches_reference_packer(t):
    """The distributed applyInPandas packer must agree row-for-row
    with an independent single-threaded greedy packer over the same
    (shard, shuffle_key) order, and respect the budget invariants."""
    budget = packing.PACK_BUDGET
    got = packing.sequence_pack(t.documents).collect()
    keyed = {
        r.doc_id: (r.shard, r.shuffle_key)
        for r in packing.shuffle_shards(t.documents).collect()
    }
    toks = {
        r.doc_id: min(r.n, budget)
        for r in t.documents.selectExpr(
            "doc_id",
            r"size(filter(split(trim(regexp_replace(lower(text),'\\s+',' ')),' '),"
            r" x -> x != '')) AS n",
        ).collect()
    }
    # independent reference packer
    by_shard: dict = {}
    for doc_id, (shard, key) in keyed.items():
        by_shard.setdefault(shard, []).append((key, doc_id))
    want = {}
    for shard, docs_ in by_shard.items():
        bin_id, used = 0, 0
        for key, doc_id in sorted(docs_):
            n = toks[doc_id]
            if used + n > budget and used > 0:
                bin_id, used = bin_id + 1, 0
            want[doc_id] = (shard, bin_id, n, used)
            used += n
    got_m = {r.doc_id: (r.shard, r.bin_id, r.n_tokens, r.offset) for r in got}
    assert got_m == want
    # budget invariant: no bin's token sum exceeds the budget
    sums: dict = {}
    for doc_id, (shard, bin_id, n, _) in got_m.items():
        sums[(shard, bin_id)] = sums.get((shard, bin_id), 0) + n
    assert all(s <= budget for s in sums.values())


def test_dedup_clusters_transitive_chain(spark):
    """a~b and b~c (but NOT a~c) must land in ONE cluster — the
    transitive closure pairwise dedup can't express. d stays a
    singleton and is its own canonical."""
    rows = [
        (10, "a b c d e"),   # shingles {abc,bcd,cde}
        (11, "c d e f g"),   # shares {cde} with 10, {efg} with 12
        (12, "e f g h i"),   # shares nothing with 10
        (13, "x y z w v"),   # singleton
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # jaccard(10,11) = jaccard(11,12) = 1/5, jaccard(10,12) = 0
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.15).collect()
    }
    assert pairs == {(10, 11), (11, 12)}
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.dedup_clusters(docs, threshold=0.15).collect()
    }
    assert got == {
        10: (10, True),
        11: (10, False),
        12: (10, False),
        13: (13, True),
    }


def test_repetition_stats_on_constructed_docs(spark):
    """Pin the duplicate-bigram / duplicate-line fractions on text
    with hand-countable repetition (the corpus oracle checks the
    distributed values; this pins the formula itself)."""
    rows = [
        (1, "a b a b a b"),          # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
        (2, "one two three four"),    # all distinct
        (3, "x\nx\ny\n\nx"),          # lines x,x,y,x -> 4 total, 2 distinct
        (4, "solo"),                  # too short for bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert got[1].n_bigrams == 5 and got[1].dup_bigram_frac == 0.6
    assert got[2].dup_bigram_frac == 0.0
    assert got[3].n_lines == 4 and got[3].dup_line_frac == 0.5
    assert got[4].n_bigrams == 0 and got[4].dup_bigram_frac == 0.0


def test_contamination_check_flags_overlap(spark):
    """A train doc sharing shingles with an eval doc (doc_id % 97 == 0)
    scores > 0; a disjoint doc scores 0; eval docs are excluded."""
    m = text.EVAL_MODULUS
    rows = [
        (m, "the quick brown fox jumps over the lazy dog"),  # eval
        (1, "the quick brown fox ran away"),                 # overlaps
        (2, "completely different words entirely here now"),  # disjoint
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.contamination_check(docs).collect()}
    assert m not in got
    # "the quick brown" and "quick brown fox" are shared 3-grams
    assert got[1].n_shared == 2 and got[1].contamination > 0
    assert got[2].n_shared == 0 and got[2].contamination == 0.0
    plan = physical_plan(text.contamination_check(docs))
    assert "CartesianProduct" not in plan


def test_multimodal_resize_schema_and_determinism(t):
    from quasar_destination_h2_spark.operators.multimodal import (
        RESIZE_TO,
        as_media_table,
        resize_media,
    )

    media = as_media_table(t.documents)
    out = resize_media(media)
    assert "MapInPandas" in physical_plan(out)
    rows = out.collect()
    assert len(rows) == t.documents.count()
    again = {r.doc_id: r.resized_md5 for r in resize_media(media).collect()}
    for r in rows:
        assert (r.dst_width, r.dst_height) == RESIZE_TO
        assert 1 <= r.src_width <= 640 and 1 <= r.src_height <= 480
        assert again[r.doc_id] == r.resized_md5  # deterministic


def test_word_shingles_property_matches_python_reference(spark):
    """Hypothesis: the slice+zip_with shingle kernel agrees with a
    trivial Python reference on arbitrary token lists (the kernel
    under every dedup/contamination operator)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    token = st.text(
        alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
        min_size=1,
        max_size=6,
    )
    cases: list[list[str]] = []

    @given(st.lists(token, max_size=12))
    @settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
    def collect(toks):
        cases.append(toks)

    collect()

    def ref_shingles(toks, k=3):
        seen, out = set(), []
        for i in range(max(0, len(toks) - k + 1)):
            s = " ".join(toks[i : i + k])
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(cases)], ["i", "toks"]
    )
    got = {
        r.i: r.sh
        for r in df.select(
            "i", text.word_shingles(F.col("toks")).alias("sh")
        ).collect()
    }
    for i, toks in enumerate(cases):
        assert got[i] == ref_shingles(toks), (i, toks)


def test_range_join_matches_theta_join_and_stays_hash(t):
    """Bucketized range join == the naive BETWEEN theta join, but
    plans as a hash join (the theta join would nested-loop)."""
    from quasar_destination_h2_spark.operators import joins
    from quasar_destination_h2_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(t.spark, SF_DIR, "events")
    points = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    iv = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    got = joins.range_join(points, iv, "ts", "lo", "hi", ["user_id"], 86400)
    plan = physical_plan(got)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    want = points.join(iv, "user_id").where(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi"))
    )
    g = {(r.event_id, r.user_id) for r in got.collect()}
    w = {(r.event_id, r.user_id) for r in want.collect()}
    assert g == w and len(g) > 0


def test_rollup_cascade_levels_consistent(t):
    """Each coarser level's totals re-aggregate exactly to the same
    grand totals (counts and decimal sums are re-aggregable)."""
    from quasar_destination_h2_spark.operators import rollup

    out = rollup.rollup_cascade(t.events).collect()
    by_res: dict = {}
    for r in out:
        n, v = by_res.get(r.resolution, (0, 0.0))
        by_res[r.resolution] = (n + r.n, v + r.value_sum)
    totals = list(by_res.values())
    assert len(totals) == len(rollup.RESOLUTIONS)
    for n, v in totals[1:]:
        assert n == totals[0][0]
        assert v == pytest.approx(totals[0][1], rel=1e-12)


def test_user_sketch_rollup_accuracy(t):
    """HLL estimates at the coarsest level within 5% of exact
    distinct counts (union of minute sketches == sketch of all)."""
    from pyspark.sql import functions as F
    from quasar_destination_h2_spark.operators import rollup

    est = {
        (r.bucket_start, r.event_type): r.approx_users
        for r in rollup.user_sketch_rollup(t.events).collect()
        if r.resolution == "1d"
    }
    secs = F.col("ts").cast("long")
    exact = {
        (r.b, r.event_type): r.n
        for r in t.events.groupBy(
            F.timestamp_seconds(secs - F.pmod(secs, F.lit(86400))).alias("b"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) <= max(1, 0.05 * exact[k]), (k, e, exact[k])


def test_operators_handle_empty_input(spark):
    """Zero-row inputs must produce zero-row outputs, not exceptions —
    a 100 TB pipeline routinely hits empty partitions/filters."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StringType, StructField, StructType,
    )

    empty_docs = spark.createDataFrame(
        [], StructType([StructField("doc_id", LongType()),
                        StructField("text", StringType())])
    )
    empty_emb = spark.createDataFrame(
        [], StructType([StructField("vec_id", LongType()),
                        StructField("embedding", ArrayType(FloatType()))])
    )
    empty_sourced = spark.createDataFrame(
        [], StructType([StructField("doc_id", LongType()),
                        StructField("text", StringType()),
                        StructField("source", StringType())])
    )
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0
    assert dedup.dedup_clusters(empty_docs).count() == 0
    assert dedup.keep_best_per_cluster(empty_docs).count() == 0
    assert dedup.source_overlap_matrix(empty_sourced).count() == 0
    assert text.repetition_stats(empty_docs).count() == 0
    assert text.contamination_check(empty_docs).count() == 0
    assert packing.vocab_topk(empty_docs).count() == 0
    assert packing.sequence_pack(empty_docs).count() == 0
    assert similarity.quantize_int8(empty_emb).count() == 0


def test_winnow_fingerprints_cover_all_docs(t):
    fp = text.winnow_fingerprints(t.documents).collect()
    n_docs = t.documents.count()
    assert len(fp) == n_docs
    assert all(r.n_fp > 0 for r in fp)


def test_theta_sketch_overlap_accuracy(t):
    """Theta-sketch overlap/union/difference estimates within 5% of
    the exact set sizes (fixture cardinalities are far below sketch
    capacity, so estimates should in fact be exact)."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark.plans import REGISTRY

    est = REGISTRY["sketch_theta_overlap"].fn(
        t.documents.sparkSession, SF_DIR
    ).collect()[0]
    users = {
        r.event_type: set(r.us)
        for r in t.events.groupBy("event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .collect()
    }
    a, b = users["click"], users["purchase"]
    exact = {
        "clicks_exact": len(a),
        "purchases_exact": len(b),
        "overlap_exact": len(a & b),
        "union_exact": len(a | b),
        "click_only_exact": len(a - b),
    }
    for k, ex in exact.items():
        assert est[k] == ex, (k, est[k], ex)
    for k in (
        "clicks_ok",
        "purchases_ok",
        "overlap_ok",
        "union_ok",
        "click_only_ok",
    ):
        assert est[k] is True, k


def test_source_cap_invariants(t):
    """No source exceeds the cap; under-cap sources keep everything;
    the kept set is stable when docs from OTHER sources are removed
    (hash priority, not arrival order)."""
    from pyspark.sql import functions as F

    capped = text.source_cap(t.documents, cap=7)
    per_src = {
        r.source: r.n
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    sizes = {
        r.source: r.n
        for r in t.documents.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, n in per_src.items():
        assert n == min(7, sizes[src]), (src, n)
    # drop one entire source: every other source's kept set is unchanged
    some_src = sorted(sizes)[0]
    kept_before = {
        (r.doc_id, r.source)
        for r in capped.where(F.col("source") != some_src).collect()
    }
    kept_after = {
        (r.doc_id, r.source)
        for r in text.source_cap(
            t.documents.where(F.col("source") != some_src), cap=7
        ).collect()
    }
    assert kept_before == kept_after


def test_semantic_dedup_drop_rule(t):
    """Every dropped vector has a lower-id same-cluster neighbor at
    cosine >= threshold; every kept vector has none. Verified against
    an independent in-driver recomputation at fixture scale."""
    import itertools

    import numpy as np

    verdicts = similarity.semantic_dedup(t.embeddings, threshold=0.35).collect()
    rows = t.embeddings.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cluster = {r.vec_id: r.centroid_id for r in verdicts}
    assert set(cluster) == set(vecs)

    by_cluster: dict[int, list[int]] = {}
    for vid, cid in cluster.items():
        by_cluster.setdefault(cid, []).append(vid)
    expected_dropped = set()
    for members in by_cluster.values():
        for u, v in itertools.combinations(sorted(members), 2):
            a, b = vecs[u], vecs[v]
            s = round(
                float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6
            )
            if s >= 0.35:
                expected_dropped.add(v)
    actual_dropped = {r.vec_id for r in verdicts if not r.kept}
    assert actual_dropped == expected_dropped
    assert 0 < len(actual_dropped) < len(vecs)


def test_single_fact_scan_after_materialization(t):
    """r4 regression pin: operators whose structure would otherwise
    re-derive a fact-scan chain per subtree (union levels, index
    probes, scalar thresholds) materialize the shared intermediate
    and scan the fact table exactly once."""
    import re

    def n_scans(df, table):
        p = physical_plan(df)
        return len(re.findall(rf"FileScan parquet [^\n]*{table}\.parquet", p))

    from quasar_destination_h2_spark.operators import rollup, similarity

    assert n_scans(rollup.rollup_cascade(t.events), "events") <= 1
    assert n_scans(rollup.user_sketch_rollup(t.events), "events") <= 1
    assert n_scans(similarity.ivf_topk(t.embeddings), "embeddings") <= 1
    assert n_scans(similarity.ivf_topk(t.embeddings, nprobe=2), "embeddings") <= 1
    assert n_scans(similarity.semantic_dedup(t.embeddings), "embeddings") <= 1


def test_text_shingles_and_tokens_equivalent_forms(spark):
    """Pin the fast-path rewrites to their reference forms on hostile
    raw text (mixed whitespace runs, leading/trailing space, case):

    * tokens(col) (single regex split) == split(norm_text(col), ' ')
    * text_shingles(col, k) (lookahead regexp_extract_all) ==
      word_shingles(tokens(col), k), element order included
    """
    from hypothesis import HealthCheck, given, settings, strategies as st
    from pyspark.sql import functions as F

    word = st.text(
        alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
        min_size=1,
        max_size=5,
    )
    ws = st.sampled_from([" ", "  ", "\t", "\n", " \t ", "\r\n"])
    raw = st.builds(
        lambda lead, parts, trail: lead
        + "".join(w + s for w, s in parts)
        + trail,
        st.sampled_from(["", " ", "\t"]),
        st.lists(st.tuples(word, ws), max_size=8),
        st.sampled_from(["", " ", "\n"]),
    )
    cases: list[str] = []

    @given(raw)
    @settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
    def collect(s):
        cases.append(s)

    collect()
    cases.extend(["", " ", "\t\n", "one", "a b", "a  b\tc  d e"])

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], ["i", "txt"]
    )
    rows = df.select(
        "i",
        text.tokens(F.col("txt")).alias("fast_toks"),
        F.split(text.norm_text(F.col("txt")), " ").alias("ref_toks"),
        text.text_shingles(F.col("txt"), 3).alias("fast_sh"),
        text.word_shingles(text.tokens(F.col("txt")), 3).alias("ref_sh"),
        text.text_shingles(F.col("txt"), 2).alias("fast_sh2"),
        text.word_shingles(text.tokens(F.col("txt")), 2).alias("ref_sh2"),
    ).collect()
    for r in rows:
        assert r.fast_toks == r.ref_toks, (cases[r.i], r.fast_toks, r.ref_toks)
        assert r.fast_sh == r.ref_sh, (cases[r.i], r.fast_sh, r.ref_sh)
        assert r.fast_sh2 == r.ref_sh2, (cases[r.i], r.fast_sh2, r.ref_sh2)


def test_fixpoint_reliable_checkpoint_matches_local(spark, tmp_path):
    """fixpoint(reliable=True) — the cluster-scale escape hatch that
    survives executor loss by writing round state to the checkpoint
    dir — must converge to the identical result as the
    localCheckpoint default (r4-advice item 5). Also pins the guard:
    reliable mode without a checkpoint dir is a typed ValueError."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark.operators.iterate import fixpoint

    # two components: a 4-chain (needs >1 round) and a 2-clique
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = sym.select(F.col("src").alias("doc_id")).distinct()
    loops = nodes.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
    all_edges = sym.unionAll(loops).localCheckpoint()

    def propagate(labels):
        return (
            all_edges.join(labels, all_edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "cluster_id")
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    init = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    measure = lambda df: df.agg(F.sum("cluster_id")).collect()[0][0]

    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            fixpoint(init, propagate, measure, reliable=True)

    local = sorted(map(tuple, fixpoint(init, propagate, measure).collect()))
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = sorted(
        map(tuple, fixpoint(init, propagate, measure, reliable=True).collect())
    )
    assert local == reliable == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
    ]


def test_keep_best_per_cluster_prefers_quality_over_min_id(spark):
    """keep_best_per_cluster must keep the HIGHEST-quality cluster
    member (ties -> lowest doc_id) — i.e. genuinely differ from the
    min-id canonical rule — and keep singletons unconditionally."""
    base_words = [f"w{i:02d}" for i in range(30)]
    base = " ".join(base_words)
    # same 30 tokens plus 4 extra (incl. stopwords): shares 28 of its
    # 32 distinct 3-shingles with base -> jaccard 28/32 = 0.875, and
    # scores HIGHER quality (longer + stopword ratio) despite the
    # higher doc_id
    better = base + " the and is of"
    docs = spark.createDataFrame(
        [(1, base), (2, better), (50, "lone piece of text here")],
        ["doc_id", "text"],
    )
    from quasar_destination_h2_spark.operators.dedup import (
        keep_best_per_cluster,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(docs).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)], pairs
    got = {r.doc_id: r for r in keep_best_per_cluster(docs).collect()}
    assert got[1].cluster_id == 1 and got[2].cluster_id == 1
    assert got[2].quality > got[1].quality
    assert got[2].keep is True  # quality wins...
    assert got[1].keep is False  # ...over the lower doc_id
    assert got[50].keep is True and got[50].cluster_id == 50  # singleton


def test_ngram_max_df_valve_bounds_boilerplate_fanout(spark):
    """The max_df stop-shingle valve must actually fire (it is a
    no-op on the parquet fixtures): a shingle shared by > max_df docs
    is dropped BEFORE the in-row pair fan-out, so docs whose only
    similarity evidence is boilerplate disappear from the output (the
    documented recall-for-safety trade) while pairs backed by sub-cap
    shingles are unaffected."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} unique{i}") for i in range(1, 7)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.5)
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, max_df=3, **kw).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, max_df=10**9, **kw).collect()
    }
    clique = {(a, b) for a in range(1, 7) for b in range(1, 7) if a < b}
    # without the valve the boilerplate clique is all there...
    assert clique <= uncapped
    # ...with it, every clique pair is dropped (bounded fan-out)
    assert capped & clique == set()
    # the pair whose shared shingles have df=2 survives both runs
    assert (100, 101) in capped and (100, 101) in uncapped


def test_minhash_lsh_bucket_valve_bounds_megacluster(spark):
    """The LSH band-bucket valve (minhash analogue of max_df): a
    near-identical mega-cluster shares every band key, so without the
    cap it yields clique^2 candidate pairs from one bucket row. With
    max_bucket below the cluster size the oversized buckets are
    dropped (documented recall trade — such clusters belong to exact
    dedup) while small-bucket near-dups keep matching."""
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, base) for i in range(1, 7)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.5)
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, max_bucket=3, **kw).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, max_bucket=10**9, **kw).collect()
    }
    clique = {(a, b) for a in range(1, 7) for b in range(1, 7) if a < b}
    assert clique <= uncapped
    assert capped & clique == set()
    assert (100, 101) in capped and (100, 101) in uncapped


def test_pii_redact_replaces_and_counts(spark):
    """Real matches: all three pattern families redact to their typed
    tokens, counts reflect emitted tokens, clean text is untouched."""
    from quasar_destination_h2_spark.operators import text as text_ops

    rows = [
        (1, "write to alice.smith+x@corp.example.com today"),
        (2, "see https://a.example.org/path?q=1 and http://b.example.net/x"),
        (3, "call +1 (555) 010-4242 now"),
        (4, "no pii here at all"),
        (5, "mix: bob@ex.org https://c.example.com/z tel 555-010-99887"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text_ops.pii_redact(docs).collect()}
    assert got[1].redacted == "write to <EMAIL> today"
    assert got[1].n_redacted == 1
    assert got[2].redacted == "see <URL> and <URL>"
    assert got[2].n_redacted == 2
    assert got[3].redacted == "call <PHONE> now"
    assert got[4].redacted == "no pii here at all"
    assert got[4].n_redacted == 0
    assert got[5].n_redacted == 3
    # a URL with a phone-like digit path must redact as ONE URL, not
    # a URL plus a phone fragment (REDACT_ORDER contract)
    tricky = spark.createDataFrame(
        [(9, "go https://x.example.com/555-010-99887 ok")], ["doc_id", "text"]
    )
    r9 = text_ops.pii_redact(tricky).collect()[0]
    assert r9.redacted == "go <URL> ok"
    assert r9.n_redacted == 1


def test_domain_stats_counts_occurrences_and_docs(spark):
    from quasar_destination_h2_spark.operators import text as text_ops

    rows = [
        (1, "x https://A.example.org/1 y https://a.example.org/2"),
        (2, "z http://a.example.org/3"),
        (3, "w https://other.example.net/"),
        (4, "no urls"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.domain: (r.n_occurrences, r.n_docs)
        for r in text_ops.domain_stats(docs).collect()
    }
    # case-folded host, occurrences vs distinct docs distinguished
    assert got["a.example.org"] == (3, 2)
    assert got["other.example.net"] == (1, 1)
    assert set(got) == {"a.example.org", "other.example.net"}


def test_label_centroids_match_numpy_mean(spark):
    import numpy as np
    from quasar_destination_h2_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8).astype("float32")], i % 3)
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r.label: r for r in sim.label_centroids(emb).collect()}
    for lbl in (0, 1, 2):
        members = np.array([r[1] for r in rows if r[2] == lbl])
        want = members.mean(axis=0)
        assert got[lbl].n_vectors == len(members)
        assert np.allclose(got[lbl].centroid, want, atol=2e-6)


def test_passage_dedup_on_constructed_docs(spark):
    """Hand-countable passage stats: 16-token passages, cross-doc
    duplication only (a doc repeating its OWN passage doesn't count),
    docs shorter than one passage are absent."""
    p1 = " ".join(f"a{i}" for i in range(16))
    p2 = " ".join(f"b{i}" for i in range(16))
    p3 = " ".join(f"c{i}" for i in range(16))
    selfrep = " ".join(f"d{i}" for i in range(16))
    rows = [
        (1, f"{p1} {p2}"),            # shares p1 with doc 2
        (2, f"{p1} {p3}"),            # shares p1 with doc 1
        (3, " ".join(f"e{i}" for i in range(16))),  # unique
        (4, "too short"),             # < 16 tokens: absent
        (5, f"{selfrep} {selfrep}"),  # self-repeat only: dup=0
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_passages, r.n_dup_passages)
        for r in dedup.passage_dedup_stats(docs).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1), 3: (1, 0), 5: (2, 0)}


def test_passage_dedup_nontrivial_and_single_scan(t):
    """The corpus fixture actually exercises the operator (planted
    near-dups share verbatim 16-token runs), and the plan reads
    documents exactly once — group-then-mark, no join back to the
    corpus."""
    df = dedup.passage_dedup_stats(t.documents)
    plan = physical_plan(df)
    assert plan.count("FileScan parquet") == 1
    total_dup = sum(r.n_dup_passages for r in df.collect())
    assert total_dup > 0


def test_edit_verified_pairs_matches_python_levenshtein(spark):
    """Pin the edit-distance annotation against a pure-Python
    reference on constructed near-dups that LSH provably catches."""
    base = " ".join(f"tok{i}" for i in range(30))
    variant = base.replace("tok7", "tok7x", 1)  # 1-char insertion
    far = " ".join(f"zz{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, variant), (4, far)],
        ["doc_id", "text"],
    )
    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup.edit_verified_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in got and got[(1, 2)].edit_distance == 0
    assert got[(1, 2)].edit_sim == 1.0 and bool(got[(1, 2)].verified)
    assert (1, 3) in got
    expect = lev(base.lower(), variant.lower())
    assert got[(1, 3)].edit_distance == expect == 1
    assert bool(got[(1, 3)].verified)
    assert all(p in {(1, 2), (1, 3), (2, 3)} for p in got)


def test_embedding_feature_stats_exact_and_shuffle_free(spark):
    """Integer milli-unit profile against hand arithmetic, including
    the floor-of-negative edge (-0.0015 -> -2, not -1); the plan is
    one projection — zero Exchange."""
    import math
    rows = [
        (1, [0.5, -0.0015, 0.0], 7),
        (2, [1.2345, 2.0, -3.5], 8),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    df = similarity.embedding_feature_stats(emb)
    assert "Exchange" not in physical_plan(df)
    got = {r.vec_id: r for r in df.collect()}
    for vid, vec, _ in rows:
        q = [math.floor(float(v) * 1000) for v in vec]
        r = got[vid]
        assert r.n_pos == sum(1 for v in q if v > 0)
        assert r.sum_milli == sum(q)
        assert r.dot_self == sum(v * v for v in q)
        assert r.max_milli == max(q)
    assert got[1].sum_milli == 500 - 2 + 0


def test_lateral_topn_decorrelates_to_window_group_limit(t):
    """The LATERAL correlated LIMIT subquery must decorrelate into a
    rank-based plan (WindowGroupLimit pushes the per-group LIMIT
    map-side) — never a per-outer-row nested-loop re-execution — and
    must agree with the explicit window-function formulation."""
    from quasar_destination_h2_spark.plans import REGISTRY
    from pyspark.sql import functions as F, Window

    df = REGISTRY["lateral_topn_per_group"].fn(t.spark, t.sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_name")
    )
    expect = (
        t.customer.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_name", "c_acctbal")
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_keyword_search_and_semantics(spark):
    """AND semantics across whole tokens (substring matches must not
    count), with total occurrence counting."""
    rows = [
        (1, "spark window query runs a window", "en", "s0"),
        (2, "spark query only", "en", "s0"),          # no 'window'
        (3, "sparkly windows querying", "en", "s1"),  # substrings only
        (4, "query window spark spark", "de", "s1"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = {r.doc_id: r.n_occurrences for r in text.keyword_search(docs).collect()}
    assert got == {1: 4, 4: 4}


def test_importance_weights_prefers_target_like_docs(spark):
    """DSIR weights: a doc made of target-slice tokens must outscore
    a doc made of non-target tokens, and every micro-sum must match
    a pure-Python replay of the smoothed log-ratio arithmetic."""
    import math
    rows = [
        (1, "alpha beta alpha", "en"),
        (2, "gamma delta gamma", "de"),
        (3, "alpha beta gamma", "de"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r.doc_id: r for r in text.importance_weights(docs).collect()}

    toks = [(d, t) for d, txt, lg in rows for t in txt.split()]
    tgt = [t for (d, t) in toks if d == 1]
    tf_s, tf_t = {}, {}
    for _, t in toks:
        tf_s[t] = tf_s.get(t, 0) + 1
    for t in tgt:
        tf_t[t] = tf_t.get(t, 0) + 1
    total_s, total_t, v = len(toks), len(tgt), len(tf_s)
    def micro(t):
        r = math.log2((tf_t.get(t, 0) + 1.0) / float(total_t + v)) \
            - math.log2(tf_s[t] / float(total_s))
        return int(round(r, 6) * 1_000_000)
    for d, txt, _ in rows:
        want = sum(micro(t) for t in txt.split())
        assert got[d].logratio_sum_micro == want
    assert got[1].logratio_sum_micro > got[2].logratio_sum_micro


def test_length_buckets_hand_counts(spark):
    """Bucket = binary length of token count; padding cost at the
    2^bucket cap."""
    rows = [
        (1, " ".join(["x"] * 3)),   # 3 tokens  -> bucket 2 (len '11')
        (2, " ".join(["x"] * 5)),   # 5 tokens  -> bucket 3
        (3, " ".join(["x"] * 7)),   # 7 tokens  -> bucket 3
        (4, " ".join(["x"] * 8)),   # 8 tokens  -> bucket 4
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.bucket: r for r in packing.length_buckets(docs).collect()}
    assert set(got) == {2, 3, 4}
    assert (got[3].n_docs, got[3].sum_tokens) == (2, 12)
    assert (got[3].min_tokens, got[3].max_tokens) == (5, 7)
    assert got[3].padded_tokens == 2 * 8
    assert got[3].pad_efficiency == 0.75
    assert got[4].padded_tokens == 16


def test_token_budget_allocation_water_filling(spark):
    """Closed-form water level against the hand-solved allocation:
    counts (1, 5, 5), budget = floor(11/2) = 5 -> level = 2, small
    source keeps everything, big sources capped at 2."""
    rows = (
        [(1, "w", "tiny")]
        + [(10 + i, " ".join(["w"] * 5), f"big{i}") for i in range(2)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r.source: r for r in packing.token_budget_allocation(docs).collect()}
    assert got["tiny"].alloc_tokens == 1 and not got["tiny"].capped
    for s in ("big0", "big1"):
        assert got[s].alloc_tokens == 2 and got[s].capped
    # budget exactly respected up to the floor remainder
    assert sum(r.alloc_tokens for r in got.values()) == 5


def test_token_budget_allocation_budget_exceeds_corpus(spark):
    """When every source fits under the level (degenerate: no row
    qualifies only if budget > total — impossible with frac 1/2; so
    force it by a corpus of one source where the binding row IS the
    only row), allocation still caps at the budget."""
    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 9), "only")], ["doc_id", "text", "source"]
    )
    got = packing.token_budget_allocation(docs).collect()[0]
    assert got.n_tokens == 9 and got.alloc_tokens == 4 and got.capped


def test_table_profile_single_scan_and_values(spark, t):
    """The profiler must read the table EXACTLY once however many
    columns it profiles, and its stats must match hand queries."""
    from quasar_destination_h2_spark.operators import profile

    df = profile.table_profile(
        t.lineitem, ["l_orderkey", "l_quantity", "l_returnflag"]
    )
    assert physical_plan(df).count("FileScan parquet") == 1
    got = {r.column_name: r for r in df.collect()}
    li = t.lineitem
    n = li.count()
    assert got["l_orderkey"].n_rows == n
    assert got["l_orderkey"].n_nulls == 0
    assert got["l_orderkey"].n_distinct == li.select("l_orderkey").distinct().count()
    import pyspark.sql.functions as SF
    mm = li.agg(SF.min("l_quantity"), SF.max("l_quantity")).collect()[0]
    assert got["l_quantity"].min_value == float(mm[0])
    assert got["l_quantity"].max_value == float(mm[1])
    # string column: counted but no numeric range
    assert got["l_returnflag"].min_value is None
    assert got["l_returnflag"].n_distinct == 3


def test_table_profile_counts_nulls(spark):
    from quasar_destination_h2_spark.operators import profile

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, "x")], ["a", "b"]
    )
    got = {r.column_name: r for r in profile.table_profile(df).collect()}
    assert (got["a"].n_nulls, got["a"].n_distinct) == (1, 2)
    assert (got["b"].n_nulls, got["b"].n_distinct) == (1, 1)


def test_matryoshka_fidelity_identities(t):
    """cos_truncated must equal sqrt(retained_energy) analytically,
    prefix energy can never exceed full energy, and a full-width
    prefix is exact fidelity 1."""
    from quasar_destination_h2_spark.operators import similarity as sim

    rows = sim.matryoshka_fidelity(t.embeddings).collect()
    assert rows
    import math
    for r in rows:
        assert 0 <= r.dot_prefix <= r.dot_full
        assert abs(r.cos_truncated - round(
            math.sqrt(r.dot_prefix / r.dot_full), 6)) <= 1e-6
    full = sim.matryoshka_fidelity(t.embeddings, k=64).collect()
    assert all(r.retained_energy == 1.0 and r.cos_truncated == 1.0 for r in full)


def test_split_leakage_matches_cluster_split_composition(t):
    """split_leakage_check must agree exactly with composing its two
    constituent operators (dedup_clusters x dataset_split) in
    DataFrame land — multi-doc clusters only, leaky == spans>1."""
    from pyspark.sql import functions as SF

    got = {r.cluster_id: r for r in dedup.split_leakage_check(t.documents).collect()}
    clus = dedup.dedup_clusters(t.documents)
    splits = text.dataset_split(t.documents)
    want_rows = (
        clus.join(splits, "doc_id")
        .groupBy("cluster_id")
        .agg(
            SF.count(SF.lit(1)).alias("n_docs"),
            SF.count_distinct("split").alias("n_splits"),
        )
        .where(SF.col("n_docs") >= 2)
        .collect()
    )
    want = {r.cluster_id: r for r in want_rows}
    assert set(got) == set(want)
    for cid, w in want.items():
        g = got[cid]
        assert (g.n_docs, g.n_splits) == (w.n_docs, w.n_splits)
        assert g.leaky == (w.n_splits > 1)
        assert g.n_splits == len(g.splits.split(","))


def test_token_index_search_matches_scan_search(t):
    """The inverted-index retrieval path must return exactly the
    same document set as the one-off scan form, and its plan must
    push the term filter into the index scan."""
    idx = text.build_token_index(t.documents)
    via_index = {
        r.doc_id for r in text.search_token_index(idx).collect()
    }
    via_scan = {r.doc_id for r in text.keyword_search(t.documents).collect()}
    assert via_index == via_scan and via_index
    plan = physical_plan(
        text.search_token_index(text.build_token_index(t.documents))
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_asof_join_forward_semantics(t):
    """Every attached value must be the MIN-timestamp purchase at or
    after the click (the mirror of the backward join), verified
    row-by-row against a pandas replay — including ties at the exact
    click timestamp being visible."""
    from quasar_destination_h2_spark.operators import joins
    from pyspark.sql import functions as SF

    ev = t.events
    clicks = ev.where(SF.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(SF.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    got = joins.asof_join_forward(
        clicks, purch, on="ts", by=["user_id"], right_cols=["value"]
    ).collect()
    assert got
    pur = sorted(purch.collect(), key=lambda r: r.ts)
    by_user: dict = {}
    for r in pur:
        by_user.setdefault(r.user_id, []).append(r)
    n_attached = 0
    for row in got:
        cands = [p for p in by_user.get(row.user_id, []) if p.ts >= row.ts]
        if cands:
            first_ts = cands[0].ts
            want = max(p.value for p in cands if p.ts == first_ts)
        else:
            want = None
        assert row.value_asof == want, (row, want)
        n_attached += want is not None
    assert n_attached > 0


def test_corr_matrix_matches_numpy(t):
    """Exact-power-sum Pearson r against numpy's corrcoef on the
    collected columns (tolerance only for numpy's own float path)."""
    import numpy as np
    from quasar_destination_h2_spark.operators import stats

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    df = stats.corr_matrix(t.lineitem, cols)
    assert physical_plan(df).count("FileScan parquet") == 1
    got = {(r.col_a, r.col_b): r.corr for r in df.collect()}
    data = t.lineitem.select(*cols).toPandas()
    for (a, b), r in got.items():
        want = float(np.corrcoef(data[a], data[b])[0, 1])
        assert abs(r - want) < 1e-6, (a, b, r, want)


def test_group_ols_matches_numpy_polyfit(t):
    import numpy as np
    from pyspark.sql import functions as SF
    from quasar_destination_h2_spark.operators import stats

    e = t.orders.select(
        SF.col("o_orderpriority").alias("grp"),
        SF.unix_date(SF.col("o_orderdate").cast("date")).alias("x"),
        SF.col("o_totalprice").alias("y"),
    )
    got = {r.grp: r for r in stats.group_ols(e, "grp", "x", "y").collect()}
    pdf = e.toPandas()
    for grp, sub in pdf.groupby("grp"):
        slope, intercept = np.polyfit(sub.x, sub.y, 1)
        assert abs(got[grp].slope - slope) < 1e-4
        assert abs(got[grp].intercept - intercept) < 1e-2  # |intercept|~1e5
        r = np.corrcoef(sub.x, sub.y)[0, 1]
        assert abs(got[grp].r2 - r * r) < 1e-6


def test_fixed_width_histogram_partitions_everything(t):
    from pyspark.sql import functions as SF
    from quasar_destination_h2_spark.operators import stats

    h = stats.fixed_width_histogram(t.lineitem, "l_extendedprice", 10000.0)
    rows = h.collect()
    assert sum(r.n_rows for r in rows) == t.lineitem.count()
    mn, mx = t.lineitem.agg(
        SF.min("l_extendedprice"), SF.max("l_extendedprice")
    ).collect()[0]
    for r in rows:
        assert r.lo == r.bin * 10000.0 and r.hi == r.lo + 10000.0
    bins = {r.bin for r in rows}
    assert int(mn // 10000) in bins and int(mx // 10000) in bins


def test_round6_operators_handle_empty_input(spark):
    """Empty-input robustness for every round-6 operator (the same
    contract test_operators_handle_empty_input pins for the earlier
    families): zero rows in, zero rows (or an empty-but-well-formed
    aggregate) out, no exceptions."""
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StringType,
        StructField, StructType,
    )
    from quasar_destination_h2_spark.operators import profile, stats

    empty_docs = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ])
    )
    empty_emb = spark.createDataFrame(
        [], StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ])
    )
    assert dedup.passage_dedup_stats(empty_docs).count() == 0
    assert dedup.edit_verified_pairs(empty_docs).count() == 0
    assert dedup.split_leakage_check(empty_docs).count() == 0
    assert text.keyword_search(empty_docs).count() == 0
    assert text.importance_weights(empty_docs).count() == 0
    assert text.search_token_index(
        text.build_token_index(empty_docs)
    ).count() == 0
    assert packing.length_buckets(empty_docs).count() == 0
    assert packing.token_budget_allocation(empty_docs).count() == 0
    assert similarity.embedding_feature_stats(empty_emb).count() == 0
    assert similarity.matryoshka_fidelity(empty_emb).count() == 0
    # profiler on an empty table still emits one row PER COLUMN with
    # zero counts (the shape a dashboard expects)
    prof = {r.column_name: r for r in profile.table_profile(empty_docs).collect()}
    assert set(prof) == {"doc_id", "text", "lang", "source"}
    assert all(r.n_rows == 0 and r.n_nulls == 0 for r in prof.values())
    assert stats.corr_matrix(empty_docs.select("doc_id"), ["doc_id"]).count() == 0
    assert stats.group_ols(empty_docs, "source", "doc_id", "doc_id").count() == 0
    assert stats.fixed_width_histogram(empty_docs, "doc_id", 10.0).count() == 0


def test_table_profile_hostile_column_names(spark):
    """Column names with embedded quotes/backticks must survive the
    generated stack() expression (r6 ADVICE: identifiers were spliced
    verbatim); the names come back verbatim in column_name."""
    from quasar_destination_h2_spark.operators import profile

    hostile = ["it's", "back`tick", 'dq"uote']
    df = spark.createDataFrame([(1, "a", 2.0), (None, "b", 4.0)], hostile)
    got = {r.column_name: r for r in profile.table_profile(df).collect()}
    assert set(got) == set(hostile)
    assert (got["it's"].n_nulls, got["it's"].n_distinct) == (1, 1)
    assert got['dq"uote'].min_value == 2.0
    assert got['dq"uote'].max_value == 4.0


def test_token_index_search_duplicate_terms(t):
    """Duplicate query terms must not make the AND bar unreachable
    (r6 ADVICE: count_distinct(tok) was compared to len(terms))."""
    from quasar_destination_h2_spark.operators.text import SEARCH_TERMS

    idx = text.build_token_index(t.documents)
    base = {r.doc_id for r in text.search_token_index(idx).collect()}
    dup = {
        r.doc_id
        for r in text.search_token_index(
            idx, SEARCH_TERMS + (SEARCH_TERMS[0],)
        ).collect()
    }
    assert dup == base and base


def test_chunk_documents_coverage_and_overlap(spark, t):
    """Chunk windows must tile the token sequence: chunk i starts at
    i*stride, consecutive chunks share exactly `overlap` tokens,
    every token appears in >= 1 chunk, and reassembling chunk 0 plus
    each later chunk's non-overlap suffix reproduces the document."""
    cs, ov = 10, 4
    stride = cs - ov
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(23))),  # 23 toks: 4 chunks
            (2, " ".join(f"w{i}" for i in range(10))),  # exactly chunk_size
            (3, "only three tokens"),                   # short: 1 chunk
        ],
        ["doc_id", "text"],
    )
    rows = sorted(
        packing.chunk_documents(docs, chunk_size=cs, overlap=ov).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [len(by_doc[d]) for d in (1, 2, 3)] == [4, 1, 1]
    for d, n_toks in ((1, 23), (2, 10), (3, 3)):
        toks = [f"w{i}" for i in range(n_toks)] if d != 3 else [
            "only", "three", "tokens"
        ]
        rebuilt = []
        for r in by_doc[d]:
            chunk = r.chunk_text.split(" ")
            assert len(chunk) == r.n_chunk_tokens <= cs
            start = r.chunk_id * stride
            assert chunk == toks[start : start + cs]
            rebuilt.extend(chunk if r.chunk_id == 0 else chunk[ov:])
        assert rebuilt == toks  # full coverage, exact overlap
    # zero-shuffle plan: chunking is one codegen projection (the
    # loader's round-robin fan-out repartition is not a keyed shuffle)
    plan = physical_plan(packing.chunk_documents(t.documents))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        packing.chunk_documents(docs, chunk_size=8, overlap=8)


def test_tfidf_top_terms_ranking_semantics(spark, t):
    """Rank is dense 1..<=k per doc, scores are non-increasing within
    a doc, every term actually occurs in its doc, and a term present
    in every doc (zero idf) can never outrank a distinctive one."""
    docs = spark.createDataFrame(
        [
            (1, "common apple apple apple common"),
            (2, "common banana banana common common"),
            (3, "common cherry date elderberry"),
        ],
        ["doc_id", "text"],
    )
    rows = text.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score_micro for r in rs]
        assert scores == sorted(scores, reverse=True)
    # 'common' has df=3 over 3 docs -> idf = ln(4/4) = 0: top term of
    # docs 1/2 must be their distinctive fruit, never 'common'
    assert by_doc[1][0].term == "apple" if by_doc[1][0].rank == 1 else True
    top1 = {d: min(rs, key=lambda r: r.rank).term for d, rs in by_doc.items()}
    assert top1[1] == "apple" and top1[2] == "banana"
    assert top1[3] in {"cherry", "date", "elderberry"}
    # every scored term occurs in its document's token set
    toks = {r.doc_id: set(r.text.split(" ")) for r in docs.collect()}
    assert all(r.term in toks[r.doc_id] for r in rows)


def test_quality_filter_percentile_gate(t):
    """Every kept doc scores >= its source's exact median; at least
    half of each source survives (median gate property); medians
    agree with composing quality_score + percentile by hand."""
    from pyspark.sql import functions as SF

    kept = text.quality_filter_percentile(t.documents).collect()
    assert kept and all(r.quality >= r.src_median for r in kept)
    src_all = {
        r.source: r.n
        for r in t.documents.groupBy("source")
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    kept_per_src = {}
    for r in kept:
        kept_per_src[r.source] = kept_per_src.get(r.source, 0) + 1
    for src, n in src_all.items():
        assert kept_per_src.get(src, 0) >= n // 2, (src, n, kept_per_src)
    want = {
        r.source: r.m
        for r in text.quality_score(t.documents)
        .join(t.documents.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(SF.round(SF.expr("percentile(quality, 0.5)"), 6).alias("m"))
        .collect()
    }
    got = {r.source: r.src_median for r in kept}
    assert got == {s: want[s] for s in got}


def test_round7_operators_handle_empty_input(spark):
    """Empty-input robustness for the round-7 operators — same
    contract as the earlier-round empty tests: zero rows in, zero
    rows out, no exceptions."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    empty_docs = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ])
    )
    assert packing.chunk_documents(empty_docs).count() == 0
    assert text.tfidf_top_terms(empty_docs).count() == 0
    assert text.quality_filter_percentile(empty_docs).count() == 0
    from pyspark.sql.types import ArrayType, FloatType, IntegerType

    empty_emb = spark.createDataFrame(
        [], StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ])
    )
    assert similarity.hard_negative_mining(empty_emb).count() == 0


def test_hard_negative_mining_label_exclusion(t):
    """Every mined negative carries a DIFFERENT label than its query;
    ranks are dense per query; and each rank-1 negative is exactly
    the best other-label neighbor that brute-force scoring finds."""
    from pyspark.sql import functions as SF

    rows = similarity.hard_negative_mining(t.embeddings, n_queries=5, k=3).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.query_label != r.neighbor_label
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
    # cross-check rank-1 against an independent pandas replay
    emb = {
        r.vec_id: (r.label, r.embedding)
        for r in t.embeddings.collect()
    }
    import math

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return round(d / (na * nb), 6)

    for q, rs in by_q.items():
        ql, qv = emb[q]
        best = max(
            (
                (cos(qv, v), -i)
                for i, (l, v) in emb.items()
                if l != ql
            ),
        )
        got1 = min(rs, key=lambda r: r.rank)
        assert (got1.cos_sim, -got1.neighbor_id) == best


def test_key_skew_profile_semantics(spark, t):
    """share/skew ppm agree with hand arithmetic on a crafted skewed
    frame (one key with half the rows), the top list is count-sorted,
    the plan top-N is a TakeOrderedAndProject, and a perfectly
    uniform key reports skew_ppm == 1_000_000 exactly."""
    from quasar_destination_h2_spark.operators import stats as S

    skewed = spark.createDataFrame(
        [(1,)] * 50 + [(k,) for k in range(2, 52)], ["k"]
    )
    rows = sorted(
        S.key_skew_profile(skewed, "k", topn=3).collect(),
        key=lambda r: -r.cnt,
    )
    assert rows[0].key == 1 and rows[0].cnt == 50
    assert rows[0].n_keys == 51 and rows[0].total_rows == 100
    assert rows[0].share_ppm == 50 * 1_000_000 // 100
    assert rows[0].skew_ppm == 50 * 51 * 1_000_000 // 100
    assert [r.cnt for r in rows] == sorted((r.cnt for r in rows), reverse=True)

    uniform = spark.createDataFrame([(k,) for k in range(1, 11)] * 4, ["k"])
    u = S.key_skew_profile(uniform, "k", topn=1).collect()[0]
    assert u.skew_ppm == 1_000_000

    plan = physical_plan(S.key_skew_profile(t.lineitem, "l_suppkey"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_key_skew_profile_empty_input(spark):
    from pyspark.sql.types import LongType, StructField, StructType
    from quasar_destination_h2_spark.operators import stats as S

    empty = spark.createDataFrame(
        [], StructType([StructField("k", LongType())])
    )
    assert S.key_skew_profile(empty, "k").count() == 0


def test_chunk_documents_property_random_geometry(spark):
    """Property test over random (n_tokens, chunk_size, overlap):
    chunk starts stride apart, full coverage, last chunk non-empty,
    chunk count matches the closed form — for every geometry, not
    just the defaults."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    geoms: list[tuple[int, int, int]] = []

    @given(
        st.integers(min_value=1, max_value=40),   # n tokens
        st.integers(min_value=2, max_value=12),   # chunk size
        st.integers(min_value=0, max_value=11),   # overlap (clamped)
    )
    @settings(
        max_examples=30, deadline=None, suppress_health_check=list(HealthCheck)
    )
    def collect(n, cs, ov):
        geoms.append((n, cs, min(ov, cs - 1)))

    collect()
    # one spark job for all geometries: doc_id encodes the geometry
    cases = {}
    for i, (n, cs, ov) in enumerate(dict.fromkeys(geoms)):
        cases[i] = (n, cs, ov)
    for i, (n, cs, ov) in cases.items():
        docs = spark.createDataFrame(
            [(i, " ".join(f"t{j}" for j in range(n)))], ["doc_id", "text"]
        )
        rows = sorted(
            packing.chunk_documents(docs, chunk_size=cs, overlap=ov).collect(),
            key=lambda r: r.chunk_id,
        )
        stride = cs - ov
        want_chunks = 1 if n <= cs else -(-(n - cs) // stride) + 1
        assert len(rows) == want_chunks, (n, cs, ov)
        toks = [f"t{j}" for j in range(n)]
        covered = set()
        for r in rows:
            chunk = r.chunk_text.split(" ")
            start = r.chunk_id * stride
            assert chunk == toks[start : start + cs], (n, cs, ov)
            assert 1 <= len(chunk) <= cs
            covered.update(range(start, start + len(chunk)))
        assert covered == set(range(n)), (n, cs, ov)


def test_perplexity_buckets_conservation(t):
    """Bucket populations must conserve the corpus (sum n_docs =
    |docs|, sum total_tokens = corpus tokens), every bucket's
    min/max must fall inside [bucket*width, (bucket+1)*width), and
    the buckets must agree with composing unigram_logprob by hand."""
    from pyspark.sql import functions as SF

    rows = sorted(text.perplexity_buckets(t.documents).collect(),
                  key=lambda r: r.bucket)
    assert rows
    n_docs = t.documents.count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.bucket * 500_000 <= r.min_avg_micro <= r.max_avg_micro
        assert r.max_avg_micro < (r.bucket + 1) * 500_000
        assert r.lo_bits == r.bucket * 0.5
    # composition check against the registered unigram query
    per_doc = text.unigram_logprob(t.documents).collect()
    assert sum(r.total_tokens for r in rows) == sum(d.n_tokens for d in per_doc)
    from collections import Counter

    want = Counter(int(d.avg_nll * 1_000_000 + 0.5) // 500_000 for d in per_doc)
    got = {r.bucket: r.n_docs for r in rows}
    assert got == dict(want)


def test_perplexity_buckets_empty_input(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    assert text.perplexity_buckets(empty).count() == 0


def test_jsonl_roundtrip_hostile_content(spark, t, tmp_path):
    """JSONL round-trip: documents (incl. hostile synthetic rows with
    embedded newlines, quotes, unicode, and JSON-special chars) must
    come back row-identical under an explicit schema — JSON escaping
    replaces the CSV path's record-terminator sniffing."""
    from pyspark.sql import Row

    from quasar_destination_h2_spark.sources import jsonl

    hostile = spark.createDataFrame(
        [
            Row(doc_id=900001, text='line1\nline2\r\n"quoted"', lang="en",
                source="s", n_chars=20),
            Row(doc_id=900002, text='{"not":"json"} \\ backslash é中',
                lang="zh", source="s", n_chars=25),
            Row(doc_id=900003, text="", lang="en", source="s", n_chars=0),
        ],
        t.documents.schema,
    )
    df = t.documents.unionByName(hostile)
    path = str(tmp_path / "docs-jsonl")
    jsonl.write_jsonl(df, path)
    back = jsonl.read_jsonl(spark, path, jsonl.jsonl_roundtrip_schema(df))
    assert back.schema == df.schema
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_jsonl_read_failfast_on_corrupt_line(spark, tmp_path):
    """A corrupt line must fail the read loudly, not silently null a
    column (everything-or-nothing load discipline)."""
    import pytest as _pytest
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from quasar_destination_h2_spark.sources import jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n{"doc_id": broken!!\n'
    )
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    with _pytest.raises(Exception):
        jsonl.read_jsonl(spark, str(p), schema).collect()


def test_containment_catches_embedded_doc_jaccard_misses(spark, t):
    """The defining case: a short doc fully embedded in a much longer
    one must surface as a containment pair (containment == 1.0)
    while its symmetric Jaccard stays far below the 0.8 threshold —
    and the jaccard operator must indeed NOT pair them."""
    short = " ".join(f"w{i}" for i in range(12))
    long_ = short + " " + " ".join(f"x{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, short, "en", "s", len(short)),
         (2, long_, "en", "s", len(long_))],
        t.documents.schema,
    )
    got = dedup.containment_pairs(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment_a == 1.0       # every short shingle in long
    assert r.jaccard < 0.1              # symmetric measure blind
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    # plan shape identical to the jaccard build: no cartesian
    plan = physical_plan(dedup.containment_pairs(t.documents))
    assert "CartesianProduct" not in plan


def test_containment_empty_input(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    assert dedup.containment_pairs(empty).count() == 0


def test_pmi_collocations_semantics(spark, t):
    """A planted always-adjacent pair must take rank 1 with the
    analytically exact PMI; independent pairs score near zero; the
    global top-N plans as TakeOrderedAndProject."""
    import math

    # 60 docs, each "alpha beta filler_i" — alpha&beta always
    # adjacent; filler varies so alpha-beta dominates PMI
    docs = spark.createDataFrame(
        [(i, f"alpha beta f{i % 7} g{i % 5}") for i in range(60)],
        ["doc_id", "text"],
    )
    rows = text.pmi_collocations(docs, min_count=5, topn=5).collect()
    top = rows[0]
    assert (top.w1, top.w2) == ("alpha", "beta")
    # exact check: c_ab=60, c_a=c_b=60, N_uni=240, N_bi=180
    want = round(math.log2((60 * 240 * 240) / (60 * 60 * 180)), 6)
    assert top.pmi == want
    plan = physical_plan(text.pmi_collocations(t.documents))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pmi_collocations_empty_input(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    assert text.pmi_collocations(empty).count() == 0


def test_zipf_fit_recovers_planted_exponent(spark, t):
    """On a synthetic corpus with an EXACT power law freq ∝ rank^-1,
    the fitted slope must be -1 (to rounding) with r2 ≈ 1; on the
    real corpus the slope must be negative; the head selection plans
    as TakeOrderedAndProject."""
    # token t_r appears round(1200 / r) times, r = 1..30 — exact
    # Zipf-1 by construction
    words = []
    for r in range(1, 31):
        words.extend([f"t{r:02d}"] * round(1200 / r))
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    row = text.zipf_fit(docs, head=30).collect()[0]
    assert row.n == 30
    assert abs(row.slope_micro / 1e6 + 1.0) < 0.01, row
    assert row.r2_micro > 999_000
    real = text.zipf_fit(t.documents).collect()[0]
    assert real.slope_micro < 0 and real.n >= 20
    plan = physical_plan(text.zipf_fit(t.documents))
    assert "TakeOrderedAndProject" in plan


def test_zipf_fit_empty_input(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    # empty vocabulary -> zero-row fit frame -> zero-row output
    assert text.zipf_fit(empty).count() == 0


def test_key_skew_ppm_survives_bigint_overflow(spark, duck):
    """r7 ADVICE: skew_ppm's numerator (max_cnt * n_keys * 1e6)
    exceeds bigint at diagnostic scale (~1e9 keys, ~1e5-row hot key)
    — ANSI engines raise, non-ANSI ones wrap silently negative. The
    operator and its oracle both route the product through a 128-bit
    carrier (Spark DECIMAL(38,0), DuckDB HUGEINT); pin that the two
    expression shapes agree with exact Python arithmetic on literals
    that overflow bigint."""
    mx, nk, tot = 100_000, 1_000_000_000, 200_000_000_000
    want = mx * nk * 1_000_000 // tot
    got_spark = spark.sql(
        f"SELECT CAST(CAST({mx} AS DECIMAL(38,0)) * {nk} * 1000000"
        f" DIV {tot} AS BIGINT) AS skew_ppm"
    ).collect()[0].skew_ppm
    got_duck = duck.execute(
        f"SELECT CAST(CAST({mx} AS HUGEINT) * {nk} * 1000000"
        f" // {tot} AS BIGINT) AS skew_ppm"
    ).fetchone()[0]
    assert got_spark == got_duck == want
    # and the floor (not round) behavior both sides share:
    got_spark2 = spark.sql(
        "SELECT CAST(CAST(640 AS DECIMAL(38,0)) * 10 * 1000000"
        " DIV 6000 AS BIGINT) AS x"
    ).collect()[0].x
    got_duck2 = duck.execute(
        "SELECT CAST(CAST(640 AS HUGEINT) * 10 * 1000000"
        " // 6000 AS BIGINT) AS x"
    ).fetchone()[0]
    assert got_spark2 == got_duck2 == 640 * 10 * 1_000_000 // 6000


def test_lm_vocab_joins_not_hinted(spark):
    """r7 VERDICT: a forced F.broadcast() on a VOCABULARY-sized frame
    is a 100 TB job-killer — whitespace-token vocab reaches 1e8-1e9
    rows (bigrams worse) and an explicit hint overrides Spark's size
    threshold unconditionally. The LM-family operators may hint only
    their ONE-ROW totals frames; every vocab join must be unhinted so
    AQE decides at runtime. Pin the analyzed-plan hint counts."""
    from quasar_destination_h2_spark import cache, plans

    expected = {
        "text_unigram_logprob": 1,   # one-row corpus-total crossJoin
        "text_bigram_logprob": 0,    # ctx model derived from bigram vocab
        "importance_weights": 1,     # one-row model-totals crossJoin
        "tfidf_top_terms": 1,        # one-row corpus doc count
        "perplexity_buckets": 1,     # shares the unigram carrier
        "pmi_collocations": 2,       # n_uni + n_bi one-row totals
    }
    qs = plans.all_queries()
    for name, want in expected.items():
        df = qs[name](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        got = analyzed.count("ResolvedHint")
        cache.release()
        assert got == want, f"{name}: {got} broadcast hints, want {want}"


def test_cache_release_registry(spark, t):
    """Operator-level persists register centrally so long-lived
    sessions can drop them between queries (r7 ADVICE: the tf /
    key-count persists accumulated without bound)."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text

    cache.release()  # drop anything earlier tests left behind
    df = text.unigram_logprob(t.documents)
    assert len(cache._LIVE) == 1  # the doc-term frame
    assert df.count() > 0
    n = cache.release()
    assert n == 1 and not cache._LIVE
    # idempotent / safe when empty
    assert cache.release() == 0


def test_cache_release_between_composed_queries_is_safe(spark, t):
    """Release granularity is per-harness-step, never mid-plan: two
    back-to-back queries that each (re)persist the same logical tf
    frame stay correct when release() runs between them, AND a plan
    handed out BEFORE a release still evaluates correctly afterwards
    (Spark recomputes dropped cache blocks from lineage — the
    single-pass economics are lost for that one plan, the answer is
    not). Pins the r8 VERDICT item-9 contract."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text

    cache.release()
    first = text.tfidf_top_terms(t.documents).collect()
    held = text.unigram_logprob(t.documents)  # plan reads a live persist
    assert cache.release() >= 1  # between-step release drops both
    # the held plan survives the release of its cache (lineage recompute)
    held_rows = held.count()
    assert held_rows > 0
    cache.release()
    # a re-run after release re-persists and reproduces the result
    second = text.tfidf_top_terms(t.documents).collect()
    cache.release()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_prefix_filter_matches_full_inverted_index(t):
    """Prefix filtering is an exact optimization: with the df valve
    disengaged (fixture max df << MAX_SHINGLE_DF) the ppjoin-style
    build must return EXACTLY the pairs of the full inverted index —
    same docs, same intersection counts, same Jaccard."""
    full = {
        (r.doc_a, r.doc_b): (r.inter, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(t.documents).collect()
    }
    pf = {
        (r.doc_a, r.doc_b): (r.inter, r.jaccard)
        for r in dedup.prefix_filter_pairs(t.documents).collect()
    }
    assert pf == full and len(pf) > 0


def test_prefix_filter_candidate_reduction(t):
    """The point of the prefix index: strictly fewer postings than
    the full index (p = n - ceil(0.8 n) + 1 rarest shingles per doc
    is ~20% of n), and no CartesianProduct anywhere in the plan."""
    from quasar_destination_h2_spark import cache
    from pyspark.sql import functions as F

    sh = dedup._shingled(t.documents, "text", 3)
    full_postings = sh.select(F.explode("shingles")).count()
    # rebuild the operator's prefix frame shape to measure its size
    posts = sh.select(
        "doc_id", "n_sh",
        F.explode(F.transform("shingles", lambda s: F.md5(s))).alias("s"),
    )
    dfreq = posts.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    pref_n = (
        posts.join(dfreq, "s")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= F.expr("n_sh - ((4 * n_sh + 4) DIV 5) + 1"))
        .count()
    )
    assert pref_n < full_postings * 0.35, (pref_n, full_postings)
    plan = physical_plan(dedup.prefix_filter_pairs(t.documents))
    cache.release()
    assert "CartesianProduct" not in plan


def test_prefix_length_integer_ceil(spark):
    """The prefix length uses rational integer arithmetic
    (ceil(t*n) = (num*n + den - 1) DIV den) so completeness never
    depends on how a float t*n happens to round — exactness is
    guaranteed by construction, not by double-rounding luck. Pin the
    integer form against Fraction-exact ceil over a value sweep."""
    from fractions import Fraction
    import math

    ns = list(range(1, 200))
    rows = spark.sql(
        "SELECT n, n - ((4 * n + 4) DIV 5) + 1 AS p FROM VALUES "
        + ", ".join(f"({n}L)" for n in ns)
        + " AS v(n)"
    ).collect()
    for r in rows:
        exact = r.n - math.ceil(Fraction(4, 5) * r.n) + 1
        assert r.p == exact, (r.n, r.p, exact)


def test_bm25_ranking_semantics(spark):
    """BM25 on a crafted corpus: a doc hitting two query terms beats
    single-term docs; among single-term docs with equal tf the
    SHORTER one scores higher (length normalization); docs with no
    term never appear; ranks are 1..N by descending score."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "spark window fast engine"),          # two terms
            (2, "spark alone here with padding words x y z"),  # 1 term, long
            (3, "spark alone short"),                 # 1 term, short
            (4, "nothing relevant at all"),           # no terms
        ],
        ["doc_id", "text"],
    )
    rows = T.bm25_search(docs).collect()
    cache.release()
    got = {r.doc_id: r for r in rows}
    assert 4 not in got and set(got) == {1, 2, 3}
    assert got[1].rank == 1  # two distinct terms dominate
    assert got[3].score_u12 > got[2].score_u12  # shorter doc wins
    assert sorted(r.rank for r in rows) == [1, 2, 3]


def test_bm25_empty_and_no_hit_corpus(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text as T

    empty = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    assert T.bm25_search(empty).count() == 0
    nohit = spark.createDataFrame([(1, "abc def")], ["doc_id", "text"])
    assert T.bm25_search(nohit).count() == 0
    cache.release()


def test_persisted_frames_use_spillable_storage_level(spark, t):
    """The operator-persist policy (tfidf tf frame, LM doc-term
    frames, minhash shingle projection) is MEMORY_AND_DISK: under
    memory pressure cached partitions SPILL to local disk instead of
    being dropped-and-recomputed — recompute would re-run the very
    corpus pass the persist exists to bound. Pin the storage level
    (useMemory AND useDisk, on-heap, 1 replica) and that the frame
    actually materializes into the block manager."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text

    cache.release()
    df = text.tfidf_top_terms(t.documents)
    assert len(cache._LIVE) == 1
    lvl = cache._LIVE[0].storageLevel
    assert lvl.useMemory and lvl.useDisk
    assert not lvl.useOffHeap and lvl.replication == 1
    assert df.count() > 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert any(i.numCachedPartitions() > 0 for i in infos)
    cache.release()


def test_lexical_diversity_semantics(spark):
    """Hand-checked TTR / hapax / avg-length on a crafted doc, the
    all-duplicates and all-distinct extremes, and a zero-shuffle plan
    (no Exchange at all — pure per-row codegen)."""
    from quasar_destination_h2_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "b a c a d b e"),   # 7 toks, 5 distinct, hapax {c,d,e}
            (2, "x x x x"),         # all dup: 1 distinct, 0 hapax
            (3, "one two three"),   # all distinct: 3 hapax
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in T.lexical_diversity(docs).collect()}
    assert rows[1].n_tokens == 7 and rows[1].n_distinct == 5
    assert rows[1].n_hapax == 3
    assert rows[1].ttr_ppm == 5 * 1_000_000 // 7
    assert rows[1].avg_len_ppm == 7 * 1_000_000 // 7  # all 1-char tokens
    assert rows[2].n_distinct == 1 and rows[2].n_hapax == 0
    assert rows[3].n_hapax == 3 and rows[3].ttr_ppm == 1_000_000
    plan = physical_plan(T.lexical_diversity(docs))
    assert "Exchange" not in plan  # zero shuffles by design


def test_lexical_diversity_empty_and_whitespace_docs(spark):
    from quasar_destination_h2_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "ok")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in T.lexical_diversity(docs).collect()}
    assert set(rows) == {3}  # token-less docs excluded, no 0/0
    assert rows[3].n_tokens == 1 and rows[3].avg_len_ppm == 2_000_000


def test_ivf_recall_bounds_and_self_consistency(t):
    """recall_ppm is in [0, 1e6]; n_hits <= k_eval <= 5; every query
    vector appears exactly once; and the hits really are the
    intersection of the two shipped top-k operators."""
    from quasar_destination_h2_spark.operators import similarity as S

    rows = S.ivf_recall(t.embeddings).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= r.k_eval <= 5
        assert r.recall_ppm == r.n_hits * 1_000_000 // r.k_eval
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(t.embeddings).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(t.embeddings, k=5, nprobe=2).collect()
    }
    want_hits = {}
    for q, nbr in exact:
        want_hits[q] = want_hits.get(q, 0) + ((q, nbr) in approx)
    got_hits = {r.query_id: r.n_hits for r in rows}
    assert got_hits == want_hits


def test_prefix_filter_equals_full_on_random_corpus(spark):
    """Seeded-random corpus with planted near-dups at varied overlap
    levels: the prefix-filtered join must agree with the full
    inverted index EXACTLY (pairs, intersection counts, Jaccard) —
    the completeness bound holds under arbitrary token shapes, not
    just the fixture distribution. One generated corpus, one Spark
    job per side."""
    import random as _random

    from quasar_destination_h2_spark import cache

    rng = _random.Random(8_2025)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for d in range(120):
        n = rng.randint(3, 40)
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups: copy with 0..3 token edits
    for j in range(40):
        base_id, base_text = docs[rng.randrange(len(docs))]
        toks = base_text.split()
        for _ in range(rng.randint(0, 3)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((1000 + j, " ".join(toks)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    full = {
        (r.doc_a, r.doc_b): (r.inter, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df).collect()
    }
    pf = {
        (r.doc_a, r.doc_b): (r.inter, r.jaccard)
        for r in dedup.prefix_filter_pairs(df).collect()
    }
    cache.release()
    assert pf == full
    assert len(full) >= 10  # the planted structure was actually found


def test_cross_corpus_pairs_semantics(spark, t):
    """Bipartite semantics: (a) every returned pair crosses the
    corpus boundary; (b) on a crafted new/ref split with a planted
    copy, exactly that copy is found; (c) the pair set equals the
    cross-boundary subset of the self-join operator's answer on the
    union (when the valve is disengaged); (d) no CartesianProduct."""
    from pyspark.sql import functions as F

    new_docs = t.documents.where("source = 'src0'")
    ref_docs = t.documents.where("source <> 'src0'")
    got = {
        (r.new_id, r.ref_id): (r.inter, r.jaccard)
        for r in dedup.cross_corpus_pairs(new_docs, ref_docs).collect()
    }
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    ref_ids = {r.doc_id for r in ref_docs.select("doc_id").collect()}
    for n, rf in got:
        assert n in new_ids and rf in ref_ids
    # cross-boundary subset of the self-join answer on the union
    full = dedup.ngram_jaccard_pairs(t.documents).collect()
    want = {}
    for r in full:
        if r.doc_a in new_ids and r.doc_b in ref_ids:
            want[(r.doc_a, r.doc_b)] = (r.inter, r.jaccard)
        elif r.doc_b in new_ids and r.doc_a in ref_ids:
            want[(r.doc_b, r.doc_a)] = (r.inter, r.jaccard)
    assert got == want and len(got) > 0
    plan = physical_plan(dedup.cross_corpus_pairs(new_docs, ref_docs))
    assert "CartesianProduct" not in plan


def test_cross_corpus_planted_copy(spark):
    from pyspark.sql import Row

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),   # exact copy of 1
         (101, "totally different content here folks")],
        ["doc_id", "text"],
    )
    rows = dedup.cross_corpus_pairs(new, ref).collect()
    assert [(r.new_id, r.ref_id, r.jaccard) for r in rows] == [(100, 1, 1.0)]


def test_events_anomaly_zscore_detects_planted_spike(spark):
    """30 steady hours at n=4 (alternating 3/5 so variance > 0), then
    a 40-event spike hour: the spike is flagged (|z| >= 3), steady
    hours are not, and hours with < 12 lookback rows stay NULL."""
    from datetime import datetime, timedelta

    from quasar_destination_h2_spark.plans import REGISTRY

    rows = []
    base = datetime(2024, 1, 1)
    eid = 0
    for h in range(30):
        n = 3 if h % 2 == 0 else 5
        for _ in range(n):
            rows.append((eid, base + timedelta(hours=h), 1, "a", 1.0, "{}"))
            eid += 1
    for _ in range(40):  # spike at hour 30
        rows.append((eid, base + timedelta(hours=30), 1, "a", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.createOrReplaceTempView("__anomaly_events")

    # drive the registered query's logic directly on the crafted frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    hourly = df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
    win = hourly.select(
        "hour", "n",
        F.count(F.lit(1)).over(w).cast("bigint").alias("lookback_n"),
        F.sum("n").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("bigint").alias("s2"),
    )
    ok = (F.col("lookback_n") >= 12) & (
        F.col("lookback_n") * F.col("s2") > F.col("s1") * F.col("s1")
    )
    z = F.expr("(n * lookback_n - s1) /"
               " sqrt(CAST(lookback_n * s2 - s1 * s1 AS DOUBLE))")
    out = {
        r.hour.hour + 24 * (r.hour.day - 1): (r.flag, r.zval)
        for r in win.select(
            "hour",
            F.when(ok, F.abs(z) >= 3.0).alias("flag"),
            F.when(ok, z).alias("zval"),
        ).collect()
    }
    assert out[30][0] is True and out[30][1] > 10  # the spike
    assert all(out[h][0] is False for h in range(12, 30))  # steady
    assert all(out[h][0] is None for h in range(0, 12))  # warm-up


def test_ivf_cluster_profile_invariants(t):
    """Counts sum to the corpus size, shares to ~1e6; every centroid
    that owns members appears at most n_list rows; the member
    containing the centroid itself contributes sim = 1.0 (1e6 micro),
    so each cell's sum_sim_micro <= n_members * 1e6 with equality
    only for perfectly duplicated cells."""
    from quasar_destination_h2_spark.operators import similarity as S

    rows = S.ivf_cluster_profile(t.embeddings).collect()
    total = t.embeddings.count()
    assert sum(r.n_members for r in rows) == total
    assert len(rows) <= S.IVF_N_LIST
    assert abs(sum(r.share_ppm for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r.sum_sim_micro <= r.n_members * 1_000_000
        # the centroid vector sits in its own cell at sim 1.0
        assert r.sum_sim_micro >= 1_000_000 - (r.n_members - 1) * 1_000_000


def test_vocab_oov_rate_semantics(spark):
    """Crafted corpus with a 2-token vocab cap: the doc made of the
    two dominant tokens has OOV 0; a doc of singletons is 100% OOV;
    a mixed doc gets the exact integer ppm."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa bb bb"),        # both in vocab
            (2, "zz yy xx"),              # all OOV (freq 1 each)
            (3, "aa bb qq qq"),           # 2/4 OOV
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in T.vocab_oov_rate(docs, vocab_size=2).collect()}
    cache.release()
    assert rows[1].n_oov == 0 and rows[1].oov_ppm == 0
    assert rows[2].n_oov == 3 and rows[2].oov_ppm == 1_000_000
    assert rows[3].n_oov == 2 and rows[3].oov_ppm == 500_000
    # vocab by total frequency: aa(4), bb(3) win over qq(2)


def test_minhash_calibration_consistency(t):
    """The calibration frame covers exactly the LSH candidate pairs
    that pass verification (plus near-misses); for every pair the
    estimate is a multiple of 1e6/8, err = |est - exact|, and pairs
    confirmed by dedup_minhash_lsh (exact j >= 0.8) appear with
    exact_ppm >= 800000. Planted near-dups (j ~ 0.97) must show a
    tight estimate (all 8 signatures usually agree -> est 1e6)."""
    from quasar_destination_h2_spark import cache

    rows = dedup.minhash_calibration(t.documents).collect()
    cache.release()
    assert rows
    step = 1_000_000 // dedup.MINHASH_SEEDS
    for r in rows:
        assert r.est_ppm % step == 0 and 0 <= r.est_ppm <= 1_000_000
        assert r.err_ppm == abs(r.est_ppm - r.exact_ppm)
    confirmed = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(t.documents).collect()
    }
    cache.release()
    cal = {(r.doc_a, r.doc_b): r for r in rows}
    assert confirmed <= set(cal)
    for pair in confirmed:
        assert cal[pair].exact_ppm >= 800_000


def test_shard_balance_invariants(t):
    """Shares sum to ~1e6, totals match the corpus, every shard id is
    in range, and the md5 shard function lands within loose sampling
    noise of uniform (no shard above 3x the ideal doc share on the
    fixture)."""
    from quasar_destination_h2_spark.operators import packing as P

    rows = P.shard_balance(t.documents).collect()
    n_docs = t.documents.count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.shard < P.N_SHARDS for r in rows)
    assert abs(sum(r.doc_share_ppm for r in rows) - 1_000_000) <= len(rows)
    ideal = 1_000_000 // P.N_SHARDS
    assert max(r.doc_share_ppm for r in rows) < 3 * ideal


def test_prefix_filter_equals_full_across_thresholds(spark):
    """The completeness bound is per-threshold: check prefix-vs-full
    equality at t = 3/5 (long prefixes, many candidates) and t = 9/10
    (one- or two-element prefixes — the aggressive end where an
    off-by-one in the prefix length silently loses pairs) on a seeded
    random corpus with planted near-dups."""
    import random as _random

    from quasar_destination_h2_spark import cache

    rng = _random.Random(424242)
    vocab = [f"t{i}" for i in range(200)]
    docs = []
    for d in range(80):
        n = rng.randint(4, 30)
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    for j in range(40):
        base_id, base_text = docs[rng.randrange(80)]
        toks = base_text.split()
        for _ in range(rng.randint(0, 4)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append((1000 + j, " ".join(toks)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for num, den in ((3, 5), (9, 10)):
        t = num / den
        full = {
            (r.doc_a, r.doc_b): (r.inter, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()
        }
        pf = {
            (r.doc_a, r.doc_b): (r.inter, r.jaccard)
            for r in dedup.prefix_filter_pairs(
                df, threshold_num=num, threshold_den=den
            ).collect()
        }
        cache.release()
        assert pf == full, (num, den)
        if (num, den) == (3, 5):
            assert len(full) >= 10  # loose threshold finds plenty


def test_cross_corpus_valve_red_green(spark):
    """The reference-side stop-shingle valve, exercised where it
    actually fires: with max_df=2, a boilerplate shingle shared by
    every reference doc stops generating candidates, so a pair whose
    ONLY shared evidence is the boilerplate line disappears (red),
    while a pair with genuine distinct-shingle overlap survives
    (green) — same recall-for-safety trade as ngram_jaccard's valve,
    on the bipartite shape."""
    boiler = "all rights reserved by the corpus"
    ref = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}"),
            (2, f"one two three four {boiler}"),
            (3, f"five six seven eight {boiler}"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # only-boilerplate overlap with every ref doc:
            (100, f"totally different words here {boiler}"),
            # genuine near-dup of ref doc 1 (shares its distinct part):
            (101, f"alpha beta gamma delta {boiler}"),
        ],
        ["doc_id", "text"],
    )
    open_pairs = {
        (r.new_id, r.ref_id)
        for r in dedup.cross_corpus_pairs(
            new, ref, threshold=0.3, max_df=1000
        ).collect()
    }
    valved = {
        (r.new_id, r.ref_id)
        for r in dedup.cross_corpus_pairs(
            new, ref, threshold=0.3, max_df=2
        ).collect()
    }
    # red: boilerplate-only pairs exist without the valve, vanish with it
    assert (100, 2) in open_pairs and (100, 2) not in valved
    # green: the genuine near-dup survives the valve (distinct shingles)
    assert (101, 1) in valved


def test_bm25_idf_monotonicity(spark):
    """A term appearing in fewer documents contributes more score at
    equal tf and equal doc length — the defining property of the idf
    component. 'rare' hits 1 of 6 docs, 'common' hits 5 of 6."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "rare pad1 pad2"),
            (2, "common pad1 pad2"),
            (3, "common pad3 pad4"),
            (4, "common pad5 pad6"),
            (5, "common pad7 pad8"),
            (6, "common pad9 pada"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in T.bm25_search(docs, terms=("rare", "common")).collect()
    }
    cache.release()
    assert rows[1].score_u12 > rows[2].score_u12
    assert rows[1].rank == 1


def test_cache_release_bounds_sweep_state(spark, t):
    """The r7 ADVICE leak, closed end-to-end: run several
    persist-carrying operators back to back with cache.release()
    between them (exactly what oracle_check/bench/plan_audit do) and
    assert the session's persisted-RDD set returns to empty after
    every release — cached partitions cannot accumulate across a
    sweep."""
    from quasar_destination_h2_spark import cache
    from quasar_destination_h2_spark.operators import packing, text

    cache.release()
    jsc = spark.sparkContext._jsc

    def ids() -> set:
        return {
            int(k) for k in jsc.getPersistentRDDs().keySet().toArray()
        }

    # session-scoped baseline: earlier tests' localCheckpoint RDDs
    # stay pinned until GC and are NOT the operator-persist budget
    # this hook manages — and GC may unpin one of them MID-TEST, so
    # size comparisons race (a full-suite run measured 3 > 3 when an
    # old RDD vanished as a new persist appeared). Compare ID SETS:
    # concurrent GC only ever REMOVES baseline ids, never adds.
    baseline_ids = ids()
    for build in (
        lambda: text.tfidf_top_terms(t.documents),
        lambda: text.unigram_logprob(t.documents),
        lambda: packing.shard_balance(t.documents),
    ):
        assert build().count() > 0
        assert ids() - baseline_ids  # persisted something new
        cache.release()
        assert ids() - baseline_ids == set()  # released every new one


# ---------------------------------------------------------------------------
# k-means (Lloyd) refinement of the IVF quantizer [r9]
# ---------------------------------------------------------------------------


def _clustered_embeddings(spark, K=8, per=50, dim=64):
    """Deterministic synthetically clustered corpus: K axis-aligned
    block clusters with small integer-derived jitter (+-0.5/12) — the
    data shape where a data-INdependent (md5-seeded) quantizer
    measurably underperforms a refined one."""
    rows = []
    for i in range(K * per):
        c = i % K
        v = [0.0] * dim
        for d in range(c * (dim // K), (c + 1) * (dim // K)):
            v[d] = 1.0
        for d in range(dim):
            v[d] += ((i * 31 + d * 7) % 13 - 6) / 12.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _mean_recall(emb, cents, nprobe, n_list):
    r = similarity.ivf_recall(
        emb, n_queries=10, k=5, nprobe=nprobe, n_list=n_list, cents=cents
    ).collect()
    return sum(x.recall_ppm for x in r) / len(r)


def test_kmeans_refinement_improves_recall_on_clustered_corpus(spark):
    """The r8 VERDICT demand, pinned: on a clustered corpus the
    Lloyd-refined quantizer delivers measurably higher recall@5 than
    the md5-seeded baseline through the SAME ann_ivf_recall contract
    (deterministic fixture -> deterministic margin: 840000 -> 920000
    ppm at nprobe=1, n_list=8, 3 rounds)."""
    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark)
    base = _mean_recall(emb, None, nprobe=1, n_list=8)
    refined = _mean_recall(
        emb, similarity.kmeans_refine(emb, n_list=8, iters=3), nprobe=1, n_list=8
    )
    cache.release()
    assert refined > base, (refined, base)
    assert refined - base >= 50_000, (refined, base)  # >= 5pp recall gain


def test_kmeans_objective_monotone_nondecreasing(spark):
    """Lloyd invariant: the spherical-k-means objective
    (sum_sim_micro) never decreases round over round — each assign
    step and each mean-direction step can only raise it (up to the
    1e-6 rounding grain, hence the tiny slack); live clusters never
    increase (empty cells drop out and stay out)."""
    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark)
    rows = sorted(
        similarity.kmeans_convergence(emb, n_list=8, iters=3).collect(),
        key=lambda r: r.iter,
    )
    cache.release()
    assert [r.iter for r in rows] == [0, 1, 2, 3]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.sum_sim_micro >= prev.sum_sim_micro - 10, (prev, cur)
        assert cur.n_clusters <= prev.n_clusters, (prev, cur)
    # the refinement must actually move the objective, not just hold it
    assert rows[-1].sum_sim_micro > rows[0].sum_sim_micro


def test_kmeans_refined_cells_are_tighter(spark, t):
    """Cohesion check on the real fixture through the profile pair:
    mean member-to-centroid similarity of the refined index exceeds
    the md5 baseline's (the 120.7M -> 163.0M objective climb seen at
    sf0.001, normalized per member)."""
    from quasar_destination_h2_spark import cache

    base = similarity.ivf_cluster_profile(t.embeddings).collect()
    refined = similarity.ivf_cluster_profile(
        t.embeddings, cents=similarity.kmeans_refine(t.embeddings)
    ).collect()
    cache.release()

    def mean_sim(rows):
        return sum(r.sum_sim_micro for r in rows) / sum(r.n_members for r in rows)

    assert mean_sim(refined) > mean_sim(base)


def test_kmeans_mean_directions_skips_zero_vectors(spark):
    """A zero-norm vector has no direction: the centroid UPDATE
    ignores it (NULL unit vector -> posexplode drops the row), so no
    NaN/Inf/div-zero can enter the refined centroids — even under
    ANSI mode, where an unguarded 0/0 would abort the job. (Cosine
    ASSIGNMENT over a zero vector is undefined on both engines —
    the documented precondition of every cosine operator here.)"""
    assigned = spark.createDataFrame(
        [(0, [1.0] * 64, 10), (1, [0.0] * 64, 10), (2, [3.0] * 64, 10)],
        "vec_id long, embedding array<double>, centroid_id long",
    )
    cents = similarity.kmeans_mean_directions(assigned).collect()
    assert len(cents) == 1 and cents[0].centroid_id == 10
    # two unit vectors along (1,..,1): each element sums to 2*round(1/8, 6)
    expect = 2 * round(1 / 8, 6)
    for x in cents[0].cvec:
        assert abs(x - expect) < 1e-9, (x, expect)


def test_bm25_many_parity_with_single_query(spark, t):
    """bm25_search_many over a one-query table carrying exactly
    SEARCH_TERMS reproduces single-query bm25_search row for row —
    dropping non-matching (query, doc, term) triples is exact
    because an absent term's contribution is exactly 0."""
    from quasar_destination_h2_spark import cache

    single = {
        (r.doc_id, r.dl, r.score_u12, r.rank)
        for r in text.bm25_search(t.documents).collect()
    }
    qdf = spark.createDataFrame(
        [(1, tm) for tm in text.SEARCH_TERMS], "query_id bigint, term string"
    )
    many = {
        (r.doc_id, r.dl, r.score_u12, r.rank)
        for r in text.bm25_search_many(t.documents, qdf).collect()
    }
    cache.release()
    assert many == single and len(many) > 0


def test_bm25_many_single_posting_join_no_per_query_scans(spark, t):
    """The batch form's plan touches the documents corpus a bounded
    number of times (the persisted tokenized base renders under its
    two consumers) REGARDLESS of query count — scoring 3 queries and
    30 queries produces the same number of corpus scan renderings
    (no per-query replanning or rescans) and no CartesianProduct."""
    import re as _re

    from quasar_destination_h2_spark import cache

    def n_scans(n_queries):
        rows = [(q, tm) for q in range(n_queries)
                for tm in ("query", "spark", "window")]
        qdf = spark.createDataFrame(rows, "query_id bigint, term string")
        p = physical_plan(text.bm25_search_many(t.documents, qdf))
        cache.release()
        assert "CartesianProduct" not in p
        return len(_re.findall(r"FileScan parquet [^\n]*documents\.parquet", p))

    assert n_scans(3) == n_scans(30)


def test_kmeans_refine_converged_fixpoint(spark):
    """The convergence-driven build (fixpoint harness) reaches a
    plateau of the monotone objective within max_iter on the
    clustered corpus, never below the seed objective, and its final
    assignment feeds semantic_dedup's assigned= path unchanged."""
    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark, K=4, per=25)
    state = similarity.kmeans_refine_converged(emb, n_list=4, max_iter=8)
    rows = state.collect()
    assert len(rows) == 100 and {"vec_id", "embedding", "centroid_id",
                                 "sim_micro"} <= set(state.columns)
    converged_obj = sum(r.sim_micro for r in rows)
    seed_obj = sum(
        r.sim_micro
        for r in similarity._assign_scored(
            emb, similarity.ivf_centroids(emb, n_list=4)
        ).collect()
    )
    assert converged_obj >= seed_obj
    # one more Lloyd step from the converged state must not improve
    # the objective (that IS the fixpoint)
    cents = similarity.kmeans_mean_directions(state).localCheckpoint()
    again = sum(
        r.sim_micro
        for r in similarity._assign_scored(emb, cents).collect()
    )
    assert again == converged_obj, (again, converged_obj)
    # the returned state is a usable index: semantic_dedup over it
    verdicts = similarity.semantic_dedup(
        emb, assigned=state.select("vec_id", "embedding", "centroid_id")
    ).collect()
    cache.release()
    assert len(verdicts) == 100


def test_bm25_many_duplicate_query_rows_count_once(spark, t):
    """BM25 scores a term SET: duplicate (query_id, term) rows in the
    query table must not double a term's contribution (r9 review
    finding — the contrib join now deduplicates first)."""
    from quasar_destination_h2_spark import cache

    terms = [(1, tm) for tm in text.SEARCH_TERMS]
    clean = spark.createDataFrame(terms, "query_id bigint, term string")
    dup = spark.createDataFrame(
        terms + terms[:1], "query_id bigint, term string"
    )
    a = sorted(map(tuple, text.bm25_search_many(t.documents, clean).collect()))
    b = sorted(map(tuple, text.bm25_search_many(t.documents, dup).collect()))
    cache.release()
    assert a == b and len(a) > 0


def test_assign_scored_matches_ivf_assign(t):
    """_assign_scored (the k-means/convergence argmax) and ivf_assign
    (the index argmax, replayed by every IVF oracle) implement the
    SAME assignment — identical (id, centroid) for every vector,
    same rounding, same lower-centroid tie-break. Pinned so a future
    change to one cannot silently desynchronize the other (r9
    review)."""
    from quasar_destination_h2_spark import cache

    emb = t.embeddings
    cents = similarity.ivf_centroids(emb).localCheckpoint()
    via_assign = {
        r.vec_id: r.centroid_id
        for r in similarity.ivf_assign(emb, cents).collect()
    }
    via_scored = {
        r.vec_id: r.centroid_id
        for r in similarity._assign_scored(emb, cents).collect()
    }
    cache.release()
    assert via_assign == via_scored and len(via_assign) > 0


def test_weighted_sample_es_semantics(spark):
    """Efraimidis-Spirakis invariants on a crafted corpus: a huge-
    weight doc wins a slot, heavy docs dominate light ones at equal
    count, zero-token docs can never be sampled, and the draw is
    deterministic across runs."""
    rows = [(0, "w " * 10000)]                       # huge weight
    rows += [(i, "token " * 100) for i in range(1, 26)]   # heavy
    rows += [(i, "x") for i in range(26, 51)]             # light w=1
    rows += [(99, "")]                                    # zero tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = packing.weighted_sample(docs, k=20).collect()
    ids = {r.doc_id for r in got}
    assert len(got) == 20 and 99 not in ids
    assert 0 in ids  # the 10000-token doc is sampled
    heavy = sum(1 for i in ids if 1 <= i <= 25)
    light = sum(1 for i in ids if 26 <= i <= 50)
    assert heavy > light, (heavy, light)
    # deterministic: identical ranks on a second run
    again = packing.weighted_sample(docs, k=20).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # ranks are 1..k by ascending key
    by_rank = sorted(got, key=lambda r: r.rank)
    assert [r.rank for r in by_rank] == list(range(1, 21))
    assert all(
        a.score_micro <= b.score_micro
        for a, b in zip(by_rank, by_rank[1:])
    )


def test_weighted_sample_stratified_per_group(spark, t):
    """Stratified draw: every source contributes exactly
    min(k_per_group, group size) rows, and within a source the
    selected set equals the global formula's per-source prefix."""
    from pyspark.sql import functions as F

    got = packing.weighted_sample_stratified(t.documents, k_per_group=5)
    rows = got.collect()
    from collections import Counter

    per = Counter(r.source for r in rows)
    sizes = {
        r.source: r.n
        for r in t.documents.where("length(trim(text)) > 0")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for src, n in per.items():
        assert n == min(5, sizes[src]), (src, n)
    for r in rows:
        assert 1 <= r.rank <= 5


def test_ann_search_parity_with_ivf_topk_nprobe(t):
    """ann_search and ivf_topk at nprobe=2 share probe semantics (same
    rounding, same tie-breaks): probing the SAME index with corpus
    rows as the query table, ann_search's rank-1 hit is the query
    itself (cos 1.0) and ranks 2..k+1 reproduce ivf_topk's 1..k
    exactly — pinning the two implementations together so a
    change to one cannot silently drift the other (r9 review)."""
    from pyspark.sql import functions as F

    emb = t.embeddings
    cents = similarity.ivf_centroids(emb).localCheckpoint()
    assigned = similarity.ivf_assign(emb, cents).localCheckpoint()
    via_nprobe = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in similarity.ivf_topk(
            emb, n_queries=10, k=3, cents=cents, nprobe=2
        ).collect()
    }
    queries = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    via_search = similarity.ann_search(
        assigned, cents, queries, k=4, nprobe=2
    ).collect()
    for r in via_search:
        if r.rank == 1:
            assert r.neighbor_id == r.query_id and r.cos_sim == 1.0, r
        else:
            assert via_nprobe[(r.query_id, r.rank - 1)] == (
                r.neighbor_id,
                r.cos_sim,
            ), r


# ---------------------------------------------------------------------------
# Product quantization (similarity.pq_*)
# ---------------------------------------------------------------------------


def test_pq_codebooks_shape_and_determinism(spark):
    """Training is fully deterministic (md5 seeds, rounded
    assignment, exact DECIMAL sums): two independent trainings give
    identical codebooks; every subspace keeps at most K codes of
    dim/M dims (clusters may empty out and drop)."""
    from pyspark.sql import functions as F

    emb = _clustered_embeddings(spark)
    cb = similarity.pq_codebooks(emb)
    per_m = {r.m: r.n for r in cb.groupBy("m").agg(F.count("*").alias("n")).collect()}
    assert set(per_m) == set(range(similarity.PQ_M))
    assert all(1 <= n <= similarity.PQ_K for n in per_m.values())
    dims = cb.select(F.size("cvec").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [similarity.EMBED_DIM // similarity.PQ_M]
    fp = lambda frame: sorted(
        (r.m, r.code, tuple(round(x, 9) for x in r.cvec)) for r in frame.collect()
    )
    assert fp(cb) == fp(similarity.pq_codebooks(emb))


def test_pq_encode_one_code_per_subspace(spark):
    """Every (vector, subspace) gets exactly one code, and every code
    exists in that subspace's codebook."""
    from pyspark.sql import functions as F

    emb = _clustered_embeddings(spark, K=4, per=25)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    n = emb.count()
    assert codes.count() == n * similarity.PQ_M
    assert codes.select("vec_id", "m").distinct().count() == n * similarity.PQ_M
    orphans = codes.join(cb.select("m", "code"), ["m", "code"], "left_anti")
    assert orphans.count() == 0


def test_pq_rerank_recall_beats_adc_on_clustered_corpus(spark):
    """The PQ recall contract on clusterable data: raw ADC from the
    32-bit codes already recovers >= 70% of the exact top-10 per
    query, and the shortlist-then-exact-rerank serving path recovers
    ALL of it (deterministic fixture -> deterministic pin)."""
    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    adc = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, similarity.ann_pq_topk(codes, lut, 10), 10
        ).collect()
    }
    rer = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, similarity.ann_pq_rerank(emb, codes, lut, 10), 10
        ).collect()
    }
    cache.release()
    assert set(adc) == {0, 1, 2}
    assert all(v >= 700_000 for v in adc.values()), adc
    assert all(rer[q] == 1_000_000 for q in rer), rer
    assert all(rer[q] >= adc[q] for q in adc), (adc, rer)


def test_pq_probe_plan_is_broadcast_no_cartesian(t):
    """The ADC probe's 100 TB shape: the LUT lands on the codes by
    BROADCAST hash join (bounded nq x M x K frame), and nothing in
    the PQ pipeline plans a CartesianProduct."""
    emb = t.embeddings
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    plan = (
        similarity.ann_pq_topk(codes, lut, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_encode_matches_pq_encode(t):
    """Composing the coarse quantizer must not perturb the PQ codes:
    ivfpq_encode's (vec_id, m, code) against ANY centroid set equals
    pq_encode over the same codebooks — the centroid id rides the
    argmax, it doesn't participate in it."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    composed = sorted(
        (r.vec_id, r.m, r.code)
        for r in similarity.ivfpq_encode(emb, cents, cb).collect()
    )
    flat = sorted(
        map(tuple, similarity.pq_encode(emb, cb).collect())
    )
    assert composed == flat


def test_ivfpq_full_probe_equals_pq_adc(t):
    """IVF prunes, PQ scores: with probe lists covering EVERY live
    list (nprobe = n_list), the composed ADC ranking degenerates to
    exactly the flat PQ ADC ranking — the pruning is the ONLY thing
    IVF adds to the score path."""
    from pyspark.sql import functions as F

    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    all_lists = (
        lut.select("query_id")
        .distinct()
        .crossJoin(codes.select("centroid_id").distinct())
    )
    composed = sorted(
        (r.query_id, r.vec_id, r.score_micro, r.rank)
        for r in similarity.ann_ivfpq_topk(codes, lut, all_lists, 10).collect()
    )
    flat = sorted(
        map(tuple, similarity.ann_pq_topk(
            codes.select("vec_id", "m", "code"), lut, 10
        ).collect())
    )
    assert composed == flat


def test_ivfpq_rerank_recall_on_clustered_corpus(spark):
    """The composed index's recall contract on clusterable data: the
    serving path (probe 2 of 16 refined lists -> ADC shortlist ->
    exact rerank) still recovers >= 80% of the exact top-10 per
    query, and never less than the raw composed ADC."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark)
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    short = similarity.ann_ivfpq_topk(
        codes, lut, probes, similarity.PQ_SHORTLIST
    )
    adc = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, short.where("rank <= 10").select("query_id", "vec_id"), 10
        ).collect()
    }
    rer = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, similarity.ann_ivfpq_rerank(emb, short, q, 10), 10
        ).collect()
    }
    cache.release()
    assert set(rer) == {0, 1, 2}
    assert all(v >= 800_000 for v in rer.values()), rer
    assert all(rer[q] >= adc.get(q, 0) for q in rer), (adc, rer)


def test_ivfpq_probe_plan_shape(t):
    """The composed probe's 100 TB shape: probe lists and LUT land by
    BROADCAST joins (bounded frames), and nothing in the pipeline
    plans a CartesianProduct — the only nested-loop is the bounded
    query x n_list centroid cross inside probe-list selection."""
    from pyspark.sql import functions as F

    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    plan = (
        similarity.ann_ivfpq_topk(codes, lut, probes, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_filtered_search_respects_allowlist(t):
    """Filtered vector search: every result id is in the allow-list,
    and results equal the unfiltered ranking recomputed over only the
    allowed candidates (pre-filter semantics — never an underfilled
    post-filter)."""
    from pyspark.sql import functions as F

    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    allowed = emb.where("vec_id % 2 = 0").select("vec_id")
    got = similarity.ann_ivfpq_topk(codes, lut, probes, 10, allowed=allowed)
    rows = got.collect()
    assert rows and all(r.vec_id % 2 == 0 for r in rows)
    # equivalent formulation: restrict the code table itself
    want = similarity.ann_ivfpq_topk(
        codes.where("vec_id % 2 = 0"), lut, probes, 10
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))


def test_rrf_fuse_properties(spark):
    """RRF invariants: a doc ranked by BOTH sources at rank r beats a
    doc ranked r by only one; fusing a ranking with itself preserves
    its order; contributions are the exact integer 1000000 DIV
    (60 + rank)."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark.operators.text import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id bigint, doc_id bigint, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id bigint, doc_id bigint, rank int",
    )
    fused = {r.doc_id: r for r in rrf_fuse([a, b], 60, 10).collect()}
    # doc 11: 1000000//62 + 1000000//61 = 16129 + 16393
    assert fused[11].rrf_micro == 16129 + 16393 and fused[11].n_sources == 2
    assert fused[11].rank == 1  # two sources beat any single source
    assert fused[10].rrf_micro == 1000000 // 61
    # self-fusion preserves order
    self_fused = rrf_fuse([a, a], 60, 10).orderBy("rank").collect()
    assert [r.doc_id for r in self_fused] == [10, 11, 12]


def test_pagerank_known_graph(spark):
    """PageRank invariants on a hand-checkable graph: a node every
    other node points at outranks them all; symmetric peers tie; the
    integer recurrence matches a by-hand replay of round 1."""
    from quasar_destination_h2_spark.operators.iterate import pagerank

    # 1 -> 3, 2 -> 3, 3 -> 1  (3 is the hub; 2 is dangling-free but
    # receives nothing)
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    out = {r.node: r.rank_ppb for r in pagerank(edges, iterations=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3] > out[1] > out[2]
    # by hand, round 1: n=3, r0 = 333333333, base = 50000000;
    # contrib(3) = r0//1 + r0//1, contrib(1) = r0//1, contrib(2) = 0
    r0, base = 10**9 // 3, 15 * 10**9 // 300
    one = pagerank(edges, iterations=1).collect()
    got = {r.node: r.rank_ppb for r in one}
    assert got[2] == base
    assert got[1] == base + 85 * r0 // 100
    assert got[3] == base + 85 * (2 * r0) // 100
    # deterministic across runs (no RNG, no float)
    again = {r.node: r.rank_ppb for r in pagerank(edges, iterations=5).collect()}
    assert again == out


def test_countmin_heavyhitters_contract(spark):
    """CMS invariants on a known-count corpus: the top-k frame is the
    exact frequency order; every estimate is >= its exact count (the
    one-sided error contract — collisions only ADD); the bias column
    is exactly est - exact; a token's estimate never exceeds exact +
    (total occurrences - exact) (the all-collisions worst case)."""
    from quasar_destination_h2_spark.operators.text import (
        countmin_heavyhitters,
    )

    rows = [(i, "alpha " * 50 + "beta " * 20 + f"uniq{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = countmin_heavyhitters(docs, k=3).collect()
    assert [r.tok for r in out[:2]] == ["alpha", "beta"]
    assert [r.freq_exact for r in out[:2]] == [2000, 800]
    total = 2000 + 800 + 40
    for r in out:
        assert r.overestimates and r.cms_est >= r.freq_exact
        assert r.overestimate_bias == r.cms_est - r.freq_exact
        assert r.cms_est <= total


def test_bloom_membership_contract(spark):
    """Bloom invariants on a known corpus: every in-corpus probe IS a
    member (no false negatives — the one-sided contract); duplicate
    texts share a fingerprint so the bit table stays distinct-sized;
    a tiny m forces false positives (all bits saturate) while a
    roomy m keeps the absent side mostly clean; the verdict columns
    are exactly member&~in / in&~member; deterministic across runs."""
    from quasar_destination_h2_spark.operators.text import (
        bloom_membership,
    )

    rows = [
        (i, None if i == 3 else f"document body {i % 7}")
        for i in range(20)
    ]  # doc 3's NULL text must still be a member (coalesced to '')
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = bloom_membership(docs, n_probes=10).collect()
    assert len(out) == 20  # 10 present + 10 absent probes
    for r in out:
        assert not r.false_negative
        assert r.false_positive == (r.bloom_member and not r.in_corpus)
        assert r.false_negative == (r.in_corpus and not r.bloom_member)
        if r.in_corpus:
            assert r.bloom_member
    # m=1: every bit collides -> every absent probe false-positives
    sat = bloom_membership(docs, m=1, k=2, n_probes=10).collect()
    assert all(r.bloom_member for r in sat)
    assert sum(r.false_positive for r in sat) == 10
    # deterministic (no RNG)
    again = bloom_membership(docs, n_probes=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_bq_encode_packs_sign_bits(t):
    """The 1-bit codes: bit i of (sig_hi||sig_lo) == sign(dim i);
    both halves stay in the non-negative 32-bit range (engine-
    portable packing)."""
    emb = t.embeddings.where("vec_id < 20")
    rows = {r.vec_id: r for r in similarity.bq_encode(emb).collect()}
    for e in emb.collect():
        sig = rows[e.vec_id]
        assert 0 <= sig.sig_lo < 2**32 and 0 <= sig.sig_hi < 2**32
        for i, x in enumerate(e.embedding):
            bit = (
                (sig.sig_lo >> i) & 1 if i < 32 else (sig.sig_hi >> (i - 32)) & 1
            )
            assert bit == (1 if x >= 0 else 0), (e.vec_id, i)


def test_bq_rerank_recall_on_clustered_corpus(spark):
    """The BQ serving contract on clusterable data: hamming-shortlist
    + exact rerank recovers >= 80% of the exact top-10 per query and
    never less than the raw hamming ranking."""
    from pyspark.sql import functions as F

    from quasar_destination_h2_spark import cache

    emb = _clustered_embeddings(spark)
    codes = similarity.bq_encode(emb)
    qc = similarity.bq_encode(emb.where("vec_id < 3")).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    short = similarity.ann_bq_topk(codes, qc, similarity.PQ_SHORTLIST)
    raw = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, short.where("rank <= 10").select("query_id", "vec_id"), 10
        ).collect()
    }
    rer = {
        r.query_id: r.recall_ppm
        for r in similarity.pq_recall(
            emb, similarity.ann_flat_rerank(emb, short, q, 10), 10
        ).collect()
    }
    cache.release()
    assert set(rer) == {0, 1, 2}
    assert all(v >= 800_000 for v in rer.values()), rer
    assert all(rer[k] >= raw.get(k, 0) for k in rer), (raw, rer)


def test_bq_probe_plan_is_integer_codegen(t):
    """The hamming probe's 100 TB shape: the packed-codes scan reads
    TWO bigints per row (never the float vectors), the bounded query
    codes broadcast, and no CartesianProduct is planned."""
    from pyspark.sql import functions as F

    emb = t.embeddings
    codes = similarity.bq_encode(emb)
    qc = similarity.bq_encode(emb.where("vec_id < 3")).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    plan = (
        similarity.ann_bq_topk(codes.localCheckpoint(), qc, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_mmr_selection_is_diverse_and_relevance_anchored(spark):
    """MMR invariants on the clustered corpus: step 1 is the plain
    most-relevant candidate; all k selections are distinct candidate
    members; and the MMR set's mean pairwise similarity is LOWER
    than the plain top-k's (the whole point — on clustered data the
    top-k is redundant)."""
    from pyspark.sql import functions as F

    emb = _clustered_embeddings(spark)
    cand = (
        similarity.brute_force_topk(emb, 3, 20)
        .select(
            "query_id",
            F.col("neighbor_id").alias("vec_id"),
            (F.col("cos_sim").cast("decimal(28,10)") * 1000000)
            .cast("bigint")
            .alias("rel_micro"),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .localCheckpoint()
    )
    sel = similarity.mmr_select(cand, 5)
    rows = sel.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.step] = r.vec_id
    top1 = {
        r.query_id: r.vec_id
        for r in cand.withColumn(
            "_r",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("query_id")
                .orderBy(F.col("rel_micro").desc(), F.col("vec_id"))
            ),
        )
        .where("_r = 1")
        .collect()
    }
    for q, steps in by_q.items():
        assert steps[1] == top1[q]
        assert len(set(steps.values())) == 5

    def mean_pairwise(ids_by_q):
        vecs = {
            r.vec_id: r.embedding
            for r in emb.where(
                F.col("vec_id").isin(
                    [v for ids in ids_by_q.values() for v in ids]
                )
            ).collect()
        }
        import math

        tot, n = 0.0, 0
        for ids in ids_by_q.values():
            ids = list(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    a, b = vecs[ids[i]], vecs[ids[j]]
                    dot = sum(x * y for x, y in zip(a, b))
                    na = math.sqrt(sum(x * x for x in a))
                    nb = math.sqrt(sum(x * x for x in b))
                    tot += dot / (na * nb)
                    n += 1
        return tot / n

    mmr_ids = {q: set(steps.values()) for q, steps in by_q.items()}
    plain_ids = {}
    for r in (
        cand.withColumn(
            "_r",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("query_id")
                .orderBy(F.col("rel_micro").desc(), F.col("vec_id"))
            ),
        )
        .where("_r <= 5")
        .collect()
    ):
        plain_ids.setdefault(r.query_id, set()).add(r.vec_id)
    assert mean_pairwise(mmr_ids) < mean_pairwise(plain_ids)
