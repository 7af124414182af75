"""[EXT] Similarity search over the ``embeddings`` table.

Two paths, per the north-star brief:

* **brute-force cosine top-k** — the correctness baseline: broadcast
  the (small) query set against the corpus, JVM-side zip_with dot
  products, window top-k. Linear in corpus size; right answer, and
  at 100 TB still viable when the query set is small (the corpus is
  scanned once, never shuffled — the only shuffle is the per-query
  top-k, k rows per query).
* **random-hyperplane LSH buckets** — the scale path: sign-pattern
  bucketing with fixed hyperplanes (seeded, embedded as literals so
  the DuckDB oracle reproduces the buckets exactly), candidates =
  same-bucket rows only, then exact cosine within the bucket. The
  candidate join is a hash-equality join on the bucket id — never a
  cross product.

Cosine values are rounded to 6 decimals *before* ranking so the
(rounded-score, id) ordering is identical across engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

EMBED_DIM = 64
N_PLANES = 4  # 16 buckets — coarse on purpose (recall over precision)
_PLANE_SEED = 42


def lsh_planes(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Fixed random hyperplanes (seed 42), rounded to 4 decimals so
    the SQL-literal oracle is byte-identical to what Spark computes."""
    rng = np.random.default_rng(_PLANE_SEED)
    return [[round(float(v), 4) for v in rng.standard_normal(dim)] for _ in range(n_planes)]


def _dot(a: Column, b: Column) -> Column:
    """Elementwise product + in-order sum, all in double (float32
    inputs are cast up exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int, score: Column, tie: str) -> DataFrame:
    """Per query, the ``k`` best rows of ``scored`` by the ordering
    ``score`` (``F.desc(similarity)``, or an ascending distance), ties
    to the lower ``tie`` id, with their ``rank`` 1..k: the one top-k
    cut of every ranking operator here — a row_number window
    partitioned by query_id, per-query work and never a global sort
    (the per-partition top-k of REPOSE, ICDE 2021)."""
    w = Window.partitionBy("query_id").orderBy(score, F.col(tie))
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) broadcast
    against the full corpus; rank by (rounded cosine desc, id)."""
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _topk(scored, k, F.desc("cos_sim"), "neighbor_id")


def bucket_expr(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit p = sign(vec . plane_p); id = sum bit<<p."""
    bucket = None
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec_col, lit_plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else (bucket + bit)
    return bucket.cast("int")


def probe_masks(n_planes: int = N_PLANES) -> list[int]:
    """Multi-probe masks (Lv et al., VLDB'07): the exact bucket plus
    every 1-bit flip — recall ~3x over single-probe at the cost of
    n_planes+1 equality lookups per query."""
    return [0] + [1 << p for p in range(n_planes)]


def lsh_bucketed_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN: candidates restricted to the query's multi-
    probe LSH buckets (own bucket + 1-bit flips), exact cosine
    within. Equality join on bucket — at scale the corpus is
    hash-partitioned (or bucketed on disk) by bucket id, so each
    probe touches n_planes+1 partitions, not the corpus."""
    planes = lsh_planes()
    with_b = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    q = (
        with_b.where(F.col("_id") < n_queries)
        .select(
            F.col("_id").alias("query_id"),
            F.col("_v").alias("qv"),
            F.explode(F.array(*[F.lit(m) for m in probe_masks()])).alias("_m"),
            F.col("bucket").alias("_qb"),
        )
        .select(
            "query_id",
            "qv",
            F.col("_qb").bitwiseXOR(F.col("_m")).cast("int").alias("bucket"),
        )
    )
    c = with_b.select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _topk(scored, k, F.desc("cos_sim"), "neighbor_id")


#: IVF coarse-quantizer: centroids are dataset vectors picked by a
#: fixed seeded draw (ids, not values, so the oracle can join to the
#: same rows). A trained k-means would be the production path; the
#: index structure — assign to nearest centroid, probe nearest
#: centroid's list — is identical.
IVF_N_LIST = 16
_IVF_SEED = 7


def ivf_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
) -> DataFrame:
    """The n_list dataset vectors with the smallest md5('seed:id') —
    a deterministic pseudorandom sample computed IN the plan (a
    TakeOrderedAndProject top-k, no driver round-trip) that any other
    engine reproduces exactly at any corpus size."""
    key = F.md5(
        F.concat(F.lit(f"{_IVF_SEED}:"), F.col(id_col).cast("string"))
    )
    return (
        emb.select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
            key.alias("_k"),
        )
        .orderBy("_k", "centroid_id")
        .limit(n_list)
        .drop("_k")
    )


def _centroid_rows(
    cents: "DataFrame | list",
) -> list[tuple[int, list[float]]]:
    """Driver-collected (centroid_id, cvec) pairs of a BOUNDED
    quantizer frame (n_list or m x k rows — never corpus-sized).
    ``cents`` may also be rows the caller already holds (any Row or
    mapping carrying ``centroid_id`` and ``cvec`` — e.g. the centroids
    an index manifest stores), which then cost no Spark job.

    r16 optimization (guide §2.4 — remove shuffles outright): the
    assign/encode argmaxes used to be broadcast-crossJoin + groupBy
    aggregations whose Exchange carried one row PER CORPUS VECTOR,
    each dragging the full embedding, once per k-means round / encode
    pass — a full-corpus shuffle that existed only to pick a per-row
    max. Collecting the tiny quantizer to the driver and embedding it
    as plan literals turns the argmax into a per-row expression inside
    the scan stage: same 6-rounded cosines, same tie order, ZERO
    exchange, and the quantizer lineage is truncated at the driver so
    training rounds no longer need per-round checkpoints. float32
    values widen to double exactly; every cosine here already cast to
    double, so the arithmetic is bit-identical."""
    rows = (
        cents
        if isinstance(cents, list)
        else cents.select("centroid_id", "cvec").collect()
    )
    return [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]]) for r in rows
    ]


def _sql_double(x: float) -> str:
    """Exact SQL rendering of a double: ``repr`` emits the shortest
    decimal that round-trips to the same IEEE-754 double, and the
    string cast parses it back bit-exactly."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _sql_entries(rows: list[tuple[int, list[float]]]) -> str:
    """SQL literal array<struct<id bigint, n double, cv array<double>>>
    of the collected quantizer entries. ``n`` is the entry's L2 norm,
    PRECOMPUTED on the driver with the exact operation order of
    :func:`_norm` (in-order double sum of squares, then sqrt — Python
    doubles are IEEE-754 and ``math`` sqrt is correctly rounded, so
    the literal equals what Spark would compute bit for bit); baking
    it in removes two of the three per-entry aggregates from the
    per-row cosine (measured ~25% off the whole assign pass)."""
    import math

    out = []
    for cid, cv in rows:
        acc = 0.0
        for x in cv:
            acc += x * x
        out.append(
            "named_struct('id', CAST(%d AS BIGINT), 'n', %s, 'cv', array(%s))"
            % (
                cid,
                _sql_double(math.sqrt(acc)),
                ",".join(_sql_double(v) for v in cv),
            )
        )
    return "array(" + ",".join(out) + ")"


def _quoted(col: str) -> str:
    """Backtick-quote a column name for embedding in a raw SQL
    fragment, escaping embedded backticks (advisor r16: a column
    name containing a backtick must not break out of the quoted
    identifier in the generated argmax expression)."""
    return "`" + col.replace("`", "``") + "`"


#: SQL twin of :func:`_dot` — elementwise double product, in-order
#: double sum (identical operations, identical result).
_SQL_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
    "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _nearest_struct(vec_sql: str, rows: list[tuple[int, list[float]]]) -> Column:
    """struct(s = round(cosine(vec, cvec), 6), nc = -id) of the
    nearest entry: array_max compares the per-entry structs
    lexicographically, which IS ``max_by(id, struct(sim, -id))`` —
    max similarity first, ties to the LOWER id. Bit-identical to the
    groupBy argmax it replaces: cosine = dot / (norm_v * norm_c) with
    the same operation tree — norm_v is computed ONCE per row (the
    single-element-transform binding, so the 16 entries don't each
    re-aggregate it) and norm_c is the driver-precomputed literal of
    :func:`_sql_entries` (same in-order sum + sqrt). Evaluated per
    row with no shuffle.

    Built as ONE ``F.expr`` over a single literal entry array with
    the cosine written once against the lambda variable — a
    per-Column construction (one py4j round trip per expression node,
    one cosine subtree per entry) measured 3-5 s of pure DRIVER time
    per call site at n_list=16 x dim=64; the one-string form parses
    in milliseconds and evaluates identically."""
    return F.expr(_entry_scores_sql(vec_sql, rows, "array_max({})"))


def _entry_scores_sql(
    vec_sql: str, rows: list[tuple[int, list[float]]], reduce: str
) -> str:
    """SQL of ``reduce`` (a format string, ``{}`` = the array) applied
    to the per-entry array<struct<s, nc>> of one vector against the
    literal entries: s = round(cosine(vec, cv), 6), nc = -id, the
    vector's norm bound once. See :func:`_nearest_struct`."""
    norm_v = f"SQRT({_SQL_DOT.format(a=vec_sql, b=vec_sql)})"
    dot = _SQL_DOT.format(a=vec_sql, b="c.cv")
    scores = (
        f"transform({_sql_entries(rows)}, c -> named_struct("
        f"'s', round({dot} / (nv * c.n), 6), "
        f"'nc', -c.id))"
    )
    return f"transform(array({norm_v}), nv -> {reduce.format(scores)})[0]"


def _nearest_l2_struct(
    vec_sql: str, rows: list[tuple[int, list[float]]]
) -> Column:
    """struct(d2 = round(||vec-cvec||^2, 6), code) of the nearest
    entry by MIN squared Euclidean distance — array_min over the
    per-entry structs is ``min_by(code, struct(d2, code))``: min
    distance first, ties to the LOWER code id. The difference array
    is bound once via the single-element-transform idiom (the SQL
    twin of :func:`_d2_rounded`'s bind_once)."""
    diff = f"zip_with({vec_sql}, c.cv, (x, y) -> x - y)"
    d2 = (
        f"transform(array({diff}), d -> "
        f"round({_SQL_DOT.format(a='d', b='d')}, 6))[0]"
    )
    return F.expr(
        f"array_min(transform({_sql_entries(rows)}, c -> named_struct("
        f"'d2', {d2}, 'code', c.id)))"
    )


def ivf_assign(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine —
    ties broken by lower centroid id). The n_list centroid vectors
    are driver-collected and embedded as plan LITERALS
    (:func:`_centroid_rows`), so the per-vector argmax is a per-row
    expression evaluated inside the scan stage — ZERO exchange (r16;
    guide §2.4). Earlier forms compared: the broadcast-crossJoin +
    map-side-combined ``max_by`` aggregation still shuffled |corpus|
    rows (each dragging the full embedding) through its groupBy
    Exchange; the window formulation shuffled |corpus| x n_list rows
    (``tools/scale_probe.py --ivf`` measured it 15.5x slower at
    n_list=256 — IVF_PROBE_r7.json). The literal form shuffles
    nothing and scales with n_list only in per-row FLOPs."""
    rows = _centroid_rows(cents)
    if not rows:
        return emb.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(None).cast("bigint").alias("centroid_id"),
        ).where(F.lit(False))
    best = _nearest_struct(_quoted(vec_col), rows)
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        (-best["nc"]).alias("centroid_id"),
    )


#: Lloyd-refinement rounds for the oracle-paired k-means queries —
#: fixed and small so the DuckDB oracle can replay the exact bounded
#: iteration as unrolled CTEs (a convergence-driven round count would
#: be data-dependent and not statically SQL-expressible).
KMEANS_ITERS = 2


def _unit_rounded(v: Column) -> Column:
    """6-rounded unit-normalized copy of vector ``v`` (NULL for a
    zero-norm vector, which contributes nothing to a mean direction).
    Rounding BEFORE the cross-partition sum is what makes the
    per-cluster mean direction engine-exact: the rounded elements are
    lifted to DECIMAL(38,6) and summed order-independently."""
    from .text import bind_once

    return bind_once(
        F.struct(v.alias("v"), _dot(v, v).alias("n2")),
        lambda s: F.when(
            s["n2"] > 0,
            F.transform(
                s["v"], lambda e: F.round(e.cast("double") / F.sqrt(s["n2"]), 6)
            ),
        ),
    )


def kmeans_mean_directions(
    assigned: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-cluster mean DIRECTION — the spherical-k-means centroid
    update: elementwise exact DECIMAL(38,6) sums of each member's
    6-rounded unit vector (cosine is scale-invariant, so the un-
    divided sum IS the centroid: no mean quotient anywhere, dodging
    the cross-engine quotient-rounding trap label_centroids
    documents). Empty clusters simply drop out (both engines).

    Scale shape: posexplode widens the corpus by the dimension, but
    the per-(centroid, pos) aggregation partial-combines map-side, so
    the shuffle carries n_list x dim rows regardless of corpus size
    (the label_centroids shape). Output: (centroid_id, cvec)."""
    e = assigned.select(
        "centroid_id",
        F.posexplode(_unit_rounded(F.col(vec_col))).alias("pos", "u"),
    )
    sums = e.groupBy("centroid_id", "pos").agg(
        F.sum(F.col("u").cast("decimal(38,6)")).alias("sm")
    )
    return sums.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("pos"), F.col("sm").cast("double").alias("m"))
                )
            ),
            lambda s: s["m"],
        ).alias("cvec")
    )


def kmeans_refine(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Lloyd (spherical k-means) refinement of the md5-seeded IVF
    coarse quantizer: ``iters`` rounds of assign-to-nearest (max
    rounded cosine, ties to lower centroid id) then mean-direction
    update. The md5 draw provides deterministic, engine-reproducible
    SEEDS; refinement makes the quantizer data-DEPENDENT — on
    clustered embeddings that is the difference between an index and
    an arbitrary partition (r8 VERDICT; recall gain pinned by
    tests/test_ext_operators.py on a synthetically clustered corpus,
    measured per-query by the ann_ivf_recall_kmeans contract).

    Scale shape per round (r16): ONE shuffle-free corpus pass — the
    literal-argmax assign (:func:`_centroid_rows`) fused with the
    n_list x dim mean-direction aggregate, materialized by the
    driver collect that feeds the NEXT round's literals. The collect
    replaces the per-round localCheckpoint: both truncate lineage,
    but the collect also removes the assign Exchange and makes the
    returned centroids a LocalRelation every consumer (store,
    broadcast, re-assign) reads for free. Returns (centroid_id,
    cvec); centroid ids remain the seed ids (clusters that empty out
    disappear). Precondition (shared by every cosine operator here):
    no zero-norm vectors in ``emb`` — cosine is undefined for them
    and ANSI mode aborts on the 0/0; the centroid UPDATE is guarded
    regardless (_unit_rounded yields NULL -> the row drops out)."""
    if iters <= 0:
        return ivf_centroids(emb, id_col, vec_col, n_list).localCheckpoint()
    cents = ivf_centroids(emb, id_col, vec_col, n_list)
    for _ in range(iters):
        # ivf_assign collects `cents` (the seed top-k on round 1, the
        # previous round's mean-direction aggregate after) — one
        # bounded driver action per round, the only action in it
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        cents = kmeans_mean_directions(assigned, vec_col)
    rows = [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cents.select("centroid_id", "cvec").collect()
    ]
    return emb.sparkSession.createDataFrame(
        rows, "centroid_id bigint, cvec array<double>"
    )


def _assign_scored(
    emb: DataFrame,
    cents: "DataFrame | list",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_assign carrying the winning similarity: (id, vec,
    centroid_id, sim_micro). Same literal-argmax shape (r16 —
    :func:`_centroid_rows`): zero-exchange per-row expression;
    sim_micro is the 6-rounded cosine lifted to exact integer
    micro-units. The struct max is referenced twice (id and score);
    whole-stage codegen's subexpression elimination evaluates it
    once per row."""
    rows = _centroid_rows(cents)
    if not rows:
        return emb.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(None).cast("bigint").alias("centroid_id"),
            F.lit(None).cast("bigint").alias("sim_micro"),
        ).where(F.lit(False))
    best = _nearest_struct(_quoted(vec_col), rows)
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        (-best["nc"]).alias("centroid_id"),
        (best["s"].cast("decimal(28,10)") * 1000000)
        .cast("bigint")
        .alias("sim_micro"),
    )


def kmeans_refine_converged(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    max_iter: int = 10,
    reliable: bool = False,
) -> DataFrame:
    """Convergence-DRIVEN Lloyd refinement on the
    :func:`operators.iterate.fixpoint` harness: iterate
    assign → mean-direction until the exact integer objective
    (sum_sim_micro) stops improving, capped at ``max_iter``. The
    state is the scored assignment frame — returned as THE index:
    (id, vec, centroid_id, sim_micro), ready to be materialized
    bucketed by centroid_id (semantic_dedup's ``assigned=`` path) or
    aggregated to centroids via :func:`kmeans_mean_directions`.

    Use this form when the round count should follow the DATA (a
    production index build); the fixed-``iters``
    :func:`kmeans_refine` exists so the conformance oracles can
    replay a bounded iteration in SQL. One tiny objective aggregate
    per round is the only driver action (the fixpoint contract);
    ``reliable=True`` swaps per-round lineage truncation to durable
    checkpoints for revocable executors, exactly as
    operators/iterate.py documents. Spherical k-means' objective is
    monotone nondecreasing, so a plateau IS the fixpoint (up to the
    1e-6 rounding grain)."""
    from .iterate import fixpoint

    cents0 = ivf_centroids(emb, id_col, vec_col, n_list).localCheckpoint()
    state0 = _assign_scored(emb, cents0, id_col, vec_col)

    def step(state: DataFrame) -> DataFrame:
        # _assign_scored collects the mean-direction aggregate (r16
        # literal-argmax form) — a bounded driver action over the
        # PRIOR round's checkpointed state that doubles as the
        # round's lineage truncation, so no checkpoint of the tiny
        # centroid frame is needed here
        cents = kmeans_mean_directions(state, vec_col)
        return _assign_scored(emb, cents, id_col, vec_col)

    def measure(state: DataFrame) -> float:
        v = state.agg(F.sum("sim_micro")).collect()[0][0]
        # SUM over zero rows is NULL: an empty corpus is already at
        # its fixpoint (constant measure ends the loop immediately)
        return float(v) if v is not None else 0.0

    return fixpoint(state0, step, measure, max_iter=max_iter, reliable=reliable)


def kmeans_convergence(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """The k-means objective trace: after each refinement round, the
    number of live clusters and the EXACT integer sum of member-to-
    centroid similarities (sum_sim_micro — the spherical-k-means
    objective; inertia analog = n*1e6 - sum). Lloyd guarantees the
    objective is monotone nondecreasing round over round (each
    assign step and each mean-direction step can only raise it, up
    to the 1e-6 rounding grain) — the property the conformance test
    pins and the instrument that says when more rounds stop paying.

    Shape: each round's scored assignment is persisted once (via
    cache.persisted) and feeds BOTH its one-row objective aggregate
    and the next round's centroid update — one corpus pass per
    round, exactly the kmeans_refine cost. Output: (iter,
    n_clusters, sum_sim_micro), iter 0 = the md5 seeds.

    Cache lifecycle (r17, guide §5): the objective row is collected
    EAGERLY per round (the same action that materializes that
    round's cache) and the PRIOR round's assignment unpersists as
    soon as the next round's centroid literals have been collected
    from it — at most two corpus-sized cached frames are ever live,
    where the lazy-union form accumulated all ``iters + 1`` of them
    (MEMORY_AND_DISK) until the final action. The last round's frame
    stays registered for the harness-level release between queries,
    like every operator cache."""
    from .. import cache

    cents = ivf_centroids(emb, id_col, vec_col, n_list)
    rows = []
    prev_sc = None
    for it in range(iters + 1):
        # _assign_scored collects `cents` (r16 literal-argmax form):
        # round 0 materializes the seed top-k, later rounds the
        # mean-direction aggregate over the PERSISTED prior
        # assignment — the collect replaces the former per-round
        # localCheckpoint (same one-action-per-round cost, no assign
        # Exchange, lineage truncated at the driver). After it, the
        # prior round's cache has no remaining reader (its objective
        # row is already collected), so it unpersists here.
        sc = cache.persisted(_assign_scored(emb, cents, id_col, vec_col))
        if prev_sc is not None:
            prev_sc.unpersist()
        prev_sc = sc
        r = sc.agg(
            F.count_distinct("centroid_id").cast("bigint").alias(
                "n_clusters"
            ),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        ).collect()[0]
        rows.append(
            (
                it,
                int(r["n_clusters"]),
                None
                if r["sum_sim_micro"] is None
                else int(r["sum_sim_micro"]),
            )
        )
        if it < iters:
            cents = kmeans_mean_directions(sc, vec_col)
    return emb.sparkSession.createDataFrame(
        rows, "iter bigint, n_clusters bigint, sum_sim_micro bigint"
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster by the IVF coarse quantizer, then drop
    any vector that has a higher-priority (lower-id) neighbor in the
    SAME cluster with cosine >= threshold. The quadratic comparison is
    confined to one cluster — the whole point of clustering first —
    and the cluster join is a plain hash equi-join on centroid_id.
    At 100 TB: grow n_list so E[cluster]^2 stays bounded (n_list ~
    n/1e5 keeps per-cluster work linear-ish), and bucket the stored
    corpus by centroid_id so the self-join is co-located.

    Returns every vector with its cluster and a `kept` verdict —
    deterministic (id-priority), engine-independent. The assignment
    is materialized once (the index-build step — at scale this is
    the bucketed-by-centroid write) and feeds both self-join sides
    and the verdict join; declarative reuse would re-scan and
    re-assign the corpus three times (verified).

    ``assigned`` swaps in a PRE-MATERIALIZED assignment table
    ((id, vec, centroid_id) — typically written once via
    ``engine.materialize_bucketed(..., ["centroid_id"])``): the
    production path where the index is stored bucketed BY
    centroid_id, so the in-cluster self-join reads co-located
    buckets with no exchange (pinned by
    tests/test_bucketing.py::test_bucketed_semantic_dedup)."""
    if assigned is None:
        assigned = ivf_assign(
            emb, ivf_centroids(emb, id_col, vec_col, n_list), id_col, vec_col
        ).localCheckpoint()
    a = assigned.select(
        F.col(id_col).alias("u_id"), F.col(vec_col).alias("uv"), "centroid_id"
    )
    b = assigned.select(
        F.col(id_col).alias("v_id"), F.col(vec_col).alias("vv"), "centroid_id"
    )
    dropped = (
        a.join(b, "centroid_id")
        .where(F.col("u_id") < F.col("v_id"))
        .where(F.round(cosine(F.col("uv"), F.col("vv")), 6) >= threshold)
        .select(F.col("v_id").alias("dup_id"))
        .distinct()
    )
    return assigned.join(
        dropped, F.col(id_col) == F.col("dup_id"), "left"
    ).select(
        id_col,
        "centroid_id",
        F.col("dup_id").isNull().alias("kept"),
    )


def _top_lists(rows: list[tuple[int, list[float]]], nprobe: int) -> Column:
    """Per row of a (query_id, qv) frame, its ``nprobe`` nearest IVF
    lists as an array of struct(s, nc = -centroid_id), nearest first.
    The centroids are driver-held plan LITERALS (``rows`` of
    :func:`_centroid_rows`, the literal-argmax of :func:`ivf_assign`):
    each query row scores every centroid in one per-row expression,
    ``sort_array``s the (6-rounded cosine, -centroid_id) structs
    descending and keeps the first ``nprobe`` — the scores and the
    lower-id tie order of a window top-nprobe, with no centroid
    broadcast, no cross join and no window."""
    if not rows:
        return F.expr("CAST(array() AS array<struct<s: double, nc: bigint>>)")
    return F.expr(
        _entry_scores_sql(
            "qv", rows, f"slice(sort_array({{}}, false), 1, {max(nprobe, 0)})"
        )
    )


def _nearest_lists(
    qv: DataFrame, rows: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """``qv`` (query_id, qv) with each query exploded to its
    ``nprobe`` nearest lists (:func:`_top_lists`): + centroid_id."""
    return qv.select(
        "query_id", "qv", F.explode(_top_lists(rows, nprobe)).alias("_p")
    ).select("query_id", "qv", (-F.col("_p.nc")).alias("centroid_id"))


def _scan_lists(
    assigned: DataFrame,
    q: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    broadcast: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """The probe of the (query_id, qv, centroid_id) frame ``q`` over
    the inverted lists ``assigned``: ONE equality join on centroid_id
    (``q`` broadcast unless ``broadcast`` is False), exact 6-rounded
    cosines, a per-query top-k. Output (query_id, neighbor_id,
    centroid_id, cos_sim, rank)."""
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    j = c.join(F.broadcast(q) if broadcast else q, "centroid_id")
    if exclude_self:
        j = j.where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.select(
        "query_id",
        "neighbor_id",
        "centroid_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return _topk(scored, k, F.desc("cos_sim"), "neighbor_id")


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    cents: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-flat ANN: each corpus vector with id < ``n_queries``
    searches its ``nprobe`` nearest centroid lists (itself excluded).
    At scale the corpus is partitioned (or stored bucketed) by
    centroid_id, so a probe scans nprobe inverted lists, not the
    corpus; every joined pair is unique because a corpus vector lives
    in exactly one list. ``cents`` swaps in a refined coarse quantizer
    (kmeans_refine); default = the md5-seeded draw.

    The centroids are collected once and serve both the assignment
    and the list selection. The assignment is MATERIALIZED
    (``localCheckpoint``) — that is the IVF index build, done once and
    probed many times; leaving it declarative makes every subtree that
    touches the index re-scan and re-assign the whole corpus
    (verified: 4 embedding scans without, 1 with). The queries are
    read from it: at nprobe=1 each query's own list is the one its
    assignment names (its nearest centroid — reading it measured
    faster than scoring the literal centroids again); above, the lists
    are the literal top-nprobe of :func:`ann_search`."""
    if cents is None:
        cents = ivf_centroids(emb, id_col, vec_col, n_list)
    rows = cents.select("centroid_id", "cvec").collect()
    assigned = ivf_assign(emb, rows, id_col, vec_col).localCheckpoint()
    q = assigned.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "centroid_id",
    )
    if nprobe != 1:
        q = _nearest_lists(q.drop("centroid_id"), _centroid_rows(rows), nprobe)
    return _scan_lists(assigned, q, k, id_col, vec_col, exclude_self=True)


def ann_search(
    assigned: DataFrame,
    cents: "DataFrame | list",
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Query-TABLE-driven IVF probe over a PRE-BUILT index — the
    serving form of the ANN stack (the bm25_search_many analogue):
    ``queries`` is an external (query_id, qv) table, not a corpus
    sample; ``assigned``/``cents`` are the built index
    (ivf_assign + ivf_centroids/kmeans_refine), typically stored
    ONCE via ``engine.build_ivf_index`` with the assignment
    bucketed BY centroid_id so every probe join reads co-located
    inverted lists. ``cents`` is the centroid frame or rows the
    caller already holds (engine.ann_topk passes the centroids of
    the index manifest).

    Shape: each query picks its ``nprobe`` lists against the literal
    centroids (:func:`_nearest_lists`); the exploded (query, list)
    frame then meets the stored lists in ONE equality join on
    centroid_id — per query, nprobe lists are scanned, never the
    corpus — and a per-query row_number top-k. No rebuild, no
    per-query replanning; query count scales the probe join's small
    side only.

    ``broadcast_queries`` (default True — the serving contract: a
    probe call carries a bounded query BATCH) hints the probe frame
    into the list join exactly like :func:`ivf_topk`, so the stored
    corpus streams with zero corpus-side exchange. Pass False for a
    query table that rivals the corpus (offline all-pairs scoring):
    the join falls back to a key join AQE plans — with the index
    stored bucketed by centroid_id, the corpus side still reads
    co-located buckets without a shuffle.

    Output: (query_id, neighbor_id, centroid_id, cos_sim, rank)."""
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    )
    q = _nearest_lists(qv, _centroid_rows(cents), nprobe)
    return _scan_lists(assigned, q, k, id_col, vec_col, broadcast_queries)


def ivf_recall(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    cents: DataFrame | None = None,
) -> DataFrame:
    """ANN accuracy contract: per-query recall@k of the multi-probe
    IVF index against the exact brute-force ranking — THE measurement
    that sets nprobe/n_list before anyone trusts an index at 100 TB
    (a production pipeline runs exactly this on a bounded query
    sample, because exact search over the full corpus per query is
    what the index exists to avoid).

    Shape: both sides reuse the shipped operators' plans unchanged —
    the exact side is quadratic ONLY in |query sample| x corpus
    (bounded by construction; the reason recall is measured on a
    sample), the IVF side probes nprobe inverted lists per query.
    The hit join is (query_id, neighbor_id) keyed on two bounded
    top-k frames (n_queries x k rows each). recall_ppm is integer
    floor division — engine-exact; ties below the top-k cut are
    deterministic on both engines because scores are 6-rounded and
    tie-broken on neighbor_id before ranking.

    Output: (query_id, k_eval, n_hits, recall_ppm); k_eval < k only
    when the corpus has fewer than k candidates.
    """
    exact = brute_force_topk(emb, n_queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        emb, n_queries, k, id_col, vec_col, n_list, cents, nprobe
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_eval"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "query_id",
            "k_eval",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV k_eval AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


def ivf_cluster_profile(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_list: int = IVF_N_LIST,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF index balance + cohesion diagnostic: per-inverted-list
    member count (with its corpus share in integer ppm) and the
    EXACT sum of member-to-centroid similarities — the "is my index
    balanced, are the cells tight" questions asked before trusting
    probe counts at scale. A skewed inverted list is to IVF probing
    what a hot key is to a join (key_skew_profile's story,
    specialized to the index: probing a list holding 30% of the
    corpus IS a corpus scan); a loose cell (low cohesion) predicts
    recall loss at small nprobe — read together with
    :func:`ivf_recall`.

    Shape (r16, guide §2.3/§2.4): ONE corpus pass — the literal-
    argmax scored assignment (:func:`_assign_scored`) already carries
    the winning 6-rounded cosine in integer micro-units, so the
    profile is a single n_list-key aggregation over it, plus a
    one-row total broadcast. The earlier form re-joined the
    assignment to a broadcast centroid frame and recomputed the
    winning cosine per corpus row — a whole extra corpus-wide
    broadcast join + cosine pass that the r16opt A/B measured as a
    1.55x regression on this entry once the assign itself went
    exchange-free. Cohesion is published as the exact integer
    micro-unit SUM (not the mean): cosines can be negative, and
    floor-vs-truncate integer division diverges across engines below
    zero — the sum is division-free and bit-exact.

    Output: (centroid_id, n_members, share_ppm, sum_sim_micro).
    ``cents`` swaps in a refined coarse quantizer (kmeans_refine).
    """
    if cents is None:
        cents = ivf_centroids(emb, id_col, vec_col, n_list)
    # _assign_scored driver-collects the bounded quantizer itself —
    # no checkpoint needed, and sim_micro IS the joined-recompute's
    # value: the same round-6 cosine of (vector, winning centroid),
    # lifted through the same DECIMAL(28,10) x 1e6 cast
    assigned = _assign_scored(emb, cents, id_col, vec_col)
    per = (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
    )
    # the corpus-share denominator as a global windowed sum over the
    # n_list-row aggregate (r16): the crossJoin(broadcast(agg(per)))
    # form instantiated the whole corpus-agg subtree TWICE in the
    # plan (the audit's allowlisted "1-row total rescan"); the window
    # keeps one subtree — its exchange is a single partition of
    # n_list rows, not corpus data. Same exact integer arithmetic.
    return per.withColumn(
        "_total", F.sum("n_members").over(Window.partitionBy())
    ).select(
        "centroid_id",
        "n_members",
        F.expr("CAST(n_members * 1000000 DIV _total AS BIGINT)").alias(
            "share_ppm"
        ),
        "sum_sim_micro",
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scale quantization — the 4× storage/IO lever
    for a 100 TB embedding store (float32 → uint8 codes + 2 floats).

    Each vector is affinely mapped to codes 0..255 over its own
    [min, max] range: code = floor((x - vmin)/scale + 0.5). Pure
    per-row array arithmetic — zero shuffle, whole-stage codegen.
    Output carries the codes (csv string — engine-neutral rendering),
    the range, and the max reconstruction error (max, not sum: order-
    independent, so cross-engine float comparison is exact)."""
    from .text import bind_once

    x = F.transform(F.col(vec_col), lambda e: e.cast("double"))
    # Bind (x, min, max) once per row: array_min/max inlined into the
    # codes lambda would re-scan the vector per element (O(d^2)).
    bound = F.struct(
        x.alias("x"), F.array_min(x).alias("mn"), F.array_max(x).alias("mx")
    )

    def out(s: Column) -> Column:
        vmin, vmax = s["mn"], s["mx"]
        scale = (vmax - vmin) / F.lit(255.0)
        codes = F.when(
            vmax > vmin,
            F.transform(
                s["x"], lambda e: F.floor((e - vmin) / scale + 0.5).cast("int")
            ),
        ).otherwise(F.transform(s["x"], lambda e: F.lit(0)))
        recon_err = F.zip_with(
            s["x"], codes, lambda e, c: F.abs(vmin + c.cast("double") * scale - e)
        )
        return F.struct(
            F.round(vmin, 6).alias("vmin"),
            F.round(vmax, 6).alias("vmax"),
            F.array_join(
                F.transform(codes, lambda c: c.cast("string")), ","
            ).alias("codes_csv"),
            F.round(F.array_max(recon_err), 6).alias("qerr_max"),
        )

    q = bind_once(bound, out)
    return emb.select(
        F.col(id_col),
        q["vmin"].alias("vmin"),
        q["vmax"].alias("vmax"),
        q["codes_csv"].alias("codes_csv"),
        q["qerr_max"].alias("qerr_max"),
    )


def embedding_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed self-join (same
    bucket only), exact cosine, keep pairs >= threshold. Bounded by
    bucket sizes — never all-pairs."""
    planes = lsh_planes()
    with_b = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    a = with_b.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), "bucket"
    )
    b = with_b.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _label_pos_sums(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """(label, pos, s, n): exact DECIMAL(38,6) element sums and
    member counts per (label, dimension) — the order-independent
    core both label_centroids and its conformance query build on."""
    e = emb.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    return e.groupBy(label_col, "pos").agg(
        F.sum(
            F.round(F.col("v").cast("double"), 6).cast("decimal(38,6)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def label_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label mean embedding (class centroids) — the building
    block for centroid-based classification, cluster naming, and
    per-class drift monitoring over an embedding store.

    Scale shape: ``posexplode`` widens the corpus by the vector
    dimension, but the per-(label, pos) aggregation partial-combines
    map-side, so the shuffle carries |labels| x dim rows regardless
    of corpus size; the second groupBy reassembles |labels| rows.
    Never a corpus collect, never a cross join.

    Determinism: element values are rounded to 6 decimals and summed
    as DECIMAL(38,6) — an order-independent exact sum, so the sums
    are bit-stable across partitionings AND engines (float summation
    order is the classic distributed-mean trap; the DuckDB oracle
    replays the identical decimal pipeline). The conformance query
    compares the exact sums (``_label_pos_sums``), not the means:
    ``round(sum/n, 6)`` re-rounds a double QUOTIENT, and engines
    disagree on quotients whose shortest decimal representation ties
    at the 7th digit (observed at sf0.1 — one element off by 1e-6)."""
    per = _label_pos_sums(emb, vec_col, label_col).select(
        label_col,
        "pos",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("m"),
        F.col("n"),
    )
    return per.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("centroid"),
        F.max("n").cast("bigint").alias("n_vectors"),
    )


def embedding_feature_stats(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector feature statistics via higher-order array
    functions, with NO explode: quantize each element to integer
    milli-units (``floor(v * 1000)`` — floor, not round, because
    banker's-vs-half-up tie handling differs across engines while
    floor is universal), then compute positive-element count, element
    sum, self-dot-product, and max — all inside one JVM-codegen
    projection (``transform`` / ``filter`` / ``aggregate`` /
    ``zip_with``).

    This is the vector-hygiene profile of an embedding store
    (dead/saturated dimensions, magnitude outliers, all-zero rows)
    computed the way it must be at 100 TB: per-row, zero shuffle,
    zero Python — where ``posexplode`` would widen the corpus 64x
    before aggregating it back down. Integer milli-unit arithmetic
    makes every output bit-stable across engines (exact BIGINT sums,
    no float summation-order drift).

    Output: (vec_id, label, n_pos, sum_milli, dot_self, max_milli)."""
    q = F.expr(
        f"transform({vec_col}, v -> cast(floor(cast(v as double) * 1000) as bigint))"
    )
    base = emb.select(id_col, "label", q.alias("q"))
    add = lambda a, v: a + v  # noqa: E731
    return base.select(
        id_col,
        "label",
        F.size(F.filter("q", lambda v: v > 0)).cast("bigint").alias("n_pos"),
        F.aggregate("q", F.lit(0).cast("long"), add).alias("sum_milli"),
        F.aggregate(
            F.zip_with("q", "q", lambda a, b: a * b), F.lit(0).cast("long"), add
        ).alias("dot_self"),
        F.array_max("q").cast("bigint").alias("max_milli"),
    )


#: Dimensions kept by the truncation-fidelity probe (Matryoshka-style
#: prefix truncation: keep the first K of EMBED_DIM dimensions).
MATRYOSHKA_DIMS = 16


def matryoshka_fidelity(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = MATRYOSHKA_DIMS,
) -> DataFrame:
    """Prefix-truncation fidelity per vector: how much of the
    embedding's energy the first ``k`` dimensions retain, and the
    cosine between the full vector and its truncated-then-zero-padded
    form (which collapses to ``sqrt(retained)`` analytically — the
    identity the test pins). The decision input for Matryoshka-style
    storage tiering: serve short prefixes where fidelity is high,
    full vectors elsewhere.

    Per-row, zero shuffle, no Python. Determinism: elements are
    quantized to integer milli-units first (exact BIGINT dot
    products), so the one sqrt/division runs on identical integer
    operands in every engine.

    Output: (vec_id, label, dot_full, dot_prefix, retained_energy,
    cos_truncated)."""
    q = F.expr(
        f"transform({vec_col}, v -> cast(floor(cast(v as double) * 1000) as bigint))"
    )
    add = lambda a, v: a + v  # noqa: E731
    base = emb.select(id_col, "label", q.alias("q"))
    dot_full = F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b), F.lit(0).cast("long"), add
    )
    prefix = F.slice("q", 1, k)
    dot_prefix = F.aggregate(
        F.zip_with(prefix, prefix, lambda a, b: a * b),
        F.lit(0).cast("long"),
        add,
    )
    out = base.select(
        id_col,
        "label",
        dot_full.alias("dot_full"),
        dot_prefix.alias("dot_prefix"),
    )
    return out.select(
        id_col,
        "label",
        "dot_full",
        "dot_prefix",
        F.round(F.col("dot_prefix") / F.col("dot_full"), 6).alias(
            "retained_energy"
        ),
        F.round(
            F.sqrt(F.col("dot_prefix")) / F.sqrt(F.col("dot_full")), 6
        ).alias("cos_truncated"),
    )


def hard_negative_mining(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors carrying a
    DIFFERENT label — the "looks alike, isn't" examples that give
    contrastive/embedding losses their gradient signal. (Easy
    negatives are random draws; mining the hard ones is the step
    that needs the engine.)

    Same 100 TB shape as :func:`brute_force_topk`: the query set
    (with labels) is broadcast, the corpus streams past exactly once,
    the label-mismatch predicate is part of the join condition — so
    same-label pairs are dropped BEFORE the cosine arithmetic — and
    the top-k is a row_number window partitioned by query_id (never
    a global sort). At IVF scale, compose with ivf_assign to confine
    candidates per cluster; the ranking stage is unchanged.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rank) with rank 1..k by (cos_sim desc, neighbor_id).
    """
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qv"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("cv"),
    )
    scored = c.join(
        F.broadcast(q),
        F.col("query_label") != F.col("neighbor_label"),
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return _topk(scored, k, F.desc("cos_sim"), "neighbor_id")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — asymmetric-distance serving for 100 TB corpora
# ---------------------------------------------------------------------------
#
# The IVF family above prunes WHICH vectors a probe scores; PQ shrinks
# WHAT each scored vector costs. A dim-D float corpus is re-expressed
# as M small integer codes per vector (here M=4 codes over D=64 dims:
# 16 ints vs 64 floats of I/O per candidate — the classic 16-64x
# compression that lets a 100 TB embedding corpus's scan path fit in a
# fraction of the bytes). Probing is asymmetric distance computation
# (ADC): the query precomputes one bounded M x K lookup table of
# subspace partial similarities, and every candidate's score is M
# integer-indexed table reads summed — no float vector is ever read.
#
# Design (public knowledge: Jegou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search", PAMI 2011):
# * codebooks are trained per subspace by the SAME bounded spherical
#   k-means used for the IVF quantizer (md5-seeded draw, assign by
#   rounded cosine with ties to the lower code, exact DECIMAL(38,6)
#   mean-direction sums) — deterministic and engine-replayable, so
#   the DuckDB oracle reproduces codebooks, codes, LUTs and ranks
#   bit-for-bit;
# * ADC partials are 6-rounded and lifted to integer micro-units, so
#   a candidate's score is an EXACT bigint sum of M parts — ordering
#   cannot drift between engines or partitionings.
#
# Scale shape: training is `iters + 1` corpus passes (broadcast M x K
# codebook, map-side-combined per-(vector, subspace) argmax — the
# ivf_assign shape); encoding is one corpus pass; a probe against the
# stored codes is one CODES pass (skinny integer rows) joined to a
# broadcast LUT of nq x M x K entries, partial-aggregated map-side.
# Precondition shared with every cosine operator here: no zero-norm
# SUBvector (checked real at sf0.1: min subspace norm^2 ~ 0.047); the
# centroid update is guarded regardless (_unit_rounded -> NULL drops).

#: Defaults measured on the real sf0.1 fixture (unclustered synthetic
#: embeddings — the hard case): M=8 x K=16 (32-bit codes) with a
#: 100-candidate exact rerank recovers 60-70% of the exact top-10 vs
#: 0-20% for raw ADC at M=4 x K=8 — in family with the IVF recall
#: contract (340k ppm at nprobe=2). K=32 measured no better here.
PQ_M = 8  # subspaces (D/M = 8 dims per subvector at EMBED_DIM=64)
PQ_K = 16  # codes per subspace codebook
PQ_ITERS = 1  # bounded Lloyd rounds — unrolled in the oracle
PQ_SHORTLIST = 100  # ADC candidates handed to the exact rerank
_PQ_SEED = "pq"


def pq_subvectors(
    emb: DataFrame,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """(vec_id, m, subvec): each vector split into ``m`` contiguous
    subvectors of dim/m dims. posexplode widens the corpus by m but
    each row carries 1/m of the vector — total bytes unchanged."""
    sub = dim // m
    slices = F.array(
        *[F.slice(F.col(vec_col), i * sub + 1, sub) for i in range(m)]
    )
    return emb.select(
        F.col(id_col).alias("vec_id"), F.posexplode(slices).alias("m", "subvec")
    )


def pq_seed_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Initial per-subspace codebooks: the k corpus vectors with the
    smallest md5('pq:'||id) (the ivf_centroids draw under the PQ
    seed), sliced into their m subvectors — (m, code, cvec) with code
    = the seed's vec_id. One TakeOrderedAndProject, no driver data."""
    key = F.md5(
        F.concat(F.lit(f"{_PQ_SEED}:"), F.col(id_col).cast("string"))
    )
    seeds = (
        emb.select(F.col(id_col).alias("code"), F.col(vec_col).alias("_v"), key.alias("_k"))
        .orderBy("_k", "code")
        .limit(k)
        .drop("_k")
    )
    sub = dim // m
    slices = F.array(*[F.slice(F.col("_v"), i * sub + 1, sub) for i in range(m)])
    return seeds.select("code", F.posexplode(slices).alias("m", "cvec"))


def _codebook_by_m(
    cb: "DataFrame | list",
) -> dict[int, list[tuple[int, list[float]]]]:
    """Driver-collected codebook grouped by subspace — the
    _centroid_rows idiom for the m x k PQ quantizer. ``cb`` may also
    be rows the caller already holds (any Row or mapping carrying
    ``m``, ``code`` and ``cvec`` — e.g. the codebook an index manifest
    stores), which then cost no Spark job."""
    rows = cb if isinstance(cb, list) else cb.select("m", "code", "cvec").collect()
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), []).append(
            (int(r["code"]), [float(x) for x in r["cvec"]])
        )
    return by_m


def _code_branches(by_m, nearest, pick) -> Column:
    """CASE chain on the subspace column: the matched branch computes
    the literal argmax/argmin over THAT subspace's codes only (CASE
    evaluates lazily per row, so each row pays one subspace's k
    comparisons — the same work the broadcast join's matched rows
    cost, minus the join and the exchange).

    Size bound (advisor r16): the generated SQL text and expression
    tree scale O(m * k * sub_dim) because each branch inlines its own
    k-entry literal array — ~40 KB at the PQ_M=8 x PQ_K=16 x dim/8
    defaults, parsed in milliseconds. This literal-CASE form is for
    bounded codebooks of that order; a much larger quantizer (say
    m*k*dim beyond ~10^6 rendered doubles) should bind the entries
    once (one literal map indexed by m) instead of inlining per
    branch — not needed at any codebook size this engine declares."""
    expr = None
    for mi in sorted(by_m):
        branch = pick(nearest("`subvec`", by_m[mi]))
        expr = (
            F.when(F.col("m") == mi, branch)
            if expr is None
            else expr.when(F.col("m") == mi, branch)
        )
    return expr


def pq_assign_codes(sub: DataFrame, cb: "DataFrame | list") -> DataFrame:
    """Assign every (vec_id, m) subvector its nearest code (max
    rounded cosine, ties to the lower code id). The m x k codebook is
    driver-collected and embedded as plan literals (r16 — the
    :func:`_centroid_rows` idiom): the per-(vector, subspace) argmax
    is a per-row CASE-on-m expression, ZERO exchange (the broadcast
    join + map-side-combined max_by it replaces still shuffled one
    row per (vector, subspace) through its groupBy)."""
    by_m = _codebook_by_m(cb)
    if not by_m:
        return sub.select(
            "vec_id", "m", "subvec",
            F.lit(None).cast("bigint").alias("code"),
        ).where(F.lit(False))
    code = _code_branches(by_m, _nearest_struct, lambda b: -b["nc"])
    return sub.select("vec_id", "m", "subvec", code.alias("code")).where(
        F.col("code").isNotNull()
    )


def _pq_mean_directions(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, code) mean direction: exact DECIMAL(38,6) sums
    of each member subvector's 6-rounded unit form — the
    kmeans_mean_directions update keyed by (m, code). The shuffle
    carries m x k x (dim/m) rows regardless of corpus size."""
    e = assigned.select(
        "m", "code", F.posexplode(_unit_rounded(F.col("subvec"))).alias("pos", "u")
    )
    sums = e.groupBy("m", "code", "pos").agg(
        F.sum(F.col("u").cast("decimal(38,6)")).alias("sm")
    )
    return sums.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("pos"), F.col("sm").cast("double").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("cvec")
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Train the per-subspace codebooks: md5-seeded init + ``iters``
    bounded Lloyd rounds (assign, exact mean-direction update) run
    for ALL subspaces in one pass per round (the subspace axis rides
    the same corpus scan — m independent k-means problems cost one
    traversal, not m). Returns (m, code, cvec) as a LocalRelation
    (r16 — the kmeans_refine shape: each round's assign embeds the
    prior codebook as literals, the collect that feeds the next
    round's literals replaces the per-round localCheckpoint, and the
    final driver copy makes every consumer read — encode, store,
    LUT broadcast — free)."""
    if iters <= 0:
        return pq_seed_codebooks(
            emb, m, k, id_col, vec_col, dim
        ).localCheckpoint()
    sub = pq_subvectors(emb, m, id_col, vec_col, dim)
    cb = pq_seed_codebooks(emb, m, k, id_col, vec_col, dim)
    for _ in range(iters):
        assigned = pq_assign_codes(sub, cb)  # collects cb (one action)
        cb = _pq_mean_directions(assigned)
    rows = [
        (int(r["m"]), int(r["code"]), [float(x) for x in r["cvec"]])
        for r in cb.select("m", "code", "cvec").collect()
    ]
    return emb.sparkSession.createDataFrame(
        rows, "m int, code bigint, cvec array<double>"
    )


def pq_encode(
    emb: DataFrame,
    cb: "DataFrame | list",
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Encode the corpus against a trained codebook: (vec_id, m,
    code) — the PQ compressed representation (skinny integer rows;
    this is what a 100 TB deployment stores and scans instead of the
    float vectors). One corpus pass."""
    sub = pq_subvectors(emb, m, id_col, vec_col, dim)
    return pq_assign_codes(sub, cb).select("vec_id", "m", "code")


def _micro(c: Column) -> Column:
    """6-rounded double -> exact integer micro-units (the repo-wide
    cross-engine ordering carrier)."""
    return (c.cast("decimal(28,10)") * 1000000).cast("bigint")


def pq_query_lut(
    queries: DataFrame,
    cb: DataFrame,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """ADC lookup table: for every (query, subspace, code), the
    6-rounded cosine-direction partial <q_m, unit(cvec)> lifted to
    integer micro-units — (query_id, m, code, part_micro). Bounded:
    nq x m x k rows, built from a broadcast codebook."""
    sub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.array(*[F.slice(F.col(vec_col), i * sub + 1, sub) for i in range(m)])
        ).alias("m", "qsub"),
    )
    return q.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        _micro(
            F.round(_dot(F.col("qsub"), F.col("cvec")) / _norm(F.col("cvec")), 6)
        ).alias("part_micro"),
    )


def ann_pq_topk(
    codes: DataFrame,
    lut: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC probe: score = exact bigint sum of the M LUT partials for
    each candidate's codes; top-k per query by (score desc, vec_id).
    One pass over the CODES (never the float corpus) joined to the
    broadcast LUT, partial-aggregated map-side. ``exclude_self``
    drops candidates whose vec_id EQUALS the query id before ranking
    — correct for corpus-drawn queries (a vector should not rank
    itself); for an EXTERNAL query table whose id space may collide
    with vec_ids, pass ``exclude_self=False`` or a same-id corpus
    vector is silently dropped from that query's top-k. Output
    (query_id, vec_id, score_micro, rank)."""
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part_micro").alias("score_micro"))
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    return _topk(scored, k, F.desc("score_micro"), "vec_id")


def pq_recall(
    emb: DataFrame,
    topk_pq: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: DataFrame | None = None,
) -> DataFrame:
    """Recall contract for the PQ index: fraction (ppm) of the exact
    cosine top-k recovered by the ADC top-k, per query — the
    instrument that says whether M/K are adequate before anyone
    serves from the compressed codes. The exact side is brute-force
    cosine over the query set only (bounded broadcast of queries).
    Pass ``query_ids`` (a frame with a query_id column — the actual
    query set) so a query whose probe produced an EMPTY top-k still
    reports a recall-0 row instead of silently vanishing (the
    topk-derived default can only see queries that scored
    something); the DuckDB recall oracles anchor on the exact side
    and emit those zero rows."""
    qids = (
        query_ids.select("query_id").distinct()
        if query_ids is not None
        else topk_pq.select("query_id").distinct()
    )
    q = emb.join(
        F.broadcast(qids), emb[id_col] == qids["query_id"]
    ).select("query_id", F.col(vec_col).alias("qv"))
    scored = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("sim"),
    )
    exact = _topk(scored, k, F.desc("sim"), "neighbor_id").select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(
        topk_pq.withColumnRenamed("vec_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0))
                * F.lit(1000000)
                / F.col("n_exact")
            ).cast("bigint").alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


def ann_flat_rerank(
    emb: DataFrame,
    shortlist: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact cosine rerank of a per-query candidate shortlist
    (query_id, vec_id) — the second step of the compressed serving
    paths: a PQ or 1-bit probe prunes the corpus to nq x shortlist
    candidates, then ONLY those float vectors of ``emb`` are read back
    (a join on the id, then the bounded query frame broadcast).
    :func:`ann_ivfpq_rerank` is the centroid-pruned form for a
    centroid-partitioned vector store. Output (query_id, vec_id, sim,
    rank), ties to the lower vec_id."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    )
    j = (
        shortlist.select("query_id", "vec_id")
        .join(
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
            "vec_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
    )
    return _topk(j, k, F.desc("sim"), "vec_id")


def ann_pq_rerank(
    emb: DataFrame,
    codes: DataFrame,
    lut: DataFrame,
    k: int = 10,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    exclude_self: bool = True,
) -> DataFrame:
    """The production PQ serving path: ADC prunes the corpus to a
    per-query shortlist (one compressed-codes pass), then ONLY the
    shortlisted float vectors are read back for the exact cosine
    rerank of :func:`ann_flat_rerank` — nq x shortlist vector reads
    instead of a corpus scan, which is what makes exact-quality top-k
    affordable at 100 TB. Pass ``queries`` (the LUT's input frame) so
    the rerank reads the query vectors from it directly; without it
    they are fished back out of ``emb`` via the shortlist's query ids
    (an extra corpus scan — fine for one-shot analysis, not for
    serving). ``exclude_self`` as in :func:`ann_pq_topk`.
    Output (query_id, vec_id, sim, rank), ties to the lower vec_id."""
    short = ann_pq_topk(codes, lut, shortlist, exclude_self)
    if queries is None:
        qids = short.select("query_id").distinct()
        queries = emb.join(
            F.broadcast(qids), emb[id_col] == qids["query_id"]
        ).select("query_id", F.col(vec_col).alias("qv"))
        query_id_col, query_vec_col = "query_id", "qv"
    return ann_flat_rerank(
        emb, short, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


# ---------------------------------------------------------------------------
# IVF + PQ composition — the full coarse-prune / compressed-scan /
# exact-rerank index (the IVFPQ architecture of Jegou et al. 2011)
# ---------------------------------------------------------------------------
#
# IVF bounds WHICH vectors a probe touches (nprobe of n_list inverted
# lists); PQ bounds what each touched vector COSTS (M codes, not dim
# floats); the exact rerank of the surviving shortlist restores
# precision. Probe I/O at 100 TB ~ corpus x (nprobe/n_list) x
# (1/compression) — both factors measured in this repo
# (PQ_PROBE_r10.json; IVF probes co-located since r9). The engine
# lifecycle (build_ivfpq_index) stores the codes PARTITIONED by
# centroid_id, so Spark's dynamic partition pruning restricts each
# probe's file reads to the probed lists.


def ivfpq_encode(
    emb: DataFrame,
    cents: DataFrame | None,
    cb: "DataFrame | list",
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """One corpus pass producing the composed index rows: each vector
    coarse-assigned to its IVF list and PQ-encoded against the
    trained codebooks — (vec_id, centroid_id, m, code). Both
    quantizers are driver-collected literals (r16 — the
    :func:`_centroid_rows` idiom), so the whole encode is a
    zero-exchange per-row projection: the centroid id simply rides
    the row, and the code argmax is the CASE-on-m expression of
    :func:`pq_assign_codes`. Pass ``assigned`` (id, vec, centroid_id
    — e.g. the engine's stored vectors table) to skip the coarse
    assignment entirely."""
    if assigned is None:
        assigned = ivf_assign(emb, cents, id_col, vec_col)
    base = assigned.select(
        F.col(id_col).alias("vec_id"),
        "centroid_id",
        F.col(vec_col).alias("_v"),
    )
    sub = dim // m
    slices = F.array(
        *[F.slice(F.col("_v"), i * sub + 1, sub) for i in range(m)]
    )
    subv = base.select(
        "vec_id", "centroid_id", F.posexplode(slices).alias("m", "subvec")
    )
    by_m = _codebook_by_m(cb)
    if not by_m:
        return subv.select(
            "vec_id", "centroid_id", "m",
            F.lit(None).cast("bigint").alias("code"),
        ).where(F.lit(False))
    code = _code_branches(by_m, _nearest_struct, lambda b: -b["nc"])
    return (
        subv.select("vec_id", "centroid_id", "m", code.alias("code"))
        .where(F.col("code").isNotNull())
    )


def ivfpq_probe_lists(
    queries: DataFrame,
    cents: "DataFrame | list",
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Per query, the nprobe nearest IVF lists (max rounded cosine,
    ties to the lower centroid id) — (query_id, centroid_id), a
    bounded nq x nprobe frame: the literal top-nprobe of
    :func:`ann_search` (:func:`_top_lists`). ``cents`` is the
    centroid frame or rows the caller already holds (the engine
    passes the centroids of the index manifest, which cost no Spark
    job).

    The frame is broadcast into joins with centroid-PARTITIONED
    tables, and Spark plans dynamic partition pruning into such a join
    only when the broadcast side carries a selective predicate — and
    one on centroid_id itself measured no pruning (it reaches the
    partitioned scan as a static filter instead). So the lists are
    exploded with their position, and ``position < nprobe`` is that
    predicate: true of every row, like the window top-nprobe filter it
    stands in for."""
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    top = _top_lists(_centroid_rows(cents), nprobe)
    return (
        qv.select("query_id", F.posexplode(top).alias("_i", "_p"))
        .where(F.col("_i") < nprobe)
        .select("query_id", (-F.col("_p.nc")).alias("centroid_id"))
    )


def ann_ivfpq_topk(
    codes: DataFrame,
    lut: DataFrame,
    probes: DataFrame,
    k: int = 10,
    allowed: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC over ONLY the probed inverted lists: the candidate set is
    codes semi-restricted to each query's nprobe centroid ids
    (broadcast probe-list join — over a centroid_id-PARTITIONED
    store this dynamically prunes the files read), scored by exact
    bigint LUT sums, top-k per query. Output (query_id, vec_id,
    centroid_id, score_micro, rank).

    ``allowed`` (a frame with a vec_id column) is the FILTERED-search
    form — metadata predicates in vector search, e.g. "nearest
    neighbors among docs with license X". The semi-join lands BEFORE
    scoring, so excluded candidates never cost LUT work; it is
    deliberately unhinted — a small allow-list broadcasts under AQE,
    a corpus-scale predicate becomes a key join. Post-filtering a
    top-k instead UNDERFILLS results (the classic filtered-ANN
    trap); the pre-filter keeps k exact within the probed lists.
    ``exclude_self`` as in :func:`ann_pq_topk`: True drops same-id
    candidates (corpus-drawn queries); pass False when an external
    query id space may collide with vec_ids."""
    cand = codes.join(F.broadcast(probes), "centroid_id")
    if allowed is not None:
        cand = cand.join(
            allowed.select("vec_id"), "vec_id", "left_semi"
        )
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.first("centroid_id").alias("centroid_id"),
            F.sum("part_micro").alias("score_micro"),
        )
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    return _topk(scored, k, F.desc("score_micro"), "vec_id")


def ann_ivfpq_rerank(
    vectors: DataFrame,
    shortlist: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact cosine rerank of an IVFPQ shortlist — the centroid-pruned
    form of :func:`ann_flat_rerank`. ``vectors`` carries vec_id and
    ``vec_col`` (and centroid_id, when stored by list). The broadcast
    shortlist joins on (centroid_id, vec_id), so over a
    centroid_id-partitioned vector store dynamic partition pruning
    restricts the read to the probed lists before the point lookups.
    Output (query_id, vec_id, sim, rank)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    )
    j = (
        vectors.join(
            F.broadcast(shortlist.select("query_id", "vec_id", "centroid_id")),
            ["centroid_id", "vec_id"]
            if "centroid_id" in vectors.columns
            else ["vec_id"],
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col(vec_col)), 6).alias("sim"),
        )
    )
    return _topk(j, k, F.desc("sim"), "vec_id")


# ---------------------------------------------------------------------------
# Residual IVF+PQ — the faithful IVFADC form (Jegou et al., PAMI
# 2011 §III encodes x − q1(x), the RESIDUAL from the coarse centroid,
# not x itself). Carried over to this repo's COSINE metric by the
# exact inner-product identity on unit vectors:
#
#     cos(q, x) = <q̂, x̂> = <q̂, c> + <q̂, x̂ − c>     for ANY c,
#
# so per probed list the score is an EXACT coarse term <q̂, c> (the
# probe already touches c) plus the ADC estimate of <q̂, r> over the
# quantized residual r = x̂ − c — the only approximation left is PQ
# quantization error on r, which is the smaller, better-centered
# target the residual form exists to exploit. (A first cut that
# scored residual codes with the raw-encode per-subspace COSINE — no
# coarse term, normalization mismatch — measured at or below the
# raw form; this IP decomposition is what makes residuals pay.)
# ---------------------------------------------------------------------------


def ivf_residuals(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, centroid_id, resid) — each vector's 6-rounded UNIT
    copy minus the 6-rounded UNIT copy of its coarse centroid,
    re-rounded to 6 decimals (the engine-replayable carrier every
    downstream exact-DECIMAL sum needs; zero-norm rows drop out, as
    in the k-means update). The centroid is unit-normalized HERE
    because the k-means centroids are mean-direction SUMS (norm ~
    cluster size): subtracting a same-direction UNIT anchor keeps
    the residual small — ||x̂ − ĉ||² = 2(1 − cos(x̂, ĉ)), ≤ sqrt(2)
    whenever the vector is within 90° of its nearest centroid and
    never above 2 — which is the whole point of residual
    quantization (a first cut subtracting the raw
    sums produced cluster-sized "residuals" whose quantization error
    swamped the signal). One corpus pass (the coarse assignment) +
    a broadcast centroid join; pass ``assigned`` (id, vec,
    centroid_id) to ride an existing assignment instead."""
    if assigned is None:
        assigned = ivf_assign(emb, cents, id_col, vec_col)
    ncents = cents.select(
        "centroid_id", _unit_rounded(F.col("cvec")).alias("_c")
    ).where(F.col("_c").isNotNull())
    return (
        assigned.join(F.broadcast(ncents), "centroid_id")
        .select(
            F.col(id_col).alias("vec_id"),
            "centroid_id",
            _unit_rounded(F.col(vec_col)).alias("_u"),
            "_c",
        )
        .where(F.col("_u").isNotNull())
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "_u", "_c", lambda x, y: F.round(x - y, 6)
            ).alias("resid"),
        )
    )


def _d2_rounded(a: Column, b: Column) -> Column:
    """6-rounded squared Euclidean distance — the difference array is
    BOUND once (the _unit_rounded idiom) so the expression tree
    carries one zip_with, not four."""
    from .text import bind_once

    return bind_once(
        F.zip_with(a, b, lambda x, y: x - y),
        lambda d: F.round(_dot(d, d), 6),
    )


def pq_assign_codes_l2(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Assign every (vec_id, m) subvector its nearest code by MIN
    rounded squared Euclidean distance (ties to the lower code id) —
    the assignment residual quantization needs: unlike the spherical
    :func:`pq_assign_codes`, L2 sees MAGNITUDE, and residual
    magnitudes are exactly what the inner-product ADC reconstructs.
    Same literal-argmin shape (r16): per-row CASE-on-m expression
    over the driver-collected codebook, zero exchange."""
    by_m = _codebook_by_m(cb)
    if not by_m:
        return sub.select(
            "vec_id", "m", "subvec",
            F.lit(None).cast("bigint").alias("code"),
        ).where(F.lit(False))
    code = _code_branches(by_m, _nearest_l2_struct, lambda b: b["code"])
    return sub.select("vec_id", "m", "subvec", code.alias("code")).where(
        F.col("code").isNotNull()
    )


def _pq_means(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, code) Euclidean MEAN of the member subvectors:
    exact DECIMAL(38,6) sums of the 6-rounded elements divided by
    the member count — both engines compute the identical double
    (exact decimal numerator, integer denominator, one IEEE
    division). Unlike :func:`_pq_mean_directions` the magnitude
    survives — the property residual-IP ADC depends on. The shuffle
    carries m x k x (dim/m) rows regardless of corpus size."""
    e = assigned.select(
        "m",
        "code",
        F.posexplode(
            F.transform(
                F.col("subvec"), lambda x: F.round(x.cast("double"), 6)
            )
        ).alias("pos", "u"),
    )
    sums = e.groupBy("m", "code", "pos").agg(
        F.sum(F.col("u").cast("decimal(38,6)")).alias("sm"),
        F.count(F.lit(1)).alias("n"),
    )
    return sums.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (F.col("sm").cast("double") / F.col("n")).alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("cvec")
    )


def pq_codebooks_l2(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Euclidean PQ training (the residual quantizer): md5-seeded
    init (the pq_codebooks protocol) + ``iters`` Lloyd rounds of
    (min-L2 assign, exact-mean update) — all M subspace problems
    ride one corpus pass per round. Returns (m, code, cvec) with
    magnitude-true centroids, as a LocalRelation (the r16
    pq_codebooks shape: literal-argmin rounds, collect replaces the
    per-round checkpoint)."""
    if iters <= 0:
        return pq_seed_codebooks(
            emb, m, k, id_col, vec_col, dim
        ).localCheckpoint()
    sub = pq_subvectors(emb, m, id_col, vec_col, dim)
    cb = pq_seed_codebooks(emb, m, k, id_col, vec_col, dim)
    for _ in range(iters):
        assigned = pq_assign_codes_l2(sub, cb)  # collects cb
        cb = _pq_means(assigned)
    rows = [
        (int(r["m"]), int(r["code"]), [float(x) for x in r["cvec"]])
        for r in cb.select("m", "code", "cvec").collect()
    ]
    return emb.sparkSession.createDataFrame(
        rows, "m int, code bigint, cvec array<double>"
    )


def ivfpq_residual_encode(
    res: DataFrame,
    cb: DataFrame,
    m: int = PQ_M,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """One pass producing the residual-index rows: each residual
    (from :func:`ivf_residuals` — carries centroid_id) L2-assigned
    to its nearest code per subspace — (vec_id, centroid_id, m,
    code). Zero-exchange literal-argmin projection (r16), exactly as
    in :func:`ivfpq_encode`."""
    sub = dim // m
    slices = F.array(
        *[F.slice(F.col("resid"), i * sub + 1, sub) for i in range(m)]
    )
    subv = res.select(
        "vec_id", "centroid_id", F.posexplode(slices).alias("m", "subvec")
    )
    by_m = _codebook_by_m(cb)
    if not by_m:
        return subv.select(
            "vec_id", "centroid_id", "m",
            F.lit(None).cast("bigint").alias("code"),
        ).where(F.lit(False))
    code = _code_branches(by_m, _nearest_l2_struct, lambda b: b["code"])
    return (
        subv.select("vec_id", "centroid_id", "m", code.alias("code"))
        .where(F.col("code").isNotNull())
    )


def residual_coarse_micro(
    queries: DataFrame,
    probes: DataFrame,
    cents: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """The EXACT coarse term of the residual decomposition, per
    (query, probed centroid): micro(round(<q̂, ĉ>, 6)) against the
    same 6-rounded UNIT centroid copy :func:`ivf_residuals`
    subtracts (the decomposition must use ONE anchor end to end).
    Queries must already be unit-normalized (the caller's contract;
    cosine equals plain inner product only then). Bounded nq x
    nprobe rows."""
    ncents = cents.select(
        "centroid_id", _unit_rounded(F.col("cvec")).alias("_c")
    ).where(F.col("_c").isNotNull())
    return (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_q"),
        )
        .join(F.broadcast(probes), "query_id")
        .join(F.broadcast(ncents), "centroid_id")
        .select(
            "query_id",
            "centroid_id",
            _micro(F.round(_dot(F.col("_q"), F.col("_c")), 6)).alias(
                "coarse_micro"
            ),
        )
    )


def pq_residual_lut(
    queries: DataFrame,
    cb: DataFrame,
    m: int = PQ_M,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Residual ADC lookup table: for each (query, subspace, code),
    the RAW inner-product partial micro(round(<q̂_m, cb_code_m>, 6))
    of the QUERY ITSELF against the residual codebook — (query_id,
    m, code, part_micro). The decomposition is <q̂, x̂> = <q̂, c> +
    <q̂, r>: the second term is the query against the residual, so
    the LUT slices q̂, NOT a query residual (that is the L2
    formulation's shape; using it here double-subtracts the centroid
    and measurably destroys recall), and consequently ONE bounded
    nq x M x K table serves every probed list. No per-subspace
    normalization — plain IPs are what make coarse + ADC sum to an
    estimate of cos(q, x). Queries must be unit-normalized (the
    caller's contract)."""
    sub = dim // m
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(query_vec_col), i * sub + 1, sub)
                    for i in range(m)
                ]
            )
        ).alias("m", "qsub"),
    )
    return q.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        _micro(F.round(_dot(F.col("qsub"), F.col("cvec")), 6)).alias(
            "part_micro"
        ),
    )


def ivfpq_residual_scores(
    codes: DataFrame,
    lut: DataFrame,
    probes: DataFrame,
    coarse: DataFrame,
    exclude_self: bool = True,
) -> DataFrame:
    """The UNRANKED residual ADC estimates over the probed lists —
    (query_id, vec_id, centroid_id, score_micro): candidates are the
    residual codes restricted to each query's nprobe lists
    (broadcast probe join — dynamically prunes a centroid-partitioned
    store); score = the query's EXACT coarse term for that list +
    the residual LUT sums (see the section comment: together they
    estimate cos(q, x) with only PQ quantization error on the
    residual). Consumers that need every estimate — the calibration
    instrument — read this directly; top-k ranking lives in
    :func:`ann_ivfpq_residual_topk`."""
    cand = codes.join(F.broadcast(probes), "centroid_id")
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.first("centroid_id").alias("centroid_id"),
            F.sum("part_micro").alias("res_micro"),
        )
        .join(F.broadcast(coarse), ["query_id", "centroid_id"])
        .select(
            "query_id",
            "vec_id",
            "centroid_id",
            (F.col("coarse_micro") + F.col("res_micro")).alias("score_micro"),
        )
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    return scored


def ann_ivfpq_residual_topk(
    codes: DataFrame,
    lut: DataFrame,
    probes: DataFrame,
    coarse: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k over :func:`ivfpq_residual_scores` (score desc, ties to
    the lower vec_id). Same output contract as
    :func:`ann_ivfpq_topk` — (query_id, vec_id, centroid_id,
    score_micro, rank)."""
    scored = ivfpq_residual_scores(codes, lut, probes, coarse, exclude_self)
    return _topk(scored, k, F.desc("score_micro"), "vec_id")


# ---------------------------------------------------------------------------
# Binary (1-bit sign) quantization — the extreme-compression ANN tier
# ---------------------------------------------------------------------------
#
# Each dimension keeps only its SIGN: 64-dim floats become 64 bits,
# packed into two 32-bit-loaded bigints — a 32x storage reduction
# (256 B float32 -> 8 B), and candidate scoring becomes two XORs +
# two popcounts per pair (whole-stage-codegen integer ops, no FP).
# Hamming distance on sign bits approximates angular distance (each
# dimension is a fixed axis-aligned hyperplane — the degenerate LSH
# family); like PQ, serving quality comes from hamming-shortlist +
# exact rerank. Sits beside PQ on the compression/recall curve: BQ
# compresses ~4x harder, PQ ranks better at equal probe cost.

#: SQL fragment packing 32 sign bits of a vector slice into a bigint
#: (offset is 1-based). Bit i of the result = sign(v[off+i]); the
#: accumulate is + over DISJOINT powers of two (== OR, no overflow:
#: bits 0..31 only).
_BQ_SIG = (
    "aggregate(zip_with(slice({v}, {off}, 32), sequence(0, 31), "
    "(x, i) -> IF(x >= CAST(0 AS DOUBLE), "
    "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
    "CAST(0 AS BIGINT), (a, b) -> a + b)"
)


def _sign_words(vec_col: str, dim: int, who: str) -> list:
    """The sign pattern of ``vec_col`` as two bigint words — bits
    0..31 and 32..63 — rather than one, so no value ever touches the
    sign bit (engine-portable arithmetic; DuckDB replays the packing
    exactly). Specialized to dim == 64 (this repo's embedding
    convention): other dims are REFUSED rather than silently
    truncated (``who`` names the caller in the error) — extend the
    word slices to ceil(dim/32) words for wider vectors."""
    if dim != 64:
        raise ValueError(
            f"{who} packs exactly 64 sign bits (got dim={dim}); "
            "extend the _BQ_SIG word slices for other dimensions"
        )
    return [F.expr(_BQ_SIG.format(v=vec_col, off=off)) for off in (1, 33)]


def _hamming() -> Column:
    """Differing sign bits between a code's (sig_lo, sig_hi) and its
    query's (q_lo, q_hi): XOR + popcount per word, integer only."""
    return (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
    ).cast("bigint")


def bq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """One corpus pass producing the 1-bit codes: (vec_id, sig_lo,
    sig_hi) — the two words of the 64-dim sign pattern
    (:func:`_sign_words`, which refuses other dims). Zero-shuffle
    codegen projection. Precondition (like every encoder here):
    vectors actually carry ``dim`` elements."""
    lo, hi = _sign_words(vec_col, dim, "bq_encode")
    return emb.select(
        F.col(id_col).alias("vec_id"), lo.alias("sig_lo"), hi.alias("sig_hi")
    )


def ann_bq_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Hamming probe over the 1-bit codes: per query, the k candidates
    with the fewest differing sign bits (ties to the lower vec_id).
    ``query_codes`` is a bq_encode output re-labeled (query_id, q_lo,
    q_hi) — bounded, broadcast onto ONE pass over the packed codes
    (16 bytes/row); scoring is XOR+popcount, never FP. ``exclude_self``
    as in :func:`ann_pq_topk`: True drops same-id candidates
    (corpus-drawn queries never rank themselves); pass False when an
    external query id space may collide with vec_ids. Output
    (query_id, vec_id, hamming, rank)."""
    scored = (
        codes.crossJoin(F.broadcast(query_codes))
        .where(
            F.col("query_id") != F.col("vec_id")
            if exclude_self
            else F.lit(True)
        )
        .select("query_id", "vec_id", _hamming().alias("hamming"))
    )
    return _topk(scored, k, F.col("hamming"), "vec_id")


# ---------------------------------------------------------------------------
# IVF+BQ composition — the coarse quantizer over the 1-bit codes
# ---------------------------------------------------------------------------
#
# The flat Hamming probe above is deliberately O(corpus) per query
# batch (16 bytes/row, measured flat at bench sizes — BQ_PROBE_r10).
# Composing it with the IVF coarse quantizer bounds WHICH codes a
# probe touches exactly as IVFPQ does for PQ codes: probe I/O ~
# corpus x (nprobe/n_list) x (16 B / 256 B float32). Unlike PQ, the
# sign quantizer is PARAMETERLESS — appends never drift against a
# trained codebook, only against the coarse centroids.


def ivfbq_encode(
    emb: DataFrame,
    cents: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """One corpus pass producing the composed 1-bit index rows:
    (vec_id, centroid_id, sig_lo, sig_hi) — each vector
    coarse-assigned to its IVF list (broadcast n_list centroids) and
    sign-packed into two bigint halves. The sign packing is a
    zero-shuffle codegen projection, so composing costs exactly the
    coarse assignment; pass ``assigned`` (id, vec, centroid_id —
    e.g. the engine's stored vectors table) to skip even that."""
    lo, hi = _sign_words(vec_col, dim, "ivfbq_encode")
    if assigned is None:
        assigned = ivf_assign(emb, cents, id_col, vec_col)
    return assigned.select(
        F.col(id_col).alias("vec_id"),
        "centroid_id",
        lo.alias("sig_lo"),
        hi.alias("sig_hi"),
    )


def ann_ivfbq_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    probes: DataFrame,
    k: int = 10,
    allowed: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Hamming over ONLY the probed inverted lists: candidates are
    the composed codes semi-restricted to each query's nprobe
    centroid ids (broadcast probe-list join — over a
    centroid_id-PARTITIONED store this dynamically prunes the files
    read), scored by XOR+popcount against the broadcast query sign
    bits, top-k per query (ties to the lower vec_id). ``allowed`` /
    ``exclude_self`` as in :func:`ann_ivfpq_topk` — the metadata
    pre-filter lands BEFORE scoring, and same-id drops are for
    corpus-drawn queries only. Output (query_id, vec_id,
    centroid_id, hamming, rank)."""
    cand = codes.join(F.broadcast(probes), "centroid_id")
    if allowed is not None:
        cand = cand.join(allowed.select("vec_id"), "vec_id", "left_semi")
    scored = cand.join(F.broadcast(query_codes), "query_id").select(
        "query_id", "vec_id", "centroid_id", _hamming().alias("hamming")
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    return _topk(scored, k, F.col("hamming"), "vec_id")


def ann_cascade_pq_narrow(
    shortlist: DataFrame,
    codes: DataFrame,
    lut: DataFrame,
    k: int = 50,
) -> DataFrame:
    """The middle stage of a retrieval CASCADE: re-score an existing
    per-query candidate SHORTLIST (query_id, vec_id — e.g. a wide,
    cheap Hamming cut) with the finer PQ ADC scores and narrow it to
    ``k`` (ties to the lower vec_id). Unlike :func:`ann_pq_topk` the
    candidate set is the given PAIRS, not the corpus: the codes join
    touches exactly nq x |shortlist| x M rows — bounded work
    regardless of corpus size, which is what makes a
    coarse->binary->PQ->exact funnel pay at 100 TB (each stage reads
    less data per candidate than the one below it and passes fewer
    candidates to the one above). When BOTH sides carry centroid_id
    (the engine's cascade index stores the PQ codes
    centroid-partitioned; the Hamming cut's survivors carry their
    list), the join adds the partition key so the broadcast
    dynamically prunes the codes SCAN to the probed lists as well —
    and the output keeps centroid_id so the exact rerank prunes the
    same way. Output (query_id, vec_id[, centroid_id], score_micro,
    rank)."""
    pruned = (
        "centroid_id" in shortlist.columns
        and "centroid_id" in codes.columns
    )
    keys = ["centroid_id", "vec_id"] if pruned else ["vec_id"]
    carry = ["centroid_id"] if pruned else []
    pairs = shortlist.select("query_id", *keys)
    scored = (
        codes.join(F.broadcast(pairs), keys)
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id", *carry)
        .agg(F.sum("part_micro").alias("score_micro"))
    )
    return _topk(scored, k, F.desc("score_micro"), "vec_id")


def bq_query_codes(
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Sign-pack an arbitrary query table into the (query_id, q_lo,
    q_hi) frame the Hamming probes broadcast — the same _BQ_SIG
    packing the corpus encode uses, so query and corpus bits agree
    bit-for-bit. Like bq_encode/ivfbq_encode this REFUSES dims other
    than 64 — and because queries are EXTERNAL (the one place a
    wrong-width vector realistically arrives) and BOUNDED, it also
    validates the actual array lengths with one pass over the query
    table: a short vector would otherwise silently pack zero bits
    and return confidently wrong rankings."""
    lo, hi = _sign_words(query_vec_col, dim, "bq_query_codes")
    bad = queries.where(F.size(F.col(query_vec_col)) != dim).take(1)
    if bad:
        raise ValueError(
            f"bq_query_codes: query vector of {query_id_col}="
            f"{bad[0][query_id_col]!r} has "
            f"{len(bad[0][query_vec_col] or [])} dims, expected {dim}"
        )
    return queries.select(
        F.col(query_id_col).alias("query_id"), lo.alias("q_lo"), hi.alias("q_hi")
    )


# ---------------------------------------------------------------------------
# MMR — maximal marginal relevance (diverse top-k selection)
# ---------------------------------------------------------------------------


def mmr_select(
    candidates: DataFrame,
    k: int = 5,
    lam_ppm: int = 700_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy MMR (Carbonell & Goldstein, SIGIR 1998) over a BOUNDED
    per-query candidate frame (query_id, vec_id, <vec_col>,
    rel_micro): step 1 takes the most relevant candidate; each later
    step takes argmax of lam*rel − (1−lam)*max-sim-to-selected — the
    knob that turns a redundant top-k into a DIVERSE one (dedup-aware
    retrieval, diverse training-sample selection).

    Scale shape: MMR is inherently sequential in k, so it runs over
    the SHORTLIST a retrieval already produced (nq x n_cand rows) —
    every step is bounded-frame work (selected-set join + one window)
    and the corpus is never touched; the candidate frame is
    localCheckpoint-ed once so the k steps don't stack lineage.
    Determinism: scores are exact integers — lam in ppm, relevance
    and similarity in micro-units, products in bigint (≤ 1e12); ties
    to the lower vec_id. The first step's score is lam*rel (empty
    selected set contributes no penalty). Output (query_id, step,
    vec_id, mmr_score), step 1..k in selection order."""
    cand = candidates.select(
        "query_id",
        "vec_id",
        F.col(vec_col).alias("_v"),
        F.col("rel_micro").cast("bigint").alias("rel_micro"),
    ).localCheckpoint()
    lam = F.lit(lam_ppm).cast("bigint")
    inv = F.lit(1_000_000 - lam_ppm).cast("bigint")

    def pick(scored: DataFrame, step: int) -> DataFrame:
        return _topk(scored, 1, F.desc("mmr_score"), "vec_id").select(
            "query_id",
            F.lit(step).cast("int").alias("step"),
            "vec_id",
            "_v",
            "mmr_score",
        )

    selected = pick(
        cand.withColumn("mmr_score", (lam * F.col("rel_micro")).cast("bigint")),
        1,
    ).localCheckpoint()
    for step in range(2, k + 1):
        remaining = cand.join(
            selected.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "left_anti",
        )
        penal = (
            remaining.join(
                selected.select(
                    "query_id", F.col("_v").alias("_sv")
                ),
                "query_id",
            )
            .select(
                "query_id",
                "vec_id",
                "rel_micro",
                "_v",
                _micro(F.round(cosine(F.col("_v"), F.col("_sv")), 6)).alias(
                    "_sim"
                ),
            )
            .groupBy("query_id", "vec_id")
            .agg(
                F.first("rel_micro").alias("rel_micro"),
                F.first("_v").alias("_v"),
                F.max("_sim").alias("_ms"),
            )
        )
        scored = penal.withColumn(
            "mmr_score",
            (lam * F.col("rel_micro") - inv * F.col("_ms")).cast("bigint"),
        )
        selected = selected.unionByName(pick(scored, step)).localCheckpoint()
    return selected.select("query_id", "step", "vec_id", "mmr_score")
