"""[EXT] North-star extension catalog (SURVEY §2.3).

LLM-data-pipeline operators beyond the reference's own surface,
registered as conformance queries. EVERY registration here is
oracle-paired: the DuckDB oracle reproduces the operator *exactly* —
including MinHash signatures, SimHash bits and the HLL/KLL sketches,
which use md5 (not an engine-specific hash) precisely so both
engines compute identical values.

Implementations live in ``..operators``; this module is registration
plus the generated oracle SQL (several oracles are built
programmatically — 64 SimHash bit expressions, LSH hyperplane
literals — to guarantee they mirror the Spark expressions term for
term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators import (
    dedup,
    joins,
    multimodal,
    packing,
    pandas_udfs,
    profile,
    rollup,
    similarity,
    stats,
    text,
)
from ..sources.tables import TableSet
from .catalog import query

# ---------------------------------------------------------------------------
# Shared oracle fragments
# ---------------------------------------------------------------------------

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

_SHINGLE_CTES = f"""
toks AS (SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents),
shn AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
    FROM toks WHERE len(w) >= 3
  ) WHERE len(shingles) > 0
)"""

# Exploded shingle postings with the SAME document-frequency valve as
# dedup.ngram_jaccard_pairs (posting lists kept only when their df is
# BETWEEN 2 AND MAX_SHINGLE_DF) — mirrored here so Spark and oracle
# cannot diverge once a fixture/SF grows a shingle past the cap. The
# df >= 2 bound is semantics-neutral (df-1 shingles produce no pairs);
# the upper bound is the stop-shingle recall trade both sides share.
_EX_CTES = f"""{_SHINGLE_CTES},
ex_all AS (SELECT doc_id, n_sh, unnest(shingles) AS s FROM shn),
ok_s AS (SELECT s FROM ex_all GROUP BY s
         HAVING COUNT(*) BETWEEN 2 AND {dedup.MAX_SHINGLE_DF}),
ex AS (SELECT ex_all.* FROM ex_all JOIN ok_s USING (s))"""

_SIG_EXPRS = ",\n  ".join(
    f"list_aggregate(list_transform(shingles, s -> md5('{s}:' || s)), 'min')"
    f" AS sig_{s}"
    for s in range(dedup.MINHASH_SEEDS)
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS doc_id,
           md5({_NORM}) AS content_hash,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
)
def q_dedup_exact(t: TableSet) -> DataFrame:
    """Exact dedup: md5 of normalized content, survivor = min doc_id.
    One hash-groupBy shuffle — the canonical 100 TB-safe plan."""
    return dedup.exact_dedup(t.documents)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_EX_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, inter,
           round(inter / (n_a + n_b - inter), 6) AS jaccard
    FROM pairs
    WHERE round(inter / (n_a + n_b - inter), 6) >= {dedup.JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(t: TableSet) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join
    (cost bounded by shingle co-occurrence, never O(n^2))."""
    return dedup.ngram_jaccard_pairs(t.documents)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_EX_CTES},
    prs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      ) WHERE round(inter / (n_a + n_b - inter), 6)
              >= {dedup.JACCARD_THRESHOLD}
    ),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, MIN(root) AS cluster_id,
           MIN(root) = node AS is_canonical
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(t: TableSet) -> DataFrame:
    """Connected-component duplicate clusters over the n-gram-Jaccard
    near-dup graph (iterative min-label propagation, O(diameter)
    rounds); oracle = DuckDB recursive-CTE transitive closure."""
    return dedup.dedup_clusters(t.documents)


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {_SHINGLE_CTES}
    SELECT doc_id,
      {_SIG_EXPRS}
    FROM shn
    """,
)
def q_minhash_signatures(t: TableSet) -> DataFrame:
    """Per-doc MinHash signature (8 md5-seeded min-hashes) —
    bit-identical across engines because the hash is md5."""
    return dedup.minhash_signatures(t.documents)


def _lsh_band_sql() -> str:
    rows = dedup.MINHASH_SEEDS // dedup.LSH_BANDS
    parts = []
    for b in range(dedup.LSH_BANDS):
        key = " || '|' || ".join(
            f"sig_{b * rows + r}" for r in range(rows)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs"
        )
    return "\n  UNION ALL ".join(parts)


#: Full MinHash-LSH pipeline as composable CTEs ending in ``lshp``
#: (doc_a, doc_b, jaccard) — shared by the dedup_minhash_lsh
#: conformance oracle and every oracle that post-processes the LSH
#: candidate pairs (edit-distance verification).
_LSH_PAIR_CTES = f"""{_SHINGLE_CTES},
    sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM shn),
    bands AS (
      {_lsh_band_sql()}
    ),
    ok_b AS (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) BETWEEN 2 AND {dedup.MAX_LSH_BUCKET}
    ),
    bandf AS (SELECT bands.* FROM bands JOIN ok_b USING (band_id, band_key)),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandf a JOIN bandf b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    lshp AS (
      SELECT doc_a, doc_b,
             round(len(list_intersect(sa.shingles, sb.shingles))
                   / (sa.n_sh + sb.n_sh
                      - len(list_intersect(sa.shingles, sb.shingles))), 6)
               AS jaccard
      FROM cands
      JOIN shn sa ON doc_a = sa.doc_id
      JOIN shn sb ON doc_b = sb.doc_id
      WHERE round(len(list_intersect(sa.shingles, sb.shingles))
                  / (sa.n_sh + sb.n_sh
                     - len(list_intersect(sa.shingles, sb.shingles))), 6)
            >= {dedup.JACCARD_THRESHOLD}
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_LSH_PAIR_CTES}
    SELECT doc_a, doc_b, jaccard FROM lshp
    """,
)
def q_dedup_minhash_lsh(t: TableSet) -> DataFrame:
    """MinHash-LSH near-dup join: banded bucket join for candidates
    (hash-equality — no cross product), exact Jaccard verification on
    candidates only. The oracle replicates the full LSH pipeline, so
    the comparison is exact, not best-effort."""
    return dedup.minhash_lsh_pairs(t.documents)


# --- SimHash (generated SQL mirrors the generated Spark exprs) -------------


def _simhash_cte() -> str:
    terms = []
    for j in range(64):
        pos = j // 4 + 1
        shift = 3 - (j % 4)
        nib = f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
        terms.append(f"SUM(c * ((({nib} >> {shift}) & 1) * 2 - 1)) AS b{j}")
    sums = ",\n      ".join(terms)
    nibs = []
    for p in range(16):
        v = " + ".join(
            f"(CASE WHEN b{p * 4 + r} > 0 THEN {1 << (3 - r)} ELSE 0 END)"
            for r in range(4)
        )
        nibs.append(f"substr('0123456789abcdef', ({v}) + 1, 1)")
    hexpr = " || ".join(nibs)
    return f"""
    toks AS (SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents),
    tc AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
      GROUP BY 1, 2
    ),
    th AS (SELECT doc_id, c, md5(tok) AS h FROM tc),
    sums AS (SELECT doc_id,
      {sums}
      FROM th GROUP BY doc_id),
    sig AS (SELECT doc_id, {hexpr} AS simhash FROM sums)"""


@query(
    "text_simhash",
    oracle=f"""
    WITH {_simhash_cte()}
    SELECT doc_id, simhash FROM sig
    """,
)
def q_text_simhash(t: TableSet) -> DataFrame:
    """64-bit token-weighted SimHash per doc (64 parallel SUM
    aggregates, no row explosion)."""
    return dedup.simhash64(t.documents)


def _hamming_sql(a: str, b: str) -> str:
    parts = []
    for p in range(16):
        na = f"(strpos('0123456789abcdef', substr({a}, {p + 1}, 1)) - 1)"
        nb = f"(strpos('0123456789abcdef', substr({b}, {p + 1}, 1)) - 1)"
        parts.append(f"bit_count(xor({na}, {nb}))")
    return " + ".join(parts)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_cte()},
    bands AS (
      SELECT doc_id, b.band_id,
             substr(simhash, b.band_id * 4 + 1, 4) AS band_key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({_hamming_sql('sa.simhash', 'sb.simhash')} AS INT) AS hamming
    FROM cands
    JOIN sig sa ON doc_a = sa.doc_id
    JOIN sig sb ON doc_b = sb.doc_id
    WHERE {_hamming_sql('sa.simhash', 'sb.simhash')} <= {dedup.HAMMING_MAX}
    """,
)
def q_dedup_simhash(t: TableSet) -> DataFrame:
    """SimHash near-dup pairs: 4x16-bit band bucket join (pigeonhole
    guarantees recall for hamming <= 3), exact popcount verify."""
    return dedup.simhash_pairs(t.documents)


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------


@query(
    "embed_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c, q WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_embed_cosine_topk(t: TableSet) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (the exactness
    baseline; corpus scanned once, broadcast queries, single top-k
    shuffle). Scores rounded to 6 decimals BEFORE ranking so the
    ordering is engine-agnostic."""
    return similarity.brute_force_topk(t.embeddings).withColumn(
        "rank", F.col("rank").cast("int")
    )


def _planes_sql() -> list[str]:
    return [
        "[" + ", ".join(repr(v) for v in plane) + "]"
        for plane in similarity.lsh_planes()
    ]


def _bucket_sql(planes: list[str]) -> str:
    cases = [
        f"(CASE WHEN list_dot_product(v, {p}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "CAST(" + " + ".join(cases) + " AS INT)"


_PLANES = _planes_sql()


_PROBE_MASKS = ", ".join(str(m) for m in similarity.probe_masks())


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    wb AS (SELECT vec_id, v, {_bucket_sql(_PLANES)} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM wb WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, CAST(xor(q.bucket, m.m) AS INT) AS bucket
      FROM q, (SELECT unnest([{_PROBE_MASKS}]) AS m) m
    ),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM wb),
    scored AS (
      SELECT query_id, neighbor_id, bucket,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c JOIN probes USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, bucket, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ann_lsh_bucketed(t: TableSet) -> DataFrame:
    """ANN via random-hyperplane LSH with multi-probe (own bucket +
    1-bit flips): candidates share a probed bucket (equality join —
    at scale, partition/bucket the corpus by bucket id so a probe
    touches n_planes+1 partitions). The fixed seeded hyperplanes are
    embedded as literals in both engines, so the oracle reproduces
    the bucketing exactly (min |dot| on this data is 6e-5 — no
    sign-flip risk from float noise)."""
    return similarity.lsh_bucketed_topk(t.embeddings).withColumn(
        "rank", F.col("rank").cast("int")
    )


@query(
    "embed_dedup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    wb AS (SELECT vec_id, v, {_bucket_sql(_PLANES)} AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
)
def q_embed_dedup_pairs(t: TableSet) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucket-bounded self-join.
    This corpus has no true dups (max pair cosine 0.51), so the
    conformance threshold is 0.4 — the *pipeline* (bucket join, exact
    verify, no cross product) is what's under test."""
    return similarity.embedding_dedup_pairs(t.embeddings, threshold=0.4)


@query(
    "embed_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
               FROM embeddings),
    m AS (SELECT vec_id, x, list_min(x) AS vmin, list_max(x) AS vmax FROM e),
    q AS (
      SELECT vec_id, x, vmin, vmax, (vmax - vmin) / 255.0 AS scale,
             CASE WHEN vmax > vmin THEN
               list_transform(x, v -> CAST(floor((v - vmin)
                 / ((vmax - vmin) / 255.0) + 0.5) AS INTEGER))
             ELSE list_transform(x, v -> 0) END AS codes
      FROM m)
    SELECT vec_id,
           round(vmin, 6) AS vmin,
           round(vmax, 6) AS vmax,
           array_to_string(codes, ',') AS codes_csv,
           round(list_max(list_transform(range(1, len(x) + 1),
             i -> abs(vmin + codes[i] * scale - x[i]))), 6) AS qerr_max
    FROM q
    """,
)
def q_embed_quantize_int8(t: TableSet) -> DataFrame:
    """Per-vector int8 scale quantization of the embedding store
    (4x storage cut) with max reconstruction error — per-row array
    arithmetic, zero shuffle; codes bit-identical across engines."""
    return similarity.quantize_int8(t.embeddings)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(string_split_regex(norm, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(norm,
                '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(norm) AS BIGINT) AS n_chars_norm
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    """,
)
def q_text_token_stats(t: TableSet) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex segmentation.
    Pure per-row codegen, zero shuffle."""
    return text.token_stats(t.documents)


_STOP_LIST = ", ".join(f"'{w}'" for w in text.LANG_MARKERS["en"])


@query(
    "text_quality",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS norm,
             string_split_regex({_NORM}, ' ') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS n_tok,
             CAST(len(norm) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(w, x -> list_contains([{_STOP_LIST}], x)))
                  AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(norm, '[^\w\s]')) AS DOUBLE) AS n_punct
      FROM base
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(n_stop / n_tok, 6) AS stop_ratio,
           round(n_punct / greatest(n_chars, 1.0), 6) AS punct_ratio,
           round((n_chars - (n_tok - 1)) / n_tok, 6) AS avg_word_len,
           round(0.4 * least(n_tok / 50.0, 1.0)
                 + 0.3 * least((n_stop / n_tok) * 5, 1.0)
                 + 0.2 * (1 - least((n_punct / greatest(n_chars, 1.0)) * 10, 1.0))
                 + 0.1 * least(((n_chars - (n_tok - 1)) / n_tok) / 8, 1.0),
                 6) AS quality
    FROM m
    """,
)
def q_text_quality(t: TableSet) -> DataFrame:
    """Quality scoring: length/stopword/punctuation/word-length
    signals, deterministic arithmetic identical in both engines."""
    return text.quality_score(t.documents)


def _langid_oracle() -> str:
    score_exprs = []
    for lang, markers in text.LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in markers)
        score_exprs.append(
            f"CAST(len(list_filter(w, x -> list_contains([{lst}], x))) AS DOUBLE)"
            f" / greatest(CAST(len(w) AS DOUBLE), 1.0) AS s_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    whens = []
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " END"
    rounded = ", ".join(f"round(s_{lang}, 6) AS s_{lang}" for lang in langs)
    return f"""
    WITH base AS (
      SELECT doc_id, lang, string_split_regex({_NORM}, ' ') AS w FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, {', '.join(score_exprs)} FROM base
    )
    SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang, {rounded}
    FROM scored
    """


@query("text_language_id", oracle=_langid_oracle())
def q_text_language_id(t: TableSet) -> DataFrame:
    """Stopword-marker language ID with deterministic argmax
    (first-language-wins tie-break, mirrored in the oracle CASE)."""
    return text.language_id(t.documents)


_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, unnest(string_split_regex({_NORM}, ' ')) AS tok
  FROM documents
)"""


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH {_TOKS_CTE},
    freqs AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ((2 * SUM(CAST(CAST(round(-log2(tf / total.n), 6)
                               AS DECIMAL(28,10)) * 1000000 AS BIGINT))
             + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS avg_nll
    FROM toks JOIN freqs USING (tok), total
    GROUP BY doc_id
    """,
)
def q_text_unigram_logprob(t: TableSet) -> DataFrame:
    """Corpus-unigram LM quality score (avg -log2 p(token)) — the
    perplexity-style curation filter. Per-token nll rounded before an
    exact integer-micro sum; the average rounds half-up in integer
    arithmetic, so it is bit-stable across engines."""
    return text.unigram_logprob(t.documents)


@query(
    "text_pattern_flags",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
             AS n_urls,
           CAST(len(regexp_extract_all(text,
             '\+?[0-9][0-9()\- ]{{7,}}[0-9]')) AS BIGINT) AS n_phones
    FROM documents
    """,
)
def q_text_pattern_flags(t: TableSet) -> DataFrame:
    """PII-ish pattern counts (emails / URLs / phones) — the
    filter-or-redact signal. RE2-compatible patterns, per-row."""
    return text.pattern_flags(t.documents)


_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang AS stratum, CAST({_BUCKET_SQL} AS INT) AS bucket
    FROM documents
    WHERE {_BUCKET_SQL} < 20
    """,
)
def q_sample_stratified(t: TableSet) -> DataFrame:
    """Deterministic 20% stratified sample by content-hash bucket —
    reproducible across engines and runs, pure filter (no shuffle,
    no RNG state)."""
    return text.stratified_sample(t.documents)


@query(
    "dataset_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 10 THEN 'test'
                WHEN {_BUCKET_SQL} < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def q_dataset_split(t: TableSet) -> DataFrame:
    """Hash-based train/val/test split — a doc's assignment never
    changes as the corpus grows (the property random splits lack)."""
    return text.dataset_split(t.documents)


@query(
    "source_cap",
    oracle="""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS keep_rank
    FROM (SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
          FROM documents)
    WHERE rn <= 15
    """,
)
def q_source_cap(t: TableSet) -> DataFrame:
    """Per-source quota cap (domain balancing): at most 15 docs per
    source, chosen by deterministic hash priority. Per-source window
    only — one shuffle, no global sort."""
    return text.source_cap(t.documents)


def _duck_nib(key: str, p: int) -> str:
    return f"(strpos('0123456789abcdef', substr({key}, {p + 1}, 1)) - 1)"


def _duck_shard(key: str, n: int) -> str:
    """DuckDB mirror of packing._shard_of (first-16-bit md5 shard)."""
    return (
        f"(({_duck_nib(key, 0)} * 4096 + {_duck_nib(key, 1)} * 256 + "
        f"{_duck_nib(key, 2)} * 16 + {_duck_nib(key, 3)}) % {n})"
    )


@query(
    "vocab_topk",
    oracle=f"""
    SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split_regex({_NORM}, ' ')) AS tok
          FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, token
    LIMIT 1000
    """,
)
def q_vocab_topk(t: TableSet) -> DataFrame:
    """Corpus token vocabulary, top 1000 by frequency (ties broken by
    token text). Partial+final count, then TakeOrderedAndProject —
    no global sort of the full token histogram."""
    return packing.vocab_topk(t.documents)


@query(
    "shuffle_shards",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5('{packing.SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))
               AS shuffle_key
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, shuffle_key,
             CAST({_duck_shard("shuffle_key", packing.N_SHARDS)} AS INTEGER)
               AS shard
      FROM keyed
    )
    SELECT doc_id, shuffle_key, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) AS BIGINT)
             AS pos
    FROM sharded
    """,
)
def q_shuffle_shards(t: TableSet) -> DataFrame:
    """Deterministic seeded shuffle into training shards: md5 key →
    16-bit shard → per-shard position (partitioned window only — no
    global row_number funnel)."""
    return packing.shuffle_shards(t.documents)


@query(
    "mixture_sample",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             CASE WHEN ntok < 40 THEN 'short'
                  WHEN ntok <= 60 THEN 'mid'
                  ELSE 'long' END AS bucket
      FROM (SELECT doc_id,
                   len(list_filter(string_split_regex({_NORM}, ' '),
                                   x -> x <> '')) AS ntok
            FROM documents)),
    c AS (SELECT bucket, COUNT(*) AS n FROM k GROUP BY bucket),
    t AS (SELECT SUM(n) AS N, SUM(sqrt(n)) AS W FROM c),
    r AS (SELECT bucket,
                 round(least(1.0, t.N * {packing.MIX_FRAC} * sqrt(c.n)
                                  / t.W / c.n), 6) AS rate
          FROM c, t),
    h AS (SELECT doc_id,
                 ((strpos('0123456789abcdef', substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 +
                  (strpos('0123456789abcdef', substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 +
                  (strpos('0123456789abcdef', substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 +
                  (strpos('0123456789abcdef', substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) / 65536.0
                 AS frac
          FROM documents)
    SELECT k.doc_id, k.bucket, r.rate
    FROM k JOIN r USING (bucket) JOIN h USING (doc_id)
    WHERE h.frac < r.rate
    """,
)
def q_mixture_sample(t: TableSet) -> DataFrame:
    """Temperature-based (α=0.5) data-mixture sample over length
    buckets: rates ∝ sqrt(bucket size) broadcast against a single
    filter-only pass over the corpus."""
    return packing.mixture_sample(t.documents)


@query(
    "sequence_pack",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             CAST(LEAST(len(list_filter(string_split_regex({_NORM}, ' '),
                                        x -> x <> '')),
                        {packing.PACK_BUDGET}) AS BIGINT) AS n_tokens,
             md5('{packing.SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))
               AS shuffle_key
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tokens,
             CAST({_duck_shard("shuffle_key", packing.N_SHARDS)} AS INTEGER)
               AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY {_duck_shard("shuffle_key", packing.N_SHARDS)}
               ORDER BY shuffle_key, doc_id) AS rn
      FROM base
    ),
    packed AS (
      SELECT doc_id, shard, rn, n_tokens,
             CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS off,
             n_tokens AS used
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.doc_id, o.shard, o.rn, o.n_tokens,
             CASE WHEN p.used + o.n_tokens > {packing.PACK_BUDGET}
                       AND p.used > 0
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.used + o.n_tokens > {packing.PACK_BUDGET}
                       AND p.used > 0
                  THEN CAST(0 AS BIGINT) ELSE p.used END,
             CASE WHEN p.used + o.n_tokens > {packing.PACK_BUDGET}
                       AND p.used > 0
                  THEN o.n_tokens ELSE p.used + o.n_tokens END
      FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT doc_id, shard, bin_id, n_tokens, off AS "offset" FROM packed
    """,
)
def q_sequence_pack(t: TableSet) -> DataFrame:
    """Greedy fixed-budget sequence packing per shard via
    applyInPandas (the greedy reset is sequential state — Python
    escape hatch, Arrow-batched, parallel across shards). The packing
    is nonetheless fully deterministic (seeded shard + in-shard order),
    so the oracle replays the exact greedy recurrence as a DuckDB
    recursive CTE stepping rank-by-rank within each shard — a full
    hash-match oracle, not just invariants."""
    return packing.sequence_pack(t.documents)


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split_regex({_NORM}, ' ') AS w
                  FROM documents),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                  ELSE [] END AS g
      FROM toks),
    lns AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        l -> trim(l)), l -> l <> '') AS ls
      FROM documents)
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_bigrams,
           CASE WHEN len(g) > 0
                THEN round(1 - len(list_distinct(g)) / len(g), 6)
                ELSE 0.0 END AS dup_bigram_frac,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CASE WHEN len(ls) > 0
                THEN round(1 - len(list_distinct(ls)) / len(ls), 6)
                ELSE 0.0 END AS dup_line_frac
    FROM grams JOIN lns USING (doc_id)
    """,
)
def q_text_repetition(t: TableSet) -> DataFrame:
    """Within-doc repetition (Gopher-rules quality signal): duplicate
    bigram + duplicate line fractions. Per-row array arithmetic, zero
    shuffle."""
    return text.repetition_stats(t.documents)


@query(
    "contamination_check",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    eval_g AS (SELECT DISTINCT unnest(shingles) AS gram FROM shn
               WHERE doc_id % {text.EVAL_MODULUS} = 0),
    train AS (SELECT doc_id, len(shingles) AS n_grams,
                     unnest(shingles) AS gram
              FROM shn WHERE doc_id % {text.EVAL_MODULUS} <> 0)
    SELECT doc_id,
           CAST(MIN(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           round(CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / MIN(n_grams), 6) AS contamination
    FROM train t LEFT JOIN eval_g e USING (gram)
    GROUP BY doc_id
    """,
)
def q_contamination_check(t: TableSet) -> DataFrame:
    """Train/eval n-gram contamination score per train doc — eval
    shingle vocab broadcast, linear explode + one groupBy shuffle
    (never O(n^2))."""
    return text.contamination_check(t.documents)


@query(
    "text_fingerprints",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    grams AS (
      SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
      FROM norm, UNNEST(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
    ),
    sel AS (
      SELECT DISTINCT doc_id, wmin AS fp FROM (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM grams
      ) WHERE i >= 4
    )
    SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS fp_min, MAX(fp) AS fp_max
    FROM sel GROUP BY doc_id
    """,
)
def q_text_fingerprints(t: TableSet) -> DataFrame:
    """Winnowing fingerprints (k=8 char-grams, window w=4): per-doc
    count + min/max selected hash."""
    return text.winnow_fingerprints(t.documents)


@query(
    "text_boilerplate",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    grams AS (
      SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
      FROM norm, UNNEST(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
    ),
    sel AS (
      SELECT DISTINCT doc_id, wmin AS fp FROM (
        SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM grams
      ) WHERE i >= 4
    ),
    boiler AS (
      SELECT fp, COUNT(*) AS df FROM sel GROUP BY fp HAVING COUNT(*) >= 3
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_fp,
             CAST(COALESCE(SUM(CASE WHEN df IS NOT NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_boiler
      FROM sel LEFT JOIN boiler USING (fp)
      GROUP BY doc_id
    )
    SELECT doc_id, n_fp, n_boiler,
           ((2000000 * n_boiler + n_fp) // (2 * n_fp)) / 1000000.0
             AS boiler_frac
    FROM agg
    """,
)
def q_text_boilerplate(t: TableSet) -> DataFrame:
    """Cross-document boilerplate spans: winnowing fingerprints shared
    by >= 3 docs flag repeated headers/footers/license blurbs; per-doc
    boilerplate fraction in exact integer half-up arithmetic."""
    return text.boilerplate_spans(t.documents)


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM base
    ),
    bgf AS (SELECT bg, COUNT(*) AS cbg FROM bg GROUP BY bg),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cw1
      FROM bg GROUP BY 1
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ((2 * SUM(CAST(CAST(round(-log2(cbg / cw1), 6)
                               AS DECIMAL(28,10)) * 1000000 AS BIGINT))
             + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS avg_nll2
    FROM bg
    JOIN bgf USING (bg)
    JOIN ctx ON split_part(bg.bg, ' ', 1) = ctx.w1
    GROUP BY doc_id
    """,
)
def q_text_bigram_logprob(t: TableSet) -> DataFrame:
    """Corpus-bigram conditional LM score (avg -log2 p(w2|w1)) — the
    KenLM-lite perplexity curation filter; bigrams built per-row from
    array slices (no positional self-join)."""
    return text.bigram_logprob(t.documents)


# ---------------------------------------------------------------------------
# Multimodal (binary columns + pandas decode)
# ---------------------------------------------------------------------------


@query(
    "multimodal_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, source AS origin,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS content_md5
      FROM documents
    )
    SELECT origin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           round(AVG(CAST(n_bytes % 640 + 1 AS DOUBLE)), 6) AS avg_width,
           round(AVG(CAST(n_bytes * 7 % 480 + 1 AS DOUBLE)), 6) AS avg_height,
           MIN(content_md5) AS md5_min
    FROM d GROUP BY origin
    """,
)
def q_multimodal_decode(t: TableSet) -> DataFrame:
    """Multimodal pipeline: binary payload column + metadata struct →
    Arrow-batched mapInPandas decode (deterministic fake, real
    plumbing) → metadata join-back → per-origin aggregate. The oracle
    reproduces the fake decode arithmetic on the same bytes."""
    return multimodal.media_feature_summary(t.documents)


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) % 640 + 1 AS src_width,
           octet_length(encode(text)) * 7 % 480 + 1 AS src_height,
           {multimodal.RESIZE_TO[0]} AS dst_width,
           {multimodal.RESIZE_TO[1]} AS dst_height,
           md5(md5(text) ||
               ':{multimodal.RESIZE_TO[0]}x{multimodal.RESIZE_TO[1]}')
             AS resized_md5
    FROM documents
    """,
)
def q_multimodal_resize(t: TableSet) -> DataFrame:
    """Resize stage of the multimodal pipeline: mapInPandas fake
    resize to 224x224 (real plumbing, deterministic checksum the
    oracle reproduces)."""
    return multimodal.resize_media(multimodal.as_media_table(t.documents))


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
    f AS (SELECT doc_id, nb // 100 + 1 AS n_frames,
                 least(4, nb // 100 + 1) AS k
          FROM d)
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(CASE WHEN k = 1 THEN 0
                     ELSE (i * (n_frames - 1)) // (k - 1) END AS BIGINT)
             AS frame_idx
    FROM f, UNNEST(range(0, k)) AS u(i)
    """,
)
def q_multimodal_frame_sample(t: TableSet) -> DataFrame:
    """Frame sampling (1→k mapInPandas): up to 4 evenly spaced frame
    indices per 'video' payload. Real container decode is stubbed
    (no media libs in the image); the batch plumbing and index
    arithmetic are real and oracle-reproduced."""
    return multimodal.sample_frames(multimodal.as_media_table(t.documents))


_IVF_SEED = similarity._IVF_SEED
_IVF_N_LIST = similarity.IVF_N_LIST


@query(
    "ivf_topk_ann",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id IN (
                SELECT vec_id FROM e
                ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {_IVF_N_LIST})),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, centroid_id
          FROM assigned WHERE vec_id < 10),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, centroid_id FROM assigned),
    scored AS (
      SELECT query_id, neighbor_id, centroid_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c2 JOIN q USING (centroid_id) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, centroid_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ivf_topk_ann(t: TableSet) -> DataFrame:
    """IVF-flat ANN (nprobe=1): coarse quantizer = 16 dataset vectors
    picked by smallest md5(seed:id) — derived in-plan on BOTH engines,
    so the oracle holds at any scale factor; every vector assigned to
    its nearest centroid, search probes only the query's inverted
    list. At scale the corpus is stored bucketed by centroid_id."""
    return similarity.ivf_topk(t.embeddings)


@query(
    "ivf_topk_ann_nprobe2",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id IN (
                SELECT vec_id FROM e
                ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {_IVF_N_LIST})),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1
    ),
    q AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 2
    ),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, centroid_id FROM assigned),
    scored AS (
      SELECT query_id, neighbor_id, centroid_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c2 JOIN q USING (centroid_id) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, centroid_id, cos_sim, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ivf_topk_ann_nprobe2(t: TableSet) -> DataFrame:
    """IVF-flat ANN with multi-probe (nprobe=2): each query searches
    its two nearest inverted lists — the recall lever for
    cell-boundary misses; cost stays ∝ nprobe * corpus / n_list."""
    return similarity.ivf_topk(t.embeddings, nprobe=2)


@query(
    "semantic_dedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id IN (
                SELECT vec_id FROM e
                ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {_IVF_N_LIST})),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    )
    SELECT a.vec_id, a.centroid_id, (d.dup_id IS NULL) AS kept
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.dup_id
    """,
)
def q_semantic_dedup(t: TableSet) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF-cluster the embeddings,
    drop any vector with a lower-id neighbor at cosine >= 0.35 in the
    same cluster. Quadratic work is confined within clusters; the
    cluster self-join is a hash equi-join on centroid_id."""
    return similarity.semantic_dedup(t.embeddings)


# ---------------------------------------------------------------------------
# Custom join strategies
# ---------------------------------------------------------------------------


_ROLLUP_LEVEL_SQL = "\n      UNION ALL\n".join(
    f"""
      SELECT '{label}' AS resolution,
             s // {width} * {width} AS bucket_s, event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(38,6))) AS vs
      FROM e GROUP BY 2, 3"""
    for label, width in rollup.RESOLUTIONS
)


@query(
    "rollup_cascade",
    oracle=f"""
    WITH e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
                      event_type, value
               FROM events),
    lvl AS ({_ROLLUP_LEVEL_SQL})
    SELECT resolution, make_timestamp(bucket_s * 1000000) AS bucket_start,
           event_type, n, CAST(vs AS DOUBLE) AS value_sum
    FROM lvl
    """,
)
def q_rollup_cascade(t: TableSet) -> DataFrame:
    """Hypertable-style continuous aggregate: minute rollup from raw
    events, hour from minutes, day from hours — counts-of-counts and
    exact decimal sums-of-sums, so every level is bit-equal to
    aggregating raw data (which is what the oracle does)."""
    return rollup.rollup_cascade(t.events)


_USER_ROLLUP_LEVEL_SQL = "\n      UNION ALL\n".join(
    f"""
      SELECT '{label}' AS resolution,
             s // {width} * {width} AS bucket_s, event_type,
             COUNT(DISTINCT user_id) AS eu
      FROM e GROUP BY 2, 3"""
    for label, width in rollup.RESOLUTIONS
)


@query(
    "sketch_user_rollup",
    oracle=f"""
    WITH e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
                      event_type, user_id
               FROM events),
    lvl AS ({_USER_ROLLUP_LEVEL_SQL})
    SELECT resolution, make_timestamp(bucket_s * 1000000) AS bucket_start,
           event_type, CAST(eu AS BIGINT) AS exact_users, TRUE AS approx_ok
    FROM lvl
    """,
)
def q_sketch_user_rollup(t: TableSet) -> DataFrame:
    """Distinct-user rollup via mergeable DataSketches HLL: coarser
    levels UNION the finer level's sketches (COUNT DISTINCT does not
    re-aggregate; sketches do). The raw estimate is impl-defined, so
    the conformance row publishes the DuckDB-verified exact distinct
    per bucket plus `approx_ok` — the sketch's accuracy contract
    (|approx − exact| ≤ max(2, 8% — HLL lgK=12 rsd≈1.6%, 5σ slack))
    checked in-plan; the oracle asserts it TRUE for every bucket."""
    sk = rollup.user_sketch_rollup(t.events)
    frames = []
    for label, width in rollup.RESOLUTIONS:
        frames.append(
            t.events.groupBy(
                rollup._bucket(F.col("ts"), width), F.col("event_type")
            )
            .agg(F.countDistinct("user_id").alias("exact_users"))
            .select(
                F.lit(label).alias("resolution"),
                F.timestamp_seconds(F.col("bucket_s")).alias("bucket_start"),
                "event_type",
                "exact_users",
            )
        )
    exact = frames[0]
    for fdf in frames[1:]:
        exact = exact.unionByName(fdf)
    tol = F.greatest(F.lit(2.0), F.col("exact_users") * 0.08)
    return sk.join(exact, ["resolution", "bucket_start", "event_type"]).select(
        "resolution",
        "bucket_start",
        "event_type",
        "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol).alias(
            "approx_ok"
        ),
    )


@query(
    "range_join_sessions",
    oracle="""
    WITH clk AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                 FROM events WHERE event_type = 'click'),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 8 HOUR
                  THEN 1 ELSE 0 END AS is_new
      FROM clk),
    sess_rows AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
      FROM marked),
    sessions AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sess_rows GROUP BY user_id, session_id),
    purch AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, s.session_id,
           s.session_start, s.session_end,
           p.ts AS purchase_ts, p.value
    FROM purch p JOIN sessions s
      ON p.user_id = s.user_id
     AND p.ts >= s.session_start AND p.ts <= s.session_end
    """,
)
def q_range_join_sessions(t: TableSet) -> DataFrame:
    """Point-in-interval range join: purchases placed into the click
    session (8-hour gap — the corpus's click cadence) containing
    them. Bucketized hash join — never the nested-loop a raw BETWEEN
    theta join would plan."""
    clicks = t.events.where(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = clicks.select(
        "user_id", "ts", "event_id",
        F.when(gap > 8 * 3600, 1).otherwise(0).alias("is_new"),
    )
    sessions = (
        marked.withColumn(
            "session_id",
            F.sum("is_new")
            .over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return joins.range_join(
        purchases,
        sessions,
        "ts",
        "session_start",
        "session_end",
        ["user_id"],
        bucket_seconds=21600,
    ).select(
        "event_id", "user_id", "session_id", "session_start", "session_end",
        F.col("ts").alias("purchase_ts"), "value",
    )


@query(
    "asof_join_events",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type, value FROM events),
    clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY value DESC) AS rn
        FROM e WHERE event_type = 'purchase') WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts, p.value AS value_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_join_events(t: TableSet) -> DataFrame:
    """As-of join: each click gets the user's most recent prior (or
    simultaneous) purchase value. Spark composition = union trick +
    last(ignorenulls) window — one shuffle on user_id, O(1) state per
    row. The oracle is DuckDB's native ASOF LEFT JOIN."""
    ev = t.events
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return joins.asof_join(
        clicks, purch, on="ts", by=["user_id"], right_cols=["value"]
    )


@query(
    "salted_join_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_salted_join_agg(t: TableSet) -> DataFrame:
    """Salted skew-join: deterministic per-row salt on the probe side,
    build side replicated across salts, join on (key, salt). The
    oracle is the PLAIN join — proving the strategy changes only the
    partitioning, never the result."""
    li = t.lineitem.select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    orders = t.orders.select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    j = joins.salted_join(li, orders, "okey", n_salts=8)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("o_orderpriority").agg(
        F.sum(revenue.cast("decimal(38,6)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# pandas UDF surface
# ---------------------------------------------------------------------------


@query(
    "udf_vowel_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT) AS n_vowels,
           CAST(len(text) AS BIGINT) AS n_chars_raw
    FROM documents
    """,
)
def q_udf_vowel_stats(t: TableSet) -> DataFrame:
    """Scalar @pandas_udf (Arrow-vectorized) — oracle-checked against
    the pure-SQL equivalent."""
    return pandas_udfs.text_vowel_stats(t.documents)


@query(
    "udf_zscore_by_source",
    oracle="""
    WITH stats AS (
      SELECT source,
             COUNT(*) AS n,
             CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(n_chars AS DECIMAL(38,6))
                      * CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS sx2
      FROM documents GROUP BY source
    )
    SELECT d.source, d.doc_id,
           round((d.n_chars - sx / n)
                 / sqrt((sx2 - sx * sx / n) / (n - 1)), 6) AS z_chars
    FROM documents d JOIN stats USING (source)
    """,
)
def q_udf_zscore_by_source(t: TableSet) -> DataFrame:
    """Grouped applyInPandas z-score — fsum in the UDF matches the
    oracle's exact decimal sums (both correctly rounded), so even
    this Python-side computation is hash-comparable."""
    return pandas_udfs.zscore_by_source(t.documents)


@query(
    "udf_weighted_mean",
    oracle="""
    SELECT l_returnflag AS returnflag,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))
                          * CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udf_weighted_mean(t: TableSet) -> DataFrame:
    """Grouped-AGG pandas_udf (the third UDF flavor next to scalar and
    grouped-map): quantity-weighted mean price per returnflag. fsum in
    the UDF ≡ the oracle's exact-decimal sums after one rounding."""
    return pandas_udfs.weighted_price_by_flag(t.lineitem)


# ---------------------------------------------------------------------------
# Sketches & quantiles
# ---------------------------------------------------------------------------


@query(
    "quantiles_exact",
    oracle="""
    SELECT round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 6) AS q25,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS q50,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 6) AS q75,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99), 6) AS q99
    FROM orders
    """,
)
def q_quantiles_exact(t: TableSet) -> DataFrame:
    """Exact linear-interpolation percentiles (the correctness anchor
    for the approximate sketch below)."""
    return t.orders.agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 6).alias(a)
            for p, a in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75"), (0.99, "q99"))
        ]
    )


@query(
    "sketch_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           TRUE AS approx_parts_ok, TRUE AS approx_supps_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_sketch_approx_distinct(t: TableSet) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count —
    the scalable distinct-cardinality path (no exact-distinct shuffle
    explosion at 100 TB). HLL values are engine-specific, so the
    conformance row carries the DuckDB-verified exact counts plus
    per-column `*_ok` accuracy-contract booleans (|approx − exact| ≤
    max(2, 15% — 3σ at the default rsd 5%)), asserted TRUE by the
    oracle."""
    ok = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact))
        <= F.greatest(F.lit(2.0), F.col(exact) * 0.15)
    )
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("_ap"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_suppkey").alias("_as"),
            F.countDistinct("l_suppkey").alias("exact_supps"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_supps",
            ok("_ap", "exact_parts").alias("approx_parts_ok"),
            ok("_as", "exact_supps").alias("approx_supps_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "sketch_approx_quantiles",
    oracle="""
    SELECT round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 6)
             AS q25_exact,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6)
             AS q50_exact,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 6)
             AS q75_exact,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99), 6)
             AS q99_exact,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok, TRUE AS q99_ok
    FROM orders
    """,
)
def q_sketch_approx_quantiles(t: TableSet) -> DataFrame:
    """percentile_approx sketch over o_totalprice (KLL-style, accuracy
    10000 → rank error ≤ n/10000). Sketch outputs are engine-specific,
    so the row publishes the DuckDB-verified exact interpolated
    quantiles plus per-quantile `*_ok` booleans (approx within 1% of
    exact — generous against the ≤2-rank error at conformance scale),
    asserted TRUE by the oracle."""
    agg = t.orders.agg(
        F.percentile_approx(
            "o_totalprice", [0.25, 0.5, 0.75, 0.99], 10000
        ).alias("qs"),
        F.expr(
            "percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.99))"
        ).alias("ex"),
    )
    cols = []
    for i, tag in enumerate(("q25", "q50", "q75", "q99")):
        cols.append(F.round(F.col("ex")[i], 6).alias(f"{tag}_exact"))
    for i, tag in enumerate(("q25", "q50", "q75", "q99")):
        cols.append(
            (
                F.abs(F.col("qs")[i] - F.col("ex")[i])
                <= F.col("ex")[i] * 0.01
            ).alias(f"{tag}_ok")
        )
    return agg.select(*cols)


@query(
    "sketch_theta_overlap",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id)
    SELECT CAST(SUM(c) AS BIGINT) AS clicks_exact,
           CAST(SUM(p) AS BIGINT) AS purchases_exact,
           CAST(SUM(c * p) AS BIGINT) AS overlap_exact,
           CAST(SUM(CASE WHEN c + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS union_exact,
           CAST(SUM(c * (1 - p)) AS BIGINT) AS click_only_exact,
           TRUE AS clicks_ok, TRUE AS purchases_ok, TRUE AS overlap_ok,
           TRUE AS union_ok, TRUE AS click_only_ok
    FROM pu
    """,
)
def q_sketch_theta_overlap(t: TableSet) -> DataFrame:
    """Theta-sketch set algebra (DataSketches): per-event-type user
    sketches built in ONE pass, then |A∩B|, |A∪B| and |A\\B| of the
    'click' and 'purchase' audiences estimated by sketch algebra —
    the mergeable path to audience-overlap questions that exact
    COUNT(DISTINCT) answers only with a full re-shuffle per pair. At
    100 TB: sketches are a few KB per group, combine associatively
    across partitions and ACROSS PAIRS (any pair of stored sketches
    can be intersected later without touching raw data). Estimates
    are impl-defined, so the row carries the DuckDB-verified exact
    audience counts plus per-estimate accuracy-contract booleans
    (|est − exact| ≤ max(2, 5%)), asserted TRUE by the oracle."""
    # a few rows (one sketch per event type) — checkpoint so the two
    # filtered sides don't each re-scan events to rebuild sketches
    sk = (
        t.events.groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
        .localCheckpoint()
    )
    a = sk.where(F.col("event_type") == "click").select(
        F.col("sk").alias("sk_a")
    )
    b = sk.where(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sk_b")
    )
    ests = a.crossJoin(b).select(  # 1x1 sketch rows — driver-side algebra
        F.round(F.theta_sketch_estimate(F.col("sk_a")), 0)
        .cast("bigint")
        .alias("_clicks_est"),
        F.round(F.theta_sketch_estimate(F.col("sk_b")), 0)
        .cast("bigint")
        .alias("_purchases_est"),
        F.round(
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
            ),
            0,
        )
        .cast("bigint")
        .alias("_overlap_est"),
        F.round(
            F.theta_sketch_estimate(F.theta_union(F.col("sk_a"), F.col("sk_b"))),
            0,
        )
        .cast("bigint")
        .alias("_union_est"),
        F.round(
            F.theta_sketch_estimate(
                F.theta_difference(F.col("sk_a"), F.col("sk_b"))
            ),
            0,
        )
        .cast("bigint")
        .alias("_click_only_est"),
    )
    c = F.max(
        F.when(F.col("event_type") == "click", 1).otherwise(0)
    ).alias("c")
    p = F.max(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).alias("p")
    exact = (
        t.events.groupBy("user_id")
        .agg(c, p)
        .agg(
            F.sum("c").cast("bigint").alias("clicks_exact"),
            F.sum("p").cast("bigint").alias("purchases_exact"),
            F.sum(F.col("c") * F.col("p")).cast("bigint").alias("overlap_exact"),
            F.sum((F.col("c") + F.col("p") > 0).cast("int"))
            .cast("bigint")
            .alias("union_exact"),
            F.sum(F.col("c") * (1 - F.col("p")))
            .cast("bigint")
            .alias("click_only_exact"),
        )
    )
    ok = lambda est, ex: (  # noqa: E731
        F.abs(F.col(est) - F.col(ex)) <= F.greatest(F.lit(2.0), F.col(ex) * 0.05)
    )
    return ests.crossJoin(exact).select(
        "clicks_exact",
        "purchases_exact",
        "overlap_exact",
        "union_exact",
        "click_only_exact",
        ok("_clicks_est", "clicks_exact").alias("clicks_ok"),
        ok("_purchases_est", "purchases_exact").alias("purchases_ok"),
        ok("_overlap_est", "overlap_exact").alias("overlap_ok"),
        ok("_union_est", "union_exact").alias("union_ok"),
        ok("_click_only_est", "click_only_exact").alias("click_only_ok"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (flagship composition)
# ---------------------------------------------------------------------------


@query(
    "pipeline_curate",
    oracle=rf"""
    WITH surv AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5({_NORM})
    ),
    base AS (
      SELECT doc_id, {_NORM} AS norm, string_split_regex({_NORM}, ' ') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS n_tok,
             CAST(len(norm) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(w, x -> list_contains([{_STOP_LIST}], x)))
                  AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(norm, '[^\w\s]')) AS DOUBLE) AS n_punct
      FROM base
    ),
    q AS (
      SELECT doc_id,
             CAST(n_tok AS BIGINT) AS n_tokens,
             round(0.4 * least(n_tok / 50.0, 1.0)
                   + 0.3 * least((n_stop / n_tok) * 5, 1.0)
                   + 0.2 * (1 - least((n_punct / greatest(n_chars, 1.0)) * 10,
                                      1.0))
                   + 0.1 * least(((n_chars - (n_tok - 1)) / n_tok) / 8, 1.0),
                   6) AS quality
      FROM m
    )
    SELECT d.doc_id, d.lang, q.n_tokens, q.quality,
           CASE WHEN {_BUCKET_SQL} < 10 THEN 'test'
                WHEN {_BUCKET_SQL} < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM documents d
    JOIN surv USING (doc_id)
    JOIN q ON q.doc_id = d.doc_id
    WHERE q.quality >= 0.5 AND q.n_tokens >= 20
    """,
)
def q_pipeline_curate(t: TableSet) -> DataFrame:
    """End-to-end curation pipeline as ONE composed plan: exact-dedup
    survivors → quality gate (score >= 0.5, >= 20 tokens) → stable
    hash split. All per-row derivations (quality signals, token
    count, split bucket) are FUSED into a single projection over one
    corpus scan — the operators expose their column expressions
    (text.quality_exprs / text.split_expr) precisely so composition
    does not become a chain of self-joins on doc_id (the naive
    join-per-operator form scanned the corpus four times; verified).
    The only other corpus pass is the dedup aggregate, whose survivor
    set semi-joins back — two shuffles total (dedup groupBy +
    survivor join) at any scale. The curated (doc_id, lang,
    n_tokens, quality, split) is exactly what a training-data writer
    shards out."""
    d = t.documents
    qx = text.quality_exprs("text")
    row = d.select(
        "doc_id",
        "lang",
        qx["n_tokens"].alias("n_tokens"),
        qx["quality"].alias("quality"),
        text.split_expr().alias("split"),
    ).where((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
    surv = dedup.exact_dedup(d).select("doc_id")
    return row.join(surv, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# Round-5 composed dedup queries: quality-aware survivor selection and
# the cross-source near-duplication matrix
# ---------------------------------------------------------------------------

_PAIR_CTES = f"""{_EX_CTES},
    prs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(COUNT(*) / (a.n_sh + b.n_sh - COUNT(*)), 6) AS jaccard
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      ) WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
    )"""

_QUALITY_CTE = rf"""
    qm AS (
      SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS n_tok,
             CAST(len(norm) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(w, x -> list_contains([{_STOP_LIST}], x)))
                  AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(norm, '[^\w\s]')) AS DOUBLE) AS n_punct
      FROM (SELECT doc_id, {_NORM} AS norm,
                   string_split_regex({_NORM}, ' ') AS w
            FROM documents)
    ),
    q AS (
      SELECT doc_id,
             round(0.4 * least(n_tok / 50.0, 1.0)
                   + 0.3 * least((n_stop / n_tok) * 5, 1.0)
                   + 0.2 * (1 - least((n_punct / greatest(n_chars, 1.0)) * 10,
                                      1.0))
                   + 0.1 * least(((n_chars - (n_tok - 1)) / n_tok) / 8, 1.0),
                   6) AS quality
      FROM qm
    )"""


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
    ),
    clus AS (SELECT node AS doc_id, MIN(root) AS cluster_id
             FROM reach GROUP BY node),
    {_QUALITY_CTE.lstrip()},
    ranked AS (
      SELECT c.doc_id, c.cluster_id, q.quality,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM clus c JOIN q USING (doc_id)
    )
    SELECT doc_id, cluster_id, quality, rn = 1 AS keep FROM ranked
    """,
)
def q_dedup_keep_best(t: TableSet) -> DataFrame:
    """Quality-aware dedup survivor: within each near-dup cluster
    keep the highest-quality member (ties -> lowest doc_id). The
    quality arg-max runs only over the dup subgraph (max_by on the
    label frame) — no corpus-wide window; oracle replays the
    recursive-CTE closure plus a per-cluster row_number."""
    return dedup.keep_best_per_cluster(t.documents)


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH {_PAIR_CTES}
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(p.jaccard AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_jaccard
    FROM prs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def q_source_overlap_matrix(t: TableSet) -> DataFrame:
    """Cross-source near-duplication matrix (pairs spanning each
    unordered source pair + their mean similarity) — the governance
    view that decides which source's duplicates a mixture drops."""
    return dedup.source_overlap_matrix(t.documents)


# ---------------------------------------------------------------------------
# Round-6 additions: PII redaction, domain statistics, label centroids
# ---------------------------------------------------------------------------

# The parquet corpus contains no URLs/emails/phones (pattern density
# is a fixture property, verified zero at every SF), so the
# redaction/domain conformance queries deterministically ENRICH the
# text in-query — both engines build the identical enriched column,
# making the regexp_replace / host-extraction parity a real
# comparison instead of a vacuous no-op. Docs with doc_id % 3 = 0
# stay untouched to keep the no-match path in the comparison too.
_ENRICH_SQL = """
    enr AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or https://site'
                       || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.org/p/' || CAST(doc_id AS VARCHAR)
                       || ' tel +1 (555) 010-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             END AS text
      FROM documents
    )"""


def _pii_enriched(docs: DataFrame) -> DataFrame:
    sid = F.col("doc_id").cast("string")
    enriched = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            sid,
            F.lit("@example.com or https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            sid,
            F.lit(" tel +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
    )
    return docs.select("doc_id", enriched.alias("text"))


@query(
    "text_pii_redact",
    oracle=rf"""
    WITH {_ENRICH_SQL.strip()},
    red AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
               '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{{7,}}[0-9]', '<PHONE>', 'g') AS redacted
      FROM enr
    )
    SELECT doc_id, redacted,
           CAST(len(regexp_extract_all(redacted,
             '<URL>|<EMAIL>|<PHONE>')) AS BIGINT) AS n_redacted
    FROM red
    """,
)
def q_text_pii_redact(t: TableSet) -> DataFrame:
    """PII redaction round-trip on deterministically enriched text:
    URL -> <URL>, email -> <EMAIL>, phone -> <PHONE>, full redacted
    text hash-compared across engines (500 rows of real matches plus
    the untouched doc_id%3 stratum)."""
    return text.pii_redact(_pii_enriched(t.documents))


@query(
    "docs_domain_stats",
    oracle=rf"""
    WITH {_ENRICH_SQL.strip()},
    ex AS (
      SELECT doc_id,
             lower(unnest(regexp_extract_all(text,
               'https?://([^/\s]+)', 1))) AS domain
      FROM enr
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ex GROUP BY domain
    """,
)
def q_docs_domain_stats(t: TableSet) -> DataFrame:
    """Per-domain URL statistics (occurrence + distinct-doc counts)
    over the enriched corpus — the allow/block-list ranking view.
    One explode + one hash-agg shuffle."""
    return text.domain_stats(_pii_enriched(t.documents))


@query(
    "embed_label_centroid",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS x
               FROM embeddings),
    ex AS (
      SELECT label,
             unnest(list_transform(range(1, len(x) + 1),
               i -> {'pos': i - 1, 'v': round(x[i], 6)})) AS s
      FROM e
    )
    SELECT label, CAST(s.pos AS BIGINT) AS pos,
           CAST(SUM(CAST(s.v AS DECIMAL(38,6))) * 1000000 AS BIGINT)
             AS s_micro,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM ex GROUP BY label, s.pos
    """,
)
def q_embed_label_centroid(t: TableSet) -> DataFrame:
    """Per-label centroid aggregation in (label, pos) long form,
    compared as EXACT integer micro-unit sums (the decimal-carrier
    sum times 1e6). The mean itself is one trivial division away but
    is deliberately not the compared value: round(sum/n, 6) re-rounds
    a double quotient, and engines disagree on shortest-repr rounding
    ties at the 7th digit (observed once at sf0.1). Exact sums are
    bit-stable at every SF."""
    per = similarity._label_pos_sums(t.embeddings)
    return per.select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        (F.col("s") * 1000000).cast("bigint").alias("s_micro"),
        F.col("n").cast("bigint").alias("n_vectors"),
    )


@query(
    "dedup_passage_exact",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents
    ),
    eligible AS (SELECT * FROM w WHERE len(w) >= {dedup.PASSAGE_TOKENS}),
    ps AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(w) // {dedup.PASSAGE_TOKENS}),
               i -> md5(array_to_string(
                 w[i * {dedup.PASSAGE_TOKENS} + 1
                   : i * {dedup.PASSAGE_TOKENS} + {dedup.PASSAGE_TOKENS}],
                 ' ')))) AS h
      FROM eligible
    ),
    g AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ps GROUP BY h)
    SELECT ps.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages
    FROM ps JOIN g USING (h)
    GROUP BY ps.doc_id
    """,
)
def q_dedup_passage_exact(t: TableSet) -> DataFrame:
    """Passage-level exact-substring duplication stats: 16-token
    non-overlapping passages hashed and counted across documents —
    the chunk-granular dedup view that catches shared boilerplate
    inside otherwise-distinct documents. One corpus scan, two
    hash-equality shuffles (see operators/dedup.py:passage_dedup_stats
    for the grouped-row-buffer bound)."""
    return dedup.passage_dedup_stats(t.documents)


@query(
    "dedup_edit_verify",
    oracle=f"""
    WITH {_LSH_PAIR_CTES},
    nt AS (SELECT doc_id, {_NORM} AS norm FROM documents)
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST(levenshtein(na.norm, nb.norm) AS BIGINT) AS edit_distance,
           round(1 - levenshtein(na.norm, nb.norm)
                     / greatest(len(na.norm), len(nb.norm)), 6) AS edit_sim,
           round(1 - levenshtein(na.norm, nb.norm)
                     / greatest(len(na.norm), len(nb.norm)), 6)
             >= {dedup.EDIT_SIM_THRESHOLD} AS verified
    FROM lshp p
    JOIN nt na ON na.doc_id = p.doc_a
    JOIN nt nb ON nb.doc_id = p.doc_b
    """,
)
def q_dedup_edit_verify(t: TableSet) -> DataFrame:
    """Order-sensitive second opinion on the LSH near-dup pairs:
    exact Levenshtein distance + normalized edit similarity per
    candidate pair, with the accept verdict at 0.8. Pair frame is
    subgraph-sized; text lookups are pruned corpus scans hash-joined
    against it; levenshtein runs JVM-side per pair."""
    return dedup.edit_verified_pairs(t.documents)


@query(
    "array_hof_stats",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT vec_id, label,
           CAST(len(list_filter(q, v -> v > 0)) AS BIGINT) AS n_pos,
           CAST(list_sum(q) AS BIGINT) AS sum_milli,
           CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS dot_self,
           CAST(list_max(q) AS BIGINT) AS max_milli
    FROM q
    """,
)
def q_array_hof_stats(t: TableSet) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate /
    zip_with) computing a per-vector hygiene profile in integer
    milli-units — one zero-shuffle codegen projection, the
    explode-free way to profile an embedding store (a posexplode
    would widen the corpus 64x first)."""
    return similarity.embedding_feature_stats(t.embeddings)


@query(
    "keyword_search",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, source,
             string_split_regex({_NORM}, ' ') AS w
      FROM documents
    )
    SELECT doc_id, lang, source,
           CAST(len(list_filter(w,
             x -> list_contains(['spark', 'window', 'query'], x)))
             AS BIGINT) AS n_occurrences
    FROM w
    WHERE list_contains(w, 'spark') AND list_contains(w, 'window')
      AND list_contains(w, 'query')
    """,
)
def q_keyword_search(t: TableSet) -> DataFrame:
    """AND-semantics whole-token keyword search with occurrence
    counts — one pruned scan, per-row codegen, zero shuffle (the
    one-off-query form; repeated workloads build the inverted-index
    postings instead, see operators/text.py:keyword_search)."""
    return text.keyword_search(t.documents)


@query(
    "importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex({_NORM}, ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, COUNT(*) AS tf_s,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tf_t
      FROM toks GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(tf_s) AS BIGINT) AS total_s,
             CAST(SUM(tf_t) AS BIGINT) AS total_t,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM vocab
    ),
    sv AS (
      SELECT tok,
             CAST(CAST(round(
               log2((tf_t + 1.0) / CAST(total_t + v AS DOUBLE))
               - log2(CAST(tf_s AS DOUBLE) / CAST(total_s AS DOUBLE)), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS micro
      FROM vocab, tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(micro) AS BIGINT) AS logratio_sum_micro
    FROM toks JOIN sv USING (tok)
    GROUP BY doc_id
    """,
)
def q_importance_weights(t: TableSet) -> DataFrame:
    """DSIR-style data-selection weights: per-doc sum of token
    log-likelihood ratios between the target-slice unigram LM
    (lang='en', add-one smoothed) and the corpus LM — two-pass
    model-then-score, both LMs built in ONE vocabulary aggregation,
    scores via a broadcast join. Exact integer micro-unit sums."""
    return text.importance_weights(t.documents)


@query(
    "length_buckets",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split_regex({_NORM}, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    k AS (
      SELECT doc_id, n_tokens,
             CAST(length(bin(n_tokens)) AS BIGINT) AS bucket
      FROM w
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(COUNT(*) * (CAST(1 AS BIGINT) << bucket) AS BIGINT)
             AS padded_tokens,
           round(SUM(n_tokens)
                 / (COUNT(*) * (CAST(1 AS BIGINT) << bucket)), 6)
             AS pad_efficiency
    FROM k GROUP BY bucket
    """,
)
def q_length_buckets(t: TableSet) -> DataFrame:
    """Power-of-two sequence-length buckets with padding-efficiency
    accounting — the pre-batching histogram. Bucket index from
    integer binary-representation length (never floor(log2), whose
    libm ulp behavior differs across engines)."""
    return packing.length_buckets(t.documents)


@query(
    "token_budget_allocation",
    oracle=f"""
    WITH w AS (
      SELECT source,
             len(string_split_regex({_NORM}, ' ')) AS nt
      FROM documents
    ),
    per_src AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM w GROUP BY source
    ),
    ann AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS prefix_before,
             COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY n_tokens, source)
               + 1 AS m_remaining,
             CAST(floor(SUM(n_tokens) OVER () / 2.0) AS BIGINT) AS budget
      FROM per_src
    ),
    -- water level = MAX over qualifying rows of
    -- (budget - prefix_before) / m_remaining. A row qualifies when
    -- filling all remaining sources to its own count meets the
    -- budget; for rows past the binding one the candidate can only
    -- shrink (each earlier full count >= the true level), so MAX
    -- picks the binding row's level.
    lev AS (
      SELECT source, n_tokens,
             MAX(CASE WHEN prefix_before + n_tokens * m_remaining >= budget
                      THEN (budget - prefix_before)
                           / CAST(m_remaining AS DOUBLE) END)
               OVER () AS level
      FROM ann
    )
    SELECT source, n_tokens,
           CAST(CASE WHEN level IS NULL THEN n_tokens
                     ELSE least(n_tokens, CAST(floor(level) AS BIGINT))
                END AS BIGINT) AS alloc_tokens,
           (CASE WHEN level IS NULL THEN n_tokens
                 ELSE least(n_tokens, CAST(floor(level) AS BIGINT))
            END) < n_tokens AS capped
    FROM lev
    """,
)
def q_token_budget_allocation(t: TableSet) -> DataFrame:
    """Closed-form water-filling token-budget allocation across
    sources (budget = half the corpus token mass): prefix-sum window
    over the |sources|-row aggregate finds the level analytically —
    no iteration, corpus touched by one aggregation shuffle."""
    return packing.token_budget_allocation(t.documents)


_PROFILE_COLS = (
    ("l_orderkey", True), ("l_quantity", True), ("l_extendedprice", True),
    ("l_discount", True), ("l_returnflag", False), ("l_linestatus", False),
)


def _profile_oracle() -> str:
    aggs, arms = ["COUNT(*) AS n"], []
    for i, (c, num) in enumerate(_PROFILE_COLS):
        aggs.append(f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nu{i}")
        aggs.append(f"COUNT(DISTINCT {c}) AS d{i}")
        if num:
            aggs.append(f"CAST(MIN({c}) AS DOUBLE) AS mn{i}")
            aggs.append(f"CAST(MAX({c}) AS DOUBLE) AS mx{i}")
        mn = f"mn{i}" if num else "CAST(NULL AS DOUBLE)"
        mx = f"mx{i}" if num else "CAST(NULL AS DOUBLE)"
        arms.append(
            f"SELECT '{c}' AS column_name, CAST(n AS BIGINT) AS n_rows,"
            f" CAST(nu{i} AS BIGINT) AS n_nulls,"
            f" CAST(d{i} AS BIGINT) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM a"
        )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(arms)
    )


@query("table_profile", oracle=_profile_oracle())
def q_table_profile(t: TableSet) -> DataFrame:
    """Single-pass column profiler in long form (nulls, exact
    distinct counts, numeric min/max) — ONE aggregation scan
    regardless of column count (multiple COUNT DISTINCTs share a
    single Expand), then a stack transpose. The first query every
    warehouse UI runs; at 100 TB the one-scan property is the whole
    point."""
    return profile.table_profile(
        t.lineitem, [c for c, _ in _PROFILE_COLS]
    )


@query(
    "embed_matryoshka_fidelity",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    d AS (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT)
               AS dot_full,
             CAST(list_sum(list_transform(
               q[1:{similarity.MATRYOSHKA_DIMS}], v -> v * v)) AS BIGINT)
               AS dot_prefix
      FROM q
    )
    SELECT vec_id, label, dot_full, dot_prefix,
           round(dot_prefix / CAST(dot_full AS DOUBLE), 6)
             AS retained_energy,
           round(sqrt(dot_prefix) / sqrt(dot_full), 6) AS cos_truncated
    FROM d
    """,
)
def q_embed_matryoshka_fidelity(t: TableSet) -> DataFrame:
    """Matryoshka prefix-truncation fidelity per vector (retained
    energy + full-vs-truncated cosine) — per-row integer milli-unit
    dot products, zero shuffle; the storage-tiering decision input."""
    return similarity.matryoshka_fidelity(t.embeddings)


@query(
    "split_leakage_check",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
    ),
    clus AS (SELECT node AS doc_id, MIN(root) AS cluster_id
             FROM reach GROUP BY node),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_BUCKET_SQL} < 10 THEN 'test'
                  WHEN {_BUCKET_SQL} < 20 THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    ),
    per AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT s.split) AS BIGINT) AS n_splits,
             array_to_string(list_sort(list(DISTINCT s.split)), ',')
               AS splits
      FROM clus c JOIN sp s USING (doc_id)
      GROUP BY c.cluster_id
    )
    SELECT cluster_id, n_docs, n_splits, splits, n_splits > 1 AS leaky
    FROM per WHERE n_docs >= 2
    """,
)
def q_split_leakage_check(t: TableSet) -> DataFrame:
    """Split-leakage audit: near-dup clusters whose members span
    multiple hash-assigned dataset splits (eval contamination the
    dataset card must report). Composes the dup-subgraph fixpoint
    with the zero-shuffle split expression; oracle replays the
    recursive-CTE closure + the split CASE."""
    return dedup.split_leakage_check(t.documents)


@query(
    "asof_join_forward",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type, value FROM events),
    clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY value DESC) AS rn
        FROM e WHERE event_type = 'purchase') WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts, p.value AS value_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def q_asof_join_forward(t: TableSet) -> DataFrame:
    """Forward as-of join: each click gets the user's NEXT (or
    simultaneous) purchase value — the lead-time direction. Spark
    composition = union trick + first(ignorenulls) forward window;
    the oracle is DuckDB's native forward ASOF LEFT JOIN (<=)."""
    ev = t.events
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return joins.asof_join_forward(
        clicks, purch, on="ts", by=["user_id"], right_cols=["value"]
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _corr_oracle() -> str:
    dec = "DECIMAL(18,6)"
    pdec = "DECIMAL(28,6)"
    aggs = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        aggs.append(f"CAST(SUM(CAST({c} AS {dec})) AS DOUBLE) AS s_{c}")
        aggs.append(
            f"CAST(SUM(CAST({c} AS {pdec}) * CAST({c} AS {pdec})) AS DOUBLE)"
            f" AS ss_{c}"
        )
    from itertools import combinations

    arms = []
    for a, b in combinations(_CORR_COLS, 2):
        aggs.append(
            f"CAST(SUM(CAST({a} AS {pdec}) * CAST({b} AS {pdec})) AS DOUBLE)"
            f" AS sp_{a}_{b}"
        )
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n,"
            f" round((n * sp_{a}_{b} - s_{a} * s_{b}) /"
            f" sqrt((n * ss_{a} - s_{a} * s_{a})"
            f" * (n * ss_{b} - s_{b} * s_{b})), 6) AS corr FROM w"
        )
    return (
        "WITH w AS (SELECT " + ", ".join(aggs) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(arms)
    )


@query("corr_matrix", oracle=_corr_oracle())
def q_corr_matrix(t: TableSet) -> DataFrame:
    """Pearson correlation of every numeric-column pair in ONE corpus
    scan. Spark's built-in corr() accumulates doubles in partition
    order (not hash-stable); this reduces to EXACT decimal power sums
    and derives r in double from identical operands — bit-stable
    across engines and partitionings (operators/stats.py)."""
    return stats.corr_matrix(t.lineitem, list(_CORR_COLS))


@query(
    "ols_trend",
    oracle="""
    WITH e AS (
      SELECT o_orderpriority AS grp,
             CAST(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)
                  - DATE '1970-01-01' AS DECIMAL(28,6)) AS x,
             CAST(o_totalprice AS DECIMAL(28,6)) AS y
      FROM orders
    ),
    s AS (
      SELECT grp, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM e GROUP BY grp
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def q_ols_trend(t: TableSet) -> DataFrame:
    """Per-priority revenue-over-time linear trend: closed-form OLS
    from exact decimal power sums — one groupBy shuffle, never an
    iterative solver or driver-side fit. x = epoch days of the order
    date, so slope reads as currency/day."""
    e = t.orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.unix_date(F.col("o_orderdate").cast("date")).alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return stats.group_ols(e, "grp", "x", "y")


@query(
    "histogram_fixed_width",
    oracle="""
    WITH k AS (
      SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS v
      FROM lineitem
    )
    SELECT bin, bin * 10000.0 AS lo, (bin + 1) * 10000.0 AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(CAST(SUM(v) AS DOUBLE), 6) AS sum_value
    FROM k GROUP BY bin
    """,
)
def q_histogram_fixed_width(t: TableSet) -> DataFrame:
    """Equi-width price histogram with epoch-anchored bins — ONE
    aggregation, no min/max pre-pass, floor() bin edges (identical
    in every engine where round/cast tie-handling is not)."""
    return stats.fixed_width_histogram(t.lineitem, "l_extendedprice", 10000.0)


@query(
    "group_quantiles",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(CAST(length(text) AS DOUBLE), 0.25), 6)
             AS len_q25,
           round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5), 6)
             AS len_q50,
           round(quantile_cont(CAST(length(text) AS DOUBLE), 0.9), 6)
             AS len_q90
    FROM documents GROUP BY source
    """,
)
def q_group_quantiles(t: TableSet) -> DataFrame:
    """Per-source exact length quantiles (linear interpolation) — the
    distribution view behind per-source quality gates. One groupBy
    shuffle; percentile() keeps per-group state bounded by the group
    size, and the scalable swap at extreme group cardinality is the
    KLL sketch already registered (sketch_approx_quantiles)."""
    return t.documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.round(F.expr(f"percentile(length(text), {p})"), 6).alias(a)
            for p, a in ((0.25, "len_q25"), (0.5, "len_q50"), (0.9, "len_q90"))
        ],
    )


@query(
    "tokenizer_fertility",
    oracle=rf"""
    WITH m AS (
      SELECT lang,
             CAST(len(string_split_regex({_NORM}, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all({_NORM},
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
             CAST(length({_NORM}) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           round(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE), 6)
             AS chars_per_bpe,
           round(CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE), 6)
             AS fertility
    FROM m GROUP BY lang
    """,
)
def q_tokenizer_fertility(t: TableSet) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish subword tokens per
    whitespace word and characters per subword — the metric that
    decides whether a tokenizer under-serves a language (high
    fertility = more compute per word). Exact integer sums then one
    double division; single scan, one tiny-keyed aggregation."""
    from ..operators.text import norm_text

    norm = norm_text(F.col("text"))
    bpe_pattern = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    m = t.documents.select(
        "lang",
        F.size(F.split(norm, " ")).cast("bigint").alias("n_ws"),
        F.size(F.regexp_extract_all(norm, F.lit(bpe_pattern), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe"),
        F.length(norm).cast("bigint").alias("n_chars"),
    )
    return m.groupBy("lang").agg(
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe").cast("double"), 6
        ).alias("chars_per_bpe"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double"), 6
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Round 7: chunking, tf-idf terms, per-source quality gate
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@query(
    "doc_chunking",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents
    ),
    nc AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= {_CHUNK_SIZE} THEN 1
                  ELSE CAST(ceil((len(w) - {_CHUNK_SIZE})
                                 / {_CHUNK_STRIDE}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM toks
    ),
    e AS (
      SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_id FROM nc
    )
    SELECT doc_id, chunk_id,
           CAST(len(list_slice(w, chunk_id * {_CHUNK_STRIDE} + 1,
                               chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}))
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(
             list_slice(w, chunk_id * {_CHUNK_STRIDE} + 1,
                        chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' ')
             AS chunk_text
    FROM e
    """,
)
def q_doc_chunking(t: TableSet) -> DataFrame:
    """Overlapping fixed-token-window chunking (64-token windows,
    16-token overlap): zero-shuffle codegen explode, each token in
    >= 1 chunk, consecutive chunks share exactly the overlap."""
    return packing.chunk_documents(
        t.documents, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


@query(
    "tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex({_NORM}, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    idf AS (
      SELECT term, df,
             CAST(CAST(round(ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)), 6)
                       AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS idf_micro
      FROM dfreq, total
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, idf.df,
             CAST(tf.tf * idf.idf_micro AS BIGINT) AS score_micro
      FROM tf JOIN idf USING (term)
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY score_micro DESC, term ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score_micro, rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(t: TableSet) -> DataFrame:
    """Per-doc top-3 terms by smoothed tf-idf; integer micro-unit
    scores (DECIMAL-lifted rounded ln) so both engines rank
    identically; window partitioned by doc_id, never corpus-global."""
    return text.tfidf_top_terms(t.documents, k=3)


@query(
    "quality_filter_percentile",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, source, {_NORM} AS norm,
             string_split_regex({_NORM}, ' ') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             CAST(len(w) AS DOUBLE) AS n_tok,
             CAST(len(norm) AS DOUBLE) AS n_chars,
             CAST(len(list_filter(w, x -> list_contains([{_STOP_LIST}], x)))
                  AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(norm, '[^\w\s]')) AS DOUBLE) AS n_punct
      FROM base
    ),
    scored AS (
      SELECT doc_id, source,
             round(0.4 * least(n_tok / 50.0, 1.0)
                   + 0.3 * least((n_stop / n_tok) * 5, 1.0)
                   + 0.2 * (1 - least((n_punct / greatest(n_chars, 1.0)) * 10,
                                      1.0))
                   + 0.1 * least(((n_chars - (n_tok - 1)) / n_tok) / 8, 1.0),
                   6) AS quality
      FROM m
    ),
    med AS (
      SELECT source, round(quantile_cont(quality, 0.5), 6) AS src_median
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality, med.src_median
    FROM scored s JOIN med USING (source)
    WHERE s.quality >= med.src_median
    """,
)
def q_quality_filter_percentile(t: TableSet) -> DataFrame:
    """Per-source median-quality gate: keep docs at/above their own
    source's exact median — broadcast one-row-per-source medians,
    single corpus scan, no global window."""
    return text.quality_filter_percentile(t.documents)


@query(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, query_label, neighbor_id, neighbor_label,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM c, q WHERE query_label <> neighbor_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
           CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_hard_negative_mining(t: TableSet) -> DataFrame:
    """Contrastive hard negatives: top-5 most-similar OTHER-label
    vectors per query; label exclusion inside the broadcast join
    condition, scores 6-rounded before ranking."""
    return similarity.hard_negative_mining(t.embeddings)


@query(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM counts
    ),
    top AS (SELECT * FROM counts ORDER BY cnt DESC, key ASC LIMIT 10)
    SELECT key, cnt,
           CAST(cnt * 1000000 // total_rows AS BIGINT) AS share_ppm,
           n_keys, total_rows,
           CAST(CAST(max_cnt AS HUGEINT) * n_keys * 1000000
                // total_rows AS BIGINT) AS skew_ppm
    FROM top, stats
    """,
)
def q_key_skew_profile(t: TableSet) -> DataFrame:
    """Join-key skew diagnostic on lineitem.l_suppkey: top-10 heavy
    keys + integer-ppm uniformity departure; one key-count shuffle,
    TakeOrderedAndProject top-N, one-row stats broadcast."""
    return stats.key_skew_profile(t.lineitem, "l_suppkey")


@query(
    "perplexity_buckets",
    oracle=f"""
    WITH {_TOKS_CTE},
    freqs AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
    per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             ((2 * SUM(CAST(CAST(round(-log2(tf / total.n), 6)
                                 AS DECIMAL(28,10)) * 1000000 AS BIGINT))
               + COUNT(*)) // (2 * COUNT(*))) AS avg_micro
      FROM toks JOIN freqs USING (tok), total
      GROUP BY doc_id
    )
    SELECT CAST(avg_micro // 500000 AS BIGINT) AS bucket,
           CAST(avg_micro // 500000 AS BIGINT) * 500000 / 1000000.0
             AS lo_bits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(avg_micro) AS BIGINT) AS min_avg_micro,
           CAST(MAX(avg_micro) AS BIGINT) AS max_avg_micro
    FROM per_doc GROUP BY 1
    """,
)
def q_perplexity_buckets(t: TableSet) -> DataFrame:
    """Half-bit perplexity histogram over the corpus-unigram LM —
    the threshold-picking view for quality filtering; exact integer
    micro-bit arithmetic end-to-end."""
    return text.perplexity_buckets(t.documents)


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_EX_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, inter,
           round(inter / n_a, 6) AS containment_a,
           round(inter / n_b, 6) AS containment_b,
           round(inter / (n_a + n_b - inter), 6) AS jaccard
    FROM pairs
    WHERE greatest(round(inter / n_a, 6), round(inter / n_b, 6))
          >= {dedup.CONTAINMENT_THRESHOLD}
    """,
)
def q_dedup_containment(t: TableSet) -> DataFrame:
    """Asymmetric containment near-dup pairs (Broder containment vs
    resemblance): catches a short doc embedded in a long one that
    symmetric Jaccard scores near zero. Same inverted-index
    group-then-pair shuffle structure as dedup_ngram_jaccard."""
    return dedup.containment_pairs(t.documents)


@query(
    "pmi_collocations",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split_regex({_NORM}, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM base
    ),
    bgf AS (
      SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM bg GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
    ),
    uni AS (SELECT unnest(w) AS tok FROM base),
    unif AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_w
             FROM uni WHERE tok <> '' GROUP BY tok),
    n_uni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni
              FROM uni WHERE tok <> ''),
    n_bi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bi FROM bg)
    SELECT bg AS bigram, w1, w2, c_ab,
           a.c_w AS c_a, b.c_w AS c_b,
           round(log2(CAST(c_ab * n_uni.n_uni * n_uni.n_uni AS DOUBLE)
                      / CAST(a.c_w * b.c_w * n_bi.n_bi AS DOUBLE)), 6)
             AS pmi
    FROM bgf
    JOIN unif a ON bgf.w1 = a.tok
    JOIN unif b ON bgf.w2 = b.tok, n_uni, n_bi
    ORDER BY pmi DESC, bigram ASC
    LIMIT 20
    """,
)
def q_pmi_collocations(t: TableSet) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI (min count 5) —
    phrase/multi-word-entity detection for tokenizer vocabulary
    planning; single-log2-over-integer-ratio determinism, global
    top-N as TakeOrderedAndProject."""
    return text.pmi_collocations(t.documents)


@query(
    "zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex({_NORM}, ' ')) AS w FROM documents
    ),
    top AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks WHERE w <> '' GROUP BY w
      ORDER BY freq DESC, w ASC LIMIT 1000
    ),
    ranked AS (
      SELECT CAST(round(log2(CAST(ROW_NUMBER() OVER
                 (ORDER BY freq DESC, w ASC) AS DOUBLE)), 6)
                  AS DECIMAL(28,6)) AS x,
             CAST(round(log2(CAST(freq AS DOUBLE)), 6)
                  AS DECIMAL(28,6)) AS y
      FROM top
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                      * 1000000) AS BIGINT) AS slope_micro,
           CAST(floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                      / n * 1000000) AS BIGINT) AS intercept_micro,
           CAST(floor(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                      * 1000000) AS BIGINT) AS r2_micro
    FROM s
    """,
)
def q_zipf_fit(t: TableSet) -> DataFrame:
    """Zipf exponent of the vocabulary head (top-1000 tokens):
    log-log OLS through exact decimal power sums; top-N via
    TakeOrderedAndProject, rank window over the head frame only."""
    return text.zipf_fit(t.documents)


def _cms_oracle(depth: int = 4, width: int = 256, k: int = 10) -> str:
    """DuckDB mirror of operators.text.countmin_heavyhitters,
    parameterized on the SAME (depth, width, k) the operator takes
    (the _pagerank_oracle precedent — advice r16: a hardcoded 4/256/10
    oracle would silently diverge from any future non-default call)."""
    rows = ", ".join(map(str, range(depth)))
    return f"""
    WITH toks AS (
      SELECT unnest(string_split_regex({_NORM}, ' ')) AS tok
      FROM documents
    ),
    tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    bk AS (
      SELECT tok, cnt, r,
             CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                                       || ':' || tok), 1, 8))
                  AS BIGINT) % {width} AS b
      FROM tc CROSS JOIN (SELECT unnest([{rows}]) AS r) d
    ),
    cells AS (SELECT r, b, SUM(cnt) AS c FROM bk GROUP BY r, b),
    top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok ASC LIMIT {k})
    SELECT t.tok,
           t.cnt AS freq_exact,
           CAST(MIN(cl.c) AS BIGINT) AS cms_est,
           CAST(MIN(cl.c) AS BIGINT) >= t.cnt AS overestimates,
           CAST(MIN(cl.c) AS BIGINT) - t.cnt AS overestimate_bias
    FROM top t
    JOIN bk ON bk.tok = t.tok
    JOIN cells cl ON cl.r = bk.r AND cl.b = bk.b
    GROUP BY t.tok, t.cnt
    ORDER BY freq_exact DESC, t.tok ASC
    """


def _bloom_oracle(m: int = 2048, k: int = 4, n_probes: int = 100) -> str:
    """DuckDB mirror of operators.text.bloom_membership, parameterized
    on the SAME (m, k, n_probes) the operator takes (the
    _cms_oracle/_pagerank_oracle rule)."""
    js = ", ".join(map(str, range(k)))
    return f"""
    WITH fp AS (SELECT DISTINCT md5(coalesce({_NORM}, '')) AS fp
         FROM documents),
    h AS (SELECT unnest([{js}]) AS j),
    bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('bloom' ||
               CAST(j AS VARCHAR) || ':' || fp), 1, 8))
             AS BIGINT) % {m} AS bit
      FROM fp CROSS JOIN h
    ),
    probes AS (
      SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS probe_key,
             md5(coalesce({_NORM}, '')) AS pfp, TRUE AS in_corpus
      FROM documents WHERE doc_id < {n_probes}
      UNION ALL
      SELECT 'absent:' || CAST(i AS VARCHAR),
             md5('absent:' || CAST(i AS VARCHAR)), FALSE
      FROM range({n_probes}) t(i)
    ),
    pb AS (
      SELECT probe_key, in_corpus,
             CAST(('0x' || substr(md5('bloom' ||
               CAST(j AS VARCHAR) || ':' || pfp), 1, 8))
             AS BIGINT) % {m} AS bit
      FROM probes CROSS JOIN h
    ),
    verdicts AS (
      SELECT pb.probe_key, pb.in_corpus,
             MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 1
               AS bloom_member
      FROM pb LEFT JOIN bits b ON b.bit = pb.bit
      GROUP BY pb.probe_key, pb.in_corpus
    )
    SELECT probe_key, in_corpus, bloom_member,
           (bloom_member AND NOT in_corpus) AS false_positive,
           (in_corpus AND NOT bloom_member) AS false_negative
    FROM verdicts ORDER BY probe_key
    """


@query("sketch_bloom_membership", oracle=_bloom_oracle())
def q_sketch_bloom_membership(t: TableSet) -> DataFrame:
    """Bloom-filter membership sketch (r16): a 2048-bit, 4-hash md5
    Bloom filter over distinct corpus content fingerprints — the
    mergeable KB-sized pre-filter for cross-corpus membership at
    100 TB (a miss is definitive; only hits pay the exact verify).
    100 in-corpus probes and 100 synthetic absent keys are judged by
    the broadcast bit table; the no-false-negative contract is a
    materialized column, and the md5 bit derivation makes the DuckDB
    oracle replay the bit table bit-for-bit (the CMS determinism
    rule), so the verdicts hash-match."""
    return text.bloom_membership(t.documents)


@query("sketch_countmin_heavyhitters", oracle=_cms_oracle())
def q_sketch_countmin_heavyhitters(t: TableSet) -> DataFrame:
    """Count-min-sketch heavy hitters (r15): a 4x256 md5-hashed CMS
    built in one corpus pass over the DISTINCT vocabulary, exact
    top-10 off TakeOrderedAndProject, estimates via a broadcast join
    against the KB-sized cell table. md5 buckets make the counter
    table bit-identical across engines (the MinHash determinism
    rule), so the DuckDB oracle replays the SAME sketch and the
    estimates hash-match — overestimates pins the one-sided error
    contract, overestimate_bias the collision mass. At 100 TB the
    cell table is the only state: cells merge by addition across
    corpora/streams, which is why CMS (not an exact GROUP BY) is the
    pre-pass for stopword discovery and frequency-capped sampling."""
    return text.countmin_heavyhitters(t.documents)


@query(
    "bm25_search",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex({_NORM}, ' ')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) FILTER (WHERE tok <> '') AS BIGINT) AS dl,
             CAST(COUNT(*) FILTER (WHERE tok = 'query') AS BIGINT) AS tf0,
             CAST(COUNT(*) FILTER (WHERE tok = 'spark') AS BIGINT) AS tf1,
             CAST(COUNT(*) FILTER (WHERE tok = 'window') AS BIGINT) AS tf2
      FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             CAST(COUNT(*) FILTER (WHERE tf0 > 0) AS BIGINT) AS df0,
             CAST(COUNT(*) FILTER (WHERE tf1 > 0) AS BIGINT) AS df1,
             CAST(COUNT(*) FILTER (WHERE tf2 > 0) AS BIGINT) AS df2
      FROM per_doc
    ),
    scored AS (
      SELECT doc_id, dl,
        CAST(
          CAST(CAST(round(ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
          * CAST(CAST(round(tf0 * (1.2 + 1) / (tf0 + 1.2 *
               (1 - 0.75 + 0.75 * dl / (sum_dl / n_docs))), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
        + CAST(CAST(round(ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
          * CAST(CAST(round(tf1 * (1.2 + 1) / (tf1 + 1.2 *
               (1 - 0.75 + 0.75 * dl / (sum_dl / n_docs))), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
        + CAST(CAST(round(ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
          * CAST(CAST(round(tf2 * (1.2 + 1) / (tf2 + 1.2 *
               (1 - 0.75 + 0.75 * dl / (sum_dl / n_docs))), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT)
        AS BIGINT) AS score_u12
      FROM per_doc, stats
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    )
    SELECT doc_id, dl, score_u12, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_u12 DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q_bm25_search(t: TableSet) -> DataFrame:
    """Okapi BM25 top-10 retrieval for the fixed query-term set —
    one corpus pass (per-row HOF tf/length counts, no explode), a
    one-row stats broadcast, integer-exact micro-unit scoring, and
    TakeOrderedAndProject for the top-N. The relevance-ranked
    counterpart of keyword_search."""
    return text.bm25_search(t.documents)


@query(
    "dedup_prefix_filter",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    ex AS (SELECT doc_id, n_sh, md5(unnest(shingles)) AS s FROM shn),
    dfq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
    ranked AS (
      SELECT ex.doc_id, ex.n_sh, ex.s,
             ROW_NUMBER() OVER (PARTITION BY ex.doc_id
                                ORDER BY dfq.df ASC, ex.s ASC) AS rnk
      FROM ex JOIN dfq USING (s)
    ),
    pref AS (
      SELECT doc_id, n_sh, s FROM ranked
      WHERE rnk <= n_sh - ((4 * n_sh + 4) // 5) + 1
    ),
    bucket AS (
      SELECT s FROM pref GROUP BY s
      HAVING COUNT(*) BETWEEN 2 AND {dedup.MAX_SHINGLE_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.n_sh AS n_a,
                      b.doc_id AS doc_b, b.n_sh AS n_b
      FROM pref a
      JOIN bucket USING (s)
      JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT cand.doc_a, cand.doc_b, cand.n_a, cand.n_b,
             COUNT(*) AS inter
      FROM cand
      JOIN ex pa ON pa.doc_id = cand.doc_a
      JOIN ex pb ON pb.doc_id = cand.doc_b AND pb.s = pa.s
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, inter,
           round(inter / (n_a + n_b - inter), 6) AS jaccard
    FROM verified
    WHERE round(inter / (n_a + n_b - inter), 6) >= 0.8
    """,
)
def q_dedup_prefix_filter(t: TableSet) -> DataFrame:
    """Prefix-filtered exact-Jaccard near-dup join (ppjoin-style):
    inverted index over each doc's p = n - ceil(0.8n) + 1 rarest
    shingles only (global order = (df, md5) — engine-portable), full
    verification of the shrunken candidate set. Same answer as
    dedup_ngram_jaccard with measured 10.4x fewer candidate
    emissions at sf0.1."""
    return dedup.prefix_filter_pairs(t.documents)


@query(
    "lexical_diversity",
    oracle=rf"""
    WITH s0 AS (
      SELECT doc_id,
             list_sort(list_filter(string_split_regex({_NORM}, ' '),
                                   x -> x <> '')) AS s
      FROM documents
    ),
    base AS (SELECT doc_id, s, len(s) AS n FROM s0 WHERE len(s) > 0)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
           CAST(len(list_filter(range(1, n + 1),
                i -> (i = 1 OR s[i-1] <> s[i])
                 AND (i = n OR s[i+1] <> s[i]))) AS BIGINT) AS n_hapax,
           CAST(len(list_distinct(s)) * 1000000 // n AS BIGINT) AS ttr_ppm,
           CAST(list_aggregate(list_transform(s, x -> length(x)), 'sum')
                * 1000000 // n AS BIGINT) AS avg_len_ppm
    FROM base
    """,
)
def q_lexical_diversity(t: TableSet) -> DataFrame:
    """Per-doc type-token ratio / hapax count / avg token length via
    the sorted-neighbors identity — zero shuffles, pure codegen,
    integer-ppm ratios."""
    return text.lexical_diversity(t.documents)


@query(
    "ann_ivf_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q0.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q0.query_id
                 ORDER BY round(list_cosine_similarity(q0.qv, e.v), 6) DESC,
                          e.vec_id) AS rank
        FROM e CROSS JOIN q0 WHERE q0.query_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    cents AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id IN (
                SELECT vec_id FROM e
                ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {_IVF_N_LIST})),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rn <= 2
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY s.cos_sim DESC, s.neighbor_id)
                 AS rank
        FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
          FROM assigned a JOIN probes p USING (centroid_id)
          WHERE p.query_id <> a.vec_id
        ) s
      ) WHERE rank <= 5
    )
    SELECT query_id, k_eval, n_hits,
           CAST(n_hits * 1000000 // k_eval AS BIGINT) AS recall_ppm
    FROM (
      SELECT exact.query_id,
             CAST(COUNT(*) AS BIGINT) AS k_eval,
             CAST(COUNT(approx.neighbor_id) AS BIGINT) AS n_hits
      FROM exact LEFT JOIN approx
        ON exact.query_id = approx.query_id
       AND exact.neighbor_id = approx.neighbor_id
      GROUP BY exact.query_id
    )
    """,
)
def q_ann_ivf_recall(t: TableSet) -> DataFrame:
    """Recall@5 of the nprobe=2 IVF index against exact brute force
    per query — the accuracy contract that tunes nprobe/n_list; hit
    join over two bounded top-k frames, integer-ppm recall."""
    return similarity.ivf_recall(t.embeddings)


@query(
    "keyword_search_indexed",
    oracle=f"""
    WITH postings AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split_regex({_NORM}, ' '), x -> x <> '')))
             AS tok
      FROM documents
    )
    SELECT doc_id FROM postings
    WHERE tok IN ('query', 'spark', 'window')
    GROUP BY doc_id
    HAVING COUNT(DISTINCT tok) = 3
    """,
)
def q_keyword_search_indexed(t: TableSet) -> DataFrame:
    """The AMORTIZED retrieval form of keyword_search: AND-semantics
    lookup over the inverted (tok, doc_id) posting index — touches
    only the query terms' posting lists, O(sum df(term)) instead of
    O(corpus); at 100 TB the index is materialized bucketed BY tok
    (engine.materialize_bucketed) so every retrieval is co-located
    and shuffle-free. Same doc set as the scan form (pinned by the
    shared conformance data)."""
    return text.search_token_index(text.build_token_index(t.documents))


@query(
    "dedup_cross_corpus",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    newd AS (SELECT shn.* FROM shn JOIN documents USING (doc_id)
             WHERE documents.source = 'src0'),
    refd AS (SELECT shn.* FROM shn JOIN documents USING (doc_id)
             WHERE documents.source <> 'src0'),
    pn AS (SELECT doc_id AS new_id, n_sh AS n_new, unnest(shingles) AS s
           FROM newd),
    pr AS (SELECT doc_id AS ref_id, n_sh AS n_ref, unnest(shingles) AS s
           FROM refd),
    ok AS (SELECT s FROM pr GROUP BY s
           HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}),
    pairs AS (
      SELECT new_id, ref_id, n_new, n_ref, COUNT(*) AS inter
      FROM pn JOIN ok USING (s) JOIN pr USING (s)
      GROUP BY 1, 2, 3, 4
    )
    SELECT new_id, ref_id, inter,
           round(inter / (n_new + n_ref - inter), 6) AS jaccard
    FROM pairs
    WHERE round(inter / (n_new + n_ref - inter), 6)
          >= {dedup.JACCARD_THRESHOLD}
    """,
)
def q_dedup_cross_corpus(t: TableSet) -> DataFrame:
    """Incremental near-dup join of the 'new batch' (source src0)
    against the existing reference corpus (all other sources) — the
    bipartite inverted-index shape a nightly crawl dedup runs;
    reference-side stop-shingle valve, no self-join."""
    new_docs = t.documents.where("source = 'src0'")
    ref_docs = t.documents.where("source <> 'src0'")
    return dedup.cross_corpus_pairs(new_docs, ref_docs)


@query(
    "ivf_cluster_profile",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id IN (
                SELECT vec_id FROM e
                ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {_IVF_N_LIST})),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1
    ),
    j AS (
      SELECT a.centroid_id,
             CAST(CAST(round(list_cosine_similarity(a.v, c.cvec), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS m
      FROM assigned a JOIN cents c USING (centroid_id)
    ),
    per AS (
      SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(m) AS BIGINT) AS sum_sim_micro
      FROM j GROUP BY centroid_id
    ),
    tot AS (SELECT SUM(n_members) AS total FROM per)
    SELECT centroid_id, n_members,
           CAST(n_members * 1000000 // total AS BIGINT) AS share_ppm,
           sum_sim_micro
    FROM per, tot
    """,
)
def q_ivf_cluster_profile(t: TableSet) -> DataFrame:
    """IVF inverted-list balance + cohesion: member count, corpus
    share (integer ppm), exact micro-unit similarity sums per
    centroid — the index-health view read alongside ann_ivf_recall
    before tuning n_list/nprobe."""
    return similarity.ivf_cluster_profile(t.embeddings)


@query(
    "vocab_oov_rate",
    oracle=rf"""
    WITH dt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split_regex({_NORM}, ' ')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, SUM(c) AS freq FROM dt GROUP BY tok
        ORDER BY freq DESC, tok ASC LIMIT 1000
      )
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.tok IS NULL THEN c ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN vocab.tok IS NULL THEN c ELSE 0 END)
                * 1000000 // SUM(c) AS BIGINT) AS oov_ppm
    FROM dt LEFT JOIN vocab USING (tok)
    GROUP BY doc_id
    """,
)
def q_vocab_oov_rate(t: TableSet) -> DataFrame:
    """Per-doc OOV rate against the corpus top-1000 token vocabulary
    — the candidate-tokenizer coverage audit; persisted doc-term
    frame carries the only corpus pass, the vocab frame is bounded
    by the parameter."""
    return text.vocab_oov_rate(t.documents)


@query(
    "minhash_calibration",
    oracle=f"""
    WITH {_LSH_PAIR_CTES},
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(((CASE WHEN a.sig_0 = b.sig_0 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_1 = b.sig_1 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_2 = b.sig_2 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_3 = b.sig_3 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_4 = b.sig_4 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_5 = b.sig_5 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_6 = b.sig_6 THEN 1 ELSE 0 END) + (CASE WHEN a.sig_7 = b.sig_7 THEN 1 ELSE 0 END)) * 125000 AS BIGINT) AS est_ppm
      FROM cands c
      JOIN sigs a ON c.doc_a = a.doc_id
      JOIN sigs b ON c.doc_b = b.doc_id
    ),
    ex AS (
      SELECT c.doc_a, c.doc_b,
             CAST(CAST(round(
               len(list_intersect(sa.shingles, sb.shingles))
               / (sa.n_sh + sb.n_sh
                  - len(list_intersect(sa.shingles, sb.shingles))), 6)
               AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS exact_ppm
      FROM cands c
      JOIN shn sa ON c.doc_a = sa.doc_id
      JOIN shn sb ON c.doc_b = sb.doc_id
    )
    SELECT est.doc_a, est.doc_b, est_ppm, exact_ppm,
           CAST(abs(est_ppm - exact_ppm) AS BIGINT) AS err_ppm
    FROM est JOIN ex USING (doc_a, doc_b)
    """,
)
def q_minhash_calibration(t: TableSet) -> DataFrame:
    """MinHash estimator calibration on the LSH candidate pairs:
    signature-match estimate vs exact shingle-set Jaccard plus the
    absolute error — the sketch-accuracy contract beside
    dedup_minhash_lsh; both metrics candidate-bounded."""
    return dedup.minhash_calibration(t.documents)


@query(
    "shard_balance",
    oracle=f"""
    WITH keyed AS (
      SELECT CAST({_duck_shard(f"md5('{packing.SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR))", packing.N_SHARDS)} AS INTEGER)
               AS shard,
             len(list_filter(string_split_regex({_NORM}, ' '),
                             x -> x <> '')) AS ntok
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens
      FROM keyed GROUP BY shard
    ),
    tot AS (SELECT SUM(n_docs) AS td, SUM(n_tokens) AS tt FROM per)
    SELECT shard, n_docs, n_tokens,
           CAST(n_docs * 1000000 // td AS BIGINT) AS doc_share_ppm,
           CAST(n_tokens * 1000000 // tt AS BIGINT) AS tok_share_ppm
    FROM per, tot
    """,
)
def q_shard_balance(t: TableSet) -> DataFrame:
    """Per-shard doc/token balance of the deterministic training
    shuffle in integer ppm — the straggler audit; one corpus scan,
    n_shards-keyed aggregate, one-row totals broadcast."""
    return packing.shard_balance(t.documents)


# ---------------------------------------------------------------------------
# k-means (Lloyd) refinement of the IVF coarse quantizer [r9]
# ---------------------------------------------------------------------------

_KM_ITERS = similarity.KMEANS_ITERS


def _kmeans_ctes(iters: int = _KM_ITERS, where: str = "") -> tuple[str, str, str]:
    """Unrolled spherical-k-means CTEs for the DuckDB oracle: md5
    seeds -> ``iters`` rounds of (assign by rounded cosine, exact
    DECIMAL(38,6) mean-direction sums of the 6-rounded unit vectors)
    -> final assignment. Replays ``similarity.kmeans_refine`` /
    ``_assign_scored`` exactly (validated bit-equal at sf0.001/0.01/
    0.1). Returns (cte_sql, final_cents_name, final_assign_name);
    a{k} carries (vec_id, v, nv, centroid_id, sim)."""
    cond = f" WHERE {where}" if where else ""
    parts = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings{cond})",
        """n AS (SELECT vec_id, v,
           CASE WHEN list_inner_product(v, v) > 0 THEN
             list_transform(v, x -> round(x / sqrt(list_inner_product(v, v)), 6))
           END AS nv FROM e)""",
        f"""c0 AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
          WHERE vec_id IN (SELECT vec_id FROM e
            ORDER BY md5('{_IVF_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_IVF_N_LIST}))""",
    ]
    for k in range(iters + 1):
        parts.append(f"""a{k} AS (
      SELECT vec_id, v, nv, centroid_id, sim FROM (
        SELECT n.vec_id, n.v, n.nv, c.centroid_id,
               round(list_cosine_similarity(n.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY round(list_cosine_similarity(n.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM n CROSS JOIN c{k} c) WHERE rn = 1)""")
        if k < iters:
            parts.append(f"""s{k + 1} AS (
      SELECT centroid_id, u.pos,
             SUM(CAST(nv[u.pos + 1] AS DECIMAL(38,6))) AS sm
      FROM a{k}, UNNEST(range({similarity.EMBED_DIM})) AS u(pos)
      WHERE nv IS NOT NULL GROUP BY centroid_id, u.pos)""")
            parts.append(f"""c{k + 1} AS (
      SELECT centroid_id, list(CAST(sm AS DOUBLE) ORDER BY pos) AS cvec
      FROM s{k + 1} GROUP BY centroid_id)""")
    return ",\n    ".join(parts), f"c{iters}", f"a{iters}"


_KM_CTES, _KM_CENTS, _KM_ASSIGN = _kmeans_ctes()


@query(
    "kmeans_convergence",
    oracle="WITH "
    + _KM_CTES
    + "\n    "
    + "\n    UNION ALL\n    ".join(
        f"""SELECT {k} AS iter,
           CAST(COUNT(DISTINCT centroid_id) AS BIGINT) AS n_clusters,
           CAST(SUM(CAST(CAST(sim AS DECIMAL(28,10)) * 1000000 AS BIGINT))
                AS BIGINT) AS sum_sim_micro
    FROM a{k}"""
        for k in range(_KM_ITERS + 1)
    ),
)
def q_kmeans_convergence(t: TableSet) -> DataFrame:
    """Spherical-k-means objective trace over the bounded Lloyd
    refinement of the IVF quantizer: live-cluster count and the exact
    integer member-to-centroid similarity sum after each round (iter
    0 = md5 seeds). Lloyd guarantees the objective is monotone
    nondecreasing — the instrument that says when more rounds stop
    paying; one corpus pass per round."""
    return similarity.kmeans_convergence(t.embeddings)


@query(
    "ivf_topk_kmeans",
    oracle=f"""
    WITH {_KM_CTES},
    q AS (SELECT vec_id AS query_id, v AS qv, centroid_id
          FROM {_KM_ASSIGN} WHERE vec_id < 10),
    cc AS (SELECT vec_id AS neighbor_id, v AS cv, centroid_id
           FROM {_KM_ASSIGN}),
    scored AS (
      SELECT query_id, neighbor_id, centroid_id,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM cc JOIN q USING (centroid_id) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, centroid_id, cos_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ivf_topk_kmeans(t: TableSet) -> DataFrame:
    """IVF-flat ANN (nprobe=1) over the k-means-REFINED quantizer —
    same probe plan as ivf_topk_ann, data-dependent inverted lists;
    the index-build adds one corpus pass per Lloyd round."""
    emb = t.embeddings
    return similarity.ivf_topk(emb, cents=similarity.kmeans_refine(emb))


@query(
    "ann_ivf_recall_kmeans",
    oracle=f"""
    WITH {_KM_CTES},
    q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q0.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q0.query_id
                 ORDER BY round(list_cosine_similarity(q0.qv, e.v), 6) DESC,
                          e.vec_id) AS rank
        FROM e CROSS JOIN q0 WHERE q0.query_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e CROSS JOIN {_KM_CENTS} c WHERE e.vec_id < 10) WHERE rn <= 2
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                                  ORDER BY s.cos_sim DESC, s.neighbor_id)
                 AS rank
        FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
          FROM {_KM_ASSIGN} a JOIN probes p USING (centroid_id)
          WHERE p.query_id <> a.vec_id
        ) s
      ) WHERE rank <= 5
    )
    SELECT query_id, k_eval, n_hits,
           CAST(n_hits * 1000000 // k_eval AS BIGINT) AS recall_ppm
    FROM (
      SELECT exact.query_id,
             CAST(COUNT(*) AS BIGINT) AS k_eval,
             CAST(COUNT(approx.neighbor_id) AS BIGINT) AS n_hits
      FROM exact LEFT JOIN approx
        ON exact.query_id = approx.query_id
       AND exact.neighbor_id = approx.neighbor_id
      GROUP BY exact.query_id
    )
    """,
)
def q_ann_ivf_recall_kmeans(t: TableSet) -> DataFrame:
    """Recall@5 of the nprobe=2 IVF index with k-means-refined
    centroids against exact brute force — read beside ann_ivf_recall
    (same contract, md5 baseline) to measure what refinement buys;
    the r8 VERDICT's 'prove the refinement pays' instrument."""
    emb = t.embeddings
    return similarity.ivf_recall(emb, cents=similarity.kmeans_refine(emb))


@query(
    "ivf_kmeans_profile",
    oracle=f"""
    WITH {_KM_CTES},
    j AS (
      SELECT centroid_id,
             CAST(CAST(sim AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS m
      FROM {_KM_ASSIGN}
    ),
    per AS (
      SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(m) AS BIGINT) AS sum_sim_micro
      FROM j GROUP BY centroid_id
    ),
    tot AS (SELECT SUM(n_members) AS total FROM per)
    SELECT centroid_id, n_members,
           CAST(n_members * 1000000 // total AS BIGINT) AS share_ppm,
           sum_sim_micro
    FROM per, tot
    """,
)
def q_ivf_kmeans_profile(t: TableSet) -> DataFrame:
    """Inverted-list balance + cohesion of the k-means-refined index
    — read beside ivf_cluster_profile (md5 baseline): refinement
    should tighten cells (higher per-member similarity) and is
    EXPECTED to change the balance; the pair quantifies both."""
    emb = t.embeddings
    return similarity.ivf_cluster_profile(
        emb, cents=similarity.kmeans_refine(emb)
    )


#: Query table for the batch-retrieval conformance query: query 1 is
#: exactly the SEARCH_TERMS set (enabling the pytest parity pin with
#: single-query bm25_search); 2 and 3 exercise shared and disjoint
#: terms across queries.
_BM25_QUERY_ROWS = (
    (1, "query"), (1, "spark"), (1, "window"),
    (2, "data"), (2, "join"),
    (3, "stream"), (3, "state"), (3, "window"),
)

_BM25_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _BM25_QUERY_ROWS)


@query(
    "bm25_search_many",
    oracle=rf"""
    WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
               FROM (VALUES {_BM25_VALUES}) v(query_id, term)),
    base AS (SELECT doc_id,
                    list_filter(string_split_regex({_NORM}, ' '),
                                x -> x <> '') AS tk
             FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(tk)) AS BIGINT) AS sum_dl
              FROM base),
    dt AS (
      SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS tok
        FROM base)
      GROUP BY doc_id, dl, tok),
    pruned AS (SELECT * FROM dt
               WHERE tok IN (SELECT DISTINCT term FROM q)),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
              FROM pruned GROUP BY tok),
    contrib AS (
      SELECT q.query_id, p.doc_id, p.dl,
             CAST(CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT)
             * CAST(CAST(round(tf * ({text.BM25_K1} + 1) / (tf + {text.BM25_K1}
                  * (1 - {text.BM25_B} + {text.BM25_B} * dl
                     / (sum_dl / n_docs))), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS u12
      FROM pruned p JOIN dfreq USING (tok) JOIN q ON q.term = p.tok, stats),
    scored AS (SELECT query_id, doc_id, MAX(dl) AS dl,
                      CAST(SUM(u12) AS BIGINT) AS score_u12
               FROM contrib GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, dl, score_u12, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_u12 DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q_bm25_search_many(t: TableSet) -> DataFrame:
    """Query-table-driven batch BM25 (r8 VERDICT item 2): N queries
    scored in one shot through a shared pruned posting index — one
    corpus pass, a single posting join, per-query window top-10; no
    per-query replanning. Parity with single-query bm25_search per
    row is pytest-pinned."""
    spark = t.documents.sparkSession
    qdf = spark.createDataFrame(
        list(_BM25_QUERY_ROWS), "query_id bigint, term string"
    )
    return text.bm25_search_many(t.documents, qdf)


#: Query table for the text-index SERVING conformance query —
#: deliberately different terms/topn from bm25_search_many so the two
#: registrations witness distinct shapes (shared terms across queries,
#: a high-df stopword-ish term, and a query whose terms straddle df
#: extremes).
_TIDX_QUERY_ROWS = (
    (10, "the"), (10, "filter"),
    (11, "plan"), (11, "scan"), (11, "query"),
    (12, "state"), (12, "data"),
)

_TIDX_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _TIDX_QUERY_ROWS)


@query(
    "text_index_search",
    oracle=rf"""
    WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
               FROM (VALUES {_TIDX_VALUES}) v(query_id, term)),
    base AS (SELECT doc_id,
                    list_filter(string_split_regex({_NORM}, ' '),
                                x -> x <> '') AS tk
             FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(tk)) AS BIGINT) AS sum_dl
              FROM base),
    dt AS (
      SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS tok
        FROM base)
      GROUP BY doc_id, dl, tok),
    pruned AS (SELECT * FROM dt
               WHERE tok IN (SELECT DISTINCT term FROM q)),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
              FROM pruned GROUP BY tok),
    contrib AS (
      SELECT q.query_id, p.doc_id, p.dl,
             CAST(CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT)
             * CAST(CAST(round(tf * ({text.BM25_K1} + 1) / (tf + {text.BM25_K1}
                  * (1 - {text.BM25_B} + {text.BM25_B} * dl
                     / (sum_dl / n_docs))), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS u12
      FROM pruned p JOIN dfreq USING (tok) JOIN q ON q.term = p.tok, stats),
    scored AS (SELECT query_id, doc_id, MAX(dl) AS dl,
                      CAST(SUM(u12) AS BIGINT) AS score_u12
               FROM contrib GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, dl, score_u12, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_u12 DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_text_index_search(t: TableSet) -> DataFrame:
    """The text-retrieval SERVING form: probe a prebuilt BM25
    postings index through text.bm25_probe_held — the plan
    engine.text_search runs against its STORED tok-bucketed postings
    (build once via engine.build_text_index, probe per batch; appends
    stay exact because postings and the stats sums are additive).
    The postings build here is in-plan so the DuckDB oracle can
    replay it; production pays it once per corpus refresh and the
    probe-only cost is the text_probe_only bench entry. Probe shape:
    the one-row stats and the query batch are driver-held literals —
    a literal IN prune on the postings scan, df as a tok-partitioned
    window over it, a literal term -> query ids map exploded onto
    each posting, one exchange on query_id for the per-query sum and
    window top-5 — never a corpus scan per query."""
    postings, stats = text.build_postings(t.documents)
    s = stats.collect()[0]
    return text.bm25_probe_held(
        postings, s.n_docs, s.sum_dl, list(_TIDX_QUERY_ROWS), "bigint", topn=5
    )


@query(
    "text_index_drift",
    oracle=rf"""
    WITH base AS (SELECT doc_id,
                         list_filter(string_split_regex({_NORM}, ' '),
                                     x -> x <> '') AS tk
                  FROM documents),
    stored AS (SELECT DISTINCT unnest(tk) AS tok FROM base
               WHERE doc_id % 3 <> 0),
    batch AS (SELECT DISTINCT unnest(tk) AS tok FROM base
              WHERE doc_id % 3 = 0),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS batch_vocab,
                 CAST(COUNT(*) FILTER (WHERE tok NOT IN
                      (SELECT tok FROM stored)) AS BIGINT) AS new_terms
          FROM batch)
    SELECT batch_vocab, new_terms,
           CAST(CASE WHEN batch_vocab = 0 THEN 0 ELSE
                FLOOR(new_terms * 1000000 / batch_vocab) END AS BIGINT)
             AS new_term_ppm
    FROM m
    """,
)
def q_text_index_drift(t: TableSet) -> DataFrame:
    """The text-index vocabulary-drift instrument (r10) as a
    standalone conformance query: treat documents with doc_id%3 != 0
    as the stored index and the rest as an incoming append batch,
    and measure what share of the batch's vocabulary the index has
    never seen (the compaction/rebuild trigger
    engine.append_to_text_index reports on every append). Stored
    side pruned to the batch term set FIRST — the anti-join is
    batch-sized, never index-sized; exact integer ppm."""
    docs = t.documents
    stored, _ = text.build_postings(docs.where("doc_id % 3 != 0"))
    batch, _ = text.build_postings(docs.where("doc_id % 3 = 0"))
    return text.vocab_drift(stored, batch)


_H2_BATTERY_SQL = """
SELECT TOP 250
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(DATEDIFF('DAY', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
            AS BIGINT) AS days_since,
       CAST(CAST(DATEADD('MONTH', 2, o_orderdate) AS DATE) AS STRING)
         AS plus2m,
       CAST(BITAND(o_orderkey, 255) AS BIGINT) AS key_low,
       CAST(ISO_WEEK(o_orderdate) AS INT) AS iso_wk,
       CAST(DAY_OF_WEEK(o_orderdate) AS INT) AS dow,
       CAST(ISO_DAY_OF_WEEK(o_orderdate) AS INT) AS idow,
       CASEWHEN(BITAND(o_orderkey, 1) = 0, 'even', 'odd') AS parity
FROM h2b_orders
WHERE o_orderkey < 400
ORDER BY o_orderkey
"""


@query(
    "h2_dialect_battery",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                          o_orderdate) AS BIGINT) AS days_since,
           CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS VARCHAR)
             AS plus2m,
           CAST(o_orderkey & 255 AS BIGINT) AS key_low,
           CAST(week(o_orderdate) AS INT) AS iso_wk,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(isodow(o_orderdate) AS INT) AS idow,
           CASE WHEN (o_orderkey & 1) = 0 THEN 'even' ELSE 'odd' END
             AS parity
    FROM orders
    WHERE o_orderkey < 400
    ORDER BY o_orderkey
    LIMIT 250
    """,
)
def q_h2_dialect_battery(t: TableSet) -> DataFrame:
    """The H2-dialect statement surface as ONE driver-witnessed
    query: SELECT TOP, quoted-unit boundary DATEDIFF, quoted-unit
    DATEADD, CASEWHEN, and the spelled function aliases (BITAND,
    ISO_WEEK, DAY_OF_WEEK, ISO_DAY_OF_WEEK) — the statement text is
    H2 1.4.200 grammar run through rewrite_h2_dialect + the
    session-registered SQL-defined functions, exactly the
    execute_sql path an H2 wire client exercises
    (/root/reference/.../server/H2Server.scala:60-84); the oracle is
    the hand-built ANSI/DuckDB equivalent (date_diff IS
    boundary-based, ^ is exponent so & masks parity)."""
    from ..h2_functions import register_h2_functions
    from ..sql_dml import rewrite_h2_dialect

    spark = t.orders.sparkSession
    register_h2_functions(spark)
    t.orders.createOrReplaceTempView("h2b_orders")
    return spark.sql(rewrite_h2_dialect(_H2_BATTERY_SQL))


def _duck_u24(expr: str) -> str:
    """DuckDB replica of packing._u24: uniform in (0,1) from the
    first 24 bits of an md5 hex key via strpos arithmetic."""
    nib = (
        lambda p, m: f"(strpos('0123456789abcdef', substr(md5({expr}), {p}, 1)) - 1) * {m}"
    )
    h = " + ".join(
        nib(p, m)
        for p, m in ((1, 1048576), (2, 65536), (3, 4096), (4, 256), (5, 16), (6, 1))
    )
    return f"(({h}) + 1) / 16777217.0"


_WS_U24 = _duck_u24("'ws:' || CAST(doc_id AS VARCHAR)")


@query(
    "weighted_sample_topk",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, CAST(w AS BIGINT) AS w,
             CAST(CAST(round(-ln({_WS_U24}) / w, 6) AS DECIMAL(28,10))
                  * 1000000 AS BIGINT) AS score_micro
      FROM (SELECT doc_id,
                   len(list_filter(string_split_regex({_NORM}, ' '),
                                   x -> x <> '')) AS w
            FROM documents)
      WHERE w > 0
    )
    SELECT doc_id, w, score_micro, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 100
    """,
)
def q_weighted_sample_topk(t: TableSet) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sampling without
    replacement: every doc competes with key -ln(u)/w (u from 24 md5
    bits, w = token count), global top-100 by ascending key — the
    quality/length-weighted subset selection with no RNG; one
    filter-only corpus pass + TakeOrderedAndProject."""
    return packing.weighted_sample(t.documents)


@query(
    "weighted_sample_stratified",
    oracle=rf"""
    WITH scored AS (
      SELECT source, doc_id, CAST(w AS BIGINT) AS w,
             CAST(CAST(round(-ln({_WS_U24}) / w, 6) AS DECIMAL(28,10))
                  * 1000000 AS BIGINT) AS score_micro
      FROM (SELECT source, doc_id,
                   len(list_filter(string_split_regex({_NORM}, ' '),
                                   x -> x <> '')) AS w
            FROM documents)
      WHERE w > 0
    )
    SELECT source, doc_id, w, score_micro, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY score_micro, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 20
    """,
)
def q_weighted_sample_stratified(t: TableSet) -> DataFrame:
    """Per-source Efraimidis-Spirakis weighted draw (top 20 within
    each source) — weighted selection that cannot starve a small
    group; one corpus pass, one group-keyed window shuffle."""
    return packing.weighted_sample_stratified(t.documents)


@query(
    "ann_index_search",
    oracle=f"""
    WITH {_KM_CTES},
    q AS (
      SELECT ea.vec_id AS query_id,
             list_transform(range(0, {similarity.EMBED_DIM}),
                            i -> round((ea.v[i+1] + eb.v[i+1]) / 2, 6)) AS qv
      FROM e ea JOIN e eb ON eb.vec_id = ea.vec_id + 1
      WHERE ea.vec_id < 5
    ),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM q CROSS JOIN {_KM_CENTS} c) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.centroid_id,
             round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
      FROM {_KM_ASSIGN} a JOIN probes p USING (centroid_id)
    )
    SELECT query_id, neighbor_id, centroid_id, cos_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_index_search(t: TableSet) -> DataFrame:
    """The ANN SERVING form: an EXTERNAL query table (deterministic
    pair-average vectors, not corpus rows) probed against the built
    k-means-refined IVF index via similarity.ann_search — the
    centroids are plan literals, each query row picks its top-2
    lists by a per-row sort over them, one equality join on
    centroid_id into the inverted lists, per-query window top-5; at
    scale the index is stored once via engine.build_ivf_index
    (assignment bucketed by centroid_id) and probes are co-located."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    assigned = similarity.ivf_assign(emb, cents).localCheckpoint()
    a = emb.select(F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb"))
    queries = (
        a.join(b, F.col("_ib") == F.col("_ia") + 1)
        .where(F.col("_ia") < 5)
        .select(
            F.col("_ia").alias("query_id"),
            F.zip_with(
                "_va",
                "_vb",
                lambda x, y: F.round(
                    (x.cast("double") + y.cast("double")) / 2, 6
                ),
            ).alias("qv"),
        )
    )
    return similarity.ann_search(assigned, cents, queries, k=5, nprobe=2)


_IS10_STMT = """
SELECT 'table' AS kind, TABLE_NAME AS obj, TABLE_TYPE AS detail,
       CAST(NULL AS BIGINT) AS pos
FROM INFORMATION_SCHEMA.TABLES
WHERE TABLE_NAME IN ('is10_alpha', 'is10_beta')
UNION ALL
SELECT 'column', TABLE_NAME || '.' || COLUMN_NAME,
       TYPE_NAME || '/' || CAST(DATA_TYPE AS STRING) || '/' || IS_NULLABLE,
       CAST(ORDINAL_POSITION AS BIGINT)
FROM INFORMATION_SCHEMA.COLUMNS
WHERE TABLE_NAME IN ('is10_alpha', 'is10_beta')
UNION ALL
SELECT 'sequence', SEQUENCE_NAME,
       CAST(INCREMENT AS STRING) || '/' || CAST(MIN_VALUE AS STRING)
         || '/' || CAST(MAX_VALUE AS STRING) || '/'
         || CAST(IS_CYCLE AS STRING),
       CAST(CURRENT_VALUE AS BIGINT)
FROM INFORMATION_SCHEMA.SEQUENCES
WHERE SEQUENCE_NAME = 'IS10_SEQ'
ORDER BY kind, obj
"""


@query(
    "information_schema_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('column', 'is10_alpha.flag', 'BOOLEAN/16/YES', CAST(3 AS BIGINT)),
      ('column', 'is10_alpha.id', 'DECIMAL/3/YES', 1),
      ('column', 'is10_alpha.name', 'VARCHAR/12/YES', 2),
      ('column', 'is10_alpha.ts', 'TIMESTAMP/93/YES', 4),
      ('column', 'is10_beta.x', 'VARCHAR/12/YES', 1),
      ('sequence', 'IS10_SEQ', '5/1/1000/true', 10),
      ('table', 'is10_alpha', 'TABLE', NULL),
      ('table', 'is10_beta', 'TABLE', NULL)
    ) AS T(kind, obj, detail, pos)
    ORDER BY kind, obj
    """,
)
def q_information_schema_battery(t: TableSet) -> DataFrame:
    """The H2-spelled catalog-introspection surface (r9 VERDICT task
    1) as ONE driver-witnessed statement: sink-load two fixed tables
    + a sequence into a fresh warehouse, then introspect TABLES /
    COLUMNS / SEQUENCES through engine.execute_sql — exactly the SQL
    an H2/JDBC/BI client issues on connect through the reference's
    socket (H2Server.scala:60-84). H2 1.4.200 conventions under
    test: java.sql.Types DATA_TYPE codes, 1-based ordinals, YES/NO
    nullability, uppercased unquoted sequence names, CURRENT_VALUE =
    last dispensed (two NEXTVALs of START 5 INCREMENT 5 -> 10), and
    the r10 option surface (MIN/MAX/IS_CYCLE reflect the real stored
    bounds of a CYCLE sequence). The
    oracle is the literal expected frame — the fixture is fully
    determined by this function, never by sf data."""
    import json as _json
    import tempfile

    from ..engine import Engine
    from ..types import Column, ColumnType

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    eng.csv_create_sink().consume(
        "/is10_alpha",
        [
            Column("id", ColumnType.NUMBER),
            Column("name", ColumnType.STRING),
            Column("flag", ColumnType.BOOLEAN),
            Column("ts", ColumnType.LOCAL_DATE_TIME),
        ],
        b"",
    )
    eng.csv_create_sink().consume(
        "/is10_beta", [Column("x", ColumnType.STRING)], b""
    )
    eng.execute_sql("DROP SEQUENCE IF EXISTS is10_seq")
    eng.execute_sql(
        "CREATE SEQUENCE is10_seq START WITH 5 INCREMENT BY 5 "
        "MAXVALUE 1000 CYCLE"
    )
    eng.execute_sql("SELECT NEXTVAL('is10_seq') AS v").collect()
    eng.execute_sql("SELECT NEXTVAL('is10_seq') AS v").collect()
    return eng.execute_sql(_IS10_STMT)


_KMH_CTES, _KMH_CENTS, _ = _kmeans_ctes(where="vec_id % 2 = 0")

_APPEND_MICRO = "CAST(CAST(sim AS DECIMAL(28,10)) * 1000000 AS BIGINT)"


@query(
    "ann_index_append",
    oracle=f"""
    WITH {_KMH_CTES},
    nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 2 = 1),
    ab AS (
      SELECT vec_id, centroid_id, sim FROM (
        SELECT nb.vec_id, c.centroid_id,
               round(list_cosine_similarity(nb.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY nb.vec_id
                 ORDER BY round(list_cosine_similarity(nb.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM nb CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    bsim AS (
      SELECT vec_id, sim FROM (
        SELECT e2.vec_id,
               round(list_cosine_similarity(e2.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY e2.vec_id
                 ORDER BY round(list_cosine_similarity(e2.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 2 = 0) e2
        CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    drift AS (
      SELECT (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM bsim)
           - (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM ab) AS d)
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_appended,
           CAST(SUM({_APPEND_MICRO}) AS BIGINT) AS sum_sim_micro,
           CAST(d AS BIGINT) AS drift_micro
    FROM ab, drift
    GROUP BY centroid_id, d
    ORDER BY centroid_id
    """,
)
def q_ann_index_append(t: TableSet) -> DataFrame:
    """Incremental ANN index append (r9 VERDICT task 4) through the
    ENGINE lifecycle: build_ivf_index over the even-id half of the
    corpus, append_to_ivf_index with the odd-id half — the batch is
    assigned against the STORED centroids only (bounded broadcast,
    one batch pass, zero corpus rescans, centroids frozen), lands in
    the same bucketed inverted lists under the build's id, and the
    one-row report carries the drift instrument (build mean minus
    batch mean assigned similarity, integer micro-units — the
    rebuild trigger). Output: the appended batch summarized per
    inverted list + the constant drift column; the oracle replays
    the half-corpus k-means build, the frozen-centroid batch
    assignment, and the integer drift arithmetic in SQL."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_ivf_index("apq", emb.where("vec_id % 2 = 0"), kmeans_iters=2)
    report = eng.append_to_ivf_index("apq", emb.where("vec_id % 2 = 1"))
    appended = eng.table("apq_assigned").where("vec_id % 2 = 1")
    return (
        appended.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_appended"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
        .crossJoin(
            F.broadcast(report.select(F.col("drift_micro").cast("bigint")))
        )
        .orderBy("centroid_id")
    )


@query(
    "csvread_roundtrip",
    oracle=r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(regexp_replace(substring(text, 1, 60),
                                          '[\r\n]', ' ', 'g'))) AS BIGINT)
             AS sum_snip_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q_csvread_roundtrip(t: TableSet) -> DataFrame:
    r"""The H2 CSV table functions (csv_table_funcs.py) as ONE
    driver-witnessed round trip: CALL CSVWRITE exports a snippet
    projection of the corpus to a single CSV file (H2's one-file
    contract; only the final encode is coalesced), then CSVREAD —
    H2's all-VARCHAR lazy table function, here a splittable
    spark.read.csv view with pushdown — loads it back and aggregates
    per source. The statement pair is exactly what a wire client
    types against H2 1.4.200 (H2Server.scala:60-84; the reference's
    own spec reloads sink output via CSVREAD —
    H2DestinationSpec.scala:253). Values survive the
    write-quote-read cycle bit-for-bit (null=\N for NULL,
    preserveWhitespace=true against H2's default unquoted trim), so
    the oracle replays the aggregate straight over parquet — any
    encode/decode divergence breaks the hash."""
    import json as _json
    import os as _os
    import tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    t.documents.createOrReplaceTempView("ctf_docs")
    out = _os.path.join(tempfile.mkdtemp(), "docs.csv")
    eng.execute_sql(
        f"CALL CSVWRITE('{out}', 'SELECT doc_id, source, "
        "REGEXP_REPLACE(SUBSTRING(text, 1, 60), ''[\\r\\n]'', '' '') "
        "AS snippet FROM ctf_docs', 'fieldSeparator=| null=\\N')"
    )
    return eng.execute_sql(
        f"SELECT SOURCE AS source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(LENGTH(SNIPPET)) AS BIGINT) AS sum_snip_chars, "
        "CAST(SUM(CAST(DOC_ID AS BIGINT)) AS BIGINT) AS sum_doc_id "
        f"FROM CSVREAD('{out}', NULL, "
        "'fieldSeparator=| null=\\N preserveWhitespace=true') "
        "GROUP BY SOURCE ORDER BY source"
    )


# ---------------------------------------------------------------------------
# Product quantization (similarity.pq_* — ADC serving for 100 TB corpora)
# ---------------------------------------------------------------------------

_PQ_M = similarity.PQ_M
_PQ_K = similarity.PQ_K
_PQ_S = similarity.EMBED_DIM // similarity.PQ_M
_PQ_MICRO = "CAST(CAST({x} AS DECIMAL(28,10)) * 1000000 AS BIGINT)"


def _pq_ctes(
    iters: int = similarity.PQ_ITERS,
    where: str = "",
) -> tuple[str, str, str]:
    """Unrolled per-subspace spherical-k-means CTEs for the DuckDB
    oracle: md5 seeds sliced into M subspace codebooks -> ``iters``
    rounds of (assign by rounded subvector cosine with ties to the
    lower code, exact DECIMAL(38,6) mean-direction sums of the
    6-rounded unit subvectors) -> final code assignment. Replays
    ``similarity.pq_codebooks`` / ``pq_encode`` exactly (``where``
    filters the training corpus — the half-corpus append replays;
    the residual-IVFADC queries use the separate Euclidean builder
    ``_pq_l2_ctes``, which takes its source SQL directly).
    Returns (cte_sql, final_codebook_name, final_assign_name); pa{k}
    carries (vec_id, m, sv, usv, code)."""
    s, m, k = _PQ_S, _PQ_M, _PQ_K
    cond = f" WHERE {where}" if where else ""
    parts = [
        f"pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings{cond})",
        f"pms AS (SELECT unnest(range({m})) AS m)",
        f"""pseed AS (SELECT vec_id AS code, v FROM pe
          WHERE vec_id IN (SELECT vec_id FROM pe
            ORDER BY md5('{similarity._PQ_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {k}))""",
        f"""pcb0 AS (SELECT pms.m, code, v[(pms.m*{s}+1):(pms.m*{s}+{s})] AS cvec
          FROM pseed CROSS JOIN pms)""",
        f"""psub AS (SELECT vec_id, pms.m,
            v[(pms.m*{s}+1):(pms.m*{s}+{s})] AS sv,
            CASE WHEN list_inner_product(v[(pms.m*{s}+1):(pms.m*{s}+{s})],
                                         v[(pms.m*{s}+1):(pms.m*{s}+{s})]) > 0 THEN
              list_transform(v[(pms.m*{s}+1):(pms.m*{s}+{s})],
                x -> round(x / sqrt(list_inner_product(
                       v[(pms.m*{s}+1):(pms.m*{s}+{s})],
                       v[(pms.m*{s}+1):(pms.m*{s}+{s})])), 6))
            END AS usv
          FROM pe CROSS JOIN pms)""",
    ]
    for i in range(iters + 1):
        parts.append(f"""pa{i} AS (
      SELECT vec_id, m, sv, usv, code FROM (
        SELECT p.vec_id, p.m, p.sv, p.usv, c.code,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.m
                 ORDER BY round(list_cosine_similarity(p.sv, c.cvec), 6) DESC,
                          c.code) AS rn
        FROM psub p JOIN pcb{i} c USING (m)) WHERE rn = 1)""")
        if i < iters:
            parts.append(f"""pss{i + 1} AS (
      SELECT m, code, u.pos, SUM(CAST(usv[u.pos + 1] AS DECIMAL(38,6))) AS sm
      FROM pa{i}, UNNEST(range({s})) AS u(pos)
      WHERE usv IS NOT NULL GROUP BY m, code, u.pos)""")
            parts.append(f"""pcb{i + 1} AS (
      SELECT m, code, list(CAST(sm AS DOUBLE) ORDER BY pos) AS cvec
      FROM pss{i + 1} GROUP BY m, code)""")
    return ",\n    ".join(parts), f"pcb{iters}", f"pa{iters}"


_PQ_CTES, _PQ_CB, _PQ_ASSIGN = _pq_ctes()

_PQ_LUT = f"""plut AS (
      SELECT q.vec_id AS query_id, c.m, c.code,
             {_PQ_MICRO.format(x=f'''round(
               list_inner_product(q.v[(c.m*{_PQ_S}+1):(c.m*{_PQ_S}+{_PQ_S})], c.cvec)
               / sqrt(list_inner_product(c.cvec, c.cvec)), 6)''')} AS part_micro
      FROM (SELECT vec_id, v FROM pe WHERE vec_id < 3) q
      CROSS JOIN {_PQ_CB} c),
    psc AS (
      SELECT l.query_id, a.vec_id, CAST(SUM(l.part_micro) AS BIGINT) AS score_micro
      FROM {_PQ_ASSIGN} a JOIN plut l ON a.m = l.m AND a.code = l.code
      WHERE l.query_id <> a.vec_id
      GROUP BY l.query_id, a.vec_id),
    ptop AS (
      SELECT query_id, vec_id, score_micro, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, vec_id) AS rank
        FROM psc) WHERE rank <= {similarity.PQ_SHORTLIST})"""

#: Exact rerank of the ADC shortlist (the served path).
_PQ_RERANK = f"""prr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT p.query_id, p.vec_id,
               round(list_cosine_similarity(q.v, e.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          p.vec_id) AS r
        FROM ptop p JOIN pe e ON e.vec_id = p.vec_id
                    JOIN pe q ON q.vec_id = p.query_id) WHERE r <= 10)"""


@query(
    "pq_codebook_fingerprint",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT m, code,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM({_PQ_MICRO.format(x=f'cvec[u.pos + 1]')}) AS BIGINT)
             AS checksum_micro
    FROM {_PQ_CB}, UNNEST(range({_PQ_S})) AS u(pos)
    GROUP BY m, code
    ORDER BY m, code
    """,
)
def q_pq_codebook_fingerprint(t: TableSet) -> DataFrame:
    """Product-quantization codebook training (Jegou et al., PAMI
    2011) as a driver-witnessed fingerprint: per (subspace, code),
    the dimension count and the exact integer micro-unit checksum of
    the trained centroid — any drift in the seeded init, the rounded
    assignment, or the DECIMAL mean-direction update breaks the
    hash. Training runs all M subspace k-means problems in one
    corpus pass per round (the subspace axis rides the scan)."""
    cb = similarity.pq_codebooks(t.embeddings)
    return (
        cb.select("m", "code", F.posexplode("cvec").alias("pos", "x"))
        .groupBy("m", "code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dims"),
            F.sum((F.col("x").cast("decimal(28,10)") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("checksum_micro"),
        )
        .orderBy("m", "code")
    )


@query(
    "ann_pq_topk",
    oracle=f"""
    WITH {_PQ_CTES},
    {_PQ_LUT}
    SELECT query_id, vec_id, score_micro, rank FROM ptop
    WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def q_ann_pq_topk(t: TableSet) -> DataFrame:
    """Asymmetric-distance PQ probe: three corpus queries build
    bounded M x K lookup tables of integer micro-unit partials; every
    candidate is scored by summing its M codes' table entries —
    one pass over the compressed CODES (16-64x fewer bytes than the
    float corpus at scale), never the vectors. Exact bigint
    arithmetic end-to-end, so ranks replay identically in SQL."""
    emb = t.embeddings
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    return similarity.ann_pq_topk(codes, lut, 10).orderBy("query_id", "rank")


@query(
    "ann_pq_rerank",
    oracle=f"""
    WITH {_PQ_CTES},
    {_PQ_LUT},
    {_PQ_RERANK}
    SELECT query_id, vec_id, sim, rank FROM prr
    ORDER BY query_id, rank
    """,
)
def q_ann_pq_rerank(t: TableSet) -> DataFrame:
    """The production PQ serving path: ADC prunes the corpus to a
    100-candidate shortlist per query (compressed-codes pass only),
    then the exact cosine rerank reads back JUST those vectors —
    nq x 100 float reads instead of a corpus scan. Measured on the
    real sf0.1 fixture this recovers 60-70% of the exact top-10
    where raw ADC alone sits at 0-20% (the instrument next door,
    ann_pq_recall, carries both numbers)."""
    emb = t.embeddings
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    return similarity.ann_pq_rerank(emb, codes, lut, 10).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_pq_recall",
    oracle=f"""
    WITH {_PQ_CTES},
    {_PQ_LUT},
    {_PQ_RERANK},
    pex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          e.vec_id) AS r
        FROM (SELECT vec_id, v FROM pe WHERE vec_id < 3) q
        CROSS JOIN pe e WHERE e.vec_id <> q.vec_id) WHERE r <= 10),
    pha AS (
      SELECT pex.query_id, COUNT(*) AS n FROM pex
      JOIN (SELECT query_id, vec_id FROM ptop WHERE rank <= 10) a
        ON pex.query_id = a.query_id AND pex.neighbor_id = a.vec_id
      GROUP BY pex.query_id),
    phr AS (
      SELECT pex.query_id, COUNT(*) AS n FROM pex
      JOIN prr ON pex.query_id = prr.query_id
              AND pex.neighbor_id = prr.vec_id
      GROUP BY pex.query_id)
    SELECT x.query_id,
           CAST(COALESCE(pha.n, 0) AS BIGINT) AS n_hit_adc,
           CAST(COALESCE(pha.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_adc_ppm,
           CAST(COALESCE(phr.n, 0) AS BIGINT) AS n_hit_rerank,
           CAST(COALESCE(phr.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_rerank_ppm
    FROM (SELECT query_id, COUNT(*) AS n_exact FROM pex GROUP BY query_id) x
    LEFT JOIN pha ON x.query_id = pha.query_id
    LEFT JOIN phr ON x.query_id = phr.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_pq_recall(t: TableSet) -> DataFrame:
    """The PQ index's recall contract, both paths side by side: per
    query, how much of the exact cosine top-10 is recovered by (a)
    the raw ADC top-10 from the compressed codes and (b) the
    shortlist-then-exact-rerank serving path — the measured
    instrument that says whether M x K and the shortlist width are
    adequate BEFORE anyone serves from the codes (the contract the
    IVF family carries via ann_ivf_recall_kmeans)."""
    emb = t.embeddings
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cb)
    lut = similarity.pq_query_lut(emb.where("vec_id < 3"), cb)
    qids = emb.where("vec_id < 3").select(F.col("vec_id").alias("query_id"))
    adc = similarity.pq_recall(
        emb, similarity.ann_pq_topk(codes, lut, 10), 10, query_ids=qids
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_adc"),
        F.col("recall_ppm").alias("recall_adc_ppm"),
    )
    rr = similarity.pq_recall(
        emb, similarity.ann_pq_rerank(emb, codes, lut, 10), 10,
        query_ids=qids,
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_rerank"),
        F.col("recall_ppm").alias("recall_rerank_ppm"),
    )
    return adc.join(rr, "query_id").orderBy("query_id")


_PQQ = f"""pqq AS (
      SELECT ea.vec_id AS query_id,
             list_transform(range(0, {similarity.EMBED_DIM}),
                            i -> round((ea.v[i+1] + eb.v[i+1]) / 2, 6)) AS qv
      FROM pe ea JOIN pe eb ON eb.vec_id = ea.vec_id + 1
      WHERE ea.vec_id < 3)"""


@query(
    "pq_index_search",
    oracle=f"""
    WITH {{ctes}},
    {{pqq}},
    plut2 AS (
      SELECT q.query_id, c.m, c.code,
             {{part}} AS part_micro
      FROM pqq q CROSS JOIN {{cb}} c),
    psc2 AS (
      SELECT l.query_id, a.vec_id,
             CAST(SUM(l.part_micro) AS BIGINT) AS score_micro
      FROM {{assign}} a JOIN plut2 l ON a.m = l.m AND a.code = l.code
      WHERE l.query_id <> a.vec_id
      GROUP BY l.query_id, a.vec_id),
    pshort2 AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, vec_id) AS rank
        FROM psc2) WHERE rank <= {{short}}),
    prr2 AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT p.query_id, p.vec_id,
               round(list_cosine_similarity(q.qv, e.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          p.vec_id) AS r
        FROM pshort2 p JOIN pe e ON e.vec_id = p.vec_id
                       JOIN pqq q ON q.query_id = p.query_id) WHERE r <= 5)
    SELECT query_id, vec_id, sim, rank FROM prr2
    ORDER BY query_id, rank
    """.format(
        ctes=_PQ_CTES,
        pqq=_PQQ,
        cb=_PQ_CB,
        assign=_PQ_ASSIGN,
        short=similarity.PQ_SHORTLIST,
        part=_PQ_MICRO.format(
            x=f"""round(
               list_inner_product(q.qv[(c.m*{_PQ_S}+1):(c.m*{_PQ_S}+{_PQ_S})], c.cvec)
               / sqrt(list_inner_product(c.cvec, c.cvec)), 6)"""
        ),
    ),
)
def q_pq_index_search(t: TableSet) -> DataFrame:
    """The PQ SERVING form through the ENGINE lifecycle:
    engine.build_pq_index trains the codebooks ONCE and stores the
    compressed codes + vectors bucketed by vec_id; an EXTERNAL query
    table (deterministic pair-average vectors, not corpus rows) is
    answered by engine.pq_search — bounded M x K ADC tables score
    the stored codes shuffle-free (the bucketing satisfies the
    aggregation), then the 100-candidate shortlist is exact-cosine
    reranked against the stored vectors. The oracle replays
    training, encoding, the external queries' LUTs, the shortlist
    and the rerank in SQL."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_pq_index("pqsrv", emb)
    a = emb.select(F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb"))
    queries = (
        a.join(b, F.col("_ib") == F.col("_ia") + 1)
        .where(F.col("_ia") < 3)
        .select(
            F.col("_ia").alias("query_id"),
            F.zip_with(
                "_va",
                "_vb",
                lambda x, y: F.round(
                    (x.cast("double") + y.cast("double")) / 2, 6
                ),
            ).alias("qv"),
        )
    )
    return eng.pq_search("pqsrv", queries, topk=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# IVF+PQ composition (similarity.ivfpq_* — the IVFADC index of Jegou
# et al., PAMI 2011: IVF bounds WHICH vectors a probe touches, PQ
# bounds what each touched vector COSTS, exact rerank restores
# precision on the surviving shortlist)
# ---------------------------------------------------------------------------


def _ivfpq_ctes(
    qcte: str, k: int, nprobe: int = 2, cand_where: str = ""
) -> str:
    """The shared IVFPQ oracle pipeline, parametrized by the query
    CTE (``iq`` must expose (query_id, qv)): probe-list selection
    against the k-means-refined centroids, the per-query ADC lookup
    table, the composed (vec_id, centroid_id, m, code) index rows,
    ADC scoring restricted to each query's nprobe lists, the
    PQ_SHORTLIST cut, and the exact rerank to ``k``. ``cand_where``
    adds a candidate predicate inside the scoring (the
    filtered-search ``allowed=`` semi-join). Replays
    similarity.ivfpq_probe_lists / ivfpq_encode / ann_ivfpq_topk /
    ann_ivfpq_rerank term for term (rounded cosines, micro-unit
    bigint partial sums, ties to the lower id everywhere)."""
    extra = f" AND ({cand_where})" if cand_where else ""
    part = _PQ_MICRO.format(
        x=f"""round(
               list_inner_product(iq.qv[(c.m*{_PQ_S}+1):(c.m*{_PQ_S}+{_PQ_S})], c.cvec)
               / sqrt(list_inner_product(c.cvec, c.cvec)), 6)"""
    )
    return f"""iq AS ({qcte}),
    ipl AS (
      SELECT query_id, centroid_id FROM (
        SELECT iq.query_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY iq.query_id
                 ORDER BY round(list_cosine_similarity(iq.qv, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM iq CROSS JOIN {_KM_CENTS} c) WHERE rn <= {nprobe}),
    ilut AS (
      SELECT iq.query_id, c.m, c.code,
             {part} AS part_micro
      FROM iq CROSS JOIN {_PQ_CB} c),
    icodes AS (
      SELECT pa.vec_id, ka.centroid_id, pa.m, pa.code
      FROM {_PQ_ASSIGN} pa JOIN {_KM_ASSIGN} ka USING (vec_id)),
    isc AS (
      SELECT pl.query_id, c.vec_id, MIN(c.centroid_id) AS centroid_id,
             CAST(SUM(l.part_micro) AS BIGINT) AS score_micro
      FROM icodes c
      JOIN ipl pl ON pl.centroid_id = c.centroid_id
      JOIN ilut l ON l.query_id = pl.query_id AND l.m = c.m AND l.code = c.code
      WHERE pl.query_id <> c.vec_id{extra}
      GROUP BY pl.query_id, c.vec_id),
    ishort AS (
      SELECT query_id, vec_id, centroid_id, score_micro,
             CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, vec_id) AS rank
        FROM isc) WHERE rank <= {similarity.PQ_SHORTLIST}),
    irr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT s.query_id, s.vec_id,
               round(list_cosine_similarity(q.qv, e.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          s.vec_id) AS r
        FROM ishort s JOIN pe e ON e.vec_id = s.vec_id
                      JOIN iq q ON q.query_id = s.query_id) WHERE r <= {k})"""


_IVFPQ_CORPUS_Q = "SELECT vec_id AS query_id, v AS qv FROM pe WHERE vec_id < 3"


def _ivfpq_spark_parts(t: TableSet, nq: int = 3):
    """Shared Spark-side IVFPQ build for the operator-level queries:
    (emb, queries, codes, probes, lut) over the k-means-refined
    coarse quantizer and the trained PQ codebooks."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    q = emb.where(f"vec_id < {nq}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    lut = similarity.pq_query_lut(emb.where(f"vec_id < {nq}"), cb)
    return emb, q, codes, probes, lut


@query(
    "ann_ivfpq_adc",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_ivfpq_ctes(_IVFPQ_CORPUS_Q, 5)}
    SELECT query_id, vec_id, centroid_id, score_micro, rank
    FROM ishort WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfpq_adc(t: TableSet) -> DataFrame:
    """The composed IVF+PQ probe at the ADC level: each query picks
    its nprobe=2 nearest k-means-refined lists (the centroids scored
    as plan literals per query row), and ONLY the compressed codes in those lists are scored
    by the bigint LUT sums — candidate cost ~ corpus x
    (nprobe/n_list) x (M ints / dim floats), the multiplicative
    prune that makes 100 TB ANN affordable. Exact integer arithmetic
    end-to-end; ranks replay identically in SQL."""
    _, _, codes, probes, lut = _ivfpq_spark_parts(t)
    return similarity.ann_ivfpq_topk(codes, lut, probes, 10).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivfpq_search",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_ivfpq_ctes(_IVFPQ_CORPUS_Q, 5)}
    SELECT query_id, vec_id, sim, rank FROM irr
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfpq_search(t: TableSet) -> DataFrame:
    """The full IVFPQ serving path: probe-list selection -> ADC over
    the probed lists only -> PQ_SHORTLIST cut -> exact cosine rerank
    of just the shortlisted vectors. The rerank join carries
    (centroid_id, vec_id), so over the engine's centroid-partitioned
    vector store the float reads prune to the probed lists
    (ivfpq_index_search next door witnesses that store)."""
    emb, q, codes, probes, lut = _ivfpq_spark_parts(t)
    short = similarity.ann_ivfpq_topk(
        codes, lut, probes, similarity.PQ_SHORTLIST
    )
    return similarity.ann_ivfpq_rerank(emb, short, q, 5).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivfpq_recall",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_ivfpq_ctes("SELECT vec_id AS query_id, v AS qv FROM pe WHERE vec_id < 10", 5)},
    iex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          e.vec_id) AS r
        FROM iq q CROSS JOIN pe e WHERE e.vec_id <> q.query_id) WHERE r <= 5),
    iha AS (
      SELECT iex.query_id, COUNT(*) AS n FROM iex
      JOIN (SELECT query_id, vec_id FROM ishort WHERE rank <= 5) a
        ON iex.query_id = a.query_id AND iex.neighbor_id = a.vec_id
      GROUP BY iex.query_id),
    ihr AS (
      SELECT iex.query_id, COUNT(*) AS n FROM iex
      JOIN irr ON iex.query_id = irr.query_id
              AND iex.neighbor_id = irr.vec_id
      GROUP BY iex.query_id)
    SELECT x.query_id,
           CAST(COALESCE(iha.n, 0) AS BIGINT) AS n_hit_adc,
           CAST(COALESCE(iha.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_adc_ppm,
           CAST(COALESCE(ihr.n, 0) AS BIGINT) AS n_hit_rerank,
           CAST(COALESCE(ihr.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_rerank_ppm
    FROM (SELECT query_id, COUNT(*) AS n_exact FROM iex GROUP BY query_id) x
    LEFT JOIN iha ON x.query_id = iha.query_id
    LEFT JOIN ihr ON x.query_id = ihr.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_ivfpq_recall(t: TableSet) -> DataFrame:
    """The composed index's recall contract: per query, the exact
    cosine top-5 recovered by (a) the raw IVFPQ ADC top-5 and (b)
    the shortlist-then-rerank serving path — now measuring BOTH
    compression losses at once (coarse-list misses that no rerank
    can recover, plus PQ quantization error that the rerank fixes).
    The instrument that says whether n_list/nprobe/M/K are adequate
    BEFORE anyone serves from the composed index."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    q = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    lut = similarity.pq_query_lut(emb.where("vec_id < 10"), cb)
    short = similarity.ann_ivfpq_topk(
        codes, lut, probes, similarity.PQ_SHORTLIST
    )
    adc = similarity.pq_recall(
        emb,
        short.where("rank <= 5").select("query_id", "vec_id"),
        5,
        query_ids=q,
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_adc"),
        F.col("recall_ppm").alias("recall_adc_ppm"),
    )
    rr = similarity.pq_recall(
        emb, similarity.ann_ivfpq_rerank(emb, short, q, 5), 5, query_ids=q
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_rerank"),
        F.col("recall_ppm").alias("recall_rerank_ppm"),
    )
    return adc.join(rr, "query_id").orderBy("query_id")


@query(
    "ivfpq_list_profile",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    icodes AS (
      SELECT pa.vec_id, ka.centroid_id, pa.m, pa.code
      FROM {_PQ_ASSIGN} pa JOIN {_KM_ASSIGN} ka USING (vec_id))
    SELECT centroid_id,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(SUM(m * 131 + code) AS BIGINT) AS code_checksum
    FROM icodes
    GROUP BY centroid_id
    ORDER BY centroid_id
    """,
)
def q_ivfpq_list_profile(t: TableSet) -> DataFrame:
    """Index-health instrument for the composed index: per inverted
    list, its occupancy (the quantity whose skew decides probe cost
    variance — a hot list makes every probe touching it expensive)
    and an exact integer checksum over the list's PQ codes (any
    drift in either quantizer moves it). One pass over the composed
    code rows."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes = similarity.ivfpq_encode(emb, cents, cb)
    return (
        codes.groupBy("centroid_id")
        .agg(
            F.countDistinct("vec_id").cast("bigint").alias("n_vecs"),
            F.sum(F.col("m").cast("bigint") * 131 + F.col("code"))
            .cast("bigint")
            .alias("code_checksum"),
        )
        .orderBy("centroid_id")
    )


@query(
    "ivfpq_index_search",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_PQQ},
    {_ivfpq_ctes("SELECT query_id, qv FROM pqq", 5)}
    SELECT query_id, vec_id, sim, rank FROM irr
    ORDER BY query_id, rank
    """,
)
def q_ivfpq_index_search(t: TableSet) -> DataFrame:
    """The IVFPQ SERVING form through the ENGINE lifecycle:
    engine.build_ivfpq_index k-means-refines the coarse quantizer,
    trains the PQ codebooks, and stores vectors + composed codes
    directory-PARTITIONED by centroid_id; an EXTERNAL query table
    (deterministic pair-average vectors) is answered by
    engine.ivfpq_search — the broadcast probe-list join dynamically
    prunes the codes scan to nprobe/n_list of the files (pinned by
    tests/test_bucketing.py::test_ivfpq_index_lifecycle), the ADC
    shortlist is exact-reranked against the same-pruned vector
    store. The oracle replays both quantizer trainings, the probe
    selection, ADC and rerank in SQL."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_ivfpq_index("ipqsrv", emb)
    a = emb.select(F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb"))
    queries = (
        a.join(b, F.col("_ib") == F.col("_ia") + 1)
        .where(F.col("_ia") < 3)
        .select(
            F.col("_ia").alias("query_id"),
            F.zip_with(
                "_va",
                "_vb",
                lambda x, y: F.round(
                    (x.cast("double") + y.cast("double")) / 2, 6
                ),
            ).alias("qv"),
        )
    )
    return eng.ivfpq_search("ipqsrv", queries, topk=5).orderBy(
        "query_id", "rank"
    )


_PQH_CTES, _PQH_CB, _ = _pq_ctes(where="vec_id % 2 = 0")


@query(
    "ivfpq_index_append",
    oracle=f"""
    WITH {_KMH_CTES},
    {_PQH_CTES},
    nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 2 = 1),
    ab AS (
      SELECT vec_id, centroid_id, sim FROM (
        SELECT nb.vec_id, c.centroid_id,
               round(list_cosine_similarity(nb.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY nb.vec_id
                 ORDER BY round(list_cosine_similarity(nb.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM nb CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    nsub AS (SELECT vec_id, pms.m,
                    v[(pms.m*{_PQ_S}+1):(pms.m*{_PQ_S}+{_PQ_S})] AS sv
             FROM nb CROSS JOIN pms),
    acode AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY round(list_cosine_similarity(s.sv, c.cvec), 6) DESC,
                          c.code) AS rn
        FROM nsub s JOIN {_PQH_CB} c USING (m)) WHERE rn = 1),
    ccs AS (
      SELECT ab.centroid_id,
             CAST(SUM(a.m * 131 + a.code) AS BIGINT) AS code_checksum
      FROM acode a JOIN ab ON ab.vec_id = a.vec_id
      GROUP BY ab.centroid_id),
    bsim AS (
      SELECT vec_id, sim FROM (
        SELECT e2.vec_id,
               round(list_cosine_similarity(e2.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY e2.vec_id
                 ORDER BY round(list_cosine_similarity(e2.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 2 = 0) e2
        CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    drift AS (
      SELECT (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM bsim)
           - (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM ab) AS d)
    SELECT ab.centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_appended,
           CAST(SUM({_APPEND_MICRO}) AS BIGINT) AS sum_sim_micro,
           MIN(ccs.code_checksum) AS code_checksum,
           CAST(d AS BIGINT) AS drift_micro
    FROM ab JOIN ccs ON ccs.centroid_id = ab.centroid_id, drift
    GROUP BY ab.centroid_id, d
    ORDER BY ab.centroid_id
    """,
)
def q_ivfpq_index_append(t: TableSet) -> DataFrame:
    """Incremental append to the COMPOSED index through the engine
    lifecycle: build_ivfpq_index over the even-id half of the corpus,
    append_to_ivfpq_index with the odd-id half — the batch is
    assigned against the STORED centroids and encoded against the
    STORED codebooks (two bounded broadcasts, one batch pass, zero
    corpus rescans, neither quantizer re-trains), lands in both
    centroid-partitioned tables under the build's id, and the
    one-row report carries the drift instrument (build mean − batch
    mean assigned similarity — the rebuild trigger). Output: the
    appended batch per inverted list (occupancy, exact sim sum, PQ
    code checksum) + the constant drift column; the oracle replays
    BOTH half-corpus trainings, the frozen-quantizer batch
    assignment/encoding, and the integer drift arithmetic."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_ivfpq_index("apq2", emb.where("vec_id % 2 = 0"))
    report = eng.append_to_ivfpq_index("apq2", emb.where("vec_id % 2 = 1"))
    vecs = eng.table("apq2_vectors").where("vec_id % 2 = 1")
    codes = eng.table("apq2_codes").where("vec_id % 2 = 1")
    return (
        vecs.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_appended"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
        .join(
            codes.groupBy("centroid_id").agg(
                F.sum(F.col("m").cast("bigint") * 131 + F.col("code"))
                .cast("bigint")
                .alias("code_checksum")
            ),
            "centroid_id",
        )
        .crossJoin(
            F.broadcast(report.select(F.col("drift_micro").cast("bigint")))
        )
        .orderBy("centroid_id")
    )


@query(
    "script_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      ('script', CAST(1 AS BIGINT),
       'CREATE CACHED TABLE "sc10_a"("id" DECIMAL(38,18), "name" VARCHAR);'),
      ('script', 2,
       'CREATE CACHED TABLE "sc10_b"("flag" BOOLEAN, "ts" TIMESTAMP);'),
      ('column', 1, 'sc10_a.id:decimal(38,18)'),
      ('column', 2, 'sc10_a.name:string'),
      ('column', 3, 'sc10_b.flag:boolean'),
      ('column', 4, 'sc10_b.ts:timestamp_ntz'),
      ('select', 1, 'rows=2')
    ) AS T(kind, pos, line)
    ORDER BY kind, pos
    """,
)
def q_script_roundtrip(t: TableSet) -> DataFrame:
    """H2's SCRIPT / RUNSCRIPT machinery as ONE witnessed cycle — the
    statement family the reference itself boots through
    (h2.RunScript.execute, H2Server.scala:51): two sink-loaded tables
    are dumped with ``SCRIPT NODATA TO 'file' TABLE ...`` (H2's
    table-scoped dump grammar; H2 type spellings incl. the
    wall-clock TIMESTAMP), dropped, restored with ``RUNSCRIPT FROM
    'file'`` (each statement re-enters the full execute_sql surface,
    landing CREATE CACHED TABLE back in the ENGINE catalog), then
    queried BY LOGICAL NAME — witnessing the resolution-on-demand
    layer (sql_dml._resolve_sql) that lets a wire client SELECT the
    name it loaded, not the storage-safe physical name. Output:
    the dump lines, the restored schema, and the post-restore
    INSERT+SELECT row count. The oracle is the literal expected
    frame — the fixture is fully determined by this function."""
    import json as _json
    import os as _os
    import tempfile

    from ..engine import Engine
    from ..types import Column, ColumnType

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    eng.drop_table_if_exists("sc10_a")
    eng.drop_table_if_exists("sc10_b")
    eng.csv_create_sink().consume(
        "/sc10_a",
        [Column("id", ColumnType.NUMBER), Column("name", ColumnType.STRING)],
        b"",
    )
    eng.csv_create_sink().consume(
        "/sc10_b",
        [
            Column("flag", ColumnType.BOOLEAN),
            Column("ts", ColumnType.LOCAL_DATE_TIME),
        ],
        b"",
    )
    f = _os.path.join(tempfile.mkdtemp(), "dump.sql")
    script = [
        (r.SCRIPT,)
        for r in eng.execute_sql(
            f"SCRIPT NODATA TO '{f}' TABLE sc10_a, sc10_b"
        ).collect()
    ]
    eng.execute_sql("DROP TABLE sc10_a")
    eng.execute_sql("DROP TABLE sc10_b")
    eng.execute_sql(f"RUNSCRIPT FROM '{f}'")
    cols = []
    for tbl in ("sc10_a", "sc10_b"):
        for fld in eng.table(tbl).schema.fields:
            cols.append(f"{tbl}.{fld.name}:{fld.dataType.simpleString()}")
    eng.execute_sql("INSERT INTO sc10_a VALUES (1, 'x'), (2, 'y')")
    n = (
        eng.execute_sql("SELECT COUNT(*) AS n FROM sc10_a")
        .collect()[0]
        .n
    )
    rows = (
        [("script", i + 1, ln) for i, (ln,) in enumerate(script)]
        + [("column", i + 1, c) for i, c in enumerate(cols)]
        + [("select", 1, f"rows={n}")]
    )
    return spark.createDataFrame(
        rows, "kind string, pos bigint, line string"
    ).orderBy("kind", "pos")


@query(
    "ann_ivfpq_filtered",
    oracle=f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_ivfpq_ctes(_IVFPQ_CORPUS_Q, 5, cand_where="c.vec_id % 2 = 0")}
    SELECT query_id, vec_id, sim, rank FROM irr
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfpq_filtered(t: TableSet) -> DataFrame:
    """FILTERED vector search over the composed index — metadata
    predicates in ANN ("nearest neighbors among docs with license
    X"): the allow-list semi-join lands BEFORE ADC scoring, so
    excluded candidates never cost LUT work and the top-k stays
    exact within the probed lists (post-filtering a top-k underfills
    — the classic filtered-ANN trap). The oracle replays the same
    predicate inside the scoring CTE."""
    emb, q, codes, probes, lut = _ivfpq_spark_parts(t)
    allowed = emb.where("vec_id % 2 = 0").select("vec_id")
    short = similarity.ann_ivfpq_topk(
        codes, lut, probes, similarity.PQ_SHORTLIST, allowed=allowed
    )
    return similarity.ann_ivfpq_rerank(emb, short, q, 5).orderBy(
        "query_id", "rank"
    )


#: Hybrid-retrieval query batch: per query id, BOTH a term set (the
#: lexical leg) and a corpus query vector (the semantic leg, vec_id =
#: query_id). Ids align with documents.doc_id == embeddings.vec_id.
_HYB_QUERY_ROWS = (
    (0, "query"), (0, "plan"),
    (1, "data"), (1, "stream"),
    (2, "window"), (2, "state"), (2, "join"),
)

_HYB_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _HYB_QUERY_ROWS)


@query(
    "hybrid_search_rrf",
    oracle=rf"""
    WITH hq AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
                FROM (VALUES {_HYB_VALUES}) v(query_id, term)),
    base AS (SELECT doc_id,
                    list_filter(string_split_regex({{norm}}, ' '),
                                x -> x <> '') AS tk
             FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(tk)) AS BIGINT) AS sum_dl
              FROM base),
    dt AS (
      SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS tok
        FROM base)
      GROUP BY doc_id, dl, tok),
    pruned AS (SELECT * FROM dt
               WHERE tok IN (SELECT DISTINCT term FROM hq)),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
              FROM pruned GROUP BY tok),
    contrib AS (
      SELECT hq.query_id, p.doc_id,
             CAST(CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT)
             * CAST(CAST(round(tf * ({{k1}} + 1) / (tf + {{k1}}
                  * (1 - {{b}} + {{b}} * dl
                     / (sum_dl / n_docs))), 6)
                  AS DECIMAL(28,10)) * 1000000 AS BIGINT) AS u12
      FROM pruned p JOIN dfreq USING (tok) JOIN hq ON hq.term = p.tok, stats),
    lex AS (
      SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY SUM(u12) DESC, doc_id) AS rank
        FROM contrib GROUP BY query_id, doc_id) WHERE rank <= 10),
    he AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sem AS (
      SELECT query_id, neighbor_id AS doc_id, CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          e.vec_id) AS rank
        FROM (SELECT vec_id, v FROM he WHERE vec_id < 3) q
        CROSS JOIN he e WHERE e.vec_id <> q.vec_id) WHERE rank <= 10),
    fused AS (
      SELECT query_id, doc_id,
             CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
      GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, rrf_micro, n_sources, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rrf_micro DESC, doc_id) AS rank
      FROM fused) WHERE rank <= 10
    ORDER BY query_id, rank
    """.format(norm=_NORM, k1=text.BM25_K1, b=text.BM25_B),
)
def q_hybrid_search_rrf(t: TableSet) -> DataFrame:
    """Hybrid retrieval: lexical BM25 top-10 (query-table batch form,
    one pruned posting join) and semantic exact-cosine top-10 over
    the SAME query ids, fused by reciprocal-rank fusion — the
    standard calibration-free way to combine the two retrievers, and
    the shape a training-data pipeline uses for contamination checks
    and targeted curation ("find everything about X" lexically OR
    semantically). Fusion reads only the two bounded top-k frames
    (exact integer 1000000 DIV (60 + rank) contributions, ties to
    the lower doc id) — it adds no corpus work. documents.doc_id and
    embeddings.vec_id share the id space by fixture construction."""
    spark = t.documents.sparkSession
    qdf = spark.createDataFrame(
        list(_HYB_QUERY_ROWS), "query_id bigint, term string"
    )
    lex = text.bm25_search_many(t.documents, qdf, topn=10).select(
        "query_id", "doc_id", "rank"
    )
    sem = similarity.brute_force_topk(t.embeddings, 3, 10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return text.rrf_fuse([lex, sem], 60, 10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Binary (1-bit sign) quantization (similarity.bq_* — the 32x tier)
# ---------------------------------------------------------------------------

_BQ_LO = ("CAST(list_sum(list_transform(range(32), i -> CASE WHEN "
          "{v}[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)")
_BQ_HI = ("CAST(list_sum(list_transform(range(32), i -> CASE WHEN "
          "{v}[i+33] >= 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)")

_BQ_CTES = f"""be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    bsig AS (SELECT vec_id, {_BQ_LO.format(v='v')} AS sig_lo,
                    {_BQ_HI.format(v='v')} AS sig_hi FROM be),
    bq AS (SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
           FROM bsig WHERE vec_id < 3),
    bsc AS (
      SELECT q.query_id, s.vec_id,
             CAST(bit_count(xor(s.sig_lo, q.q_lo))
                + bit_count(xor(s.sig_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM bsig s CROSS JOIN bq q WHERE s.vec_id <> q.query_id),
    btop AS (
      SELECT query_id, vec_id, hamming, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming, vec_id) AS rank
        FROM bsc) WHERE rank <= {similarity.PQ_SHORTLIST}),
    brr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT t.query_id, t.vec_id,
               round(list_cosine_similarity(q.v, e.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          t.vec_id) AS r
        FROM btop t JOIN be e ON e.vec_id = t.vec_id
                    JOIN be q ON q.vec_id = t.query_id) WHERE r <= 5)"""


def _bq_spark_parts(t: TableSet, nq: int = 3):
    emb = t.embeddings
    codes = similarity.bq_encode(emb)
    qc = similarity.bq_encode(emb.where(f"vec_id < {nq}")).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    q = emb.where(f"vec_id < {nq}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return emb, codes, qc, q


@query(
    "ann_bq_topk",
    oracle=f"""
    WITH {_BQ_CTES}
    SELECT query_id, vec_id, hamming, rank FROM btop WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def q_ann_bq_topk(t: TableSet) -> DataFrame:
    """1-bit (sign) quantization probe: 64-dim floats packed into 64
    sign bits (two engine-portable bigint halves, 32x smaller than
    float32); candidates ranked by Hamming distance — two XORs + two
    popcounts per pair, pure integer codegen, no FP. The extreme-
    compression tier beside PQ (ann_pq_topk): BQ compresses ~4x
    harder, PQ ranks better at equal probe cost — the recall
    contract next door quantifies the trade."""
    _, codes, qc, _ = _bq_spark_parts(t)
    return similarity.ann_bq_topk(codes, qc, 10).orderBy("query_id", "rank")


@query(
    "ann_bq_search",
    oracle=f"""
    WITH {_BQ_CTES}
    SELECT query_id, vec_id, sim, rank FROM brr
    ORDER BY query_id, rank
    """,
)
def q_ann_bq_search(t: TableSet) -> DataFrame:
    """The BQ serving path: Hamming shortlist over the packed sign
    bits (a 32x-compressed scan), exact cosine rerank of only the
    shortlisted vectors — nq x 100 float reads instead of a corpus
    scan, same contract as the PQ/IVFPQ serving forms."""
    emb, codes, qc, q = _bq_spark_parts(t)
    short = similarity.ann_bq_topk(codes, qc, similarity.PQ_SHORTLIST)
    return similarity.ann_flat_rerank(emb, short, q, 5).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_bq_recall",
    oracle=f"""
    WITH be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    bsig AS (SELECT vec_id, {_BQ_LO.format(v='v')} AS sig_lo,
                    {_BQ_HI.format(v='v')} AS sig_hi FROM be),
    bq AS (SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
           FROM bsig WHERE vec_id < 10),
    bsc AS (
      SELECT q.query_id, s.vec_id,
             CAST(bit_count(xor(s.sig_lo, q.q_lo))
                + bit_count(xor(s.sig_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM bsig s CROSS JOIN bq q WHERE s.vec_id <> q.query_id),
    btop AS (
      SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming, vec_id) AS rank
        FROM bsc) WHERE rank <= {similarity.PQ_SHORTLIST}),
    brr AS (
      SELECT query_id, vec_id FROM (
        SELECT t.query_id, t.vec_id,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                 ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC,
                          t.vec_id) AS r
        FROM btop t JOIN be e ON e.vec_id = t.vec_id
                    JOIN be q ON q.vec_id = t.query_id) WHERE r <= 5),
    bex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(bqv.v, e.v), 6) DESC,
                          e.vec_id) AS r
        FROM bq q JOIN be bqv ON bqv.vec_id = q.query_id
        CROSS JOIN be e WHERE e.vec_id <> q.query_id) WHERE r <= 5),
    bha AS (
      SELECT bex.query_id, COUNT(*) AS n FROM bex
      JOIN (SELECT query_id, vec_id FROM btop WHERE rank <= 5) a
        ON bex.query_id = a.query_id AND bex.neighbor_id = a.vec_id
      GROUP BY bex.query_id),
    bhr AS (
      SELECT bex.query_id, COUNT(*) AS n FROM bex
      JOIN brr ON bex.query_id = brr.query_id
              AND bex.neighbor_id = brr.vec_id
      GROUP BY bex.query_id)
    SELECT x.query_id,
           CAST(COALESCE(bha.n, 0) AS BIGINT) AS n_hit_adc,
           CAST(COALESCE(bha.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_adc_ppm,
           CAST(COALESCE(bhr.n, 0) AS BIGINT) AS n_hit_rerank,
           CAST(COALESCE(bhr.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_rerank_ppm
    FROM (SELECT query_id, COUNT(*) AS n_exact FROM bex GROUP BY query_id) x
    LEFT JOIN bha ON x.query_id = bha.query_id
    LEFT JOIN bhr ON x.query_id = bhr.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_bq_recall(t: TableSet) -> DataFrame:
    """The BQ recall contract, both paths: per query, the exact
    cosine top-5 recovered by (a) the raw Hamming top-5 and (b) the
    shortlist-then-exact-rerank serving path — read beside
    ann_pq_recall to place the 32x tier on the compression/recall
    curve before anyone serves from sign bits alone."""
    emb = t.embeddings
    codes = similarity.bq_encode(emb)
    qc = similarity.bq_encode(emb.where("vec_id < 10")).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    q = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    short = similarity.ann_bq_topk(codes, qc, similarity.PQ_SHORTLIST)
    adc = similarity.pq_recall(
        emb,
        short.where("rank <= 5").select("query_id", "vec_id"),
        5,
        query_ids=q,
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_adc"),
        F.col("recall_ppm").alias("recall_adc_ppm"),
    )
    rr = similarity.pq_recall(
        emb, similarity.ann_flat_rerank(emb, short, q, 5), 5, query_ids=q
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_rerank"),
        F.col("recall_ppm").alias("recall_rerank_ppm"),
    )
    return adc.join(rr, "query_id").orderBy("query_id")


@query(
    "bq_balance_profile",
    oracle=f"""
    WITH be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    bsig AS (SELECT vec_id, {_BQ_LO.format(v='v')} AS sig_lo,
                    {_BQ_HI.format(v='v')} AS sig_hi FROM be)
    SELECT CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT)
             AS popcount,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM bsig
    GROUP BY 1
    ORDER BY popcount
    """,
)
def q_bq_balance_profile(t: TableSet) -> DataFrame:
    """BQ health instrument: the per-vector popcount histogram. Sign
    quantization assumes roughly centered dimensions — a histogram
    massed near 32 says the 64 bits carry maximal information; mass
    near 0/64 says recenter (subtract the dimension means) before
    trusting hamming ranks. One pass over the packed codes."""
    codes = similarity.bq_encode(t.embeddings)
    return (
        codes.select(
            (F.bit_count("sig_lo") + F.bit_count("sig_hi"))
            .cast("bigint")
            .alias("popcount")
        )
        .groupBy("popcount")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("popcount")
    )


def _mmr_ctes(k: int = 5, lam_ppm: int = 700_000, n_cand: int = 20) -> str:
    """Unrolled greedy-MMR CTEs for the DuckDB oracle: the bounded
    candidate build (exact brute-force top-n_cand with micro-unit
    relevance), then k selection steps — each computes every
    remaining candidate's max similarity to the selected set and
    takes argmax of lam*rel − (1−lam)*max_sim (ties to the lower
    vec_id). Replays similarity.mmr_select exactly (integer ppm/
    micro arithmetic end-to-end)."""
    inv = 1_000_000 - lam_ppm
    sim = ("CAST(CAST(round(list_cosine_similarity({a}, {b}), 6) "
           "AS DECIMAL(28,10)) * 1000000 AS BIGINT)")
    parts = [
        "me AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "mq AS (SELECT vec_id AS query_id, v AS qv FROM me WHERE vec_id < 3)",
        f"""mc AS (SELECT query_id, vec_id, v, rel FROM (
      SELECT q.query_id, e.vec_id, e.v,
             {sim.format(a='q.qv', b='e.v')} AS rel,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                        e.vec_id) AS rn
      FROM mq q CROSS JOIN me e WHERE e.vec_id <> q.query_id)
      WHERE rn <= {n_cand})""",
        f"""s1 AS (SELECT query_id, 1 AS step, vec_id, v, mmr FROM (
      SELECT query_id, vec_id, v,
             CAST({lam_ppm} * rel AS BIGINT) AS mmr,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {lam_ppm} * rel DESC, vec_id) AS rn
      FROM mc) WHERE rn = 1)""",
        "p1 AS (SELECT * FROM s1)",
    ]
    for j in range(2, k + 1):
        parts.append(f"""m{j} AS (
      SELECT c.query_id, c.vec_id, c.v, c.rel,
             MAX({sim.format(a='c.v', b='s.v')}) AS ms
      FROM mc c JOIN p{j - 1} s ON s.query_id = c.query_id
      WHERE NOT EXISTS (SELECT 1 FROM p{j - 1} p
                        WHERE p.query_id = c.query_id
                          AND p.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.v, c.rel)""")
        parts.append(f"""s{j} AS (SELECT query_id, {j} AS step, vec_id, v, mmr FROM (
      SELECT query_id, vec_id, v,
             CAST({lam_ppm} * rel - {inv} * ms AS BIGINT) AS mmr,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {lam_ppm} * rel - {inv} * ms DESC, vec_id) AS rn
      FROM m{j}) WHERE rn = 1)""")
        parts.append(
            f"p{j} AS (SELECT * FROM p{j - 1} UNION ALL SELECT * FROM s{j})"
        )
    return ",\n    ".join(parts) + f"""
    SELECT query_id, CAST(step AS INT) AS step, vec_id,
           CAST(mmr AS BIGINT) AS mmr_score
    FROM p{k} ORDER BY query_id, step"""


@query("mmr_diverse_topk", oracle="WITH " + _mmr_ctes())
def q_mmr_diverse_topk(t: TableSet) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein,
    SIGIR 1998): each query's exact top-20 shortlist is greedily
    re-selected down to a DIVERSE top-5 — step 1 takes the most
    relevant candidate, later steps trade relevance against maximum
    similarity to what's already selected (lam = 0.7 in exact ppm
    arithmetic). The de-redundancy pass a curation pipeline runs on
    retrieval output before labeling/training; sequential in k by
    nature, so it runs over the bounded shortlist — never the
    corpus. The oracle replays all five greedy steps as unrolled
    CTEs."""
    emb = t.embeddings
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
    )
    return similarity.mmr_select(cand, 5).orderBy("query_id", "step")


# ---------------------------------------------------------------------------
# IVF+BQ composition (similarity.ivfbq_* / engine.build_ivfbq_index —
# the coarse quantizer over the 1-bit sign codes). Closes the ANN
# family's one O(corpus)-per-batch probe: the flat Hamming scan of
# ann_bq_topk becomes a partition-pruned scan of nprobe/n_list of the
# packed codes, exactly as IVFPQ bounds PQ codes. Unlike PQ the sign
# quantizer is parameterless, so the coarse centroids are the only
# trained state and appends can never drift against a codebook.
# ---------------------------------------------------------------------------


def _ivfbq_ctes(
    qcte: str, k: int, nprobe: int = 2, shortlist: int | None = None
) -> str:
    """The shared IVFBQ oracle pipeline, parametrized by the query
    CTE (``iq`` must expose (query_id, qv) over double[] vectors;
    corpus rows come from ``e`` of the k-means CTEs): query sign
    packing, probe-list selection against the refined centroids, the
    composed (vec_id, centroid_id, sig_lo, sig_hi) index rows,
    XOR+popcount Hamming restricted to each query's nprobe lists,
    the ``shortlist`` cut (default PQ_SHORTLIST), and the exact
    rerank to ``k``. Replays similarity.bq_query_codes /
    ivfpq_probe_lists / ivfbq_encode / ann_ivfbq_topk /
    ann_ivfpq_rerank term for term."""
    shortlist = similarity.PQ_SHORTLIST if shortlist is None else shortlist
    return f"""iq AS ({qcte}),
    ibq AS (SELECT query_id, {_BQ_LO.format(v='qv')} AS q_lo,
                   {_BQ_HI.format(v='qv')} AS q_hi FROM iq),
    ibpl AS (
      SELECT query_id, centroid_id FROM (
        SELECT iq.query_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY iq.query_id
                 ORDER BY round(list_cosine_similarity(iq.qv, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM iq CROSS JOIN {_KM_CENTS} c) WHERE rn <= {nprobe}),
    ibsig AS (SELECT vec_id, {_BQ_LO.format(v='v')} AS sig_lo,
                     {_BQ_HI.format(v='v')} AS sig_hi FROM e),
    ibsc AS (
      SELECT pl.query_id, s.vec_id, ka.centroid_id,
             CAST(bit_count(xor(s.sig_lo, q.q_lo))
                + bit_count(xor(s.sig_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM ibsig s
      JOIN {_KM_ASSIGN} ka USING (vec_id)
      JOIN ibpl pl ON pl.centroid_id = ka.centroid_id
      JOIN ibq q ON q.query_id = pl.query_id
      WHERE pl.query_id <> s.vec_id),
    ibshort AS (
      SELECT query_id, vec_id, centroid_id, hamming,
             CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming, vec_id) AS rank
        FROM ibsc) WHERE rank <= {shortlist}),
    ibrr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT s.query_id, s.vec_id,
               round(list_cosine_similarity(q.qv, e2.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e2.v), 6) DESC,
                          s.vec_id) AS r
        FROM ibshort s JOIN e e2 ON e2.vec_id = s.vec_id
                       JOIN iq q ON q.query_id = s.query_id) WHERE r <= {k})"""


_IVFBQ_CORPUS_Q = "SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3"


def _ivfbq_spark_parts(t: TableSet, nq: int = 3):
    """Shared Spark-side IVFBQ build for the operator-level queries:
    (emb, queries, codes, probes, query_codes) over the
    k-means-refined coarse quantizer."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    codes = similarity.ivfbq_encode(emb, cents)
    q = emb.where(f"vec_id < {nq}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    qc = similarity.bq_query_codes(q)
    return emb, q, codes, probes, qc


@query(
    "ann_ivfbq_hamming",
    oracle=f"""
    WITH {_KM_CTES},
    {_ivfbq_ctes(_IVFBQ_CORPUS_Q, 5)}
    SELECT query_id, vec_id, centroid_id, hamming, rank
    FROM ibshort WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfbq_hamming(t: TableSet) -> DataFrame:
    """The composed IVF+BQ probe at the Hamming level: each query
    picks its nprobe=2 nearest k-means-refined lists (the centroids
    scored as plan literals per query row), and ONLY the packed sign codes in those lists
    are XOR+popcount-scored — candidate I/O ~ corpus x
    (nprobe/n_list) x (16 B / 256 B float32), turning the flat
    ann_bq_topk scan into a pruned one. Pure integer arithmetic;
    ranks replay identically in SQL."""
    _, _, codes, probes, qc = _ivfbq_spark_parts(t)
    return similarity.ann_ivfbq_topk(codes, qc, probes, 10).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivfbq_search",
    oracle=f"""
    WITH {_KM_CTES},
    {_ivfbq_ctes(_IVFBQ_CORPUS_Q, 5)}
    SELECT query_id, vec_id, sim, rank FROM ibrr
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfbq_search(t: TableSet) -> DataFrame:
    """The full IVF+BQ serving path: probe-list selection -> Hamming
    over the probed lists only -> PQ_SHORTLIST cut -> exact cosine
    rerank of just the shortlisted vectors. Same contract as the
    IVFPQ serving form at a quarter of its code bytes per candidate
    (16 B signs vs M=8 ints + lookup tables); the recall query next
    door places the two on the compression/recall curve."""
    emb, q, codes, probes, qc = _ivfbq_spark_parts(t)
    short = similarity.ann_ivfbq_topk(
        codes, qc, probes, similarity.PQ_SHORTLIST
    )
    return similarity.ann_ivfpq_rerank(emb, short, q, 5).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivfbq_recall",
    oracle=f"""
    WITH {_KM_CTES},
    {_ivfbq_ctes("SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10", 5)},
    bex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e2.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e2.v), 6) DESC,
                          e2.vec_id) AS r
        FROM iq q CROSS JOIN e e2 WHERE e2.vec_id <> q.query_id) WHERE r <= 5),
    bha AS (
      SELECT bex.query_id, COUNT(*) AS n FROM bex
      JOIN (SELECT query_id, vec_id FROM ibshort WHERE rank <= 5) a
        ON bex.query_id = a.query_id AND bex.neighbor_id = a.vec_id
      GROUP BY bex.query_id),
    bhr AS (
      SELECT bex.query_id, COUNT(*) AS n FROM bex
      JOIN ibrr ON bex.query_id = ibrr.query_id
               AND bex.neighbor_id = ibrr.vec_id
      GROUP BY bex.query_id)
    SELECT x.query_id,
           CAST(COALESCE(bha.n, 0) AS BIGINT) AS n_hit_hamming,
           CAST(COALESCE(bha.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_hamming_ppm,
           CAST(COALESCE(bhr.n, 0) AS BIGINT) AS n_hit_rerank,
           CAST(COALESCE(bhr.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_rerank_ppm
    FROM (SELECT query_id, COUNT(*) AS n_exact FROM bex GROUP BY query_id) x
    LEFT JOIN bha ON x.query_id = bha.query_id
    LEFT JOIN bhr ON x.query_id = bhr.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_ivfbq_recall(t: TableSet) -> DataFrame:
    """The composed 1-bit index's recall contract, both paths: per
    query, the exact cosine top-5 recovered by (a) the raw
    partition-pruned Hamming top-5 and (b) the
    shortlist-then-exact-rerank serving path — measuring coarse-list
    misses AND sign-quantization error at once. Read beside
    ann_bq_recall (flat scan, no list misses) and ann_ivfpq_recall
    (same lists, finer codes) to place IVF+BQ on the
    compression/recall curve before serving from it."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    codes = similarity.ivfbq_encode(emb, cents)
    q = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    qc = similarity.bq_query_codes(q)
    short = similarity.ann_ivfbq_topk(
        codes, qc, probes, similarity.PQ_SHORTLIST
    )
    ham = similarity.pq_recall(
        emb,
        short.where("rank <= 5").select("query_id", "vec_id"),
        5,
        query_ids=q,
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_hamming"),
        F.col("recall_ppm").alias("recall_hamming_ppm"),
    )
    rr = similarity.pq_recall(
        emb, similarity.ann_ivfpq_rerank(emb, short, q, 5), 5, query_ids=q
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_rerank"),
        F.col("recall_ppm").alias("recall_rerank_ppm"),
    )
    return ham.join(rr, "query_id").orderBy("query_id")


@query(
    "ivfbq_index_search",
    oracle=f"""
    WITH {_KM_CTES},
    ibxq AS (
      SELECT ea.vec_id AS query_id,
             list_transform(range(0, {similarity.EMBED_DIM}),
                            i -> round((ea.v[i+1] + eb.v[i+1]) / 2, 6)) AS qv
      FROM e ea JOIN e eb ON eb.vec_id = ea.vec_id + 1
      WHERE ea.vec_id < 3),
    {_ivfbq_ctes("SELECT query_id, qv FROM ibxq", 5)}
    SELECT query_id, vec_id, sim, rank FROM ibrr
    ORDER BY query_id, rank
    """,
)
def q_ivfbq_index_search(t: TableSet) -> DataFrame:
    """The IVF+BQ SERVING form through the ENGINE lifecycle:
    engine.build_ivfbq_index k-means-refines the coarse quantizer
    and stores vectors + packed sign codes directory-PARTITIONED by
    centroid_id; an EXTERNAL query table (deterministic pair-average
    vectors) is answered by engine.ivfbq_search — the broadcast
    probe-list join dynamically prunes the codes scan to
    nprobe/n_list of the files (pinned by tests/test_bucketing.py::
    test_ivfbq_index_lifecycle), the Hamming shortlist is
    exact-reranked against the same-pruned vector store. The oracle
    replays the quantizer training, the query sign packing, probe
    selection, pruned Hamming and rerank in SQL."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_ivfbq_index("ibqsrv", emb)
    a = emb.select(F.col("vec_id").alias("_ia"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_ib"), F.col("embedding").alias("_vb"))
    queries = (
        a.join(b, F.col("_ib") == F.col("_ia") + 1)
        .where(F.col("_ia") < 3)
        .select(
            F.col("_ia").alias("query_id"),
            F.zip_with(
                "_va",
                "_vb",
                lambda x, y: F.round(
                    (x.cast("double") + y.cast("double")) / 2, 6
                ),
            ).alias("qv"),
        )
    )
    return eng.ivfbq_search("ibqsrv", queries, topk=5).orderBy(
        "query_id", "rank"
    )


@query(
    "ivfbq_index_append",
    oracle=f"""
    WITH {_KMH_CTES},
    nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 2 = 1),
    ab AS (
      SELECT vec_id, centroid_id, sim, v FROM (
        SELECT nb.vec_id, c.centroid_id, nb.v,
               round(list_cosine_similarity(nb.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY nb.vec_id
                 ORDER BY round(list_cosine_similarity(nb.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM nb CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    asig AS (
      SELECT vec_id, centroid_id, sim,
             {_BQ_LO.format(v='v')} AS sig_lo,
             {_BQ_HI.format(v='v')} AS sig_hi
      FROM ab),
    bsim AS (
      SELECT vec_id, sim FROM (
        SELECT e2.vec_id,
               round(list_cosine_similarity(e2.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY e2.vec_id
                 ORDER BY round(list_cosine_similarity(e2.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e e2 CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    drift AS (
      SELECT (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM bsim)
           - (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM ab) AS d)
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_appended,
           CAST(SUM({_APPEND_MICRO}) AS BIGINT) AS sum_sim_micro,
           CAST(SUM(sig_lo + 3 * sig_hi) AS BIGINT) AS sig_checksum,
           CAST(d AS BIGINT) AS drift_micro
    FROM asig, drift
    GROUP BY centroid_id, d
    ORDER BY centroid_id
    """,
)
def q_ivfbq_index_append(t: TableSet) -> DataFrame:
    """Incremental append to the IVF+BQ index through the engine
    lifecycle: build_ivfbq_index over the even-id half of the corpus,
    append_to_ivfbq_index with the odd-id half — the batch is
    assigned against the STORED centroids and sign-packed in the
    same single batch pass (no quantizer retrains; the sign encoder
    is parameterless, so appended codes are BY CONSTRUCTION what a
    rebuild against these centroids would store), lands in both
    centroid-partitioned tables under the build's id, and the
    one-row report carries the coarse-assignment drift instrument
    (the rebuild trigger). Output: the appended batch per inverted
    list (occupancy, exact sim sum, exact packed-bits checksum) +
    the constant drift column; the oracle replays the half-corpus
    training, the frozen-centroid batch assignment, the sign packing
    and the integer drift arithmetic."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_ivfbq_index("abq2", emb.where("vec_id % 2 = 0"))
    report = eng.append_to_ivfbq_index("abq2", emb.where("vec_id % 2 = 1"))
    codes = eng.table("abq2_codes").where("vec_id % 2 = 1")
    vecs = eng.table("abq2_vectors").where("vec_id % 2 = 1")
    return (
        vecs.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_appended"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
        .join(
            codes.groupBy("centroid_id").agg(
                F.sum(F.col("sig_lo") + 3 * F.col("sig_hi"))
                .cast("bigint")
                .alias("sig_checksum")
            ),
            "centroid_id",
        )
        .crossJoin(
            F.broadcast(report.select(F.col("drift_micro").cast("bigint")))
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# H2 constraint catalog (constraints.py — PK/UNIQUE accept-and-record)
# ---------------------------------------------------------------------------


@query(
    "constraint_catalog_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('constraint', 'CONSTRAINT_1', 'PRIMARY KEY', 'cb11_t', 'id'),
      ('constraint', 'cb11_uq_pair', 'UNIQUE', 'cb11_t', 'a,b'),
      ('constraint', 'cb11_uq_u', 'UNIQUE', 'cb11_t', 'u'),
      ('key', 'a', 'UNI', 'cb11_t', NULL),
      ('key', 'b', 'UNI', 'cb11_t', NULL),
      ('key', 'id', 'PRI', 'cb11_t', NULL),
      ('key', 'u', 'UNI', 'cb11_t', NULL),
      ('script', 'line', 'ALTER TABLE "cb11_t" ADD CONSTRAINT '
        || '"CONSTRAINT_1" PRIMARY KEY("id");', 'cb11_t', NULL)
    ) AS T(kind, obj, detail, tbl, cols)
    ORDER BY kind, obj
    """,
)
def q_constraint_catalog_battery(t: TableSet) -> DataFrame:
    """The H2 constraint surface (r10 verdict task 3) as ONE
    driver-witnessed statement battery: a constraint-bearing
    H2-authored dump shape — inline column PRIMARY KEY, a named
    table-level composite UNIQUE, a schema-qualified ALTER ... ADD
    CONSTRAINT (exactly what H2's own SCRIPT emits; the reference's
    init-script path, H2Server.scala:41-58, runs arbitrary user DDL)
    — is ACCEPTED AND RECORDED (the CREATE INDEX no-op precedent:
    parquet tables enforce no keys), then read back through the
    three surfaces a client sees: INFORMATION_SCHEMA.CONSTRAINTS,
    SHOW COLUMNS' KEY column (PRI/UNI), and the SCRIPT dump's
    re-emitted ADD CONSTRAINT line. The oracle is the literal
    expected frame — the fixture is fully determined here, never by
    sf data."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    # the table catalog is warehouse-shared across runs — make the
    # battery idempotent (information_schema_battery precedent)
    eng.execute_sql('DROP TABLE IF EXISTS "cb11_t"')
    # explicit names carry a battery prefix: constraint names are
    # SCHEMA-scoped (r12, H2 parity), so bare spellings could collide
    # with other fixtures' constraints in a shared warehouse
    eng.execute_sql(
        'CREATE CACHED TABLE "cb11_t"("id" INT NOT NULL PRIMARY KEY, '
        '"a" INT, "b" INT, "u" VARCHAR(16), '
        'CONSTRAINT "cb11_uq_pair" UNIQUE("a", "b"))'
    )
    eng.execute_sql(
        'ALTER TABLE PUBLIC."cb11_t" ADD CONSTRAINT PUBLIC."cb11_uq_u" '
        'UNIQUE("u")'
    )
    cons = eng.execute_sql(
        "SELECT 'constraint' AS kind, CONSTRAINT_NAME AS obj, "
        "CONSTRAINT_TYPE AS detail, TABLE_NAME AS tbl, "
        "COLUMN_LIST AS cols "
        "FROM INFORMATION_SCHEMA.CONSTRAINTS WHERE TABLE_NAME = 'cb11_t'"
    )
    keys = eng.execute_sql('SHOW COLUMNS FROM "cb11_t"').where(
        "KEY <> ''"
    ).selectExpr(
        "'key' AS kind",
        "FIELD AS obj",
        "KEY AS detail",
        "'cb11_t' AS tbl",
        "CAST(NULL AS STRING) AS cols",
    )
    script = eng.execute_sql("SCRIPT NODATA TABLE cb11_t")
    pk_line = script.where(
        F.col("SCRIPT").contains("PRIMARY KEY")
    ).selectExpr(
        "'script' AS kind",
        "'line' AS obj",
        "SCRIPT AS detail",
        "'cb11_t' AS tbl",
        "CAST(NULL AS STRING) AS cols",
    )
    return cons.unionByName(keys).unionByName(pk_line).orderBy("kind", "obj")


_CASC_PART = _PQ_MICRO.format(
    x=f"""round(
               list_inner_product(iq.qv[(c.m*{_PQ_S}+1):(c.m*{_PQ_S}+{_PQ_S})], c.cvec)
               / sqrt(list_inner_product(c.cvec, c.cvec)), 6)"""
)


_CASCADE_ORACLE = f"""
    WITH {_KM_CTES},
    {_PQ_CTES},
    {_ivfbq_ctes(_IVFBQ_CORPUS_Q, 5, shortlist=200)},
    clut AS (
      SELECT iq.query_id, c.m, c.code, {_CASC_PART} AS part_micro
      FROM iq CROSS JOIN {_PQ_CB} c),
    csc AS (
      SELECT s.query_id, s.vec_id,
             CAST(SUM(l.part_micro) AS BIGINT) AS score_micro
      FROM ibshort s
      JOIN {_PQ_ASSIGN} p2 ON p2.vec_id = s.vec_id
      JOIN clut l ON l.query_id = s.query_id
                 AND l.m = p2.m AND l.code = p2.code
      GROUP BY s.query_id, s.vec_id),
    cnar AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, vec_id) AS rank
        FROM csc) WHERE rank <= 50),
    crr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT n.query_id, n.vec_id,
               round(list_cosine_similarity(q.qv, e2.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY n.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e2.v), 6) DESC,
                          n.vec_id) AS r
        FROM cnar n JOIN e e2 ON e2.vec_id = n.vec_id
                    JOIN iq q ON q.query_id = n.query_id) WHERE r <= 5)
    SELECT query_id, vec_id, sim, rank FROM crr
    ORDER BY query_id, rank
    """


@query(
    "ann_cascade_search",
    oracle=_CASCADE_ORACLE,
)
def q_ann_cascade_search(t: TableSet) -> DataFrame:
    """The production retrieval FUNNEL — every compression tier in
    one serving stack, each stage reading less data per candidate
    than the one below and passing fewer candidates to the one
    above: (1) the IVF coarse quantizer prunes WHICH lists a probe
    touches (nprobe/n_list of the corpus), (2) a WIDE Hamming cut
    over the probed lists' 16-byte sign codes keeps 200 candidates
    per query (the cheapest possible scoring — XOR+popcount), (3)
    the PQ ADC re-scores exactly those pairs with the finer
    codebook LUTs and narrows to 50 (bounded: nq x 200 x M integer
    rows — the corpus codes are never rescanned), (4) the exact
    cosine rerank reads only the 50 surviving float vectors per
    query. Probe I/O ~ corpus x (nprobe/n_list) x (16 B/256 B) +
    bounded-pair work. The oracle replays the coarse training, sign
    packing, both shortlist cuts, ADC narrowing and the rerank."""
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    cb = similarity.pq_codebooks(emb)
    codes_bq = similarity.ivfbq_encode(emb, cents)
    codes_pq = similarity.pq_encode(emb, cb)
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qc = similarity.bq_query_codes(q)
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    stage1 = similarity.ann_ivfbq_topk(codes_bq, qc, probes, 200)
    lut = similarity.pq_query_lut(q, cb, id_col="query_id", vec_col="qv")
    stage2 = similarity.ann_cascade_pq_narrow(stage1, codes_pq, lut, 50)
    return similarity.ann_flat_rerank(emb, stage2, q, 5).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# Residual IVF+PQ — the faithful IVFADC form (Jegou et al., PAMI 2011
# §III: PQ encodes x − q1(x), the residual from the coarse centroid,
# not x itself — residuals are smaller and better centered, so the
# same M x K budget quantizes with less error; the recall query
# measures exactly that against the raw-encode form next door)
# ---------------------------------------------------------------------------

def _pq_l2_ctes(
    src_sql: str, iters: int = similarity.PQ_ITERS
) -> tuple[str, str, str]:
    """Unrolled per-subspace EUCLIDEAN k-means CTEs for the residual
    quantizer oracle: md5-seeded init (the _pq_ctes protocol) ->
    ``iters`` rounds of (assign by min rounded squared L2 with ties
    to the lower code, exact-DECIMAL(38,6)-sum / count MEAN update —
    magnitude-true centroids, the property residual-IP ADC depends
    on) -> final assignment. Replays similarity.pq_codebooks_l2 /
    pq_assign_codes_l2 / _pq_means exactly. Returns (cte_sql,
    final_codebook_name, final_assign_name)."""
    s, m, k = _PQ_S, _PQ_M, _PQ_K

    def d2(sv: str, c: str) -> str:
        diff = f"list_transform(range({s}), j -> {sv}[j+1] - {c}.cvec[j+1])"
        return f"round(list_inner_product({diff}, {diff}), 6)"

    parts = [
        f"pe AS ({src_sql})",
        f"pms AS (SELECT unnest(range({m})) AS m)",
        f"""pseed AS (SELECT vec_id AS code, v FROM pe
          WHERE vec_id IN (SELECT vec_id FROM pe
            ORDER BY md5('{similarity._PQ_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {k}))""",
        f"""pcb0 AS (SELECT pms.m, code, v[(pms.m*{s}+1):(pms.m*{s}+{s})] AS cvec
          FROM pseed CROSS JOIN pms)""",
        f"""psub AS (SELECT vec_id, pms.m,
            v[(pms.m*{s}+1):(pms.m*{s}+{s})] AS sv
          FROM pe CROSS JOIN pms)""",
    ]
    for i in range(iters + 1):
        parts.append(f"""pa{i} AS (
      SELECT vec_id, m, sv, code FROM (
        SELECT p.vec_id, p.m, p.sv, c.code,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.m
                 ORDER BY {d2('p.sv', 'c')} ASC, c.code) AS rn
        FROM psub p JOIN pcb{i} c USING (m)) WHERE rn = 1)""")
        if i < iters:
            parts.append(f"""pss{i + 1} AS (
      SELECT m, code, u.pos,
             SUM(CAST(round(sv[u.pos + 1], 6) AS DECIMAL(38,6))) AS sm,
             COUNT(*) AS n
      FROM pa{i}, UNNEST(range({s})) AS u(pos)
      GROUP BY m, code, u.pos)""")
            parts.append(f"""pcb{i + 1} AS (
      SELECT m, code,
             list(CAST(sm AS DOUBLE) / n ORDER BY pos) AS cvec
      FROM pss{i + 1} GROUP BY m, code)""")
    return ",\n    ".join(parts), f"pcb{iters}", f"pa{iters}"


_RES_PQ_CTES, _RES_PQ_CB, _RES_PQ_ASSIGN = _pq_l2_ctes(
    "SELECT vec_id, v FROM rres"
)

#: 6-rounded UNIT copies of the coarse centroids — the k-means
#: centroids are mean-direction SUMS (norm ~ cluster size); the
#: residual decomposition needs a unit anchor (see ivf_residuals)
_UCENTS = f"""ucents AS (
      SELECT centroid_id,
             CASE WHEN list_inner_product(cvec, cvec) > 0 THEN
               list_transform(cvec,
                 x -> round(x / sqrt(list_inner_product(cvec, cvec)), 6))
             END AS ucvec
      FROM {_KM_CENTS})"""

#: residual = 6-rounded UNIT vector (the km CTEs' nv — the exact
#: frame the k-means update itself consumes) minus the UNIT centroid
#: copy, re-rounded; zero-norm rows drop out like in the update
_RRES = f"""rres AS (
      SELECT a.vec_id, a.centroid_id,
             list_transform(range({similarity.EMBED_DIM}),
                            i -> round(a.nv[i+1] - c.ucvec[i+1], 6)) AS v
      FROM {_KM_ASSIGN} a JOIN ucents c USING (centroid_id)
      WHERE a.nv IS NOT NULL AND c.ucvec IS NOT NULL)"""

#: residual ADC partial: RAW inner product of the QUERY slice against
#: the residual codebook (no normalization, no query residual — the
#: decomposition cos(q,x) = <q̂,c> + <q̂,r> slices q̂ itself)
_RES_PART = _PQ_MICRO.format(
    x=f"""round(
               list_inner_product(iq.qv[(c.m*{_PQ_S}+1):(c.m*{_PQ_S}+{_PQ_S})], c.cvec), 6)"""
)


def _ivfpq_res_ctes(qcte: str, k: int, nprobe: int = 2) -> str:
    """The residual-IVFADC oracle pipeline: coarse k-means (reused),
    the residual frame over 6-rounded unit vectors, PQ training OVER
    RESIDUALS, probe-list selection, the exact per-(query, probed
    centroid) coarse terms <q̂, c>, the per-(query, centroid)
    residual LUT of raw-IP partials, score = coarse + ADC sums over
    the probed lists' residual codes, the shortlist cut and the
    exact rerank against the ORIGINAL vectors. ``iq`` must expose
    UNIT-normalized (query_id, qv). Replays similarity.ivf_residuals
    / pq_codebooks-on-residuals / ivfpq_encode-on-residuals /
    residual_coarse_micro / pq_residual_lut /
    ann_ivfpq_residual_topk / ann_ivfpq_rerank term for term."""
    return f"""iq AS ({qcte}),
    ipl AS (
      SELECT query_id, centroid_id FROM (
        SELECT iq.query_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY iq.query_id
                 ORDER BY round(list_cosine_similarity(iq.qv, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM iq CROSS JOIN {_KM_CENTS} c) WHERE rn <= {nprobe}),
    ircoarse AS (
      SELECT iq.query_id, pl.centroid_id,
             {_PQ_MICRO.format(x="round(list_inner_product(iq.qv, cc.ucvec), 6)")}
               AS coarse_micro
      FROM iq JOIN ipl pl ON pl.query_id = iq.query_id
              JOIN ucents cc ON cc.centroid_id = pl.centroid_id),
    irlut AS (
      SELECT iq.query_id, c.m, c.code,
             {_RES_PART} AS part_micro
      FROM iq CROSS JOIN {_RES_PQ_CB} c),
    ircode AS (
      SELECT pa.vec_id, rr.centroid_id, pa.m, pa.code
      FROM {_RES_PQ_ASSIGN} pa JOIN rres rr USING (vec_id)),
    irsc AS (
      SELECT query_id, vec_id, centroid_id,
             CAST(res_micro + coarse_micro AS BIGINT) AS score_micro
      FROM (
        SELECT pl.query_id, c.vec_id, MIN(c.centroid_id) AS centroid_id,
               CAST(SUM(l.part_micro) AS BIGINT) AS res_micro
        FROM ircode c
        JOIN ipl pl ON pl.centroid_id = c.centroid_id
        JOIN irlut l ON l.query_id = pl.query_id
                    AND l.m = c.m AND l.code = c.code
        WHERE pl.query_id <> c.vec_id
        GROUP BY pl.query_id, c.vec_id) s
      JOIN ircoarse USING (query_id, centroid_id)),
    irshort AS (
      SELECT query_id, vec_id, centroid_id, score_micro,
             CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, vec_id) AS rank
        FROM irsc) WHERE rank <= {similarity.PQ_SHORTLIST}),
    irrr AS (
      SELECT query_id, vec_id, sim, CAST(r AS INT) AS rank FROM (
        SELECT s.query_id, s.vec_id,
               round(list_cosine_similarity(q.qv, e2.v), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, e2.v), 6) DESC,
                          s.vec_id) AS r
        FROM irshort s JOIN e e2 ON e2.vec_id = s.vec_id
                       JOIN iq q ON q.query_id = s.query_id) WHERE r <= {k})"""


#: corpus queries for the residual family: UNIT-normalized (the
#: decomposition's contract), from the km CTEs' nv frame
_RES_CORPUS_Q = (
    "SELECT vec_id AS query_id, nv AS qv FROM n WHERE vec_id < 3"
)


def _ivfpq_res_spark_parts(t: TableSet, nq: int = 3):
    emb = t.embeddings
    cents = similarity.kmeans_refine(emb)
    res = similarity.ivf_residuals(emb, cents)
    cb_r = similarity.pq_codebooks_l2(res, vec_col="resid")
    codes = similarity.ivfpq_residual_encode(res, cb_r)
    q = emb.where(f"vec_id < {nq}").select(
        F.col("vec_id").alias("query_id"),
        similarity._unit_rounded(F.col("embedding")).alias("qv"),
    )
    probes = similarity.ivfpq_probe_lists(q, cents, 2)
    coarse = similarity.residual_coarse_micro(q, probes, cents)
    lut = similarity.pq_residual_lut(q, cb_r)
    return emb, q, codes, probes, coarse, lut


@query(
    "ann_ivfpq_residual_search",
    oracle=f"""
    WITH {_KM_CTES},
    {_UCENTS},
    {_RRES},
    {_RES_PQ_CTES},
    {_ivfpq_res_ctes(_RES_CORPUS_Q, 5)}
    SELECT query_id, vec_id, sim, rank FROM irrr
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfpq_residual_search(t: TableSet) -> DataFrame:
    """The faithful IVFADC serving path (Jegou et al., PAMI 2011
    §III): PQ codebooks trained ON RESIDUALS x − q1(x) instead of
    raw vectors; score = the exact coarse inner product <q̂, c> the
    probe already computed + per-(query, probed-list) residual ADC
    LUT sums (raw IPs on unit vectors — the decomposition cos(q,x) =
    <q̂,c> + <q̂,x̂−c> makes the sum estimate the true cosine with
    only PQ error on the residual); shortlist exact-reranked against
    the original floats. Residuals are smaller and better centered
    than raw vectors, so the same codebook budget quantizes them
    with less error — ann_ivfpq_residual_recall next door measures
    the gain against the raw-encode form."""
    emb, q, codes, probes, coarse, lut = _ivfpq_res_spark_parts(t)
    short = similarity.ann_ivfpq_residual_topk(
        codes, lut, probes, coarse, similarity.PQ_SHORTLIST
    )
    return similarity.ann_ivfpq_rerank(emb, short, q, 5).orderBy(
        "query_id", "rank"
    )


@query(
    "ann_ivfpq_residual_recall",
    oracle=f"""
    WITH {_KM_CTES},
    {_UCENTS},
    {_RRES},
    {_RES_PQ_CTES},
    {_ivfpq_res_ctes("SELECT vec_id AS query_id, nv AS qv FROM n WHERE vec_id < 10", 5)},
    rex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, e2.v), 6) DESC,
                          e2.vec_id) AS r
        FROM e q CROSS JOIN e e2
        WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id) WHERE r <= 5),
    rha AS (
      SELECT rex.query_id, COUNT(*) AS n FROM rex
      JOIN (SELECT query_id, vec_id FROM irshort WHERE rank <= 5) a
        ON rex.query_id = a.query_id AND rex.neighbor_id = a.vec_id
      GROUP BY rex.query_id),
    rhr AS (
      SELECT rex.query_id, COUNT(*) AS n FROM rex
      JOIN irrr ON rex.query_id = irrr.query_id
               AND rex.neighbor_id = irrr.vec_id
      GROUP BY rex.query_id)
    SELECT x.query_id,
           CAST(COALESCE(rha.n, 0) AS BIGINT) AS n_hit_adc,
           CAST(COALESCE(rha.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_adc_ppm,
           CAST(COALESCE(rhr.n, 0) AS BIGINT) AS n_hit_rerank,
           CAST(COALESCE(rhr.n, 0) * 1000000 / x.n_exact AS BIGINT)
             AS recall_rerank_ppm
    FROM (SELECT query_id, COUNT(*) AS n_exact FROM rex GROUP BY query_id) x
    LEFT JOIN rha ON x.query_id = rha.query_id
    LEFT JOIN rhr ON x.query_id = rhr.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_ivfpq_residual_recall(t: TableSet) -> DataFrame:
    """The residual-IVFADC recall contract, both paths, over the SAME
    queries/lists/budget as ann_ivfpq_recall — read the two side by
    side to measure what residual encoding buys: same M x K budget,
    same nprobe lists, the only difference is WHAT the codes
    quantize (x̂ − ĉ here, x there) and how (Euclidean means vs
    mean directions). MEASURED finding on the synthetic fixtures:
    the two are comparable (residual ADC 100k vs raw 80k ppm at
    sf0.01; 60k vs 100k at sf0.1) — the fixture's near-random
    vectors leave residuals nearly as hard as raw vectors, and
    within tight clusters near-ties dominate both. What residual
    encoding DOES buy unconditionally is a CALIBRATED score (see
    ivfpq_residual_calibration). The instrument exists precisely so
    a deployment measures its own corpus before switching."""
    emb, q, codes, probes, coarse, lut = _ivfpq_res_spark_parts(t, 10)
    short = similarity.ann_ivfpq_residual_topk(
        codes, lut, probes, coarse, similarity.PQ_SHORTLIST
    )
    adc = similarity.pq_recall(
        emb,
        short.where("rank <= 5").select("query_id", "vec_id"),
        5,
        query_ids=q,
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_adc"),
        F.col("recall_ppm").alias("recall_adc_ppm"),
    )
    rr = similarity.pq_recall(
        emb, similarity.ann_ivfpq_rerank(emb, short, q, 5), 5, query_ids=q
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_rerank"),
        F.col("recall_ppm").alias("recall_rerank_ppm"),
    )
    return adc.join(rr, "query_id").orderBy("query_id")


@query(
    "ivfpq_residual_calibration",
    oracle=f"""
    WITH {_KM_CTES},
    {_UCENTS},
    {_RRES},
    {_RES_PQ_CTES},
    {_ivfpq_res_ctes(_RES_CORPUS_Q, 5)},
    tr AS (
      SELECT s.query_id, s.vec_id, s.score_micro,
             {_PQ_MICRO.format(x="round(list_cosine_similarity(q.qv, e2.v), 6)")}
               AS true_micro
      FROM irsc s JOIN e e2 ON e2.vec_id = s.vec_id
                  JOIN iq q ON q.query_id = s.query_id)
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(SUM(ABS(score_micro - true_micro)) // COUNT(*) AS BIGINT)
             AS mae_micro,
           CAST(MAX(ABS(score_micro - true_micro)) AS BIGINT) AS max_err_micro
    FROM tr GROUP BY query_id
    ORDER BY query_id
    """,
)
def q_ivfpq_residual_calibration(t: TableSet) -> DataFrame:
    """The property the residual decomposition buys that NO
    spherical-ADC score has: the score IS a calibrated estimate of
    the true cosine (coarse <q̂,ĉ> + quantized <q̂,r̂> ≈ <q̂,x̂>,
    off only by the residual quantization error), so a deployment
    can threshold it ("return matches above 0.8") or feed it to a
    downstream calibrated consumer — raw ADC's per-subspace cosine
    SUM lives on an arbitrary [-M, M] scale usable for ranking only.
    Output: per query, the probed-candidate count and the mean/max
    absolute error of the estimate against the true cosine in
    micro-units (measured ~0.10 mean on the synthetic fixture). One
    pass over the probed lists' codes + the true-cosine join on the
    same bounded candidate set."""
    emb, q, codes, probes, coarse, lut = _ivfpq_res_spark_parts(t)
    est = similarity.ivfpq_residual_scores(codes, lut, probes, coarse)
    j = (
        est.join(
            emb.select("vec_id", F.col("embedding").alias("cv")), "vec_id"
        )
        .join(q, "query_id")
        .select(
            "query_id",
            (
                F.col("score_micro")
                - (
                    F.round(similarity.cosine(F.col("qv"), F.col("cv")), 6)
                    .cast("decimal(28,10)")
                    * 1000000
                ).cast("bigint")
            ).alias("err"),
        )
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cand"),
            (
                F.sum(F.abs(F.col("err")))
                / F.count(F.lit(1))
            ).cast("bigint").alias("mae_micro"),
            F.max(F.abs(F.col("err"))).cast("bigint").alias("max_err_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Round 12: H2 CHECK constraints — accept-and-ENFORCE (r11 verdict
# task 2: the last restore-failure class for foreign H2 dumps; the
# reference's init-script path runs arbitrary user DDL,
# H2Server.scala:41-58, and H2-authored dumps carry CHECK)
# ---------------------------------------------------------------------------


@query(
    "check_constraint_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('constraint', 'ck_pos', '"amt" > 0'),
      ('constraint', 'ck_tag', 'LENGTH("tag") < 4'),
      ('dml', 'insert_ok', '3'),
      ('dml', 'insert_reject', 'CheckViolation:ck_pos'),
      ('dml', 'update_reject', 'CheckViolation:ck_tag'),
      ('dml', 'merge_reject', 'CheckViolation:ck_pos'),
      ('dml', 'table_count', '3'),
      ('restore', 'enforced_after_runscript', 'CheckViolation:ck_pos'),
      ('script', 'line', 'ALTER TABLE "ckb_t" ADD CONSTRAINT '
        || '"ck_pos" CHECK("amt" > 0);')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_check_constraint_battery(t: TableSet) -> DataFrame:
    """H2 CHECK constraints as ONE driver-witnessed statement battery
    (r11 verdict task 2 — accept-and-ENFORCE, not record-a-lie): a
    CHECK-bearing H2-authored dump shape (column-level and named
    table-level CHECK with H2 double-quoted identifiers) is accepted
    and RECORDED, then every DML write path enforces it — valid rows
    land, violating INSERT / UPDATE / MERGE raise CheckViolation with
    the constraint name BEFORE anything is written (one bounded
    filter over only the written rows — never a table rescan) — and
    the constraint survives a SCRIPT -> RUNSCRIPT round-trip with
    enforcement intact. Surfaces checked: the registry's
    INFORMATION_SCHEMA.CONSTRAINTS CHECK_EXPRESSION column (H2
    spelling), the violation errors, and the SCRIPT dump line. The
    oracle is the literal expected frame — the fixture is fully
    determined here, never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..constraints import CheckViolation
    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    # shared-warehouse idempotence (constraint_catalog_battery
    # precedent): the registry and catalog survive across runs
    eng.execute_sql('DROP TABLE IF EXISTS "ckb_t"')
    eng.execute_sql(
        'CREATE CACHED TABLE "ckb_t"("amt" INT, "tag" VARCHAR(8), '
        'CONSTRAINT "ck_pos" CHECK ("amt" > 0), '
        'CONSTRAINT "ck_tag" CHECK (LENGTH("tag") < 4))'
    )
    rows: list[tuple] = []
    for r in eng.execute_sql(
        "SELECT CONSTRAINT_NAME, CHECK_EXPRESSION "
        "FROM INFORMATION_SCHEMA.CONSTRAINTS WHERE TABLE_NAME = 'ckb_t'"
    ).collect():
        rows.append(("constraint", r[0], r[1]))

    def outcome(label: str, fn) -> None:
        try:
            res = fn()
            rows.append(("dml", label, str(res)))
        except CheckViolation as e:
            # the battery pins WHICH constraint rejected, not the
            # full message (examples embed nondeterministic order)
            name = "ck_pos" if "ck_pos" in str(e) else "ck_tag"
            rows.append(("dml", label, f"CheckViolation:{name}"))

    outcome(
        "insert_ok",
        lambda: eng.execute_sql(
            "INSERT INTO ckb_t VALUES (5, 'abc'), (1, NULL), (NULL, 'x')"
        ),
    )
    outcome(
        "insert_reject",
        lambda: eng.execute_sql("INSERT INTO ckb_t VALUES (-2, 'ok')"),
    )
    outcome(
        "update_reject",
        lambda: eng.execute_sql(
            "UPDATE ckb_t SET tag = 'toolong' WHERE amt = 5"
        ),
    )
    outcome(
        "merge_reject",
        lambda: eng.execute_sql(
            "MERGE INTO ckb_t (amt, tag) KEY (tag) VALUES (-7, 'abc')"
        ),
    )
    rows.append(("dml", "table_count", str(eng.table("ckb_t").count())))
    script = [
        r.SCRIPT
        for r in eng.execute_sql("SCRIPT NODATA TABLE ckb_t").collect()
    ]
    for line in script:
        if '"ck_pos"' in line:
            rows.append(("script", "line", line))
    # the restore-failure class closes: the dump restores AND the
    # restored constraint still rejects violating writes
    f = _os.path.join(_tempfile.mkdtemp(), "ckb.sql")
    with open(f, "w") as fh:
        fh.write("\n".join(script) + "\n")
    eng.execute_sql('DROP TABLE "ckb_t"')
    eng.execute_sql(f"RUNSCRIPT FROM '{f}'")
    outcome(
        "enforced_after_runscript",
        lambda: eng.execute_sql("INSERT INTO ckb_t VALUES (-1, 'z')"),
    )
    rows[-1] = ("restore", rows[-1][1], rows[-1][2])
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")


@query(
    "view_catalog_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('select', 'vcb_top', '3', 'k=3,k=4,k=5'),
      ('select', 'vcb_wide', '2', 'k=4,k=5'),
      ('catalog', 'show_tables', 'vcb_t,vcb_top,vcb_wide', NULL),
      ('catalog', 'table_type', 'VIEW', NULL),
      ('catalog', 'view_definition',
        'SELECT "k", "v" FROM "vcb_t" WHERE "k" >= 3', NULL),
      ('guard', 'insert_into_view', 'is a view', NULL),
      ('guard', 'drop_restrict', 'depend', NULL),
      ('script', 'line', 'CREATE FORCE VIEW "vcb_top" AS '
        || 'SELECT "k", "v" FROM "vcb_t" WHERE "k" >= 3;', NULL),
      ('restore', 'select_after_runscript', '3', 'k=3,k=4,k=5')
    ) AS T(kind, obj, detail, rows)
    ORDER BY kind, obj
    """,
)
def q_view_catalog_battery(t: TableSet) -> DataFrame:
    """The H2 view surface (r11 verdict task 1) as ONE
    driver-witnessed statement battery: H2-SCRIPT view spellings —
    ``CREATE [FORCE] VIEW`` with double-quoted identifiers and
    PUBLIC qualifiers, exactly what H2's own SCRIPT emits and the
    reference's init-script path runs (H2Server.scala:41-58) — are
    accepted into the durable view registry; queries resolve THROUGH
    views (including views over views) by inlining the definition at
    analysis (Catalyst pushes filters through into the parquet
    scan); DML against a view and RESTRICT-blocked drops error
    loudly; SCRIPT emits ``CREATE FORCE VIEW`` lines a RUNSCRIPT
    restores with resolution intact; INFORMATION_SCHEMA.VIEWS /
    TABLES / SHOW TABLES all surface the view. The oracle is the
    literal expected frame — the fixture is fully determined here,
    never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    # shared-warehouse idempotence: drop dependents before the base
    eng.execute_sql('DROP VIEW IF EXISTS "vcb_wide"')
    eng.execute_sql('DROP VIEW IF EXISTS "vcb_top"')
    eng.execute_sql('DROP TABLE IF EXISTS "vcb_t"')
    eng.execute_sql('CREATE CACHED TABLE "vcb_t"("k" INT, "v" VARCHAR(8))')
    eng.execute_sql(
        "INSERT INTO vcb_t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e')"
    )
    # the foreign-dump shape: FORCE + PUBLIC + double-quoted idents
    eng.execute_sql(
        'CREATE FORCE VIEW PUBLIC."vcb_top" AS '
        'SELECT "k", "v" FROM PUBLIC."vcb_t" WHERE "k" >= 3'
    )
    eng.execute_sql(
        'CREATE VIEW "vcb_wide"("kk") AS SELECT "k" FROM "vcb_top" '
        'WHERE "k" > 3'
    )
    rows: list[tuple] = []

    def digest(label: str, sql: str, col: str) -> None:
        got = sorted(r[0] for r in eng.execute_sql(sql).collect())
        rows.append(
            (
                "select",
                label,
                str(len(got)),
                ",".join(f"{col}={g}" for g in got),
            )
        )

    digest("vcb_top", "SELECT k FROM vcb_top", "k")
    digest("vcb_wide", "SELECT kk FROM vcb_wide", "k")
    names = sorted(
        r.TABLE_NAME
        for r in eng.execute_sql("SHOW TABLES").collect()
        if r.TABLE_NAME.startswith("vcb_")
    )
    rows.append(("catalog", "show_tables", ",".join(names), None))
    ttype = [
        r[0]
        for r in eng.execute_sql(
            "SELECT TABLE_TYPE FROM INFORMATION_SCHEMA.TABLES "
            "WHERE TABLE_NAME = 'vcb_top'"
        ).collect()
    ]
    rows.append(("catalog", "table_type", ",".join(ttype), None))
    vdef = [
        r[0]
        for r in eng.execute_sql(
            "SELECT VIEW_DEFINITION FROM INFORMATION_SCHEMA.VIEWS "
            "WHERE TABLE_NAME = 'vcb_top'"
        ).collect()
    ]
    rows.append(("catalog", "view_definition", ",".join(vdef), None))
    try:
        eng.execute_sql("INSERT INTO vcb_top VALUES (9, 'z')")
        rows.append(("guard", "insert_into_view", "NO ERROR", None))
    except ValueError as e:
        rows.append(
            (
                "guard",
                "insert_into_view",
                "is a view" if "is a view" in str(e) else str(e)[:40],
                None,
            )
        )
    try:
        eng.execute_sql("DROP VIEW vcb_top")  # vcb_wide depends on it
        rows.append(("guard", "drop_restrict", "NO ERROR", None))
    except ValueError as e:
        rows.append(
            (
                "guard",
                "drop_restrict",
                "depend" if "depend" in str(e) else str(e)[:40],
                None,
            )
        )
    # TABLE-scoped dump (the shared oracle warehouse holds
    # vector-typed tables a full dump cannot DDL): the scope
    # extension emits the dependent views too
    script = [
        r.SCRIPT
        for r in eng.execute_sql("SCRIPT NODATA TABLE vcb_t").collect()
    ]
    for line in script:
        if 'FORCE VIEW "vcb_top"' in line:
            rows.append(("script", "line", line, None))
    f = _os.path.join(_tempfile.mkdtemp(), "vcb.sql")
    with open(f, "w") as fh:
        fh.write("\n".join(script) + "\n")
    eng.execute_sql('DROP VIEW "vcb_wide"')
    eng.execute_sql('DROP TABLE "vcb_t" CASCADE')
    eng.execute_sql(f"RUNSCRIPT FROM '{f}'")
    eng.execute_sql(
        "INSERT INTO vcb_t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e')"
    )
    got = sorted(r[0] for r in eng.execute_sql("SELECT k FROM vcb_top").collect())
    rows.append(
        (
            "restore",
            "select_after_runscript",
            str(len(got)),
            ",".join(f"k={g}" for g in got),
        )
    )
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string, rows string"
    ).orderBy("kind", "obj")


@query(
    "cascade_index_search",
    oracle=_CASCADE_ORACLE,
)
def q_cascade_index_search(t: TableSet) -> DataFrame:
    """The retrieval FUNNEL's steady-state SERVING form through the
    ENGINE lifecycle (r11 verdict task 3 — ``ann_cascade_search``
    next door trains every tier per run; this is what a deployment
    actually runs): engine.build_cascade_index stores the coarse
    quantizer, the centroid-partitioned 16 B sign codes, a
    centroid-PARTITIONED PQ code table + codebook, and the vectors
    under one build id; engine.cascade_search then answers corpus
    queries with coarse prune -> Hamming-200 cut -> PQ ADC narrow to
    50 -> exact top-5 rerank, EVERY stage's scan dynamically pruned
    to the probed lists (the partitioned PQ codes close the r11
    funnel's one unpruned read; pinned by tests/test_bucketing.py::
    test_cascade_index_lifecycle). Training is deterministic
    (md5-seeded by vec_id), so the oracle — the same full replay the
    per-run form uses — verifies the whole build+serve cycle."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_cascade_index("cascsrv", emb)
    # checkpoint the bounded (3-row) query frame so the SERVING plan
    # references materialized rows — the plan then reads the corpus
    # exclusively through the stored centroid-partitioned tables
    q = (
        emb.where("vec_id < 3")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        .localCheckpoint()
    )
    return eng.cascade_search(
        "cascsrv", q, topk=5, nprobe=2, hamming_cut=200, pq_narrow=50
    ).orderBy("query_id", "rank")


_PQH_CTES, _PQH_CB, _PQH_ASSIGN = _pq_ctes(where="vec_id % 2 = 0")


@query(
    "cascade_index_append",
    oracle=f"""
    WITH {_KMH_CTES},
    {_PQH_CTES},
    nb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 2 = 1),
    ab AS (
      SELECT vec_id, centroid_id, sim, v FROM (
        SELECT nb.vec_id, c.centroid_id, nb.v,
               round(list_cosine_similarity(nb.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY nb.vec_id
                 ORDER BY round(list_cosine_similarity(nb.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM nb CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    asig AS (
      SELECT vec_id, centroid_id, sim,
             {_BQ_LO.format(v='v')} AS sig_lo,
             {_BQ_HI.format(v='v')} AS sig_hi
      FROM ab),
    bsub AS (
      SELECT nb.vec_id, pms.m,
             nb.v[(pms.m*{_PQ_S}+1):(pms.m*{_PQ_S}+{_PQ_S})] AS sv
      FROM nb CROSS JOIN pms),
    bcode AS (
      SELECT vec_id, m, code FROM (
        SELECT b.vec_id, b.m, c.code,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.m
                 ORDER BY round(list_cosine_similarity(b.sv, c.cvec), 6) DESC,
                          c.code) AS rn
        FROM bsub b JOIN {_PQH_CB} c USING (m)) WHERE rn = 1),
    pqsum AS (
      SELECT ab.centroid_id,
             CAST(SUM((bcode.m + 1) * (bcode.code + 7)) AS BIGINT)
               AS pq_checksum
      FROM bcode JOIN ab USING (vec_id)
      GROUP BY ab.centroid_id),
    bsim AS (
      SELECT vec_id, sim FROM (
        SELECT e2.vec_id,
               round(list_cosine_similarity(e2.v, c.cvec), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY e2.vec_id
                 ORDER BY round(list_cosine_similarity(e2.v, c.cvec), 6) DESC,
                          c.centroid_id) AS rn
        FROM e e2 CROSS JOIN {_KMH_CENTS} c) WHERE rn = 1),
    drift AS (
      SELECT (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM bsim)
           - (SELECT SUM({_APPEND_MICRO}) // COUNT(*) FROM ab) AS d)
    SELECT asig.centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_appended,
           CAST(SUM({_APPEND_MICRO}) AS BIGINT) AS sum_sim_micro,
           CAST(SUM(sig_lo + 3 * sig_hi) AS BIGINT) AS sig_checksum,
           MIN(pqsum.pq_checksum) AS pq_checksum,
           CAST(d AS BIGINT) AS drift_micro
    FROM asig JOIN pqsum ON pqsum.centroid_id = asig.centroid_id, drift
    GROUP BY asig.centroid_id, d
    ORDER BY asig.centroid_id
    """,
)
def q_cascade_index_append(t: TableSet) -> DataFrame:
    """Incremental append to the CASCADE index through the engine
    lifecycle (completes the funnel's build/serve/append story begun
    in `cascade_index_search`): build_cascade_index over the even-id
    half of the corpus, append_to_cascade_index with the odd-id half
    — the batch is assigned against the STORED centroids, sign-packed
    AND PQ-encoded against the STORED codebook in bounded batch
    passes (no quantizer retrains; appended sign codes ≡ a
    same-centroid rebuild BY CONSTRUCTION, appended PQ codes ≡ a
    frozen-codebook re-encode), lands in all THREE
    centroid-partitioned tables under the build's id, and the
    one-row report carries the coarse-assignment drift instrument.
    Output: the appended batch per inverted list (occupancy, exact
    sim sum, packed-bits checksum, PQ-code checksum) + the constant
    drift column; the oracle replays the half-corpus coarse AND PQ
    training, the frozen-quantizer batch encodes and the integer
    drift arithmetic."""
    import json as _json
    import tempfile

    from ..engine import Engine

    spark = t.embeddings.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": tempfile.mkdtemp()}), spark=spark
    )
    emb = t.embeddings
    eng.build_cascade_index("acs2", emb.where("vec_id % 2 = 0"))
    report = eng.append_to_cascade_index("acs2", emb.where("vec_id % 2 = 1"))
    codes = eng.table("acs2_codes").where("vec_id % 2 = 1")
    vecs = eng.table("acs2_vectors").where("vec_id % 2 = 1")
    pq = eng.table("acs2_codes_pq").where("vec_id % 2 = 1")
    return (
        vecs.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_appended"),
            F.sum("sim_micro").cast("bigint").alias("sum_sim_micro"),
        )
        .join(
            codes.groupBy("centroid_id").agg(
                F.sum(F.col("sig_lo") + 3 * F.col("sig_hi"))
                .cast("bigint")
                .alias("sig_checksum")
            ),
            "centroid_id",
        )
        .join(
            pq.groupBy("centroid_id").agg(
                F.sum((F.col("m") + 1) * (F.col("code") + 7))
                .cast("bigint")
                .alias("pq_checksum")
            ),
            "centroid_id",
        )
        .crossJoin(
            F.broadcast(report.select(F.col("drift_micro").cast("bigint")))
        )
        .orderBy("centroid_id")
    )


@query(
    "foreign_dump_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('catalog', 'constraints', 'FDB_CK_SALARY:CHECK,'
        || 'FDB_FK_EMP_DEPT:REFERENTIAL,FDB_PK_DEPT:PRIMARY KEY,'
        || 'FDB_PK_EMP:PRIMARY KEY,FDB_UQ_ENAME:UNIQUE'),
      ('catalog', 'cross_references',
        'FDB_FK_EMP_DEPT:FDB_EMP.DEPT_ID->FDB_DEPT.DEPT_ID#FDB_PK_DEPT'),
      ('catalog', 'tables', 'FDB_DEPT,FDB_EMP,FDB_NOTES'),
      ('catalog', 'views', 'FDB_V_RICH'),
      ('data', 'dept_count', '3'),
      ('data', 'emp_count', '4'),
      ('data', 'join_salaries',
        'Accounting=7450.00,Research=800.00,Sales=2850.00'),
      ('data', 'seq_next', '1007'),
      ('data', 'special_chars', 'Smith, Jr; the ''quoted'''),
      ('data', 'stringdecode', 'line1' || chr(10) || 'line2' ||
        chr(9) || 'tab ' || chr(233) || 'clair ' || chr(92) ||
        'backslash'),
      ('enforce', 'check_after_restore', 'CheckViolation:FDB_CK_SALARY'),
      ('redump', 'fk_line', 'ALTER TABLE "FDB_EMP" ADD CONSTRAINT '
        || '"FDB_FK_EMP_DEPT" FOREIGN KEY("DEPT_ID") REFERENCES '
        || '"FDB_DEPT"("DEPT_ID") NOCHECK;'),
      ('view', 'v_rich', 'Blake=2850.00,Clark=2450.00,King=5000.00')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_foreign_dump_battery(t: TableSet) -> DataFrame:
    """End-to-end restore of a dump in the exact format a REAL H2
    1.4.200 authors (r12 verdict task 1 — the top gap: such a dump
    previously died on line 1). The checked-in fixture
    ``plans/h2_foreign_dump.sql`` reproduces H2 1.4.200 SCRIPT
    output conventions line-for-line (no H2 jar or network exists in
    this sandbox, so the fixture is authored to the documented
    format rather than captured from a live run — every convention
    it uses is pinned below): the leading bare ``;``, ``CREATE USER
    ... SALT ... HASH ... ADMIN`` preamble, qualified
    ``"PUBLIC"."name"`` spellings everywhere, multi-line ``CREATE
    CACHED TABLE``, ``-- N +/- SELECT COUNT(*) ...;`` row-count
    comments, multi-row INSERT VALUES (with quote escapes and
    semicolons inside literals), ``STRINGDECODE('..\\n..\\u00e9..')``
    wrapping (H2 javaEncode's spelling for control-char/non-ASCII/
    backslash strings), ``ALTER ... ADD CONSTRAINT ...
    PRIMARY KEY/UNIQUE/CHECK/FOREIGN KEY ... NOCHECK`` lines,
    ``CREATE FORCE VIEW``, and a trailing GRANT. RUNSCRIPT must
    replay ALL of it through the statement surface
    (H2Server.scala:41-58 runs arbitrary user scripts); the battery
    then probes the restored state: data lands (counts, a join over
    the restored FK path, special-char round-trip), the sequence
    dispenses from its dumped position, constraints surface with H2
    spellings (REFERENTIAL in CONSTRAINTS, JDBC-shaped
    CROSS_REFERENCES), the FORCE view resolves, the restored CHECK
    still ENFORCES, and a re-dump re-emits the FK line after all
    tables. The oracle is the literal expected frame — fully
    determined by the fixture, never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..constraints import CheckViolation
    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    # shared-warehouse idempotence: dependents first (view, then the
    # FK owner, then the referenced table), sequence last
    eng.execute_sql('DROP VIEW IF EXISTS "FDB_V_RICH"')
    eng.execute_sql('DROP TABLE IF EXISTS "FDB_EMP" CASCADE')
    eng.execute_sql('DROP TABLE IF EXISTS "FDB_DEPT" CASCADE')
    eng.execute_sql('DROP TABLE IF EXISTS "FDB_NOTES"')
    eng.execute_sql('DROP SEQUENCE IF EXISTS "FDB_ORDER_SEQ"')
    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "h2_foreign_dump.sql"
    )
    eng.execute_sql(f"RUNSCRIPT FROM '{fixture}'")
    rows: list[tuple] = []
    cons = sorted(
        f"{r[0]}:{r[1]}"
        for r in eng.execute_sql(
            "SELECT CONSTRAINT_NAME, CONSTRAINT_TYPE FROM "
            "INFORMATION_SCHEMA.CONSTRAINTS WHERE TABLE_NAME LIKE 'FDB_%'"
        ).collect()
    )
    rows.append(("catalog", "constraints", ",".join(cons)))
    xref = sorted(
        f"{r[0]}:{r[1]}.{r[2]}->{r[3]}.{r[4]}#{r[5]}"
        for r in eng.execute_sql(
            "SELECT FK_NAME, FKTABLE_NAME, FKCOLUMN_NAME, PKTABLE_NAME, "
            "PKCOLUMN_NAME, PK_NAME FROM "
            "INFORMATION_SCHEMA.CROSS_REFERENCES "
            "WHERE FKTABLE_NAME LIKE 'FDB_%'"
        ).collect()
    )
    rows.append(("catalog", "cross_references", ",".join(xref)))
    tabs = sorted(
        r.TABLE_NAME
        for r in eng.execute_sql("SHOW TABLES").collect()
        if r.TABLE_NAME.startswith("FDB_")
        and eng.views.get(r.TABLE_NAME) is None
    )
    rows.append(("catalog", "tables", ",".join(tabs)))
    rows.append(
        ("catalog", "views", ",".join(
            v for v in eng.views.names() if v.startswith("FDB_")
        ))
    )
    rows.append(
        ("data", "dept_count", str(eng.table("FDB_DEPT").count()))
    )
    rows.append(("data", "emp_count", str(eng.table("FDB_EMP").count())))
    joined = sorted(
        f"{r[0]}={r[1]}"
        for r in eng.execute_sql(
            "SELECT d.DNAME AS dname, SUM(e.SALARY) AS pay "
            "FROM FDB_EMP e JOIN FDB_DEPT d ON e.DEPT_ID = d.DEPT_ID "
            "GROUP BY d.DNAME"
        ).collect()
    )
    rows.append(("data", "join_salaries", ",".join(joined)))
    rows.append(
        (
            "data",
            "seq_next",
            str(
                eng.execute_sql(
                    "SELECT NEXTVAL('FDB_ORDER_SEQ') AS v"
                ).collect()[0].v
            ),
        )
    )
    rows.append(
        (
            "data",
            "special_chars",
            eng.execute_sql(
                "SELECT ENAME FROM FDB_EMP WHERE EMP_ID = 4"
            ).collect()[0][0],
        )
    )
    # STRINGDECODE round-trip: H2's SCRIPT wraps control-char /
    # non-ASCII / backslash strings in STRINGDECODE('...') —
    # the restored value must carry the real newline/tab/é/backslash
    rows.append(
        (
            "data",
            "stringdecode",
            eng.execute_sql(
                "SELECT BODY FROM FDB_NOTES WHERE ID = 1"
            ).collect()[0][0],
        )
    )
    try:
        eng.execute_sql(
            "INSERT INTO FDB_EMP VALUES "
            "(9, 'Turner', 10, -5.00, DATE '2020-01-01')"
        )
        rows.append(("enforce", "check_after_restore", "NO ERROR"))
    except CheckViolation as e:
        rows.append(
            (
                "enforce",
                "check_after_restore",
                "CheckViolation:FDB_CK_SALARY"
                if "FDB_CK_SALARY" in str(e)
                else str(e)[:60],
            )
        )
    redump = [
        r.SCRIPT
        for r in eng.execute_sql(
            "SCRIPT NODATA TABLE FDB_DEPT, FDB_EMP"
        ).collect()
    ]
    fk_lines = [ln for ln in redump if "FOREIGN KEY" in ln]
    last_create = max(
        i for i, ln in enumerate(redump) if ln.startswith("CREATE CACHED")
    )
    ordered = all(
        i > last_create
        for i, ln in enumerate(redump)
        if "FOREIGN KEY" in ln
    )
    rows.append(
        (
            "redump",
            "fk_line",
            fk_lines[0] if fk_lines and ordered else "MISSING-OR-MISORDERED",
        )
    )
    rich = sorted(
        f"{r[0]}={r[1]}"
        for r in eng.execute_sql(
            "SELECT ENAME, SALARY FROM FDB_V_RICH"
        ).collect()
    )
    rows.append(("view", "v_rich", ",".join(rich)))
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")


# ---------------------------------------------------------------------------
# Round 13 (continued): column DEFAULT / identity / NOT NULL / COMMENT
# metadata — the remaining CREATE CACHED TABLE column options a REAL
# H2 1.4.200 dump spells (identity columns restore as DEFAULT (NEXT
# VALUE FOR ...) NOT NULL NULL_TO_DEFAULT SEQUENCE ...; ANALYZEd
# databases add SELECTIVITY n; commented objects add COMMENT ON
# lines). colmeta.py is the durable carrier; INSERT applies
# defaults, NOT NULL enforces, INFORMATION_SCHEMA + SCRIPT surface.
# ---------------------------------------------------------------------------


@query(
    "column_defaults_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('alter', 'drop_default', 'None'),
      ('alter', 'set_default', 'maint'),
      ('catalog', 'column_default_id', '(NEXT VALUE FOR '
        || '"SYSTEM_SEQUENCE_5BD9E2E7_5CF1_4D5A_9E3F_0A1B2C3D4E5F")'),
      ('catalog', 'is_nullable', 'ID:NO,SKU:NO,STATUS:YES,QTY:NO'),
      ('catalog', 'remarks', 'table=inventory items,QTY=on-hand count'),
      ('enforce', 'not_null_qty', 'NullViolation:QTY'),
      ('identity', 'default_kw', '5'),
      ('identity', 'insert_next', '4:new:0'),
      ('identity', 'null_to_default', '6'),
      ('redump', 'belongs', 'BELONGS_TO_TABLE'),
      ('redump', 'qty_def', '"QTY" INTEGER DEFAULT 0 NOT NULL '
        || 'SELECTIVITY 87'),
      ('restore', 'counts', '3')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_column_defaults_battery(t: TableSet) -> DataFrame:
    """Column DEFAULT / identity / NOT NULL / SELECTIVITY / COMMENT
    metadata as ONE driver-witnessed battery over the checked-in
    H2-1.4.200-format identity dump (``plans/h2_identity_dump.sql``
    — the sequence line carries H2's BELONGS_TO_TABLE flag, the
    identity column its full dump spelling ``DEFAULT (NEXT VALUE FOR
    "PUBLIC"."SYSTEM_SEQUENCE_...") NOT NULL NULL_TO_DEFAULT
    SEQUENCE "PUBLIC"."SYSTEM_SEQUENCE_..."``, every column a
    SELECTIVITY hint, and COMMENT ON lines close the dump). Probes:
    the dump restores end-to-end; an INSERT omitting the identity
    column dispenses from the dumped sequence position with the
    other defaults filled (4:new:0); the DEFAULT keyword and an
    explicit NULL into the NULL_TO_DEFAULT column draw the next
    values (5, 6); a NULL into the declared NOT NULL column raises
    BEFORE anything lands; INFORMATION_SCHEMA.COLUMNS surfaces
    COLUMN_DEFAULT / IS_NULLABLE / REMARKS from the registry; a
    re-dump re-spells the column options and the BELONGS_TO_TABLE
    flag; ALTER COLUMN SET/DROP DEFAULT changes what subsequent
    INSERTs fill. The oracle is the literal expected frame — fully
    determined by the fixture, never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..colmeta import NullViolation
    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    # shared-warehouse idempotence (the battery precedent): the
    # BELONGS_TO_TABLE sequence dies with the table; a stray copy
    # from an earlier run is dropped explicitly
    eng.execute_sql('DROP TABLE IF EXISTS "IDD_ITEM"')
    eng.execute_sql(
        'DROP SEQUENCE IF EXISTS '
        '"SYSTEM_SEQUENCE_5BD9E2E7_5CF1_4D5A_9E3F_0A1B2C3D4E5F"'
    )
    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "h2_identity_dump.sql"
    )
    eng.execute_sql(f"RUNSCRIPT FROM '{fixture}'")
    rows: list[tuple] = []
    rows.append(("restore", "counts", str(eng.table("IDD_ITEM").count())))
    # identity + defaults fill an INSERT that spells only SKU
    eng.execute_sql("INSERT INTO IDD_ITEM (SKU) VALUES ('D-400')")
    r = eng.execute_sql(
        "SELECT ID, STATUS, QTY FROM IDD_ITEM WHERE SKU = 'D-400'"
    ).collect()[0]
    rows.append(("identity", "insert_next", f"{r[0]}:{r[1]}:{r[2]}"))
    # H2's DEFAULT keyword draws the same machinery per position
    eng.execute_sql(
        "INSERT INTO IDD_ITEM VALUES (DEFAULT, 'E-500', DEFAULT, 2)"
    )
    r = eng.execute_sql(
        "SELECT ID FROM IDD_ITEM WHERE SKU = 'E-500'"
    ).collect()[0]
    rows.append(("identity", "default_kw", str(r[0])))
    # NULL_TO_DEFAULT: an explicit NULL into the identity column
    # converts to the next value (H2's identity insert behavior)
    eng.execute_sql(
        "INSERT INTO IDD_ITEM (ID, SKU) VALUES (NULL, 'F-600')"
    )
    r = eng.execute_sql(
        "SELECT ID FROM IDD_ITEM WHERE SKU = 'F-600'"
    ).collect()[0]
    rows.append(("identity", "null_to_default", str(r[0])))
    try:
        eng.execute_sql(
            "INSERT INTO IDD_ITEM (SKU, QTY) VALUES ('G-700', NULL)"
        )
        rows.append(("enforce", "not_null_qty", "ACCEPTED"))
    except NullViolation as e:
        col = "QTY" if "QTY" in str(e) else "?"
        rows.append(("enforce", "not_null_qty", f"NullViolation:{col}"))
    # the registry feeds the H2 introspection surfaces
    r = eng.execute_sql(
        "SELECT COLUMN_DEFAULT FROM INFORMATION_SCHEMA.COLUMNS "
        "WHERE TABLE_NAME = 'IDD_ITEM' AND COLUMN_NAME = 'ID'"
    ).collect()[0]
    rows.append(("catalog", "column_default_id", r[0]))
    nn = [
        f"{r[0]}:{r[1]}"
        for r in eng.execute_sql(
            "SELECT COLUMN_NAME, IS_NULLABLE FROM "
            "INFORMATION_SCHEMA.COLUMNS WHERE TABLE_NAME = 'IDD_ITEM' "
            "ORDER BY ORDINAL_POSITION"
        ).collect()
    ]
    rows.append(("catalog", "is_nullable", ",".join(nn)))
    trem = eng.execute_sql(
        "SELECT REMARKS FROM INFORMATION_SCHEMA.TABLES "
        "WHERE TABLE_NAME = 'IDD_ITEM'"
    ).collect()[0][0]
    crem = eng.execute_sql(
        "SELECT REMARKS FROM INFORMATION_SCHEMA.COLUMNS "
        "WHERE TABLE_NAME = 'IDD_ITEM' AND COLUMN_NAME = 'QTY'"
    ).collect()[0][0]
    rows.append(("catalog", "remarks", f"table={trem},QTY={crem}"))
    # the options round-trip through a re-dump in H2's own grammar
    import re as _re

    redump = [
        r.SCRIPT
        for r in eng.execute_sql("SCRIPT NODATA TABLE IDD_ITEM").collect()
    ]
    qty_def = next(
        (
            _re.search(r'"QTY"[^,)]*', ln).group(0).strip()
            for ln in redump
            if '"QTY"' in ln and "CREATE CACHED TABLE" in ln
        ),
        "MISSING",
    )
    rows.append(("redump", "qty_def", qty_def))
    rows.append(
        (
            "redump",
            "belongs",
            "BELONGS_TO_TABLE"
            if any(
                "CREATE SEQUENCE" in ln and "BELONGS_TO_TABLE" in ln
                for ln in redump
            )
            else "MISSING",
        )
    )
    # ALTER COLUMN SET/DROP DEFAULT steer subsequent fills
    eng.execute_sql(
        "ALTER TABLE IDD_ITEM ALTER COLUMN STATUS SET DEFAULT 'maint'"
    )
    eng.execute_sql("INSERT INTO IDD_ITEM (SKU) VALUES ('H-800')")
    r = eng.execute_sql(
        "SELECT STATUS FROM IDD_ITEM WHERE SKU = 'H-800'"
    ).collect()[0]
    rows.append(("alter", "set_default", str(r[0])))
    eng.execute_sql(
        "ALTER TABLE IDD_ITEM ALTER COLUMN STATUS DROP DEFAULT"
    )
    eng.execute_sql("INSERT INTO IDD_ITEM (SKU) VALUES ('I-900')")
    r = eng.execute_sql(
        "SELECT STATUS FROM IDD_ITEM WHERE SKU = 'I-900'"
    ).collect()[0]
    rows.append(("alter", "drop_default", str(r[0])))
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")


def _pagerank_oracle(iterations: int = 5, damping_pct: int = 85, k: int = 10) -> str:
    """DuckDB mirror of operators.iterate.pagerank — every round
    unrolled as a CTE pair (the mmr_diverse_topk precedent), floor
    divisions term-for-term (`//` vs Spark `DIV`)."""
    ctes = [
        "edges AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src, "
        "CAST(l_suppkey AS BIGINT) + 1000000 AS dst "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS rank_ppb "
        "FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, "
            "SUM(r.rank_ppb // d.deg) AS contrib "
            f"FROM edges e JOIN r{i - 1} r ON r.node = e.src "
            "JOIN outdeg d ON d.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nd.node, "
            f"CAST(({100 - damping_pct} * CAST(1000000000 AS BIGINT)) "
            "// (100 * nn.n) "
            f"+ ({damping_pct} * COALESCE(c.contrib, 0)) // 100 "
            "AS BIGINT) AS rank_ppb "
            f"FROM nodes nd CROSS JOIN nn "
            f"LEFT JOIN c{i} c ON c.node = nd.node)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank_ppb FROM r{iterations} "
        f"ORDER BY rank_ppb DESC, node ASC LIMIT {k}"
    )


@query("graph_pagerank_centrality", oracle=_pagerank_oracle())
def q_graph_pagerank_centrality(t: TableSet) -> DataFrame:
    """PageRank centrality (r15) over the customer->supplier purchase
    graph (distinct (o_custkey, l_suppkey) pairs through orders x
    lineitem; suppliers offset into their own id space): 5 bounded
    power-iteration rounds in exact parts-per-billion integer
    arithmetic — Spark ``DIV`` and DuckDB ``//`` floor identically,
    so the oracle (all rounds unrolled as CTEs) hash-matches the
    ranks bit-for-bit. Two shuffles per round (join on src,
    aggregate on dst) against a ONCE-prepared deduplicated edge
    frame with out-degrees riding along; lineage truncated per round.
    The curation use: on a near-dup similarity graph the high-rank
    nodes are the canonical documents (operators/iterate.pagerank
    docstring)."""
    edges = (
        t.orders.join(
            t.lineitem,
            t.orders["o_orderkey"] == t.lineitem["l_orderkey"],
        ).select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
        )
    )
    from ..operators.iterate import pagerank

    return pagerank(edges)


@query("graph_pagerank_served", oracle=_pagerank_oracle())
def q_graph_pagerank_served(t: TableSet) -> DataFrame:
    """PageRank's SERVING form through the ENGINE lifecycle (r16
    verdict task 5): engine.build_graph_index deduplicates the
    purchase-graph edges ONCE and stores them BUCKETED by src with
    the out-degrees and node set in node-sized side tables;
    engine.pagerank_served then runs the SAME bounded ppb integer
    power iteration (operators.iterate.pagerank_rounds — one shared
    loop) over the stored frames, so the per-round rank join reads
    co-located edge buckets with no edge-side shuffle and only the
    one-row-per-node rank frame moves. The oracle is the identical
    unrolled-CTE replay the in-run graph_pagerank_centrality uses —
    served ranks must hash-match it bit-for-bit, which is the
    build-once/serve-many parity contract (the ann_index_search
    story for graphs)."""
    import json as _json
    import tempfile as _tempfile

    from ..engine import Engine

    spark = t.orders.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    edges = (
        t.orders.join(
            t.lineitem,
            t.orders["o_orderkey"] == t.lineitem["l_orderkey"],
        ).select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 1000000).alias("dst"),
        )
    )
    eng.build_graph_index("gpr_srv", edges)
    return eng.pagerank_served("gpr_srv")


@query(
    "analyze_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('colmeta', 'const', '5'),
      ('colmeta', 'grp', '20'),
      ('colmeta', 'k', '100'),
      ('colmeta', 'nl', '55'),
      ('columns_post', 'nl', '55'),
      ('columns_pre', 'defaults', '50'),
      ('roundtrip', 'nl', '55'),
      ('sample', 'const', '33'),
      ('sample', 'k', '100'),
      ('script', 'tokens', '4')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_analyze_battery(t: TableSet) -> DataFrame:
    """H2 ``ANALYZE`` end-to-end (r15): computed per-column
    SELECTIVITY — H2's 1..100 distinct-ratio optimizer statistic —
    recorded in the column-metadata registry and surfaced everywhere
    a real ANALYZEd H2 1.4.200 spells it. Probes: a 20-row table with
    an all-distinct column (100), a 4-value group column (20), a
    constant (5) and a half-NULL column (NULL counts as one distinct
    value: 11/20 -> 55); INFORMATION_SCHEMA.COLUMNS reads 50 (H2's
    default) before and the computed values after; ``SAMPLE_SIZE 3``
    is HONORED (r16): the statistics scan is LIMIT-bounded to 3 rows,
    pinned by two subset-invariant probes — the all-distinct column
    reads 100 under ANY 3-row sample (3 distinct / 3 rows) and the
    constant column reads 33 (1 distinct / 3 rows = 100*1//3, vs 5
    exact — proof the bound applied), values no 3-row choice can
    change; exact statistics are then restored by a bare re-ANALYZE
    (20 rows < the 10 000-row H2 default sample -> exact) so the
    SCRIPT dump carries one ``SELECTIVITY n`` per column and a full
    dump/drop/RUNSCRIPT round-trip restores the statistics intact.
    The oracle is the literal expected frame — fully determined by
    the battery's own data, never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    eng.execute_sql('DROP TABLE IF EXISTS "AZB_T"')
    eng.execute_sql(
        'CREATE CACHED TABLE "AZB_T"('
        '"k" INT, "grp" VARCHAR(4), "const" INT, "nl" INT)'
    )
    vals = ", ".join(
        f"({i}, 'g{i % 4}', 7, {'NULL' if i < 10 else i})"
        for i in range(20)
    )
    eng.execute_sql(f'INSERT INTO "AZB_T" VALUES {vals}')
    rows: list[tuple] = []
    pre = {
        r.SELECTIVITY
        for r in eng.execute_sql(
            "SELECT SELECTIVITY FROM INFORMATION_SCHEMA.COLUMNS "
            "WHERE TABLE_NAME = 'AZB_T'"
        ).collect()
    }
    rows.append(
        ("columns_pre", "defaults", ",".join(str(v) for v in sorted(pre)))
    )
    eng.execute_sql('ANALYZE TABLE "AZB_T"')
    for c, e in sorted(eng.colmeta.columns_of("AZB_T").items()):
        rows.append(("colmeta", c, str(e.get("selectivity"))))
    rows.append(
        (
            "columns_post",
            "nl",
            str(
                eng.execute_sql(
                    "SELECT SELECTIVITY FROM INFORMATION_SCHEMA.COLUMNS "
                    "WHERE TABLE_NAME = 'AZB_T' AND COLUMN_NAME = 'nl'"
                ).collect()[0].SELECTIVITY
            ),
        )
    )
    eng.execute_sql('ANALYZE TABLE "AZB_T" SAMPLE_SIZE 3')
    for probe in ("k", "const"):
        rows.append(
            (
                "sample",
                probe,
                str(eng.colmeta.columns_of("AZB_T")[probe]["selectivity"]),
            )
        )
    # restore exact statistics for the dump round-trip below (bare
    # ANALYZE: 20 rows < the 10 000-row default sample -> exact)
    eng.execute_sql('ANALYZE TABLE "AZB_T"')
    line = next(
        r.SCRIPT
        for r in eng.execute_sql("SCRIPT NODATA TABLE AZB_T").collect()
        if "CREATE CACHED TABLE" in r.SCRIPT
    )
    rows.append(("script", "tokens", str(line.count("SELECTIVITY"))))
    dump = _os.path.join(_tempfile.mkdtemp(), "azb.sql")
    eng.execute_sql(f"SCRIPT NODATA TO '{dump}' TABLE AZB_T")
    eng.execute_sql('DROP TABLE "AZB_T"')
    eng.execute_sql(f"RUNSCRIPT FROM '{dump}'")
    rows.append(
        (
            "roundtrip",
            "nl",
            str(eng.colmeta.columns_of("AZB_T")["nl"]["selectivity"]),
        )
    )
    eng.execute_sql('DROP TABLE "AZB_T"')
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")


@query(
    "multischema_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('catalog', 'cross_references',
        'INVENTORY.ITEMS.ID<-INVENTORY.MOVES.ITEM_ID'),
      ('catalog', 'schemata', 'INVENTORY:NO,PUBLIC:YES'),
      ('catalog', 'tables', 'INVENTORY.ITEMS,INVENTORY.MOVES,' ||
        'PUBLIC.TAGS'),
      ('data', 'counts', 'items=2,moves=2,tags=1'),
      ('data', 'join_deltas', 'A-100=5,B-200=1'),
      ('data', 'remark', 'stock levels'),
      ('identity', 'insert_next', '3'),
      ('redump', 'qualified_table',
        'CREATE CACHED TABLE "INVENTORY"."ITEMS"'),
      ('redump', 'schema_line',
        'CREATE SCHEMA IF NOT EXISTS "INVENTORY" AUTHORIZATION "SA";'),
      ('reject', 'create_alias', 'CREATE ALIAS: not supported'),
      ('rename', 'identity_next', '4'),
      ('rename', 'public_reject', 'PUBLIC cannot be renamed'),
      ('rename', 'tables', 'STOCKROOM.ITEMS,STOCKROOM.MOVES'),
      ('restore', 'roundtrip_items', '3'),
      ('schema', 'drop_restrict', 'not empty'),
      ('schema', 'set_schema_count', '2')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_multischema_battery(t: TableSet) -> DataFrame:
    """Multi-schema dump restore as ONE driver-witnessed battery
    (r13 verdict missing #3 / r14 task 2: the restore flow previously
    died on the first non-PUBLIC qualifier, and ``CREATE SCHEMA`` had
    no handler). The checked-in fixture
    ``plans/h2_multischema_dump.sql`` reproduces the H2 1.4.200
    SCRIPT conventions for a database whose objects live in a user
    schema: ``CREATE SCHEMA IF NOT EXISTS "INVENTORY" AUTHORIZATION
    "SA"`` after the user preamble, every object spelled
    ``"INVENTORY"."NAME"`` (sequence, tables, the constraint names on
    the ALTER lines, COMMENT ON lines), plus one PUBLIC table to pin
    that both namespaces coexist. Probes: the dump restores
    end-to-end; qualified SELECTs resolve natively (incl. a join
    across two schema tables); ``SET SCHEMA`` re-routes unqualified
    names; an INSERT omitting the identity column dispenses from the
    dumped sequence position; INFORMATION_SCHEMA.SCHEMATA /
    TABLES / CROSS_REFERENCES carry real schema columns; a re-dump
    re-emits the CREATE SCHEMA line and fully-qualified spellings and
    RESTORES again (full round-trip); DROP SCHEMA RESTRICT refuses a
    non-empty schema; the H2 object kinds with no analogue here
    (``CREATE ALIAS``) reject with the documented taxonomy; ``ALTER
    SCHEMA ... RENAME TO`` (r15) re-keys every contained object
    across the registries with the identity position intact, and
    refuses on PUBLIC. The oracle is the literal expected frame —
    fully determined by the fixture, never by sf data."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    # shared-warehouse idempotence
    eng.current_schema = "public"
    if eng.schemas.exists("INVENTORY"):
        eng.execute_sql('DROP SCHEMA "INVENTORY" CASCADE')
    eng.execute_sql('DROP TABLE IF EXISTS "TAGS"')
    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        "h2_multischema_dump.sql",
    )
    eng.execute_sql(f"RUNSCRIPT FROM '{fixture}'")
    rows: list[tuple] = []
    counts = {
        name: eng.execute_sql(
            f"SELECT count(*) AS c FROM {qual}"
        ).collect()[0].c
        for name, qual in (
            ("items", "INVENTORY.ITEMS"),
            ("moves", "INVENTORY.MOVES"),
            ("tags", "TAGS"),
        )
    }
    rows.append(
        (
            "data",
            "counts",
            ",".join(f"{k}={v}" for k, v in sorted(counts.items())),
        )
    )
    joined = sorted(
        f"{r.SKU}={r.D}"
        for r in eng.execute_sql(
            "SELECT i.SKU AS SKU, sum(m.DELTA) AS D "
            "FROM INVENTORY.ITEMS i JOIN INVENTORY.MOVES m "
            "ON i.ID = m.ITEM_ID GROUP BY i.SKU"
        ).collect()
    )
    rows.append(("data", "join_deltas", ",".join(joined)))
    rows.append(
        (
            "data",
            "remark",
            eng.colmeta.for_table("inventory.ITEMS").get("remarks", ""),
        )
    )
    # identity dispenses from the dumped position
    eng.execute_sql(
        "INSERT INTO \"INVENTORY\".\"ITEMS\" (\"SKU\") VALUES ('C-300')"
    )
    rows.append(
        (
            "identity",
            "insert_next",
            str(
                eng.execute_sql(
                    "SELECT ID FROM INVENTORY.ITEMS WHERE SKU = 'C-300'"
                ).collect()[0].ID
            ),
        )
    )
    # SET SCHEMA re-routes unqualified names
    eng.execute_sql("SET SCHEMA INVENTORY")
    n = eng.execute_sql("SELECT count(*) AS c FROM MOVES").collect()[0].c
    eng.execute_sql("SET SCHEMA PUBLIC")
    rows.append(("schema", "set_schema_count", str(n)))
    # catalog surfaces
    sch = sorted(
        f"{r[0]}:{r[1]}"
        for r in eng.execute_sql(
            "SELECT SCHEMA_NAME, IS_DEFAULT FROM "
            "INFORMATION_SCHEMA.SCHEMATA "
            "WHERE SCHEMA_NAME IN ('PUBLIC', 'INVENTORY')"
        ).collect()
    )
    rows.append(("catalog", "schemata", ",".join(sch)))
    tabs = sorted(
        f"{r[0]}.{r[1]}"
        for r in eng.execute_sql(
            "SELECT TABLE_SCHEMA, TABLE_NAME FROM "
            "INFORMATION_SCHEMA.TABLES WHERE TABLE_NAME IN "
            "('ITEMS', 'MOVES', 'TAGS')"
        ).collect()
    )
    rows.append(("catalog", "tables", ",".join(tabs)))
    x = eng.execute_sql(
        "SELECT PKTABLE_SCHEMA, PKTABLE_NAME, PKCOLUMN_NAME, "
        "FKTABLE_SCHEMA, FKTABLE_NAME, FKCOLUMN_NAME FROM "
        "INFORMATION_SCHEMA.CROSS_REFERENCES "
        "WHERE FK_NAME = 'MOVES_ITEM_FK'"
    ).collect()[0]
    rows.append(
        (
            "catalog",
            "cross_references",
            f"{x[0]}.{x[1]}.{x[2]}<-{x[3]}.{x[4]}.{x[5]}",
        )
    )
    # re-dump (scoped to the fixture's tables — the shared warehouse
    # holds vector-typed index tables H2 DDL cannot express), with
    # the CREATE SCHEMA line + qualified spellings, then a FULL
    # round-trip (drop everything, restore from the re-dump)
    redump = [
        r.SCRIPT
        for r in eng.execute_sql(
            "SCRIPT NODATA TABLE INVENTORY.ITEMS, INVENTORY.MOVES, TAGS"
        ).collect()
    ]
    rows.append(
        (
            "redump",
            "schema_line",
            next(
                (
                    ln
                    for ln in redump
                    if ln.startswith(
                        'CREATE SCHEMA IF NOT EXISTS "INVENTORY"'
                    )
                ),
                "MISSING",
            ),
        )
    )
    rows.append(
        (
            "redump",
            "qualified_table",
            "CREATE CACHED TABLE \"INVENTORY\".\"ITEMS\""
            if any(
                'CREATE CACHED TABLE "INVENTORY"."ITEMS"' in ln
                for ln in redump
            )
            else "MISSING",
        )
    )
    try:
        eng.execute_sql('DROP SCHEMA "INVENTORY"')
        rows.append(("schema", "drop_restrict", "ACCEPTED"))
    except ValueError as e:
        rows.append(
            (
                "schema",
                "drop_restrict",
                "not empty" if "not empty" in str(e) else str(e)[:40],
            )
        )
    dump_path = _os.path.join(_tempfile.mkdtemp(), "ms_redump.sql")
    with open(dump_path, "w", encoding="utf-8") as f:
        f.write("\n".join(redump) + "\n")
    eng.execute_sql('DROP SCHEMA "INVENTORY" CASCADE')
    eng.execute_sql('DROP TABLE "TAGS"')
    eng.execute_sql(f"RUNSCRIPT FROM '{dump_path}'")
    # NODATA re-dump restores the schema empty; the sequence position
    # carried over, so the next identity value is still 4 — count the
    # restored TABLES instead (items+moves+tags registered again)
    restored = eng.execute_sql(
        "SELECT count(*) AS c FROM INFORMATION_SCHEMA.TABLES "
        "WHERE TABLE_NAME IN ('ITEMS', 'MOVES', 'TAGS')"
    ).collect()[0].c
    rows.append(("restore", "roundtrip_items", str(restored)))
    try:
        eng.execute_sql('CREATE ALIAS MSF FOR "org.example.F.f"')
        rows.append(("reject", "create_alias", "ACCEPTED"))
    except ValueError as e:
        rows.append(("reject", "create_alias", str(e)[:27]))
    # ALTER SCHEMA ... RENAME TO (r15; r14 verdict missing #3):
    # re-keys the restored schema's dotted logical names across the
    # table/sequence/constraint/colmeta registries — the identity
    # position survives the move, and PUBLIC refuses (H2)
    eng.execute_sql('ALTER SCHEMA "INVENTORY" RENAME TO "STOCKROOM"')
    ren_tabs = sorted(
        f"{r[0]}.{r[1]}"
        for r in eng.execute_sql(
            "SELECT TABLE_SCHEMA, TABLE_NAME FROM "
            "INFORMATION_SCHEMA.TABLES WHERE TABLE_SCHEMA IN "
            "('INVENTORY', 'STOCKROOM') AND TABLE_NAME IN "
            "('ITEMS', 'MOVES')"
        ).collect()
    )
    rows.append(("rename", "tables", ",".join(ren_tabs)))
    eng.execute_sql(
        "INSERT INTO \"STOCKROOM\".\"ITEMS\" (\"SKU\") VALUES ('D-400')"
    )
    rows.append(
        (
            "rename",
            "identity_next",
            str(
                eng.execute_sql(
                    "SELECT ID FROM STOCKROOM.ITEMS WHERE SKU = 'D-400'"
                ).collect()[0].ID
            ),
        )
    )
    try:
        eng.execute_sql('ALTER SCHEMA PUBLIC RENAME TO "P2"')
        rows.append(("rename", "public_reject", "ACCEPTED"))
    except ValueError as e:
        rows.append(
            (
                "rename",
                "public_reject",
                "PUBLIC cannot be renamed"
                if "PUBLIC cannot be renamed" in str(e)
                else str(e)[:40],
            )
        )
    # leave the shared warehouse clean for the rest of the registry
    eng.execute_sql('DROP SCHEMA "STOCKROOM" CASCADE')
    eng.execute_sql('DROP TABLE IF EXISTS "TAGS"')
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")


@query(
    "search_path_battery",
    oracle="""
    SELECT * FROM (VALUES
      ('dml', 'delete_via_path', '1'),
      ('dml', 'insert_via_path', '2'),
      ('order', 'spa_first', 'a'),
      ('order', 'spb_first', 'b'),
      ('path', 'current_wins', 'a'),
      ('path', 'fallback_t', 'b'),
      ('path', 'fallback_u', 'u'),
      ('public', 'not_implicit', 'unresolved'),
      ('public', 'on_path_ghost_skipped', 'p'),
      ('reject', 'trailing', 'unexpected trailing text'),
      ('strict', 'default_unresolved', 'unresolved')
    ) AS T(kind, obj, detail)
    ORDER BY kind, obj
    """,
)
def q_search_path_battery(t: TableSet) -> DataFrame:
    """H2 ``SET SCHEMA_SEARCH_PATH`` end-to-end (r16 — the r15
    verdict's missing #3, a loud reject through r15): unqualified
    QUERY-position relation names resolve current-schema-FIRST, then
    through the path entries in order (Parser.readTableOrView's
    first-match-wins), exactly what a JDBC pool's connection-init
    script sets before its session queries run. Probes: the empty
    path stays strict current-schema (H2's default); a path entry
    resolves names the current schema lacks; the current schema
    still WINS a same-spelled collision; PUBLIC is NOT implicit —
    it participates only when current or explicitly on the path —
    and an unregistered path entry is skipped at lookup, not an
    error (a client may set its path before creating the schemas);
    among path entries, order decides; DML targets (INSERT/DELETE)
    resolve through the SAME lookup so reads and writes agree
    (review r16); trailing text after the list rejects loudly. The oracle is the literal expected frame —
    fully determined by the battery's own data, never by sf data."""
    import json as _json
    import tempfile as _tempfile

    from ..engine import Engine

    spark = t.documents.sparkSession
    eng = Engine.from_config(
        _json.dumps({"connectionUri": _tempfile.mkdtemp()}), spark=spark
    )
    rows: list = []

    def one(sql):
        return eng.execute_sql(sql).collect()[0][0]

    def unresolved(sql):
        try:
            eng.execute_sql(sql).collect()
            return "RESOLVED"
        except Exception:
            return "unresolved"

    eng.execute_sql('CREATE SCHEMA "SPQA"')
    eng.execute_sql('CREATE SCHEMA "SPQB"')
    eng.execute_sql('CREATE CACHED TABLE "SPQA"."SPQ_T"("v" VARCHAR(2))')
    eng.execute_sql("INSERT INTO \"SPQA\".\"SPQ_T\" VALUES ('a')")
    eng.execute_sql('CREATE CACHED TABLE "SPQB"."SPQ_T"("v" VARCHAR(2))')
    eng.execute_sql("INSERT INTO \"SPQB\".\"SPQ_T\" VALUES ('b')")
    eng.execute_sql('CREATE CACHED TABLE "SPQB"."SPQ_U"("v" VARCHAR(2))')
    eng.execute_sql("INSERT INTO \"SPQB\".\"SPQ_U\" VALUES ('u')")
    eng.execute_sql('CREATE CACHED TABLE "SPQ_P"("v" VARCHAR(2))')
    eng.execute_sql("INSERT INTO \"SPQ_P\" VALUES ('p')")
    # H2 default: no path, strict current-schema resolution
    rows.append(
        ("strict", "default_unresolved", unresolved("SELECT v FROM SPQ_U"))
    )
    eng.execute_sql("SET SCHEMA_SEARCH_PATH SPQB")
    rows.append(("path", "fallback_u", one("SELECT v FROM SPQ_U")))
    rows.append(("path", "fallback_t", one("SELECT v FROM SPQ_T")))
    eng.execute_sql("SET SCHEMA SPQA")
    rows.append(("path", "current_wins", one("SELECT v FROM SPQ_T")))
    # PUBLIC participates only when current or on the path; GHOST
    # (never created) is skipped at lookup
    rows.append(
        ("public", "not_implicit", unresolved("SELECT v FROM SPQ_P"))
    )
    eng.execute_sql("SET SCHEMA_SEARCH_PATH GHOST, PUBLIC")
    rows.append(
        ("public", "on_path_ghost_skipped", one("SELECT v FROM SPQ_P"))
    )
    # among path entries, first match wins
    eng.execute_sql("SET SCHEMA PUBLIC")
    eng.execute_sql("SET SCHEMA_SEARCH_PATH SPQB, SPQA")
    rows.append(("order", "spb_first", one("SELECT v FROM SPQ_T")))
    eng.execute_sql("SET SCHEMA_SEARCH_PATH SPQA, SPQB")
    rows.append(("order", "spa_first", one("SELECT v FROM SPQ_T")))
    # DML targets consult the path too — H2 resolves them through the
    # same readTableOrView lookup, so reads and writes agree
    # (review r16)
    eng.execute_sql("INSERT INTO SPQ_U VALUES ('w')")
    rows.append(
        (
            "dml",
            "insert_via_path",
            str(one("SELECT COUNT(*) FROM SPQB.SPQ_U")),
        )
    )
    eng.execute_sql("DELETE FROM SPQ_U WHERE v = 'w'")
    rows.append(
        (
            "dml",
            "delete_via_path",
            str(one("SELECT COUNT(*) FROM SPQB.SPQ_U")),
        )
    )
    try:
        eng.execute_sql("SET SCHEMA_SEARCH_PATH SPQA SPQB")
        rows.append(("reject", "trailing", "ACCEPTED"))
    except ValueError as e:
        rows.append(
            (
                "reject",
                "trailing",
                "unexpected trailing text"
                if "unexpected trailing text" in str(e)
                else str(e)[:40],
            )
        )
    # leave the shared warehouse clean for the rest of the registry
    eng.schema_search_path = []
    eng.execute_sql('DROP SCHEMA "SPQA" CASCADE')
    eng.execute_sql('DROP SCHEMA "SPQB" CASCADE')
    eng.execute_sql('DROP TABLE "SPQ_P"')
    return spark.createDataFrame(
        rows, "kind string, obj string, detail string"
    ).orderBy("kind", "obj")
