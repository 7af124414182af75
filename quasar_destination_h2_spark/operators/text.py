"""[EXT] Text-analysis operators over the ``documents`` table.

Spark-native (whole-stage-codegen) implementations of the
training-data-pipeline text ops: normalization, tokenization, word
shingles, token counting, quality scoring, language ID, and
winnowing fingerprints. Every function returns a DataFrame plan —
nothing collects, everything scales by partitioning on doc_id (or
needs no shuffle at all for the purely per-row ops).

Determinism: all hashes are md5 (hex string) so a DuckDB oracle can
reproduce them bit-for-bit. At 100 TB you would swap md5 for
xxhash64 (8x faster, still stable) — the plan shape is unchanged.
"""

from __future__ import annotations

import json
import zlib

from pyspark.sql import Column, DataFrame, Window, functions as F

#: Marker stopword sets for the n-gram/stopword language-ID heuristic.
#: Ordered dict — the argmax tie-break is "first language in this
#: order wins", mirrored exactly in the SQL oracle's CASE chain.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "a", "and", "is", "of", "to", "in", "that"),
    "es": ("el", "la", "los", "las", "y", "es", "de", "que"),
    "fr": ("le", "la", "les", "et", "est", "de", "que", "une"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}

#: Quality-score weights (purely deterministic arithmetic).
_STOPWORDS = LANG_MARKERS["en"]


def norm_text(col: Column) -> Column:
    """Whitespace-collapsed, lowercased normalization (the shared key
    for exact dedup, shingling, and fingerprints)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text.

    Split on ``\\s+`` after an ANCHORED edge-trim (``trim`` alone
    would not do: it strips only 0x20 spaces, and a leading tab would
    inject an empty first token). The anchored replace touches only
    the string edges instead of rewriting every interior whitespace
    run the way ``norm_text`` does — element-for-element identical
    output (pinned by test_text_shingles_and_tokens_equivalent_forms)
    at ~25% less per-row CPU, which matters because tokenization
    feeds every dedup/quality/packing operator's hot path."""
    return F.split(
        F.regexp_replace(F.lower(col), r"^\s+|\s+$", ""), r"\s+"
    )


def bind_once(col: Column, build) -> Column:
    """Evaluate `col` exactly once per row and hand the bound value to
    `build`. Catalyst inlines aliased expressions into every use site
    (CollapseProject), and expressions inlined into a higher-order-
    function lambda are re-evaluated PER ELEMENT — so an expensive
    expression (regex+split tokenization) referenced k times inside a
    transform re-runs O(k * array_size) times per row (~40x measured
    at sf0.1). Wrapping it as the single element of an array and
    referencing only the lambda variable makes every use a bound-
    value read: transform's collection argument is evaluated once."""
    return F.get(F.transform(F.array(col), build), 0)


def _shingles_of(tk: Column, k: int) -> Column:
    """k-word shingles of a BOUND token array (see bind_once), with
    duplicates, in positional order. Built from k slices zip_with-
    joined pairwise — the lambdas touch only their element args."""
    n_sh = F.greatest(F.size(tk) - (k - 1), F.lit(0))  # slice rejects <0
    parts = [F.slice(tk, j + 1, n_sh) for j in range(k)]
    joined = parts[0]
    for p in parts[1:]:
        joined = F.zip_with(joined, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(tk) >= k, joined).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (array<string>). Empty if < k tokens."""
    return bind_once(toks, lambda tk: F.array_distinct(_shingles_of(tk, k)))


def shingle_pattern(k: int) -> str:
    """Regex extracting all overlapping k-token windows of a
    whitespace-NORMALIZED string in one scan: the zero-width lookahead
    captures the window at the current position, and the consumed
    ``\\S+`` advances the matcher past the current token, so the next
    ``find()`` lands exactly on the next token start (a mid-token
    position can only be reached after a failed token-start match,
    which requires < k tokens remaining — and then every later
    position has fewer still, so no spurious suffix-token windows are
    ever captured)."""
    return r"(?=(" + r"\S+ " * (k - 1) + r"\S+))\S+"


def text_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles straight from the text column —
    byte-identical to ``word_shingles(tokens(col), k)`` (same strings,
    same first-occurrence order; pinned by test) but built from two
    codegen'd native calls (normalize + regexp_extract_all) instead of
    a chain of interpreted higher-order-function lambdas: ~25% less
    per-row CPU on the dedup hot path."""
    return F.array_distinct(
        F.regexp_extract_all(norm_text(col), F.lit(shingle_pattern(k)), 1)
    )


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("toks", tokens(F.col(text_col)))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letter runs | single digits | single non-alnum). Per-row only —
    no shuffle, fully pushed into codegen."""
    norm = norm_text(F.col(text_col))
    bpe_pattern = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(F.split(norm, " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(bpe_pattern), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
    )


def quality_exprs(text_col: str = "text") -> "dict[str, Column]":
    """The quality-scoring column expressions, exposed so composed
    pipelines (pipeline_curate) can fuse them into a single
    projection over one scan instead of joining a separate
    quality-score branch back on doc_id."""
    norm = norm_text(F.col(text_col))
    toks = F.split(norm, " ")
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(norm).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    )
    n_punct = F.size(F.regexp_extract_all(norm, F.lit(r"[^\w\s]"), 0)).cast("double")
    avg_wlen = (n_chars - (n_tok - 1)) / n_tok  # chars excluding separators
    stop_ratio = n_stop / n_tok
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.2) * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.1) * F.least(avg_wlen / 8, F.lit(1.0))
    )
    return {
        "n_tokens": F.size(toks).cast("bigint"),
        "stop_ratio": F.round(stop_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "avg_word_len": F.round(avg_wlen, 6),
        "quality": F.round(score, 6),
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length / punctuation / stopword / word-length
    signals combined into one deterministic score in [0, ~1]."""
    ex = quality_exprs(text_col)
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in ex.items()]
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID. Scores each language by marker-hit
    ratio; argmax with first-in-LANG_MARKERS-order tie-break (the SQL
    oracle uses the same CASE chain order)."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("double")

    def marker_score(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in markers])
        # closure (not a default arg) — PySpark introspects lambda
        # arity, so extra params would be misread as (elem, index).
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast(
            "double"
        ) / F.greatest(n_tok, F.lit(1.0))

    scored = docs.select(
        "doc_id",
        "lang",
        *[
            marker_score(markers).alias(f"s_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    langs = list(LANG_MARKERS)
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, lang) if pred is None else pred.when(cond, lang)
        )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        *[F.round(F.col(f"s_{lang}"), 6).alias(f"s_{lang}") for lang in langs],
    )


def _doc_unigram_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc corpus-unigram LM stats: (doc_id, n_tokens, avg_micro)
    where avg_micro is the per-doc average of round(-log2 p(tok), 6)
    in exact integer micro-units (add-0 MLE; p from the corpus
    itself). Shared carrier of :func:`unigram_logprob` and
    :func:`perplexity_buckets`.

    Shape — ONE corpus pass: the per-(doc, token) count frame is
    PERSISTED (the tfidf_top_terms policy: MEMORY_AND_DISK degrades
    to spill, never re-runs the tokenize+explode corpus scan) and
    feeds both the vocabulary aggregate and the per-doc scoring
    join. The corpus token total is sum(tf) over the vocab frame
    (one-row aggregate, crossJoin-broadcast back) — NOT a separate
    driver-side count action, which would force an extra corpus
    pass. The tf/total join is a plain key join with NO broadcast
    hint: the vocab frame grows with the corpus (whitespace tokens
    of web text reach 1e8-1e9 distinct at 100 TB — multi-GB), so a
    forced broadcast would override Spark's size threshold and OOM
    executors; AQE still broadcasts it at runtime when it is
    actually small.

    Determinism: per-token nll is rounded to 6 BEFORE summation and
    summed as exact integers (order-independent); the per-doc
    average is rounded half-up with pure integer arithmetic
    ((2S+n) DIV 2n) — a double round(sum/count, 6) can land on a .5
    boundary where Java (BigDecimal HALF_UP) and DuckDB
    (multiply-then-floor) disagree by one ulp (seen once at sf0.1).
    """
    from .. import cache

    dt = cache.persisted(
        docs.select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freqs = dt.groupBy("tok").agg(F.sum("c").alias("tf"))
    totals = freqs.agg(F.sum("tf").alias("total"))
    nll6 = F.round(
        -F.log2(F.col("tf") / F.col("total").cast("double")), 6
    )
    micro = (nll6.cast("decimal(28,10)") * 1000000).cast("bigint")
    scored_vocab = freqs.crossJoin(F.broadcast(totals)).select(
        "tok", micro.alias("micro")
    )
    return (
        dt.join(scored_vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("micro")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(2 * _s + n_tokens) DIV (2 * n_tokens)").alias(
                "avg_micro"
            ),
        )
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-unigram language-model quality score: avg -log2 p(tok)
    per doc, where p comes from the corpus itself (add-0 MLE). The
    classic perplexity-style quality filter (GPT-3-style data
    curation). One corpus pass, no forced vocabulary broadcast —
    see :func:`_doc_unigram_stats` for the plan shape."""
    return _doc_unigram_stats(docs, text_col).select(
        "doc_id",
        "n_tokens",
        (F.col("avg_micro") / F.lit(1000000.0)).alias("avg_nll"),
    )


#: PII-ish patterns (RE2-compatible so DuckDB matches exactly).
PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^\s]+",
    "phones": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
}


def pattern_flags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc counts of PII-ish patterns (email/URL/phone) — the
    filter-or-redact signal of a curation pipeline. Per-row regex,
    zero shuffle."""
    return docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(rx), 0))
            .cast("bigint")
            .alias(f"n_{name}")
            for name, rx in PATTERNS.items()
        ],
    )


#: Replacement order matters: URLs go first so the narrower email /
#: phone patterns cannot eat fragments of an already-matched URL
#: (a URL path can contain digit runs that look like phone numbers).
REDACT_ORDER = (("urls", "<URL>"), ("emails", "<EMAIL>"), ("phones", "<PHONE>"))


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the redact-don't-drop counterpart of
    pattern_flags: every URL / email / phone span is replaced in
    place with a typed token, keeping the document usable for
    training while removing the contact strings. Pure per-row
    regexp_replace chain, zero shuffle, whole-stage codegen.
    ``n_redacted`` counts the tokens actually emitted (not the
    pre-redaction matches — the replacement chain is the truth)."""
    red = F.col(text_col)
    for name, token in REDACT_ORDER:
        red = F.regexp_replace(red, PATTERNS[name], token)
    n = F.size(F.regexp_extract_all(red, F.lit("<URL>|<EMAIL>|<PHONE>"), 0))
    return docs.select(
        "doc_id", red.alias("redacted"), n.cast("bigint").alias("n_redacted")
    )


def domain_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain URL statistics over the corpus (occurrences + the
    number of distinct docs linking each host) — the view a curation
    pipeline ranks to build domain allow/block lists. One explode +
    one groupBy shuffle; the count-distinct is a partial-aggregated
    hash agg, never a corpus sort."""
    host = F.regexp_extract_all(
        F.col(text_col), F.lit(r"https?://([^/\s]+)"), 1
    )
    return (
        docs.select("doc_id", F.explode(host).alias("d"))
        .select("doc_id", F.lower(F.col("d")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


def hash_bucket(col: Column, n: int = 10000) -> Column:
    """Deterministic engine-agnostic bucket in [0, n): integer value
    of the first 8 md5 hex digits mod n (md5 so DuckDB reproduces
    it; at 100 TB you'd use xxhash64 — same shape)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % n


def stratified_sample(
    docs: DataFrame, frac_pct: int = 20, strata_col: str = "lang"
) -> DataFrame:
    """Deterministic stratified sample: keep frac_pct% of every
    stratum by content-hash bucket — reproducible across runs and
    engines, no RNG state, no shuffle (pure filter)."""
    b = hash_bucket(F.col("doc_id"), 100)
    return docs.where(b < frac_pct).select(
        "doc_id", F.col(strata_col).alias("stratum"), b.cast("int").alias("bucket")
    )


def split_expr(val_pct: int = 10, test_pct: int = 10) -> Column:
    """The hash-split column expression (see dataset_split), exposed
    for single-projection fusion in composed pipelines."""
    b = hash_bucket(F.col("doc_id"), 100)
    return (
        F.when(b < test_pct, "test")
        .when(b < test_pct + val_pct, "val")
        .otherwise("train")
    )


def dataset_split(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Hash-based train/val/test assignment — stable under corpus
    growth (a doc's split never changes when other docs arrive),
    the property random splits lack."""
    return docs.select(
        "doc_id", split_expr(val_pct, test_pct).alias("split")
    )


def source_cap(
    docs: DataFrame, cap: int = 15, source_col: str = "source"
) -> DataFrame:
    """Per-source quota cap (the domain-balancing curation op: no
    single domain may contribute more than `cap` documents). Which
    docs survive is decided by a deterministic content-hash priority,
    not arrival order — the kept set is reproducible across engines
    and stable under scan-order changes, and adding documents from
    OTHER sources never evicts a kept one. One shuffle on the source
    key; the window is per-source (bounded), never a global sort. At
    100 TB a pathologically hot source makes one fat partition —
    acceptable because the window computes rank only (spills
    sequentially); if a source is a significant corpus fraction,
    pre-filter with an approximate per-source count and hash-sample
    before ranking."""
    pri = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(source_col).orderBy(pri, "doc_id")
    return (
        docs.withColumn("keep_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("keep_rank") <= cap)
        .select("doc_id", F.col(source_col).alias("source"), "keep_rank")
    )


def _all_shingles(toks: Column, k: int) -> Column:
    """All k-word shingles WITH duplicates (unlike word_shingles) —
    the denominator of repetition metrics."""
    return bind_once(toks, lambda tk: _shingles_of(tk, k))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-doc repetition metrics (the Gopher-rules quality
    signal): duplicate word-bigram fraction and duplicate-line
    fraction. 1 - distinct/total per doc; high values flag the
    boilerplate/spam documents a curation pipeline drops. Pure
    per-row array arithmetic — zero shuffle, fully codegen."""
    toks = tokens(F.col(text_col))
    grams = _all_shingles(toks, 2)
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n > 0, F.round(1 - F.size(F.array_distinct(arr)) / n, 6)).otherwise(
            F.lit(0.0)
        )

    return docs.select(
        "doc_id",
        F.size(grams).cast("bigint").alias("n_bigrams"),
        dup_frac(grams).alias("dup_bigram_frac"),
        F.size(lines).cast("bigint").alias("n_lines"),
        dup_frac(lines).alias("dup_line_frac"),
    )


#: Every doc_id divisible by this is treated as the held-out eval set
#: for the contamination check (a deterministic stand-in for a real
#: benchmark suite).
EVAL_MODULUS = 97


def contamination_check(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Train/eval contamination: for each train doc, the fraction of
    its distinct k-gram shingles that appear anywhere in the eval
    set. The eval shingle vocabulary is tiny next to the corpus, so
    it broadcasts; the train side explodes linearly and aggregates
    back on doc_id — one shuffle, no cross product (the shape that
    survives 100 TB; a real pipeline feeds the benchmark suite in as
    the eval frame)."""
    # Filter on the cheap token count, not size(g): a filter on the
    # alias would be pushdown-substituted and re-run the shingle
    # build per row (size(g) >= 1 ⟺ size(tokens) >= k).
    sh = docs.where(F.size(tokens(F.col(text_col))) >= k).select(
        "doc_id", text_shingles(F.col(text_col), k).alias("g")
    )
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    eval_grams = (
        sh.where(is_eval).select(F.explode("g").alias("gram")).distinct()
    )
    train = sh.where(~is_eval).select(
        "doc_id", F.size("g").alias("n_grams"), F.explode("g").alias("gram")
    )
    return (
        train.join(
            F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("contamination"),
        )
    )


def winnow_selected(
    docs: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """The winnowing fingerprint SELECTION (Schleimer et al.,
    SIGMOD'03): md5 over every k-char gram of the normalized text,
    min hash of each w-gram window, distinct per doc → (doc_id, fp).

    Plan shape: explode positions → per-doc window min → distinct.
    One shuffle on doc_id (the window), one on (doc_id, fp) for the
    distinct — both partition-local at cluster scale if the doc table
    is bucketed by doc_id. For 100 TB, the same logic runs as an
    applyInPandas per doc with zero explode; the exploded form keeps
    everything in codegen and is the oracle-checkable one."""
    norm = norm_text(F.col(text_col))
    # sequence() auto-reverses when start > stop — guard short docs.
    positions = F.when(
        F.length(norm) >= k, F.sequence(F.lit(1), F.length(norm) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        F.explode(positions).alias("i"),
        norm.alias("_norm"),
    ).select(
        "doc_id", "i", F.md5(F.expr(f"substring(_norm, i, {k})")).alias("h")
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    return (
        grams.withColumn("wmin", F.min("h").over(win))
        .where(F.col("i") >= w)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Per-doc winnowing fingerprint summary (count + min/max) over
    :func:`winnow_selected`."""
    return winnow_selected(docs, text_col, k, w).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


def boilerplate_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document repeated-span (boilerplate) detection — the
    C4/CCNet-style curation step that flags headers, footers, and
    license blurbs repeated across many documents.

    A winnowing fingerprint shared by >= min_docs DISTINCT documents
    marks a boilerplate span; each doc is scored by the fraction of
    its fingerprints that are boilerplate. Plan: the (doc_id, fp)
    selection is PERSISTED (r8 — it feeds both the df aggregate and
    the join back, so the winnow+tokenize corpus pass runs ONCE at
    runtime); one groupBy(fp) for document frequency, the flagged
    subset joins back on fp (small next to the selection — AQE
    broadcasts it locally, hash join at scale), one final
    groupBy(doc_id). The boilerplate fraction is computed half-up in
    INTEGER arithmetic ((2*10^6*b + n) DIV (2n)): a double
    round(b/n, 6) lands on a .5 boundary whenever n has enough
    factors of 2 (1/128 = 0.0078125), where engines disagree."""
    from .. import cache

    sel = cache.persisted(winnow_selected(docs, text_col, k, w))
    # sel is distinct per (doc_id, fp), so count(*) IS document freq
    boiler = (
        sel.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
    )
    return (
        sel.join(boiler, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.sum(
                F.when(F.col("df").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_boiler",
            (
                F.expr("(2000000 * n_boiler + n_fp) DIV (2 * n_fp)")
                / F.lit(1000000.0)
            ).alias("boiler_frac"),
        )
    )


def bigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-bigram conditional language-model score: avg
    -log2 p(w2 | w1) per doc with MLE estimates from the corpus
    itself — a sharper perplexity-style curation filter than the
    unigram one (KenLM-lite, no external model).

    Bigrams are built PER ROW with array slices (zip_with of the
    token array against its own shift) — no positional self-join, no
    window. Shape — ONE corpus pass: the per-(doc, bigram) count
    frame is PERSISTED and feeds both the bigram-vocabulary
    aggregate and the per-doc scoring join; the CONTEXT counts
    (cw1 = occurrences of bigrams starting with w1) are derived by
    re-aggregating the bigram vocab frame — vocabulary-sized input,
    no second corpus scan. Both model joins are plain key joins with
    NO broadcast hint: bigram vocabulary grows super-linearly with
    the corpus (the worst of the LM family at 100 TB), so a forced
    broadcast would OOM executors; AQE broadcasts at runtime when
    the frame is actually small. The per-doc average uses the same
    round-before-exact-integer-sum discipline as
    :func:`unigram_logprob` so it is bit-stable across engines."""
    from .. import cache

    toks = tokens(F.col(text_col))
    bigrams = bind_once(toks, lambda tk: _shingles_of(tk, 2))
    dbg = cache.persisted(
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_freq = dbg.groupBy("bg").agg(F.sum("c").alias("cbg"))
    ctx_freq = (
        bg_freq.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("cbg").alias("cw1"))
    )
    nll6 = F.round(-F.log2(F.col("cbg") / F.col("cw1")), 6)
    micro = (nll6.cast("decimal(28,10)") * 1000000).cast("bigint")
    scored = (
        bg_freq.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(ctx_freq, "w1")
        .select("bg", micro.alias("micro"))
    )
    return (
        dbg.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("micro")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(2 * _s + n_bigrams) DIV (2 * n_bigrams)")
                / F.lit(1000000.0)
            ).alias("avg_nll2"),
        )
    )


#: Query terms for the conformance keyword-search query (chosen to
#: hit a non-trivial, non-universal slice of the synthetic corpus).
SEARCH_TERMS: tuple[str, ...] = ("spark", "window", "query")


def keyword_search(
    docs: DataFrame, text_col: str = "text", terms: tuple[str, ...] = SEARCH_TERMS
) -> DataFrame:
    """AND-semantics keyword search: documents containing EVERY query
    term (as a whole token), with the total occurrence count of the
    terms — corpus exploration / slice extraction.

    Shape: one pruned scan, per-row codegen only (tokenize →
    array_contains per term → higher-order occurrence count) — zero
    shuffle, embarrassingly parallel. This is the one-off-query form;
    a *repeated*-query workload at 100 TB would amortize an inverted
    token index instead (explode → (tok, doc_id) postings, bucketed
    by tok — the same plan shape as ngram_jaccard_pairs' posting
    build), trading one corpus pass for index storage."""
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    base = docs.select(
        "doc_id", "lang", "source", tokens(F.col(text_col)).alias("tk")
    )
    has_all = None
    for t in terms:
        c = F.array_contains("tk", t)
        has_all = c if has_all is None else (has_all & c)
    return (
        base.where(has_all)
        .select(
            "doc_id",
            "lang",
            "source",
            F.expr(f"size(filter(tk, x -> x IN ({quoted})))")
            .cast("bigint")
            .alias("n_occurrences"),
        )
    )


def importance_weights(
    docs: DataFrame, text_col: str = "text", target_lang: str = "en"
) -> DataFrame:
    """DSIR-style importance weighting for data selection: score each
    document by the sum of per-token log-likelihood ratios between a
    TARGET unigram LM (here: the ``target_lang`` slice — in a real
    pipeline, the high-quality domain you want more of) and the
    SOURCE LM (the whole corpus). High scores = documents that look
    like the target distribution; the selection step keeps the top
    slice or samples ∝ exp(weight).

    Shape — ONE corpus pass (round-8 restructure of the former
    two-pass model-then-score): the per-(doc, token) count frame is
    PERSISTED and feeds both the vocabulary aggregation (corpus tf
    + target tf per token) and the per-doc scoring join; the model
    totals are a one-row aggregate of the vocab frame crossJoin-
    broadcast back into the ratio expression — no driver-side
    collect, no second corpus scan. The vocab/score join carries NO
    broadcast hint: the whitespace-token vocabulary grows with the
    corpus (1e8-1e9 distinct at 100 TB), so a forced broadcast
    would OOM executors; AQE broadcasts at runtime when actually
    small. Target counts use add-one smoothing over the corpus
    vocabulary (tokens unseen in the target slice get mass; corpus
    tokens always have tf >= 1). An empty corpus yields an empty
    vocab frame and therefore an empty (schema-stable) result — no
    special case needed.

    Determinism: the per-token log-ratio is rounded to 6 decimals
    and summed as exact integer micro-units — order-independent,
    bit-stable across engines (the same carrier as unigram_logprob;
    the mean is one trivial division away but a summed integer never
    hits a float-tie).

    Output: (doc_id, n_tokens, logratio_sum_micro)."""
    from .. import cache

    dt = cache.persisted(
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("lang") == target_lang, 1).otherwise(0)
            ).alias("ct"),
        )
    )
    vocab = dt.groupBy("tok").agg(
        F.sum("c").alias("tf_s"), F.sum("ct").alias("tf_t")
    )
    totals = vocab.agg(
        F.sum("tf_s").alias("s"),
        F.sum("tf_t").alias("t"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio6 = F.round(
        F.log2(
            (F.col("tf_t") + F.lit(1.0))
            / (F.col("t") + F.col("v")).cast("double")
        )
        - F.log2(F.col("tf_s") / F.col("s").cast("double")),
        6,
    )
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (ratio6.cast("decimal(28,10)") * 1000000).cast("bigint").alias("micro"),
    )
    return (
        dt.join(scored_vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("micro")).cast("bigint").alias(
                "logratio_sum_micro"
            ),
        )
    )


def build_token_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted token index: one (tok, doc_id) posting row per
    DISTINCT token occurrence per document — the amortized structure
    for repeated keyword queries (:func:`keyword_search` is the
    one-off full-scan form). Build cost: one explode + one distinct
    shuffle; at 100 TB you materialize this bucketed BY tok
    (``engine.materialize_bucketed``) so every query's semi-join is
    co-located and shuffle-free."""
    return (
        docs.select(
            "doc_id", F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
        )
    )


def search_token_index(
    index: DataFrame, terms: tuple[str, ...] = SEARCH_TERMS
) -> DataFrame:
    """AND-semantics retrieval over :func:`build_token_index`: prune
    the postings to the query terms (filter pushes to the index
    scan), then one aggregation keeps doc_ids carrying ALL terms.
    Touches only the query terms' posting lists — O(Σ df(term)), not
    O(corpus) like the scan form.

    Output: (doc_id,) — join back to the corpus for payloads."""
    # dedupe terms: the AND test compares COUNT(DISTINCT tok) to the
    # term-set size, so a caller passing duplicates must not raise
    # the bar to an unreachable count
    uniq = sorted(set(terms))
    n = len(uniq)
    return (
        index.where(F.col("tok").isin(*uniq))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").alias("_nt"))
        .where(F.col("_nt") == n)
        .select("doc_id")
    )


def lexical_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document lexical-diversity profile: type-token ratio,
    hapax-legomenon count (tokens occurring exactly once IN the
    document), and average token length — the cheap "template spam
    vs natural text" signals a curation pass computes before any
    model-based scoring (natural text: TTR falling slowly with
    length, a fat hapax share; templated/boilerplate text: low TTR,
    few hapaxes).

    Shape: ZERO shuffles, pure whole-stage codegen. The hapax count
    uses the sorted-neighbors identity — sort the token array once
    per row; a token occurs exactly once iff it differs from BOTH
    sorted neighbors — O(n log n) per row instead of the O(n^2)
    nested-filter form or an explode + two corpus shuffles. All
    ratios are integer ppm via floor division so both engines agree
    bit-for-bit (no double rounding anywhere).

    Output: (doc_id, n_tokens, n_distinct, n_hapax, ttr_ppm,
    avg_len_ppm); empty-token documents are excluded (every ratio
    would be 0/0).
    """
    tk = tokens(F.col(text_col))
    base = (
        docs.select(
            "doc_id",
            bind_once(
                tk,
                lambda t: F.array_sort(F.filter(t, lambda x: x != F.lit(""))),
            ).alias("s"),
        )
        .withColumn("n", F.size("s"))
        .where(F.col("n") > 0)
        .withColumn("n_distinct", F.expr("size(array_distinct(s))"))
        .withColumn(
            "n_hapax",
            F.expr(
                "size(filter(transform(s, (x, i) ->"
                " CASE WHEN (i = 0 OR s[i-1] <> x)"
                " AND (i = size(s) - 1 OR s[i+1] <> x) THEN 1 END),"
                " v -> v IS NOT NULL))"
            ),
        )
        .withColumn(
            "total_len", F.expr("aggregate(s, 0L, (acc, x) -> acc + length(x))")
        )
    )
    return base.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("n_hapax").cast("bigint").alias("n_hapax"),
        F.expr("CAST(n_distinct AS BIGINT) * 1000000 DIV n").alias("ttr_ppm"),
        F.expr("total_len * 1000000 DIV n").cast("bigint").alias("avg_len_ppm"),
    )


def vocab_oov_rate(
    docs: DataFrame, text_col: str = "text", vocab_size: int = 1000
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: per-document OOV rate
    against the corpus top-``vocab_size`` token vocabulary — the
    check run on a CANDIDATE tokenizer vocabulary before committing
    to it (documents with high OOV under the planned vocab will
    fragment into long byte-fallback sequences and waste context
    budget; a curation pass caps or re-sources them).

    Shape — ONE corpus pass: the per-(doc, token) count frame is
    PERSISTED and feeds both the vocabulary selection (top
    ``vocab_size`` by total frequency, tie-broken on token text —
    a TakeOrderedAndProject, never a global sort) and the per-doc
    coverage join. The vocab frame is bounded by the PARAMETER
    (vocab_size rows), not by the corpus — joining against it is
    scale-safe at any corpus size (AQE broadcasts it). oov_ppm is
    integer floor division — engine-exact.

    Output: (doc_id, n_tokens, n_oov, oov_ppm).
    """
    from .. import cache

    dt = cache.persisted(
        docs.select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        dt.groupBy("tok")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        dt.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


#: Okapi BM25 constants (the standard defaults; written as exact
#: decimal literals so the Spark expression and the SQL oracle embed
#: the same doubles).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    docs: DataFrame,
    text_col: str = "text",
    terms: tuple[str, ...] = SEARCH_TERMS,
    topn: int = 10,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a bounded query-term set — the
    OR-semantics, relevance-ranked counterpart of
    :func:`keyword_search` (which is AND + unranked): score every
    document containing at least one query term by
    sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)), and keep the top-N.

    Shape at 100 TB — ONE corpus pass, ZERO corpus shuffles: doc
    length and per-term tf are per-row higher-order-function counts
    over the bound token array (the query set is bounded, so the
    per-term columns are a fixed-width projection, never a pivot or
    explode); that |docs|-row frame is PERSISTED and feeds (a) the
    one-row corpus-stats aggregate (N, total length, df per term)
    and (b) the scoring filter, which crossJoin-broadcasts the
    one-row stats back. Top-N is orderBy+limit =
    TakeOrderedAndProject (per-partition heap, no global sort); the
    rank window runs over those N rows only (the zipf_fit pattern).

    Determinism: idf and the tf-normalization factor are EACH
    rounded to 6 decimals and lifted to exact integer micro-units
    through DECIMAL; a term's contribution is their exact bigint
    product (1e-12 units) and the document score the exact integer
    sum — no float summation anywhere, and every double operand
    stream (avgdl = exact-int division, the norm denominator) is
    identical on both engines by construction.

    Output: (doc_id, dl, score_u12, rank), rank 1 = best.
    """
    from .. import cache

    tk = tokens(F.col(text_col))
    uniq = sorted(set(terms))
    per_doc = cache.persisted(
        docs.select(
            "doc_id",
            bind_once(
                tk,
                lambda t: F.struct(
                    F.size(F.filter(t, lambda x: x != F.lit(""))).alias("dl"),
                    *[
                        F.size(F.filter(t, lambda x: x == F.lit(term)))
                        .alias(f"tf{i}")
                        for i, term in enumerate(uniq)
                    ],
                ),
            ).alias("_s"),
        ).select("doc_id", "_s.*")
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(uniq))
        ],
    )
    hit = None
    for i in range(len(uniq)):
        c = F.col(f"tf{i}") > 0
        hit = c if hit is None else (hit | c)

    def term_u12(i: int) -> Column:
        idf6 = (
            f"round(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)), 6)"
        )
        tfn6 = (
            f"round(tf{i} * ({BM25_K1} + 1) / (tf{i} + {BM25_K1} * "
            f"(1 - {BM25_B} + {BM25_B} * dl / (sum_dl / n_docs))), 6)"
        )
        return F.expr(
            f"CAST(CAST({idf6} AS DECIMAL(28,10)) * 1000000 AS BIGINT)"
            f" * CAST(CAST({tfn6} AS DECIMAL(28,10)) * 1000000 AS BIGINT)"
        )

    score = term_u12(0)
    for i in range(1, len(uniq)):
        score = score + term_u12(i)
    scored = (
        per_doc.where(hit)
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", score.cast("bigint").alias("score_u12"))
        .orderBy(F.desc("score_u12"), F.asc("doc_id"))
        .limit(topn)
    )
    w = Window.orderBy(F.desc("score_u12"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "dl",
        "score_u12",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def build_postings(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The BM25 index-build half of :func:`bm25_search_many`:
    tokenize the corpus ONCE (persisted) and return

    - ``postings``: (doc_id, dl, tok, tf) — one row per distinct
      (document, term), document length riding along so retrieval
      never needs a second corpus join;
    - ``stats``: one row (n_docs, sum_dl) — the corpus-level BM25
      constants.

    These two frames are the ENTIRE retrieval state: df per term is
    recomputed at probe time from the postings themselves (exact,
    and O(pruned) once the probe's term semi-join lands first), so
    an appended index stays exact — unlike the ANN index's frozen
    centroids, BM25 state composes under union (postings and the
    stats sums are both additive). engine.build_text_index
    materializes ``postings`` bucketed by ``tok`` so probe joins
    read co-located inverted lists."""
    from .. import cache

    tk = tokens(F.col(text_col))
    base = cache.persisted(
        docs.select(
            "doc_id",
            bind_once(tk, lambda a: F.filter(a, lambda x: x != F.lit(""))).alias(
                "tk"
            ),
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("tk")).cast("bigint").alias("sum_dl"),
    )
    postings = (
        base.select(
            "doc_id",
            F.size("tk").cast("bigint").alias("dl"),
            F.explode("tk").alias("tok"),
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return postings, stats


def _bm25_u12_sql(n_docs: str, sum_dl: str) -> str:
    """SQL of one posting's exact integer-u12 BM25 contribution over
    the columns ``df``, ``tf`` and ``dl``: 6-rounded idf times the
    6-rounded tf-norm, each lifted to bigint micro-units through
    DECIMAL (the :func:`bm25_search` arithmetic). ``n_docs`` and
    ``sum_dl`` are bigint SQL operands: the stats columns, or literals
    of the stats an index manifest holds (same types, same operations,
    so the same doubles)."""
    return (
        f"CAST(CAST(round(ln(1.0 + ({n_docs} - df + 0.5) / (df + 0.5)), 6)"
        f" AS DECIMAL(28,10)) * 1000000 AS BIGINT)"
        f" * CAST(CAST(round(tf * ({BM25_K1} + 1) / (tf + {BM25_K1} * "
        f"(1 - {BM25_B} + {BM25_B} * dl / ({sum_dl} / {n_docs}))), 6)"
        f" AS DECIMAL(28,10)) * 1000000 AS BIGINT)"
    )


def bm25_probe(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    topn: int = 10,
) -> DataFrame:
    """The probe half of :func:`bm25_search_many`: score a
    (query_id, term) query table against a prebuilt postings index
    (see :func:`build_postings`) entirely inside the plan. It is the
    batch path of bm25_search_many and engine.text_search's path for a
    batch too large to hold on the driver (:func:`held_batch`);
    smaller batches go through :func:`bm25_probe_held`.

    Postings are pruned to the query term set by a semi-join BEFORE
    anything else touches them (over a tok-bucketed store both the
    prune and the df groupBy are co-located — no index-side
    exchange); df comes from the pruned postings; the one-row stats
    frame is broadcast. Top-N per query is a window over the scored
    (query, doc) frame — never a global sort. Arithmetic is the
    exact integer-u12 BM25 of :func:`bm25_search` (parity pinned).

    Output: (query_id, doc_id, dl, score_u12, rank), rank 1 = best
    per query."""
    terms = queries.select(F.col("term").alias("tok")).distinct()
    pruned = postings.join(terms, "tok", "leftsemi")
    dfreq = pruned.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    u12 = F.expr(_bm25_u12_sql("n_docs", "sum_dl"))
    # distinct BEFORE the join: a query table carrying duplicate
    # (query_id, term) rows (easy in a mined table) must count a
    # term ONCE — BM25 scores a term SET; a raw join would sum that
    # term's contribution twice and break parity with bm25_search
    qterms = queries.select(
        "query_id", F.col("term").alias("tok")
    ).distinct()
    contrib = (
        pruned.join(dfreq, "tok")
        .join(qterms, "tok")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "dl", u12.alias("u12"))
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.max("dl").alias("dl"),
        F.sum("u12").cast("bigint").alias("score_u12"),
    )
    return _top_per_query(scored, topn)


def _top_per_query(scored: DataFrame, topn: int) -> DataFrame:
    """Per-query row_number top-N of a (query_id, doc_id, dl,
    score_u12) frame: best score first, ties to the lower doc id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u12").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= topn)
        .select("query_id", "doc_id", "dl", "score_u12", "rank")
    )


#: query_id types whose values a JSON literal carries exactly (the
#: term -> query ids map of :func:`bm25_probe_held`)
_HELD_QID_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "string"})


def _sql_string(s: str) -> str:
    """SQL literal of a string. A string holding a quote or a backslash
    becomes its UTF-8 bytes as a binary literal cast back to STRING,
    which no parser setting can misread (constant-folded to a plain
    string literal before planning, so IN-list pushdown and bucket
    pruning still see an ordinary literal)."""
    if "'" in s or "\\" in s:
        return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
    return f"'{s}'"


def held_batch(
    queries: DataFrame, cap: int
) -> "tuple[list[tuple], str] | None":
    """Read a bounded (query_id, term) query batch to the driver for
    :func:`bm25_probe_held`: ``(rows, query_id type)``, or None when
    the batch cannot be held — more than ``cap`` rows (``cap`` <= 0
    never holds), a non-string ``term`` or a query_id type the literal
    plan does not render. The limited batch comes back through Arrow:
    ONE job whose tasks read every partition in parallel (a plain
    limit-collect scans one partition first and the rest in a second
    job; a coalesce to one partition reads them one after another)."""
    if cap <= 0:
        return None
    batch = queries.select("query_id", "term")
    types = dict(batch.dtypes)
    if types["term"] != "string" or types["query_id"] not in _HELD_QID_TYPES:
        return None
    table = batch.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    rows = zip(
        table.column("query_id").to_pylist(), table.column("term").to_pylist()
    )
    return list(rows), types["query_id"]


def bm25_probe_held(
    postings: DataFrame,
    n_docs: int,
    sum_dl: "int | None",
    batch: "list[tuple]",
    query_id_type: str,
    topn: int = 10,
) -> DataFrame:
    """BM25 probe of a driver-held query batch (:func:`held_batch`)
    against a postings index, with the corpus stats already known
    (``n_docs``, ``sum_dl``): the serving plan engine.text_search
    runs. Everything bounded is a plan literal, so the only inputs
    the plan reads are the postings:

    - the batch's distinct terms are a literal IN filter on the
      postings scan (bucket pruning on a tok-bucketed store,
      row-group pruning on its tok-sorted files);
    - df per term is a count window partitioned by tok over the
      pruned scan — co-located on the tok buckets, one scan;
    - a literal ``map<term, array<query_id>>`` explodes each posting
      onto the queries holding its term (a duplicate (query_id, term)
      row counts once; a NULL term matches nothing);
    - n_docs / sum_dl are bigint literals in the u12 expression;
    - one repartition by query_id serves both the (query_id, doc_id)
      sum and the per-query top-N window.

    Same integer-u12 arithmetic and tie order as :func:`bm25_probe`,
    so the rows are identical (parity pinned in
    tests/test_text_index.py). Output: (query_id, doc_id, dl,
    score_u12, rank)."""
    by_term: dict[str, dict] = {}
    for qid, term in batch:
        if term is not None:
            by_term.setdefault(term, {})[qid] = None
    if not by_term or not n_docs:
        # nothing to score (and a 0-document corpus has no postings;
        # its 0/0 average length would fail constant folding)
        return postings.select(
            F.lit(None).cast(query_id_type).alias("query_id"),
            "doc_id",
            "dl",
            F.lit(None).cast("bigint").alias("score_u12"),
            F.lit(None).cast("bigint").alias("rank"),
        ).where(F.lit(False))

    # the term -> query ids map is ONE json string literal that
    # from_json turns into a map literal at constant folding (a SQL
    # map of thousands of typed literals costs seconds to parse and
    # optimize). Spark looks a map key up by linear scan, so it is
    # split into ~8-entry maps by crc32(term) — the same bytes hash on
    # the driver (zlib) and in Spark — and a posting reads only its
    # term's map, however many terms the batch holds.
    terms = sorted(by_term)
    n_maps = max(1, len(terms) // 8)
    parts: list[dict] = [{} for _ in range(n_maps)]
    for t in terms:
        parts[zlib.crc32(t.encode("utf-8")) % n_maps][t] = list(by_term[t])
    lookup = (
        f"from_json({_sql_string(json.dumps(parts, ensure_ascii=False))}, "
        f"'array<map<string, array<{query_id_type}>>>')"
        f"[CAST(crc32(tok) % {n_maps} AS INT)][tok]"
    )
    in_list = ", ".join(map(_sql_string, terms))
    u12 = _bm25_u12_sql(
        f"CAST({int(n_docs)} AS BIGINT)", f"CAST({int(sum_dl)} AS BIGINT)"
    )
    hits = (
        postings.where(F.expr(f"tok IN ({in_list})"))
        .select(
            "tok",
            "doc_id",
            "dl",
            "tf",
            F.count(F.lit(1)).over(Window.partitionBy("tok")).alias("df"),
        )
        .select(
            "doc_id",
            "dl",
            F.expr(u12).alias("u12"),
            F.expr(lookup).alias("_qids"),
        )
    )
    scored = (
        hits.select(
            F.explode("_qids").alias("query_id"), "doc_id", "dl", "u12"
        )
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.max("dl").alias("dl"),
            F.sum("u12").cast("bigint").alias("score_u12"),
        )
    )
    return _top_per_query(scored, topn)


def vocab_drift(
    index_postings: DataFrame, batch_postings: DataFrame
) -> DataFrame:
    """The vocabulary-drift instrument behind
    engine.append_to_text_index's report: what share of an incoming
    batch's vocabulary is ABSENT from the stored postings index?
    A batch drawn from the index's distribution re-uses its
    vocabulary (ppm near 0); topic/language drift mints new terms —
    the compaction/rebuild trigger a 100 TB text-index operator
    watches.

    Plan shape: the stored side is pruned to the batch's term set
    FIRST (semi-join — co-located when the index is tok-bucketed),
    which is semantics-preserving for the anti-join (only stored
    terms matching the batch can cancel a batch term), so the whole
    instrument is O(batch + Σ df(batch terms)), never O(index).
    Arithmetic is exact-integer: ppm = floor(new * 1e6 / vocab).

    One row: (batch_vocab, new_terms, new_term_ppm)."""
    batch_terms = batch_postings.select("tok").distinct()
    stored = (
        index_postings.join(batch_terms, "tok", "leftsemi")
        .select("tok")
        .distinct()
    )
    new = batch_terms.join(stored, "tok", "leftanti")
    return (
        batch_terms.agg(
            F.count(F.lit(1)).cast("bigint").alias("batch_vocab")
        )
        .crossJoin(
            F.broadcast(
                new.agg(
                    F.count(F.lit(1)).cast("bigint").alias("new_terms")
                )
            )
        )
        .select(
            "batch_vocab",
            "new_terms",
            F.expr(
                "CAST(CASE WHEN batch_vocab = 0 THEN 0 ELSE "
                "FLOOR(new_terms * 1000000 / batch_vocab) END AS BIGINT)"
            ).alias("new_term_ppm"),
        )
    )


def bm25_search_many(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    topn: int = 10,
) -> DataFrame:
    """Okapi BM25 batch retrieval driven by a QUERY TABLE — the form
    a real pipeline runs (eval-set contamination mining, batched
    retrieval): ``queries`` is (query_id, term) rows, one row per
    query term; every query is scored in ONE shot through the shared
    posting index, with no per-query replanning or corpus scans
    (:func:`bm25_search` is the single-bounded-query special case —
    parity with it per query row is pytest-pinned).

    Shape at 100 TB — ONE corpus pass, postings-sized everything
    after: the tokenized corpus is PERSISTED and feeds (a) the
    one-row corpus stats (N, total length) and (b) the (doc, term,
    tf, dl) posting build (doc length rides along with the posting,
    so no second corpus join is ever needed). Postings are PRUNED to
    the query-table term set by a hash semi-join BEFORE anything
    else touches them — everything downstream is O(Σ df(term)), not
    O(corpus). df comes from the pruned postings themselves; the
    per-term (term, df) frame is bounded by the query table, and the
    query join is a plain key join on term (AQE broadcasts it when
    small — unhinted, because a query TABLE is not bounded by
    construction the way a literal term set is). At scale,
    materialize the postings bucketed BY tok
    (engine.materialize_bucketed) and the retrieval join is
    co-located and shuffle-free. Top-N per query is a row_number
    window partitioned by query_id over the scored (query, doc)
    frame — never a global sort.

    Determinism: identical micro-unit arithmetic to
    :func:`bm25_search` (6-rounded idf and tf-norm, DECIMAL-lifted
    to exact integer u12 products, integer sums); a term absent from
    a document contributes exactly 0 there, so dropping non-matching
    (query, doc, term) triples — what the posting join does — is
    exact, not approximate.

    Output: (query_id, doc_id, dl, score_u12, rank), rank 1 = best
    per query."""
    postings, stats = build_postings(docs, text_col)
    return bm25_probe(postings, stats, queries, topn)


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the characteristic-term
    extractor (topic tagging, keyword summarization, near-dup
    explanation) every corpus-analysis pass wants.

    idf = ln((N + 1) / (df + 1)) (add-one smoothed), rounded to 6
    decimals then lifted to integer micro-units through DECIMAL so
    score = tf * idf_micro is integer-exact cross-engine (the
    importance_weights determinism pattern). Top-k per doc is a
    row_number window PARTITIONED BY doc_id over the per-doc distinct
    term frame — never a corpus-global sort; ties break on term text.

    Shape at 100 TB: explode → (doc, term) count [1 shuffle],
    PERSISTED because it feeds both the df aggregate and the scored
    join (the minhash_lsh_pairs policy: MEMORY_AND_DISK degrades to
    spill, never re-runs the tokenize+explode corpus pass) →
    term-keyed df aggregate [1 small shuffle] + one-row corpus count
    over a doc_id-pruned scan (the one-row total IS broadcast — it
    is literally one row) → per-doc window [1 shuffle partitioned by
    doc]. The idf join back onto tf carries NO broadcast hint: the
    vocabulary grows with the corpus (1e8-1e9 distinct whitespace
    tokens at 100 TB — multi-GB), so a forced broadcast would
    override Spark's size threshold and OOM executors; AQE still
    broadcasts it at runtime when it is actually small.

    Output: (doc_id, term, tf, df, score_micro, rank).
    """
    from .. import cache

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = cache.persisted(
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    total = docs.select("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    idf6 = F.round(
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")), 6
    )
    idf = dfreq.crossJoin(F.broadcast(total)).select(
        "term",
        "df",
        (idf6.cast("decimal(28,10)") * 1000000).cast("bigint").alias("_idf_micro"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.col("_idf_micro")).cast("bigint").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
    )


def quality_filter_percentile(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-source median-quality gate: keep each document scoring at
    or above its OWN source's exact median quality — the standard
    "drop the worse half of every source" curation step, which a
    single corpus-global threshold gets wrong (it empties weak
    sources entirely and keeps every doc of strong ones).

    The per-source median is Spark's exact interpolating
    ``percentile`` over the (already 6-rounded) quality scores —
    an aggregation producing ONE row per source, broadcast back (a
    |sources|-row frame: genuinely bounded, so the hint is correct
    here). The scored (doc_id, source, quality) frame is PERSISTED
    (r8): it feeds both the median aggregate and the filter, so the
    corpus is scanned ONCE at runtime instead of once per branch.
    No corpus-wide window.

    Output: (doc_id, source, quality, src_median) — kept rows only.
    """
    from .. import cache

    ex = quality_exprs(text_col)
    scored = cache.persisted(
        docs.select("doc_id", "source", ex["quality"].alias("quality"))
    )
    med = scored.groupBy("source").agg(
        F.round(F.expr("percentile(quality, 0.5)"), 6).alias("src_median")
    )
    return (
        scored.join(F.broadcast(med), "source")
        .where(F.col("quality") >= F.col("src_median"))
        .select("doc_id", "source", "quality", "src_median")
    )


def perplexity_buckets(
    docs: DataFrame, text_col: str = "text", bucket_bits: float = 0.5
) -> DataFrame:
    """Corpus-LM perplexity histogram — the "where do I set the
    quality-filter threshold" view over :func:`unigram_logprob`:
    bucket every document by its average per-token surprisal
    (half-bit buckets by default) and report each bucket's
    population. A curation pipeline reads this once, picks the
    cutoff bucket, then filters — instead of guessing a threshold
    and re-running.

    All arithmetic is EXACT integer micro-bits (the unigram_logprob
    determinism treatment): per-token nll rounded to 6 then
    DECIMAL-lifted, per-doc average via half-up integer division,
    bucket = avg DIV width. Shape: ONE corpus pass through the
    persisted doc-term frame of :func:`_doc_unigram_stats` (the
    corpus token total is sum(tf) over the vocab aggregate — no
    driver-side count action, no extra pass; the tf join carries no
    broadcast hint because the vocabulary grows with the corpus),
    then a bucket-keyed aggregation over the |docs|-row frame.

    Output: (bucket, lo_bits, n_docs, total_tokens, min_avg_micro,
    max_avg_micro), bucket ascending.
    """
    width = int(round(bucket_bits * 1_000_000))
    per_doc = _doc_unigram_stats(docs, text_col).select(
        "n_tokens", "avg_micro"
    )
    return (
        per_doc.groupBy(
            F.expr(f"avg_micro DIV {width}").cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("avg_micro").cast("bigint").alias("min_avg_micro"),
            F.max("avg_micro").cast("bigint").alias("max_avg_micro"),
        )
        .select(
            "bucket",
            (F.col("bucket") * width / F.lit(1_000_000.0)).alias("lo_bits"),
            "n_docs",
            "total_tokens",
            "min_avg_micro",
            "max_avg_micro",
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    topn: int = 20,
) -> DataFrame:
    """Top-N collocations by pointwise mutual information —
    PMI(a,b) = log2( p(a,b) / (p(a) p(b)) ) over adjacent token
    pairs; the classic new-phrase / multi-word-entity detector a
    corpus-analysis pass runs before tokenizer training (phrases
    with high PMI deserve vocabulary slots).

    Determinism: PMI is computed as ONE log2 over a ratio of integer
    products — c_ab * N_uni^2 / (c_a * c_b * N_bi) — so both engines
    evaluate the same double operand; rounded to 6 before ranking and
    tie-broken on bigram text. ``min_count`` suppresses the
    rare-pair noise that dominates raw PMI.

    Shape: per-row bigram build (array slices, no positional
    self-join), bigram + unigram count aggregates [the two corpus
    passes — both PERSISTED so their totals re-aggregate the
    vocabulary-sized cached frame instead of re-scanning the
    corpus], unigram counts key-joined onto the bigram frame with
    NO broadcast hint (the unigram vocabulary grows with the corpus
    — forced broadcast would OOM at 100 TB; AQE broadcasts at
    runtime when actually small; the two one-row totals ARE
    broadcast), then a global top-N = TakeOrderedAndProject
    (per-partition heap).

    Output: (bigram, w1, w2, c_ab, c_a, c_b, pmi).
    """
    from .. import cache

    toks = tokens(F.col(text_col))
    bigrams = bind_once(toks, lambda tk: _shingles_of(tk, 2))
    bg = docs.select(F.explode(bigrams).alias("bg"))
    bgf_all = cache.persisted(
        bg.groupBy("bg").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    bgf = (
        bgf_all.where(F.col("c_ab") >= min_count)
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
    )
    uni = docs.select(F.explode(toks).alias("w")).where(F.col("w") != "")
    unif = cache.persisted(
        uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    )
    n_uni = unif.agg(F.sum("c_w").cast("bigint").alias("n_uni"))
    n_bi = bgf_all.agg(F.sum("c_ab").cast("bigint").alias("n_bi"))
    joined = (
        bgf.join(unif.withColumnRenamed("w", "w1")
                 .withColumnRenamed("c_w", "c_a"), "w1")
        .join(unif.withColumnRenamed("w", "w2")
              .withColumnRenamed("c_w", "c_b"), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.round(
        F.log2(
            (F.col("c_ab") * F.col("n_uni") * F.col("n_uni")).cast("double")
            / (F.col("c_a") * F.col("c_b") * F.col("n_bi")).cast("double")
        ),
        6,
    )
    return (
        joined.select(
            "bg", "w1", "w2", "c_ab", "c_a", "c_b", pmi.alias("pmi")
        )
        .orderBy(F.desc("pmi"), F.asc("bg"))
        .limit(topn)
        .withColumnRenamed("bg", "bigram")
        .select("bigram", "w1", "w2", "c_ab", "c_a", "c_b", "pmi")
    )


def zipf_fit(
    docs: DataFrame, text_col: str = "text", head: int = 1000
) -> DataFrame:
    """Zipf heavy-tail fit of the vocabulary head: OLS of
    log2(frequency) on log2(rank) over the top-``head`` tokens —
    slope ≈ -s is the Zipf exponent, r2 its goodness. The one-glance
    "is this corpus natural language or template spam" diagnostic
    (natural corpora fit s ≈ 1 tightly; machine-generated or
    boilerplate-heavy corpora bend the line).

    Scale shape: the vocabulary count aggregate is the only corpus
    shuffle; the fit runs on the top-``head`` frame selected by
    ``TakeOrderedAndProject`` (per-partition heap — never a global
    sort, never a vocabulary-wide window), ranked by a window over
    those ``head`` rows only, then reduced through the exact
    decimal power sums of :func:`~..operators.stats.group_ols`
    (6-rounded logs in, bit-stable slope out).

    Output: one row (n, slope, intercept, r2).
    """
    from .stats import group_ols

    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("w")).where(
        F.col("w") != ""
    )
    top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(head)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("w"))
    ranked = top.select(
        F.round(F.log2(F.row_number().over(w).cast("double")), 6).alias(
            "log_rank"
        ),
        F.round(F.log2(F.col("freq").cast("double")), 6).alias("log_freq"),
        F.lit("corpus").alias("g"),
    )
    raw = group_ols(ranked, "g", "log_rank", "log_freq", round6=False)
    # floor to integer micro-units instead of round(…, 6): the two
    # engines compute IDENTICAL doubles here (same power-sum
    # operands), and floor is the one decimalization both implement
    # identically — round() differs by an ulp on half boundaries
    # (observed on this very query's intercept at sf0.1)
    return raw.select(
        "n",
        *[
            F.floor(F.col(c) * 1_000_000).cast("bigint").alias(f"{c}_micro")
            for c in ("slope", "intercept", "r2")
        ],
    )


def countmin_heavyhitters(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    k: int = 10,
) -> DataFrame:
    """[EXT] Count-min-sketch heavy hitters over the corpus token
    stream (r15): the streaming-sketch answer to "what are the
    hottest terms" when the vocabulary itself is too large to hold —
    the canonical pre-pass for stopword discovery, contamination
    tracking, and frequency-capped sampling over a 100 TB corpus.

    The sketch: ``depth`` hash rows of ``width`` counters. Every
    token occurrence increments cell ``(r, md5('cms<r>:' || tok) %
    width)``; a token's estimate is the MIN over its ``depth`` cells
    — never below the true count (collisions only ADD), and within
    2N/width of it with probability 1 − 2^−depth (Cormode &
    Muthukrishnan 2005). The hash is md5, not an engine-specific
    hash, exactly like the MinHash/SimHash/HLL oracles: the DuckDB
    oracle replays the counter table BIT-FOR-BIT, so the estimates
    hash-match rather than needing tolerance booleans.

    Scale shape: ONE tokenize+count corpus shuffle (map-side
    combined, vocabulary-sized result, persisted); the sketch build
    then runs over the DISTINCT vocabulary — ``depth`` rows per
    distinct token, never per occurrence — into a ``depth × width``
    cell table (KBs; mergeable across corpora/streams by cell-wise
    addition, the property that makes CMS the streaming choice). The
    exact top-``k`` comes off TakeOrderedAndProject (per-partition
    heap, the zipf_fit rule) and reads its estimates through a
    broadcast join against the cell table — no second corpus pass
    anywhere.

    Output: ``k`` rows (tok, freq_exact, cms_est, overestimates,
    overestimate_bias) ordered by exact frequency — ``overestimates``
    pins the sketch's one-sided error contract, the bias its
    collision mass.
    """
    from .. import cache

    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok") != "")
    # one vocabulary aggregate feeds BOTH the sketch build and the
    # exact top-k (the build_postings single-corpus-pass rule)
    counts = cache.persisted(
        toks.groupBy("tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
    )

    def _bucket(r: int):
        # the module's one engine-agnostic md5 bucket helper — the
        # idiom must not fork (review r15): if the documented 100 TB
        # xxhash64 swap ever lands there, the CMS rows follow it
        return hash_bucket(
            F.concat(F.lit(f"cms{r}:"), F.col("tok")), width
        ).cast("int")

    row_buckets = F.posexplode(
        F.array(*[_bucket(r) for r in range(depth)])
    ).alias("r", "b")
    cells = counts.select("cnt", row_buckets).groupBy("r", "b").agg(
        F.sum("cnt").alias("c")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(k)
    est = (
        top.select("tok", "cnt", row_buckets)
        .join(F.broadcast(cells), ["r", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("cnt").alias("freq_exact"),
        "cms_est",
        (F.col("cms_est") >= F.col("cnt")).alias("overestimates"),
        (F.col("cms_est") - F.col("cnt"))
        .cast("bigint")
        .alias("overestimate_bias"),
    ).orderBy(F.desc("freq_exact"), F.asc("tok"))


def bloom_membership(
    docs: DataFrame,
    text_col: str = "text",
    m: int = 2048,
    k: int = 4,
    n_probes: int = 100,
) -> DataFrame:
    """[EXT] Bloom-filter membership sketch over corpus content
    fingerprints (r16; Bloom 1970) — the count-min sibling for SET
    membership: the mergeable KB-sized pre-filter that answers "is
    this document already in the 100 TB reference corpus?" with a
    broadcast instead of a corpus join (the dedup_cross_corpus
    fast path; a miss is DEFINITIVE, only hits need the exact
    verify).

    The sketch: one ``m``-bit array, ``k`` hash functions. Every
    distinct corpus fingerprint ``fp = md5(norm_text(text))`` sets
    bits ``md5('bloom<j>:' || fp) % m`` for ``j < k``; a probe is a
    member iff ALL its ``k`` bits are set. No false negatives ever
    (the one-sided contract, materialized as a column the oracle
    hash-checks); false positives at rate ~``(1-e^(-kn/m))^k``. The
    hash is md5 like the MinHash/SimHash/CMS oracles, so DuckDB
    replays the bit table BIT-FOR-BIT and the verdict columns
    hash-match rather than needing tolerance.

    Scale shape: ONE corpus pass to distinct fingerprints, then
    ``k`` rows per distinct fingerprint into a DISTINCT over [0, m)
    — the stored state is at most ``m`` rows (KBs), mergeable
    across corpora/shards/streams by plain set union, which is why
    a Bloom filter (not the corpus, not even its fingerprint list)
    is what ships to the probing side. Probes pay a broadcast join
    against the bit table — corpus never rescanned.

    Output: one row per probe — ``n_probes`` corpus documents
    (``doc:<id>``, expect member) interleaved with ``n_probes``
    synthetic absent keys (``absent:<i>``) — with (probe_key,
    in_corpus, bloom_member, false_positive, false_negative),
    ordered by probe_key; false_negative must be all-false."""
    spark = docs.sparkSession
    # NULL text fingerprints as the empty string: a bare md5(NULL)
    # is NULL, which would set no bits and turn the document's own
    # probe into a false NEGATIVE — breaking the one-sided contract
    # the operator exists for (review r16)
    fp_expr = F.md5(F.coalesce(norm_text(F.col(text_col)), F.lit("")))

    def _bits(col: Column):
        # the module's one engine-agnostic md5 bucket helper — the
        # CMS idiom (review r15): if the documented 100 TB xxhash64
        # swap ever lands in hash_bucket, the bloom bits follow it
        return F.posexplode(
            F.array(
                *[
                    hash_bucket(
                        F.concat(F.lit(f"bloom{j}:"), col), m
                    ).cast("int")
                    for j in range(k)
                ]
            )
        ).alias("j", "bit")

    bits = (
        docs.select(fp_expr.alias("fp"))
        .distinct()
        .select(_bits(F.col("fp")))
        .select("bit")
        .distinct()
    )
    present = docs.where(F.col("doc_id") < n_probes).select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "probe_key"
        ),
        fp_expr.alias("pfp"),
        F.lit(True).alias("in_corpus"),
    )
    absent = spark.range(n_probes).select(
        F.concat(F.lit("absent:"), F.col("id").cast("string")).alias(
            "probe_key"
        ),
        F.md5(F.concat(F.lit("absent:"), F.col("id").cast("string"))).alias(
            "pfp"
        ),
        F.lit(False).alias("in_corpus"),
    )
    probe_bits = present.unionByName(absent).select(
        "probe_key", "in_corpus", _bits(F.col("pfp"))
    )
    verdicts = (
        probe_bits.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("probe_key", "in_corpus")
        .agg((F.min(F.coalesce("hit", F.lit(0))) == 1).alias("bloom_member"))
    )
    return verdicts.select(
        "probe_key",
        "in_corpus",
        "bloom_member",
        (F.col("bloom_member") & ~F.col("in_corpus")).alias(
            "false_positive"
        ),
        (F.col("in_corpus") & ~F.col("bloom_member")).alias(
            "false_negative"
        ),
    ).orderBy("probe_key")


def rrf_fuse(
    rankings: "list[DataFrame]",
    rrf_k: int = 60,
    topk: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009)
    of N per-query rankings — the standard way to combine lexical
    (BM25) and vector (ANN) retrieval without score calibration:
    fused(d) = sum over sources of 1/(rrf_k + rank_source(d)). Each
    input needs (query_id, <id_col>, rank); only ranks are read, so
    any of this repo's retrieval operators plug in directly (at
    least one ranking is required).

    Scale shape: each ranking is already top-k per query (bounded nq
    x k rows), so the union + two-key aggregation + per-query window
    are all bounded by the query batch — fusion adds NO corpus work.
    Determinism: the contribution is carried as the exact integer
    1000000 DIV (rrf_k + rank) (floor division of exact integers —
    identical in any engine), ties broken by the lower id. Output
    (query_id, <id_col>, rrf_micro, n_sources, rank)."""
    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking is required")
    parts = []
    for r in rankings:
        parts.append(
            r.select(
                "query_id",
                F.col(id_col),
                F.expr(f"CAST(1000000 AS BIGINT) DIV ({rrf_k} + rank)").alias(
                    "_c"
                ),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", id_col).agg(
        F.sum("_c").cast("bigint").alias("rrf_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", id_col, "rrf_micro", "n_sources", "rank")
    )
