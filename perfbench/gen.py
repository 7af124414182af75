"""Seeded input generators for the destination benchmark.

Every input the benchmark hands the package is made here from one
``random.Random`` / ``numpy`` seed, so the same seed gives the same
bytes. Nothing is read from outside the run directory.

CSV payloads follow the Quasar wire format the sink expects:
headerless, ``,`` separated, ``"`` quoted with doubled quotes,
``\\r\\n`` record terminators, empty field = NULL.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal

import numpy as np

#: Small shared vocabulary (the shape of the repo's documents fixture:
#: a few dozen frequent words, so 3-gram shingles repeat across docs).
COMMON_WORDS = (
    "the a fast slow key order sort table scan merge part window small "
    "big hash join batch stream spark group query row data filter "
    "customer line value agg column vector"
).split()

#: A Zipf-ish tail of rare terms, so BM25 idf varies across terms.
RARE_WORDS = [f"w{i:03d}" for i in range(400)]

EMBED_DIM = 64

EPOCH = dt.date(1995, 1, 1)


def quote(s: str) -> str:
    """Minimal Quasar CSV quoting for one string field."""
    if any(c in s for c in ',"\r\n') or s == "":
        return '"' + s.replace('"', '""') + '"'
    return s


# ---------------------------------------------------------------------------
# ingest: typed pushes
# ---------------------------------------------------------------------------

#: (column name, ColumnType member name) of the ingest push schema — one
#: column per scalar type the sink accepts (OffsetDate and Interval are
#: refused by design, so a push carrying them would fail).
PUSH_COLUMNS = (
    ("k", "NUMBER"),
    ("price", "NUMBER"),
    ("s", "STRING"),
    ("b", "BOOLEAN"),
    ("d", "LOCAL_DATE"),
    ("ts", "LOCAL_DATE_TIME"),
    ("tz", "OFFSET_DATE_TIME"),
    ("lt", "LOCAL_TIME"),
    ("ot", "OFFSET_TIME"),
    ("nul", "NULL"),
)


@dataclass
class Push:
    """One small push: its column order and payload, plus the aggregates
    a correct load must read back."""

    columns: tuple  # ((name, ColumnType name), ...)
    payload: bytes
    rows: int
    sum_k: int
    sum_price: Decimal
    sum_len_s: int
    n_true: int


def push(rng: random.Random, columns: tuple, rows: int) -> Push:
    """Render ``rows`` rows of the push schema in ``columns`` order."""
    out = []
    sum_k = sum_len = n_true = 0
    sum_price = Decimal(0)
    base_k = rng.randrange(1, 10**9)
    for i in range(rows):
        k = base_k + i
        cents = rng.randrange(0, 10**7)
        price = Decimal(cents).scaleb(-2)
        word = rng.choice(COMMON_WORDS)
        # every 7th string carries a comma and a quote: the quoted path
        s = f'{word}, "{i}"' if i % 7 == 0 else word
        b = rng.random() < 0.5
        day = EPOCH + dt.timedelta(days=rng.randrange(0, 3650))
        sec = rng.randrange(0, 86400)
        hh, mm, ss = sec // 3600, sec // 60 % 60, sec % 60
        fields = {
            "k": str(k),
            "price": str(price),
            "s": quote(s),
            "b": "true" if b else "false",
            "d": day.isoformat(),
            "ts": f"{day.isoformat()}T{hh:02d}:{mm:02d}:{ss:02d}",
            "tz": f"{day.isoformat()}T{hh:02d}:{mm:02d}:{ss:02d}+0{sec % 5}:00",
            "lt": f"{hh:02d}:{mm:02d}:{ss:02d}",
            "ot": f"{hh:02d}:{mm:02d}:{ss:02d}-0{sec % 3}:00",
            "nul": "",
        }
        out.append(",".join(fields[c] for c, _ in columns))
        sum_k += k
        sum_price += price
        sum_len += len(s)
        n_true += b
    payload = ("\r\n".join(out) + "\r\n").encode()
    return Push(columns, payload, rows, sum_k, sum_price, sum_len, n_true)


def push_schemas(rng: random.Random, tables: list[str]) -> dict:
    """A fixed column order per rotating table name."""
    out = {}
    for t in tables:
        cols = list(PUSH_COLUMNS)
        rng.shuffle(cols)
        out[t] = tuple(cols)
    return out


# ---------------------------------------------------------------------------
# TPC-H-shaped tables (sql_serve fixtures, ingest bulk push)
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: name -> ((column, ColumnType name), ...). Keys and money are
#: NUMBER (the sink's decimal carrier), dates LOCAL_DATE.
TPCH_COLUMNS = {
    "customer": (
        ("c_custkey", "NUMBER"), ("c_name", "STRING"),
        ("c_nationkey", "NUMBER"), ("c_acctbal", "NUMBER"),
        ("c_mktsegment", "STRING"),
    ),
    "orders": (
        ("o_orderkey", "NUMBER"), ("o_custkey", "NUMBER"),
        ("o_orderstatus", "STRING"), ("o_totalprice", "NUMBER"),
        ("o_orderdate", "LOCAL_DATE"), ("o_orderpriority", "STRING"),
    ),
    "lineitem": (
        ("l_orderkey", "NUMBER"), ("l_partkey", "NUMBER"),
        ("l_suppkey", "NUMBER"), ("l_linenumber", "NUMBER"),
        ("l_quantity", "NUMBER"), ("l_extendedprice", "NUMBER"),
        ("l_discount", "NUMBER"), ("l_tax", "NUMBER"),
        ("l_returnflag", "STRING"), ("l_linestatus", "STRING"),
        ("l_shipdate", "LOCAL_DATE"),
    ),
}


def tpch(seed: int, n_orders: int, lines_per_order: float = 4.0) -> dict:
    """TPC-H-shaped rows as column-name -> list dicts (python values:
    ints, 2-place ``Decimal`` money, ``date``, ``str``)."""
    r = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    out: dict[str, dict] = {}
    out["customer"] = {
        "c_custkey": list(range(1, n_cust + 1)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": r.integers(0, 25, n_cust).tolist(),
        "c_acctbal": [Decimal(int(c)).scaleb(-2) for c in r.integers(-99999, 999999, n_cust)],
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    }
    days = r.integers(0, 2400, n_orders)
    out["orders"] = {
        "o_orderkey": list(range(1, n_orders + 1)),
        "o_custkey": r.integers(1, n_cust + 1, n_orders).tolist(),
        "o_orderstatus": ["FOP"[i] for i in r.integers(0, 3, n_orders)],
        "o_totalprice": [Decimal(int(c)).scaleb(-2) for c in r.integers(100000, 50000000, n_orders)],
        "o_orderdate": [EPOCH + dt.timedelta(days=int(d)) for d in days],
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_orders)],
    }
    out["lineitem"] = lineitem(r, n_orders, lines_per_order)
    return out


def lineitem(r: np.random.Generator, n_orders: int, lines_per_order: float) -> dict:
    n = int(n_orders * lines_per_order)
    okeys = np.sort(r.integers(1, n_orders + 1, n))
    # linenumber = position within its order run
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    qty = r.integers(1, 51, n)
    price_cents = qty * r.integers(90000, 200000, n) // 100
    return {
        "l_orderkey": okeys.tolist(),
        "l_partkey": r.integers(1, 20001, n).tolist(),
        "l_suppkey": r.integers(1, 1001, n).tolist(),
        "l_linenumber": (np.arange(n) - run_start + 1).tolist(),
        "l_quantity": qty.tolist(),
        "l_extendedprice": [Decimal(int(c)).scaleb(-2) for c in price_cents],
        "l_discount": [Decimal(int(c)).scaleb(-2) for c in r.integers(0, 11, n)],
        "l_tax": [Decimal(int(c)).scaleb(-2) for c in r.integers(0, 9, n)],
        "l_returnflag": ["RAN"[i] for i in r.integers(0, 3, n)],
        "l_linestatus": ["OF"[i] for i in r.integers(0, 2, n)],
        "l_shipdate": [EPOCH + dt.timedelta(days=int(d)) for d in r.integers(0, 2500, n)],
    }


def render(v) -> str:
    if isinstance(v, str):
        return quote(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def write_csv(path: str, cols: dict, names: tuple) -> int:
    """Write one table as a Quasar CSV export; returns its byte size."""
    columns = [cols[c] for c, _ in names]
    with open(path, "w", newline="", encoding="utf-8") as f:
        for row in zip(*columns):
            f.write(",".join(map(render, row)))
            f.write("\r\n")
        return f.tell()


# ---------------------------------------------------------------------------
# documents and embeddings (index_serve and its curation pass)
# ---------------------------------------------------------------------------


def _doc_text(r: random.Random, n_tok: int) -> str:
    toks = []
    for _ in range(n_tok):
        if r.random() < 0.25:
            # Zipf-ish rare term: low ids far more often than high ones
            toks.append(RARE_WORDS[int(len(RARE_WORDS) * r.random() ** 3)])
        else:
            toks.append(r.choice(COMMON_WORDS))
    return " ".join(toks)


def documents(seed: int, n: int, first_id: int = 0, dup_share: float = 0.1) -> dict:
    """Documents with planted near-duplicates: ``dup_share`` of them are
    an earlier doc with one or two tokens replaced (3-gram Jaccard
    above the dedup threshold for the longer docs) or an exact copy."""
    r = random.Random(seed)
    ids, texts = [], []
    for i in range(n):
        if texts and r.random() < dup_share:
            toks = r.choice(texts).split()
            for _ in range(r.randrange(0, 3)):
                toks[r.randrange(len(toks))] = r.choice(COMMON_WORDS)
            text = " ".join(toks)
        else:
            text = _doc_text(r, r.randrange(8, 90))
        ids.append(first_id + i)
        texts.append(text)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [r.choice(("en", "en", "de", "fr", "es", "zh")) for _ in ids],
        "source": [f"src{r.randrange(20)}" for _ in ids],
        "n_chars": [len(t) for t in texts],
    }


def centers(seed: int, n_clusters: int) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n_clusters, EMBED_DIM))


def embeddings(seed: int, cents: np.ndarray, n: int, first_id: int = 0) -> dict:
    """Float32 vectors drawn around ``cents`` (one label per cluster)."""
    r = np.random.default_rng(seed)
    labels = r.integers(0, len(cents), n)
    vecs = cents[labels] + r.normal(scale=0.6, size=(n, EMBED_DIM))
    return {
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": labels.astype(np.int32),
    }


def text_queries(r: random.Random, first_qid: int) -> list[tuple[int, str]]:
    """(query_id, term) rows of one batch: five queries of 2, 3, 4, 5 and
    6 distinct terms, so every batch carries the same amount of work."""
    rows = []
    for q, n_terms in enumerate(r.sample(range(2, 7), 5)):
        terms = set()
        while len(terms) < n_terms:
            pool = RARE_WORDS[:120] if r.random() < 0.6 else COMMON_WORDS
            terms.add(r.choice(pool))
        rows.extend((first_qid + q, t) for t in sorted(terms))
    return rows
