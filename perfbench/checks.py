"""Independent answers the benchmark checks the package's outputs
against: a DuckDB mirror for SQL, exact numpy top-k for ANN probes,
an exact in-Python BM25 for text probes, and the ``plans`` registry's
own DuckDB oracles for the curation entries."""

from __future__ import annotations

import datetime as dt
import math
import sys
from collections import Counter
from decimal import Decimal

import numpy as np

#: Okapi BM25 parameters (the values the package's text operators use)
BM25_K1 = 1.2
BM25_B = 0.75

#: mean recall@k an IVF probe batch must reach against exact search
RECALL_FLOOR = 0.7


def fail(why: str) -> bool:
    """Report why a check failed (stderr) and fail it."""
    print(f"check: {why}", file=sys.stderr)
    return False


def norm_value(v):
    """One comparable rendering for Spark and DuckDB values."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        return round(float(v), 4)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def norm_rows(rows) -> list:
    return sorted(
        (tuple(norm_value(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def same_rows(got, want) -> bool:
    return norm_rows(got) == norm_rows(want)


# ---------------------------------------------------------------------------
# DuckDB mirror
# ---------------------------------------------------------------------------

DUCK_TYPES = {
    "NUMBER": "DECIMAL(38,18)",
    "STRING": "VARCHAR",
    "LOCAL_DATE": "DATE",
}


def duck_mirror(tables: dict, columns: dict):
    """In-memory DuckDB database holding the same rows the sink loads."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for name, cols in columns.items():
        ddl = ", ".join(f"{c} {DUCK_TYPES[t]}" for c, t in cols)
        con.execute(f"CREATE TABLE {name} ({ddl})")
        frame = pd.DataFrame({c: tables[name][c] for c, _ in cols})
        con.register("_src", frame)
        con.execute(f"INSERT INTO {name} SELECT * FROM _src")
        con.unregister("_src")
    return con


# ---------------------------------------------------------------------------
# ANN: exact cosine top-k
# ---------------------------------------------------------------------------


class ExactVectors:
    """The corpus an IVF index serves, for exact cosine search."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = ids.astype(np.int64)
        self.unit = self._unit(vecs.astype(np.float64))
        self.min_recall = 1.0  # lowest batch recall seen, for the detail line

    @staticmethod
    def _unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    def add(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids.astype(np.int64)])
        self.unit = np.vstack([self.unit, self._unit(vecs.astype(np.float64))])

    def check(self, queries: np.ndarray, rows, k: int) -> bool:
        """``rows`` = (query_id, neighbor_id, cos_sim, rank) with query ids
        0..len(queries)-1. Scores must match exact cosine, ranks must
        be ordered, and mean recall@k must reach RECALL_FLOOR."""
        sims = self._unit(queries.astype(np.float64)) @ self.unit.T
        pos = {int(i): j for j, i in enumerate(self.ids)}
        by_q: dict[int, list] = {}
        for qid, nid, cos, rank in rows:
            by_q.setdefault(int(qid), []).append((int(rank), int(nid), float(cos)))
        recall = 0.0
        for q in range(len(queries)):
            got = sorted(by_q.get(q, []))
            if len(got) != min(k, len(self.ids)):
                return fail(f"ann query {q}: {len(got)} neighbours")
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
                return fail(f"ann query {q}: ranks {[r for r, _, _ in got]}")
            for _, nid, cos in got:
                if nid not in pos or abs(sims[q, pos[nid]] - cos) > 1e-5:
                    return fail(f"ann query {q}: neighbour {nid} scored {cos}")
            kth = np.sort(sims[q])[-k]
            recall += sum(sims[q, pos[nid]] >= kth - 1e-6 for _, nid, _ in got) / k
        recall /= len(queries)
        self.min_recall = min(self.min_recall, recall)
        return recall >= RECALL_FLOOR or fail(f"ann recall@{k} {recall:.2f}")


# ---------------------------------------------------------------------------
# text: exact BM25
# ---------------------------------------------------------------------------


class ExactBm25:
    """Okapi BM25 over whitespace tokens of lower-cased text, with
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)). Appends are folded in,
    as the index's appends are."""

    def __init__(self) -> None:
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.df: Counter = Counter()

    def add(self, ids, texts) -> None:
        for i, t in zip(ids, texts):
            toks = t.lower().split()
            c = Counter(toks)
            self.tf[int(i)] = c
            self.dl[int(i)] = len(toks)
            self.df.update(c.keys())

    def scores(self, terms) -> dict[int, float]:
        n = len(self.tf)
        avgdl = sum(self.dl.values()) / n
        out: dict[int, float] = Counter()
        for t in set(terms):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, c in self.tf.items():
                tf = c.get(t)
                if tf:
                    norm = tf * (BM25_K1 + 1) / (
                        tf + BM25_K1 * (1 - BM25_B + BM25_B * self.dl[d] / avgdl)
                    )
                    out[d] += idf * norm
        return out

    def check(self, queries: dict, rows, topn: int) -> bool:
        """``rows`` = (query_id, doc_id, score_u12, rank). Each query's
        hits must score as exact BM25 does (to 1e-4 relative; the index
        rounds each term's idf and tf factor to 6 places) and be a top-``topn``
        set: nothing left out scores above the lowest returned hit."""
        by_q: dict[int, list] = {}
        for qid, did, u12, rank in rows:
            by_q.setdefault(int(qid), []).append((int(rank), int(did), u12 / 1e12))
        for qid, terms in queries.items():
            exact = self.scores(terms)
            got = sorted(by_q.get(qid, []))
            if len(got) != min(topn, len(exact)):
                return fail(f"text query {qid}: {len(got)} hits of {len(exact)}")
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
                return fail(f"text query {qid}: ranks {[r for r, _, _ in got]}")
            for _, did, score in got:
                if abs(exact.get(did, -1.0) - score) > 1e-4 * max(1.0, score):
                    return fail(f"text query {qid}: doc {did} scored {score}")
            if got:
                floor = min(s for _, _, s in got)
                ids = {d for _, d, _ in got}
                slack = 1e-4 * max(1.0, floor)
                if any(s > floor + slack for d, s in exact.items() if d not in ids):
                    return fail(f"text query {qid}: a better document left out")
        return True


# ---------------------------------------------------------------------------
# curation entries: the plans registry's DuckDB oracles
# ---------------------------------------------------------------------------


def oracle_frames(sf_dir: str, names) -> dict:
    """Run each entry's registered oracle SQL on DuckDB over the same
    parquet files the Spark side reads."""
    import duckdb

    from quasar_destination_h2_spark import plans

    oracles = plans.all_oracles()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {n: con.execute(oracles[n]).df() for n in names}


def same_frame(got, want) -> bool:
    """Order-insensitive equality of two pandas frames, by column name."""
    if sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(got.columns)
    return same_rows(
        got[cols].itertuples(index=False), want[cols].itertuples(index=False)
    )
