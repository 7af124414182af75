"""The closed-loop workloads of the destination benchmark.

Each workload makes its inputs from the run seed (``prepare``), loads
them into a fresh engine during set-up (``load``), and then yields an
endless, fixed cycle of operations (``ops``) whose parameters come
from the seed. One client runs them back to back: the next operation
starts when the previous one has returned, as a Quasar push or a JDBC
statement does.

An operation's ``run`` is timed and must materialize its result; its
``check`` runs after the timer stops and compares the result against
an independent answer (see ``checks``).
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import checks
import gen


@dataclass
class Op:
    kind: str  # the metric family: push bulk read write ann text append curate
    variant: str  # the statement template, payload form or entry name
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    #: bytes of user data a push carries (the stored-bytes ratio's base)
    input_bytes: int = 0
    #: CSV bytes of one row a DML statement changes (write amplification)
    row_bytes: float = 0.0


class Ctx:
    """What a workload needs from the run: the session, the current
    engine, the tracer, the input directory, the seed and the size
    scale."""

    def __init__(self, spark, tracer, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.engine = None
        self.parallelism = spark.sparkContext.defaultParallelism
        self.input_dir = os.path.join(run_dir, "input")
        os.makedirs(self.input_dir, exist_ok=True)

    def n(self, base: int, floor: int = 20) -> int:
        return max(floor, int(base * self.scale))


def columns(spec) -> list:
    from quasar_destination_h2_spark.types import Column, ColumnType

    return [Column(c, ColumnType[t]) for c, t in spec]


def collect(ctx: Ctx, df):
    with ctx.tracer.span("spark.collect"):
        return df.collect()


# ---------------------------------------------------------------------------


class Pushes:
    """Sink pushes: full replaces of 8 rotating tables (100-5,000 rows,
    every scalar column type, given as bytes or a chunk iterator, so
    they spool), and a bulk lineitem CSV export (100,000 rows) given by
    path."""

    TABLES = [f"ing_{i}" for i in range(8)]
    BULK_ORDERS = 25_000
    BULK_TABLE = "lineitem_bulk"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed + 2)
        self.count = itertools.count()
        self.schemas = gen.push_schemas(self.rng, self.TABLES)
        bulk = gen.lineitem(
            np.random.default_rng(ctx.seed + 2), ctx.n(self.BULK_ORDERS), 4.0
        )
        self.bulk_cols = gen.TPCH_COLUMNS["lineitem"]
        self.bulk_path = os.path.join(ctx.input_dir, "lineitem_bulk.csv")
        self.bulk_bytes = gen.write_csv(self.bulk_path, bulk, self.bulk_cols)
        self.bulk_want = [
            (
                len(bulk["l_orderkey"]),
                sum(bulk["l_orderkey"]),
                sum(bulk["l_quantity"]),
            )
        ]

    def push(self) -> Op:
        i = next(self.count)
        table = self.TABLES[i % len(self.TABLES)]
        p = gen.push(self.rng, self.schemas[table], self.rng.randrange(100, 5001))
        cols = columns(p.columns)
        chunked = i % 2 == 1
        sink = self.ctx.engine.csv_create_sink()

        def run():
            if chunked:
                src = (p.payload[o : o + 65536] for o in range(0, len(p.payload), 65536))
            else:
                src = p.payload
            return sink.consume(table, cols, src)

        def check(_):
            got = self.ctx.engine.execute_sql(
                f"SELECT COUNT(*), SUM(k), SUM(price), SUM(LENGTH(s)), "
                f"SUM(CASE WHEN b THEN 1 ELSE 0 END), COUNT(nul), COUNT(tz), "
                f"COUNT(ot) FROM {table}"
            ).collect()
            want = [(p.rows, p.sum_k, p.sum_price, p.sum_len_s, p.n_true, 0, p.rows, p.rows)]
            return checks.same_rows(got, want)

        return Op(
            "push",
            "chunks" if chunked else "bytes",
            run,
            check,
            input_bytes=len(p.payload),
        )

    def bulk(self) -> Op:
        cols = columns(self.bulk_cols)
        sink = self.ctx.engine.csv_create_sink()

        def run():
            return sink.consume(self.BULK_TABLE, cols, self.bulk_path)

        def check(_):
            got = self.ctx.engine.execute_sql(
                f"SELECT COUNT(*), SUM(l_orderkey), SUM(l_quantity) FROM {self.BULK_TABLE}"
            ).collect()
            return checks.same_rows(got, self.bulk_want)

        return Op("bulk", "path", run, check, input_bytes=self.bulk_bytes)


# ---------------------------------------------------------------------------


#: read templates: name -> (H2 statement for execute_sql, DuckDB statement).
#: ``{k}`` order key, ``{c}`` customer key, ``{d}`` date, ``{p}`` price,
#: ``{b}`` bit pattern, ``{s}`` order status.
READS = {
    "point_order": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        "FROM orders WHERE o_orderkey = {k}",
    ),
    "top_n": (
        "SELECT TOP 5 o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} "
        "ORDER BY o_totalprice DESC, o_orderkey",
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
    ),
    "point_customer": (
        "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {c}",
    ),
    "dateadd": (
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate >= "
        "DATEADD('DAY', -30, DATE '{d}') AND o_orderdate < DATE '{d}'",
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate >= "
        "DATE '{d}' - INTERVAL 30 DAY AND o_orderdate < DATE '{d}'",
    ),
    "aggregate": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS q, "
        "SUM(l_extendedprice) AS p FROM lineitem WHERE l_shipdate <= DATE '{d}' "
        "GROUP BY l_returnflag, l_linestatus",
    ),
    "casewhen": (
        "SELECT o_orderkey, CASEWHEN(o_totalprice > {p}, 'high', 'low') AS band "
        "FROM orders WHERE o_custkey = {c}",
        "SELECT o_orderkey, CASE WHEN o_totalprice > {p} THEN 'high' ELSE 'low' END "
        "AS band FROM orders WHERE o_custkey = {c}",
    ),
    "bitand": (
        "SELECT COUNT(*) AS n FROM orders WHERE BITAND(o_custkey, 7) = {b} "
        "AND o_orderstatus = '{s}'",
        "SELECT COUNT(*) AS n FROM orders WHERE (CAST(o_custkey AS BIGINT) & 7) = {b} "
        "AND o_orderstatus = '{s}'",
    ),
    "join3": (
        "SELECT c.c_mktsegment, COUNT(*) AS n_lines, SUM(l.l_extendedprice) AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderdate >= DATE '{d}' GROUP BY c.c_mktsegment",
    ),
}

#: one cycle: 10 reads, 2 DML statements, 3 small pushes and a bulk
#: push; the DML statements rotate through the four verbs over two cycles
CYCLE = (
    "point_order", "top_n", "push", "point_customer", "dateadd", "write",
    "aggregate", "push", "point_order", "casewhen", "bulk", "bitand",
    "write", "join3", "push", "point_customer",
)
WRITE_VERBS = ("insert", "update", "delete", "merge")

ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


class IngestSql:
    """The destination's two front doors in one client's loop: sink pushes
    (:class:`Pushes`) between a seeded SQL mix through ``execute_sql``
    over TPC-H tables the sink loaded during set-up — point lookups,
    H2-dialect statements, one aggregate, one 3-way join, and INSERT /
    UPDATE / DELETE / MERGE on orders. A DuckDB mirror receives the same
    writes and answers every read."""

    name = "ingest_sql"
    #: the end-to-end figures: reads, and every kind of write (pushes,
    #: bulk loads, DML statements)
    primary, secondary = ("read",), ("push", "bulk", "write")
    WARMUP = len(CYCLE)  # untimed operations before the window
    N_ORDERS = 10_000
    TABLES = ("customer", "orders", "lineitem")

    def prepare(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.n_orders = ctx.n(self.N_ORDERS, floor=200)
        data = gen.tpch(ctx.seed, self.n_orders)
        cols = {t: gen.TPCH_COLUMNS[t] for t in self.TABLES}
        self.paths = {}
        for t in self.TABLES:
            self.paths[t] = os.path.join(ctx.input_dir, f"{t}.csv")
            gen.write_csv(self.paths[t], data[t], cols[t])
        self.mirror = checks.duck_mirror(data, cols)
        self.n_cust = len(data["customer"]["c_custkey"])
        self.live = list(data["orders"]["o_orderkey"])
        self.next_key = self.n_orders + 1
        #: mean CSV bytes of one orders row — the user data a one-row
        #: write changes
        self.order_row_bytes = os.path.getsize(self.paths["orders"]) / self.n_orders
        self.pushes = Pushes(ctx)

    def load(self, engine) -> None:
        sink = engine.csv_create_sink()
        for t in self.TABLES:
            sink.consume(t, columns(gen.TPCH_COLUMNS[t]), self.paths[t])

    def ops(self):
        verbs = itertools.cycle(WRITE_VERBS)
        for slot in itertools.cycle(CYCLE):
            if slot == "write":
                yield self._write(next(verbs))
            elif slot == "push":
                yield self.pushes.push()
            elif slot == "bulk":
                yield self.pushes.bulk()
            else:
                yield self._read(slot)

    def _params(self) -> dict:
        r = self.rng
        day = gen.EPOCH.toordinal() + r.randrange(60, 2400)
        return {
            "k": r.randrange(1, self.n_orders + 1),
            "c": r.randrange(1, self.n_cust + 1),
            "d": dt.date.fromordinal(day).isoformat(),
            "p": r.randrange(1000, 500000),
            "b": r.randrange(8),
            "s": r.choice("FOP"),
        }

    def _read(self, template: str) -> Op:
        params = self._params()
        h2 = READS[template][0].format(**params)
        duck = READS[template][-1].format(**params)
        engine = self.ctx.engine

        def run():
            df = engine.execute_sql(h2)
            return df, collect(self.ctx, df)

        def check(res):
            return checks.same_rows(res[1], self.mirror.execute(duck).fetchall())

        return Op("read", template, run, check)

    def _write(self, verb: str) -> Op:
        r = self.rng
        params = self._params()
        if verb in ("insert", "merge") and (verb == "insert" or r.random() < 0.5):
            key = self.next_key
            self.next_key += 1
        else:
            key = r.choice(self.live)
        values = (
            f"{key}, {params['c']}, '{params['s']}', {params['p']}.25, "
            f"DATE '{params['d']}', '{gen.PRIORITIES[key % 5]}'"
        )
        if verb == "insert":
            h2 = f"INSERT INTO orders ({ORDER_COLS}) VALUES ({values})"
            duck = [h2]
        elif verb == "update":
            h2 = (
                f"UPDATE orders SET o_totalprice = o_totalprice + 1, "
                f"o_orderstatus = '{params['s']}' WHERE o_orderkey = {key}"
            )
            duck = [h2]
        elif verb == "delete":
            h2 = f"DELETE FROM orders WHERE o_orderkey = {key}"
            duck = [h2]
        else:
            h2 = f"MERGE INTO orders ({ORDER_COLS}) KEY (o_orderkey) VALUES ({values})"
            duck = [
                f"DELETE FROM orders WHERE o_orderkey = {key}",
                f"INSERT INTO orders ({ORDER_COLS}) VALUES ({values})",
            ]
        engine = self.ctx.engine

        def run():
            return engine.execute_sql(h2)

        def check(count):
            want = None
            for stmt in duck:
                want = self.mirror.execute(stmt).fetchall()[0][0]
            if verb == "merge":
                want = 1
            if verb == "delete" and key in self.live:
                self.live.remove(key)
            if verb in ("insert", "merge") and key not in self.live:
                self.live.append(key)
            return count == want

        return Op("write", verb, run, check, row_bytes=self.order_row_bytes)


# ---------------------------------------------------------------------------


class Curation:
    """One pass over four ``plans`` entries — connected-component dedup,
    quality-aware keep-best, prefix-filtered Jaccard join and the k-means
    objective trace — over seeded documents (with planted
    near-duplicates) and clustered embeddings written as parquet, each
    result checked against the entry's registered DuckDB oracle."""

    ENTRIES = ("dedup_clusters", "dedup_keep_best", "dedup_prefix_filter", "kmeans_convergence")
    N_DOCS = 400
    N_VECS = 300

    def __init__(self, ctx: Ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.input_dir, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        docs = gen.documents(ctx.seed, ctx.n(self.N_DOCS, 60))
        pq.write_table(pa.table(docs), os.path.join(self.sf_dir, "documents.parquet"))
        emb = gen.embeddings(ctx.seed, gen.centers(ctx.seed, 10), ctx.n(self.N_VECS, 40))
        pq.write_table(
            pa.table(
                {
                    "vec_id": emb["vec_id"],
                    "embedding": pa.array(list(emb["embedding"]), pa.list_(pa.float32())),
                    "label": emb["label"],
                }
            ),
            os.path.join(self.sf_dir, "embeddings.parquet"),
        )
        self.want = checks.oracle_frames(self.sf_dir, self.ENTRIES)

    def ops(self):
        from quasar_destination_h2_spark import plans

        registry = plans.all_queries()
        for entry in self.ENTRIES:
            yield self._entry(entry, registry[entry])

    def _entry(self, entry: str, fn) -> Op:
        ctx = self.ctx

        def run():
            with ctx.tracer.span("curate.build"):
                df = fn(ctx.spark, self.sf_dir)
            ctx.tracer.mark_jobs("plan_end")
            with ctx.tracer.span("spark.collect"):
                return df.toPandas()

        return Op("curate", entry, run, lambda got: checks.same_frame(got, self.want[entry]))


class IndexServe:
    """Probe batches against a stored IVF index and a stored BM25 index:
    ANN batches of 5 query vectors alternate with text batches of 5
    queries (2 to 6 terms); every 10 probes an append batch of 20
    vectors or 20 documents goes to one of the two indexes.

    Before the probes, untimed, one curation pass (:class:`Curation`)
    runs over a second, near-duplicate-laden corpus: it brings the
    session past its cold start and gives the traced run the curation
    operators' layer figures."""

    name = "index_serve"
    primary, secondary = ("ann",), ("text",)
    WARMUP = len(Curation.ENTRIES) + 4
    N_VECS = 1000
    N_DOCS = 1000
    N_CLUSTERS = 8
    K = 10
    NPROBE = 4
    TOPN = 10
    APPEND = 20
    IVF, TXT = "bench_ivf", "bench_txt"
    #: an append every 10 probes, alternating between the two indexes; the
    #: warm-up covers the first append of each kind and the first probes
    CYCLE = (
        ("append_text", "append_ivf", "ann", "text")
        + ("ann", "text") * 5 + ("append_ivf",) + ("ann", "text") * 5
        + ("append_text",) + ("ann", "text") * 3
    )

    def prepare(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.cents = gen.centers(ctx.seed, self.N_CLUSTERS)
        self.emb = gen.embeddings(ctx.seed, self.cents, ctx.n(self.N_VECS, 200))
        self.docs = gen.documents(ctx.seed + 1, ctx.n(self.N_DOCS, 200), dup_share=0.0)
        self.next_vec = len(self.emb["vec_id"])
        self.next_doc = len(self.docs["doc_id"])
        self.batch_seed = itertools.count(ctx.seed * 1000 + 7)
        self.curation = Curation(ctx)

    def load(self, engine) -> None:
        spark = self.ctx.spark
        emb = spark.createDataFrame(
            [
                (int(i), v.tolist(), int(lab))
                for i, v, lab in zip(self.emb["vec_id"], self.emb["embedding"], self.emb["label"])
            ],
            "vec_id bigint, embedding array<float>, label int",
        )
        docs = spark.createDataFrame(
            list(zip(self.docs["doc_id"], self.docs["text"])), "doc_id bigint, text string"
        )
        p = self.ctx.parallelism
        # one k-means round: md5-seeded lists alone let a probe batch's
        # recall@10 fall to 0.72 at nprobe=3 and 0.78 at nprobe=4
        engine.build_ivf_index(
            self.IVF, emb, n_list=self.N_CLUSTERS, kmeans_iters=1, n_buckets=p
        )
        engine.build_text_index(self.TXT, docs, n_buckets=p)
        # appends during the window extend these exact answers
        self.exact_vecs = checks.ExactVectors(self.emb["vec_id"], self.emb["embedding"])
        self.exact_text = checks.ExactBm25()
        self.exact_text.add(self.docs["doc_id"], self.docs["text"])

    def ops(self):
        yield from self.curation.ops()
        builders = {
            "ann": self._ann, "text": self._text,
            "append_ivf": self._append_ivf, "append_text": self._append_text,
        }
        for slot in itertools.cycle(self.CYCLE):
            yield builders[slot]()

    def _ann(self) -> Op:
        r = np.random.default_rng(next(self.batch_seed))
        labels = r.integers(0, self.N_CLUSTERS, 5)
        q = (self.cents[labels] + r.normal(scale=0.6, size=(5, gen.EMBED_DIM))).astype(np.float32)
        rows = [(i, v.tolist()) for i, v in enumerate(q)]
        ctx = self.ctx

        def run():
            with ctx.tracer.span("index.search"):
                qdf = ctx.spark.createDataFrame(rows, "query_id int, qv array<float>")
                df = ctx.engine.ann_topk(self.IVF, qdf, k=self.K, nprobe=self.NPROBE)
            ctx.tracer.mark_jobs("plan_end")
            return collect(ctx, df.select("query_id", "neighbor_id", "cos_sim", "rank"))

        return Op("ann", "ivf", run, lambda res: self.exact_vecs.check(q, res, self.K))

    def _text(self) -> Op:
        rows = gen.text_queries(random.Random(next(self.batch_seed)), 0)
        queries: dict[int, list] = {}
        for qid, term in rows:
            queries.setdefault(qid, []).append(term)
        ctx = self.ctx

        def run():
            with ctx.tracer.span("index.search"):
                qdf = ctx.spark.createDataFrame(rows, "query_id int, term string")
                df = ctx.engine.text_search(self.TXT, qdf, topn=self.TOPN)
            ctx.tracer.mark_jobs("plan_end")
            return collect(ctx, df.select("query_id", "doc_id", "score_u12", "rank"))

        return Op("text", "bm25", run, lambda res: self.exact_text.check(queries, res, self.TOPN))

    def _append_ivf(self) -> Op:
        new = gen.embeddings(next(self.batch_seed), self.cents, self.APPEND, self.next_vec)
        self.next_vec += self.APPEND
        rows = [(int(i), v.tolist(), int(lab)) for i, v, lab in zip(new["vec_id"], new["embedding"], new["label"])]
        ctx = self.ctx

        def run():
            with ctx.tracer.span("index.append"):
                df = ctx.spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
                report = ctx.engine.append_to_ivf_index(self.IVF, df, n_buckets=ctx.parallelism)
            return collect(ctx, report)

        def check(res):
            ok = res[0].appended_rows == self.APPEND
            if ok:
                self.exact_vecs.add(new["vec_id"], new["embedding"])
            return ok

        return Op("append", "ivf", run, check)

    def _append_text(self) -> Op:
        new = gen.documents(next(self.batch_seed), self.APPEND, self.next_doc, dup_share=0.0)
        self.next_doc += self.APPEND
        rows = list(zip(new["doc_id"], new["text"]))
        ctx = self.ctx

        def run():
            with ctx.tracer.span("index.append"):
                df = ctx.spark.createDataFrame(rows, "doc_id bigint, text string")
                report = ctx.engine.append_to_text_index(self.TXT, df, n_buckets=ctx.parallelism)
            return collect(ctx, report)

        def check(res):
            ok = res[0].appended_docs == self.APPEND
            if ok:
                self.exact_text.add(new["doc_id"], new["text"])
            return ok

        return Op("append", "text", run, check)



WORKLOADS = {w.name: w for w in (IngestSql, IndexServe)}
