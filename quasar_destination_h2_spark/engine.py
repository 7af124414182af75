"""Engine lifecycle — config → validated SparkSession → destination.

Parity with ``H2DestinationModule.destination``
(``H2DestinationModule.scala:59-107``, SURVEY §3 EP1):

1. decode config (failure -> MalformedConfiguration with the redacted
   config),
2. acquire resources in dependency order: random 6-char instance tag
   (``package.scala:38-39``) → SparkSession (replaces the Hikari
   pool; Spark's scheduler manages parallelism) → optional server
   boot (init script, then external SQL endpoint),
3. validate the connection with a probe query under a 10 s timeout
   (``:48-49,75-81``; invalid -> ConnectionFailed),
4. yield the destination facade exposing exactly one sink — the CSV
   create sink (``H2Destination.scala:37-46``).
"""

from __future__ import annotations

import functools
import glob
import logging
import os
import random
import shutil
import string
import uuid
from concurrent.futures import ThreadPoolExecutor, TimeoutError as FutTimeout
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from .config import Config
from .errors import ConnectionFailed
from .idents import hygienic_ident, storage_safe_name
from .locked_json import LockedJson
from .operators import similarity, text
from .sources.sink import CsvCreateSink, warehouse_dir
from .types import TypeOptions, DEFAULT_OPTIONS

log = logging.getLogger(__name__)

#: Probe timeout, seconds — parity with Connection.isValid(10)
#: (H2DestinationModule.scala:49).
VALIDATION_TIMEOUT_S = 10.0


def random_alphanum(n: int = 6) -> str:
    """Random instance tag for log correlation (package.scala:38-39)."""
    return "".join(random.choices(string.ascii_letters + string.digits, k=n))


def _is_null_literal(expr: str) -> bool:
    """True when a recorded DEFAULT expression is the NULL constant
    under any parenthesized/whitespace spelling (``NULL``, ``(NULL)``,
    ``(( null ))``) — the spellings H2 folds to the same constant
    before its "no lawful fill" rejection (advice r14)."""
    s = expr.strip()
    while s.startswith("(") and s.endswith(")"):
        s = s[1:-1].strip()
    return s.upper() == "NULL"


#: Default session tuning. Sized for correctness on local[32] while
#: keeping every knob that matters at cluster scale explicit: AQE for
#: runtime re-planning (partition coalescing + skew-join splitting),
#: Arrow for any Pandas-UDF path, UTC so results are tz-stable.
#: ``openCostInBytes`` sets the split floor of file scans: Spark sizes
#: a split as min(maxPartitionBytes, max(openCostInBytes, bytes/cores)),
#: so at the 4 MB default a 5 MB bulk CSV reads in 2 tasks on 4 cores;
#: at 1 MB it reads in one task per core. Spark 4.1 reads both knobs
#: only from the session conf — as reader options they are ignored.
DEFAULT_SPARK_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.openCostInBytes": "1048576",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
}


# -- one-write DML ---------------------------------------------------------
#
# A DML statement writes the table's new rows once, into the sibling
# directory ``{location}__next``, then swaps directories
# (Engine._rewrite). A crash or failed rename leaves at most a
# ``__next`` and an ``__old`` beside the location; the first
# Engine._ensure_registered of the name in a process settles them
# (_settle_swap). Changed-row counts come from an Observation on the
# frame being written (_match_counted), so a statement is one job.


def _settle_swap(location: str) -> bool:
    """Finish or undo a directory swap :meth:`Engine._rewrite` left
    behind. A missing ``location`` takes a complete ``__next`` (the
    write committed: it holds ``_SUCCESS``), else its ``__old``; every
    other leftover is removed. Returns True when ``location``'s
    contents changed."""
    nxt, old = location + "__next", location + "__old"
    changed = False
    if not os.path.isdir(location):
        if os.path.isfile(os.path.join(nxt, "_SUCCESS")):
            os.rename(nxt, location)
            changed = True
        elif os.path.isdir(old):
            os.rename(old, location)
            changed = True
    for leftover in (nxt, old):
        shutil.rmtree(leftover, ignore_errors=True)
    return changed


def _has_partition_dirs(*paths: str) -> bool:
    """True when any of ``paths`` holds ``col=value`` subdirectories —
    the data layout of a directory-partitioned table, whose partition
    list lives in the session catalog and must be re-synced whenever
    the directories change underneath it."""
    for path in paths:
        try:
            with os.scandir(path) as entries:
                if any("=" in e.name and e.is_dir() for e in entries):
                    return True
        except OSError:
            continue
    return False


def _match_counted(target: DataFrame, condition: str):
    """``(frame, hit, obs)``: ``target`` with the DML ``condition``
    evaluated once into the non-null boolean flag column ``hit`` —
    TRUE where the condition is TRUE, FALSE where it is FALSE or NULL
    (SQL: NULL does not match) — under an Observation whose ``n``
    counts the matched rows, read after the write from that write's
    own pass.

    Callers filter or project on ``hit``, never on ``condition``: a
    constant condition (``DELETE`` without ``WHERE``, ``TRUNCATE``,
    ``... OR 1 = 1``) would otherwise fold the filter into an empty
    relation and drop the observed node with it, while a filter over
    the observed flag column cannot be folded through it."""
    name = f"__dml_hit_{uuid.uuid4().hex[:8]}__"
    obs = Observation()
    frame = target.withColumn(
        name, F.expr(condition).eqNullSafe(True)
    ).observe(obs, F.count(F.when(F.col(name), 1)).alias("n"))
    return frame, F.col(name), obs


# -- stored-index protocol ------------------------------------------------
#
# The seven stored index families (IVF, PQ, IVFPQ, IVFBQ, cascade, BM25
# text, graph) share one write, read and verify path, built from the
# helpers below and the Engine helpers beside build_ivf_index:
#
# * an index is its member tables (corpus- or node-sized: assignments,
#   vectors, codes, postings, edges, degrees, nodes) plus ONE manifest,
#   ``_index_<storage_safe_name(name)>.json`` in the warehouse
#   directory (a LockedJson file). The manifest holds the family, the
#   build id and revision, the parameters (n_list, pq_m, pq_k), each
#   member's committed row count (plus the bucket key and count of a
#   bucketed member), the drift baseline, and the bounded state itself:
#   IVF centroids, the PQ codebook, the BM25 (n_docs, sum_dl);
# * every member row carries the build's random id (_stamp); text and
#   graph member rows also carry the revision that wrote them;
# * a build writes its members, then commits the manifest at revision 0
#   with the member counts (Engine._commit_build); an append reads the
#   manifest, appends its rows without rewriting the members
#   (_append_stored), then commits revision + 1 with the counts grown by
#   what it wrote (_grown). The manifest write (Engine._commit) is the
#   commit point: a crash before it leaves members that disagree with
#   the committed manifest;
# * a search or append reads the manifest through a stat-guarded memo
#   (Engine._read_manifest, no Spark job) and plans the bounded state as
#   literals. Once per (build id, revision) — remembered in
#   Engine._verified under the index name, cleared before every build
#   or append writes — ONE aggregation (Engine._verify) checks that
#   each member holds exactly its committed row count, all under the
#   committed build id and at no later revision: a torn build shows a
#   foreign id, a half-applied append a member above its count. An
#   out-of-band writer forging rows under a verified id is the one case
#   this trusts — the same trust the catalog's flock protocol extends
#   to same-warehouse writers.
#
# An index without a manifest (never built, or stored before manifests
# existed) is refused with "re-run build_<family>_index".

def _stamp(df: DataFrame, build_id: str, revision: Optional[int] = None) -> DataFrame:
    """``df`` with the build id (and, for the revisioned text and
    graph indexes, the revision) that every member table of one
    index build carries."""
    df = df.withColumn("build_id", F.lit(build_id))
    if revision is None:
        return df
    return df.withColumn("revision", F.lit(revision).cast("bigint"))


def _list_rows(df: DataFrame, build_id: str, *cols: Any) -> DataFrame:
    """Rows of a centroid-PARTITIONED member table: ``cols``, the
    build id, then the partition column ``centroid_id``."""
    return df.select(*cols, F.lit(build_id).alias("build_id"), "centroid_id")


def _vector_rows(
    assigned: DataFrame, build_id: str, id_col: str, vec_col: str
) -> DataFrame:
    """``{name}_vectors`` rows of the IVFPQ / IVFBQ / cascade indexes
    from a scored assignment: (vec_id, embedding, sim_micro, build_id,
    centroid_id). sim_micro (the winning 6-rounded cosine in integer
    micro-units, which the assign argmax computes anyway) feeds the
    drift instrument."""
    return _list_rows(
        assigned,
        build_id,
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        "sim_micro",
    )


def _bq_codes(
    src: DataFrame, build_id: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Centroid-partitioned sign-code rows (vec_id, sig_lo, sig_hi,
    build_id, centroid_id) of ``src``'s assigned vectors: the sign
    quantizer is parameterless, so the encode is one projection and
    the centroid id rides the row."""
    codes = similarity.ivfbq_encode(src, None, id_col, vec_col, assigned=src)
    return _list_rows(codes, build_id, "vec_id", "sig_lo", "sig_hi")


def _pq_codes(
    src: DataFrame,
    cb: "DataFrame | list",
    m: int,
    build_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-partitioned PQ code rows (vec_id, m, code, build_id,
    centroid_id) of ``src``'s assigned vectors, encoded against the
    codebook ``cb`` (a frame or its collected rows); the centroid id
    rides the row, so no join with the assignment is needed."""
    codes = similarity.ivfpq_encode(src, None, cb, m, id_col, vec_col, assigned=src)
    return _list_rows(codes, build_id, "vec_id", "m", "code")


def _coarse_quantizer(
    emb: DataFrame, id_col: str, vec_col: str, n_list: int, kmeans_iters: int
) -> DataFrame:
    """The IVF coarse quantizer: k-means-refined centroids, or the md5
    seeds themselves when ``kmeans_iters`` is 0."""
    if kmeans_iters:
        return similarity.kmeans_refine(
            emb, id_col, vec_col, n_list, iters=kmeans_iters
        )
    return similarity.ivf_centroids(emb, id_col, vec_col, n_list).localCheckpoint()


def _pq_params(m: Optional[int], k: Optional[int], iters: Optional[int]) -> tuple:
    """PQ (m, k, training iterations), operator defaults filled in."""
    return (
        similarity.PQ_M if m is None else m,
        similarity.PQ_K if k is None else k,
        similarity.PQ_ITERS if iters is None else iters,
    )


def _mean_sim_micro(df: DataFrame) -> tuple:
    """(rows, mean sim_micro) of a scored assignment in one job —
    integer division of exact micro sums, so the mean is
    engine-reproducible; None for an empty assignment."""
    row = df.agg(
        F.sum("sim_micro").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(row.n), (int(row.s) // int(row.n) if row.s is not None else None)


def _bounded(df: DataFrame) -> dict:
    """A bounded frame (centroids, codebook) as manifest state: its
    schema and collected rows. JSON writes every double as its
    round-tripping ``repr``, so the literals planned from the manifest
    equal the frame's values bit for bit."""
    return {"schema": df.schema.jsonValue(), "rows": [list(r) for r in df.collect()]}


def _rows(state: dict) -> list:
    """Manifest state as rows for the literal planners, which read
    fields by name (similarity._centroid_rows, _codebook_by_m)."""
    names = [f["name"] for f in state["schema"]["fields"]]
    return [dict(zip(names, r)) for r in state["rows"]]


def _grown(man: dict, **added: int) -> dict:
    """``man`` at revision + 1 with ``added`` rows on the named
    members: the manifest an append commits."""
    members = {
        m: dict(spec, rows=spec["rows"] + added.get(m, 0))
        for m, spec in man["members"].items()
    }
    return dict(man, revision=man["revision"] + 1, members=members)


def _append_stored(
    logical: str, df: DataFrame, key: str, n_buckets: Optional[int] = None
) -> None:
    """Append ``df`` to a stored member table as it is: into its
    ``key``-partitioned directories or, given ``n_buckets``, its
    ``key``-bucketed files (``n_buckets`` must match the build's —
    Spark refuses a mismatched bucket spec loudly)."""
    w = df.write.mode("append").format("parquet")
    if n_buckets is None:
        w = w.partitionBy(key)
    else:
        w = w.bucketBy(n_buckets, key).sortBy(key)
    w.saveAsTable(storage_safe_name(logical))


class Engine:
    """The destination: a validated Spark session + the CSV create
    sink + the Tier-B SQL surface over whatever it loaded."""

    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        type_options: TypeOptions = DEFAULT_OPTIONS,
    ):
        self.spark = spark
        self.config = config
        self.tag = random_alphanum()
        # H2-compat function aliases (BITAND, ISO_WEEK, TRUNCATE, ...)
        # — session-scoped SQL-defined functions, idempotent
        from .h2_functions import register_h2_functions

        register_h2_functions(spark)
        self.sink = CsvCreateSink(spark, type_options)
        self._servers: list[Any] = []
        #: True iff an external SQL endpoint is actually serving. The
        #: reference's PG/TCP server is what makes tables externally
        #: queryable (H2Server.scala:60-84); a degraded no-op boot must
        #: be visible in engine state, not only in an info log.
        self.endpoint_started: bool = False
        self._sequences = None
        self._constraints = None
        self._views = None
        self._colmeta = None
        self._schemas = None
        #: session current schema (H2 SET SCHEMA; casefolded key).
        #: Unqualified names resolve here; PUBLIC objects keep bare
        #: logical names, schema objects live under "key.<name>".
        self.current_schema: str = "public"
        #: H2 ``SET SCHEMA_SEARCH_PATH s1, s2, ...`` (r16): after the
        #: current schema, unqualified TABLE names resolve through
        #: these casefolded keys in order (first match wins —
        #: Parser.readTableOrView). Session state, like
        #: current_schema; empty = strict current-schema (H2's
        #: default). See sql_dml._resolution_order.
        self.schema_search_path: list = []
        #: (build id, revision) this engine has verified, keyed by
        #: index name — see the stored-index protocol above _stamp.
        #: Set only after a check passes or a build commits; cleared
        #: before every build or append through THIS engine writes.
        self._verified: dict = {}
        #: index name -> (manifest file stat, parsed manifest)
        self._manifests: dict = {}
        #: per-index persisted (prepared, nodes) frames of the LAST
        #: pagerank_served call — unpersisted on the next call so a
        #: long-lived session never accumulates pinned blocks
        #: (advisor r16)
        self._graph_frames: dict = {}
        #: effective Thrift listen port (may differ from the requested
        #: port when joining an already-running JVM-wide endpoint)
        self.endpoint_port: Optional[str] = None
        #: physical names this engine has already pushed through
        #: _ensure_registered — memo so the hot read path
        #: (engine.table on every probe/statement) pays the
        #: session-catalog RPC once per table, not once per call
        self._registered: set = set()

    # -- lifecycle -----------------------------------------------------

    @classmethod
    def from_config(
        cls,
        raw_config: "str | bytes | dict",
        spark: Optional[SparkSession] = None,
        type_options: TypeOptions = DEFAULT_OPTIONS,
    ) -> "Engine":
        """config JSON → validated Engine (EP1). Raises
        MalformedConfiguration / ConnectionFailed."""
        config = Config.from_json(raw_config)
        if spark is None:
            builder = SparkSession.builder.appName("quasar-destination-h2-spark")
            if not SparkSession.getActiveSession():
                builder = builder.master("local[*]")
            conf = {**DEFAULT_SPARK_CONF, **config.spark_conf}
            conf["spark.sql.warehouse.dir"] = config.connection_uri.partition(";")[0]
            for k, v in conf.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
            # getOrCreate() on an already-active session ignores every
            # builder config — including the warehouse dir derived
            # from connectionUri. Silent config drop would violate the
            # reference's contract (the URI *is* the destination), so
            # surface it.
            want = conf["spark.sql.warehouse.dir"]
            got = spark.conf.get("spark.sql.warehouse.dir", "")
            if want not in got:
                log.warning(
                    "active SparkSession reused: configured warehouse %r "
                    "ignored (session uses %r); pass spark= explicitly or "
                    "stop the session first",
                    want,
                    got,
                )
        engine = cls(spark, config, type_options)
        engine.validate_connection()
        log.info("engine %s initialized (config: %s)", engine.tag, config.sanitized())
        if config.server is not None:
            engine._boot_servers()
        return engine

    def validate_connection(self) -> None:
        """Probe the session with SELECT 1 under a 10 s timeout —
        parity with validateConnection (H2DestinationModule.scala:75-81)."""
        # Executor deliberately NOT used as a context manager: the
        # with-block exit joins the worker thread, which would make a
        # hung probe block forever instead of honoring the 10 s bound
        # (Connection.isValid(10) does bound the wait).
        pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="h2spark-probe")
        try:
            fut = pool.submit(lambda: self.spark.sql("SELECT 1").collect())
            rows = fut.result(timeout=VALIDATION_TIMEOUT_S)
            if not rows or rows[0][0] != 1:
                raise ConnectionFailed("probe query returned wrong result")
        except ConnectionFailed:
            raise
        except FutTimeout as e:
            raise ConnectionFailed(
                f"probe query timed out after {VALIDATION_TIMEOUT_S}s"
            ) from e
        except Exception as e:
            raise ConnectionFailed(str(e)) from e
        finally:
            # non-blocking: never join a possibly-hung probe thread
            pool.shutdown(wait=False, cancel_futures=True)

    def _boot_servers(self) -> None:
        """Init script, then external endpoints — order parity with
        H2Server.scala:33-39."""
        from .server import run_init_script, start_sql_endpoint

        assert self.config.server is not None
        if self.config.server.init is not None:
            run_init_script(self.spark, self.config.server.init)
        for args in (self.config.server.tcp_args, self.config.server.pg_args):
            if args is not None:
                srv = start_sql_endpoint(self.spark, args)
                if srv is not None:
                    handle, port = srv
                    self._servers.append(handle)
                    self.endpoint_port = port
        self.endpoint_started = bool(self._servers)
        if self.endpoint_started:
            # wire clients introspect on connect; publish the catalog
            # now AND republish on every later catalog/sequence
            # mutation (three driver-only view statements per change —
            # bounded; the hook exists only on serving engines, so
            # batch-load sessions never pay it)
            self.refresh_information_schema()
            self.sink.on_catalog_change = self._republish_info_schema

    def close(self) -> None:
        """Release servers (session is shared; caller stops Spark)."""
        from .server import stop_sql_endpoint

        while self._servers:
            stop_sql_endpoint(self._servers.pop())
        self.endpoint_started = False

    # -- stored-index protocol (see the comment above _stamp) ----------

    def _index_store(self, name: str) -> LockedJson:
        """Index ``name``'s manifest file in the warehouse directory."""
        stem = "_index_" + storage_safe_name(name)
        return LockedJson(warehouse_dir(self.spark), stem)

    def _read_manifest(self, name: str) -> Optional[dict]:
        """Index ``name``'s committed manifest, or None. Memoized
        against the file's (inode, mtime, size): every commit
        replaces the file, so a steady-state read costs one stat."""
        store = self._index_store(name)
        try:
            st = os.stat(store.path)
        except FileNotFoundError:
            return None
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        if self._manifests.get(name, (None,))[0] != sig:
            self._manifests[name] = (sig, store.read())
        return self._manifests[name][1]

    def _manifest(self, name: str, family: str) -> dict:
        """The one read and verify path of every search and append:
        the manifest of ``family`` index ``name``, refused when there
        is none. Once per (build id, revision), each member table
        must hold exactly the rows the manifest committed, all under
        its build id and at no later revision."""
        man = self._read_manifest(name) or {}
        hint = f"— re-run build_{family}_index"
        if man.get("family") != family:
            raise ValueError(
                f"{family} index {name!r} has no committed manifest {hint}"
            )
        state = (man["build_id"], man["revision"])
        if self._verified.get(name) != state:
            for m, seen in self._member_states(name, man["members"]).items():
                rows, committed = sum(n for *_, n in seen), man["members"][m]["rows"]
                if rows != committed or any(
                    b != state[0] or (r or 0) > state[1] for b, r, _ in seen
                ):
                    raise ValueError(
                        f"{family} index {name!r} is torn: {name}_{m} holds {rows} "
                        f"rows as (build, revision, rows) {seen}; the manifest "
                        f"committed {committed} of build {state[0]!r} up to "
                        f"revision {state[1]} {hint}"
                    )
            self._verified[name] = state
        return man

    def _member_states(self, name: str, members) -> dict:
        """{member: [(build_id, revision, rows)]} of index ``name``'s
        member tables in ONE aggregation: the column-pruned member
        scans, unioned, counted per (member, build, revision) — one
        shuffle whatever the member count (revision None for members
        that carry none)."""

        def ids(m: str) -> DataFrame:
            df = self.table(f"{name}_{m}")
            rev = df["revision"] if "revision" in df.columns else F.lit(None)
            return df.select(
                F.lit(m).alias("member"), "build_id", rev.alias("revision")
            )

        counted = functools.reduce(DataFrame.unionByName, map(ids, members))
        states: dict = {m: [] for m in members}
        for r in counted.groupBy("member", "build_id", "revision").count().collect():
            states[r.member].append((r.build_id, r.revision, r["count"]))
        return states

    def _commit(self, name: str, man: dict) -> None:
        """Write ``man`` as index ``name``'s manifest — an atomic
        replace under the index's flock, the commit point of every
        build and append."""
        store = self._index_store(name)
        with store.locked():
            store.write(man)

    def _commit_build(self, name, family, build_id, members, **state) -> None:
        """Commit a build whose member tables are written: count them
        in the verify aggregation, commit the counts at revision 0 and
        remember the index as verified. ``members`` maps each member to
        its spec (``{"bucket": [key, n_buckets]}`` for a bucketed one);
        ``state`` is the rest of the manifest (params, bounded state)."""
        for m, seen in self._member_states(name, members).items():
            members[m]["rows"] = sum(n for *_, n in seen)
        man = dict(family=family, build_id=build_id, revision=0, members=members)
        self._commit(name, {**man, **state})
        self._verified[name] = (build_id, 0)

    def _commit_append(self, name: str, man: dict, batch, **per_vector) -> DataFrame:
        """Commit an ANN append whose rows are written (revision + 1,
        each member grown by ``per_vector`` rows per appended vector)
        and return the one-row drift report every ANN append returns:
        (appended_rows, batch_mean_sim_micro, build_mean_sim_micro,
        drift_micro) — drift_micro = build mean − batch mean assigned
        similarity, in integer micro-units."""
        n, batch_mean = _mean_sim_micro(batch)
        self._commit(name, _grown(man, **{m: k * n for m, k in per_vector.items()}))
        build_mean = man["build_mean_sim_micro"]
        drift = None if None in (build_mean, batch_mean) else build_mean - batch_mean
        return self.spark.createDataFrame(
            [(n, batch_mean, build_mean, drift)],
            "appended_rows bigint, batch_mean_sim_micro bigint, "
            "build_mean_sim_micro bigint, drift_micro bigint",
        )

    def _frame(self, state: dict) -> DataFrame:
        """Manifest state (centroids, codebook) as a local frame — a
        plan literal, read from no stored table."""
        schema = StructType.fromJson(state["schema"])
        return self.spark.createDataFrame(state["rows"], schema)

    def _coarse_state(self, name: str, member: str, cents: dict, n_list: int) -> dict:
        """Manifest entries of an IVF coarse quantizer: n_list, the
        centroid rows and the drift baseline — the mean sim_micro of
        the just-stored ``{name}_{member}`` assignment (one
        column-pruned scan of the stored int column), which every
        append's drift report compares its batch against."""
        _, mean = _mean_sim_micro(self.table(f"{name}_{member}"))
        return dict(
            params={"n_list": n_list}, centroids=cents, build_mean_sim_micro=mean
        )

    def _replace_table(self, logical_name: str, df: DataFrame) -> None:
        """DROP TABLE IF EXISTS, then CREATE TABLE AS — how the graph
        index (re)writes its node-sized members."""
        self.drop_table_if_exists(logical_name)
        self.create_table_as(logical_name, df)

    def _build_lists(
        self, name, emb, n_list, kmeans_iters, id_col, vec_col, encode
    ) -> tuple:
        """The shared build of the centroid-PARTITIONED families
        (IVFPQ, IVFBQ, cascade): train the coarse quantizer, store the
        scored assignment as ``{name}_vectors``, then
        ``encode(stored vectors, build_id)`` as ``{name}_codes`` (the
        encode reads the stored table, whose centroid_id rides each
        row). Returns (build id, the quantizer's manifest entries)."""
        cents = _bounded(_coarse_quantizer(emb, id_col, vec_col, n_list, kmeans_iters))
        build_id = random_alphanum()
        self._verified.pop(name, None)
        assigned = similarity._assign_scored(emb, _rows(cents), id_col, vec_col)
        vectors = _vector_rows(assigned, build_id, id_col, vec_col)
        self.materialize_partitioned(f"{name}_vectors", vectors, ["centroid_id"])
        codes = encode(self.table(f"{name}_vectors"), build_id)
        self.materialize_partitioned(f"{name}_codes", codes, ["centroid_id"])
        return build_id, self._coarse_state(name, "vectors", cents, n_list)

    def _lut(self, man: dict, queries: DataFrame, qid_col: str, qvec_col: str):
        """The ADC lookup table of a query batch against the manifest's
        PQ codebook."""
        cb, m = self._frame(man["codebook"]), man["params"]["pq_m"]
        return similarity.pq_query_lut(queries, cb, m, qid_col, qvec_col)

    def _probe_lists(self, man, queries, nprobe, qid_col, qvec_col) -> DataFrame:
        """Each query's ``nprobe`` nearest lists, picked in a per-row
        expression against the manifest's centroids as plan literals
        (similarity.ivfpq_probe_lists) — no centroid broadcast, no
        Spark job."""
        cents = _rows(man["centroids"])
        return similarity.ivfpq_probe_lists(queries, cents, nprobe, qid_col, qvec_col)

    def _index_tables(self, name: str) -> list:
        """Logical names of index ``name``'s member tables, as its
        committed manifest lists them (none without one)."""
        man = self._read_manifest(name) or {}
        return [f"{name}_{m}" for m in man.get("members", ())]

    def _bucket_spec(self, logical: str) -> "list | None":
        """[key, n_buckets] when ``logical`` is a bucketed member of a
        committed index (``{index}_{member}``, split at any
        underscore), else None."""
        for i, ch in enumerate(logical):
            if ch == "_":
                man = self._read_manifest(logical[:i]) or {}
                spec = man.get("members", {}).get(logical[i + 1 :], {}).get("bucket")
                if spec:
                    return spec
        return None

    def _release_graph_frames(self, name: str) -> None:
        """Unpersist the frames the last pagerank_served call cached
        for graph index ``name``."""
        for prior in self._graph_frames.pop(name, (None,))[1:]:
            try:
                prior.unpersist()
            except Exception:
                pass

    # -- index families ---------------------------------------------------

    def build_ivf_index(
        self,
        name: str,
        emb: DataFrame,
        n_list: int = 16,
        kmeans_iters: int = 2,
        n_buckets: int = 32,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """[EXT] Build-once ANN index lifecycle: k-means-refine the
        IVF coarse quantizer (``kmeans_iters`` = 0 keeps the md5
        seeds), keep its n_list centroids in the index manifest and
        materialize the assignment as ``{name}_assigned``
        BUCKETED by centroid_id — every subsequent :meth:`ann_topk`
        probe joins co-located inverted lists with no corpus-side
        shuffle (the semantic_dedup ``assigned=`` story, productized;
        pinned by tests/test_bucketing.py::test_ann_index_lifecycle).
        Rebuild cost is paid ONCE per corpus refresh, probes pay
        only their own bounded work.

        The stored assignment carries sim_micro, the drift
        instrument's input, and the build id; the manifest commits
        after it, so a failure between the two leaves an assignment
        from a build the manifest does not name — ann_topk refuses
        it instead of serving wrong neighbors from a torn rebuild
        (the stored-index protocol, see :func:`_stamp`)."""
        cents = _bounded(_coarse_quantizer(emb, id_col, vec_col, n_list, kmeans_iters))
        assigned = similarity._assign_scored(emb, _rows(cents), id_col, vec_col)
        build_id = random_alphanum()
        self._verified.pop(name, None)
        self.materialize_bucketed(
            f"{name}_assigned", _stamp(assigned, build_id), ["centroid_id"], n_buckets
        )
        state = self._coarse_state(name, "assigned", cents, n_list)
        members = {"assigned": {"bucket": ["centroid_id", n_buckets]}}
        self._commit_build(name, "ivf", build_id, members, **state)

    def append_to_ivf_index(
        self,
        name: str,
        new_emb: DataFrame,
        n_buckets: int = 32,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """[EXT] Incremental index append — the nightly-crawl story
        for the ANN index (the dedup_cross_corpus analogue): assign
        ``new_emb`` against the manifest's centroids (plan literals;
        one pass over the batch only — the corpus is never
        rescanned), append the scored assignment to the bucketed
        inverted lists under the SAME build id (probes keep reading
        co-located buckets), commit the grown row count at revision
        + 1, and return a one-row drift report:

        (appended_rows, batch_mean_sim_micro, build_mean_sim_micro,
        drift_micro) — drift_micro = build mean − batch mean
        assigned similarity, in integer micro-units. A batch drawn
        from the build's distribution scores near the build mean
        (small drift); a shifted batch fits the frozen centroids
        worse and drift grows — the REBUILD TRIGGER a 100 TB
        operator watches. Appending never re-trains: centroids stay
        frozen until a full ``build_ivf_index`` rebuild.

        ``n_buckets`` must match the build's (Spark refuses a
        mismatched bucket spec loudly). Appended rows ≡ what a
        rebuild-on-union would assign AGAINST THE SAME centroids —
        pinned by tests/test_bucketing.py."""
        man = self._manifest(name, "ivf")
        cents = _rows(man["centroids"])
        batch = similarity._assign_scored(new_emb, cents, id_col, vec_col)
        batch = _stamp(batch, man["build_id"]).localCheckpoint()
        self._verified.pop(name, None)
        _append_stored(f"{name}_assigned", batch, "centroid_id", n_buckets)
        return self._commit_append(name, man, batch, assigned=1)

    def ann_topk(
        self,
        name: str,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """[EXT] Query-table-driven ANN search over an index built by
        :meth:`build_ivf_index` — probes the stored bucketed
        inverted lists; no rebuild, no per-query replanning.

        The manifest's centroids are the literals of
        similarity.ann_search: each query picks its ``nprobe`` lists
        in a per-row expression, the probe frame is broadcast into
        one equality join on the co-located centroid_id buckets, and
        a per-query window keeps the top ``k``. Raises on a torn
        index (see :func:`_stamp`). Three Spark jobs per
        steady-state call (pinned by tests/test_bucketing.py)."""
        man = self._manifest(name, "ivf")
        return similarity.ann_search(
            self.table(f"{name}_assigned"),
            _rows(man["centroids"]),
            queries,
            k=k,
            nprobe=nprobe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=id_col,
            vec_col=vec_col,
        )

    def build_pq_index(
        self,
        name: str,
        emb: DataFrame,
        m: int | None = None,
        k: int | None = None,
        kmeans_iters: int | None = None,
        n_buckets: int = 32,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """[EXT] Build-once product-quantization index — the
        compressed sibling of :meth:`build_ivf_index`: train the
        per-subspace codebooks (similarity.pq_codebooks), encode the
        corpus, keep the m x k codebook in the index manifest and
        store two tables: ``{name}_codes`` (the M-int compressed
        corpus — what probes scan; 16-64x fewer bytes than the
        vectors) and ``{name}_vectors`` (the floats, read back ONLY
        for the per-query shortlist rerank). Both are BUCKETED
        by ``vec_id``: the ADC per-(query, vector) aggregation
        groups on a superset of the bucket key, so the stored
        distribution satisfies it and the probe's score aggregation
        runs WITHOUT an index-side exchange (pinned by
        tests/test_bucketing.py::test_pq_index_lifecycle).

        Torn-state discipline (the stored-index protocol, see
        :func:`_stamp`): both tables carry the build id, the manifest
        commits last, and :meth:`pq_search` verifies them against it
        before serving."""
        m, k, iters = _pq_params(m, k, kmeans_iters)
        cb = _bounded(similarity.pq_codebooks(emb, m, k, iters, id_col, vec_col))
        codes = similarity.pq_encode(emb, _rows(cb), m, id_col, vec_col)
        build_id = random_alphanum()
        self._verified.pop(name, None)
        self.materialize_bucketed(
            f"{name}_codes", _stamp(codes, build_id), ["vec_id"], n_buckets
        )
        vectors = emb.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        self.materialize_bucketed(
            f"{name}_vectors", _stamp(vectors, build_id), ["vec_id"], n_buckets
        )
        members = {t: {"bucket": ["vec_id", n_buckets]} for t in ("codes", "vectors")}
        params = {"pq_m": m, "pq_k": k}
        self._commit_build(name, "pq", build_id, members, params=params, codebook=cb)

    def pq_search(
        self,
        name: str,
        queries: DataFrame,
        topk: int = 10,
        shortlist: int | None = None,
        rerank: bool = True,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        exclude_query_ids: bool = True,
    ) -> DataFrame:
        """[EXT] Query-table-driven search over a PQ index built by
        :meth:`build_pq_index`: per query, a bounded M x K ADC
        lookup table scores the stored compressed codes in one
        codes pass (shuffle-free on the index side — the codes'
        vec_id bucketing satisfies the score aggregation), then the
        ``shortlist`` best candidates are reranked with exact cosine
        against the stored vectors (``rerank=False`` returns the raw
        ADC ranking: columns (query_id, vec_id, score_micro, rank)
        instead of (query_id, vec_id, sim, rank)).
        ``exclude_query_ids=True`` (the default) drops candidates
        whose vec_id equals the query's id — right when query ids
        live in the corpus id space (corpus-drawn queries, or
        callers re-using doc ids); pass False when the external
        query id space may COLLIDE with vec_ids, or a same-id corpus
        vector is silently excluded from that query's top-k. Raises
        on a torn index (see :func:`_stamp`)."""
        man = self._manifest(name, "pq")
        codes, vectors = (self.table(f"{name}_{t}") for t in ("codes", "vectors"))
        lut = self._lut(man, queries, query_id_col, query_vec_col)
        n_short = similarity.PQ_SHORTLIST if shortlist is None else shortlist
        if not rerank:
            return similarity.ann_pq_topk(
                codes.select("vec_id", "m", "code"),
                lut,
                topk,
                exclude_query_ids,
            )
        return similarity.ann_pq_rerank(
            vectors.select("vec_id", "embedding"),
            codes.select("vec_id", "m", "code"),
            lut,
            topk,
            n_short,
            queries=queries,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            exclude_self=exclude_query_ids,
        )

    def build_ivfpq_index(
        self,
        name: str,
        emb: DataFrame,
        n_list: int = 16,
        kmeans_iters: int = 2,
        m: int | None = None,
        k: int | None = None,
        pq_iters: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """[EXT] Build-once IVF+PQ index (the IVFADC architecture of
        Jegou et al., PAMI 2011) — the composition of this engine's
        two ANN lifecycles: IVF bounds WHICH vectors a probe touches
        (nprobe of n_list inverted lists), PQ bounds what each
        touched vector COSTS (M codes instead of dim floats). Probe
        I/O at 100 TB ~ corpus x (nprobe/n_list) x (1/compression).

        Stores two tables under a shared build id,
        ``{name}_vectors`` (vec_id, centroid_id, embedding) and
        ``{name}_codes`` (vec_id, centroid_id, m, code), both
        directory-PARTITIONED by centroid_id so a probe's broadcast
        list join dynamically prunes the files read to the probed
        lists; the k-means-refined coarse quantizer and the m x k PQ
        codebooks live in the index manifest. The PQ encode reuses
        the stored vectors table (its centroid_id rides the code
        argmax), so the build costs the coarse assignment + codebook
        training + one encode pass — never a join between
        corpus-sized frames. The manifest commits last;
        :meth:`ivfpq_search` verifies the tables against it before
        serving (the stored-index protocol, see :func:`_stamp`)."""
        m, k, iters = _pq_params(m, k, pq_iters)
        cb = _bounded(similarity.pq_codebooks(emb, m, k, iters, id_col, vec_col))

        def encode(stored: DataFrame, bid: str) -> DataFrame:
            return _pq_codes(stored, _rows(cb), m, bid)

        build_id, state = self._build_lists(
            name, emb, n_list, kmeans_iters, id_col, vec_col, encode
        )
        state["params"].update(pq_m=m, pq_k=k)
        members = {"vectors": {}, "codes": {}}
        self._commit_build(name, "ivfpq", build_id, members, codebook=cb, **state)

    def append_to_ivfpq_index(
        self,
        name: str,
        new_emb: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """[EXT] Incremental append to the composed IVF+PQ index —
        the nightly-crawl story extended to both quantizers: the
        batch is assigned against the manifest's centroids and
        encoded against its codebooks (plan literals; one pass over
        the batch only — the corpus is never rescanned, neither
        quantizer re-trains), appended to BOTH centroid-partitioned
        tables under the build's id (probes keep pruning to their
        lists), committed at revision + 1, and returns the one-row
        drift report of :meth:`append_to_ivf_index` —
        (appended_rows, batch_mean_sim_micro, build_mean_sim_micro,
        drift_micro), the REBUILD TRIGGER. Appended codes ≡ what a
        rebuild against the SAME quantizers would assign (pinned by
        tests/test_bucketing.py::test_ivfpq_index_append). A failure
        before the commit leaves member counts above the committed
        ones, which every later search and append refuses."""
        man = self._manifest(name, "ivfpq")
        m, build_id = man["params"]["pq_m"], man["build_id"]
        cents, cb = _rows(man["centroids"]), _rows(man["codebook"])
        batch = similarity._assign_scored(new_emb, cents, id_col, vec_col)
        batch = batch.localCheckpoint()
        codes = _pq_codes(batch, cb, m, build_id, id_col, vec_col).localCheckpoint()
        self._verified.pop(name, None)
        vectors = _vector_rows(batch, build_id, id_col, vec_col)
        _append_stored(f"{name}_vectors", vectors, "centroid_id")
        _append_stored(f"{name}_codes", codes, "centroid_id")
        return self._commit_append(name, man, batch, vectors=1, codes=m)

    def ivfpq_search(
        self,
        name: str,
        queries: DataFrame,
        topk: int = 10,
        nprobe: int = 2,
        shortlist: int | None = None,
        rerank: bool = True,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        filter_ids: DataFrame | None = None,
        exclude_query_ids: bool = True,
    ) -> DataFrame:
        """[EXT] Query-table-driven search over an IVF+PQ index built
        by :meth:`build_ivfpq_index`: per query, the nprobe nearest
        coarse lists are picked in a per-row expression against the
        manifest's centroids (plan literals — no centroid broadcast,
        no cross join), the ADC lookup table scores ONLY the codes in
        those lists (the broadcast probe join dynamically prunes the
        partitioned codes scan to nprobe/n_list of the files), and
        the ``shortlist`` best candidates are exact-cosine reranked
        against the stored vectors — whose (centroid_id, vec_id)
        point lookups prune the same way. ``rerank=False`` returns
        the raw ADC ranking (query_id, vec_id, centroid_id,
        score_micro, rank). ``filter_ids`` (a frame with a vec_id
        column) restricts candidates BEFORE scoring — the
        filtered-vector-search form; see
        :func:`operators.similarity.ann_ivfpq_topk`.
        ``exclude_query_ids`` as in :meth:`pq_search`: pass False
        when the external query id space may collide with vec_ids.
        Raises on a torn index (see :func:`_stamp`). Nine Spark jobs
        per steady-state call without ``filter_ids`` (pinned by
        tests/test_bucketing.py)."""
        man = self._manifest(name, "ivfpq")
        codes, vectors = (self.table(f"{name}_{t}") for t in ("codes", "vectors"))
        probes = self._probe_lists(man, queries, nprobe, query_id_col, query_vec_col)
        lut = self._lut(man, queries, query_id_col, query_vec_col)
        if not rerank:
            return similarity.ann_ivfpq_topk(
                codes.select("vec_id", "centroid_id", "m", "code"),
                lut,
                probes,
                topk,
                allowed=filter_ids,
                exclude_self=exclude_query_ids,
            )
        n_short = similarity.PQ_SHORTLIST if shortlist is None else shortlist
        short = similarity.ann_ivfpq_topk(
            codes.select("vec_id", "centroid_id", "m", "code"),
            lut,
            probes,
            n_short,
            allowed=filter_ids,
            exclude_self=exclude_query_ids,
        )
        return similarity.ann_ivfpq_rerank(
            vectors.select("vec_id", "centroid_id", "embedding"),
            short,
            queries,
            topk,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )

    def build_ivfbq_index(
        self,
        name: str,
        emb: DataFrame,
        n_list: int = 16,
        kmeans_iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> str:
        """[EXT] Build-once IVF+BQ index — the coarse quantizer
        composed over the 1-bit sign codes, closing the one
        O(corpus)-per-batch probe in the ANN family (the flat
        Hamming scan of ``ann_bq_topk``): IVF bounds WHICH codes a
        probe touches (nprobe of n_list inverted lists), sign
        quantization bounds what each touched code COSTS (16 B of
        packed bits vs 256 B of float32). Probe I/O at 100 TB ~
        corpus x (nprobe/n_list) x (1/16).

        Stores two tables under a shared build id,
        ``{name}_vectors`` (vec_id, embedding, sim_micro,
        centroid_id) and ``{name}_codes`` (vec_id, sig_lo, sig_hi,
        centroid_id), both directory-PARTITIONED by centroid_id so a
        probe's broadcast list join dynamically prunes the files
        read to the probed lists; the k-means-refined coarse
        quantizer and its build-mean drift baseline live in the
        index manifest. Unlike IVFPQ there is NO codebook — the sign
        quantizer is parameterless, so the coarse centroids are the
        only trained state. The sign encode rides the stored
        assignment (zero extra corpus pass); the manifest commits
        last, and :meth:`ivfbq_search` verifies the tables against
        it before serving (the stored-index protocol, see
        :func:`_stamp`). Returns the build id."""
        build_id, state = self._build_lists(
            name, emb, n_list, kmeans_iters, id_col, vec_col, _bq_codes
        )
        members = {"vectors": {}, "codes": {}}
        self._commit_build(name, "ivfbq", build_id, members, **state)
        return build_id

    def append_to_ivfbq_index(
        self,
        name: str,
        new_emb: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """[EXT] Incremental append to the IVF+BQ index: the batch is
        assigned against the manifest's centroids (plan literals; one
        pass over the batch only — the corpus is never rescanned) and
        sign-packed in the same projection; both centroid-partitioned
        tables grow under the build's id, the manifest commits at
        revision + 1, and the one-row drift report of
        :meth:`append_to_ivf_index` returns — (appended_rows,
        batch_mean_sim_micro, build_mean_sim_micro, drift_micro), the
        REBUILD TRIGGER. The sign quantizer being parameterless,
        appended codes are BY CONSTRUCTION what a rebuild against the
        same centroids would store — the only drift that exists is
        coarse-assignment drift, which the report measures. A failure
        before the commit leaves member counts above the committed
        ones, which every later search and append refuses."""
        man = self._manifest(name, "ivfbq")
        build_id = man["build_id"]
        cents = _rows(man["centroids"])
        batch = similarity._assign_scored(new_emb, cents, id_col, vec_col)
        batch = batch.localCheckpoint()
        self._verified.pop(name, None)
        vectors = _vector_rows(batch, build_id, id_col, vec_col)
        _append_stored(f"{name}_vectors", vectors, "centroid_id")
        codes = _bq_codes(batch, build_id, id_col, vec_col)
        _append_stored(f"{name}_codes", codes, "centroid_id")
        return self._commit_append(name, man, batch, vectors=1, codes=1)

    def ivfbq_search(
        self,
        name: str,
        queries: DataFrame,
        topk: int = 10,
        nprobe: int = 2,
        shortlist: int | None = None,
        rerank: bool = True,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        filter_ids: DataFrame | None = None,
        exclude_query_ids: bool = True,
    ) -> DataFrame:
        """[EXT] Query-table-driven search over an IVF+BQ index built
        by :meth:`build_ivfbq_index`: per query, the nprobe nearest
        coarse lists are picked against the manifest's centroids as
        plan literals (the :meth:`ivfpq_search` list choice), the
        query's own sign bits score ONLY the codes in
        those lists by XOR+popcount (the broadcast probe join
        dynamically prunes the partitioned codes scan to
        nprobe/n_list of the files), and the ``shortlist`` best
        candidates are exact-cosine reranked against the stored
        vectors — whose (centroid_id, vec_id) point lookups prune
        the same way. ``rerank=False`` returns the raw Hamming
        ranking (query_id, vec_id, centroid_id, hamming, rank).
        ``filter_ids`` / ``exclude_query_ids`` as in
        :meth:`ivfpq_search`. Raises on a torn index (see
        :func:`_stamp`). Nine Spark jobs per steady-state call
        without ``filter_ids``."""
        man = self._manifest(name, "ivfbq")
        codes, vectors = (self.table(f"{name}_{t}") for t in ("codes", "vectors"))
        probes = self._probe_lists(man, queries, nprobe, query_id_col, query_vec_col)
        qc = similarity.bq_query_codes(queries, query_id_col, query_vec_col)
        if not rerank:
            return similarity.ann_ivfbq_topk(
                codes.select("vec_id", "centroid_id", "sig_lo", "sig_hi"),
                qc,
                probes,
                topk,
                allowed=filter_ids,
                exclude_self=exclude_query_ids,
            )
        n_short = similarity.PQ_SHORTLIST if shortlist is None else shortlist
        short = similarity.ann_ivfbq_topk(
            codes.select("vec_id", "centroid_id", "sig_lo", "sig_hi"),
            qc,
            probes,
            n_short,
            allowed=filter_ids,
            exclude_self=exclude_query_ids,
        )
        return similarity.ann_ivfpq_rerank(
            vectors.select("vec_id", "centroid_id", "embedding"),
            short,
            queries,
            topk,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )

    def build_cascade_index(
        self,
        name: str,
        emb: DataFrame,
        n_list: int = 16,
        kmeans_iters: int = 2,
        m: int | None = None,
        k: int | None = None,
        pq_iters: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """[EXT] Build-once CASCADE index — every compression tier of
        the production retrieval funnel in ONE build: the IVF+BQ
        composed index (:meth:`build_ivfbq_index` — coarse quantizer
        + centroid-partitioned 16 B sign codes + vectors) PLUS a
        centroid-PARTITIONED product-quantization code table and its
        trained codebook, all sharing the IVFBQ build id. Serving
        (:meth:`cascade_search`) then runs coarse prune -> wide
        Hamming cut -> PQ ADC narrow -> exact rerank with EVERY
        stage's scan dynamically pruned to the probed lists: the PQ
        codes being partitioned like the sign codes is what lifts
        the r11 funnel's one remaining full-table read (the PQ-narrow
        join over unpartitioned codes) into the same
        nprobe/n_list-pruned shape as the other stages. Training
        reads the STORED vectors (deterministic: the md5-seeded PQ
        init keys on vec_id, so codebooks equal an emb-direct
        train), and the PQ encode reads them too, so each code row
        carries its vector's centroid_id without a join. The coarse
        quantizer and the codebook live in the index manifest, which
        commits last."""
        build_id, state = self._build_lists(
            name, emb, n_list, kmeans_iters, id_col, vec_col, _bq_codes
        )
        m, k, iters = _pq_params(m, k, pq_iters)
        stored = self.table(f"{name}_vectors")
        cb = _bounded(
            similarity.pq_codebooks(stored, m, k, iters, "vec_id", "embedding")
        )
        codes = _pq_codes(stored, _rows(cb), m, build_id)
        self.materialize_partitioned(f"{name}_codes_pq", codes, ["centroid_id"])
        state["params"].update(pq_m=m, pq_k=k)
        members = {"vectors": {}, "codes": {}, "codes_pq": {}}
        self._commit_build(name, "cascade", build_id, members, codebook=cb, **state)

    def cascade_search(
        self,
        name: str,
        queries: DataFrame,
        topk: int = 10,
        nprobe: int = 2,
        hamming_cut: int = 200,
        pq_narrow: int = 50,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        filter_ids: DataFrame | None = None,
        exclude_query_ids: bool = True,
    ) -> DataFrame:
        """[EXT] The production retrieval FUNNEL over a built cascade
        index (r11 verdict task 3 — the steady-state serving split of
        ``ann_cascade_search``, which trains per run): (1) the
        manifest's centroids, as plan literals, pick each query's
        nprobe lists in a per-row expression, (2)
        XOR+popcount over ONLY those lists' 16 B sign codes keeps
        ``hamming_cut`` candidates (the probe join dynamically prunes
        the partitioned codes scan to nprobe/n_list of the files),
        (3) the PQ ADC re-scores exactly those pairs from the
        centroid-partitioned PQ codes — the (centroid_id, vec_id)
        broadcast prunes this scan the same way — and narrows to
        ``pq_narrow``, (4) the exact cosine rerank reads only the
        survivors' float vectors via the same pruned point lookups.
        Probe I/O ~ corpus x (nprobe/n_list) x (17 B/256 B of the
        compressed tiers) + bounded-pair work; no stage rescans the
        corpus. Raises on a torn index (see :func:`_stamp`).
        Fourteen Spark jobs per steady-state call without
        ``filter_ids``."""
        man = self._manifest(name, "cascade")
        codes_bq, codes_pq, vectors = (
            self.table(f"{name}_{t}") for t in ("codes", "codes_pq", "vectors")
        )
        probes = self._probe_lists(man, queries, nprobe, query_id_col, query_vec_col)
        qc = similarity.bq_query_codes(queries, query_id_col, query_vec_col)
        stage1 = similarity.ann_ivfbq_topk(
            codes_bq.select("vec_id", "centroid_id", "sig_lo", "sig_hi"),
            qc,
            probes,
            hamming_cut,
            allowed=filter_ids,
            exclude_self=exclude_query_ids,
        )
        lut = self._lut(man, queries, query_id_col, query_vec_col)
        stage2 = similarity.ann_cascade_pq_narrow(
            stage1,
            codes_pq.select("vec_id", "centroid_id", "m", "code"),
            lut,
            pq_narrow,
        )
        return similarity.ann_ivfpq_rerank(
            vectors.select("vec_id", "centroid_id", "embedding"),
            stage2,
            queries,
            topk,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )

    def append_to_cascade_index(
        self,
        name: str,
        new_emb: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """[EXT] Incremental append to the cascade index — the
        nightly-crawl story for the full funnel: the batch is
        assigned against the manifest's centroids, sign-packed AND
        PQ-encoded against its codebook in bounded batch passes (no
        quantizer retrains; the corpus is never rescanned), appended
        to ALL THREE centroid-partitioned tables under the build's
        id, committed at revision + 1, and returns the one-row drift
        report — (appended_rows, batch_mean_sim_micro,
        build_mean_sim_micro, drift_micro), the REBUILD TRIGGER.
        Appended sign codes ≡ a same-centroid rebuild BY
        CONSTRUCTION (parameterless quantizer); appended PQ codes ≡
        a frozen-codebook re-encode (the IVFPQ append property). A
        failure before the commit leaves member counts above the
        committed ones, which every later search and append
        refuses."""
        man = self._manifest(name, "cascade")
        m, build_id = man["params"]["pq_m"], man["build_id"]
        cents, cb = _rows(man["centroids"]), _rows(man["codebook"])
        batch = similarity._assign_scored(new_emb, cents, id_col, vec_col)
        batch = batch.localCheckpoint()
        self._verified.pop(name, None)
        vectors = _vector_rows(batch, build_id, id_col, vec_col)
        _append_stored(f"{name}_vectors", vectors, "centroid_id")
        codes = _bq_codes(batch, build_id, id_col, vec_col)
        _append_stored(f"{name}_codes", codes, "centroid_id")
        codes_pq = _pq_codes(batch, cb, m, build_id, id_col, vec_col)
        _append_stored(f"{name}_codes_pq", codes_pq, "centroid_id")
        return self._commit_append(name, man, batch, vectors=1, codes=1, codes_pq=m)

    def build_text_index(
        self,
        name: str,
        docs: DataFrame,
        text_col: str = "text",
        n_buckets: int = 32,
    ) -> None:
        """[EXT] Build-once BM25 text-retrieval index — the lexical
        sibling of :meth:`build_ivf_index`: tokenize the corpus ONCE
        (text.build_postings), materialize the (doc_id, dl, tok, tf)
        postings as ``{name}_postings`` BUCKETED by ``tok`` (every
        :meth:`text_search` term prune and df window reads
        co-located inverted lists — no index-side exchange; pinned
        by tests/test_text_index.py) and keep the corpus stats
        (n_docs, sum_dl) in the index manifest.

        Pick ``n_buckets`` to match the probe side's target
        partitioning (``spark.sql.shuffle.partitions`` of the
        serving session): Spark's planner keeps the co-located
        bucketed read only when the bucket count equals the
        partition count it would otherwise shuffle to — on a
        mismatch it disables the bucketed scan and re-shuffles the
        whole index per probe.

        Unlike the ANN index's frozen centroids, BM25 state is
        ADDITIVE — postings union and the stats sums compose — so
        :meth:`append_to_text_index` keeps the index EXACT: probes
        over (build + appends) equal a rebuild-on-union to the bit.

        Torn-state discipline (the stored-index protocol, see
        :func:`_stamp`): postings rows carry the build id and the
        revision that wrote them, the manifest commits last, and
        text_search verifies the postings against it before serving
        (a failure before the commit leaves a detectable mismatch
        instead of silently wrong df/stats)."""
        postings, stats = text.build_postings(docs, text_col)
        build_id = random_alphanum()
        self._verified.pop(name, None)
        self.materialize_bucketed(
            f"{name}_postings", _stamp(postings, build_id, 0), ["tok"], n_buckets
        )
        members = {"postings": {"bucket": ["tok", n_buckets]}}
        srow = stats.collect()[0].asDict()
        self._commit_build(name, "text", build_id, members, stats=srow)

    def append_to_text_index(
        self,
        name: str,
        new_docs: DataFrame,
        text_col: str = "text",
        n_buckets: int = 32,
    ) -> DataFrame:
        """[EXT] EXACT incremental append — the nightly-crawl story
        for the text index: tokenize only the new batch (the corpus
        is never rescanned), append its postings to the bucketed
        inverted lists under the SAME build id at revision+1, and
        commit the batch's (n_docs, sum_dl) folded into the
        manifest's stats. df per
        term is recomputed from postings at probe time, so the
        appended index serves IDENTICAL scores to a full rebuild on
        the union — pinned by tests/test_text_index.py.

        Returns a one-row vocabulary-drift report: (appended_docs,
        appended_postings, new_terms, new_term_ppm, revision) —
        new_terms = batch terms absent from the stored index,
        new_term_ppm = their share of the batch vocabulary in ppm.
        A batch from the corpus distribution re-uses the stored
        vocabulary (low ppm); topic/language drift mints new terms —
        the COMPACTION/REBUILD trigger a 100 TB operator watches
        (each append adds a parquet file set per bucket; periodic
        rebuild re-compacts). Cost: the instrument prunes the
        stored side to the batch's term set FIRST (co-located
        semi-join on the bucketed ``tok``), so everything is
        O(batch + Σ df(batch terms)), not O(index).

        ``n_buckets`` must match the build's (Spark refuses a
        mismatched bucket spec loudly)."""
        man = self._manifest(name, "text")
        batch_postings, batch_stats = text.build_postings(new_docs, text_col)
        batch_postings = batch_postings.localCheckpoint()
        brow = batch_stats.collect()[0]
        # one-row instrument; see text.vocab_drift for the prune-
        # first anti-join shape that keeps it batch-sized
        drift = text.vocab_drift(
            self.table(f"{name}_postings"), batch_postings
        ).collect()[0]
        n_postings = batch_postings.count()
        committed = _grown(man, postings=n_postings)
        revision, stats = committed["revision"], man["stats"]
        committed["stats"] = {
            "n_docs": stats["n_docs"] + brow.n_docs,
            "sum_dl": (stats["sum_dl"] or 0) + (brow.sum_dl or 0),
        }
        self._verified.pop(name, None)
        stamped = _stamp(batch_postings, man["build_id"], revision)
        _append_stored(f"{name}_postings", stamped, "tok", n_buckets)
        self._commit(name, committed)
        report = (brow.n_docs, n_postings, drift.new_terms, drift.new_term_ppm)
        return self.spark.createDataFrame(
            [(*report, revision)],
            "appended_docs bigint, appended_postings bigint, "
            "new_terms bigint, new_term_ppm bigint, revision bigint",
        )

    def text_search(
        self,
        name: str,
        queries: DataFrame,
        topn: int = 10,
        max_pushdown_terms: int = 10_000,
    ) -> DataFrame:
        """[EXT] Query-table-driven BM25 retrieval over an index
        built by :meth:`build_text_index` — probes the stored
        bucketed postings; no re-tokenization, no corpus scan, no
        per-query replanning.

        The plan is built from two driver reads of bounded inputs:

        - the index manifest (no Spark job): its n_docs / sum_dl
          enter the BM25 expression as literals
          (text.bm25_probe_held). Raises on a torn build or append
          (see :func:`_stamp`);
        - the query batch, read in one job and capped at
          ``max_pushdown_terms`` rows (text.held_batch). Its distinct
          terms become a literal IN filter on the postings scan, so
          Spark BUCKET-PRUNES the read to the buckets holding query
          terms (``SelectedBucketsCount`` k out of n in the plan) and
          row-group-prunes within them via the tok-sorted layout; a
          literal term -> query ids map replaces any join with the
          query table.

        The executed plan is then one bucketed postings scan (df as
        a tok-partitioned window, co-located), one exchange on
        query_id, and the per-query sum and top-``topn`` window:
        three Spark jobs per steady-state call, the batch read
        included (pinned by tests/test_text_index.py).

        A batch of more than ``max_pushdown_terms`` rows (or whose
        query_id type has no literal form) is not held on the
        driver: it runs text.bm25_probe's semi-join plan against the
        unpruned postings, with the same results (set
        ``max_pushdown_terms=0`` to force that path)."""
        stats = self._manifest(name, "text")["stats"]
        index = self.table(f"{name}_postings").select("doc_id", "dl", "tok", "tf")
        held = text.held_batch(queries, max_pushdown_terms)
        if held is None:
            row = [(stats["n_docs"], stats["sum_dl"])]
            stats_df = self.spark.createDataFrame(row, "n_docs bigint, sum_dl bigint")
            return text.bm25_probe(index, stats_df, queries, topn)
        batch, qid_type = held
        return text.bm25_probe_held(
            index, stats["n_docs"], stats["sum_dl"], batch, qid_type, topn
        )

    def build_graph_index(
        self,
        name: str,
        edges: DataFrame,
        n_buckets: int = 32,
        src_col: str = "src",
        dst_col: str = "dst",
    ) -> None:
        """[EXT] Build-once GRAPH index lifecycle (r16 verdict task
        5) — the stored 100 TB form the in-run
        ``operators.iterate.pagerank`` docstring names: prepare the
        edge frame ONCE so every centrality run pays only its
        bounded rank iterations. Three tables under one build id:

        * ``{name}_edges`` ``(src, dst, build_id, revision)`` — the
          DEDUPED edge list, BUCKETED by ``src``: the per-round rank
          join reads co-located source buckets with NO edge-side
          shuffle (pinned by tests/test_bucketing.py::
          test_graph_index_lifecycle); appends land in the same
          bucket spec at revision+1.
        * ``{name}_degrees`` ``(src, deg, build_id, revision)`` —
          one row per SOURCE node (the out-degree side table). Kept
          OFF the edge table so appends never rewrite the edge
          store: degrees are node-sized and merge-rewritten per
          append.
        * ``{name}_nodes`` ``(node, build_id, revision)`` — every
          distinct endpoint; its count seeds the rank frame.

        Torn-state detection (the stored-index protocol, see
        :func:`_stamp`): the build stamps revision 0 everywhere and
        commits the manifest last; each append writes edges at
        revision+1, rewrites degrees and nodes at revision+1, then
        commits. pagerank_served refuses tables that disagree with
        the committed manifest — a crash anywhere in an append
        leaves a member above its committed count or revision."""
        deduped = (
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .distinct()
            .localCheckpoint()  # reused by all three writes below
        )
        build_id = random_alphanum()
        self._verified.pop(name, None)
        self._release_graph_frames(name)
        self.materialize_bucketed(
            f"{name}_edges", _stamp(deduped, build_id, 0), ["src"], n_buckets
        )
        degrees = deduped.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
        self._replace_table(f"{name}_degrees", _stamp(degrees, build_id, 0))
        nodes = (
            deduped.select(F.col("src").alias("node"))
            .union(deduped.select(F.col("dst").alias("node")))
            .distinct()
        )
        self._replace_table(f"{name}_nodes", _stamp(nodes, build_id, 0))
        members = dict(edges={"bucket": ["src", n_buckets]}, degrees={}, nodes={})
        self._commit_build(name, "graph", build_id, members)

    def append_to_graph_index(
        self,
        name: str,
        new_edges: DataFrame,
        n_buckets: int = 32,
        src_col: str = "src",
        dst_col: str = "dst",
    ) -> DataFrame:
        """[EXT] Incremental edge append — the nightly-crawl story
        for the graph index (the append_to_ivf_index analogue): the
        batch is deduplicated internally AND against the stored
        edges (left-anti join on ``(src, dst)`` — the stored side is
        bucketed by ``src``, so the probe co-locates on the bucket
        key and the shuffle is batch-sized), the surviving edges
        append to the bucketed store under the SAME build id, and
        the NODE-SIZED side tables are merge-rewritten: degrees gain
        the batch's per-source counts, nodes gain the batch's unseen
        endpoints. The edge store itself is append-only — no 100 TB
        rewrite per batch.

        Returns a one-row report ``(appended_edges, duplicate_edges,
        new_nodes, total_nodes)`` — duplicate_edges is the batch
        mass already present (re-crawl overlap), new_nodes the graph
        growth an operator alerts on. Appended state ≡ what
        build_graph_index would store for the union — pinned by
        tests/test_bucketing.py. The edge batch lands at revision+1,
        degrees and nodes rewrite at revision+1, then the manifest
        commits — a crash at any point leaves members that disagree
        with the committed manifest, which pagerank_served refuses.
        ``n_buckets`` must match the build's (Spark refuses a
        mismatched bucket spec loudly)."""
        man = self._manifest(name, "graph")
        bid, revision = man["build_id"], man["revision"] + 1
        degrees_tbl = self.table(f"{name}_degrees")
        batch = (
            new_edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .distinct()
            .localCheckpoint()
        )
        fresh = batch.join(
            self.table(f"{name}_edges").select("src", "dst"),
            ["src", "dst"],
            "left_anti",
        ).localCheckpoint()  # frozen before the append writes below
        n_batch, n_fresh = batch.count(), fresh.count()
        self._verified.pop(name, None)
        self._release_graph_frames(name)
        _append_stored(f"{name}_edges", _stamp(fresh, bid, revision), "src", n_buckets)
        merged_deg = (
            degrees_tbl.select("src", "deg")
            .join(
                fresh.groupBy("src").agg(
                    F.count(F.lit(1)).cast("bigint").alias("d_new")
                ),
                "src",
                "full_outer",
            )
            .select(
                "src",
                (
                    F.coalesce("deg", F.lit(0))
                    + F.coalesce("d_new", F.lit(0))
                ).cast("bigint").alias("deg"),
            )
            .localCheckpoint()  # materialized BEFORE its source drops
        )
        self._replace_table(f"{name}_degrees", _stamp(merged_deg, bid, revision))
        nodes_tbl = self.table(f"{name}_nodes")
        new_nodes = (
            fresh.select(F.col("src").alias("node"))
            .union(fresh.select(F.col("dst").alias("node")))
            .distinct()
            .join(nodes_tbl.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        n_new_nodes = new_nodes.count()
        merged_nodes = (
            nodes_tbl.select("node").union(new_nodes).localCheckpoint()
        )
        n_total = merged_nodes.count()
        self._replace_table(f"{name}_nodes", _stamp(merged_nodes, bid, revision))
        committed = _grown(man, edges=n_fresh, nodes=n_new_nodes)
        committed["members"]["degrees"]["rows"] = merged_deg.count()
        self._commit(name, committed)
        return self.spark.createDataFrame(
            [(n_fresh, n_batch - n_fresh, n_new_nodes, n_total)],
            "appended_edges bigint, duplicate_edges bigint, "
            "new_nodes bigint, total_nodes bigint",
        )

    def pagerank_served(
        self,
        name: str,
        iterations: int = 5,
        damping_pct: int = 85,
        k: int = 10,
    ) -> DataFrame:
        """[EXT] PageRank over an index built by
        :meth:`build_graph_index` — no edge dedup, no degree
        aggregation, no per-run preparation: the stored out-degrees
        join onto the src-bucketed edge store (edge side co-located,
        only the node-sized frames shuffle) and the SAME bounded
        integer power iteration as the in-run form runs over it
        (``operators.iterate.pagerank_rounds`` — one shared loop, so
        served ranks are bit-identical to ``pagerank`` over the same
        edges; the graph_pagerank_served conformance query pins that
        against the unrolled-CTE oracle). Raises on a torn build or
        append (see :func:`_stamp`)."""
        from .operators.iterate import pagerank_rounds

        man = self._manifest(name, "graph")
        want = (man["build_id"], man["revision"])
        edges = self.table(f"{name}_edges")
        degrees_tbl = self.table(f"{name}_degrees")
        nodes_tbl = self.table(f"{name}_nodes")
        from . import cache

        # persist the degree-attached edge frame and the node frame
        # (r16, guide §5): pagerank_rounds reads both once PER ROUND,
        # and a lazy join/scan here re-read the stored tables and
        # re-ran the degree join every round (measured:
        # graph_rank_only benched SLOWER than the in-run form). The
        # cached join keeps the bucketed edge side's hash(src)
        # partitioning AND (r17) its src sort, so rounds stay
        # edge-side-exchange-free AND edge-side-sort-free; at 100 TB
        # MEMORY_AND_DISK spills to local disk — still cheaper than
        # iterations x (remote bucket read + degree join).
        # nodes.count() doubles as the materializing action.
        #
        # The frames are MEMOIZED per (build_id, revision) alongside
        # the verified state (advisor r16: repeated pagerank_served
        # calls in a long-lived session must not accumulate pinned
        # blocks) — a serving session pays the cache build once, and
        # a rebuild/append (new build id or revision, frames released
        # by build/append) or a harness cache.release() (storage level
        # drops to NONE, checked below) invalidates it. Input-frame
        # reuse only, never query results: the rank iterations run in
        # full on every call.
        memo = self._graph_frames.get(name)
        if memo is not None and memo[0] == want and all(
            f.storageLevel.useMemory or f.storageLevel.useDisk
            for f in memo[1:]
        ):
            prepared, nodes = memo[1], memo[2]
        else:
            self._release_graph_frames(name)
            prepared = cache.persisted(
                edges.select("src", "dst")
                .join(degrees_tbl.select("src", "deg"), "src")
                # sort the cache ONCE so each round's merge join reads
                # the src order instead of re-sorting the edge frame
                # per round (elided when the join already emits it)
                .sortWithinPartitions("src")
            )
            # lay the node frame out co-partitioned with the edge
            # store (hash(node) over the same id domain as hash(src),
            # same partition count) and pre-sorted, so every round's
            # left join against it needs no exchange and no sort, and
            # the rank frame inherits that layout for the NEXT
            # round's src join — one Exchange per round total (r17;
            # operators/iterate.py pagerank_rounds docstring).
            # getNumPartitions on the cached, exchange-free prepared
            # plan is metadata-only.
            n_parts = prepared.rdd.getNumPartitions()
            nodes = cache.persisted(
                nodes_tbl.select("node")
                .repartition(n_parts, "node")
                .sortWithinPartitions("node")
            )
            self._graph_frames[name] = (want, prepared, nodes)
        return pagerank_rounds(
            prepared, nodes, nodes.count(), iterations, damping_pct, k
        )

    @property
    def sequences(self):
        """H2 sequence registry (CREATE SEQUENCE / NEXTVAL / ...):
        durable JSON state in the warehouse directory under the same
        flock protocol as the table catalog (see sequences.py)."""
        if self._sequences is None:
            from .sequences import Sequences

            self._sequences = Sequences(warehouse_dir(self.spark))
        return self._sequences

    @property
    def schemas(self):
        """H2 schema registry (CREATE SCHEMA / DROP SCHEMA / the
        dotted-logical-name prefix for non-PUBLIC objects): durable
        JSON state beside the sequence registry (see schemas.py)."""
        if self._schemas is None:
            from .schemas import Schemas

            self._schemas = Schemas(warehouse_dir(self.spark))
        return self._schemas

    @property
    def constraints(self):
        """Recorded PK/UNIQUE constraint registry (accept-and-record,
        the CREATE INDEX no-op precedent): durable JSON state beside
        the sequence registry (see constraints.py)."""
        if self._constraints is None:
            from .constraints import Constraints

            self._constraints = Constraints(warehouse_dir(self.spark))
        return self._constraints

    @property
    def views(self):
        """Durable H2-view registry (CREATE [FORCE] VIEW / DROP VIEW
        / SCRIPT round-trip): JSON state beside the sequence and
        constraint registries (see views.py). A view is pure
        metadata — its definition inlines into consuming queries at
        analysis time, so Catalyst pushes filters through it into
        the parquet scans (zero materialization at any scale)."""
        if self._views is None:
            from .views import Views

            self._views = Views(warehouse_dir(self.spark))
        return self._views

    @property
    def colmeta(self):
        """Durable column/table metadata registry (DEFAULT / identity
        sequence binding / NOT NULL intent / SELECTIVITY / COMMENT
        remarks): JSON state beside the sequence, constraint and view
        registries (see colmeta.py). Parquet cannot carry any of
        these, so the registry is what INSERT defaults, NOT NULL
        enforcement, INFORMATION_SCHEMA and SCRIPT dumps read."""
        if self._colmeta is None:
            from .colmeta import ColumnMeta

            self._colmeta = ColumnMeta(warehouse_dir(self.spark))
        return self._colmeta

    # -- surface (H2Destination.scala:37-46) ---------------------------

    def csv_create_sink(self) -> CsvCreateSink:
        """The one ResultSink the destination exposes."""
        return self.sink

    def refresh_information_schema(self) -> None:
        """[EXT] Rebuild the H2-spelled ``information_schema`` views
        (TABLES/COLUMNS/SEQUENCES) from the current engine catalog —
        the introspection surface every H2/JDBC/BI client reads on
        connect (H2Server.scala:60-84). ``execute_sql`` refreshes
        lazily on any statement mentioning INFORMATION_SCHEMA; wire
        clients see the catalog as of endpoint start or the last
        explicit refresh. See :mod:`.info_schema`."""
        from . import info_schema

        info_schema.refresh_information_schema(self)

    def _republish_info_schema(self) -> None:
        """Best-effort post-mutation republish for wire clients —
        never lets an introspection failure break the mutation that
        triggered it."""
        if not self.endpoint_started:
            return
        try:
            self.refresh_information_schema()
        except Exception:  # pragma: no cover — degraded introspection
            log.warning("information_schema republish failed", exc_info=True)

    def sql(self, query: str) -> DataFrame:
        """Tier-B surface: full Spark SQL over loaded tables."""
        return self.spark.sql(query)

    def execute_sql(self, statement: str):
        """SQL statement surface with H2-parity DML: UPDATE / DELETE /
        MERGE text is parsed and dispatched to the engine's
        rewrite-based DML (returning a JDBC-style update count), every
        other statement runs as plain Spark SQL (returning its
        DataFrame) — the reference's users issue these as SQL because
        H2 parses them server-side (H2Server.scala:60-84). See
        sql_dml module docstring for dialect + wire-endpoint notes."""
        from . import sql_dml

        return sql_dml.execute(self, statement)

    def table(self, logical_name: str) -> DataFrame:
        # register through the session catalog first (no-op when
        # already known): a fresh process's raw-parquet fallback
        # infers schema from file footers, which never carry a
        # metadata-only ADD COLUMN — the catalog's declared schema
        # (with _ensure_registered's re-applied columns) does
        physical = self.sink.catalog.get(logical_name)
        if physical is not None:
            self._ensure_registered(str(physical))
        return self.sink.table(logical_name)

    def drop_table_if_exists(self, logical_name: str) -> None:
        """DROP TABLE IF EXISTS parity (H2CsvCreateSink.scala:125-126)."""
        physical = self.sink.catalog.get(logical_name)
        if physical is not None:
            from .sources.sink import warehouse_path

            self.spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(physical)}")
            self._registered.discard(str(physical))
            # cross-process: data of a table this session never
            # registered survives DROP — remove it explicitly
            import shutil

            shutil.rmtree(warehouse_path(self.spark, physical), ignore_errors=True)
            # tombstoned persist: the merge protocol must not
            # resurrect this name from a concurrent writer's state
            self.sink.drop_mapping(logical_name)
            # recorded PK/UNIQUE metadata dies with its table
            self.constraints.drop_table(logical_name)
            # ... as do defaults / identity bindings / comments; an
            # identity column's BACKING sequence dies too, but only
            # when it is marked BELONGS_TO_TABLE (H2's semantic: a
            # user sequence referenced by a DEFAULT survives)
            from .sequences import SequenceError

            for entry in self.colmeta.columns_of(logical_name).values():
                seq = entry.get("sequence")
                if not seq:
                    continue
                # same owner scan as the DROP SEQUENCE statement
                # guard: a second table's column bound to this
                # sequence (ALTER COLUMN SET DEFAULT NEXT VALUE FOR)
                # would be left with a dangling binding if the drop
                # proceeded (advice r14)
                if self._seq_drawn_elsewhere(seq, exclude_table=logical_name):
                    continue
                try:
                    if self.sequences.describe(seq)["belongs_to_table"]:
                        self.sequences.drop(seq, if_exists=True)
                except SequenceError:
                    pass  # already dropped elsewhere
            self.colmeta.drop_table(logical_name)

    def _seq_drawn_elsewhere(
        self,
        seq: str,
        exclude_table: str,
        exclude_column: "str | None" = None,
    ) -> bool:
        """True when any colmeta column OUTSIDE the excluded
        table/column still draws from ``seq`` — the guard DROP
        SEQUENCE applies, reused by the implicit drops (table drop,
        identity unbind) so they never strand another column's
        binding (advice r14)."""
        skey = seq.casefold()
        t_ex = exclude_table.casefold()
        c_ex = exclude_column.casefold() if exclude_column else None
        for tkey, tentry in self.colmeta.all().items():
            for ckey, e in tentry.get("columns", {}).items():
                if tkey == t_ex and (c_ex is None or ckey == c_ex):
                    continue
                if (e.get("sequence") or "").casefold() == skey:
                    return True
        return False

    # -- DML (SURVEY §2.2: INSERT built-in; UPDATE/DELETE/MERGE are
    # documented overwrite-rewrites — parquet tables have no in-place
    # mutation; Delta/Iceberg would upgrade these to transactional
    # single-statement ops with the same call signatures) ------------

    def append_rows_to_log(self, logical_name: str, rows: DataFrame) -> None:
        """[EXT] Append a SMALL driver-built frame to a catalog table,
        creating it on first use — the drift-log sink for streaming
        index maintenance (streaming/index_maintenance.py; bounded:
        one row per micro-batch)."""
        physical = self.sink.catalog.get(logical_name)
        if physical is None:
            self.create_table_as(logical_name, rows)
            return
        self._ensure_registered(physical)
        rows.write.mode("append").format("parquet").saveAsTable(physical)
        self.spark.catalog.refreshTable(physical)

    def _session_shadow_exists(self, name: str, gen=None) -> bool:
        """``spark.catalog.tableExists`` with a NEGATIVE-result memo
        for the statement pre-bind path (r14 task 3): a name checked
        once and absent skips the catalog RPC on every later
        statement. Only absence is memoized — a present session
        object is re-checked every time, so dropping it un-shadows
        promptly — and the memo invalidates whenever the engine
        catalog's key set changes (any DDL). ``gen`` lets the
        per-statement caller share the generation the pre-bind index
        just computed instead of re-hashing the key set per token
        (review r14). Staleness is HARMLESS by construction: the
        bind site uses createTempView, which raises (instead of
        replacing) when a session object appeared after the memo
        recorded absence — the caller then evicts the entry via
        :meth:`_forget_shadow_absence` and the user's object wins."""
        if gen is None:
            gen = (
                len(self.sink.catalog),
                hash(frozenset(map(str, self.sink.catalog))),
            )
        memo = getattr(self, "_noshadow_memo", None)
        if memo is None or memo[0] != gen:
            memo = (gen, set())
            self._noshadow_memo = memo
        if name in memo[1]:
            return False
        if self.spark.catalog.tableExists(name):
            return True
        memo[1].add(name)
        return False

    def _forget_shadow_absence(self, name: str) -> None:
        """Evict one stale negative-memo entry (a session object
        appeared under this name since it was recorded absent)."""
        memo = getattr(self, "_noshadow_memo", None)
        if memo is not None:
            memo[1].discard(name)

    def _ensure_registered(self, physical: str) -> None:
        """Cross-process DML support: a fresh process's session catalog
        has never heard of a table a previous engine materialized, so
        append/overwrite ``saveAsTable`` would take the create-table
        path and fail with LOCATION_ALREADY_EXISTS. Re-register the
        warehouse directory as a parquet table (schema and partition
        columns inferred from the existing files, partition list
        recovered from its ``col=value`` directories, bucket spec
        restored from the manifest of the index it belongs to) before
        any DML write. The first call per name in a process also settles a
        directory swap a failed :meth:`_rewrite` left behind
        (:func:`_settle_swap`). No-op when already memoized."""
        from .sources.sink import warehouse_path

        if physical in self._registered:
            return
        path = warehouse_path(self.spark, physical)
        swapped = _settle_swap(path)
        if self.spark.catalog.tableExists(physical):
            if swapped:
                self._refresh_files(physical, path)
            self._registered.add(physical)
            return
        if os.path.isdir(path):
            escaped = path.replace("'", "''")
            logical = next(
                (
                    l
                    for l, p in self.sink.catalog.items()
                    if str(p) == physical
                ),
                None,
            )
            bucket = self._bucket_spec(logical) if logical is not None else None
            spec = "USING parquet"
            if bucket is not None:
                # Spark takes a bucket spec only beside a column list
                key, n_buckets = hygienic_ident(bucket[0]), int(bucket[1])
                cols = self.spark.read.parquet(path).schema.toDDL()
                spec = (
                    f"({cols}) USING parquet CLUSTERED BY ({key}) "
                    f"SORTED BY ({key}) INTO {n_buckets} BUCKETS"
                )
            self.spark.sql(
                f"CREATE TABLE {hygienic_ident(physical)} {spec} "
                f"LOCATION '{escaped}'"
            )
            self._refresh_files(physical, path)
            # metadata-only ADD COLUMNs (colmeta 'added_type') are
            # invisible to footer inference until some file carries
            # them — re-apply the declared columns the inferred
            # schema is missing (skip any a later rewrite already
            # materialized)
            if logical is not None:
                have = {
                    c.casefold() for c in self.spark.table(physical).columns
                }
                pend = [
                    (e["column"], e["added_type"])
                    for e in self.colmeta.columns_of(logical).values()
                    if e.get("added_type")
                    and e["column"].casefold() not in have
                ]
                if pend:
                    cols = ", ".join(f"`{c}` {t}" for c, t in pend)
                    self.spark.sql(
                        f"ALTER TABLE {hygienic_ident(physical)} "
                        f"ADD COLUMNS ({cols})"
                    )
                    self.spark.catalog.refreshTable(physical)
            self._registered.add(physical)

    def insert_into(
        self,
        logical_name: str,
        columns: Sequence,
        source,
    ) -> int:
        """INSERT INTO (append): validate the column list exactly like
        the create sink, then append the CSV to the existing table.
        Accepts the same payloads as consume() (embedded-newline CSVs
        retry via the shared multiLine fallback). Returns the number
        of appended rows."""
        from .types import ensure_valid_columns
        from .sources.sink import load_csv_with_fallback

        physical = self.sink.catalog.get(logical_name)
        if physical is None:
            from .errors import NotAResource

            raise NotAResource(logical_name)
        schema = ensure_valid_columns(columns, self.sink.type_options)
        self._ensure_registered(physical)
        tmp = None
        try:
            if isinstance(source, str):
                csv_path = source
            else:
                tmp = self.sink._spool(source)
                csv_path = tmp
            counts = []

            def _checked_append(d):
                # recorded CHECK constraints hold on the wire-append
                # path too — same bounded pre-write filter as
                # insert_rows; the returned (checkpointed) frame is
                # what lands, so checked rows = written rows
                d = self._enforce_check_constraints(
                    logical_name, d, "INSERT"
                )
                counts.append(self._append_counted(physical, d))

            load_csv_with_fallback(
                self.spark, csv_path, schema, _checked_append
            )
            return counts[0]
        finally:
            if tmp is not None:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass

    def _has_check_constraints(self, logical_name: str) -> bool:
        """True when a DML write into this table must route through
        the enforcement pass: a recorded CHECK predicate OR a
        declared NOT NULL column (colmeta) — both are evaluated in
        the same single aggregation."""
        return any(
            e["type"] == "CHECK"
            for e in self.constraints.for_table(logical_name)
        ) or any(
            e.get("not_null")
            for e in self.colmeta.columns_of(logical_name).values()
        )

    def _enforce_check_constraints(
        self, logical_name: str, rows: DataFrame, verb: str
    ) -> DataFrame:
        """Evaluate every recorded CHECK predicate over the rows a
        DML statement is ABOUT to write (accept-and-enforce, r11
        verdict task 2): one bounded filter per constraint over only
        the written/changed rows — never a table rescan. SQL CHECK
        semantics: NULL/unknown passes; a violation is the predicate
        evaluating to FALSE. Raises :class:`CheckViolation` with the
        constraint name, violation count and example rows BEFORE
        anything lands (statement atomicity: the caller writes only
        after this returns).

        Returns the frame THE CALLER MUST WRITE: when CHECKs exist
        the incoming frame is localCheckpoint-ed first, so a
        non-deterministic source (``rand()`` in an INSERT...SELECT)
        cannot pass the check and then re-evaluate into different,
        violating rows at write time (advisor r12 — the checked rows
        ARE the written rows). Bounded: only the rows being written
        materialize, only on tables that declare CHECKs. Without
        CHECKs the frame passes through untouched."""
        checks = [
            e
            for e in self.constraints.for_table(logical_name)
            if e["type"] == "CHECK"
        ]
        # declared NOT NULL columns (colmeta: spelled NOT NULL or
        # PK-implied at CREATE CACHED TABLE, or ALTER COLUMN SET NOT
        # NULL) are enforced in the SAME single pass — H2 rejects a
        # NULL write into them, and a restored dump must keep doing
        # so. Only columns the incoming frame actually carries are
        # checked (a frame is always schema-conformed by the caller).
        frame_cols = {c.casefold() for c in rows.columns}
        not_null = [
            e["column"]
            for e in self.colmeta.columns_of(logical_name).values()
            if e.get("not_null") and e["column"].casefold() in frame_cols
        ]
        if not checks and not not_null:
            return rows
        rows = rows.localCheckpoint(eager=True)
        from .constraints import CheckViolation
        from .colmeta import NullViolation

        def _viol(e):
            return ~F.coalesce(
                F.expr(e["predicate"]).cast("boolean"), F.lit(True)
            )

        # ONE pass over the incoming frame counts every constraint's
        # violations together — per-constraint filter jobs would
        # recompute an expensive DML source N_constraints times
        # (self-review r12); the steady state (no violations) costs
        # exactly one extra aggregation
        counts = rows.agg(
            *[
                F.sum(_viol(e).cast("int")).alias(f"c{i}")
                for i, e in enumerate(checks)
            ],
            *[
                F.sum(F.col(f"`{c}`").isNull().cast("int")).alias(f"n{j}")
                for j, c in enumerate(not_null)
            ],
        ).collect()[0]
        for i, e in enumerate(checks):
            n = counts[i] or 0
            if n:
                sample = rows.where(_viol(e)).take(3)
                raise CheckViolation(
                    f"{verb}: {n} row(s) violate CHECK constraint "
                    f"{e['name']!r} on {logical_name!r} "
                    f"(predicate: {e['predicate']}); examples: "
                    + "; ".join(str(tuple(r)) for r in sample)
                )
        for j, c in enumerate(not_null):
            n = counts[len(checks) + j] or 0
            if n:
                raise NullViolation(
                    f"{verb}: NULL not allowed for column {c!r} on "
                    f"{logical_name!r} ({n} row(s))"
                )
        return rows

    def validate_check_predicate(
        self, logical_name: str, predicate: str, validate_rows: bool = True
    ) -> None:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK: H2 validates the
        EXISTING rows when the constraint is added — one bounded scan
        — and rejects the DDL if any fail (or if the predicate does
        not analyze against the table's columns).
        ``validate_rows=False`` is the trailing-NOCHECK form H2's own
        SCRIPT dumps spell (skip the existing-row scan; the analysis
        check always runs — an unparseable predicate must fail the
        DDL, not the first INSERT months later)."""
        target = self.table(logical_name)
        try:
            target.where(F.expr(predicate)).schema  # analysis only
        except Exception as e:
            raise ValueError(
                f"ADD CONSTRAINT CHECK: predicate {predicate!r} does "
                f"not analyze against {logical_name!r}: {e}"
            ) from None
        if not validate_rows:
            return
        from .constraints import CheckViolation

        viol = target.where(
            ~F.coalesce(F.expr(predicate).cast("boolean"), F.lit(True))
        )
        sample = viol.take(3)
        if sample:
            raise CheckViolation(
                f"ADD CONSTRAINT CHECK: {viol.count()} existing row(s) "
                f"of {logical_name!r} violate {predicate!r}; examples: "
                + "; ".join(str(tuple(r)) for r in sample)
            )

    def insert_rows(self, logical_name: str, df: DataFrame) -> int:
        """INSERT (append) of an arbitrary DataFrame whose schema
        already matches the target (the SQL front door conforms it).
        Recorded CHECK constraints are enforced on the incoming rows
        first. Returns the number of appended rows, observed during
        the append itself: the statement is one job."""
        physical = self.sink.catalog.get(logical_name)
        if physical is None:
            from .errors import NotAResource

            raise NotAResource(logical_name)
        self._ensure_registered(physical)
        df = self._enforce_check_constraints(logical_name, df, "INSERT")
        return self._append_counted(physical, df)

    def _append_counted(self, physical: str, df: DataFrame) -> int:
        """Append ``df`` to ``physical``; returns the appended row
        count, observed during the append itself (one job)."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).format("parquet").saveAsTable(physical)
        return obs.get["n"]

    def create_table_as(
        self, logical_name: str, df: DataFrame, if_not_exists: bool = False
    ) -> str:
        """CREATE TABLE ... AS SELECT: materialize `df` as a new
        engine-cataloged table (same storage-safe naming + durable
        catalog as the CSV sink). Returns the physical name. Errors if
        the table exists, unless `if_not_exists` (then no-op)."""
        from .sources.sink import prepare_replace

        if logical_name in self.sink.catalog:
            if if_not_exists:
                return self.sink.catalog[logical_name]
            raise ValueError(f"table already exists: {logical_name!r}")
        if self.views.get(logical_name) is not None:
            raise ValueError(
                f"a view named {logical_name!r} already exists"
            )
        physical = storage_safe_name(logical_name)
        prepare_replace(self.spark, physical)
        df.write.mode("overwrite").format("parquet").saveAsTable(physical)
        self.sink.catalog[logical_name] = physical
        self.sink._persist_catalog()
        return physical

    def _rewrite(self, physical: str, df: DataFrame) -> None:
        """Replace the rows of ``physical`` with ``df`` in one write —
        the commit of UPDATE, DELETE and MERGE.

        Spark cannot overwrite a table from a plan that reads it, so
        the new rows go to the sibling directory ``{location}__next``
        through an empty ``CREATE TABLE ... LIKE`` staging entry: its
        ``insertInto`` keeps the by-position store-assignment casts
        to the stored schema, and dropping it afterwards is metadata
        only. The directories then swap (``location -> __old``,
        ``__next -> location``), the table's cached file listing is
        refreshed and ``__old`` removed. The table's catalog entry,
        physical name and schema never change, so a table
        re-registered EXTERNAL after a restart swaps the same way.

        A failure before the swap completes leaves at most a
        ``__next`` and an ``__old``: the memo entry is dropped, so the
        next :meth:`_ensure_registered` of the name promotes a
        complete ``__next`` into a missing location and removes the
        rest (:func:`_settle_swap`)."""
        from .sources.sink import warehouse_path

        self._ensure_registered(physical)
        location = warehouse_path(self.spark, physical)
        nxt, old = location + "__next", location + "__old"
        staging = f"{physical}_rw"
        cols = self.spark.table(physical).columns
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(staging)}")
            self.spark.sql(
                f"CREATE TABLE {hygienic_ident(staging)} LIKE "
                f"{hygienic_ident(physical)} USING parquet "
                "LOCATION '" + nxt.replace("'", "''") + "'"
            )
            try:
                df.select(
                    *[F.col(hygienic_ident(c)) for c in cols]
                ).write.insertInto(staging, overwrite=True)
            finally:
                self.spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(staging)}")
            os.rename(location, old)
            os.rename(nxt, location)
        except BaseException:
            self._registered.discard(physical)
            raise
        self._refresh_files(physical, location, old)
        shutil.rmtree(old, ignore_errors=True)

    def _refresh_files(self, physical: str, *paths: str) -> None:
        """Point the session catalog at the files now under
        ``physical``'s location: drop its cached file listing and,
        for a directory-partitioned table (``col=value``
        subdirectories in any of ``paths``), re-sync its partition
        list — which no refresh does."""
        self.spark.catalog.refreshTable(physical)
        if _has_partition_dirs(*paths):
            self.spark.sql(
                f"REPAIR TABLE {hygienic_ident(physical)} SYNC PARTITIONS"
            )

    def _rewrite_new_schema(self, physical: str, df: DataFrame) -> None:
        """Schema-CHANGING overwrite (ALTER TABLE): the directory swap
        of :meth:`_rewrite` keeps the table's catalog schema, so here
        the staging hop is followed by a real drop+recreate (the
        catalog commit of the final create is the atomicity point)."""
        from .sources.sink import clear_stale_location

        self._ensure_registered(physical)
        staging = f"{physical}_rw"
        clear_stale_location(self.spark, staging)
        df.write.mode("overwrite").format("parquet").saveAsTable(staging)
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(physical)}")
            clear_stale_location(self.spark, physical)
            self.spark.table(staging).write.mode("overwrite").format(
                "parquet"
            ).saveAsTable(physical)
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(staging)}")

    def add_column(
        self,
        logical_name: str,
        col_name: str,
        spark_type: str,
        default: "str | None" = None,
        not_null: bool = False,
        selectivity: "int | None" = None,
        remarks: "str | None" = None,
    ) -> None:
        """ALTER TABLE ... ADD COLUMN: existing rows fill with the
        DEFAULT when one is declared (H2's back-fill), else NULL.
        NOT NULL without a DEFAULT on a non-empty table errors (H2's
        rule — there is nothing lawful to fill). Declared metadata
        (default / NOT NULL / SELECTIVITY / COMMENT) records in the
        column-metadata registry for later INSERTs, enforcement and
        SCRIPT dumps."""
        target = self.table(logical_name)
        if col_name in target.columns:
            raise ValueError(f"column already exists: {col_name!r}")
        # "no lawful fill" includes a DEFAULT NULL spelling — the
        # recorded default is the STRING 'NULL', which back-fills
        # NULLs into a column declared NOT NULL (review r13).
        # Parenthesized spellings (`DEFAULT (NULL)`, `((NULL))`) are
        # the same NULL constant and must hit the same guard
        # (advice r14)
        no_fill = default is None or _is_null_literal(default)
        if not_null and no_fill and target.limit(1).count():
            raise ValueError(
                f"ADD COLUMN {col_name!r} NOT NULL: the table has rows "
                "and no DEFAULT to fill them (H2 rejects this)"
            )
        physical = self.sink.catalog[logical_name]
        fields = {
            "default": default,
            "not_null": True if not_null else None,
            "selectivity": selectivity,
            "remarks": remarks,
        }
        if no_fill:
            # NULL-filled ADD COLUMN is PURE METADATA: Spark's
            # parquet reader fills NULL for a declared column the
            # old files never wrote, so the 100 TB case is one
            # catalog statement — no table rewrite, no data moved.
            # A fresh process re-registers the table from file
            # footers (which lack the column), so the declared type
            # is recorded durably and _ensure_registered re-applies
            # it (colmeta 'added_type').
            self.spark.sql(
                f"ALTER TABLE {hygienic_ident(physical)} "
                f"ADD COLUMNS (`{col_name}` {spark_type})"
            )
            self.spark.catalog.refreshTable(physical)
            fields["added_type"] = spark_type
        else:
            # a DEFAULT back-fill freezes the default VALUE into the
            # existing rows (H2's semantic — a later SET DEFAULT must
            # not retroactively change them), which is inherently a
            # bounded rewrite
            self._rewrite_new_schema(
                physical,
                target.withColumn(
                    col_name, F.expr(default).cast(spark_type)
                ),
            )
        if any(v is not None for v in fields.values()):
            self.colmeta.update_column(logical_name, col_name, **fields)

    def drop_column(self, logical_name: str, col_name: str) -> None:
        """ALTER TABLE ... DROP COLUMN. H2 refuses to drop a column
        a recorded constraint depends on (member of a PK/UNIQUE/FK,
        referenced by an inbound FK, or mentioned by a CHECK
        predicate) — a silent drop would leave the registry dumping
        unrestorable SCRIPTs and the CHECK enforcement failing
        analysis on the next write."""
        import re as _re

        target = self.table(logical_name)
        if col_name not in target.columns:
            raise ValueError(f"no such column: {col_name!r}")
        if len(target.columns) == 1:
            raise ValueError("cannot drop the only column")
        deps = self.constraints.column_members(logical_name, col_name)
        rx = _re.compile(
            rf"(?i)(?<![\w$`]){_re.escape(col_name)}(?![\w$`])"
        )
        for e in self.constraints.for_table(logical_name):
            if (
                e["type"] == "CHECK"
                and rx.search(e["predicate"].replace("`", ""))
                and e["name"] not in deps
            ):
                deps.append(e["name"])
        if deps:
            raise ValueError(
                f"DROP COLUMN {col_name!r}: constraint(s) {deps} depend "
                "on it — drop them first (H2 refuses the drop)"
            )
        self._rewrite_new_schema(
            self.sink.catalog[logical_name], target.drop(col_name)
        )
        self.drop_identity_backing(logical_name, col_name)
        self.colmeta.drop_column(logical_name, col_name)

    def rename_column(self, logical_name: str, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN ... TO ..."""
        target = self.table(logical_name)
        if old not in target.columns:
            raise ValueError(f"no such column: {old!r}")
        if new in target.columns:
            raise ValueError(f"column already exists: {new!r}")
        # a CHECK predicate mentioning the old spelling would fail
        # analysis on the next write — H2 rewrites its parsed
        # expression tree; this engine stores predicate TEXT, so the
        # rename is refused while a CHECK depends on the column
        # (PK/UNIQUE/FK member lists migrate in place below)
        import re as _re

        rx = _re.compile(rf"(?i)(?<![\w$`]){_re.escape(old)}(?![\w$`])")
        blocked = [
            e["name"]
            for e in self.constraints.for_table(logical_name)
            if e["type"] == "CHECK"
            and rx.search(e["predicate"].replace("`", ""))
        ]
        if blocked:
            raise ValueError(
                f"RENAME COLUMN {old!r}: CHECK constraint(s) {blocked} "
                "reference it — drop them first"
            )
        self._rewrite_new_schema(
            self.sink.catalog[logical_name], target.withColumnRenamed(old, new)
        )
        self.constraints.rename_column(logical_name, old, new)
        self.colmeta.rename_column(logical_name, old, new)

    def drop_identity_backing(self, logical_name: str, col_name: str) -> None:
        """When a column's sequence binding is removed (DROP COLUMN,
        ALTER COLUMN SET/DROP DEFAULT), a BELONGS_TO_TABLE backing
        sequence has no owner left — drop it, or every later dump
        emits a dangling CREATE SEQUENCE ... BELONGS_TO_TABLE line
        (H2 drops the auto-increment sequence with its column). A
        user-created sequence merely referenced by a default
        survives (not flagged BELONGS_TO_TABLE)."""
        from .sequences import SequenceError

        entry = self.colmeta.columns_of(logical_name).get(
            col_name.casefold(), {}
        )
        seq = entry.get("sequence")
        if not seq:
            return
        # another column (any table, or even this table) still bound
        # to the sequence keeps it alive — the DROP SEQUENCE guard's
        # owner scan, minus the column being unbound (advice r14)
        if self._seq_drawn_elsewhere(
            seq, exclude_table=logical_name, exclude_column=col_name
        ):
            return
        try:
            if self.sequences.describe(seq)["belongs_to_table"]:
                self.sequences.drop(seq, if_exists=True)
        except SequenceError:
            pass  # already gone elsewhere

    def cast_column_type(
        self, logical_name: str, col_name: str, spark_type: str
    ) -> None:
        """ALTER TABLE ... ALTER COLUMN ... SET DATA TYPE: one
        bounded cast-rewrite of the table (the same overwrite pass as
        UPDATE — parquet has no in-place schema mutation). H2
        semantics: values that do not convert fail the statement, so
        the cast is validated FIRST with one aggregation counting
        non-NULL values that cast to NULL (try_cast probe) — a lossy
        retype errors loudly instead of silently nulling data."""
        target = self.table(logical_name)
        if col_name not in target.columns:
            raise ValueError(f"no such column: {col_name!r}")
        col = F.col(f"`{col_name}`")
        lossy = (
            target.agg(
                F.sum(
                    (
                        col.isNotNull() & col.try_cast(spark_type).isNull()
                    ).cast("int")
                ).alias("n")
            ).collect()[0][0]
            or 0
        )
        if lossy:
            raise ValueError(
                f"ALTER COLUMN {col_name!r} SET DATA TYPE {spark_type}: "
                f"{lossy} value(s) do not convert (H2 rejects a lossy "
                "retype)"
            )
        self._rewrite_new_schema(
            self.sink.catalog[logical_name],
            target.withColumn(col_name, col.cast(spark_type)),
        )

    def set_column_not_null(
        self, logical_name: str, col_name: str, not_null: bool
    ) -> None:
        """ALTER TABLE ... ALTER COLUMN ... SET NOT NULL / SET NULL
        (H2 also spells the latter DROP NOT NULL). SET NOT NULL
        validates the EXISTING rows first — one bounded aggregation,
        H2's own behavior — then records the intent in the column
        metadata registry so every subsequent DML write enforces it
        (engine._enforce_check_constraints)."""
        from .colmeta import NullViolation

        target = self.table(logical_name)
        res = {c.casefold(): c for c in target.columns}.get(
            col_name.casefold()
        )
        if res is None:
            raise ValueError(f"no such column: {col_name!r}")
        if not not_null:
            # H2 refuses to make a PRIMARY KEY member nullable
            # ('column is referenced by a constraint') — and a silent
            # flag-drop here would desynchronize enforcement from the
            # IS_NULLABLE='NO' the PK registry keeps reporting
            pk = [
                e["name"]
                for e in self.constraints.for_table(logical_name)
                if e["type"] == "PRIMARY KEY"
                and any(
                    c.casefold() == res.casefold() for c in e["columns"]
                )
            ]
            if pk:
                raise ValueError(
                    f"ALTER COLUMN {res!r} SET NULL: the column is a "
                    f"member of PRIMARY KEY {pk[0]!r} (H2 refuses)"
                )
        if not_null:
            nulls = (
                target.agg(
                    F.sum(F.col(f"`{res}`").isNull().cast("int")).alias("n")
                ).collect()[0][0]
                or 0
            )
            if nulls:
                raise NullViolation(
                    f"ALTER COLUMN {res!r} SET NOT NULL: {nulls} existing "
                    f"NULL value(s) in {logical_name!r}"
                )
        self.colmeta.update_column(
            logical_name, res, not_null=True if not_null else None
        )

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME TO (H2 grammar): a pure catalog
        remap. Physical storage never moves — physical names are
        opaque fingerprints of the ORIGINAL logical name, and the
        catalog mapping is the only authority — so renaming a 100 TB
        table is O(1) metadata under the same flock merge-persist as
        every other catalog mutation (the old key tombstones so a
        concurrent merge cannot resurrect it)."""
        src = None
        for logical in self.sink.catalog:
            if logical.casefold() == old.casefold():
                src = logical
                break
        if src is None:
            raise ValueError(f"RENAME: table not found: {old!r}")
        for logical in self.sink.catalog:
            if logical.casefold() == new.casefold():
                raise ValueError(f"RENAME: table already exists: {new!r}")
        if self.views.get(new) is not None:
            raise ValueError(f"RENAME: a view named {new!r} exists")
        # a view reading this table dangles after a rename exactly as
        # after a drop — the H2 RESTRICT discipline applies to both
        # (self-review r12)
        deps = self.views.dependents_of(src)
        if deps:
            raise ValueError(
                f"RENAME: view(s) {deps} depend on {src!r} — drop or "
                "redefine them first"
            )
        physical = self.sink.catalog.pop(src)
        self.sink._dropped.add(src)
        self.sink.catalog[new] = physical
        self.sink._persist_catalog()
        self.constraints.rename_table(src, new)
        self.colmeta.rename_table(src, new)

    def rename_schema(self, old: str, new: str) -> None:
        """``ALTER SCHEMA old RENAME TO new`` (H2 1.4.200 grammar;
        r14 verdict missing #3): re-keys the dotted logical names of
        every contained object across the table catalog and the
        sequence / constraint / column-metadata registries, then the
        schema registry entry itself — pure catalog metadata,
        O(schema object count) driver work; physical storage never
        moves (the rename_table rationale, so renaming a schema of
        100 TB tables is metadata-only). PUBLIC cannot be renamed
        (H2: the default schema is not droppable or renamable).
        Views are PUBLIC-only on this engine, but a PUBLIC view
        reading an in-schema table would dangle after the rename —
        refused up front, the RENAME TABLE RESTRICT discipline, and
        every collision is checked BEFORE anything moves so a refusal
        leaves the catalog untouched. The session's current schema
        follows the rename (H2 sessions reference the schema object,
        not its name). Like ALTER TABLE RENAME, the multi-registry
        move is same-host statement-atomic, not crash-atomic (the
        documented catalog limitation)."""
        from .schemas import PUBLIC, SchemaError

        okey, nkey = old.casefold(), new.casefold()
        if okey == PUBLIC:
            raise SchemaError("ALTER SCHEMA: PUBLIC cannot be renamed (H2)")
        if not self.schemas.exists(old):
            raise SchemaError(f"schema not found: {old!r}")
        prefix = okey + "."
        tables = [
            str(t)
            for t in self.sink.catalog
            if str(t).casefold().startswith(prefix)
        ]
        seqs = [s for s in self.sequences.names() if s.startswith(prefix)]
        if nkey != okey:
            # ALL validation before ANY mutation: dependent views and
            # captured-name collisions (a hostile PUBLIC object
            # literally named "nkey.x" would silently become
            # in-schema once nkey registers) refuse up front. ONE
            # registry read + one relation_names scan per view (the
            # rename_sequences single-pass rule), not a
            # dependents_of call per table (review r15)
            from .views import relation_names

            table_keys = {str(t).casefold() for t in tables}
            for ventry in self.views.all().values():
                hit = relation_names(ventry["definition"]) & table_keys
                if hit:
                    raise SchemaError(
                        f"ALTER SCHEMA {old!r} RENAME TO: view(s) "
                        f"[{ventry['name']!r}] depend on "
                        f"{sorted(hit)!r} — drop or redefine them "
                        "first (the RENAME TABLE rule)"
                    )
            catalog_cf = {str(t).casefold() for t in self.sink.catalog}
            for t in tables:
                target = f"{nkey}.{str(t)[len(prefix):]}".casefold()
                if target in catalog_cf:
                    raise SchemaError(
                        f"ALTER SCHEMA {old!r} RENAME TO {new!r}: a "
                        f"table named {target!r} already exists"
                    )
            seq_cf = set(self.sequences.names())
            for s in seqs:
                target = f"{nkey}.{s[len(prefix):]}"
                if target in seq_cf:
                    raise SchemaError(
                        f"ALTER SCHEMA {old!r} RENAME TO {new!r}: a "
                        f"sequence named {target!r} already exists"
                    )
        # the registry entry first (validates addressability and a
        # key collision, and handles the case-only re-spell), so the
        # object migration below runs with the NEW key registered
        self.schemas.rename(old, new)
        if nkey != okey:
            for t in tables:
                bare = str(t)[len(prefix):]
                self.rename_table(t, f"{nkey}.{bare}")
            seq_map = {s: f"{nkey}.{s[len(prefix):]}" for s in seqs}
            for s, ns in seq_map.items():
                self.sequences.rename(s, ns)
            self.colmeta.rename_sequences(seq_map)
            if self.current_schema == okey:
                self.current_schema = nkey
        self._republish_info_schema()

    def analyze_tables(
        self, logical: "str | None" = None, sample_size: "int | None" = None
    ) -> int:
        """H2 ``ANALYZE [TABLE t] [SAMPLE_SIZE n]`` (r15): compute
        every column's SELECTIVITY — H2's 1..100 distinct-ratio
        optimizer statistic (100 = all values distinct) — and record
        it in the column-metadata registry, where SCRIPT dumps
        (``SELECTIVITY n`` column options) and
        INFORMATION_SCHEMA.COLUMNS already surface it, exactly the
        columns an ANALYZEd real H2 1.4.200 re-emits
        (``Analyze.java``; the reference replays such dumps through
        RUNSCRIPT, ``H2Server.scala:41-58``).

        One aggregation pass per table computes COUNT(*), every
        atomic column's COUNT(DISTINCT) and its null presence
        together (the table_profile single-Expand shape — never a
        scan per column). NULL counts as one distinct value (H2's
        hash-set iteration treats it as one);
        ``selectivity = max(1, min(100, 100 * distinct // rows))``
        over the SAMPLED row count; empty tables are skipped (H2
        leaves their statistics untouched). Non-atomic columns
        (array/map/struct — this engine's vector index tables) are
        skipped: H2 has no such column types, and DISTINCT over them
        is not universally defined.

        ``SAMPLE_SIZE`` is HONORED with H2's semantics (r16 verdict
        task 4 — Analyze.java bounds the statistics scan with a
        LIMIT): ``sample_size=n`` feeds the aggregate the first ``n``
        rows only (``df.limit(n)`` — a GlobalLimit that stops the
        scan early, so ANALYZE on a wide 100 TB table reads a bounded
        prefix, not every row ``×(k+1)`` through the multi-distinct
        Expand), ``n=0`` forces exact statistics, and ``None`` (no
        clause) uses H2's own default sample of 10 000 rows. Exactness
        on a bounded battery table is unchanged (sample ≥ rows reads
        everything), which is what keeps the oracle-paired battery
        deterministic. Returns the number of tables analyzed."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import types as T

        from .errors import NotAResource

        if logical is not None:
            # resolve through the same casefolded lookup the sibling
            # surfaces use (rename_table/_logical) — a direct API
            # call with a differently-cased spelling must bind, not
            # die on an exact-key membership test (advice r16)
            lkey = str(logical).casefold()
            targets = [
                t for t in self.sink.catalog if str(t).casefold() == lkey
            ][:1]
            if not targets:
                raise ValueError(f"ANALYZE: table not found: {logical!r}")
        else:
            targets = sorted(self.sink.catalog, key=str)
        analyzed = 0
        for t in targets:
            try:
                df = self.table(t)
            except (AnalysisException, NotAResource):
                # staleness only (dropped files / concurrent drop —
                # the refresh_information_schema discipline): bare
                # ANALYZE skips the entry, a NAMED table must load.
                # Any OTHER failure (transient IO, misconfig)
                # propagates in both modes instead of silently
                # leaving the table unanalyzed (advice r16).
                if logical is not None:
                    raise
                continue
            cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, T.AtomicType)
            ]
            if not cols:
                continue
            # H2's bounded statistics scan: LIMIT-style sample
            # (Analyze.java), default 10 000 rows, 0 = exact
            sample = 10_000 if sample_size is None else sample_size
            if sample > 0:
                df = df.limit(sample)
            aggs = [F.count(F.lit(1)).alias("__n")]
            for i, c in enumerate(cols):
                aggs.append(
                    F.countDistinct(F.col(f"`{c}`")).alias(f"d{i}")
                )
                aggs.append(
                    F.max(F.col(f"`{c}`").isNull().cast("int")).alias(
                        f"z{i}"
                    )
                )
            row = df.agg(*aggs).collect()[0]
            n = row["__n"]
            analyzed += 1
            if not n:
                continue
            per_col = {}
            for i, c in enumerate(cols):
                d = (row[f"d{i}"] or 0) + (1 if row[f"z{i}"] else 0)
                per_col[c] = {
                    "selectivity": max(1, min(100, (100 * d) // n))
                }
            self.colmeta.update_columns(t, per_col)
        self._republish_info_schema()
        return analyzed

    def drop_all_objects(self) -> None:
        """H2's ``DROP ALL OBJECTS`` scoped to what this engine owns:
        every catalog table, index manifest and sequence. Bounded
        driver work (catalog-sized loop); each drop reuses the
        existing flock-protected paths."""
        for logical in list(self.sink.catalog):
            self.drop_table_if_exists(logical)
        wh = glob.escape(warehouse_dir(self.spark))
        for manifest in glob.glob(os.path.join(wh, "_index_*")):
            os.remove(manifest)
        for name in self.sequences.names():
            self.sequences.drop(name, if_exists=True)
        self.views.drop_all()
        self.colmeta.drop_all()
        self._republish_info_schema()

    def delete_where(self, logical_name: str, condition: str) -> int:
        """DELETE FROM t WHERE cond: one :meth:`_rewrite` of the rows
        the condition does not match (a NULL condition keeps its
        row). Returns the number of deleted rows, counted during that
        write (:func:`_match_counted`) — the statement is one job."""
        target = self.table(logical_name)
        physical = self.sink.catalog[logical_name]
        frame, hit, obs = _match_counted(target, condition)
        self._rewrite(physical, frame.where(~hit).drop(hit))
        return obs.get["n"]

    def update_where(
        self, logical_name: str, assignments: dict[str, str], condition: str
    ) -> int:
        """UPDATE t SET col=expr, ... WHERE cond: one :meth:`_rewrite`
        of every row, the matched ones with the assignments applied.
        Returns the number of rows matching the condition, counted
        during that write (:func:`_match_counted`) — the statement is
        one job. A table with CHECK or NOT NULL constraints takes the
        checkpointed enforcement path below instead."""
        target = self.table(logical_name)
        physical = self.sink.catalog[logical_name]
        # H2 parity: a misspelled assignment target raises 'Column
        # not found'; silently ignoring it diverges without a signal
        # (same guard as MERGE USING, sql_dml._execute_merge_using).
        # Resolution is case-INSENSITIVE like both engines' own
        # identifier lookup — 'SET VAL = 1' against column 'val'
        # updates val rather than raising.
        from .sql_dml import resolve_columns

        res = resolve_columns(
            assignments, target.columns, "UPDATE: column not found in SET"
        )
        assignments = {res[c]: e for c, e in assignments.items()}
        if self._has_check_constraints(logical_name):
            cond = F.expr(condition)
            n = target.where(cond).count()
            # CHECK enforcement over ONLY the changed rows, with the
            # assignments applied and cast to the stored schema (the
            # values that land). The enforced frame comes back
            # checkpointed, and the rewrite writes THAT frame plus
            # the untouched remainder — so a non-deterministic
            # assignment (rand()) cannot pass the check and then
            # re-evaluate into different rows at write time
            # (advisor r12)
            changed = target.where(cond).select(
                *[
                    (
                        F.expr(assignments[f.name])
                        if f.name in assignments
                        else F.col(f.name)
                    )
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in target.schema.fields
                ]
            )
            checked = self._enforce_check_constraints(
                logical_name, changed, "UPDATE"
            )
            kept = target.where(~cond | cond.isNull())
            self._rewrite(physical, kept.unionByName(checked))
            return n
        frame, hit, obs = _match_counted(target, condition)
        updated = frame.select(
            *[
                F.when(hit, F.expr(assignments[c]))
                .otherwise(F.col(hygienic_ident(c)))
                .alias(c)
                if c in assignments
                else F.col(hygienic_ident(c))
                for c in target.columns
            ]
        )
        self._rewrite(physical, updated)
        return obs.get["n"]

    def materialize_bucketed(
        self,
        logical_name: str,
        df: DataFrame,
        bucket_cols: Sequence[str],
        n_buckets: int = 32,
    ) -> str:
        """[EXT] Materialize a DataFrame as a bucketed+sorted table.

        Joins/aggregations between tables bucketed on the same keys
        with the same bucket count run WITHOUT a shuffle (Spark reuses
        the on-disk hash partitioning) — the co-located-join strategy
        for repeated 100 TB fact-fact joins. Pinned by
        tests/test_bucketing.py (no Exchange in the joined plan)."""
        from .sources.sink import prepare_replace

        physical = storage_safe_name(logical_name)
        # prepare_replace, not clear_stale_location: engine.table()
        # registers surviving warehouse dirs as EXTERNAL (the
        # metadata-only ADD COLUMN reader path), and an overwrite
        # saveAsTable over an external entry drops it WITHOUT
        # deleting the files, then refuses the create
        # (LOCATION_ALREADY_EXISTS — found by the r13 oracle sweep)
        prepare_replace(self.spark, physical)
        (
            # cluster rows by the bucket key first (r16, guide §6):
            # a bucketed write emits one file per (task, bucket), so
            # an UNCLUSTERED upstream — e.g. the r16 map-only
            # literal-argmax encodes, or any wide scan — writes up to
            # tasks x n_buckets tiny files and every probe pays the
            # open cost forever. The repartition makes it exactly one
            # file per bucket; when the upstream already ends in a
            # matching hash exchange the planner satisfies the
            # requirement without a second shuffle.
            df.repartition(n_buckets, *[df[c] for c in bucket_cols])
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .saveAsTable(physical)
        )
        self.sink.catalog[logical_name] = physical
        self.sink._persist_catalog()
        return physical

    def materialize_partitioned(
        self,
        logical_name: str,
        df: DataFrame,
        partition_cols: Sequence[str],
    ) -> str:
        """[EXT] Materialize a DataFrame as a directory-PARTITIONED
        table (one directory per distinct partition-column value).
        Complements :meth:`materialize_bucketed`: bucketing removes
        the shuffle from co-located joins, partitioning removes the
        I/O — a scan filtered (statically or via dynamic partition
        pruning from a broadcast join) on the partition column reads
        ONLY the matching directories. The IVFPQ index stores its
        inverted lists this way: a probe touching nprobe of n_list
        lists reads nprobe/n_list of the files, which is the whole
        point of IVF at 100 TB. Use only for low-cardinality keys
        (n_list centroid ids, dates) — per-value directories explode
        on high-cardinality columns."""
        from .sources.sink import prepare_replace

        physical = storage_safe_name(logical_name)
        # prepare_replace for the same reason as materialize_bucketed:
        # an EXTERNAL-registered survivor must drop WITH its location
        prepare_replace(self.spark, physical)
        (
            # cluster rows by the partition key first (r16, guide §6
            # — the materialize_bucketed rationale): a partitioned
            # write emits one file per (task, directory), so an
            # unclustered upstream writes up to tasks x n_values tiny
            # files and every DPP-pruned probe re-opens them forever;
            # clustered, each directory holds one file per holding
            # task. Low-cardinality keys only (the method's existing
            # contract), so the exchange is node-bounded.
            df.repartition(*[df[c] for c in partition_cols])
            .write.mode("overwrite")
            .format("parquet")
            .partitionBy(*partition_cols)
            .saveAsTable(physical)
        )
        self.sink.catalog[logical_name] = physical
        self.sink._persist_catalog()
        return physical

    def merge_into(
        self,
        logical_name: str,
        source: DataFrame,
        key_cols: Sequence[str],
        preserve_cols: "Sequence[str] | None" = None,
    ) -> None:
        """MERGE (upsert): matched target rows are replaced by the
        source row, unmatched source rows are inserted. Rewrite =
        target ANTI JOIN source (on keys) UNION source — one shuffle
        on the key, no driver materialization.

        ``preserve_cols``: columns the statement OMITTED that carry
        recorded defaults/identity (colmeta) — on MATCHED rows H2
        keeps the target's value rather than re-defaulting it (an
        identity column must never be silently reassigned by an
        upsert), so those columns coalesce from the matched target
        row; unmatched rows keep the source's filled value. The
        identity values pre-allocated for rows that turn out matched
        go unused — a sequence gap, which sequences are defined to
        tolerate."""
        target = self.table(logical_name)
        physical = self.sink.catalog[logical_name]
        if preserve_cols:
            # one row per key from the target (duplicate-key targets
            # are legal — no enforced uniqueness — and the replace
            # semantic collapses them to the one source row anyway).
            # A presence FLAG (not a value coalesce) decides matched
            # vs inserted: a matched row whose preserved column holds
            # an explicit NULL keeps that NULL — H2 never re-defaults
            # an existing row through MERGE (review r13)
            tgt = target.select(
                *[F.col(f"`{k}`") for k in key_cols],
                *[
                    F.col(f"`{c}`").alias(f"__mrg_tgt_{c}")
                    for c in preserve_cols
                ],
                F.lit(True).alias("__mrg_hit"),
            ).dropDuplicates(list(key_cols))
            source = source.join(tgt, list(key_cols), "left").select(
                *[
                    F.when(
                        F.col("`__mrg_hit`"), F.col(f"`__mrg_tgt_{c}`")
                    )
                    .otherwise(F.col(f"`{c}`"))
                    .alias(c)
                    if c in set(preserve_cols)
                    else F.col(f"`{c}`")
                    for c in target.columns
                ]
            )
        # CHECK/NOT NULL enforcement over the rows as they will LAND
        # (after any preserve coalesce); the returned checkpointed
        # frame is what the union writes below
        source = self._enforce_check_constraints(
            logical_name, source, "MERGE"
        )
        kept = target.join(source, list(key_cols), "left_anti")
        self._rewrite(physical, kept.unionByName(source))
