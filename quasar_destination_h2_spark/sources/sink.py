"""The CSV create sink — the reference's one and only ResultSink.

Pipeline parity with ``H2CsvCreateSink.scala:37-64`` (SURVEY §3 EP2):

1. resolve the table name from a single-segment path (``:66-70``),
2. validate columns / build the schema, aggregating all bad types
   (``:72-99``),
3. stage the byte stream to a temp file when given bytes — the only
   materialization point, constant memory (``:50-52,101-104``),
4. atomically replace the table: the reference runs DROP + CREATE ...
   AS SELECT * FROM CSVREAD in one transaction (``:55-58``); here
   ``spark.read.csv -> write.mode("overwrite").saveAsTable`` is one
   parallel bulk load whose catalog commit flips readers to the new
   data,
5. delete the temp file (``:60``).

Scale notes: the CSV scan is splittable (multiLine=false), so a
1000-executor cluster reads a 100 TB push in parallel; nothing is
ever collected to the driver. A split is at least
``spark.sql.files.openCostInBytes`` long — 1 MB under the engine's
``DEFAULT_SPARK_CONF``, against Spark's 4 MB default — so a push of
at least 1 MB per core reads in one task per core (a 5 MB file on 4
cores: 4 tasks, not 2). The session conf is the only place that
floor takes effect: Spark ignores it as a reader option. The
``multiLine`` fallback reads each file whole. The written table is
Parquet — columnar, so downstream Tier-B queries get column pruning
+ predicate pushdown for free.

The logical -> physical table-name catalog is ``_catalog.json`` in
the warehouse directory, committed after each load through the
flock + fsync + ``os.replace`` protocol the statement-layer
registries share (:mod:`..locked_json`). The commit is one small
file write, no Spark job, so a push costs one job: the load itself
(the reference's catalog update is likewise an in-transaction
metadata write, ``H2CsvCreateSink.scala:106-126``). Warehouses
written before kept the catalog in a Parquet table
(:data:`CATALOG_TABLE`); it is read while ``_catalog.json`` is
absent and removed by the first JSON commit.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
import warnings
from dataclasses import dataclass, field
from typing import IO, Iterable, Sequence, Union

from pyspark.sql import SparkSession
from pyspark.errors import AnalysisException

from ..errors import NotAResource
from ..idents import storage_safe_name
from ..locked_json import LockedJson
from ..types import Column, TypeOptions, DEFAULT_OPTIONS, ensure_valid_columns
from .csv_format import read_csv

CsvSource = Union[str, bytes, IO[bytes], Iterable[bytes]]

#: The Parquet metadata table older warehouses kept the logical ->
#: physical name map in; read only to migrate it to ``_catalog.json``.
CATALOG_TABLE = "h2spark_catalog"


def warehouse_dir(spark: SparkSession) -> str:
    """Local filesystem path of the session's warehouse directory —
    home of the managed tables, the table catalog and the registries."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    return wh.rstrip("/") or wh


def warehouse_path(spark: SparkSession, physical: str) -> str:
    """Local filesystem path of a managed table's data directory."""
    return os.path.join(warehouse_dir(spark), physical.lower())


def clear_stale_location(spark: SparkSession, physical: str) -> None:
    """Managed-table data outlives the (in-memory/derby) session
    catalog across process restarts: saveAsTable then fails with
    LOCATION_ALREADY_EXISTS on a table the new session has never
    heard of. If the session catalog does NOT know `physical` but its
    warehouse directory exists, remove the stale directory so the
    create (atomic-replace semantics) can proceed. Local-FS only —
    on a cluster warehouse (S3/HDFS) this becomes a Hadoop FS delete,
    same contract."""
    try:
        if spark.catalog.tableExists(physical):
            return
        path = warehouse_path(spark, physical)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    except Exception:
        pass  # best effort — the write surfaces any real failure


def prepare_replace(spark: SparkSession, physical: str) -> None:
    """Make `physical` safely replaceable by an overwrite-saveAsTable.

    * table unknown to the session catalog → remove any stale
      warehouse directory a previous process left behind
      (clear_stale_location);
    * table registered EXTERNAL (the cross-process DML path
      re-registers surviving warehouse dirs as external) → drop it and
      remove the location, because ``saveAsTable(mode=overwrite)``
      would drop the external entry WITHOUT deleting its files and
      then refuse to create a managed table over them
      (LOCATION_ALREADY_EXISTS). Schema may change between pushes, so
      an in-place INSERT OVERWRITE is not an option here;
    * table registered MANAGED → leave it: the overwrite commit flips
      readers to the new data atomically (the reference's
      one-transaction DROP+CREATE, H2CsvCreateSink.scala:55-58).
    """
    try:
        if spark.catalog.tableExists(physical):
            t = spark.catalog.getTable(physical)
            if (t.tableType or "").upper() == "EXTERNAL":
                from ..idents import hygienic_ident

                spark.sql(f"DROP TABLE IF EXISTS {hygienic_ident(physical)}")
                shutil.rmtree(
                    warehouse_path(spark, physical), ignore_errors=True
                )
            return
    except Exception:
        pass  # fall through to the stale-location sweep
    clear_stale_location(spark, physical)


def sniff_linesep(path: str) -> str:
    """Detect the record terminator of a CSV file for the multiLine
    retry path. H2's CSVREAD accepts both ``\\r\\n`` and bare ``\\n``
    terminators, so hard-coding either breaks the other (a payload
    with bare-\\n records plus quoted embedded newlines would parse as
    one giant record under a forced \\r\\n lineSep). A well-formed CSV
    export ends with a record terminator, which by definition is
    outside any quoted field — so the file's tail is the reliable
    signal; majority vote is the no-trailing-newline fallback."""
    try:
        with open(path, "rb") as f:
            f.seek(0, os.SEEK_END)
            size = f.tell()
            f.seek(max(0, size - (1 << 16)))
            tail = f.read()
    except OSError:
        return "\r\n"
    if tail.endswith(b"\r\n"):
        return "\r\n"
    if tail.endswith(b"\n"):
        return "\n"
    crlf = tail.count(b"\r\n")
    return "\r\n" if crlf * 2 > tail.count(b"\n") else "\n"


def load_csv_with_fallback(spark, csv_path, schema, write, on_retry=None):
    """Read `csv_path` with the fast splittable line-oriented scan and
    run `write(df)`; if the scan chokes on quoted embedded newlines
    (legal wire format; H2 CSVREAD loads them), retry whole-file with
    multiLine + a sniffed record terminator (explicit lineSep stops
    univocity normalizing ``\\r\\n`` INSIDE quoted values to ``\\n`` —
    H2 preserves verbatim). `on_retry` runs before the second write
    (e.g. to clear a half-created table). Returns the DataFrame that
    was successfully written. Shared by the create sink's consume()
    and Engine.insert_into so both paths accept the same payloads."""
    df = read_csv(spark, csv_path, schema)
    try:
        write(df)
        return df
    except Exception as e:
        if "FAILED_READ_FILE" not in str(e) and "Malformed" not in str(e):
            raise
        df = read_csv(
            spark, csv_path, schema,
            multiLine="true", lineSep=sniff_linesep(csv_path),
        )
        if on_retry is not None:
            on_retry()
        write(df)
        return df


def ensure_valid_table_name(path: "str | Sequence[str]") -> str:
    """Accept exactly one path segment as the table name, else
    NotAResource — parity with ``H2CsvCreateSink.scala:66-70`` and the
    path-rejection tests (``H2DestinationSpec.scala:84-108``)."""
    if isinstance(path, str):
        segments = [s for s in path.split("/") if s != ""]
    else:
        segments = [str(s) for s in path]
    if len(segments) != 1 or segments[0] == "":
        raise NotAResource(path)
    return segments[0]


@dataclass
class CsvCreateSink:
    """Full-replace CSV load sink bound to an engine session.

    ``consume(path, columns, source)`` is the Spark rendering of the
    reference's ``Pipe[F, Byte, Unit]`` — instead of a pull-based byte
    stream we accept a path (preferred: stays distributed end-to-end),
    or raw bytes / a binary file object / an iterator of chunks, which
    are spooled to a temp file first exactly like the reference
    (``H2CsvCreateSink.scala:50-52``).
    """

    spark: SparkSession
    type_options: TypeOptions = DEFAULT_OPTIONS
    # logical table name -> physical catalog name (see idents.storage_safe_name)
    catalog: dict = None  # type: ignore[assignment]
    # logical names THIS engine dropped but has not yet persisted —
    # tombstones so the merge-persist can't resurrect them from disk
    _dropped: set = field(default_factory=set)
    # best-effort post-persist hook (the owning Engine republishes
    # the INFORMATION_SCHEMA views to wire clients; see info_schema)
    on_catalog_change: object = None
    # _catalog.json + _catalog.lock in the warehouse directory
    _store: LockedJson = field(init=False, repr=False)

    def __post_init__(self) -> None:
        self._store = LockedJson(warehouse_dir(self.spark), "_catalog")
        if self.catalog is None:
            self.catalog = {}
            self._rehydrate_catalog()

    def _read_disk_catalog(self) -> dict:
        """Current logical->physical mapping as persisted on disk.
        Callers must hold the catalog lock.

        Reads ``_catalog.json``; while it is absent, a legacy Parquet
        catalog is read instead (:meth:`_read_legacy_catalog`), so a
        warehouse written before the JSON catalog keeps its tables.
        A partial/empty read here would make the merge-persist
        clobber a concurrent writer's entries — the exact lost-update
        the flock protocol exists to prevent — so only the
        provably-empty case (no file) returns ``{}`` directly.
        PROVABLY-CORRUPT state (undecodable JSON, or JSON that is not
        a name -> name object) is quarantined — renamed aside with a
        ``RuntimeWarning``, never deleted — and treated as empty:
        physical names are sha-deterministic and re-derivable, and
        without the rename a permanently-bad file would block every
        future consume(). I/O errors, which may be transient,
        propagate rather than merging as empty."""
        path = self._store.path
        if not os.path.exists(path):
            return self._read_legacy_catalog()
        try:
            state = self._store.read()
            if not isinstance(state, dict) or not all(
                isinstance(v, str) for v in state.values()
            ):
                raise ValueError("not a logical -> physical name map")
        except ValueError as ex:  # JSONDecodeError, UnicodeDecodeError
            self._quarantine(path, ex)
            return {}
        return state

    def _read_legacy_catalog(self) -> dict:
        """The mapping a pre-JSON warehouse kept in the Parquet table
        :data:`CATALOG_TABLE`, or ``{}`` when there is none.

        Always reads the warehouse parquet path with a fresh
        ``spark.read`` — never ``spark.table`` — because another
        PROCESS may have rewritten the table since this session last
        resolved it. No directory or no readable parquet footer means
        nothing to merge; decode-time corruption (a crashed writer's
        truncated part file) quarantines the directory; anything
        else propagates. The first :meth:`_persist_catalog` removes
        the table, so this costs Spark jobs only until then."""
        path = warehouse_path(self.spark, CATALOG_TABLE)
        if not os.path.isdir(path):
            return {}
        try:
            # Drop any cached relation/file listing this session holds
            # for the metadata table (no-op when the name is unknown).
            self.spark.catalog.refreshTable(CATALOG_TABLE)
        except Exception:
            pass
        try:
            df = self.spark.read.parquet(path)
            return {row.logical: row.physical for row in df.collect()}
        except AnalysisException:
            # Directory exists but holds no readable parquet footer
            # (e.g. a crashed writer cleared it mid-replace): there is
            # genuinely nothing to merge.
            return {}
        except Exception as ex:
            if self._is_parquet_corruption(ex):
                self._quarantine(path, ex)
                return {}
            raise

    def _drop_legacy_catalog(self) -> None:
        """Remove the legacy Parquet catalog once ``_catalog.json``
        holds its entries (caller holds the exclusive lock), so a
        later quarantine of the JSON file can never fall back to it
        and resurrect names dropped since."""
        path = warehouse_path(self.spark, CATALOG_TABLE)
        if not os.path.isdir(path):
            return
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS {CATALOG_TABLE}")
        except Exception:
            pass  # the directory removal below is the durable part
        if os.path.isdir(path):
            shutil.rmtree(path)

    # Decode-time signatures of a truncated/garbled legacy parquet part
    # file.
    # Deliberately narrow: an executor-lost or filesystem I/O error
    # must NOT match (those are transient and retryable).
    _CORRUPTION_MARKERS = (
        "is not a parquet file",
        "could not read footer",
        "expected magic number",
        "parquetdecodingexception",
        "unexpected end of stream",
        "eofexception",
        # Hadoop's local/checksum FS verifies the .crc sidecar before
        # parquet ever parses the footer — a torn write fails here
        "checksumexception",
        "checksum error",
    )

    @classmethod
    def _is_parquet_corruption(cls, ex: Exception) -> bool:
        text = str(ex).lower()
        return any(marker in text for marker in cls._CORRUPTION_MARKERS)

    def _quarantine(self, path: str, ex: Exception) -> None:
        """Move corrupt catalog state (the JSON file or a legacy
        metadata dir) aside — never delete: it is the only forensic
        evidence of the crashed writer — so the next persist cycle
        starts from a clean slate instead of failing on the same
        corrupt bytes forever."""
        quarantine = f"{path}.corrupt-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        os.rename(path, quarantine)
        warnings.warn(
            "catalog metadata at %s was unreadable (%s); quarantined to %s "
            "and rebuilding from sha-deterministic physical names"
            % (path, str(ex).split("\n")[0][:200], quarantine),
            RuntimeWarning,
            stacklevel=3,
        )

    def _rehydrate_catalog(self) -> None:
        """Reload the logical->physical mapping from the warehouse
        catalog (written by _persist_catalog) so tables loaded by a
        previous engine instance stay addressable by name.

        Read under the shared lock, and best-effort: corrupt catalog
        state must not block engine construction (worst case the
        engine starts with an empty in-memory catalog). The
        strictness lives in _persist_catalog, where an empty merge
        would lose entries."""
        with self._store.locked(exclusive=False):
            try:
                self.catalog.update(self._read_disk_catalog())
            except Exception:
                pass

    def drop_mapping(self, logical: str) -> None:
        """Remove one logical name durably: tombstoned so the
        merge-persist below cannot resurrect it from a concurrent
        writer's disk state."""
        self.catalog.pop(logical, None)
        self._dropped.add(logical)
        self._persist_catalog()

    def _persist_catalog(self) -> None:
        """Merge-write the catalog to ``_catalog.json``: one small
        file write and no Spark job (one entry per loaded table, so
        the rewrite is O(tables), not O(data)).

        Concurrency protocol (same-host multi-writer): under the
        exclusive flock, re-read the disk state, overlay this
        engine's entries (its writes win their own keys), subtract
        its tombstones, and write the merge to a temp file that
        ``os.replace`` moves into place — a concurrent engine's
        additions survive instead of being clobbered by a stale full
        overwrite (pinned by
        tests/test_dml_catalog.py::test_concurrent_engines_do_not_lose_entries
        and ::test_cross_process_persist_merges). Over a legacy
        warehouse the first write also removes the Parquet catalog
        it migrated. Multi-HOST deployments still need a
        transactional store (the reference delegates this to H2's
        server-side catalog)."""
        with self._store.locked():
            merged = self._read_disk_catalog()
            merged.update(self.catalog)
            for k in self._dropped:
                merged.pop(k, None)
            self._store.write(merged)
            self._drop_legacy_catalog()
            self.catalog = merged
            self._dropped.clear()
        if self.on_catalog_change is not None:
            self.on_catalog_change()

    def consume(
        self,
        path: "str | Sequence[str]",
        columns: Sequence[Column],
        source: CsvSource,
    ) -> str:
        """Validate, load, atomically replace. Returns the physical
        table name the data landed in."""
        table = ensure_valid_table_name(path)  # step 1
        schema = ensure_valid_columns(columns, self.type_options)  # step 2
        # one namespace per schema (H2): a registered VIEW owns its
        # name — a wire push under it must error like CREATE TABLE
        # does, not silently shadow the view (self-review r12)
        from ..views import Views

        if Views(warehouse_dir(self.spark)).get(table) is not None:
            raise ValueError(
                f"cannot load table {table!r}: a view with this name "
                "exists (DROP VIEW it first)"
            )

        tmp: str | None = None
        try:
            if isinstance(source, str):
                csv_path = source  # already a file/dir/glob — no spooling
            else:
                tmp = self._spool(source)  # step 3
                csv_path = tmp
            physical = storage_safe_name(table)
            prepare_replace(self.spark, physical)
            # step 4 — atomic replace: overwrite commit flips the table
            # in the catalog (parity: one-transaction drop+create,
            # H2CsvCreateSink.scala:55-58; replace semantics pinned by
            # H2DestinationSpec.scala:226-237). The splittable scan is
            # tried first; embedded-newline payloads fall back to a
            # whole-file multiLine read (load_csv_with_fallback).
            load_csv_with_fallback(
                self.spark,
                csv_path,
                schema,
                lambda df: df.write.mode("overwrite")
                .format("parquet")
                .saveAsTable(physical),
                on_retry=lambda: prepare_replace(self.spark, physical),
            )
            self.catalog[table] = physical
            self._persist_catalog()
            # replace = one-transaction drop+create (the reference's
            # semantics): recorded PK/UNIQUE constraints of the OLD
            # table die with it — the new table declared none
            from ..constraints import Constraints

            Constraints(warehouse_dir(self.spark)).drop_table(table)
            return physical
        finally:
            if tmp is not None:
                try:
                    os.unlink(tmp)  # step 5 (package.scala:57-59)
                except OSError:
                    pass

    def table(self, name: str):
        """Read back a loaded table by its *logical* (opaque) name.
        Falls back to the warehouse parquet directly when the session
        catalog doesn't know the physical table (fresh process over a
        pre-existing warehouse)."""
        physical = self.catalog.get(name)
        if physical is None:
            raise NotAResource(name)
        if self.spark.catalog.tableExists(physical):
            return self.spark.table(physical)
        path = warehouse_path(self.spark, physical)
        if os.path.isdir(path):
            return self.spark.read.parquet(path)
        raise NotAResource(name)

    @staticmethod
    def _spool(source: CsvSource) -> str:
        """Stream bytes to a fresh temp file (never buffers the whole
        dataset beyond what the caller hands us per chunk) — parity
        with save/createTempFile (H2CsvCreateSink.scala:101-104)."""
        fd, tmp = tempfile.mkstemp(prefix="h2-", suffix=".csv")
        with os.fdopen(fd, "wb") as out:
            if isinstance(source, bytes):
                out.write(source)
            elif hasattr(source, "read"):
                while True:
                    chunk = source.read(1 << 20)  # type: ignore[union-attr]
                    if not chunk:
                        break
                    out.write(chunk)
            else:
                for chunk in source:  # type: ignore[union-attr]
                    out.write(chunk)
        return tmp
