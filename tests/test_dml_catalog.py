"""DML (INSERT/UPDATE/DELETE/MERGE), catalog durability across engine
restarts, and endpoint-state surfacing."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from quasar_destination_h2_spark import server as server_mod
from quasar_destination_h2_spark.engine import Engine
from quasar_destination_h2_spark.errors import NotAResource
from quasar_destination_h2_spark.types import Column, ColumnType


@pytest.fixture()
def engine(spark, warehouse_dir):
    return Engine.from_config(
        json.dumps({"connectionUri": warehouse_dir}), spark=spark
    )


COLS = [Column("k", ColumnType.NUMBER), Column("v", ColumnType.STRING)]


def _load(engine, name="dml_t", rows=b"1,a\r\n2,b\r\n3,c\r\n"):
    engine.csv_create_sink().consume(f"/{name}", COLS, rows)
    return name


def test_insert_into_appends(engine):
    t = _load(engine)
    n = engine.insert_into(t, COLS, b"4,d\r\n5,e\r\n")
    assert n == 2
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "a"), (2.0, "b"), (3.0, "c"), (4.0, "d"), (5.0, "e")]


def test_insert_into_missing_table(engine):
    with pytest.raises(NotAResource):
        engine.insert_into("nope", COLS, b"1,a\r\n")


def test_delete_where(engine):
    t = _load(engine)
    n = engine.delete_where(t, "k >= 2")
    assert n == 2
    got = [(float(r.k), r.v) for r in engine.table(t).collect()]
    assert got == [(1.0, "a")]


def test_update_where(engine):
    t = _load(engine)
    n = engine.update_where(t, {"v": "upper(v)"}, "k <= 2")
    assert n == 2
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "A"), (2.0, "B"), (3.0, "c")]


def test_merge_upsert(engine):
    t = _load(engine)
    from decimal import Decimal

    src = engine.table(t).sparkSession.createDataFrame(
        [(Decimal(2), "B2"), (Decimal(9), "new")], schema=engine.table(t).schema
    )
    engine.merge_into(t, src, ["k"])
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "a"), (2.0, "B2"), (3.0, "c"), (9.0, "new")]


def test_catalog_survives_restart(spark, warehouse_dir):
    cfg = json.dumps({"connectionUri": warehouse_dir})
    e1 = Engine.from_config(cfg, spark=spark)
    hostile = 'restart"; DROP TABLE x; --'
    e1.csv_create_sink().consume(f"/{hostile}", COLS, b"7,z\r\n")
    # fresh engine, same warehouse/session: mapping must rehydrate
    e2 = Engine.from_config(cfg, spark=spark)
    got = e2.table(hostile).collect()
    assert [(float(r.k), r.v) for r in got] == [(7.0, "z")]
    e2.drop_table_if_exists(hostile)
    e3 = Engine.from_config(cfg, spark=spark)
    with pytest.raises(NotAResource):
        e3.table(hostile)


def test_endpoint_state_started_and_degraded(spark, warehouse_dir, monkeypatch):
    cfg = json.dumps(
        {"connectionUri": warehouse_dir, "server": {"tcp": ["-tcpPort", "10321"]}}
    )
    # started branch: pyspark ships the thriftserver jars, the
    # endpoint really serves (a TCP connect succeeds)
    e = Engine.from_config(cfg, spark=spark)
    assert e.endpoint_started is True
    import socket

    s = socket.socket()
    try:
        s.settimeout(10)
        s.connect(("127.0.0.1", 10321))
    finally:
        s.close()
    e.close()
    assert e.endpoint_started is False
    # degraded branch (jars absent in a slim image): must be visible
    # in engine state, not just logs
    monkeypatch.setattr(
        server_mod, "start_sql_endpoint", lambda _spark, _args: None
    )
    e2 = Engine.from_config(cfg, spark=spark)
    assert e2.endpoint_started is False


def test_endpoint_port_mapping():
    assert server_mod.endpoint_port(["-tcpPort", "9999"]) == "9999"
    assert server_mod.endpoint_port(["-pgPort", "5435", "-pgAllowOthers"]) == "5435"
    assert server_mod.endpoint_port(["-baseDir", "/tmp"]) is None


def test_concurrent_engines_do_not_lose_entries(spark, warehouse_dir):
    """r4 multi-writer protocol: a stale engine's persist must MERGE
    with — not clobber — entries another engine added after it
    rehydrated, and a drop must not be resurrected by a later
    stale-engine persist."""
    cfg = json.dumps({"connectionUri": warehouse_dir})
    e_stale = Engine.from_config(cfg, spark=spark)  # rehydrates empty
    e_other = Engine.from_config(cfg, spark=spark)
    e_other.csv_create_sink().consume("/first_t", COLS, b"1,a\r\n")
    # the stale engine never heard of first_t; its push used to
    # full-overwrite the metadata table and lose it
    e_stale.csv_create_sink().consume("/second_t", COLS, b"2,b\r\n")
    fresh = Engine.from_config(cfg, spark=spark)
    assert [(float(r.k), r.v) for r in fresh.table("first_t").collect()] == [
        (1.0, "a")
    ]
    assert [(float(r.k), r.v) for r in fresh.table("second_t").collect()] == [
        (2.0, "b")
    ]
    # tombstone: drop in one engine, then a persist from an engine
    # that still believes the table exists must not resurrect it...
    fresh.drop_table_if_exists("first_t")
    e_later = Engine.from_config(cfg, spark=spark)
    assert "first_t" not in e_later.sink.catalog
    # ...but e_other DOES still believe in first_t (stale in-memory
    # view), so its next persist re-publishes it — last-writer-wins
    # per key is the documented same-host contract; what can never
    # happen is an unrelated key vanishing:
    e_other.csv_create_sink().consume("/third_t", COLS, b"3,c\r\n")
    e_final = Engine.from_config(cfg, spark=spark)
    assert "second_t" in e_final.sink.catalog
    assert "third_t" in e_final.sink.catalog


# Runs in a SEPARATE python process: its own JVM, its own
# SparkSession, its own session catalog — only the warehouse
# directory (argv[1]) is shared with the parent test session.
_SUBPROC_WRITER = """
import json, sys
from pyspark.sql import SparkSession

from quasar_destination_h2_spark.engine import Engine
from quasar_destination_h2_spark.types import Column, ColumnType

wd = sys.argv[1]
spark = (
    SparkSession.builder.master("local[2]")
    .appName("xp-writer")
    .config("spark.sql.warehouse.dir", wd)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
try:
    e = Engine.from_config(json.dumps({"connectionUri": wd}), spark=spark)
    cols = [Column("k", ColumnType.NUMBER), Column("v", ColumnType.STRING)]
    e.csv_create_sink().consume("/xp_child", cols, b"9,child\\r\\n")
    assert "xp_child" in e.sink.catalog
finally:
    spark.stop()
"""


def test_cross_process_persist_merges(spark, warehouse_dir, tmp_path):
    """The cross-PROCESS half of the r4 multi-writer protocol, which
    test_concurrent_engines_do_not_lose_entries cannot see (all its
    engines share one process and one SparkSession).

    Reproduces the r4-advice lost-update: a SEPARATE process
    rewrites the catalog after the parent's first persist, and the
    parent then persists again. _read_disk_catalog must re-read the
    file fresh under the lock — a stale/partial read swallowed to {}
    would merge-clobber the child's entry."""
    cfg = json.dumps({"connectionUri": warehouse_dir})
    e_parent = Engine.from_config(cfg, spark=spark)
    e_parent.csv_create_sink().consume("/xp_parent", COLS, b"1,p\r\n")

    repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(sys.modules[Engine.__module__].__file__))
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROC_WRITER, warehouse_dir],
        cwd=str(tmp_path),  # keep any derby/metastore litter out of the repo
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    # Parent persists AFTER the other process rewrote the metadata
    # table: the merge must keep xp_child.
    e_parent.csv_create_sink().consume("/xp_parent2", COLS, b"2,q\r\n")
    e_fresh = Engine.from_config(cfg, spark=spark)
    for name in ("xp_parent", "xp_child", "xp_parent2"):
        assert name in e_fresh.sink.catalog, name
    assert [(float(r.k), r.v) for r in e_fresh.table("xp_child").collect()] == [
        (9.0, "child")
    ]


def test_corrupt_catalog_metadata_quarantined(spark, warehouse_dir):
    """A crashed writer's truncated catalog file must not block
    consume() forever: undecodable JSON is quarantined (renamed
    aside with a warning — never deleted) and the catalog rebuilds
    from sha-deterministic physical names (r5-advice item 4)."""
    import glob
    import warnings as warnings_mod

    cfg = json.dumps({"connectionUri": warehouse_dir})
    e1 = Engine.from_config(cfg, spark=spark)
    e1.csv_create_sink().consume("/quarantine_t1", COLS, b"1,a\r\n")
    meta = os.path.join(warehouse_dir, "_catalog.json")
    assert os.path.isfile(meta), "catalog was never persisted"
    with open(meta) as fh:
        text = fh.read()
    # cut the object off mid-entry: the signature of a writer that
    # died mid-stream
    with open(meta, "w") as fh:
        fh.write(text[: len(text) // 2])

    with warnings_mod.catch_warnings(record=True) as caught:
        warnings_mod.simplefilter("always")
        # the best-effort rehydrate inside from_config is the first
        # reader to trip over the corruption and quarantine it
        e2 = Engine.from_config(cfg, spark=spark)
        e2.csv_create_sink().consume("/quarantine_t2", COLS, b"2,b\r\n")
    assert glob.glob(meta + ".corrupt-*"), "corrupt dir was not renamed aside"
    assert any("quarantined" in str(w.message) for w in caught)
    assert e2.table("quarantine_t2").count() == 1


def test_legacy_parquet_catalog_migrates(spark, warehouse_dir):
    """A warehouse written before the JSON catalog kept its
    logical -> physical map as rows of the Parquet table
    ``h2spark_catalog``. Its tables stay addressable: the table is
    read while ``_catalog.json`` is absent, the first persist moves
    the map into ``_catalog.json`` and removes the legacy table, so a
    name dropped afterwards can never come back from it."""
    from quasar_destination_h2_spark.sources.sink import (
        CATALOG_TABLE,
        warehouse_path,
    )

    cfg = json.dumps({"connectionUri": warehouse_dir})
    e0 = Engine.from_config(cfg, spark=spark)
    e0.csv_create_sink().consume("/legacy_keep", COLS, b"1,a\r\n")
    e0.csv_create_sink().consume("/legacy_gone", COLS, b"2,b\r\n")
    # put the warehouse in the old format: the whole catalog (every
    # table the shared warehouse holds) as a Parquet table, no JSON
    meta = os.path.join(warehouse_dir, "_catalog.json")
    with open(meta) as fh:
        mapping = json.load(fh)
    spark.createDataFrame(
        sorted(mapping.items()), "logical string, physical string"
    ).write.mode("overwrite").format("parquet").saveAsTable(CATALOG_TABLE)
    os.remove(meta)
    legacy = warehouse_path(spark, CATALOG_TABLE)
    assert os.path.isdir(legacy)

    e1 = Engine.from_config(cfg, spark=spark)
    assert e1.sink.catalog == mapping
    assert [(float(r.k), r.v) for r in e1.table("legacy_keep").collect()] == [
        (1.0, "a")
    ]
    assert os.path.isdir(legacy) and not os.path.exists(meta)

    # first persist: the JSON file takes over, the legacy table goes
    e1.csv_create_sink().consume("/legacy_new", COLS, b"3,c\r\n")
    with open(meta) as fh:
        on_disk = json.load(fh)
    assert on_disk == {**mapping, "legacy_new": e1.sink.catalog["legacy_new"]}
    assert not os.path.exists(legacy)
    assert not spark.catalog.tableExists(CATALOG_TABLE)

    e1.execute_sql("DROP TABLE legacy_gone")
    e2 = Engine.from_config(cfg, spark=spark)
    assert "legacy_gone" not in e2.sink.catalog
    assert "legacy_keep" in e2.sink.catalog and "legacy_new" in e2.sink.catalog


def test_catalog_commit_runs_no_spark_job(spark, warehouse_dir):
    """The catalog commit is a file write, not a Spark job: a
    steady-state push runs exactly its one load job, DROP TABLE runs
    none, and an Engine start over a loaded warehouse runs at most
    its SELECT 1 validation probe."""
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    cfg = json.dumps({"connectionUri": warehouse_dir})
    eng = Engine.from_config(cfg, spark=spark)
    sink = eng.csv_create_sink()
    sink.consume("/budget_t", COLS, b"1,a\r\n")
    start = sched.nextJobId()
    sink.consume("/budget_t", COLS, b"2,b\r\n3,c\r\n")
    assert sched.nextJobId() - start == 1
    start = sched.nextJobId()
    Engine.from_config(cfg, spark=spark)
    assert sched.nextJobId() - start <= 1
    start = sched.nextJobId()
    eng.execute_sql("DROP TABLE budget_t")
    assert sched.nextJobId() - start == 0
    assert "budget_t" not in Engine.from_config(cfg, spark=spark).sink.catalog


def test_alter_table_rename_to(engine):
    """ALTER TABLE ... RENAME TO (H2 grammar, r10): O(1) catalog
    remap — data readable under the new name, old name gone, clash
    and missing-table cases loud."""
    _load(engine, "ren_src")
    n_before = engine.table("ren_src").count()
    assert engine.execute_sql("ALTER TABLE ren_src RENAME TO ren_dst") is None
    assert engine.table("ren_dst").count() == n_before
    assert "ren_src" not in engine.sink.catalog
    # statement surface sees the new name; introspection follows
    assert engine.execute_sql("DELETE FROM ren_dst WHERE k = 1") == 1
    rows = engine.execute_sql(
        "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES "
        "WHERE TABLE_NAME IN ('ren_src', 'ren_dst')"
    ).collect()
    assert [r.TABLE_NAME for r in rows] == ["ren_dst"]
    # unknown tables fall through to Spark (same as every ALTER form)
    with pytest.raises(Exception, match="not found|cannot be found"):
        engine.execute_sql("ALTER TABLE ren_src RENAME TO ren_x")
    _load(engine, "ren_other")
    with pytest.raises(ValueError, match="already exists"):
        engine.execute_sql("ALTER TABLE ren_other RENAME TO REN_DST")


def test_drop_all_objects(engine):
    """H2's DROP ALL OBJECTS empties the engine catalog and the
    sequence registry in one statement."""
    _load(engine, "dao_a")
    _load(engine, "dao_b")
    engine.execute_sql("DROP SEQUENCE IF EXISTS dao_s")
    engine.execute_sql("CREATE SEQUENCE dao_s")
    assert engine.execute_sql("DROP ALL OBJECTS") is None
    assert engine.sink.catalog == {}
    assert engine.sequences.names() == []
    assert engine.execute_sql("SHOW TABLES").count() == 0


def test_dml_statement_job_budget(engine, spark):
    """A one-row DML statement on a 10,000-row table is one pass over
    the data: DELETE, UPDATE and INSERT run exactly one Spark job (the
    write, with the changed-row count observed during it); MERGE ...
    KEY ... VALUES adds at most the broadcast of its source rows."""
    rows = b"".join(b"%d,v%d\r\n" % (i, i) for i in range(1, 10_001))
    _load(engine, "budget_dml", rows)
    sched = spark._jsparkSession.sparkContext().dagScheduler()
    for stmt, budget, count in (
        ("DELETE FROM budget_dml WHERE k = 5", 1, 1),
        ("UPDATE budget_dml SET v = 'z' WHERE k = 6", 1, 1),
        ("INSERT INTO budget_dml (k, v) VALUES (20001, 'n')", 1, 1),
        ("MERGE INTO budget_dml (k, v) KEY (k) VALUES (7, 'm')", 2, 1),
    ):
        start = sched.nextJobId()
        assert engine.execute_sql(stmt) == count, stmt
        assert sched.nextJobId() - start <= budget, stmt
    got = {
        (int(r.k), r.v)
        for r in engine.table("budget_dml").where("k IN (5, 6, 7, 20001)").collect()
    }
    assert got == {(6, "z"), (7, "m"), (20001, "n")}
    assert engine.table("budget_dml").count() == 10_000


def test_bulk_csv_push_reads_on_every_core(engine, spark, tmp_path):
    """Under the engine's default split floor (DEFAULT_SPARK_CONF's
    ``openCostInBytes``) a single-file CSV push of at least one MB
    per core reads in ``defaultParallelism`` tasks — at Spark's 4 MB
    default a 5 MB file reads in 2."""
    from quasar_destination_h2_spark.engine import DEFAULT_SPARK_CONF

    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.openCostInBytes"
    path = tmp_path / "bulk.csv"
    line = b"%d,%s\r\n"
    pad = b"x" * 90
    want = max(4, cores + 1) << 20
    with open(path, "wb") as out:
        i = 0
        while out.tell() < want:
            out.write(b"".join(line % (i + j, pad) for j in range(1000)))
            i += 1000
    prior = spark.conf.get(key)
    spark.conf.set(key, DEFAULT_SPARK_CONF[key])
    try:
        sched = spark._jsparkSession.sparkContext().dagScheduler()
        start = sched.nextJobId()
        engine.csv_create_sink().consume("/bulk_split", COLS, str(path))
        end = sched.nextJobId()
    finally:
        spark.conf.set(key, prior)
    assert end - start == 1
    st = spark.sparkContext.statusTracker()
    tasks = [st.getStageInfo(s).numTasks for s in st.getJobInfo(start).stageIds]
    assert tasks == [cores]
    assert engine.table("bulk_split").count() == i


def _failing_rename(monkeypatch, fail_at):
    """Make the ``fail_at``-th ``os.rename`` call raise."""
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == fail_at:
            raise OSError("injected rename failure")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_rewrite_failure_before_swap_serves_old_rows(engine, spark, monkeypatch):
    """A DML write that lands in ``__next`` but fails before the swap
    leaves the table's rows untouched; the next read sweeps the
    orphaned ``__next``."""
    from quasar_destination_h2_spark.sources.sink import warehouse_path

    t = _load(engine, "crash_pre")
    location = warehouse_path(spark, engine.sink.catalog[t])
    _failing_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected"):
        engine.delete_where(t, "k = 1")
    monkeypatch.undo()
    assert os.path.isdir(location + "__next")
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "a"), (2.0, "b"), (3.0, "c")]
    assert not os.path.exists(location + "__next")
    assert not os.path.exists(location + "__old")
    assert engine.delete_where(t, "k = 1") == 1


def test_rewrite_failure_between_renames_recovers_new_rows(
    engine, spark, monkeypatch
):
    """A DML write that fails between the two renames (the old
    directory moved aside, the new one not yet in place) recovers on
    the next read: the complete ``__next`` is promoted, ``__old``
    removed, and the statement's rows are served."""
    from quasar_destination_h2_spark.sources.sink import warehouse_path

    t = _load(engine, "crash_mid")
    location = warehouse_path(spark, engine.sink.catalog[t])
    _failing_rename(monkeypatch, 2)
    with pytest.raises(OSError, match="injected"):
        engine.update_where(t, {"v": "'z'"}, "k = 2")
    monkeypatch.undo()
    assert not os.path.exists(location)
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "a"), (2.0, "z"), (3.0, "c")]
    assert not os.path.exists(location + "__next")
    assert not os.path.exists(location + "__old")
    got = sorted(
        (float(r.k), r.v)
        for r in engine.execute_sql("SELECT * FROM crash_mid").collect()
    )
    assert got == [(1.0, "a"), (2.0, "z"), (3.0, "c")]


def test_delete_with_null_condition_counts_removed_rows(engine):
    """SQL three-valued logic: a row whose condition is NULL is kept,
    and the returned count equals the rows actually removed."""
    t = _load(engine, "null_del", b"1,a\r\n2,\r\n3,c\r\n4,\r\n")
    assert engine.execute_sql("DELETE FROM null_del WHERE v <> 'a'") == 1
    got = sorted((float(r.k), r.v) for r in engine.table(t).collect())
    assert got == [(1.0, "a"), (2.0, None), (4.0, None)]
    assert engine.delete_where(t, "NULL") == 0
    assert engine.table(t).count() == 3
