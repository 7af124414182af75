"""True cross-process durability: a table loaded by one engine
PROCESS must be addressable by logical name in a second process over
the same warehouse (the reference's H2 catalog is durable on disk;
Spark's default in-memory session catalog is not — the engine's own
warehouse-side catalog makes up the difference)."""

from __future__ import annotations

import subprocess
import sys
import tempfile
import textwrap


SCRIPT_LOAD = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", {wh!r}).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from quasar_destination_h2_spark.engine import Engine
    from quasar_destination_h2_spark.types import Column, ColumnType
    e = Engine.from_config(json.dumps({{"connectionUri": {wh!r}}}), spark=spark)
    e.csv_create_sink().consume(
        '/restart"; DROP TABLE x; --',
        [Column("k", ColumnType.NUMBER), Column("v", ColumnType.STRING)],
        b"7,z\\r\\n8,y\\r\\n",
    )
    print("LOADED")
    spark.stop()
    """
)

SCRIPT_READ = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", {wh!r}).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from quasar_destination_h2_spark.engine import Engine
    e = Engine.from_config(json.dumps({{"connectionUri": {wh!r}}}), spark=spark)
    rows = sorted((float(r.k), r.v) for r in
                  e.table('restart"; DROP TABLE x; --').collect())
    assert rows == [(7.0, "z"), (8.0, "y")], rows
    # and the load path still works over the pre-existing warehouse
    from quasar_destination_h2_spark.types import Column, ColumnType
    e.csv_create_sink().consume(
        '/restart"; DROP TABLE x; --',
        [Column("k", ColumnType.NUMBER), Column("v", ColumnType.STRING)],
        b"1,a\\r\\n",
    )
    assert e.table('restart"; DROP TABLE x; --').count() == 1
    print("READBACK-OK")
    spark.stop()
    """
)


SCRIPT_DML = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", {wh!r}).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from quasar_destination_h2_spark.engine import Engine
    from quasar_destination_h2_spark.types import Column, ColumnType
    e = Engine.from_config(json.dumps({{"connectionUri": {wh!r}}}), spark=spark)
    name = 'restart"; DROP TABLE x; --'
    cols = [Column("k", ColumnType.NUMBER), Column("v", ColumnType.STRING)]
    # DML against a table THIS process never created: the session
    # catalog has never heard of it, only the warehouse has.
    n = e.insert_into(name, cols, b"9,w\\r\\n")
    assert n == 1, n
    assert e.table(name).count() == 3
    m = e.update_where(name, {{"v": "'Z'"}}, "k = 7")
    assert m == 1, m
    d = e.delete_where(name, "k = 8")
    assert d == 1, d
    rows = sorted((float(r.k), r.v) for r in e.table(name).collect())
    assert rows == [(7.0, "Z"), (9.0, "w")], rows
    print("DML-OK")
    spark.stop()
    """
)


def _run(script: str) -> str:
    p = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return p.stdout


def test_table_survives_process_restart():
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = tempfile.mkdtemp(prefix="restart-wh-")
    out1 = _run(SCRIPT_LOAD.format(repo=repo, wh=wh))
    assert "LOADED" in out1
    out2 = _run(SCRIPT_READ.format(repo=repo, wh=wh))
    assert "READBACK-OK" in out2


def test_dml_survives_process_restart():
    """INSERT/UPDATE/DELETE in a FRESH process against a table a
    previous engine materialized: append/overwrite saveAsTable must
    not take the create-table path (LOCATION_ALREADY_EXISTS) — the
    engine re-registers the warehouse directory first."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = tempfile.mkdtemp(prefix="restart-dml-wh-")
    out1 = _run(SCRIPT_LOAD.format(repo=repo, wh=wh))
    assert "LOADED" in out1
    out2 = _run(SCRIPT_DML.format(repo=repo, wh=wh))
    assert "DML-OK" in out2


SCRIPT_ADDCOL_A = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", {wh!r}).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from quasar_destination_h2_spark.engine import Engine
    e = Engine.from_config(json.dumps({{"connectionUri": {wh!r}}}), spark=spark)
    e.execute_sql('CREATE CACHED TABLE "rs_mo"("a" INT)')
    e.execute_sql("INSERT INTO rs_mo VALUES (1), (2)")
    e.execute_sql('ALTER TABLE rs_mo ADD COLUMN "b" BIGINT')
    # a centroid-partitioned index: its member tables are read back
    # in the next process from their col=value directories
    base = spark.createDataFrame(
        [(i, [float(i % 8 == d // 8) + ((i * 31 + d * 7) % 13 - 6) / 12.0
              for d in range(64)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(q, [float(q == d // 8) for d in range(64)]) for q in range(4)],
        "query_id int, qv array<double>",
    )
    e.build_ivfpq_index("rs_ipq", base, n_list=4, kmeans_iters=0, pq_iters=0)
    hits = sorted(tuple(r) for r in
                  e.ivfpq_search("rs_ipq", queries, topk=3).collect())
    assert len(hits) == 12, hits
    print("IVFPQ=" + json.dumps(hits))
    # a bucketed index: the next process appends to rs_ivf; its twin
    # takes the same append here, and its hits are what rs_ivf must
    # serve after that append
    batch = base.selectExpr("vec_id + 100 AS vec_id", "embedding")
    for name in ("rs_ivf", "rs_ivf_twin"):
        e.build_ivf_index(name, base, n_list=4, kmeans_iters=0, n_buckets=2)
    e.append_to_ivf_index("rs_ivf_twin", batch, n_buckets=2).collect()
    ann = sorted(list(r) for r in e.ann_topk("rs_ivf_twin", queries).collect())
    print("IVF=" + json.dumps(ann))
    print("ADDED")
    spark.stop()
    """
)


SCRIPT_ADDCOL_B = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", {wh!r}).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from quasar_destination_h2_spark.engine import Engine
    e = Engine.from_config(json.dumps({{"connectionUri": {wh!r}}}), spark=spark)
    # the files never carried column b (metadata-only add) — a fresh
    # process must still see the declared schema, read NULLs, and
    # write through it
    assert e.table("rs_mo").columns == ["a", "b"], e.table("rs_mo").columns
    got = {{(r.a, r.b) for r in e.execute_sql("SELECT * FROM rs_mo").collect()}}
    assert got == {{(1, None), (2, None)}}, got
    e.execute_sql("INSERT INTO rs_mo VALUES (3, 30)")
    got = {{(r.a, r.b) for r in e.execute_sql("SELECT * FROM rs_mo").collect()}}
    assert got == {{(1, None), (2, None), (3, 30)}}, got
    queries = spark.createDataFrame(
        [(q, [float(q == d // 8) for d in range(64)]) for q in range(4)],
        "query_id int, qv array<double>",
    )
    hits = sorted(list(r) for r in
                  e.ivfpq_search("rs_ipq", queries, topk=3).collect())
    assert hits == {hits!r}, hits
    # the bucketed member keeps its bucket spec across the restart:
    # the append matches it and the probe reads co-located buckets
    from quasar_destination_h2_spark.idents import storage_safe_name
    base = spark.createDataFrame(
        [(i, [float(i % 8 == d // 8) + ((i * 31 + d * 7) % 13 - 6) / 12.0
              for d in range(64)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    batch = base.selectExpr("vec_id + 100 AS vec_id", "embedding")
    e.append_to_ivf_index("rs_ivf", batch, n_buckets=2).collect()
    ann = sorted(list(r) for r in e.ann_topk("rs_ivf", queries).collect())
    assert ann == {ann!r}, ann
    desc = {{r.col_name: r.data_type for r in spark.sql(
        "DESCRIBE TABLE EXTENDED " + storage_safe_name("rs_ivf_assigned")
    ).collect()}}
    assert desc.get("Num Buckets") == "2", desc
    print("ADDCOL-OK")
    spark.stop()
    """
)


def test_metadata_only_add_column_survives_restart():
    """A metadata-only ADD COLUMN (colmeta 'added_type') must survive
    a process restart: footer inference never sees the column, so
    _ensure_registered re-applies the declared type. So must a
    directory-partitioned table: the IVFPQ index's centroid-partitioned
    members serve the same hits in the next process, because
    _ensure_registered recovers their partition list. And a bucketed
    one: the next process appends to an IVF index and serves what a
    same-process twin served after the same append, because
    _ensure_registered restores the bucket spec its manifest records."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = tempfile.mkdtemp(prefix="restart-wh-")
    out1 = _run(SCRIPT_ADDCOL_A.format(repo=repo, wh=wh))
    assert "ADDED" in out1
    hits = json.loads(
        next(l for l in out1.splitlines() if l.startswith("IVFPQ="))[6:]
    )
    ann = json.loads(
        next(l for l in out1.splitlines() if l.startswith("IVF="))[4:]
    )
    out2 = _run(SCRIPT_ADDCOL_B.format(repo=repo, wh=wh, hits=hits, ann=ann))
    assert "ADDCOL-OK" in out2
