"""H2-spelled catalog introspection (INFORMATION_SCHEMA + SHOW).

Every H2/JDBC/BI client introspects on connect through the
reference's socket — H2 1.4.200 exposes ``INFORMATION_SCHEMA``
(TABLES / COLUMNS / SEQUENCES and friends) and the MySQL-compat
``SHOW { SCHEMAS | TABLES | COLUMNS FROM t }`` commands, all served
by the embedded H2 the reference delegates to
(``/root/reference/core/src/main/scala/quasar/destination/h2/server/
H2Server.scala:60-84``; the SQL surface itself is H2's, per
``/root/reference/build.sbt:51``). Spark's session catalog speaks a
different dialect, so this module maps the H2 spellings onto the
ENGINE catalog (``sources/sink.py``'s durable logical→physical map)
plus the durable sequence registry (``sequences.py``):

* :func:`refresh_information_schema` materializes ``tables`` /
  ``columns`` / ``sequences`` as PERSISTENT VIEWS in a real
  ``information_schema`` database, built from literal row values —
  no temp-view dependency, so a Thrift/beeline wire client resolves
  ``SELECT ... FROM INFORMATION_SCHEMA.TABLES`` natively through the
  shared session (Spark's resolver is case-insensitive). The
  catalog is bounded, so the views are driver-built literals; a
  refresh costs three CREATE OR REPLACE VIEW statements and zero
  Spark jobs.
* ``engine.execute_sql`` refreshes lazily: any statement whose text
  mentions INFORMATION_SCHEMA triggers a refresh first, so the
  in-process surface always sees the current catalog. Wire clients
  see the catalog as of the last refresh — the engine refreshes at
  endpoint start, and callers can force one with
  ``engine.refresh_information_schema()``.
* column spellings and value conventions follow H2 1.4.200:
  ``TABLE_SCHEMA = 'PUBLIC'``, ``DATA_TYPE`` = ``java.sql.Types``
  codes, ``IS_NULLABLE`` in {'YES','NO'} beside the int
  ``NULLABLE``, sequence ``CURRENT_VALUE`` = last dispensed value
  (``next - increment``). Table and column names keep their stored
  case (the reference quotes every identifier it creates, so H2
  preserves case there too); sequence names — created unquoted at
  this surface — are uppercased the way H2 stores unquoted
  identifiers.

Non-H2 divergences, deliberate: ``STORAGE_TYPE`` reports
``'PARQUET'`` (honest — H2 would say CACHED), and only the
commonly-introspected column subset is exposed.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from .engine import Engine

#: Spark simple type -> (H2 TYPE_NAME, java.sql.Types code,
#: char_max_length, numeric_precision, numeric_scale). DECIMAL and
#: ARRAY are handled structurally in :func:`h2_type_info`.
_TYPE_MAP = {
    "string": ("VARCHAR", 12, 2147483647, None, None),
    "double": ("DOUBLE", 8, None, 17, None),
    "float": ("REAL", 7, None, 7, None),
    "bigint": ("BIGINT", -5, None, 19, 0),
    "int": ("INTEGER", 4, None, 10, 0),
    "smallint": ("SMALLINT", 5, None, 5, 0),
    "tinyint": ("TINYINT", -6, None, 3, 0),
    "boolean": ("BOOLEAN", 16, None, 1, 0),
    "timestamp": ("TIMESTAMP", 93, None, 26, 6),
    "timestamp_ntz": ("TIMESTAMP", 93, None, 26, 6),
    "date": ("DATE", 91, None, 10, 0),
    "binary": ("VARBINARY", -3, 2147483647, None, None),
}


def h2_type_info(spark_type) -> tuple:
    """(TYPE_NAME, DATA_TYPE, CHARACTER_MAXIMUM_LENGTH,
    NUMERIC_PRECISION, NUMERIC_SCALE) for one Spark DataType, H2
    1.4.200 conventions."""
    simple = spark_type.simpleString()
    m = re.match(r"decimal\((\d+),(\d+)\)", simple)
    if m:
        return ("DECIMAL", 3, None, int(m.group(1)), int(m.group(2)))
    if simple.startswith("array"):
        return ("ARRAY", 2003, None, None, None)
    if simple in _TYPE_MAP:
        return _TYPE_MAP[simple]
    return (simple.upper(), 1111, None, None, None)  # OTHER


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    # the generated VIEW text is parsed with Spark's DEFAULT string
    # literals (backslash escapes ON), so a backslash in a catalog
    # name must itself be escaped or it corrupts the literal — and a
    # TRAILING backslash would swallow the closing quote and splice
    # the VALUES row (the hostile-identifier contract covers names,
    # not just quotes)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def _values_view_sql(db: str, view: str, names: list, types: list, rows: list) -> str:
    """CREATE OR REPLACE VIEW over literal rows (typed empty shape
    when there are none) — self-contained, so the view survives in
    the persistent catalog without temp-view dependencies."""
    cols = ", ".join(f"`{n}`" for n in names)
    if rows:
        body = ",\n  ".join(
            "(" + ", ".join(_lit(v) for v in r) + ")" for r in rows
        )
        sel = f"SELECT * FROM VALUES\n  {body}\nAS T({cols})"
        # VALUES infers types from literals; NULL-only columns need
        # the cast shell below instead — cast every column explicitly
        casts = ", ".join(
            f"CAST(`{n}` AS {t}) AS `{n}`" for n, t in zip(names, types)
        )
        sel = f"SELECT {casts} FROM ({sel})"
    else:
        casts = ", ".join(
            f"CAST(NULL AS {t}) AS `{n}`" for n, t in zip(names, types)
        )
        sel = f"SELECT {casts} WHERE 1 = 0"
    return f"CREATE OR REPLACE VIEW `{db}`.`{view}` AS {sel}"


_TABLES_COLS = [
    ("TABLE_CATALOG", "STRING"),
    ("TABLE_SCHEMA", "STRING"),
    ("TABLE_NAME", "STRING"),
    ("TABLE_TYPE", "STRING"),
    ("STORAGE_TYPE", "STRING"),
    ("SQL", "STRING"),
    ("REMARKS", "STRING"),
]

_COLUMNS_COLS = [
    ("TABLE_CATALOG", "STRING"),
    ("TABLE_SCHEMA", "STRING"),
    ("TABLE_NAME", "STRING"),
    ("COLUMN_NAME", "STRING"),
    ("ORDINAL_POSITION", "INT"),
    ("COLUMN_DEFAULT", "STRING"),
    ("IS_NULLABLE", "STRING"),
    ("DATA_TYPE", "INT"),
    ("CHARACTER_MAXIMUM_LENGTH", "BIGINT"),
    ("NUMERIC_PRECISION", "INT"),
    ("NUMERIC_SCALE", "INT"),
    ("TYPE_NAME", "STRING"),
    ("NULLABLE", "INT"),
    ("REMARKS", "STRING"),
    # H2 1.4.200 carries the optimizer's distinct-ratio statistic in
    # COLUMNS (default 50 until ANALYZE computes one — r15); appended
    # last so ordinal-based readers of the pre-r15 subset still line up
    ("SELECTIVITY", "INT"),
]

_CONSTRAINTS_COLS = [
    ("CONSTRAINT_CATALOG", "STRING"),
    ("CONSTRAINT_SCHEMA", "STRING"),
    ("CONSTRAINT_NAME", "STRING"),
    ("CONSTRAINT_TYPE", "STRING"),
    ("TABLE_CATALOG", "STRING"),
    ("TABLE_SCHEMA", "STRING"),
    ("TABLE_NAME", "STRING"),
    ("CHECK_EXPRESSION", "STRING"),
    ("COLUMN_LIST", "STRING"),
    ("REMARKS", "STRING"),
    ("SQL", "STRING"),
]

#: H2 1.4.200's CROSS_REFERENCES table (the JDBC metadata shape:
#: getImportedKeys/getExportedKeys read it) — one row per FK column
#: pair. UPDATE_RULE/DELETE_RULE carry java.sql.DatabaseMetaData
#: smallint codes (CASCADE=0, RESTRICT=1, SET NULL=2, NO ACTION=3,
#: SET DEFAULT=4); DEFERRABILITY=7 (importedKeyNotDeferrable, H2's
#: only mode).
_CROSS_REFS_COLS = [
    ("PKTABLE_CATALOG", "STRING"),
    ("PKTABLE_SCHEMA", "STRING"),
    ("PKTABLE_NAME", "STRING"),
    ("PKCOLUMN_NAME", "STRING"),
    ("FKTABLE_CATALOG", "STRING"),
    ("FKTABLE_SCHEMA", "STRING"),
    ("FKTABLE_NAME", "STRING"),
    ("FKCOLUMN_NAME", "STRING"),
    ("ORDINAL_POSITION", "INT"),
    ("UPDATE_RULE", "SMALLINT"),
    ("DELETE_RULE", "SMALLINT"),
    ("FK_NAME", "STRING"),
    ("PK_NAME", "STRING"),
    ("DEFERRABILITY", "SMALLINT"),
]

_FK_RULE_CODES = {
    "CASCADE": 0,
    "RESTRICT": 1,
    "SET NULL": 2,
    "NO ACTION": 3,
    "SET DEFAULT": 4,
    None: 1,  # H2 1.4.200's default referential action is RESTRICT
}

_VIEWS_COLS = [
    ("TABLE_CATALOG", "STRING"),
    ("TABLE_SCHEMA", "STRING"),
    ("TABLE_NAME", "STRING"),
    ("VIEW_DEFINITION", "STRING"),
    ("CHECK_OPTION", "STRING"),
    ("IS_UPDATABLE", "STRING"),
    ("STATUS", "STRING"),
    ("REMARKS", "STRING"),
]

#: SQL-standard VIEW_TABLE_USAGE (H2 1.4.200 itself does not expose
#: it; this engine does so CASCADE previews are introspectable —
#: r12 verdict stretch): one row per (view, relation it reads), the
#: exact edge set Views.dependents_of consults for RESTRICT/CASCADE.
_VIEW_USAGE_COLS = [
    ("VIEW_CATALOG", "STRING"),
    ("VIEW_SCHEMA", "STRING"),
    ("VIEW_NAME", "STRING"),
    ("TABLE_CATALOG", "STRING"),
    ("TABLE_SCHEMA", "STRING"),
    ("TABLE_NAME", "STRING"),
]

#: H2 1.4.200 SCHEMATA (subset: the columns JDBC tools read).
#: IS_DEFAULT marks PUBLIC, H2's default schema.
_SCHEMATA_COLS = [
    ("CATALOG_NAME", "STRING"),
    ("SCHEMA_NAME", "STRING"),
    ("SCHEMA_OWNER", "STRING"),
    ("IS_DEFAULT", "STRING"),
]

_SEQUENCES_COLS = [
    ("SEQUENCE_CATALOG", "STRING"),
    ("SEQUENCE_SCHEMA", "STRING"),
    ("SEQUENCE_NAME", "STRING"),
    ("CURRENT_VALUE", "BIGINT"),
    ("INCREMENT", "BIGINT"),
    ("IS_GENERATED", "BOOLEAN"),
    ("REMARKS", "STRING"),
    ("CACHE", "BIGINT"),
    ("MIN_VALUE", "BIGINT"),
    ("MAX_VALUE", "BIGINT"),
    ("IS_CYCLE", "BOOLEAN"),
]

DB = "information_schema"


def _h2_spell(predicate: str) -> str:
    """Registry CHECK predicates are stored Spark-dialect (backtick
    identifiers); H2 clients read double-quoted spelling."""
    from .script_stmt import _spark_expr_to_h2

    return _spark_expr_to_h2(predicate)


def _seq_default_spelling(engine, seq: str) -> str:
    """H2 1.4.200's identity-default spelling for a recorded sequence
    binding, schema-qualified when the sequence lives in one (r14)."""
    from .schemas import split_logical

    skey, bare = split_logical(seq, engine.schemas.keys())
    if skey == "public":
        return f'(NEXT VALUE FOR "{bare}")'
    try:
        disp = engine.schemas.display(skey)
    except Exception:  # concurrent drop: key spelling still reads
        disp = skey.upper()
    return f'(NEXT VALUE FOR "{disp}"."{bare}")'


def _catalog_name(engine: "Engine") -> str:
    """H2's TABLE_CATALOG is the database name; the closest Spark
    analogue is the warehouse directory's basename."""
    import os

    from .sources.sink import warehouse_dir

    base = os.path.basename(warehouse_dir(engine.spark))
    return (base or "UNNAMED").upper()


def refresh_information_schema(engine: "Engine") -> None:
    """(Re)build the ``information_schema`` views from the engine's
    current catalog + sequence registry. Driver-only work, bounded
    by catalog size (schemas come from parquet footers)."""
    spark = engine.spark
    cat = _catalog_name(engine)
    # ONE registry snapshot feeds both the COLUMNS nullability fix
    # and the CONSTRAINTS rows below (script_lines' rationale); the
    # column-metadata snapshot feeds COLUMN_DEFAULT / IS_NULLABLE /
    # REMARKS the same way
    all_cons = engine.constraints.all()
    all_meta = engine.colmeta.all()
    # r14 multi-schema: one registry snapshot maps dotted logical
    # names to (display schema, bare name) for every surface below
    from .schemas import split_logical

    known_sch = engine.schemas.keys()
    _disp_memo: dict = {}

    def _split(logical):
        skey, bare = split_logical(str(logical), known_sch)
        if skey == "public":
            return "PUBLIC", str(logical)
        if skey not in _disp_memo:
            try:
                _disp_memo[skey] = engine.schemas.display(skey)
            except Exception:  # concurrent drop: key form still shows
                _disp_memo[skey] = skey.upper()
        return _disp_memo[skey], bare

    trows, crows = [], []
    for logical in sorted(engine.sink.catalog):
        try:
            schema = engine.table(logical).schema
        except Exception:
            continue  # stale catalog entry: skip, never fail introspection
        tmeta = all_meta.get(str(logical).casefold(), {})
        cmeta = tmeta.get("columns", {})
        tsch, tbare = _split(logical)
        trows.append(
            (
                cat,
                tsch,
                tbare,
                "TABLE",
                "PARQUET",
                None,
                tmeta.get("remarks", ""),
            )
        )
        # PK members report IS_NULLABLE='NO' like H2: Spark's
        # file-based saveAsTable stores every column nullable, so the
        # constraint REGISTRY is the NOT NULL carrier — without this
        # the same row would read nullable here, KEY='PRI' next door
        # and NOT NULL in the SCRIPT dump (advisor r11); declared
        # NOT NULL columns (colmeta) report the same way
        pk_cols = {
            c.casefold()
            for e in all_cons.get(logical.casefold(), [])
            if e["type"] == "PRIMARY KEY"
            for c in e["columns"]
        }
        for i, f in enumerate(schema.fields, start=1):
            tname, code, cmax, prec, scale = h2_type_info(f.dataType)
            fm = cmeta.get(f.name.casefold(), {})
            nullable = (
                f.nullable
                and f.name.casefold() not in pk_cols
                and not fm.get("not_null")
            )
            if fm.get("sequence"):
                # H2 1.4.200's own spelling for an identity column
                default = _seq_default_spelling(engine, fm["sequence"])
            elif fm.get("default"):
                default = _h2_spell(fm["default"])
            else:
                default = None
            crows.append(
                (
                    cat,
                    tsch,
                    tbare,
                    f.name,
                    i,
                    default,
                    "YES" if nullable else "NO",
                    code,
                    cmax,
                    prec,
                    scale,
                    tname,
                    1 if nullable else 0,
                    fm.get("remarks", ""),
                    # `is not None`, not truthiness: SELECTIVITY 0 is
                    # a recordable value (the r13 DDL-path rule)
                    fm["selectivity"]
                    if fm.get("selectivity") is not None
                    else 50,
                )
            )
    # registered views appear in TABLES (TABLE_TYPE='VIEW', like H2)
    # and in the VIEWS table with their H2-spelled definition; their
    # relation-position reads feed VIEW_TABLE_USAGE (edges restricted
    # to names that exist — table, view or self — so a FORCE view's
    # dangling reference never invents a catalog row)
    from .views import relation_names

    known_cf = {str(k).casefold(): str(k) for k in engine.sink.catalog}
    vrows, urows = [], []
    allv = engine.views.all()
    known_cf.update({k: e["name"] for k, e in allv.items()})
    for e in allv.values():
        trows.append((cat, "PUBLIC", e["name"], "VIEW", "", None, ""))
        vrows.append(
            (
                cat,
                "PUBLIC",
                e["name"],
                _h2_spell(e["definition"]),
                "NONE",
                "NO",
                "VALID" if not e.get("force") else "FORCE",
                e.get("remarks", ""),
            )
        )
        for ref in sorted(relation_names(e["definition"])):
            spelled = known_cf.get(ref)
            if spelled is None or ref == e["name"].casefold():
                continue
            rsch, rbare = _split(spelled)
            urows.append(
                (cat, "PUBLIC", e["name"], cat, rsch, rbare)
            )
    srows = []
    for name in engine.sequences.names():
        s = engine.sequences.describe(name)
        ssch, sbare = _split(name)
        srows.append(
            (
                cat,
                ssch,
                sbare.upper(),
                s["next"] - s["inc"],
                s["inc"],
                False,
                s.get("remarks") or "",
                s["cache"] if s["cache"] is not None else 0,
                s["min"],
                s["max"],
                bool(s["cycle"]),
            )
        )
    # recorded PK/UNIQUE constraints (accept-and-record; see
    # constraints.py) — H2 spells them in its CONSTRAINTS view with
    # the quoted COLUMN_LIST; the registry keys are casefolded, so
    # the spelled logical name comes from the catalog
    by_cf = {str(k).casefold(): str(k) for k in engine.sink.catalog}
    # the referenced table's recorded PK fills PK_NAME — but ONLY
    # when the FK actually references the PK's column set (H2's
    # getImportedKeys convention); an FK onto a plain/UNIQUE column
    # list carries NULL, never a constraint that does not cover the
    # referenced columns (review r13)
    pk_of = {
        tkey: next(
            (
                (e["name"], {c.casefold() for c in e["columns"]})
                for e in entries
                if e["type"] == "PRIMARY KEY"
            ),
            None,
        )
        for tkey, entries in all_cons.items()
    }

    def _pk_name_for(rkey: str, ref_columns: list) -> str | None:
        pk = pk_of.get(rkey)
        if pk is None:
            return None
        name, pk_cols = pk
        return (
            name
            if {c.casefold() for c in ref_columns} == pk_cols
            else None
        )
    krows, xrows = [], []
    for tkey, entries in all_cons.items():
        tname = by_cf.get(tkey)
        if tname is None:
            continue  # constraint of a table dropped elsewhere
        tsch, tbare = _split(tname)
        for e in entries:
            krows.append(
                (
                    cat,
                    tsch,
                    e["name"],
                    # H2 spells the FK type REFERENTIAL in its
                    # CONSTRAINTS view
                    "REFERENTIAL"
                    if e["type"] == "FOREIGN KEY"
                    else e["type"],
                    cat,
                    tsch,
                    tbare,
                    # H2 surfaces the CHECK predicate in its own
                    # CHECK_EXPRESSION column (H2 spelling)
                    _h2_spell(e["predicate"])
                    if e["type"] == "CHECK"
                    else None,
                    ",".join(e["columns"]),
                    "",
                    None,
                )
            )
            if e["type"] != "FOREIGN KEY":
                continue
            rkey = e["ref_table"].casefold()
            rname = by_cf.get(rkey, e["ref_table"])
            rsch, rbare = _split(rname)
            for i, (fc, pc) in enumerate(
                zip(e["columns"], e["ref_columns"]), start=1
            ):
                xrows.append(
                    (
                        cat,
                        rsch,
                        rbare,
                        pc,
                        cat,
                        tsch,
                        tbare,
                        fc,
                        i,
                        _FK_RULE_CODES.get(e.get("update_rule"), 1),
                        _FK_RULE_CODES.get(e.get("delete_rule"), 1),
                        e["name"],
                        _pk_name_for(rkey, e["ref_columns"]),
                        7,
                    )
                )
    schrows = [
        (cat, n, "SA", "YES" if n.casefold() == "public" else "NO")
        for n in engine.schemas.names()
    ] + [(cat, "INFORMATION_SCHEMA", "SA", "NO")]
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{DB}`")
    for view, cols, rows in (
        ("schemata", _SCHEMATA_COLS, schrows),
        ("tables", _TABLES_COLS, trows),
        ("columns", _COLUMNS_COLS, crows),
        ("sequences", _SEQUENCES_COLS, srows),
        ("constraints", _CONSTRAINTS_COLS, krows),
        ("cross_references", _CROSS_REFS_COLS, xrows),
        ("views", _VIEWS_COLS, vrows),
        ("view_table_usage", _VIEW_USAGE_COLS, urows),
    ):
        names = [n for n, _ in cols]
        types = [t for _, t in cols]
        spark.sql(_values_view_sql(DB, view, names, types, rows))


#: Statement mentions INFORMATION_SCHEMA (refresh trigger).
INFO_SCHEMA_RE = re.compile(r"\bINFORMATION_SCHEMA\s*\.", re.I)

#: SHOW command front-door (H2 grammar: SHOW SCHEMAS | SHOW TABLES
#: [FROM schema] | SHOW COLUMNS FROM table).
SHOW_RE = re.compile(r"\s*SHOW\s+(SCHEMAS|TABLES|COLUMNS)\b", re.I)


def execute_show(engine: "Engine", statement: str, shadow: str, m) -> DataFrame:
    """H2's SHOW commands over the engine catalog. Output shapes
    match H2 1.4.200: SHOW SCHEMAS -> (SCHEMA_NAME); SHOW TABLES ->
    (TABLE_NAME, TABLE_SCHEMA); SHOW COLUMNS FROM t -> (FIELD, TYPE,
    NULL, KEY, DEFAULT)."""
    spark = engine.spark
    kind = m.group(1).upper()
    if kind == "SCHEMAS":
        names = sorted(
            ["INFORMATION_SCHEMA"] + engine.schemas.names()
        )
        return spark.createDataFrame(
            [(n,) for n in names], "SCHEMA_NAME string"
        )
    if kind == "TABLES":
        # H2's SHOW TABLES lists views too (they share the TABLES
        # namespace; INFORMATION_SCHEMA.TABLES carries the type)
        from .schemas import split_logical

        known_sch = engine.schemas.keys()

        def _sp(t):
            skey, bare = split_logical(str(t), known_sch)
            if skey == "public":
                return (str(t), "PUBLIC")
            try:
                disp = engine.schemas.display(skey)
            except Exception:
                disp = skey.upper()
            return (bare, disp)

        rows = sorted(
            [_sp(t) for t in engine.sink.catalog]
            + [(v, "PUBLIC") for v in engine.views.names()]
        )
        # H2 grammar: SHOW TABLES [FROM schema] filters one schema
        mfrom = re.compile(r"\s*SHOW\s+TABLES\s+FROM\s+", re.I).match(
            shadow
        )
        if mfrom:
            from .sql_dml import _parse_ident

            sch, pos = _parse_ident(statement, shadow, mfrom.end())
            if statement[pos:].strip():
                raise ValueError(
                    "SHOW TABLES FROM: unexpected trailing text "
                    f"{statement[pos:].strip()!r}"
                )
            if not engine.schemas.exists(sch):
                raise ValueError(
                    f"SHOW TABLES FROM: unknown schema {sch!r} — "
                    "see INFORMATION_SCHEMA.SCHEMATA"
                )
            rows = [
                r for r in rows if r[1].casefold() == sch.casefold()
            ]
        return spark.createDataFrame(
            rows, "TABLE_NAME string, TABLE_SCHEMA string"
        )
    mf = re.compile(r"\s*SHOW\s+COLUMNS\s+FROM\s+", re.I).match(shadow)
    if not mf:
        raise ValueError("SHOW COLUMNS: expected SHOW COLUMNS FROM table")
    from .sql_dml import _parse_ident, _resolve_schema_qualifier

    name, pos = _parse_ident(statement, shadow, mf.end())
    name, pos = _resolve_schema_qualifier(
        engine, statement, shadow, name, pos, "SHOW COLUMNS"
    )
    # case-insensitive logical resolution, like the DML surface
    target = None
    for logical in engine.sink.catalog:
        if logical.casefold() == name.casefold():
            target = logical
            break
    if target is None:
        ventry = engine.views.get(name)
        if ventry is not None:
            # SHOW COLUMNS works on views too (H2): the analyzed
            # definition supplies the schema; no keys, all nullable
            from .sql_dml import _materialize_view

            vdf = _materialize_view(engine, ventry, frozenset())
            rows = []
            for f in vdf.schema.fields:
                tname, _, cmax, prec, scale = h2_type_info(f.dataType)
                if tname == "VARCHAR" and cmax:
                    tname = f"VARCHAR({cmax})"
                elif tname == "DECIMAL" and prec is not None:
                    tname = f"DECIMAL({prec}, {scale})"
                rows.append((f.name, tname, "YES", "", None))
            return spark.createDataFrame(
                rows,
                "FIELD string, TYPE string, `NULL` string, KEY string, "
                "DEFAULT string",
            )
        raise ValueError(f"SHOW COLUMNS: table not found: {name!r}")
    # recorded constraints fill the KEY column (H2/MySQL spelling:
    # PRI for a primary-key member, UNI for a unique member)
    pk_cols, uni_cols = set(), set()
    for e in engine.constraints.for_table(target):
        if e["type"] == "PRIMARY KEY":
            pk_cols.update(c.casefold() for c in e["columns"])
        elif e["type"] == "UNIQUE":
            uni_cols.update(c.casefold() for c in e["columns"])
        # CHECK has no members; FOREIGN KEY members carry no KEY mark
        # here (H2's PRI/UNI come from unique indexes only)
    cmeta = engine.colmeta.columns_of(target)
    rows = []
    for f in engine.table(target).schema.fields:
        tname, _, cmax, prec, scale = h2_type_info(f.dataType)
        if tname == "VARCHAR" and cmax:
            tspell = f"VARCHAR({cmax})"
        elif tname == "DECIMAL" and prec is not None:
            tspell = f"DECIMAL({prec}, {scale})"
        else:
            tspell = tname
        key = (
            "PRI"
            if f.name.casefold() in pk_cols
            else "UNI"
            if f.name.casefold() in uni_cols
            else ""
        )
        # PK members are NOT NULL in H2 — the registry carries that
        # intent (stored parquet columns are always nullable), so
        # NULL must agree with KEY='PRI' here and with the SCRIPT
        # dump's NOT NULL spelling (advisor r11); declared NOT NULL
        # and recorded defaults come from the colmeta registry
        fm = cmeta.get(f.name.casefold(), {})
        nullable = (
            f.nullable
            and f.name.casefold() not in pk_cols
            and not fm.get("not_null")
        )
        if fm.get("sequence"):
            default = _seq_default_spelling(engine, fm["sequence"])
        elif fm.get("default"):
            default = _h2_spell(fm["default"])
        else:
            default = None
        rows.append(
            (f.name, tspell, "YES" if nullable else "NO", key, default)
        )
    return spark.createDataFrame(
        rows,
        "FIELD string, TYPE string, `NULL` string, KEY string, "
        "DEFAULT string",
    )
