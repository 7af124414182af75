"""SQL-statement DML: parse-and-dispatch for UPDATE / DELETE / MERGE.

The reference's users issue DML as SQL text because H2 parses it
server-side (``H2Server.scala:60-84`` boots the TCP/PG servers over
the same database the sink writes). Spark SQL cannot run UPDATE /
DELETE / MERGE on parquet tables, so the engine provides the same
statement surface by parsing these three verbs itself and dispatching
to the rewrite-based DML (``Engine.update_where`` /
``delete_where`` / ``merge_into``). Everything else passes through to
``spark.sql`` untouched.

Dialect notes:

* statement-level identifiers (table name, SET / column-list / KEY
  targets) accept H2 double-quoted form, backticks, or bare names;
* value / condition EXPRESSIONS are evaluated by Spark
  (``F.expr``) — Spark SQL expression dialect, i.e. backtick-quote
  any non-trivial column name inside an expression;
* MERGE implements BOTH H2 1.4.200 grammars: the legacy form
  ``MERGE INTO t [(cols)] KEY (keycols) { VALUES (...), ... | SELECT ... }``
  (H2 without a KEY clause falls back to the primary key — parquet
  tables have none, so KEY is required here) and the ANSI form
  ``MERGE INTO t USING src ON cond WHEN MATCHED THEN UPDATE SET ... |
  DELETE WHEN NOT MATCHED THEN INSERT ... VALUES (...)`` with the
  ANSI multiple-match cardinality error;
* the Spark Thrift endpoint executes SQL JVM-side and cannot be
  intercepted per-statement from Python, so a JDBC wire client still
  cannot issue UPDATE/DELETE/MERGE against parquet tables — that
  wire-level parity requires a transactional table format
  (Delta/Iceberg). ``Engine.execute_sql`` is the in-process
  statement surface; see ``server.py``.

Keyword scanning is done on a "shadow" copy of the statement in which
string literals and quoted identifiers are blanked out, so hostile
table names containing ``WHERE``/``SET``/commas can never confuse the
splitter (same defensive posture as ``idents.py``).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import functions as F


def _shadow(sql: str) -> str:
    """Same-length copy with the CONTENTS of '...' literals (with ''
    escapes), "..." identifiers and `...` identifiers replaced by
    spaces, and SQL COMMENTS (``--`` to end of line, ``/* */``
    blocks) blanked entirely — keyword/comma/paren scans run on
    this, slicing on the original (comment text is copied through
    verbatim; it just can never match a keyword or unbalance a paren
    scan). ``--`` starts a comment in every non-literal context in
    both H2 and Spark grammar (``a--b`` is ``a`` then comment), so
    blanking is always safe."""
    out = list(sql)
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if c == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = " "
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = i
            while j < n and sql[j] != "\n":
                out[j] = " "
                j += 1
            i = j
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            for k in range(i, j):
                out[k] = " "
            i = j
        else:
            i += 1
    return "".join(out)


def _parse_ident(sql: str, shadow: str, pos: int) -> tuple[str, int]:
    """Parse one identifier at `pos` (skipping leading whitespace);
    returns (name, next_pos)."""
    while pos < len(sql) and sql[pos].isspace():
        pos += 1
    if pos >= len(sql):
        raise ValueError("expected identifier, found end of statement")
    c = sql[pos]
    if c in ('"', "`"):
        end = sql.find(c, pos + 1)
        # '' / `` escapes are not used by our physical names; the
        # shadow already blanked the contents so find() is the close
        while end != -1 and c == '"' and end + 1 < len(sql) and sql[end + 1] == '"':
            end = sql.find(c, end + 2)
        if end == -1:
            raise ValueError(f"unterminated quoted identifier at {pos}")
        raw = sql[pos + 1 : end]
        return (raw.replace('""', '"') if c == '"' else raw), end + 1
    m = re.compile(r"[A-Za-z_][\w$]*").match(sql, pos)
    if not m:
        raise ValueError(f"expected identifier at position {pos}")
    return m.group(0), m.end()


def _split_top_level(sql: str, shadow: str, start: int, end: int) -> list[str]:
    """Split sql[start:end] on commas at paren depth 0 (scanned on the
    shadow so quoted commas never split)."""
    parts, depth, seg_start = [], 0, start
    for i in range(start, end):
        c = shadow[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(sql[seg_start:i])
            seg_start = i + 1
    parts.append(sql[seg_start:end])
    return [p.strip() for p in parts if p.strip()]


def _find_kw(shadow: str, kw: str, start: int = 0) -> Optional[re.Match]:
    return re.compile(rf"\b{kw}\b", re.I).search(shadow, start)


def parse_update(engine, sql: str, shadow: str):
    """-> (table, {col: expr_text}, cond_text)"""
    m = re.compile(r"\s*UPDATE\s", re.I).match(shadow)
    table, pos = _parse_ident(sql, shadow, m.end())
    table, pos = _resolve_schema_qualifier(engine, sql, shadow, table, pos, "UPDATE")
    mset = re.compile(r"\s*SET\s", re.I).match(shadow, pos)
    if not mset:
        raise ValueError("UPDATE: expected SET")
    mwhere = _find_kw(shadow, "WHERE", mset.end())
    set_end = mwhere.start() if mwhere else len(sql)
    assignments = {}
    for part in _split_top_level(sql, shadow, mset.end(), set_end):
        ps = _shadow(part)
        eq = ps.find("=")
        if eq == -1:
            raise ValueError(f"UPDATE: bad assignment {part!r}")
        col, after = _parse_ident(part, ps, 0)
        if part[after:eq].strip():
            raise ValueError(f"UPDATE: bad assignment target {part!r}")
        if col in assignments:
            # exact-duplicate SET targets would silently collapse in
            # the dict (last wins); H2 raises duplicate-column —
            # case-DIFFERING duplicates are caught downstream by
            # resolve_columns
            raise ValueError(f"UPDATE: duplicate column name: [{col!r}]")
        assignments[col] = part[eq + 1 :].strip()
    cond = sql[mwhere.end() :].strip() if mwhere else "true"
    return table, assignments, cond


def parse_delete(engine, sql: str, shadow: str):
    """-> (table, cond_text)"""
    m = re.compile(r"\s*DELETE\s+FROM\s", re.I).match(shadow)
    if not m:
        raise ValueError("DELETE: expected DELETE FROM")
    table, pos = _parse_ident(sql, shadow, m.end())
    table, pos = _resolve_schema_qualifier(engine, sql, shadow, table, pos, "DELETE")
    mwhere = _find_kw(shadow, "WHERE", pos)
    cond = sql[mwhere.end() :].strip() if mwhere else "true"
    if not mwhere and sql[pos:].strip():
        raise ValueError(f"DELETE: unexpected trailing text {sql[pos:].strip()!r}")
    return table, cond


def parse_merge(engine, sql: str, shadow: str):
    """H2 legacy MERGE -> (table, cols|None, key_cols, source_kind,
    source_text) where source_kind is 'values' or 'select'."""
    m = re.compile(r"\s*MERGE\s+INTO\s", re.I).match(shadow)
    if not m:
        raise ValueError("MERGE: expected MERGE INTO")
    table, pos = _parse_ident(sql, shadow, m.end())
    table, pos = _resolve_schema_qualifier(engine, sql, shadow, table, pos, "MERGE")
    while pos < len(sql) and sql[pos].isspace():
        pos += 1
    cols = None
    if pos < len(sql) and sql[pos] == "(":
        close = shadow.find(")", pos)
        if close == -1:
            raise ValueError("MERGE: unterminated column list")
        cols = []
        for part in _split_top_level(sql, shadow, pos + 1, close):
            name, _ = _parse_ident(part, _shadow(part), 0)
            cols.append(name)
        pos = close + 1
    mkey = re.compile(r"\s*KEY\s*\(", re.I).match(shadow, pos)
    if not mkey:
        raise ValueError(
            "MERGE: KEY (columns) clause is required (parquet tables "
            "have no primary key for H2's implicit-key fallback)"
        )
    close = shadow.find(")", mkey.end() - 1)
    if close == -1:
        raise ValueError("MERGE: unterminated KEY list")
    key_cols = []
    for part in _split_top_level(sql, shadow, mkey.end(), close):
        name, _ = _parse_ident(part, _shadow(part), 0)
        key_cols.append(name)
    pos = close + 1
    mrest = re.compile(r"\s*(VALUES|SELECT)\b", re.I).match(shadow, pos)
    if not mrest:
        raise ValueError("MERGE: expected VALUES or SELECT source")
    kind = mrest.group(1).lower()
    source = sql[mrest.start() :].strip() if kind == "select" else sql[mrest.end() :].strip()
    return table, cols, key_cols, kind, source


def parse_insert(engine, sql: str, shadow: str):
    """``INSERT INTO t [(cols)] { VALUES ... | SELECT ... }`` ->
    (table, cols|None, source_kind, source_text)"""
    m = re.compile(r"\s*INSERT\s+INTO\s", re.I).match(shadow)
    if not m:
        raise ValueError("INSERT: expected INSERT INTO")
    table, pos = _parse_ident(sql, shadow, m.end())
    table, pos = _resolve_schema_qualifier(engine, sql, shadow, table, pos, "INSERT")
    while pos < len(sql) and sql[pos].isspace():
        pos += 1
    cols = None
    if pos < len(sql) and sql[pos] == "(":
        # a '(' here is EITHER the optional column list OR a
        # parenthesized query source — 'INSERT INTO t (SELECT ...)'
        # is valid grammar on both engines, and the SELECT TOP
        # rewrite emits exactly that shape (branch parenthesization)
        # keyword must be a whole word: a column named `selector` or
        # `values_x` in the optional column list is NOT a query source
        # (`$` is a word char in H2 identifiers but not in \b, hence
        # the explicit lookahead)
        if not re.match(
            r"\(\s*(?:(?:SELECT|WITH|VALUES)\b(?![$])|\()", shadow[pos:], re.I
        ):
            close = shadow.find(")", pos)
            if close == -1:
                raise ValueError("INSERT: unterminated column list")
            cols = []
            for part in _split_top_level(sql, shadow, pos + 1, close):
                name, _ = _parse_ident(part, _shadow(part), 0)
                cols.append(name)
            pos = close + 1
    mrest = re.compile(r"\s*(?:(VALUES|SELECT|WITH)\b(?![$])|(\())", re.I).match(
        shadow, pos
    )
    if not mrest:
        raise ValueError("INSERT: expected VALUES or SELECT source")
    kw = mrest.group(1)
    kind = "values" if kw is not None and kw.upper() == "VALUES" else "select"
    source = (
        sql[mrest.end() :].strip() if kind == "values" else sql[mrest.start() :].strip()
    )
    return table, cols, kind, source


def resolve_columns(names, columns, ctx: str) -> dict:
    """Case-insensitive column resolution for DML column lists.

    Both engines resolve case-differing identifiers: H2 uppercases
    unquoted identifiers before lookup, Spark resolves with
    ``spark.sql.caseSensitive=false`` (the default) — so ``SET VAL =
    1`` against column ``val`` must resolve, not raise. Returns
    {given_name: actual_target_name}; raises ValueError naming every
    unknown column (aggregated, like the sink's column validation).

    Duplicates are H2 errors, not last-wins: two GIVEN names that
    resolve to the same target column (``SET v = 1, V = 2``) raise
    H2's duplicate-column error instead of silently collapsing, and
    a TARGET whose columns differ only by case is rejected as
    ambiguous before any case-insensitive lookup can pick a winner.
    """
    lower: dict[str, str] = {}
    for c in columns:
        k = c.casefold()
        if k in lower:
            raise ValueError(
                f"{ctx}: ambiguous target columns differing only by "
                f"case: {lower[k]!r}, {c!r}"
            )
        lower[k] = c
    out, bad, dup = {}, [], []
    for n in names:
        actual = lower.get(n.casefold())
        if actual is None:
            bad.append(n)
        elif actual in out.values():
            dup.append(n)
        else:
            out[n] = actual
    if dup:
        raise ValueError(f"{ctx}: duplicate column name: {dup}")
    if bad:
        raise ValueError(f"{ctx}: {bad}")
    return out


def _missing_relation(exc) -> Optional[str]:
    """The unresolved relation name of a Spark
    TABLE_OR_VIEW_NOT_FOUND AnalysisException (backticks stripped),
    else None. Single-part names return bare; TWO-part names return
    ``part1.part2`` so the r14 schema lookup in :func:`_logical` can
    map a qualified spelling to its dotted catalog entry (deeper
    qualification never maps to an engine logical)."""
    try:
        get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
        if get_cls() != "TABLE_OR_VIEW_NOT_FOUND":
            return None
        name = (exc.getMessageParameters() or {}).get("relationName", "")
    except Exception:  # pragma: no cover — error-surface drift
        return None
    name = name.strip()
    if not (name.startswith("`") and name.endswith("`")):
        return None
    parts = name[1:-1].split("`.`")
    if len(parts) == 1:
        return parts[0]
    if len(parts) == 2:
        return f"{parts[0]}.{parts[1]}"
    return None


def _materialize_view(engine, entry: dict, stack: frozenset):
    """Build the DataFrame of a registered view from its stored
    definition — recursively, so views over views (and over
    engine-catalog logical names) resolve; ``stack`` carries the
    names currently being expanded for cycle detection. Pure
    analysis-time work: the returned plan inlines into the consuming
    query, so Catalyst pushes filters/projections through it into
    the underlying parquet scans (a view costs zero I/O of its
    own)."""
    from .views import ViewError

    key = entry["name"].casefold()
    if key in stack:
        raise ViewError(
            f"cyclic view definition through {entry['name']!r}"
        )
    # a view's definition resolves in the VIEW's schema (PUBLIC —
    # views are modeled there), never the session's current one: H2
    # binds a view's references at its own schema, so SET SCHEMA
    # must not change what an existing view reads (review r14)
    saved_schema = engine.current_schema
    engine.current_schema = "public"
    try:
        df = _resolve_sql(
            engine, entry["definition"], _view_stack=stack | {key}
        )
        if entry.get("columns"):
            df = df.toDF(*entry["columns"])
        df.schema  # force analysis NOW — FORCE views fail here
        return df
    except ViewError:
        raise
    except Exception as e:
        raise ViewError(
            f"view {entry['name']!r}: definition does not resolve "
            f"({entry['definition'][:120]!r}): {e}"
        ) from None
    finally:
        engine.current_schema = saved_schema


def _resolve_sql(engine, statement: str, _view_stack: frozenset = frozenset()):
    """``spark.sql`` with H2-parity LOGICAL name resolution: H2
    resolves a loaded table by the name it was loaded under, but the
    engine catalog maps logical names to storage-safe PHYSICAL names
    (hostile-identifier hygiene), so a wire client's ``SELECT * FROM
    mytable`` doesn't resolve natively — and registered VIEWS exist
    only in the engine registry. Strategy: run the statement; when
    Spark reports an unresolved relation whose name IS an
    engine-catalog entry (or a registered view), bind a session temp
    view for it and retry (resolution-on-demand — a name Spark
    already resolves is NEVER shadowed). Bound views are dropped
    after forcing analysis, so they cannot shadow later same-name
    session objects. Bounded by the statement's distinct relation
    names (+ the view-expansion depth, cycle-guarded)."""
    from .errors import NotAResource

    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover — legacy error module
        from pyspark.sql.utils import AnalysisException

    bound: list[str] = []
    bound_q: list[str] = []  # database-qualified view bindings (r14)
    try:
        # pre-bind: catalog names literally mentioned in the text and
        # not already resolvable bind up front, so the common case
        # never pays (or logs) a failed analysis; the retry loop
        # below remains the backstop for spellings this misses.
        # Registered VIEWS pre-bind the same way (advisor r12 / r13
        # task 2: the failed-analysis -> materialize -> rebind path
        # cost a measured ~0.27 s of driver time per view-referencing
        # statement, ~0.13 s per chain level — VIEWS_PROBE_r12.json);
        # _materialize_view recurses through THIS function, so a
        # view-over-view chain binds depth-first and the cycle guard
        # still carries _view_stack
        sshadow = _shadow(statement)
        # ONE token pass over the STATEMENT against a memoized
        # catalog index (r13 verdict wrong #3 / r14 task 3: the old
        # loop regex-scanned every catalog name against the text —
        # O(catalog x statement) per statement, linear in warehouse
        # table count). Bare identifier tokens come off the shadow
        # (\b-delimited, exactly what the per-name \b-search
        # matched); BACKTICK-quoted mentions come off the raw text
        # (the shadow blanks quoted content — a view definition
        # restored from an H2 dump spells every relation `quoted`,
        # and missing it cost one failed analysis per view
        # materialization).
        bare_idx, dotted_idx, dotted_schemas = _prebind_index(engine)
        # the index build just computed the catalog generation — the
        # shadow memo shares it, so per-token checks pay no second
        # O(catalog) hash (review r14)
        gen = engine._prebind_idx[0][:2]
        tokens = {
            m.group(0).casefold()
            for m in _IDENT_TOKEN_RE.finditer(sshadow)
        }
        tokens.update(
            m.group(1).casefold()
            for m in _BACKTICK_TOKEN_RE.finditer(statement)
        )
        for tok in sorted(tokens):
            ent = bare_idx.get(tok)
            if ent is None:
                continue
            bind_name, logical = ent
            try:
                if engine._session_shadow_exists(bind_name, gen=gen):
                    continue  # a resolvable name is NEVER shadowed
                # createTempView, NOT createOrReplace: if a user temp
                # view appeared after the memo recorded absence, this
                # RAISES instead of replacing (and later dropping)
                # the user's object — the stale memo entry is evicted
                # and the user's view wins (review r14)
                engine.table(logical).createTempView(bind_name)
                bound.append(bind_name)
            except Exception:
                engine._forget_shadow_absence(bind_name)
                continue  # backstop loop handles it loudly
        if dotted_idx:
            # schema-qualified mentions (r14): any sch.name spelling
            # whose schema part is registered binds the database+view
            # pair for native resolution — one finditer, not one
            # regex per dotted catalog entry
            seen_q: set = set()
            for m in _QUALIFIED_TOKEN_RE.finditer(statement):
                skey = _unquote_token(m.group(1)).casefold()
                if skey not in dotted_schemas:
                    continue
                b = _unquote_token(m.group(2)).casefold()
                logical = dotted_idx.get((skey, b))
                if logical is None or logical in seen_q:
                    continue
                seen_q.add(logical)
                try:
                    bound_q.append(_bind_qualified(engine, logical))
                except Exception:
                    pass
        allv = engine.views.all()
        if allv:
            # relation-POSITION gate (review r13): a view name used
            # as a mere column/alias must not trigger a full chain
            # materialization — only FROM/JOIN mentions count, the
            # same scanner dependents_of uses
            from .views import relation_names

            rel_mentions = relation_names(statement)
        for ventry in allv.values():
            vname = ventry["name"]
            if vname.casefold() in _view_stack:
                continue  # mid-expansion: the cycle guard owns this
            if vname.casefold() not in rel_mentions:
                continue
            try:
                if engine.spark.catalog.tableExists(vname):
                    continue  # a resolvable name is NEVER shadowed
                _materialize_view(
                    engine, ventry, _view_stack
                ).createOrReplaceTempView(vname)
                bound.append(vname)
            except Exception:
                # incl. ViewError: a broken FORCE view's name might
                # be a mere column in this statement — the backstop
                # loop raises loudly only when Spark itself reports
                # the name unresolved in RELATION position
                continue
        for _ in range(20):
            try:
                df = engine.spark.sql(statement)
                if bound:
                    df.schema  # force analysis before the views drop
                return df
            except AnalysisException as e:
                name = _missing_relation(e)
                if name is None:
                    raise
                try:
                    logical = _logical(engine, name)
                except NotAResource:
                    ventry = engine.views.get(name)
                    if ventry is None:
                        raise e from None
                    _materialize_view(
                        engine, ventry, _view_stack
                    ).createOrReplaceTempView(name)
                    bound.append(name)
                    continue
                try:
                    if "." in logical or "." in name:
                        # schema-qualified logical, or a QUALIFIED
                        # spelling of a PUBLIC table (PUBLIC.t):
                        # bind natively — a dotted reference cannot
                        # be satisfied by a temp view
                        bound_q.append(_bind_qualified(engine, logical))
                    else:
                        engine.table(logical).createOrReplaceTempView(
                            name
                        )
                        bound.append(name)
                except Exception:
                    raise e from None
        return engine.spark.sql(statement)
    finally:
        for n in bound:
            try:
                engine.spark.catalog.dropTempView(n)
            except Exception:  # pragma: no cover — session hygiene only
                pass
        for qid in bound_q:
            try:
                engine.spark.sql(f"DROP VIEW IF EXISTS {qid}")
            except Exception:  # pragma: no cover — session hygiene only
                pass


def _substitute_default_keyword(engine, source, names, res, meta, verb):
    """H2's ``INSERT ... VALUES (DEFAULT, 1)``: replace each bare
    depth-0 DEFAULT token with the positional column's recorded
    default — an identity column allocates one sequence value per
    spelled occurrence (exactly the per-textual-occurrence semantics
    of :func:`_substitute_sequence_values`), a deterministic default
    splices its expression, no recorded default means NULL (H2).
    Returns ``(rewritten_source, changed)``; ``changed`` reroutes
    the VALUES build through the row-wise SELECT branch so spliced
    expressions are never constrained to inline-table literals."""
    vshadow = _shadow(source)
    rows_out, changed = [], False
    for r in _split_top_level(source, vshadow, 0, len(source)):
        r = r.strip()
        rsh = _shadow(r)
        if not (r.startswith("(") and r.endswith(")")):
            return source, False  # malformed: let the caller report
        items = []
        for i, item in enumerate(
            _split_top_level(r, rsh, 1, len(r) - 1)
        ):
            if not re.fullmatch(
                r"\s*DEFAULT\s*", _shadow(item), re.I
            ):
                items.append(item)
                continue
            changed = True
            if i >= len(names):
                raise ValueError(
                    f"{verb}: DEFAULT at position {i + 1} exceeds the "
                    "column list"
                )
            e = meta.get(res[names[i]].casefold(), {})
            if e.get("sequence"):
                items.append(
                    str(engine.sequences.nextval(e["sequence"])[0])
                )
            elif e.get("default"):
                items.append(f"({e['default']})")
            else:
                items.append("NULL")
        rows_out.append("(" + ", ".join(s.strip() for s in items) + ")")
    return (", ".join(rows_out), changed) if changed else (source, False)


def _conform_source(
    engine, target, names, kind, source, verb="INSERT", logical=None
):
    """Build the source DataFrame for INSERT/MERGE and conform it to
    the target schema: cast provided columns, fill the rest with
    their recorded DEFAULT (colmeta.py — H2 inserts the default for
    unspecified columns) or NULL. An identity column's fill
    allocates its backing sequence per RESULT row (atomic range +
    deterministic row_number, the _rewrite_nextval_select protocol),
    and a NULL_TO_DEFAULT column converts provided NULLs to the
    default (H2's identity-column insert behavior). An unknown
    column in the explicit list raises (H2: 'Column not found')
    instead of silently NULL-filling the whole row; matching is
    case-insensitive via :func:`resolve_columns`."""
    res = resolve_columns(
        names, target.columns, f"{verb}: column not found in column list"
    )
    meta = (
        engine.colmeta.columns_of(logical) if logical is not None else {}
    )
    force_select = False
    if kind == "values" and re.search(
        r"\bDEFAULT\b", _shadow(source), re.I
    ):
        # not gated on recorded metadata: H2 accepts the DEFAULT
        # keyword on a default-less column too (it inserts NULL),
        # and the bare token would otherwise fail Spark's parser
        source, force_select = _substitute_default_keyword(
            engine, source, names, res, meta, verb
        )
    ord_col = None
    if kind == "values":
        quoted = ", ".join(f"`{c}`" for c in names)
        vshadow = _shadow(source)
        rows_txt = [
            r.strip()
            for r in _split_top_level(source, vshadow, 0, len(source))
        ]
        parenthesized = all(
            r.startswith("(") and r.endswith(")") for r in rows_txt
        )
        if parenthesized:
            # an ordinal rides along so identity fills assign
            # sequence values in the STATEMENT's row order — H2's
            # semantics for multi-row VALUES (review r13: ordering
            # by the row VALUES is observably different for
            # non-monotonic rows). Unparenthesized single-column
            # inline-table rows (Spark grammar) fall through to the
            # plain build, where source order is unspecified anyway.
            ord_col = "__vrow_ord__"
        if force_select or re.search(r"\bSELECT\b", vshadow, re.I):
            # Spark's inline tables reject scalar subqueries
            # (SCALAR_SUBQUERY_IN_VALUES) where H2 accepts
            # ``VALUES (NEXTVAL('s'), (SELECT MAX(x) FROM u))`` —
            # rewrite each VALUES row as a SELECT and UNION ALL
            # them (bounded: as many branches as spelled rows)
            selects = []
            for i, r in enumerate(rows_txt):
                if not (r.startswith("(") and r.endswith(")")):
                    raise ValueError(
                        f"{verb}: malformed VALUES row: {r[:80]!r}"
                    )
                selects.append(f"SELECT {r[1:-1]}, {i}")
            src = _resolve_sql(engine, " UNION ALL ".join(selects)).toDF(
                *names, ord_col
            )
        elif ord_col is not None:
            rows_ord = ", ".join(
                f"({r[1:-1]}, {i})" for i, r in enumerate(rows_txt)
            )
            src = engine.spark.sql(
                f"SELECT * FROM VALUES {rows_ord} "
                f"AS T({quoted}, `{ord_col}`)"
            )
        else:
            src = engine.spark.sql(
                f"SELECT * FROM VALUES {source} AS T({quoted})"
            )
    else:
        src = _resolve_sql(engine, source).toDF(*names)
    provided = {res[c]: s for c, s in zip(names, src.columns)}
    return _apply_column_fills(
        engine, target, meta, src, provided, verb, ord_col=ord_col
    )


def _prefix_rank_state(engine, src, sfx, flags):
    """Distributed 1-based row numbers with NO single-partition
    window: attach ``monotonically_increasing_id`` (its documented
    layout packs the partition index in the upper bits and the
    per-partition row ordinal in the lower 33 — pinned below, a
    layout change fails loudly), ``localCheckpoint`` so the count and
    every later read see ONE evaluation, compute per-partition counts
    in a single aggregation, and broadcast the exclusive prefix
    offsets back. The global row number is then
    ``offset[partition] + local_ordinal + 1`` — one bounded driver
    aggregation; the data itself never shuffles and never funnels
    through one task.

    ``flags`` maps a key to a BOOLEAN flag expression; each flag gets
    the same treatment (per-partition running sum + broadcast offset),
    yielding the 1-based rank of a flagged row among all flagged rows
    — the identity-fill path ranks each column's cast-NULL rows this
    way. The identity-fill SELECT-source path and the per-row NEXTVAL
    INSERT-source rewrite share this helper (verdict r14 #3: the
    NEXTVAL sibling had kept the single-partition ``Window.orderBy``
    shape commit 9dcd7f4 removed from identity fills).

    Returns ``(src, n, counts, rn_expr, rank_of)``: the checkpointed
    frame with the helper columns attached, its total row count,
    per-flag totals, the global row-number Column, and ``rank_of(key)``
    — a rank expression valid only on rows whose flag is true."""
    from pyspark.sql import Window

    mono = f"__pr_mono_{sfx}__"
    pcol = f"__pr_p_{sfx}__"
    fkeys = list(flags)
    src = src.withColumn(
        mono, F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    local_e = F.col(f"`{mono}`").bitwiseAND(F.lit((1 << 33) - 1))
    src = src.withColumn(
        pcol, F.shiftrightunsigned(F.col(f"`{mono}`"), 33)
    )
    stats = (
        src.groupBy(pcol)
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(local_e).alias("lo"),
            F.max(local_e).alias("hi"),
            *[
                F.sum(flags[k].cast("long")).alias(f"z{i}")
                for i, k in enumerate(fkeys)
            ],
        )
        .collect()
    )
    stats.sort(key=lambda r: r[pcol])
    for r in stats:
        # pin the documented id layout (per-partition ordinals 0..c-1
        # in the low 33 bits); a layout change must fail loudly,
        # never mis-assign values
        if r["lo"] != 0 or r["hi"] != r["c"] - 1:
            raise RuntimeError(
                "monotonically_increasing_id no longer packs "
                "per-partition row ordinals in the low 33 bits — "
                "prefix-offset ranking needs updating"
            )
    n = sum(r["c"] for r in stats)
    counts = {
        k: sum(r[f"z{i}"] or 0 for r in stats)
        for i, k in enumerate(fkeys)
    }
    roff = f"__pr_roff_{sfx}__"
    foffs = {k: f"__pr_foff{i}_{sfx}__" for i, k in enumerate(fkeys)}
    if stats:
        rows, acc = [], 0
        faccs = [0] * len(fkeys)
        for r in stats:
            rows.append(
                (int(r[pcol]), int(acc)) + tuple(int(a) for a in faccs)
            )
            acc += r["c"]
            for i in range(len(fkeys)):
                faccs[i] += r[f"z{i}"] or 0
        offs = engine.spark.createDataFrame(
            rows, schema=[pcol, roff] + [foffs[k] for k in fkeys]
        )
        src = src.join(F.broadcast(offs), pcol)
    else:
        # empty source: the rank expressions must still ANALYZE (the
        # NEXTVAL rewrite bakes rn_expr into a projection even over
        # zero rows)
        src = src.withColumn(roff, F.lit(0).cast("long"))
        for k in fkeys:
            src = src.withColumn(foffs[k], F.lit(0).cast("long"))
    rn_expr = F.col(f"`{roff}`") + local_e + F.lit(1)
    local_w = (
        Window.partitionBy(F.col(f"`{pcol}`"))
        .orderBy(F.col(f"`{mono}`"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def rank_of(k):
        return F.col(f"`{foffs[k]}`") + F.sum(
            flags[k].cast("long")
        ).over(local_w)

    return src, n, counts, rn_expr, rank_of


def _apply_column_fills(
    engine, target, meta, src, provided, verb, ord_col=None
):
    """Conform ``src`` to the target schema applying recorded column
    metadata (colmeta.py): provided columns cast into place (with
    NULL_TO_DEFAULT conversion), omitted columns fill from their
    DEFAULT / identity sequence, everything else NULL-fills.

    ``provided`` maps target field name -> src column name.
    ``ord_col`` names an explicit ordinal column in ``src`` carrying
    the statement's row order (the VALUES path); without one, a
    deterministic total order over the source columns stands in
    (SELECT sources have no defined row order on either engine).

    Identity fills allocate each backing sequence ONCE per statement
    as an atomic contiguous range sized to EXACTLY the rows that
    draw from it (H2 advances the sequence only for NULL/omitted
    rows), assigned by the row order above. The expensive path —
    localCheckpoint + count + rank — runs only when a fill row can
    exist: a statement providing every identity value pays ONE probe
    aggregation (the dump-restore hot path, review r13).

    Explicitly provided values for a sequence-bound column ADVANCE
    the backing sequence past the statement's extremum, H2 1.4.200's
    ``Column.updateSequenceIfRequired`` (advice r14): the probe
    aggregation computes max (ascending) / min (descending) of each
    provided identity column and the sequence restarts at extremum +
    increment when it has not already passed it — so mixed explicit/
    auto id statements never re-dispense an explicitly used value.
    The advance happens BEFORE this statement's own fill range is
    allocated (statement-level approximation of H2's row-at-a-time
    interleave — duplicates are impossible, exact interleavings that
    H2 itself would have collided on are not reproduced).

    Rank machinery (advice r14): the VALUES path (``ord_col``) keeps
    a global-window row_number — statement order is semantic and the
    row count is the literal's. SELECT sources have NO defined row
    order on either engine, so ranks are assigned partition-locally
    (monotonically_increasing_id's documented layout: partition index
    in the upper bits, row ordinal within partition in the lower 33)
    plus driver-side exclusive prefix offsets from one per-partition
    count aggregation — no single-partition global sort at any size."""
    def _entry(fname):
        return meta.get(fname.casefold(), {})

    dtypes = {f.name: f.dataType for f in target.schema.fields}
    fills: dict = {}  # target field name -> ("all" | "nulls", seq)
    for f in target.schema.fields:
        e = _entry(f.name)
        seq = e.get("sequence")
        if not seq:
            continue
        if f.name not in provided:
            fills[f.name] = ("all", seq)
        elif e.get("null_to_default"):
            fills[f.name] = ("nulls", seq)

    def _cast_null(f):
        # fills fire on the CAST value's nullness (a provided value
        # that casts to NULL draws the default too) — count and rank
        # must see the SAME nullness or a cast-NULL row would read
        # an unallocated/duplicate value
        return F.col(f"`{provided[f]}`").cast(dtypes[f]).isNull()

    # provided sequence-bound columns (whether or not they also fill
    # on NULL) advance the backing sequence past their extremum —
    # H2's updateSequenceIfRequired (advice r14)
    seq_provided: dict = {}  # target field name -> sequence
    for f in target.schema.fields:
        seq = _entry(f.name).get("sequence")
        if seq and f.name in provided:
            seq_provided[f.name] = seq

    fill_expr: dict = {}
    probe_fills = bool(fills) and not any(
        m == "all" for m, _s in fills.values()
    )
    if seq_provided and ord_col is None:
        # explicit identity values from a table-driven source: the
        # advance extremum must be computed on the SAME evaluation
        # the write lands, or a nondeterministic source could write
        # a value beyond the advanced point and a later auto-id
        # would collide (review r14). Checkpoint ONCE here; the
        # probe, any fill machinery and the write all read it.
        # Bounded by the statement's own row count; the dump-restore
        # hot path (explicit VALUES) never takes this branch.
        src = src.localCheckpoint(eager=True)
    if probe_fills or seq_provided:
        # probe BEFORE the checkpoint machinery: when every identity
        # column is provided and carries no NULLs (one aggregation),
        # nothing fills and the write proceeds directly. A
        # non-deterministic source that re-evaluates into NULLs after
        # a clean probe is caught loudly by the NOT NULL enforcement
        # (identity columns are NOT NULL), never silently mis-filled.
        # The SAME aggregation carries the provided-identity extrema
        # so the explicit-value advance costs no extra pass.
        null_cols = list(fills) if probe_fills else []
        aggs = [
            F.sum(_cast_null(f).cast("long")).alias(f"z{i}")
            for i, f in enumerate(null_cols)
        ]
        ext_cols = []  # (field, sequence, inc) aligned after the z's
        for f, s in seq_provided.items():
            inc = engine.sequences.describe(s)["inc"]
            val = F.col(f"`{provided[f]}`").cast(dtypes[f]).cast("long")
            aggs.append(
                (F.max(val) if inc > 0 else F.min(val)).alias(
                    f"x{len(ext_cols)}"
                )
            )
            ext_cols.append((f, s, inc))
        row = src.agg(*aggs).collect()[0]
        adv: dict = {}  # sequence key -> (extremum, inc, spelled name)
        for i, (f, s, inc) in enumerate(ext_cols):
            v = row[len(null_cols) + i]
            if v is None:
                continue  # zero rows, or every provided value NULL
            k = s.casefold()
            if k in adv:
                prev = adv[k][0]
                v = max(prev, v) if inc > 0 else min(prev, v)
            adv[k] = (v, inc, s)
        for v, _inc, s in adv.values():
            engine.sequences.advance_past(s, v)
        if probe_fills and not any(row[i] for i in range(len(null_cols))):
            fills = {}
    if fills:
        import uuid as _uuid

        from pyspark.sql import Window

        from .sequences import SequenceError

        sfx = _uuid.uuid4().hex[:8]
        null_cols = [f for f, (m, _s) in fills.items() if m == "nulls"]
        ncounts: dict = {}
        if ord_col is not None:
            # bounded VALUES path: the statement's literal row order
            # is semantic and the row count is the statement's own —
            # a global window over those rows is the right tool
            order_cols = [F.col(f"`{ord_col}`")]
            rn_col = f"__def_rn_{sfx}__"
            src = src.withColumn(
                rn_col,
                F.row_number().over(
                    Window.orderBy(*order_cols)  # bounded: VALUES rows
                ),
            ).localCheckpoint(eager=True)
            n = src.count()
            if null_cols and n:
                # (re)counted on the CHECKPOINTED frame — the probe
                # above saw a pre-checkpoint evaluation
                row = src.agg(
                    *[
                        F.sum(_cast_null(f).cast("long")).alias(f"z{i}")
                        for i, f in enumerate(null_cols)
                    ]
                ).collect()[0]
                ncounts = {
                    f: row[i] or 0 for i, f in enumerate(null_cols)
                }
            rn_expr = F.col(f"`{rn_col}`")
            run_w = Window.orderBy(  # bounded: VALUES rows
                *order_cols
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)

            def _null_rank(f):
                # rank among THIS column's (cast-)null rows, same
                # total order as rn — only those rows read it
                return F.sum(_cast_null(f).cast("long")).over(run_w)

        else:
            # SELECT source: row order is unspecified on either
            # engine, so ranks are assigned partition-locally plus
            # driver-side exclusive prefix offsets (one per-partition
            # count aggregation, broadcast-joined back) instead of
            # funnelling the whole source through a single-partition
            # global window (advice r14; shared with the per-row
            # NEXTVAL rewrite — _prefix_rank_state)
            src, n, ncounts, rn_expr, _null_rank = _prefix_rank_state(
                engine, src, sfx, {f: _cast_null(f) for f in null_cols}
            )

        # one contiguous range per distinct sequence; columns sharing
        # a sequence draw disjoint sub-ranges (offset per column)
        per_seq: dict = {}
        for f, (m, s) in fills.items():
            per_seq.setdefault(s.casefold(), (s, []))[1].append((f, m))
        for s, cols_m in per_seq.values():
            req = sum(
                n if m == "all" else ncounts.get(f, 0) for f, m in cols_m
            )
            if not req:
                continue
            inc = engine.sequences.describe(s)["inc"]
            vals = engine.sequences.nextval(s, req)
            base = vals[0]
            if vals[-1] != base + (req - 1) * inc:
                raise SequenceError(
                    f"sequence {s!r} CYCLEd inside this {verb}'s "
                    f"{req}-row allocation — identity fill needs a "
                    "contiguous range; RESTART the sequence or widen "
                    "its bounds"
                )
            off = 0
            for f, m in cols_m:
                cnt = n if m == "all" else ncounts.get(f, 0)
                if not cnt:
                    continue
                fill_base = base + off * inc
                rank = rn_expr if m == "all" else _null_rank(f)
                fill_expr[f] = F.lit(fill_base) + (
                    rank - F.lit(1)
                ) * F.lit(inc)
                off += cnt

    def _conform_one(f):
        e = _entry(f.name)
        if f.name in provided:
            col = F.col(f"`{provided[f.name]}`")
            if e.get("null_to_default"):
                if f.name in fill_expr:
                    col = F.coalesce(
                        col.cast(f.dataType),
                        fill_expr[f.name].cast(f.dataType),
                    )
                elif not e.get("sequence") and e.get("default"):
                    col = F.coalesce(
                        col.cast(f.dataType),
                        F.expr(e["default"]).cast(f.dataType),
                    )
            return col.cast(f.dataType).alias(f.name)
        if e.get("sequence"):
            fx = fill_expr.get(f.name)
            # no rows (or a zero-length fill): any expression serves
            return (
                fx if fx is not None else F.lit(None)
            ).cast(f.dataType).alias(f.name)
        if e.get("default"):
            return F.expr(e["default"]).cast(f.dataType).alias(f.name)
        return F.lit(None).cast(f.dataType).alias(f.name)

    return src.select(*[_conform_one(f) for f in target.schema.fields])


import contextlib


@contextlib.contextmanager
def _translate_recursion_limit():
    """Turn Spark's opaque RECURSION_LEVEL_LIMIT_EXCEEDED abort into
    the engine's typed :class:`errors.CyclicRecursionError`, which
    tells the user whether to raise MAX RECURSION LEVEL (deep acyclic
    recursion) or to move to operators.iterate.fixpoint (cyclic data,
    where a UNION ALL CTE can never terminate)."""
    from .errors import CyclicRecursionError

    try:
        yield
    except Exception as ex:  # Py4JJavaError carries the JVM message
        text = str(ex)
        if "RECURSION_LEVEL_LIMIT_EXCEEDED" in text:
            # Py4J puts the JVM message on line 2; non-Py4J wrappers
            # (plain SparkException, Spark Connect) may be single-line.
            parts = text.split("\n")
            snippet = parts[1] if len(parts) > 1 and parts[1].strip() else parts[0]
            raise CyclicRecursionError(snippet[:300]) from ex
        raise


class _TranslatingWriterProxy:
    """Proxy over ``DataFrameWriter``/``DataFrameWriterV2`` that runs
    every method under the recursion-limit translation. Chainable
    builder methods (``format``/``mode``/``option``…) return the
    writer again — re-wrap those so the terminal ``save``/
    ``saveAsTable``/``insertInto`` at the end of the chain is still
    translated."""

    def __init__(self, target):
        self._target = target

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if callable(attr):
            def wrapped(*args, **kwargs):
                with _translate_recursion_limit():
                    out = attr(*args, **kwargs)
                if isinstance(out, type(self._target)):
                    return _TranslatingWriterProxy(out)
                return out

            return wrapped
        return attr


class _RecursiveStatementResult:
    """Lazy-DataFrame wrapper for ``WITH RECURSIVE`` statements: Spark
    only detects a non-terminating recursion at ACTION time, so the
    driver-side actions — including the write path (``.write``/
    ``.writeTo``, whose ``save``/``saveAsTable``/``insertInto``/
    ``append`` are actions too) — are wrapped to translate the
    recursion-limit abort into the typed error. Every other attribute
    passes through to the underlying DataFrame unchanged
    (transformations return plain DataFrames — the statement
    surface's contract is that the STATEMENT's own execution is
    typed, not arbitrary downstream plans)."""

    _ACTIONS = frozenset(
        {"collect", "count", "toPandas", "show", "take", "head", "first",
         "tail", "toLocalIterator", "foreach", "foreachPartition",
         "toJSON"}
    )
    _WRITERS = frozenset({"write", "writeTo", "writeStream"})

    def __init__(self, df):
        self._df = df

    def __getattr__(self, name):
        attr = getattr(self._df, name)
        if name in self._ACTIONS and callable(attr):
            def wrapped(*args, **kwargs):
                with _translate_recursion_limit():
                    return attr(*args, **kwargs)

            return wrapped
        if name in self._WRITERS:
            return _TranslatingWriterProxy(attr)
        return attr

    def __repr__(self):
        return repr(self._df)


def execute(engine, statement: str):
    """Front door: dispatch table-statement verbs to the engine (the
    reference's users issue these as SQL because H2 parses them
    server-side); every other statement runs as plain Spark SQL
    (returning its DataFrame). Returns a JDBC-style update count for
    DML (UPDATE/DELETE/TRUNCATE affected rows; INSERT/MERGE source
    rows), None for DDL (CREATE TABLE AS / DROP TABLE). Statements
    naming tables outside the engine catalog fall through to Spark
    (e.g. INSERT into a session-managed table, CREATE VIEW)."""
    from .errors import NotAResource

    statement = statement.strip().rstrip(";").strip()
    shadow = _shadow(statement)
    mtx = _TXN_RE.match(shadow)
    if mtx:
        # H2 transaction control (JDBC clients and pools emit these
        # against the reference's wire endpoints as a matter of
        # course, H2Server.scala:60-84). This engine's semantics is
        # each-statement-auto-committed, so COMMIT is a TRUE no-op
        # and BEGIN / SAVEPOINT are observationally identical no-ops
        # (a savepoint is only visible via ROLLBACK TO). ROLLBACK
        # cannot be honored — the statement that would be rolled
        # back already committed — and a silent no-op would lie
        # about durability, so it raises loudly (r11 verdict task 4)
        if mtx.group(2):  # the ROLLBACK alternative
            raise ValueError(
                "ROLLBACK: cannot be honored — this engine commits "
                "each statement eagerly (parquet overwrite-rewrites "
                "have no transaction log to unwind); a silent no-op "
                "would lie about durability. Re-issue compensating "
                "statements instead."
            )
        return None
    if _CHECKPOINT_RE.match(shadow):
        # H2 CHECKPOINT [SYNC] flushes the page store / transaction
        # log to disk; every statement here is already durable
        # parquet when it returns, so both forms are TRUE no-ops
        # (the COMMIT rationale; r15)
        return None
    mlc = _LIFECYCLE_RE.match(shadow)
    if mlc:
        # H2 lifecycle/file statements with no honorable analogue —
        # loud rejects naming the alternative (the ROLLBACK rule:
        # a silent no-op would lie about what happened; r15)
        if mlc.group(1).upper() == "SHUTDOWN":
            raise ValueError(
                "SHUTDOWN: not supported — this engine shares one "
                "Spark session across clients, and closing it out "
                "from under them cannot be honored from a statement. "
                "Stop the server process (or the Engine's endpoint) "
                "instead."
            )
        raise ValueError(
            "BACKUP: not supported — there are no H2 storage files "
            "to zip. Dump the schema with SCRIPT TO 'file' and copy "
            "the warehouse's parquet directories for the data."
        )
    mpr = _PRINCIPAL_RE.match(shadow)
    if mpr:
        # H2 users / roles / rights (the preamble of every dump a
        # real H2 1.4.200 authors) — documented no-ops on this
        # single-principal engine (r12 verdict task 1)
        return _execute_principal(engine, statement, shadow, mpr)
    mset = _SET_RE.match(shadow)
    if mset:
        # H2 session SET commands (JDBC pools emit these on connect)
        return _execute_set(engine, statement, shadow, mset)
    mcom = _COMMENT_ON_RE.match(shadow)
    if mcom:
        # H2's COMMENT ON ... IS '...' — dumps of commented databases
        # carry these lines; remarks land in the column-metadata
        # registry and surface through INFORMATION_SCHEMA REMARKS
        return _execute_comment_on(engine, statement, shadow, mcom)
    from . import script_stmt

    mex = script_stmt.EXPLAIN_RE.match(shadow)
    if mex:
        # H2's EXPLAIN [ANALYZE] [PLAN FOR]: one-row PLAN result; the
        # inner query re-enters this front door for the rewrites
        return script_stmt.execute_explain(engine, statement, shadow, mex)
    if script_stmt.SCRIPT_RE.match(shadow):
        # H2's schema dump (NODATA): one row per re-creating DDL
        return script_stmt.execute_script(engine, statement, shadow)
    if script_stmt.RUNSCRIPT_RE.match(shadow):
        # H2's script execution (the reference boots through
        # h2.RunScript.execute — H2Server.scala:51)
        return script_stmt.execute_runscript(engine, statement, shadow)
    from . import info_schema

    mshow = info_schema.SHOW_RE.match(shadow)
    if mshow:
        # H2's SHOW commands answer from the ENGINE catalog, not
        # Spark's session namespace (info_schema module docstring)
        return info_schema.execute_show(engine, statement, shadow, mshow)
    if info_schema.INFO_SCHEMA_RE.search(shadow):
        # refresh-on-introspection: the views then resolve natively
        # through Spark's case-insensitive catalog
        info_schema.refresh_information_schema(engine)
    man = re.match(r"\s*ANALYZE\b", shadow, re.I)
    if man:
        # H2 ANALYZE [TABLE t] [SAMPLE_SIZE n] — computes per-column
        # SELECTIVITY into the column-metadata registry (r15). The
        # Spark spelling (ANALYZE TABLE t COMPUTE STATISTICS ...)
        # leaves a tail this grammar doesn't consume and falls
        # through to Spark SQL untouched.
        result = _execute_analyze(engine, statement, shadow, man)
        if result is not NotImplemented:
            return result
    from . import csv_table_funcs

    if csv_table_funcs.CSVWRITE_RE.match(shadow):
        # H2's CSV export function: runs the embedded query through
        # this same surface and returns the written row count
        return csv_table_funcs.execute_csvwrite(engine, statement, shadow)
    mcall = csv_table_funcs.CALL_RE.match(shadow)
    if mcall:
        # H2's CALL <expr> evaluates any expression as a 1-row result
        statement = "SELECT " + statement[mcall.end() :]
        shadow = _shadow(statement)
    if csv_table_funcs.CSVREAD_RE.search(shadow):
        # H2's CSV table function, in any query position — each call
        # site becomes a lazy all-VARCHAR spark.read.csv temp view
        # (shadow scan, so CSVREAD inside a literal never rewrites)
        statement = csv_table_funcs.rewrite_csvread(engine, statement, shadow)
        shadow = _shadow(statement)
    if _H2_DIALECT_RE.search(shadow):
        # H2-only SELECT grammar (SELECT TOP n, CASEWHEN) — rewrite
        # to ANSI before any dispatch so it works in subqueries and
        # DML sources too (see rewrite_h2_dialect)
        statement = rewrite_h2_dialect(statement)
        shadow = _shadow(statement)
    if _STRINGDECODE_RE.search(shadow):
        # H2's SCRIPT wraps control-char/backslash/non-ASCII strings
        # in STRINGDECODE('...') — decode the literal form before
        # any dispatch so dump INSERTs restore (r12 verdict task 1)
        statement = rewrite_stringdecode(statement)
        shadow = _shadow(statement)
    if _QUANT_RE.search(shadow):
        # H2-grammar quantified comparisons (x > ALL (subq)) — Spark
        # can't parse them; rewrite into ANSI-equivalent constructs
        # it can (see rewrite_quantified)
        statement = rewrite_quantified(statement)
        shadow = _shadow(statement)
    if _SEQ_VAL_RE.search(shadow):
        # H2 sequence value functions (NEXTVAL/CURRVAL/NEXT VALUE
        # FOR) — allocated from the engine's durable registry and
        # substituted as literals (see _substitute_sequence_values)
        statement = _substitute_sequence_values(engine, statement)
        shadow = _shadow(statement)
    recursive = re.search(r"\bWITH\s+RECURSIVE\b", shadow, re.I) is not None
    m = re.match(
        r"\s*(UPDATE|DELETE|MERGE|INSERT|CREATE|DROP|TRUNCATE|ALTER)\b",
        shadow,
        re.I,
    )
    if not m:
        df = _resolve_sql(engine, statement)
        return _RecursiveStatementResult(df) if recursive else df
    if recursive:
        # verb statements (INSERT ... SELECT, CTAS over a recursive
        # CTE) execute eagerly below — translate in place
        with _translate_recursion_limit():
            return _execute_verb(engine, statement, shadow, m)
    return _execute_verb(engine, statement, shadow, m)


#: H2 transaction-control statements (grammar: COMMIT [WORK],
#: ROLLBACK [WORK] [TO SAVEPOINT name], SAVEPOINT name, and the
#: BEGIN / START TRANSACTION spellings PG-wire clients emit).
#: Anchored full-statement forms only: a bare BEGIN is a PG-client
#: transaction start, but ``BEGIN ... END`` is Spark SQL scripting
#: and must fall through untouched.
_TXN_RE = re.compile(
    r"\s*(?:"
    r"(COMMIT)(?:\s+WORK)?"
    r"|(ROLLBACK)(?:\s+WORK)?(?:\s+TO\s+SAVEPOINT\s+\S+)?"
    r"|(SAVEPOINT)\s+\S+"
    r"|(BEGIN)(?:\s+(?:TRANSACTION|WORK))?"
    r"|(START)\s+TRANSACTION"
    r")\s*$",
    re.I,
)

#: H2 principal / rights statements: the PREAMBLE of every dump a
#: real H2 1.4.200 authors. Its SCRIPT output opens with ``CREATE
#: USER IF NOT EXISTS "SA" SALT '...' HASH '...' ADMIN;`` and may
#: carry CREATE ROLE / GRANT / REVOKE lines for any users and rights
#: the dumped database held — so RUNSCRIPT of a genuinely foreign
#: dump hits these before its first table (r12 verdict gap #3).
#: H2 ``COMMENT ON <kind> name IS expr`` (its SCRIPT emits one line
#: per commented object).
_COMMENT_ON_RE = re.compile(r"\s*COMMENT\s+ON\s+([A-Za-z_]+)\s", re.I)


def _execute_analyze(engine, statement: str, shadow: str, man):
    """H2 1.4.200 ``ANALYZE [TABLE name] [SAMPLE_SIZE n]`` — computes
    every (or one) engine-catalog table's per-column SELECTIVITY and
    records it where SCRIPT and INFORMATION_SCHEMA.COLUMNS surface it
    (:meth:`Engine.analyze_tables`; r15). SAMPLE_SIZE is HONORED with
    H2's LIMIT-bounded-scan semantics (r16: n rows feed the
    statistics, 0 = exact, absent = H2's 10 000-row default — the
    engine method documents the shape). Returns ``NotImplemented``
    when the statement is NOT this grammar (e.g. Spark's ``ANALYZE
    TABLE t COMPUTE STATISTICS``) so the caller falls through to
    Spark SQL."""
    from .errors import NotAResource

    pos = man.end()
    name = second = None
    mt = re.compile(r"\s*TABLE\s+", re.I).match(shadow, pos)
    if mt:
        # parse the (possibly qualified) name WITHOUT resolving yet:
        # resolution must wait for the tail check below, or a Spark
        # spelling over a Spark database (ANALYZE TABLE mydb.t
        # COMPUTE STATISTICS) would die on "unknown schema" instead
        # of falling through (review r15)
        name, pos = _parse_ident(statement, shadow, mt.end())
        if pos < len(shadow) and shadow[pos] == ".":
            second, pos = _parse_ident(statement, shadow, pos + 1)
    msz = re.compile(r"\s*SAMPLE_SIZE\s+(\d+)", re.I).match(shadow, pos)
    if msz:
        pos = msz.end()
    if statement[pos:].strip():
        return NotImplemented  # Spark's ANALYZE grammar — fall through
    logical = None
    if name is not None:
        # H2 resolution, the _resolve_schema_qualifier semantics on
        # the already-parsed parts
        if second is None:
            # let _logical run the full unqualified lookup (current
            # schema, then the SCHEMA_SEARCH_PATH in order) — pre-
            # qualifying to the current schema here made ANALYZE's
            # resolution flip on which schema was current while
            # SELECT in the same session consulted the path
            # (review r16)
            logical = name
        elif name.casefold() == "public":
            logical = second
        elif engine.schemas.exists(name):
            logical = f"{name.casefold()}.{second}"
        else:
            raise ValueError(
                f"ANALYZE: unknown schema {name!r} — CREATE SCHEMA it "
                "first (PUBLIC is built in; registered schemas list "
                "in INFORMATION_SCHEMA.SCHEMATA)"
            )
        try:
            logical = _logical(engine, logical)
        except NotAResource:
            raise ValueError(
                f"ANALYZE: table not found: {logical!r}"
            ) from None
    engine.analyze_tables(
        logical, sample_size=int(msz.group(1)) if msz else None
    )
    return None


def _execute_comment_on(engine, statement: str, shadow: str, m):
    """``COMMENT ON TABLE t IS '...'`` / ``COMMENT ON COLUMN t.c IS
    '...'`` — the remark lands in the column-metadata registry
    (colmeta.py) and surfaces through the INFORMATION_SCHEMA REMARKS
    columns and SCRIPT dumps; ``IS NULL`` clears it (H2 semantics).
    Other object kinds H2 can comment (SEQUENCE, VIEW, ...) raise a
    clear unsupported error rather than silently dropping the
    remark."""
    if _STRINGDECODE_RE.search(shadow):
        # H2's SCRIPT wraps control-char/non-ASCII remarks in
        # STRINGDECODE exactly like its INSERT literals — this
        # handler dispatches BEFORE the global rewrite pass, so it
        # decodes its own statement (review r13)
        statement = rewrite_stringdecode(statement)
        shadow = _shadow(statement)
        m = _COMMENT_ON_RE.match(shadow)
    kind = m.group(1).upper()
    if kind not in ("TABLE", "COLUMN", "VIEW", "SEQUENCE"):
        raise ValueError(
            f"COMMENT ON {kind}: only TABLE, COLUMN, VIEW and "
            "SEQUENCE remarks are supported (CONSTANT/ALIAS/TRIGGER/"
            "DOMAIN objects themselves are not — see their CREATE "
            "rejections)"
        )
    name, pos = _parse_ident(statement, shadow, m.end())
    parts = [name]
    while pos < len(shadow) and shadow[pos] == ".":
        nxt, pos = _parse_ident(statement, shadow, pos + 1)
        parts.append(nxt)
    # schema qualifier (r14): PUBLIC strips, a registered schema
    # folds into the dotted logical prefix, and an unqualified name
    # resolves in the session's current schema
    want = 2 if kind == "COLUMN" else 1
    if len(parts) == want + 1:
        sch = parts[0]
        if sch.casefold() == "public":
            parts = parts[1:]
        elif engine.schemas.exists(sch):
            parts = [f"{sch.casefold()}.{parts[1]}"] + parts[2:]
        else:
            raise ValueError(
                f"COMMENT ON {kind}: unknown schema {sch!r} — "
                "CREATE SCHEMA it first (PUBLIC is built in)"
            )
    elif len(parts) == want and engine.current_schema != "public":
        parts = [f"{engine.current_schema}.{parts[0]}"] + parts[1:]
    if len(parts) != want:
        raise ValueError(
            f"COMMENT ON {kind}: expected "
            + ("table.column" if kind == "COLUMN" else "object")
            + f" name, got {'.'.join(parts)!r}"
        )
    mis = re.compile(r"\s*IS\s+", re.I).match(shadow, pos)
    if not mis:
        raise ValueError("COMMENT ON: expected IS <expression>")
    tail = statement[mis.end() :].strip().rstrip(";").strip()
    tsh = _shadow(tail)
    if re.fullmatch(r"NULL", tsh, re.I):
        value = None
    else:
        value, end = _take_string_literal(tail, tsh, 0, "COMMENT ON")
        if tail[end:].strip():
            raise ValueError(
                f"COMMENT ON: unexpected trailing text {tail[end:]!r}"
            )
    if kind == "VIEW":
        engine.views.set_remarks(parts[0], value)
        engine._republish_info_schema()
        return None
    if kind == "SEQUENCE":
        engine.sequences.set_remarks(parts[0], value)
        engine._republish_info_schema()
        return None
    if kind == "TABLE":
        from .errors import NotAResource

        try:
            logical = _logical(engine, parts[0])
        except NotAResource:
            # H2 keeps views in the table namespace, so a dump may
            # spell a view's remark COMMENT ON TABLE — route it
            if engine.views.get(parts[0]) is not None:
                engine.views.set_remarks(parts[0], value)
                engine._republish_info_schema()
                return None
            raise
        engine.colmeta.set_table_remarks(logical, value)
    else:
        logical = _logical(engine, parts[0])
        col = resolve_columns(
            [parts[1]],
            engine.table(logical).columns,
            "COMMENT ON COLUMN: column not found",
        )[parts[1]]
        engine.colmeta.update_column(logical, col, remarks=value)
    engine._republish_info_schema()
    return None


_PRINCIPAL_RE = re.compile(
    r"\s*(?:(?P<verb>CREATE|DROP|ALTER)\s+(?P<kind>USER|ROLE)\b"
    r"|(?P<right>GRANT|REVOKE)\b)",
    re.I,
)

#: H2 CHECKPOINT [SYNC]: flush the page store / transaction log.
#: Anchored full-statement form (a table named CHECKPOINT in a query
#: never starts the statement).
_CHECKPOINT_RE = re.compile(r"\s*CHECKPOINT(?:\s+SYNC)?\s*$", re.I)

#: H2 lifecycle/file statements (SHUTDOWN [IMMEDIATELY|COMPACT|
#: DEFRAG], BACKUP TO 'file.zip') — statement-leading keyword only.
_LIFECYCLE_RE = re.compile(r"\s*(SHUTDOWN|BACKUP)\b", re.I)

_SET_RE = re.compile(r"\s*SET\s+(@?[A-Za-z_][A-Za-z0-9_]*)\b", re.I)

#: H2 1.4.200 session knobs with NO analogue on a Spark/parquet
#: engine (locking, page cache, trace files, close delays...).
#: Accepting them as no-ops is CORRECT compat — they tune the
#: storage engine H2 has and this engine doesn't — and is what lets
#: JDBC pools' connection-init scripts run unmodified.
_SET_NOOP = frozenset({
    "LOCK_MODE", "LOCK_TIMEOUT", "DEFAULT_LOCK_TIMEOUT", "CACHE_SIZE",
    "DB_CLOSE_DELAY", "WRITE_DELAY", "MAX_MEMORY_ROWS",
    "MAX_MEMORY_UNDO", "MAX_OPERATION_MEMORY", "MAX_LOG_SIZE",
    "TRACE_LEVEL_FILE", "TRACE_LEVEL_SYSTEM_OUT", "TRACE_MAX_FILE_SIZE",
    "UNDO_LOG", "MULTI_THREADED", "QUERY_TIMEOUT", "THROTTLE",
    "RETENTION_TIME", "LOG", "OPTIMIZE_REUSE_RESULTS",
    "REFERENTIAL_INTEGRITY", "QUERY_STATISTICS", "LAZY_QUERY_EXECUTION",
})

#: Knobs that CHANGE query semantics — silently accepting one would
#: diverge results without a signal, so they error loudly instead.
_SET_SEMANTIC = frozenset({
    "MODE", "IGNORECASE", "COLLATION", "ALLOW_LITERALS",
    "DEFAULT_TABLE_TYPE", "COMPRESS_LOB", "BINARY_COLLATION",
    # SCHEMA_SEARCH_PATH graduated from this set in r16: it is now
    # IMPLEMENTED with H2's first-match-wins semantics for
    # query-position relations (see _execute_set / _resolution_order)
})


def _execute_principal(engine, statement: str, shadow: str, m):
    """H2 ``CREATE/DROP/ALTER USER``, ``CREATE/DROP ROLE``,
    ``GRANT``/``REVOKE`` — ACCEPTED NO-OPS, documented: this engine
    has a single principal (the process), so H2's authorization
    surface has nothing to attach to — exactly the SET-knob
    precedent (storage/locking knobs with no analogue are no-ops,
    ``_SET_NOOP``). What it buys: a dump authored by a real H2
    1.4.200 opens with ``CREATE USER IF NOT EXISTS "SA" SALT '...'
    HASH '...' ADMIN;`` and may carry GRANT lines — RUNSCRIPT of a
    foreign dump must replay them, not die on line 1 (the reference
    feeds arbitrary user scripts through its H2,
    H2Server.scala:41-58). Passwords/salts/hashes are NOT recorded
    anywhere (no catalog surface exposes them). Shape is validated —
    a principal statement must still parse its principal name, and
    GRANT/REVOKE their TO/FROM clause — so a typo errors rather than
    silently no-oping."""
    if m.group("right"):
        kw = m.group("right").upper()
        need = "TO" if kw == "GRANT" else "FROM"
        if not re.search(rf"\b{need}\b", shadow[m.end():], re.I):
            raise ValueError(
                f"{kw}: expected {kw} <right|role> {need} <principal>"
            )
        return None
    verb = m.group("verb").upper()
    kind = m.group("kind").upper()
    pos = m.end()
    mex = re.compile(
        r"\s*IF\s+(?:NOT\s+)?EXISTS\s+", re.I
    ).match(shadow, pos)
    if mex:
        if (verb == "CREATE") != ("NOT" in mex.group(0).upper()):
            raise ValueError(
                f"{verb} {kind}: IF {'NOT ' if verb == 'CREATE' else ''}"
                f"EXISTS is the supported form"
            )
        pos = mex.end()
    name, pos = _parse_ident(statement, shadow, pos)
    if not name:
        raise ValueError(f"{verb} {kind}: expected a name")
    tail = shadow[pos:].strip()
    if verb == "DROP" and tail:
        raise ValueError(f"DROP {kind}: unexpected trailing text {tail!r}")
    if kind == "ROLE" and verb != "DROP" and tail:
        raise ValueError(f"{verb} ROLE: unexpected trailing text {tail!r}")
    # CREATE/ALTER USER tails (PASSWORD/SALT/HASH/ADMIN/RENAME TO/
    # SET ...) are accepted without further parsing: H2 grammars
    # several credential forms and none of them is recorded here
    return None


def _execute_set(engine, statement: str, shadow: str, m):
    """H2 ``SET <knob> <value>`` dispatch: storage-engine tuning
    knobs are accepted no-ops (the table above); ``SET SCHEMA
    PUBLIC`` is the identity (the engine's single schema); semantic
    knobs and unknown names raise loudly. Spark-native spellings
    pass through untouched: ``SET k=v``, bare ``SET``/``SET -v``,
    dotted conf keys in BOTH the write and the READ form (``SET
    spark.sql.x`` with no value returns the key/value row), and
    ``SET TIME ZONE ...`` (Spark grammar; H2 1.4.200 has no time
    zone setting, so there is nothing to shadow)."""
    knob = m.group(1).upper()
    tail = shadow[m.end():].strip()
    if (
        knob.startswith("@")
        or "=" in shadow
        or not tail
        or shadow[m.end() : m.end() + 1] == "."  # dotted conf key
        or (knob == "TIME" and re.match(r"ZONE\b", tail, re.I))
    ):
        return engine.sql(statement)  # Spark SET forms, conf reads
    if knob == "AUTOCOMMIT":
        # JDBC drivers and connection pools flip autocommit as a
        # matter of course against the reference's wire endpoints
        # (H2Server.scala:60-84). This engine's actual semantics is
        # each-statement-auto-committed, so ON is trivially true and
        # OFF is observationally identical right up to a ROLLBACK —
        # which raises loudly (execute) — so accepting both keeps
        # replayed client scripts alive without lying about
        # durability (r11 verdict task 4)
        if re.fullmatch(r"(ON|OFF|TRUE|FALSE|0|1)", tail, re.I):
            return None
        raise ValueError(f"SET AUTOCOMMIT: expected ON/OFF, got {tail!r}")
    if knob == "SCHEMA":
        # H2 SET SCHEMA: unqualified names resolve in this schema
        # from here on (r14 — multi-schema support, schemas.py)
        name, _ = _parse_ident(statement, shadow, m.end())
        if not engine.schemas.exists(name):
            raise ValueError(
                f"SET SCHEMA: unknown schema {name!r} — CREATE "
                "SCHEMA it first (PUBLIC is built in; registered "
                "schemas list in INFORMATION_SCHEMA.SCHEMATA)"
            )
        engine.current_schema = name.casefold()
        return None
    if knob == "SCHEMA_SEARCH_PATH":
        # H2 ``SET SCHEMA_SEARCH_PATH s1, s2, ...`` (r16 — was a loud
        # reject through r15): unqualified TABLE names resolve
        # current-schema-first, then through these entries in order
        # (Parser.readTableOrView's first-match-wins), for BOTH
        # query-position relations (_resolution_order / _logical /
        # _prebind_index) and table-referencing statement targets
        # (UPDATE/DELETE/MERGE/INSERT/DROP TABLE/TRUNCATE via
        # _resolve_schema_qualifier's _PATH_CTX) — H2 resolves both
        # through the same lookup, and reads and writes must agree
        # (review r16). Entries are recorded casefolded without an
        # existence check — H2 lets a client set its path before
        # creating the schemas; unknown entries are skipped at
        # lookup. SCOPE, documented: CREATE verbs still target the
        # current schema only (H2), and sequence/view DDL names
        # resolve strict current-schema in their own registries —
        # those misses fail loudly, never silently elsewhere.
        pos = m.end()
        path = []
        while True:
            pname, pos = _parse_ident(statement, shadow, pos)
            if not pname:
                raise ValueError(
                    "SET SCHEMA_SEARCH_PATH: expected a comma-"
                    "separated schema name list"
                )
            path.append(pname.casefold())
            mc = re.compile(r"\s*,").match(shadow, pos)
            if not mc:
                break
            pos = mc.end()
        if statement[pos:].strip():
            raise ValueError(
                "SET SCHEMA_SEARCH_PATH: unexpected trailing text "
                f"{statement[pos:].strip()!r}"
            )
        engine.schema_search_path = path
        return None
    if knob in _SET_NOOP:
        return None  # storage-engine knob with no analogue here
    if knob in _SET_SEMANTIC:
        raise ValueError(
            f"SET {knob}: unsupported — this knob changes query "
            "semantics, and accepting it silently would diverge "
            "results (H2-compat surface, loud by design)"
        )
    raise ValueError(f"SET {knob}: unknown H2 session setting")


#: Sequence value functions in H2 grammar (pre-filter, like _QUANT_RE).
_SEQ_VAL_RE = re.compile(
    r"\b(?:NEXTVAL|CURRVAL)\s*\(|\bNEXT\s+VALUE\s+FOR\b", re.I
)


#: Functions whose grammar embeds a FROM keyword that is NOT a table
#: source (EXTRACT(YEAR FROM ts), SUBSTRING(s FROM 1 FOR 2), ...).
_FROM_KEYWORD_FUNCS = frozenset(
    {"extract", "substring", "trim", "position", "overlay"}
)


def _has_table_from(sql: str, shadow: str) -> bool:
    """True iff a FROM keyword exists whose innermost enclosing paren
    is not one of the FROM-keyword function calls — i.e. a real query
    FROM source at any nesting level (main query, subquery,
    parenthesized INSERT source)."""
    stack: list[bool] = []  # True = benign function-call paren
    for m in re.finditer(r"[()]|\bFROM\b", shadow, re.I):
        t = m.group(0)
        if t == "(":
            j = m.start() - 1
            while j >= 0 and shadow[j].isspace():
                j -= 1
            k = j
            while k >= 0 and (shadow[k].isalnum() or shadow[k] in "_$"):
                k -= 1
            stack.append(sql[k + 1 : j + 1].lower() in _FROM_KEYWORD_FUNCS)
        elif t == ")":
            if stack:
                stack.pop()
        elif not (stack and stack[-1]):
            return True
    return False


def _substitute_sequence_values(engine, sql: str) -> str:
    """Replace every NEXTVAL('s') / NEXT VALUE FOR s / CURRVAL('s')
    with an allocated (or current) value literal, left to right —
    one allocation per TEXTUAL occurrence, which matches H2's
    per-row evaluation exactly for the dominant client shape
    (``INSERT ... VALUES`` spells one NEXTVAL per row).

    CURRVAL is a session constant — substitutable anywhere,
    including DELETE/UPDATE predicates. NEXTVAL is NOT a constant:

    * UPDATE / DELETE / MERGE apply one textual occurrence across
      many existing rows; substituting one literal would silently
      hand every row the same value where H2 dispenses per row —
      those raise.
    * ``INSERT ... VALUES``: one textual occurrence IS one row's
      evaluation — plain substitution, including when a VALUES
      expression carries a scalar subquery with its own FROM
      (``VALUES (NEXTVAL('s'), (SELECT MAX(x) FROM u))`` — the
      occurrence still evaluates exactly once).
    * ``INSERT ... SELECT`` over a table-driven source: H2
      allocates per RESULT row. NEXTVAL is left in the text here
      (only CURRVAL is substituted) and the INSERT execution path
      allocates the whole range atomically and assigns values by a
      deterministic row_number — see :func:`_rewrite_nextval_select`.
    * a bare ``SELECT NEXTVAL(..) FROM t`` (not an INSERT source)
      still raises: the statement surface returns a lazy DataFrame,
      and per-row allocation at plan-build time would dispense
      values for rows that may never be consumed.

    Function-keyword FROMs (EXTRACT(YEAR FROM ts), SUBSTRING(s FROM
    1)) never trip the table-driven detection."""
    from .sequences import SequenceError

    shadow0 = _shadow(sql)
    has_nextval = re.search(
        r"\bNEXTVAL\s*\(|\bNEXT\s+VALUE\s+FOR\b", shadow0, re.I
    )
    if re.match(
        r"\s*(CREATE\s+(CACHED|MEMORY)\s+TABLE|ALTER\s+TABLE)\b",
        shadow0,
        re.I,
    ):
        # DEFAULT (NEXT VALUE FOR s) in a column DECLARATION (H2's
        # identity dump spelling / ALTER COLUMN SET DEFAULT) is a
        # binding, not an evaluation — eager substitution here would
        # burn a sequence value into the table definition
        return sql
    currval_only = False
    if has_nextval:
        if re.match(r"\s*(UPDATE|DELETE)\b", shadow0, re.I):
            raise SequenceError(
                "NEXTVAL in UPDATE/DELETE is not supported — one "
                "textual occurrence would apply across many "
                "existing rows where H2 dispenses per row"
            )
        if re.match(r"\s*MERGE\b", shadow0, re.I):
            # legacy ``MERGE INTO t [(cols)] KEY (k) VALUES ...``
            # spells one NEXTVAL per row exactly like INSERT...VALUES
            # — plain substitution is per-row-correct. The ANSI
            # USING form and the legacy SELECT source apply one
            # occurrence across a result set — those raise.
            if re.search(r"\bUSING\b", shadow0, re.I) or _has_table_from(
                sql, shadow0
            ):
                raise SequenceError(
                    "NEXTVAL in MERGE is supported only for the "
                    "legacy VALUES form (per spelled row) — USING / "
                    "table-driven SELECT sources would apply one "
                    "textual occurrence across many rows"
                )
        if re.match(r"\s*INSERT\b", shadow0, re.I):
            try:
                _t, _c, kind, source = parse_insert(engine, sql, shadow0)
            except ValueError:
                kind, source = None, None
            if kind == "select":
                sshadow = _shadow(source)
                if re.search(
                    r"\bNEXTVAL\s*\(|\bNEXT\s+VALUE\s+FOR\b", sshadow, re.I
                ) and _has_table_from(source, sshadow):
                    # per-row allocation handled at INSERT execution
                    currval_only = True
        elif _has_table_from(sql, shadow0):
            raise SequenceError(
                "NEXTVAL over a table-driven SELECT is supported "
                "only as an INSERT source (INSERT INTO t SELECT "
                "NEXTVAL('s'), ... FROM u) — a bare SELECT would "
                "allocate at plan-build time for rows that may "
                "never be consumed"
            )
    pattern = (
        r"\b(CURRVAL)\s*\(\s*'([^']*)'\s*\)"
        if currval_only
        else (
            r"\b(NEXTVAL|CURRVAL)\s*\(\s*'([^']*)'\s*\)"
            r"|\bNEXT\s+VALUE\s+FOR\s+"
        )
    )
    while True:
        shadow = _shadow(sql)
        m = re.search(pattern, shadow, re.I)
        if not m:
            return sql
        if m.group(1) is None:  # NEXT VALUE FOR ident
            name, end = _parse_ident(sql, shadow, m.end())
            # H2 dumps qualify: NEXT VALUE FOR "PUBLIC"."seq" (or a
            # user schema); unqualified resolves in current schema
            name, end = _resolve_schema_qualifier(
                engine, sql, shadow, name, end, "NEXT VALUE FOR"
            )
            v = engine.sequences.nextval(name)[0]
        else:
            # the name lives inside a blanked literal on the shadow —
            # slice it from the ORIGINAL text
            name = _resolve_seq_string(engine, sql[m.start(2) : m.end(2)])
            end = m.end()
            fn = m.group(1).upper()
            v = (
                engine.sequences.nextval(name)[0]
                if fn == "NEXTVAL"
                else engine.sequences.currval(name)
            )
        sql = sql[: m.start()] + str(v) + sql[end:]


def _resolve_seq_string(engine, name: str) -> str:
    """Sequence-name resolution for the STRING-argument value
    functions (``NEXTVAL('s')`` / ``CURRVAL('s')``): a dotted
    spelling whose prefix is PUBLIC strips, a registered schema maps
    to the dotted registry key, and an unqualified name resolves in
    the session's current schema — H2's own resolution for these
    functions. An unknown dotted prefix passes through untouched so
    the registry raises its usual not-found (the name might
    legitimately contain a dot)."""
    if "." in name:
        sch, rest = name.split(".", 1)
        if sch.casefold() == "public":
            return rest
        if engine.schemas.exists(sch):
            return f"{sch.casefold()}.{rest}"
        return name
    cur = engine.current_schema
    return name if cur == "public" else f"{cur}.{name}"


#: NEXTVAL occurrences (both spellings) — used by the per-row INSERT
#: source rewrite. Group 2 is the quoted name for the NEXTVAL form;
#: the NEXT VALUE FOR form parses its identifier after the match.
_NEXTVAL_OCC_RE = re.compile(
    r"\bNEXTVAL\s*\(\s*'([^']*)'\s*\)|\bNEXT\s+VALUE\s+FOR\s+", re.I
)


def _rewrite_nextval_select(engine, source: str):
    """Per-row NEXTVAL over a table-driven INSERT source, H2-style.

    ``INSERT INTO t SELECT NEXTVAL('s'), x FROM u`` allocates one
    value per result row in H2. A distributed engine cannot stream
    per-row allocations through a driver-side counter, so the range
    is allocated ONCE, atomically (``Sequences.nextval(n)`` under the
    flock), and assigned to rows by a deterministic ``row_number()``:

    1. range-repartition the source's FROM-tail on ALL its columns
       and sort within partitions — partition-index order then
       concatenates to a global total order without any
       single-partition window — and assign row numbers through the
       shared partition-local-ordinal + broadcast-prefix-offset
       protocol (:func:`_prefix_rank_state`, which also
       ``localCheckpoint``\\ s so the count and the insert read the
       SAME snapshot);
    2. count rows, atomically allocate the full range per referenced
       sequence;
    3. replace each NEXTVAL occurrence in the projection with
       ``(base + (rn - 1) * inc)`` and re-project from a temp view
       over the checkpointed rows.

    The row→value pairing is deterministic (total order over all
    source columns; duplicate rows are interchangeable and may land
    on either side of a range-partition boundary, so the result
    MULTISET is still deterministic) — one of the unspecified-order
    assignments H2 itself may produce. Multiple occurrences of the
    SAME sequence in one row receive the same value (SQL-standard
    NEXT VALUE FOR semantics). The distributed range sort is the
    price of determinism — at any size it shuffles once and never
    funnels through one task (verdict r14 #3) — and the allocation
    itself is O(1) driver work regardless of row count.

    Supported source shape: a plain outer SELECT list over a FROM
    tail (WHERE/ORDER BY/LIMIT fine). WITH, DISTINCT, GROUP BY /
    HAVING, and set operators raise a clear unsupported error. A
    bare depth-0 ``*`` in the projection is expanded to the source's
    column list so the injected row-number column never leaks into
    the insert arity.

    Returns ``(new_source_sql, cleanup)`` — run ``cleanup()`` after
    the insert to drop the temp view."""
    import uuid

    from .sequences import SequenceError

    shadow = _shadow(source)
    m0 = re.match(r"\s*SELECT\b", shadow, re.I)
    if not m0 or re.match(r"\s*SELECT\s+DISTINCT\b", shadow, re.I):
        raise SequenceError(
            "NEXTVAL over a table-driven INSERT source is supported "
            "only for a plain SELECT list (no WITH / DISTINCT / "
            "parenthesized source)"
        )
    # depth-0 FROM splits projection from tail
    depth, from_pos = 0, None
    for mm in re.finditer(r"[()]|\bFROM\b", shadow, re.I):
        t = mm.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            from_pos = mm.start()
            break
    if from_pos is None:
        raise SequenceError(
            "NEXTVAL INSERT source: expected a depth-0 FROM"
        )
    proj, tail = source[m0.end() : from_pos], source[from_pos:]
    tshadow = shadow[from_pos:]
    depth = 0
    for mm in re.finditer(
        r"[()]|\bGROUP\s+BY\b|\bHAVING\b|\bUNION\b|\bINTERSECT\b"
        r"|\bEXCEPT\b|\bMINUS\b",
        tshadow,
        re.I,
    ):
        t = mm.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            raise SequenceError(
                f"NEXTVAL INSERT source: {t.upper().split()[0]} in the "
                "source is not supported with per-row allocation"
            )
    sfx = uuid.uuid4().hex[:8]
    rn_col = f"__seq_rn_{sfx}__"
    # _resolve_sql, not bare spark.sql: the source FROM may name an
    # engine-catalog LOGICAL table (physical names are fingerprint-
    # suffixed), exactly like the non-NEXTVAL INSERT path. Datasets
    # analyze eagerly, so the transient binding is baked into the
    # plan before _resolve_sql drops it.
    inner = _resolve_sql(engine, "SELECT * " + tail)
    src_cols = list(inner.columns)
    # deterministic total order WITHOUT a single-partition window
    # (verdict r14 #3): range-repartition on all source columns and
    # sort within partitions — ascending range partitioning makes
    # partition-index concatenation reproduce exactly the total order
    # Window.orderBy(<all columns>) produced — then assign global row
    # numbers via the shared prefix-offset protocol. The range
    # bounds' sampling pass only picks split points; whatever they
    # land on, the rank over the checkpointed rows is a correct total
    # order, so a nondeterministic source still reads ONE snapshot.
    order_cols = [F.col(f"`{c}`") for c in src_cols]
    inner_rn, n, _counts, rn_expr, _rank_of = _prefix_rank_state(
        engine,
        inner.repartitionByRange(*order_cols).sortWithinPartitions(
            *order_cols
        ),
        sfx,
        {},
    )
    inner_rn = inner_rn.withColumn(rn_col, rn_expr)
    # one formula per distinct sequence; same-row occurrences of the
    # same sequence share it (same rn -> same value)
    exprs: dict = {}

    def _expr_for(name: str) -> str:
        key = name.casefold()
        if key not in exprs:
            inc = engine.sequences.describe(name)["inc"]
            vals = engine.sequences.nextval(name, n) if n else []
            base = vals[0] if vals else 0
            # the formula is affine in the row number — a CYCLE wrap
            # inside the allocated range breaks that, so verify the
            # dispensed range really is arithmetic (O(1): endpoints
            # determine an arithmetic sequence given fixed step)
            if vals and vals[-1] != base + (n - 1) * inc:
                raise SequenceError(
                    f"sequence {name!r} CYCLEd inside this INSERT's "
                    f"{n}-row allocation — per-row NEXTVAL over a "
                    "table source needs a contiguous range; RESTART "
                    "the sequence or widen its bounds"
                )
            exprs[key] = f"({base} + (`{rn_col}` - 1) * ({inc}))"
        return exprs[key]

    while True:
        pshadow = _shadow(proj)
        mo = _NEXTVAL_OCC_RE.search(pshadow)
        if not mo:
            break
        if mo.group(1) is not None:  # NEXTVAL('name') — name in literal
            name = _resolve_seq_string(
                engine, proj[mo.start(1) : mo.end(1)]
            )
            end = mo.end()
        else:  # NEXT VALUE FOR ident
            name, end = _parse_ident(proj, pshadow, mo.end())
            name, end = _resolve_schema_qualifier(
                engine, proj, pshadow, name, end, "NEXT VALUE FOR"
            )
        proj = proj[: mo.start()] + _expr_for(name) + proj[end:]
    # expand a bare depth-0 `*` so the rn column never leaks
    star_expansion = ", ".join(f"`{c}`" for c in src_cols)
    out, depth = [], 0
    pshadow = _shadow(proj)
    for i, ch in enumerate(proj):
        if pshadow[i] == "(":
            depth += 1
        elif pshadow[i] == ")":
            depth -= 1
        if ch == "*" and depth == 0 and pshadow[i] == "*":
            prev = proj[:i].rstrip()
            if prev == "" or prev.endswith(","):
                out.append(star_expansion)
                continue
        out.append(ch)
    proj = "".join(out)
    view = f"__seq_src_{uuid.uuid4().hex[:8]}__"
    inner_rn.createOrReplaceTempView(view)

    def cleanup():
        engine.spark.catalog.dropTempView(view)

    return f"SELECT {proj} FROM {view}", cleanup


def _parse_sequence_options(tail: str):
    """Extract H2 1.4.200 sequence options from a DDL tail: START
    WITH n, INCREMENT BY n, MINVALUE n / NOMINVALUE / NO MINVALUE,
    MAXVALUE n / NOMAXVALUE / NO MAXVALUE, CYCLE / NOCYCLE / NO
    CYCLE, CACHE n / NOCACHE / NO CACHE. Returns (opts, consumed)
    where opts maps start/inc/min/max/cycle/cache to values (None =
    not spelled; the NO* spellings yield the explicit default), and
    consumed is the match list for :func:`_reject_sequence_tail`.
    ``\\bSTART`` cannot false-match inside RESTART (no word boundary
    after the E), so ALTER tails parse with the same function."""
    start = re.search(r"\bSTART\s+WITH\s+(-?\d+)", tail, re.I)
    inc = re.search(r"\bINCREMENT\s+BY\s+(-?\d+)", tail, re.I)
    minv = re.search(r"\bMINVALUE\s+(-?\d+)", tail, re.I)
    maxv = re.search(r"\bMAXVALUE\s+(-?\d+)", tail, re.I)
    nominv = re.search(r"\bNOMINVALUE\b|\bNO\s+MINVALUE\b", tail, re.I)
    nomaxv = re.search(r"\bNOMAXVALUE\b|\bNO\s+MAXVALUE\b", tail, re.I)
    nocyc = re.search(r"\bNOCYCLE\b|\bNO\s+CYCLE\b", tail, re.I)
    # blank the NOCYCLE span before looking for a bare CYCLE ("NO
    # CYCLE" contains the word CYCLE)
    scrub = tail
    if nocyc:
        scrub = tail[: nocyc.start()] + " " * (
            nocyc.end() - nocyc.start()
        ) + tail[nocyc.end() :]
    cyc = re.search(r"\bCYCLE\b", scrub, re.I)
    cache = re.search(r"\bCACHE\s+(\d+)", tail, re.I)
    nocache = re.search(r"\bNOCACHE\b|\bNO\s+CACHE\b", tail, re.I)
    opts = {
        "start": int(start.group(1)) if start else None,
        "inc": int(inc.group(1)) if inc else None,
        "min": int(minv.group(1)) if minv else None,
        "max": int(maxv.group(1)) if maxv else None,
        # tri-state: None = unspelled, True = CYCLE, False = NOCYCLE
        "cycle": True if cyc else (False if nocyc else None),
        "cache": int(cache.group(1)) if cache else None,
    }
    consumed = (start, inc, minv, maxv, nominv, nomaxv, nocyc, cyc, cache, nocache)
    return opts, consumed


def _reject_sequence_tail(tail: str, consumed, ddl: str) -> None:
    """Any DDL tail text not consumed by the supported-option
    regexes raises a loud unsupported error: silently ignoring an
    option the grammar might grow (BELONGS TO, AS <type>, ...) would
    be a silent semantic divergence."""
    residue = list(tail)
    for mo in consumed:
        if mo is not None:
            for i in range(mo.start(), mo.end()):
                residue[i] = " "
    from .sequences import SequenceError

    leftover = "".join(residue).replace(";", " ").strip()
    if leftover:
        raise SequenceError(
            f"{ddl}: unsupported sequence option(s): {leftover.split()[0]!r}"
            " (supported: START WITH n, INCREMENT BY n, RESTART [WITH n],"
            " MINVALUE/MAXVALUE n, NOMINVALUE/NOMAXVALUE, [NO]CYCLE,"
            " CACHE n, NOCACHE)"
        )


def _execute_verb(engine, statement: str, shadow: str, m):
    from .errors import NotAResource

    verb = m.group(1).upper()

    if verb == "UPDATE":
        table, assignments, cond = parse_update(engine, statement, shadow)
        _guard_view_target(engine, table, "UPDATE")
        return engine.update_where(_logical(engine, table), assignments, cond)

    if verb == "DELETE":
        table, cond = parse_delete(engine, statement, shadow)
        _guard_view_target(engine, table, "DELETE")
        return engine.delete_where(_logical(engine, table), cond)

    if verb == "INSERT":
        from .sequences import SequenceError

        table, cols, kind, source = parse_insert(engine, statement, shadow)
        _guard_view_target(engine, table, "INSERT")
        deferred_nextval = kind == "select" and _NEXTVAL_OCC_RE.search(
            _shadow(source)
        )
        try:
            logical = _logical(engine, table)
        except NotAResource:
            if deferred_nextval:
                raise SequenceError(
                    "NEXTVAL over a table-driven source targets a "
                    "session-managed table — supported only for "
                    "engine-catalog tables"
                )
            return engine.sql(statement)  # session-managed table
        target = engine.table(logical)
        names = cols if cols is not None else list(target.columns)
        cleanup = None
        if deferred_nextval:
            source, cleanup = _rewrite_nextval_select(engine, source)
        try:
            src = _conform_source(
                engine, target, names, kind, source, logical=logical
            )
            return engine.insert_rows(logical, src)
        finally:
            if cleanup is not None:
                cleanup()

    if verb == "CREATE":
        msch = re.match(
            r"\s*CREATE\s+SCHEMA\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?",
            shadow,
            re.I,
        )
        if msch:
            # H2 CREATE SCHEMA name [AUTHORIZATION owner] — a real
            # multi-schema dump's first non-preamble line (r13
            # verdict missing #3). AUTHORIZATION is accepted and
            # discarded (single-principal engine, the CREATE USER
            # no-op precedent).
            name, pos = _parse_ident(statement, shadow, msch.end())
            mauth = re.compile(r"\s*AUTHORIZATION\s+", re.I).match(
                shadow, pos
            )
            if mauth:
                _owner, pos = _parse_ident(statement, shadow, mauth.end())
            if statement[pos:].strip():
                raise ValueError(
                    "CREATE SCHEMA: unexpected trailing text "
                    f"{statement[pos:].strip()!r}"
                )
            engine.schemas.create(
                name, if_not_exists=msch.group("ine") is not None
            )
            engine._republish_info_schema()
            return None
        mrej = re.match(
            r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:FORCE\s+)?"
            r"(ALIAS|TRIGGER|DOMAIN|CONSTANT|AGGREGATE|LINKED\s+TABLE)\b",
            shadow,
            re.I,
        )
        if mrej:
            # documented reject taxonomy (r13 verdict missing #4): a
            # foreign dump carrying these H2 object kinds must name
            # WHAT it hit, not die in Spark's parser
            kind = re.sub(r"\s+", " ", mrej.group(1).upper())
            raise ValueError(
                f"CREATE {kind}: not supported — H2 {kind} objects "
                "have no analogue on this engine (user Java functions"
                "/triggers/domains/constants run inside the H2 JVM; "
                "here the query surface is Spark SQL). Remove the "
                f"statement from the dump, or re-express the {kind} "
                "with Spark-native constructs."
            )
        ms = re.match(
            r"\s*CREATE\s+SEQUENCE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?",
            shadow,
            re.I,
        )
        if ms:
            name, pos = _parse_ident(statement, shadow, ms.end())
            name, pos = _resolve_schema_qualifier(engine, 
                statement, shadow, name, pos, "CREATE SEQUENCE"
            )
            tail = shadow[pos:]
            # H2's own dumps flag identity-backing sequences
            # BELONGS_TO_TABLE (ScriptCommand output) — accepted on
            # CREATE only (H2's ALTER grammar has no such option) and
            # recorded so the restored sequence dies with its table
            mbt = re.search(r"\bBELONGS_TO_TABLE\b", tail, re.I)
            if mbt:
                tail = (
                    tail[: mbt.start()]
                    + " " * (mbt.end() - mbt.start())
                    + tail[mbt.end() :]
                )
            opts, consumed = _parse_sequence_options(tail)
            _reject_sequence_tail(tail, consumed, "CREATE SEQUENCE")
            engine.sequences.create(
                name,
                opts["start"],
                opts["inc"] if opts["inc"] is not None else 1,
                if_not_exists=ms.group("ine") is not None,
                min_value=opts["min"],
                max_value=opts["max"],
                cycle=bool(opts["cycle"]),
                cache=opts["cache"],
                belongs_to_table=mbt is not None,
            )
            engine._republish_info_schema()
            return None
        if re.match(
            r"\s*CREATE\s+(UNIQUE\s+|SPATIAL\s+|HASH\s+)*INDEX\b", shadow, re.I
        ):
            # H2 DDL scripts routinely create secondary indexes
            # (H2 grammar: CREATE [UNIQUE|SPATIAL|HASH] INDEX).
            # Parquet tables have none — data skipping comes from
            # parquet min/max stats, partition pruning, and (where
            # declared) bucketing — so for script compatibility this
            # is an accepted no-op, like DDL it returns None.
            return None
        mcache = re.match(
            r"\s*CREATE\s+(?:CACHED|MEMORY)\s+TABLE\s+"
            r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?",
            shadow,
            re.I,
        )
        if mcache:
            # H2's SCRIPT spells tables CREATE CACHED TABLE; this
            # form lands in the ENGINE catalog (empty table with the
            # declared schema) so a SCRIPT NODATA dump restores where
            # it came from (script_stmt module docstring)
            return _create_cached_table(
                engine, statement, shadow, mcache
            )
        mv = re.match(
            r"\s*CREATE\s+(?P<orr>OR\s+REPLACE\s+)?(?P<force>FORCE\s+)?"
            r"VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?",
            shadow,
            re.I,
        )
        if mv:
            # H2 CREATE [OR REPLACE] [FORCE] VIEW — first-class in
            # the engine registry (r11 verdict task 1: H2's own
            # SCRIPT spells views CREATE FORCE VIEW, and the bare
            # Spark fall-through parsed neither FORCE nor H2
            # identifier spellings, so view-bearing dumps failed)
            return _create_view(engine, statement, shadow, mv)
        mc = re.match(
            r"\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?", shadow, re.I
        )
        if not mc:
            return engine.sql(statement)  # CREATE DATABASE / FUNCTION ...
        table, pos = _parse_ident(statement, shadow, mc.end())
        if pos < len(shadow) and shadow[pos] == ".":
            # qualified CTAS targets resolve through the engine's
            # schema rules (PUBLIC strips, a registered schema maps
            # to the dotted logical name); any OTHER qualifier stays
            # Spark-native (CREATE TABLE db.t is legal Spark DDL)
            if table.casefold() == "public":
                table, pos = _parse_ident(statement, shadow, pos + 1)
            elif engine.schemas.exists(table):
                inner, pos = _parse_ident(statement, shadow, pos + 1)
                table = f"{table.casefold()}.{inner}"
        elif engine.current_schema != "public":
            # unqualified CTAS resolves in the session's current
            # schema, like every other engine-catalog target (r14)
            table = f"{engine.current_schema}.{table}"
        _guard_view_collision(engine, table, "CREATE TABLE")
        mas = re.compile(r"\s*AS\b", re.I).match(shadow, pos)
        if not mas:
            return engine.sql(statement)  # column-defs form: native DDL
        df = _resolve_sql(engine, statement[mas.end() :].strip())
        engine.create_table_as(
            table, df, if_not_exists=mc.group("ine") is not None
        )
        return None

    if verb == "DROP":
        if re.match(r"\s*DROP\s+ALL\s+OBJECTS\b", shadow, re.I):
            # H2's whole-database reset, scoped to the engine catalog
            # + sequence registry (session views are Spark-managed)
            engine.drop_all_objects()
            return None
        msch = re.match(
            r"\s*DROP\s+SCHEMA\s+(?P<ie>IF\s+EXISTS\s+)?", shadow, re.I
        )
        if msch:
            return _drop_schema(engine, statement, shadow, msch)
        mrej = re.match(
            r"\s*DROP\s+(ALIAS|TRIGGER|DOMAIN|CONSTANT|AGGREGATE)\b",
            shadow,
            re.I,
        )
        if mrej:
            kind = mrej.group(1).upper()
            raise ValueError(
                f"DROP {kind}: not supported — H2 {kind} objects "
                "have no analogue on this engine (see the CREATE "
                f"{kind} rejection), so there is nothing to drop."
            )
        md = re.match(
            r"\s*DROP\s+SEQUENCE\s+(?P<ie>IF\s+EXISTS\s+)?", shadow, re.I
        )
        if md:
            name, npos = _parse_ident(statement, shadow, md.end())
            name, _ = _resolve_schema_qualifier(engine, 
                statement, shadow, name, npos, "DROP SEQUENCE"
            )
            # a sequence a column's default/identity draws from is a
            # dependency: dropping it would break every later INSERT
            # and dump with a dangling binding — H2 refuses (the new
            # DROP COLUMN guard's rationale, review r13)
            owners = [
                f"{tkey}.{e['column']}"
                for tkey, tentry in engine.colmeta.all().items()
                for e in tentry.get("columns", {}).values()
                if (e.get("sequence") or "").casefold() == name.casefold()
            ]
            if owners:
                raise ValueError(
                    f"DROP SEQUENCE {name!r}: column(s) {owners} draw "
                    "their default from it — drop or re-default them "
                    "first (H2 refuses)"
                )
            engine.sequences.drop(name, if_exists=md.group("ie") is not None)
            engine._republish_info_schema()
            return None
        if re.match(r"\s*DROP\s+INDEX\b", shadow, re.I):
            return None  # pair of the CREATE INDEX no-op above
        mdv = re.match(
            r"\s*DROP\s+VIEW\s+(?P<ie>IF\s+EXISTS\s+)?", shadow, re.I
        )
        if mdv:
            return _drop_view(engine, statement, shadow, mdv)
        md = re.match(
            r"\s*DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?", shadow, re.I
        )
        if not md:
            return engine.sql(statement)  # DROP DATABASE / ...
        table, pos = _parse_ident(statement, shadow, md.end())
        table, pos = _resolve_schema_qualifier(engine, 
            statement, shadow, table, pos, "DROP TABLE"
        )
        if engine.views.get(table) is not None:
            # H2 parity: DROP TABLE on a view errors with the hint
            raise ValueError(
                f"DROP TABLE: {table!r} is a view — use DROP VIEW"
            )
        tail = shadow[pos:].strip()
        cascade = bool(re.fullmatch(r"CASCADE", tail, re.I))
        if tail and not cascade and not re.fullmatch(r"RESTRICT", tail, re.I):
            raise ValueError(
                f"DROP TABLE: unexpected trailing text {tail!r} "
                "(expected CASCADE or RESTRICT)"
            )
        try:
            logical = _logical(engine, table)
        except NotAResource:
            if md.group("ie") is not None:
                return None
            return engine.sql(statement)  # session-managed table or error
        # H2's RESTRICT default: a view depending on the table blocks
        # the drop; CASCADE drops the dependent views (recursively).
        # Same discipline for recorded inbound FOREIGN KEYs (H2
        # refuses to drop a referenced table; CASCADE drops the
        # referencing CONSTRAINTS — never the referencing tables)
        deps = engine.views.dependents_of(logical)
        inbound = engine.constraints.referencing(logical)
        if (deps or inbound) and not cascade:
            what = []
            if deps:
                what.append(f"view(s) {deps}")
            if inbound:
                what.append(
                    "FOREIGN KEY(s) "
                    + str(sorted(e["name"] for _, e in inbound))
                )
            raise ValueError(
                f"DROP TABLE: {' and '.join(what)} depend on "
                f"{logical!r} (H2 RESTRICT default) — use DROP "
                "TABLE ... CASCADE"
            )
        if cascade:
            _drop_dependent_views(engine, logical)
            for tkey, e in inbound:
                engine.constraints.drop(tkey, e["name"], if_exists=True)
        engine.drop_table_if_exists(logical)
        if deps or inbound:
            engine._republish_info_schema()
        return None

    if verb == "TRUNCATE":
        mt = re.match(r"\s*TRUNCATE\s+TABLE\s", shadow, re.I)
        if not mt:
            raise ValueError("TRUNCATE: expected TRUNCATE TABLE")
        table, tpos = _parse_ident(statement, shadow, mt.end())
        table, _ = _resolve_schema_qualifier(engine, 
            statement, shadow, table, tpos, "TRUNCATE"
        )
        _guard_view_target(engine, table, "TRUNCATE")
        try:
            logical = _logical(engine, table)
        except NotAResource:
            return engine.sql(statement)
        return engine.delete_where(logical, "true")

    if verb == "ALTER":
        msch = re.match(r"\s*ALTER\s+SCHEMA\s+", shadow, re.I)
        if msch:
            # H2 1.4.200: ALTER SCHEMA name RENAME TO newName — the
            # only ALTER SCHEMA form its grammar has (r14 verdict
            # missing #3: this used to fall through to a generic
            # Spark parse error instead of the statement surface)
            name, pos = _parse_ident(statement, shadow, msch.end())
            mrt = re.compile(r"\s*RENAME\s+TO\s+", re.I).match(shadow, pos)
            if not mrt:
                raise ValueError(
                    "ALTER SCHEMA: the only supported form is ALTER "
                    "SCHEMA name RENAME TO newName (H2 1.4.200 grammar)"
                )
            new, npos = _parse_ident(statement, shadow, mrt.end())
            if statement[npos:].strip():
                raise ValueError(
                    "ALTER SCHEMA ... RENAME TO: unexpected trailing "
                    f"text {statement[npos:].strip()!r}"
                )
            engine.rename_schema(name, new)
            return None
        msq = re.match(r"\s*ALTER\s+SEQUENCE\s", shadow, re.I)
        if msq:
            name, pos = _parse_ident(statement, shadow, msq.end())
            name, pos = _resolve_schema_qualifier(engine, 
                statement, shadow, name, pos, "ALTER SEQUENCE"
            )
            tail = shadow[pos:]
            restart = re.search(r"\bRESTART(?:\s+WITH\s+(-?\d+))?", tail, re.I)
            opts, consumed = _parse_sequence_options(tail)
            _reject_sequence_tail(
                tail, (restart, *consumed), "ALTER SEQUENCE"
            )
            if opts["start"] is not None:
                raise ValueError(
                    "ALTER SEQUENCE: use RESTART WITH n to move the "
                    "position (START WITH is CREATE-only grammar)"
                )
            if restart is None and all(
                opts[k] is None for k in ("inc", "min", "max", "cycle", "cache")
            ):
                raise ValueError(
                    "ALTER SEQUENCE: expected RESTART [WITH n], "
                    "INCREMENT BY n, MINVALUE/MAXVALUE, or [NO]CYCLE"
                )
            engine.sequences.alter(
                name,
                restart=restart is not None,
                with_=int(restart.group(1))
                if restart and restart.group(1)
                else None,
                increment=opts["inc"],
                min_value=opts["min"],
                max_value=opts["max"],
                cycle=opts["cycle"],
            )
            engine._republish_info_schema()
            return None
        mav = re.match(
            r"\s*ALTER\s+VIEW\s+", shadow, re.I
        )
        if mav:
            vname, vpos = _parse_ident(statement, shadow, mav.end())
            vname, vpos = _resolve_schema_qualifier(engine, 
                statement, shadow, vname, vpos, "ALTER VIEW"
            )
            if engine.views.get(vname) is not None:
                # H2's only ALTER VIEW form is RECOMPILE — naturally
                # a no-op here: registry views re-analyze per query
                if re.fullmatch(r"RECOMPILE", shadow[vpos:].strip(), re.I):
                    return None
                raise ValueError(
                    "ALTER VIEW: only RECOMPILE is supported "
                    "(H2 1.4.200 grammar)"
                )
            return engine.sql(statement)  # session-managed view
        ma = re.match(r"\s*ALTER\s+TABLE\s", shadow, re.I)
        if not ma:
            return engine.sql(statement)
        table, pos = _parse_ident(statement, shadow, ma.end())
        # H2 SCRIPT qualifies its ALTER lines (ALTER TABLE "S"."T"
        # ADD CONSTRAINT ...) — resolve through the schema rules
        table, pos = _resolve_schema_qualifier(
            engine, statement, shadow, table, pos, "ALTER TABLE"
        )
        _guard_view_target(engine, table, "ALTER TABLE")
        try:
            logical = _logical(engine, table)
        except NotAResource:
            return engine.sql(statement)  # session-managed table
        # ADD/DROP CONSTRAINT must match BEFORE the ADD/DROP COLUMN
        # forms (whose optional COLUMN keyword would otherwise parse
        # CONSTRAINT as a column name)
        mcadd = re.compile(
            r"\s*ADD\s+(?=CONSTRAINT\b|PRIMARY\s+KEY|UNIQUE\s*\("
            r"|CHECK\b|FOREIGN\b)",
            re.I,
        ).match(shadow, pos)
        if mcadd:
            seg = statement[mcadd.end() :].rstrip().rstrip(";")
            parsed = _parse_constraint_clause(engine, seg, _shadow(seg))
            assert parsed is not None  # lookahead guarantees a clause
            cname, ctype, cols, extra, nocheck = parsed
            if ctype == "CHECK":
                # accept-and-ENFORCE (r11 verdict task 2): H2 checks
                # the EXISTING rows when the constraint is added —
                # one bounded scan — then every DML write enforces
                # it. NOCHECK (what H2's own dumps spell) skips the
                # existing-row scan but never the analysis: an
                # unparseable predicate must still fail the DDL.
                pred = _h2_expr_to_spark(extra)
                engine.validate_check_predicate(
                    logical, pred, validate_rows=not nocheck
                )
                engine.constraints.add(
                    logical, "CHECK", [], cname, predicate=pred
                )
                engine._republish_info_schema()
                return None
            if ctype == "FOREIGN KEY":
                # accept-and-RECORD (r12 verdict task 1): the FK
                # lands in the registry + INFORMATION_SCHEMA
                # (REFERENTIAL / CROSS_REFERENCES) + SCRIPT dumps;
                # enforcement is documented as not provided
                # (constraints.py module docstring)
                res = resolve_columns(
                    cols,
                    engine.table(logical).columns,
                    "ALTER TABLE ADD FOREIGN KEY: column not found",
                )
                fk = _resolve_foreign_key(
                    engine, logical, [res[c] for c in cols], extra
                )
                engine.constraints.add(
                    logical,
                    "FOREIGN KEY",
                    [res[c] for c in cols],
                    cname,
                    foreign=fk,
                )
                engine._republish_info_schema()
                return None
            # record the table's ACTUAL column spellings, not the
            # statement's (case-insensitive resolution by design) —
            # the registry feeds COLUMN_LIST and SCRIPT dumps, where
            # a wrong-case quoted identifier names a different column
            res = resolve_columns(
                cols,
                engine.table(logical).columns,
                f"ALTER TABLE ADD {ctype}: column not found",
            )
            engine.constraints.add(
                logical, ctype, [res[c] for c in cols], cname
            )
            engine._republish_info_schema()
            return None
        mcdrop = re.compile(
            r"\s*DROP\s+CONSTRAINT\s+(?P<ie>IF\s+EXISTS\s+)?", re.I
        ).match(shadow, pos)
        if mcdrop:
            cname, p3 = _parse_ident(statement, shadow, mcdrop.end())
            if p3 < len(shadow) and shadow[p3] == ".":
                # H2 SCRIPT qualifies constraint names; mirror the
                # ADD path: PUBLIC or a registered schema strips (the
                # registry records constraint names bare, table-
                # scoped) — a wrong-schema DROP must error, not
                # silently drop the PUBLIC constraint (advisor r11)
                if cname.casefold() != "public" and not (
                    engine.schemas.exists(cname)
                ):
                    raise ValueError(
                        f"DROP CONSTRAINT: unknown schema {cname!r} — "
                        "CREATE SCHEMA it first (PUBLIC is built in)"
                    )
                cname, _ = _parse_ident(statement, shadow, p3 + 1)
            engine.constraints.drop(
                logical, cname, if_exists=mcdrop.group("ie") is not None
            )
            engine._republish_info_schema()
            return None
        malt = re.compile(r"\s*ALTER\s+COLUMN\s+", re.I).match(shadow, pos)
        if malt:
            col, p2 = _parse_ident(statement, shadow, malt.end())
            col = resolve_columns(
                [col],
                engine.table(logical).columns,
                "ALTER COLUMN: column not found",
            )[col]
            tail = statement[p2:].strip().rstrip(";")
            tsh = _shadow(tail)
            mrn = re.match(r"RENAME\s+TO\s+", tsh, re.I)
            if mrn:
                new, _ = _parse_ident(tail, tsh, mrn.end())
                engine.rename_column(logical, col, new)
                return None
            msd = re.match(r"SET\s+DEFAULT\s+", tsh, re.I)
            if msd:
                expr = tail[msd.end() :].strip()
                if not expr:
                    raise ValueError("ALTER COLUMN: empty SET DEFAULT")
                dseq = _default_sequence_name(
                    engine, expr, "ALTER COLUMN SET DEFAULT"
                )
                if dseq is not None:
                    # sequence-valued default: a binding, like the
                    # CREATE form — the sequence must already exist;
                    # a REPLACED BELONGS_TO_TABLE binding loses its
                    # owner and is reclaimed, but re-asserting the
                    # SAME binding must not drop the sequence out
                    # from under itself (review r13)
                    engine.sequences.describe(dseq)
                    cur = (
                        engine.colmeta.columns_of(logical)
                        .get(col.casefold(), {})
                        .get("sequence")
                    )
                    if cur is None or cur.casefold() != dseq.casefold():
                        engine.drop_identity_backing(logical, col)
                    engine.colmeta.update_column(
                        logical, col, sequence=dseq, default=None
                    )
                    engine._republish_info_schema()
                    return None
                spark_default = _h2_expr_to_spark(expr)
                try:
                    engine.spark.sql(f"SELECT {spark_default}").schema
                except Exception as e:
                    raise ValueError(
                        f"ALTER COLUMN SET DEFAULT: {expr!r} does not "
                        f"analyze as a constant expression: {e}"
                    ) from None
                engine.drop_identity_backing(logical, col)
                engine.colmeta.update_column(
                    logical, col, default=spark_default, sequence=None
                )
                engine._republish_info_schema()
                return None
            if re.match(r"DROP\s+DEFAULT\s*$", tsh, re.I):
                # H2: dropping the default of an identity column also
                # removes the identity behavior — clear the binding
                # and reclaim an owned BELONGS_TO_TABLE sequence
                engine.drop_identity_backing(logical, col)
                engine.colmeta.update_column(
                    logical,
                    col,
                    default=None,
                    sequence=None,
                    null_to_default=None,
                )
                engine._republish_info_schema()
                return None
            mnn = re.match(
                r"(SET\s+NOT\s+NULL|SET\s+NULL|DROP\s+NOT\s+NULL)\s*$",
                tsh,
                re.I,
            )
            if mnn:
                form = re.sub(r"\s+", " ", mnn.group(1).upper())
                engine.set_column_not_null(
                    logical, col, form == "SET NOT NULL"
                )
                engine._republish_info_schema()
                return None
            mrs = re.match(r"RESTART\s+WITH\s+(-?\d+)\s*$", tsh, re.I)
            if mrs:
                entry = engine.colmeta.columns_of(logical).get(
                    col.casefold(), {}
                )
                seq = entry.get("sequence")
                if not seq:
                    raise ValueError(
                        f"ALTER COLUMN RESTART: {col!r} is not an "
                        "identity column (no backing sequence)"
                    )
                engine.sequences.alter(
                    seq, restart=True, with_=int(mrs.group(1))
                )
                return None
            msl = re.match(r"SELECTIVITY\s+(\d+)\s*$", tsh, re.I)
            if msl:
                engine.colmeta.update_column(
                    logical, col, selectivity=int(msl.group(1))
                )
                return None
            mdt = re.match(r"SET\s+DATA\s+TYPE\s+", tsh, re.I)
            type_text = tail[mdt.end() :] if mdt else tail
            if not type_text.strip():
                raise ValueError(
                    "ALTER COLUMN: supported forms are RENAME TO, SET "
                    "DEFAULT, DROP DEFAULT, SET [NOT] NULL / DROP NOT "
                    "NULL, RESTART WITH n, SELECTIVITY n, [SET DATA "
                    "TYPE] type"
                )
            engine.cast_column_type(
                logical, col, _h2_type_to_spark(type_text)
            )
            return None
        madd = re.compile(r"\s*ADD\s+(COLUMN\s+)?", re.I).match(shadow, pos)
        if madd:
            col, pos2 = _parse_ident(statement, shadow, madd.end())
            tail = statement[pos2:].strip().rstrip(";")
            tail, copts = _parse_column_options(engine, 
                tail, "ALTER TABLE ADD COLUMN"
            )
            if (
                copts["auto_increment"] is not None
                or copts["sequence"] is not None
                or copts["null_to_default"]
                or (
                    copts["default"]
                    and _default_sequence_name(
                        engine, copts["default"], "ALTER TABLE ADD COLUMN"
                    )
                )
            ):
                raise ValueError(
                    "ALTER TABLE ADD COLUMN: identity/sequence-valued "
                    "defaults (and NULL_TO_DEFAULT/SEQUENCE bindings) "
                    "are supported only at CREATE TABLE — back-filling "
                    "existing rows from a sequence is not provided"
                )
            not_null = False
            mnn = re.search(r"\s+NOT\s+NULL\s*$", _shadow(tail), re.I)
            if mnn:
                not_null = True
                tail = tail[: mnn.start()].strip()
            spark_default = None
            if copts["default"] is not None:
                spark_default = _h2_expr_to_spark(copts["default"])
                try:
                    engine.spark.sql(f"SELECT {spark_default}").schema
                except Exception as e:
                    raise ValueError(
                        f"ALTER TABLE ADD COLUMN: DEFAULT "
                        f"{copts['default']!r} does not analyze as a "
                        f"constant expression: {e}"
                    ) from None
            engine.add_column(
                logical,
                col,
                _h2_type_to_spark(tail),
                default=spark_default,
                not_null=not_null,
                selectivity=copts["selectivity"],
                remarks=copts["remarks"],
            )
            return None
        mdrop = re.compile(r"\s*DROP\s+(COLUMN\s+)?", re.I).match(shadow, pos)
        if mdrop:
            col, _ = _parse_ident(statement, shadow, mdrop.end())
            engine.drop_column(logical, col)
            return None
        mren = re.compile(r"\s*RENAME\s+COLUMN\s+", re.I).match(shadow, pos)
        if mren:
            old, pos2 = _parse_ident(statement, shadow, mren.end())
            mto = re.compile(r"\s*TO\s+", re.I).match(shadow, pos2)
            if not mto:
                raise ValueError("ALTER: expected RENAME COLUMN ... TO ...")
            new, _ = _parse_ident(statement, shadow, mto.end())
            engine.rename_column(logical, old, new)
            return None
        mrt = re.compile(r"\s*RENAME\s+TO\s+", re.I).match(shadow, pos)
        if mrt:
            new, npos = _parse_ident(statement, shadow, mrt.end())
            # H2: RENAME keeps the table in ITS schema — an
            # unqualified target resolves against the source table's
            # schema, never the session's current one (r14)
            from .schemas import split_logical

            skey, _bare = split_logical(logical, engine.schemas.keys())
            if npos < len(shadow) and shadow[npos] == ".":
                new, npos = _resolve_schema_qualifier(
                    engine, statement, shadow, new, npos, "RENAME TO"
                )
                nskey, _nb = split_logical(new, engine.schemas.keys())
                if nskey != skey:
                    raise ValueError(
                        "ALTER TABLE ... RENAME TO: cannot move a "
                        "table between schemas (H2 renames within "
                        "the schema)"
                    )
            elif skey != "public":
                new = f"{skey}.{new}"
            engine.rename_table(logical, new)
            return None
        raise ValueError(
            "ALTER TABLE: supported forms are ADD [COLUMN], DROP [COLUMN], "
            "ADD/DROP CONSTRAINT, ALTER COLUMN ..., "
            "RENAME COLUMN ... TO ..., RENAME TO ..."
        )

    # MERGE: ANSI `MERGE ... USING` (H2 grammars both forms) is told
    # apart from the legacy `MERGE ... KEY` by its USING keyword
    if re.search(r"\bUSING\b", shadow, re.I):
        return _execute_merge_using(engine, statement, shadow)
    table, cols, key_cols, kind, source = parse_merge(engine, statement, shadow)
    _guard_view_target(engine, table, "MERGE")
    logical = _logical(engine, table)
    target = engine.table(logical)
    names = cols if cols is not None else list(target.columns)
    names_cf = {n.casefold() for n in names}
    missing = [k for k in key_cols if k.casefold() not in names_cf]
    if missing:
        raise ValueError(f"MERGE: KEY columns {missing} not in column list")
    key_cols = [
        resolve_columns([k], target.columns, "MERGE: KEY column not found")[k]
        for k in key_cols
    ]
    src = _conform_source(
        engine, target, names, kind, source, verb="MERGE", logical=logical
    )
    # the update count is the source's row count: a VALUES list's is
    # its spelled row count (no job); a SELECT source is counted
    if kind == "values":
        n = len(_split_top_level(source, _shadow(source), 0, len(source)))
    else:
        n = src.count()
    # columns the statement OMITTED that carry recorded defaults or
    # an identity binding: matched rows must keep the TARGET's value
    # (H2 never re-defaults an existing row through MERGE)
    meta = engine.colmeta.columns_of(logical)
    names_cf = {c.casefold() for c in names}
    preserve = [
        f.name
        for f in target.schema.fields
        if f.name.casefold() not in names_cf
        and (
            meta.get(f.name.casefold(), {}).get("sequence")
            or meta.get(f.name.casefold(), {}).get("default")
        )
    ]
    engine.merge_into(logical, src, key_cols, preserve_cols=preserve)
    return n


def _h2_expr_to_spark(expr: str) -> str:
    """Convert H2 double-quoted identifiers inside an expression to
    Spark backtick form (H2 strings are single-quoted, so every
    double-quoted segment IS an identifier; ``""`` escapes a quote,
    backtick doubles inside backticks). Single-quoted literals pass
    through untouched. The CHECK-predicate restore path: H2's own
    SCRIPT spells ``CHECK("X" > 0)`` and Spark's parser would read
    the double quotes as a string literal."""
    out, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if expr[j] == "'":
                    if j + 1 < n and expr[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(expr[i : j + 1])
            i = j + 1
        elif ch == '"':
            j = i + 1
            ident = []
            while j < n:
                if expr[j] == '"':
                    if j + 1 < n and expr[j + 1] == '"':
                        ident.append('"')
                        j += 2
                        continue
                    break
                ident.append(expr[j])
                j += 1
            out.append("`" + "".join(ident).replace("`", "``") + "`")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _h2_view_def_to_spark(definition: str) -> str:
    """An H2 view definition (the text after AS in ``CREATE [FORCE]
    VIEW``) -> the Spark dialect the registry stores: double-quoted
    identifiers become backticks (H2 strings are single-quoted, so
    this is unambiguous) and ``PUBLIC.`` schema qualifiers drop (the
    one schema we model; Spark would read it as a database name).
    Shadow-scanned, so PUBLIC inside a string literal is never
    touched."""
    definition = _h2_expr_to_spark(definition)
    # quoted form `PUBLIC`. — scan the TEXT but require the shadow to
    # carry the opening backtick at that position (inside a '...'
    # literal the backtick is blanked content, so it never matches)
    shadow = _shadow(definition)
    out, last = [], 0
    for m in re.finditer(r"`PUBLIC`\s*\.", definition, re.I):
        if shadow[m.start()] != "`":
            continue
        out.append(definition[last : m.start()])
        last = m.end()
    out.append(definition[last:])
    definition = "".join(out)
    # bare form PUBLIC. — keyword scan runs on the shadow directly
    shadow = _shadow(definition)
    out, last = [], 0
    for m in re.finditer(r"(?<![A-Za-z0-9_$.])PUBLIC\s*\.", shadow, re.I):
        out.append(definition[last : m.start()])
        last = m.end()
    out.append(definition[last:])
    return "".join(out)


#: Statement contexts whose name references an EXISTING table — H2
#: resolves these through Parser.readTableOrView, i.e. the schema
#: search path applies (r16). CREATE-side contexts and the
#: sequence/view DDL verbs are deliberately absent: creation targets
#: the current schema only, and sequence/view names resolve in their
#: own registries (strict current-schema — the documented scope).
_PATH_CTX = frozenset(
    {"UPDATE", "DELETE", "MERGE", "INSERT", "DROP TABLE", "TRUNCATE"}
)


def _resolve_schema_qualifier(engine, statement, shadow, name, pos, ctx):
    """H2 name resolution at the statement surface (r14 — multi-
    schema dumps): a QUALIFIED name resolves in its spelled schema —
    ``PUBLIC."T"`` strips to the bare logical name, a registered
    schema maps to the dotted logical name ``key.<name>`` (schemas.py
    module docstring) — and an UNQUALIFIED name resolves in the
    session's current schema (H2 ``SET SCHEMA``, default PUBLIC),
    then — for the table-referencing contexts in ``_PATH_CTX`` —
    through the SCHEMA_SEARCH_PATH in order (r16: H2 resolves DML
    targets through Parser.readTableOrView exactly like query
    relations, so reads and writes must agree — review r16; a
    current-schema VIEW still shadows a path table, so the view
    guards fire exactly as before). When nothing on the path
    matches, the strict current-schema mapping is returned so
    not-found error messages are unchanged. An unknown qualifier
    errors precisely, naming the fix (the one statement class a
    genuinely foreign multi-schema dump used to die on, r13
    verdict)."""
    if pos < len(shadow) and shadow[pos] == ".":
        sch = name
        name, pos = _parse_ident(statement, shadow, pos + 1)
        if sch.casefold() == "public":
            return name, pos
        if engine.schemas.exists(sch):
            return f"{sch.casefold()}.{name}", pos
        raise ValueError(
            f"{ctx}: unknown schema {sch!r} — CREATE SCHEMA it first "
            "(PUBLIC is built in; registered schemas list in "
            "INFORMATION_SCHEMA.SCHEMATA)"
        )
    cur = engine.current_schema
    if ctx in _PATH_CTX:
        catalog = engine.sink.catalog
        for skey in _resolution_order(engine):
            if skey == "public":
                # views are PUBLIC-only: a view claims its name in
                # its schema (H2 keeps views in the table namespace)
                # so the DML view guards judge it, not a path table
                if engine.views.get(name) is not None:
                    return name, pos
                if name in catalog:
                    return name, pos
            else:
                cand = f"{skey}.{name}"
                if cand in catalog:
                    return cand, pos
    if cur != "public":
        return f"{cur}.{name}", pos
    return name, pos


def _guard_view_collision(engine, name: str, ctx: str) -> None:
    """Creating a table over a registered view's name must error
    (H2: object name clash across tables and views in a schema)."""
    if engine.views.get(name) is not None:
        raise ValueError(
            f"{ctx}: a view named {name!r} already exists"
        )


def _guard_view_target(engine, name: str, verb: str) -> None:
    """DML against a view errors loudly (H2's updatable views are a
    narrow special case this engine does not model — and silently
    rewriting the underlying table would be worse than the error)."""
    if engine.views.get(name) is not None:
        raise ValueError(
            f"{verb}: {name!r} is a view — views are read-only here "
            "(H2 updatable-view rewriting is not modeled)"
        )


def _create_view(engine, statement: str, shadow: str, mv):
    """H2 ``CREATE [OR REPLACE] [FORCE] VIEW [IF NOT EXISTS]
    [PUBLIC.]name [(col, ...)] AS select`` — records the definition
    (converted to the Spark dialect) in the durable view registry.
    Without FORCE the definition must analyze NOW (H2 validates at
    create); FORCE records it unvalidated — H2's semantics for dump
    loading, where a view may precede a table it reads — and the
    first query through it raises if it still doesn't resolve."""
    from .views import ViewError

    name, pos = _parse_ident(statement, shadow, mv.end())
    name, pos = _resolve_schema_qualifier(engine, 
        statement, shadow, name, pos, "CREATE VIEW"
    )
    # the registry binds a view by createOrReplaceTempView(name),
    # which accepts exactly [A-Za-z0-9_]+ (probed: spaces, $, -, dots
    # and non-ASCII all raise 'Invalid view name'). An H2-legal
    # quoted name outside that set would CREATE fine but then fail
    # at EVERY query through it — a permanently unqueryable view
    # restored from a foreign dump (advisor r12) — so reject it NOW,
    # at the statement that can still be fixed
    from .schemas import split_logical

    vskey, _bare = split_logical(name, engine.schemas.keys())
    if vskey != "public":
        # documented reject (r14): the view registry binds names via
        # createOrReplaceTempView, which has no schema namespace —
        # a schema-qualified view could never be queried
        raise ViewError(
            f"CREATE VIEW: views are modeled in PUBLIC only — "
            f"{name!r} targets schema {vskey!r}. Create the view "
            "unqualified (or under SET SCHEMA PUBLIC)."
        )
    if not re.fullmatch(r"[A-Za-z0-9_]+", name):
        raise ViewError(
            f"CREATE VIEW: name {name!r} is not addressable at this "
            "engine's SQL surface (view names must match "
            "[A-Za-z0-9_]+ — Spark's temp-view binding rejects "
            "anything else, so the view could never be queried)"
        )
    columns = None
    mopen = re.compile(r"\s*\(", re.I).match(shadow, pos)
    if mopen:
        open_p = mopen.end() - 1
        close = _match_close(shadow, open_p)
        columns = [
            _parse_ident(s, _shadow(s), 0)[0]
            for s in _split_top_level(statement, shadow, open_p + 1, close)
        ]
        if len({c.casefold() for c in columns}) != len(columns):
            raise ValueError(
                f"CREATE VIEW {name!r}: duplicate column alias"
            )
        pos = close + 1
    mas = re.compile(r"\s*AS\b", re.I).match(shadow, pos)
    if not mas:
        raise ValueError("CREATE VIEW: expected AS <query>")
    definition = _h2_view_def_to_spark(statement[mas.end() :].strip())
    if not definition:
        raise ValueError("CREATE VIEW: empty definition")
    # name-clash with an engine-catalog TABLE (H2: one namespace per
    # schema) — OR REPLACE replaces a VIEW, never a table
    if any(
        str(k).casefold() == name.casefold() for k in engine.sink.catalog
    ):
        raise ValueError(
            f"CREATE VIEW: a table named {name!r} already exists"
        )
    force = mv.group("force") is not None
    entry = {"name": name, "definition": definition, "columns": columns}
    if not force:
        _materialize_view(engine, entry, frozenset())  # validate now
    else:
        # even FORCE must reject a SELF-cycle that can never resolve;
        # deeper cycles surface at first query (cycle-guarded there).
        # The match requires a RELATION position (FROM/JOIN) so a
        # mere column or alias sharing the view's name never
        # false-positives, and covers both the bare and the
        # backtick-quoted (H2-dump-converted) spellings (self-review
        # r12)
        sdef = _shadow(definition)
        bare = re.search(
            rf"\b(?:FROM|JOIN)\s+{re.escape(name)}(?![A-Za-z0-9_$])",
            sdef,
            re.I,
        )
        quoted = any(
            sdef[m.end()] == "`"
            for m in re.finditer(r"\b(?:FROM|JOIN)\s+(?=`)", sdef, re.I)
            if definition[
                m.end() : m.end() + len(name) + 2
            ].casefold()
            == f"`{name.casefold()}`"
        )
        if bare or quoted:
            raise ViewError(
                f"CREATE FORCE VIEW {name!r}: definition references "
                "itself"
            )
    engine.views.create(
        name,
        definition,
        columns=columns,
        force=force,
        or_replace=mv.group("orr") is not None,
        if_not_exists=mv.group("ine") is not None,
    )
    engine._republish_info_schema()
    return None


def _drop_schema(engine, statement: str, shadow: str, msch):
    """``DROP SCHEMA [IF EXISTS] name [RESTRICT | CASCADE]`` —
    RESTRICT (H2's default) refuses while the schema still contains
    objects; CASCADE drops the contained tables (each through the
    full table-drop path: constraints, colmeta, backing sequences)
    and then the schema's remaining user sequences — refusing, like
    DROP SEQUENCE, when a column OUTSIDE the schema still draws from
    one. PUBLIC is undroppable (H2). Dropping the session's current
    schema resets it to PUBLIC."""
    from .schemas import SchemaError

    name, pos = _parse_ident(statement, shadow, msch.end())
    tail = statement[pos:].strip()
    cascade = False
    if tail:
        if re.fullmatch(r"CASCADE", tail, re.I):
            cascade = True
        elif not re.fullmatch(r"RESTRICT", tail, re.I):
            raise ValueError(
                f"DROP SCHEMA: unexpected trailing text {tail!r} "
                "(expected RESTRICT or CASCADE)"
            )
    key = name.casefold()
    if key == "public" or not engine.schemas.exists(name):
        # registry owns the PUBLIC guard and IF EXISTS semantics
        engine.schemas.drop(name, if_exists=msch.group("ie") is not None)
        return None
    prefix = key + "."
    tables = [
        str(t)
        for t in engine.sink.catalog
        if str(t).casefold().startswith(prefix)
    ]
    seqs = [s for s in engine.sequences.names() if s.startswith(prefix)]
    if (tables or seqs) and not cascade:
        raise SchemaError(
            f"DROP SCHEMA {name!r}: schema is not empty "
            f"({len(tables)} table(s), {len(seqs)} sequence(s)) — "
            "use DROP SCHEMA ... CASCADE (H2 RESTRICT default)"
        )
    # ALL validation BEFORE any destruction (review r14): an
    # outside-schema column drawing from an in-schema sequence must
    # refuse while the schema is still intact, not after its tables
    # are gone
    all_meta = engine.colmeta.all()
    for s in seqs:
        owners = [
            f"{tkey}.{e['column']}"
            for tkey, tentry in all_meta.items()
            for e in tentry.get("columns", {}).values()
            if (e.get("sequence") or "").casefold() == s
            and not tkey.startswith(prefix)
        ]
        if owners:
            raise SchemaError(
                f"DROP SCHEMA {name!r} CASCADE: column(s) {owners} "
                f"outside the schema draw their default from "
                f"sequence {s!r} — drop or re-default them first "
                "(the DROP SEQUENCE rule)"
            )
    for t in tables:
        # the DROP TABLE ... CASCADE discipline per table (review
        # r14): dependent views drop instead of silently breaking,
        # and inbound FK records from outside the schema are
        # reclaimed instead of dangling in the registry
        _drop_dependent_views(engine, t)
        for tkey, e in engine.constraints.referencing(t):
            engine.constraints.drop(tkey, e["name"], if_exists=True)
        engine.drop_table_if_exists(t)
    for s in seqs:
        if engine.sequences.exists(s):
            # a user sequence no table drop reclaimed
            engine.sequences.drop(s, if_exists=True)
    engine.schemas.drop(name)
    if engine.current_schema == key:
        engine.current_schema = "public"
    engine._republish_info_schema()
    return None


def _drop_dependent_views(engine, relation: str, _seen=None) -> None:
    """CASCADE: drop every view that (transitively) references
    ``relation``. Bounded by registry size; cycle-safe."""
    seen = _seen if _seen is not None else set()
    for dep in engine.views.dependents_of(relation):
        if dep.casefold() in seen:
            continue
        seen.add(dep.casefold())
        _drop_dependent_views(engine, dep, seen)
        engine.views.drop(dep, if_exists=True)


def _drop_view(engine, statement: str, shadow: str, mdv):
    """H2 ``DROP VIEW [IF EXISTS] [PUBLIC.]name [RESTRICT|CASCADE]``.
    RESTRICT (the default) errors when other views read this one;
    CASCADE drops them too. A name not in the registry falls through
    to Spark (session temp views keep working)."""
    name, pos = _parse_ident(statement, shadow, mdv.end())
    name, pos = _resolve_schema_qualifier(engine, 
        statement, shadow, name, pos, "DROP VIEW"
    )
    tail = shadow[pos:].strip()
    cascade = bool(re.fullmatch(r"CASCADE", tail, re.I))
    if tail and not cascade and not re.fullmatch(r"RESTRICT", tail, re.I):
        raise ValueError(
            f"DROP VIEW: unexpected trailing text {tail!r} "
            "(expected CASCADE or RESTRICT)"
        )
    if engine.views.get(name) is None:
        # session-managed (Spark temp) views must still drop — the
        # registry miss cannot swallow the statement (self-review
        # r12). H2-spelled statements Spark cannot parse surface
        # their error unless IF EXISTS was given.
        try:
            return engine.sql(statement)
        except Exception:
            if mdv.group("ie") is not None:
                return None
            raise
    deps = engine.views.dependents_of(name)
    if deps and not cascade:
        raise ValueError(
            f"DROP VIEW: view(s) {deps} depend on {name!r} "
            "(H2 RESTRICT default) — use DROP VIEW ... CASCADE"
        )
    if cascade:
        _drop_dependent_views(engine, name)
    engine.views.drop(name)
    engine._republish_info_schema()
    return None


_FK_ACTIONS = ("CASCADE", "RESTRICT", "NO ACTION", "SET NULL",
               "SET DEFAULT")


def _parse_fk_tail(engine, seg: str, sshadow: str, pos: int):
    """``REFERENCES [PUBLIC.]rtable [(rcols)] [ON DELETE act]
    [ON UPDATE act]`` → (ref_table, rcols_or_None, update_rule,
    delete_rule, next_pos). Actions per H2 1.4.200 grammar."""
    mref = re.compile(r"\s*REFERENCES\s+", re.I).match(sshadow, pos)
    if not mref:
        raise ValueError(
            f"constraint clause {seg!r}: expected REFERENCES"
        )
    rtable, pos = _parse_ident(seg, sshadow, mref.end())
    rtable, pos = _resolve_schema_qualifier(engine, 
        seg, sshadow, rtable, pos, "FOREIGN KEY REFERENCES"
    )
    rcols = None
    mop = re.compile(r"\s*\(", re.I).match(sshadow, pos)
    if mop:
        open_p = mop.end() - 1
        close = _match_close(sshadow, open_p)
        rcols = [
            _parse_ident(s, _shadow(s), 0)[0]
            for s in _split_top_level(seg, sshadow, open_p + 1, close)
        ]
        pos = close + 1
    rules = {"DELETE": None, "UPDATE": None}
    while True:
        mon = re.compile(r"\s*ON\s+(DELETE|UPDATE)\s+", re.I).match(
            sshadow, pos
        )
        if not mon:
            break
        which = mon.group(1).upper()
        mact = re.compile(
            r"(CASCADE|RESTRICT|NO\s+ACTION|SET\s+NULL|SET\s+DEFAULT)\b",
            re.I,
        ).match(sshadow, mon.end())
        if not mact:
            raise ValueError(
                f"constraint clause {seg!r}: ON {which} expects one of "
                f"{_FK_ACTIONS}"
            )
        if rules[which] is not None:
            raise ValueError(
                f"constraint clause {seg!r}: duplicate ON {which}"
            )
        rules[which] = re.sub(r"\s+", " ", mact.group(1).upper())
        pos = mact.end()
    return rtable, rcols, rules["UPDATE"], rules["DELETE"], pos


def _resolve_foreign_key(
    engine,
    owner: str,
    cols: list,
    fk: dict,
    local_columns: list | None = None,
    local_pk: list | None = None,
) -> dict:
    """Resolve a parsed FOREIGN KEY clause against the catalog before
    it is recorded (H2 validates referential DDL even when the
    constraint is restored NOCHECK): the referenced table must exist
    (engine catalog, case-insensitive), the referenced columns must
    exist on it, an omitted column list defaults to its recorded
    PRIMARY KEY (H2's rule), and arity must match. ``local_columns``
    / ``local_pk`` serve CREATE TABLE's self-referencing FKs, where
    the owning table is not in the catalog yet. Returns the resolved
    dict (catalog spellings) for the registry."""
    rt = fk["ref_table"]
    if rt.casefold() == owner.casefold():
        ref_logical = owner
        if local_columns is not None:
            avail = list(local_columns)
            pk_cols = list(local_pk or [])
        else:
            avail = engine.table(owner).columns
            pk_cols = [
                c
                for e in engine.constraints.for_table(owner)
                if e["type"] == "PRIMARY KEY"
                for c in e["columns"]
            ]
    else:
        ref_logical = None
        for k in engine.sink.catalog:
            if str(k).casefold() == rt.casefold():
                ref_logical = str(k)
                break
        if ref_logical is None:
            raise ValueError(
                f"FOREIGN KEY: referenced table not found in the "
                f"engine catalog: {rt!r}"
            )
        avail = engine.table(ref_logical).columns
        pk_cols = [
            c
            for e in engine.constraints.for_table(ref_logical)
            if e["type"] == "PRIMARY KEY"
            for c in e["columns"]
        ]
    rcols = fk.get("ref_columns")
    if rcols is None:
        if not pk_cols:
            raise ValueError(
                f"FOREIGN KEY: referenced table {ref_logical!r} has "
                "no recorded PRIMARY KEY — name the referenced "
                "columns explicitly (H2 defaults to the PK)"
            )
        rcols_resolved = list(pk_cols)
    else:
        res = resolve_columns(
            rcols, avail, "FOREIGN KEY: referenced column not found"
        )
        rcols_resolved = [res[c] for c in rcols]
    if len(rcols_resolved) != len(cols):
        raise ValueError(
            f"FOREIGN KEY: {len(cols)} column(s) reference "
            f"{len(rcols_resolved)} column(s) — counts must match"
        )
    return {
        "ref_table": ref_logical,
        "ref_columns": rcols_resolved,
        "update_rule": fk.get("update_rule"),
        "delete_rule": fk.get("delete_rule"),
    }


def _strip_nocheck(seg: str, sshadow: str, pos: int) -> tuple[bool, str]:
    """Trailing ``[CHECK|NOCHECK]`` of an H2 constraint clause (its
    own SCRIPT spells every restored CHECK/FK constraint NOCHECK =
    skip validating existing rows). Returns (nocheck, leftover)."""
    tail = sshadow[pos:].strip()
    if re.fullmatch(r"NOCHECK", tail, re.I):
        return True, ""
    if re.fullmatch(r"CHECK", tail, re.I):
        return False, ""
    return False, tail


def _parse_constraint_clause(engine, seg: str, sshadow: str):
    """Parse one table-level constraint segment — ``[CONSTRAINT
    [PUBLIC.]name] { PRIMARY KEY|UNIQUE (col, ...) | CHECK (pred) |
    FOREIGN KEY (col, ...) REFERENCES rt [(rcols)] [ON DELETE|UPDATE
    act] } [CHECK|NOCHECK]`` → (name_or_None, type, [cols], extra,
    nocheck) where ``extra`` is the CHECK predicate string, the
    FOREIGN KEY dict (ref_table/ref_columns/update_rule/
    delete_rule — ref_columns None = referenced table's PK), or
    None. PK/UNIQUE/FOREIGN KEY are accept-and-record (FK since r13,
    r12 verdict task 1 — enforcement documented as not provided);
    CHECK is accept-and-ENFORCE on the engine's DML rewrite path.
    ``nocheck`` mirrors H2's trailing NOCHECK: skip validating
    EXISTING rows when the constraint is added (H2's own dumps spell
    every restored CHECK/FK constraint this way). Returns None when
    the segment is not a constraint clause at all."""
    if not re.match(
        r"(?:PRIMARY\s+KEY|CONSTRAINT|UNIQUE|FOREIGN|CHECK)\b",
        sshadow,
        re.I,
    ):
        return None
    name, pos = None, 0
    mcon = re.match(r"\s*CONSTRAINT\s+", sshadow, re.I)
    if mcon:
        name, pos = _parse_ident(seg, sshadow, mcon.end())
        if pos < len(sshadow) and sshadow[pos] == ".":
            # H2 SCRIPT qualifies: CONSTRAINT "APP"."CONSTRAINT_4D".
            # Constraint names are recorded BARE (the registry scopes
            # them by table, which already carries the schema), so a
            # PUBLIC or registered-schema qualifier strips; an
            # unknown one errors loudly (the DROP CONSTRAINT rule)
            if name.casefold() != "public" and not engine.schemas.exists(
                name
            ):
                raise ValueError(
                    f"CONSTRAINT: unknown schema {name!r} — "
                    "CREATE SCHEMA it first (PUBLIC is built in)"
                )
            name, pos = _parse_ident(seg, sshadow, pos + 1)
    mck = re.compile(r"\s*CHECK\s*\(", re.I).match(sshadow, pos)
    if mck:
        open_p = mck.end() - 1
        close = _match_close(sshadow, open_p)
        nocheck, leftover = _strip_nocheck(seg, sshadow, close + 1)
        if leftover:
            raise ValueError(
                f"constraint clause {seg!r}: unexpected trailing text "
                "after CHECK (...)"
            )
        pred = seg[open_p + 1 : close].strip()
        if not pred:
            raise ValueError(f"constraint clause {seg!r}: empty CHECK")
        return name, "CHECK", [], pred, nocheck
    mfk = re.compile(r"\s*FOREIGN\s+KEY\s*\(", re.I).match(sshadow, pos)
    if mfk:
        open_p = mfk.end() - 1
        close = _match_close(sshadow, open_p)
        cols = [
            _parse_ident(s, _shadow(s), 0)[0]
            for s in _split_top_level(seg, sshadow, open_p + 1, close)
        ]
        rtable, rcols, upd, dele, pos = _parse_fk_tail(
            engine, seg, sshadow, close + 1
        )
        nocheck, leftover = _strip_nocheck(seg, sshadow, pos)
        if leftover:
            raise ValueError(
                f"constraint clause {seg!r}: unexpected trailing "
                f"text {leftover!r}"
            )
        fk = {
            "ref_table": rtable,
            "ref_columns": rcols,
            "update_rule": upd,
            "delete_rule": dele,
        }
        return name, "FOREIGN KEY", cols, fk, nocheck
    # H2 grammar allows PRIMARY KEY [HASH] at table level too
    mk = re.compile(
        r"\s*(PRIMARY\s+KEY(?:\s+HASH)?|UNIQUE)\s*\(", re.I
    ).match(sshadow, pos)
    if not mk:
        raise ValueError(
            f"constraint clause {seg!r} is unsupported: PRIMARY KEY, "
            "UNIQUE and FOREIGN KEY are recorded, CHECK is recorded "
            "AND enforced on the DML path"
        )
    ctype = (
        "PRIMARY KEY"
        if mk.group(1).upper().startswith("PRIMARY")
        else "UNIQUE"
    )
    open_p = mk.end() - 1
    close = _match_close(sshadow, open_p)
    cols = [
        _parse_ident(s, _shadow(s), 0)[0]
        for s in _split_top_level(seg, sshadow, open_p + 1, close)
    ]
    # H2's ALTER grammar allows a trailing [CHECK|NOCHECK] on every
    # constraint form; for record-only PK/UNIQUE it is moot either way
    _, leftover = _strip_nocheck(seg, sshadow, close + 1)
    if leftover:
        raise ValueError(
            f"constraint clause {seg!r}: unexpected trailing text "
            f"{leftover!r}"
        )
    seen: set = set()
    for c in cols:
        if c.casefold() in seen:
            raise ValueError(
                f"constraint clause {seg!r}: column {c!r} listed twice"
            )
        seen.add(c.casefold())
    return name, ctype, cols, None, False


#: Keywords that terminate a bare (un-parenthesized) DEFAULT
#: expression inside a column definition — every option token H2's
#: column grammar admits after the default.
_COLOPT_BOUNDARY = frozenset(
    {
        "NOT",
        "NULL",
        "NULL_TO_DEFAULT",
        "SEQUENCE",
        "SELECTIVITY",
        "COMMENT",
        "AUTO_INCREMENT",
        "PRIMARY",
        "UNIQUE",
        "CHECK",
        "REFERENCES",
        "ON",
    }
)


def _take_string_literal(text: str, shadow: str, pos: int, ctx: str):
    """Parse a single-quoted literal starting at or after ``pos``
    (first non-space must be the quote); returns (value, end) with
    '' escapes resolved."""
    while pos < len(text) and text[pos].isspace():
        pos += 1
    if pos >= len(text) or text[pos] != "'":
        raise ValueError(f"{ctx}: expected a string literal")
    j = shadow.find("'", pos + 1)
    if j < 0:
        raise ValueError(f"{ctx}: unterminated string literal")
    return text[pos + 1 : j].replace("''", "'"), j + 1


def _search_depth0(shadow: str, pattern: str):
    """First match of ``pattern`` at paren depth 0 of ``shadow`` —
    an option keyword inside a still-unexcised ``CHECK (...)``
    predicate (or any other paren group) must not match."""
    rx = re.compile(f"[()]|{pattern}", re.I)
    depth, pos = 0, 0
    while True:
        m = rx.search(shadow, pos)
        if m is None:
            return None
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            return m
        pos = m.end()


def _parse_column_options(engine, text: str, ctx: str):
    """Excise the H2 column options the stored parquet schema cannot
    carry from one column definition's post-name text — ``DEFAULT
    expr`` / ``AUTO_INCREMENT[(start[, inc])]`` / ``NULL_TO_DEFAULT``
    / ``SEQUENCE seq`` / ``SELECTIVITY n`` / ``COMMENT 'txt'`` — in
    any order (a REAL H2 1.4.200 dump spells an identity column
    ``"ID" BIGINT DEFAULT (NEXT VALUE FOR "PUBLIC"."S") NOT NULL
    NULL_TO_DEFAULT SEQUENCE "PUBLIC"."S"`` and an ANALYZEd database
    adds ``SELECTIVITY n`` to every column). Returns ``(remaining,
    opts)`` where ``remaining`` still carries the classic trailing
    tokens (NOT NULL / PRIMARY KEY / UNIQUE / CHECK) for the
    existing strip loop, and ``opts`` maps default (H2-spelled
    expression text), auto_increment ((start, inc), values None when
    unspelled), null_to_default, sequence, selectivity, remarks.
    Every keyword search is depth-0 gated so an option word inside a
    CHECK predicate (``CHECK (selectivity > 0)`` over a column named
    selectivity) never false-matches."""
    opts = {
        "default": None,
        "auto_increment": None,
        "null_to_default": False,
        "sequence": None,
        "selectivity": None,
        "remarks": None,
    }
    # DEFAULT first: its expression may contain any token (it is
    # excised whole, so the later keyword searches never see it)
    shadow = _shadow(text)
    md = _search_depth0(shadow, r"\bDEFAULT\s")
    if md:
        j = md.end()
        while j < len(text) and text[j].isspace():
            j += 1
        if j >= len(text):
            raise ValueError(f"{ctx}: empty DEFAULT expression")
        if text[j] == "(":
            close = _match_close(shadow, j)
            opts["default"] = text[j : close + 1].strip()
            end = close + 1
        elif re.match(r"NULL\b", shadow[j:], re.I):
            # DEFAULT NULL: NULL is itself a boundary keyword, so it
            # is consumed specially (H2 records it verbatim)
            opts["default"] = "NULL"
            end = j + 4
        else:
            end = len(text)
            depth = 0
            for mt in re.finditer(
                r"[()]|[A-Za-z_][A-Za-z0-9_$]*", shadow[j:]
            ):
                tok = mt.group(0)
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif depth == 0 and tok.upper() in _COLOPT_BOUNDARY:
                    end = j + mt.start()
                    break
            opts["default"] = text[j:end].strip()
            if not opts["default"]:
                raise ValueError(f"{ctx}: empty DEFAULT expression")
        text = (text[: md.start()] + " " + text[end:]).strip()
        shadow = _shadow(text)
    ma = _search_depth0(shadow, r"\bAUTO_INCREMENT\b")
    if ma:
        end = ma.end()
        start_inc: tuple = (None, None)
        mp = re.match(r"\s*\(", shadow[end:])
        if mp:
            open_p = end + mp.end() - 1
            close = _match_close(shadow, open_p)
            args = [a.strip() for a in text[open_p + 1 : close].split(",")]
            if not 1 <= len(args) <= 2 or not all(
                re.fullmatch(r"-?\d+", a) for a in args
            ):
                raise ValueError(
                    f"{ctx}: AUTO_INCREMENT(start[, increment]) takes "
                    "one or two integer arguments"
                )
            start_inc = (
                int(args[0]),
                int(args[1]) if len(args) == 2 else None,
            )
            end = close + 1
        opts["auto_increment"] = start_inc
        text = (text[: ma.start()] + " " + text[end:]).strip()
        shadow = _shadow(text)
    mn = _search_depth0(shadow, r"\bNULL_TO_DEFAULT\b")
    if mn:
        opts["null_to_default"] = True
        text = (text[: mn.start()] + " " + text[mn.end() :]).strip()
        shadow = _shadow(text)
    msq = _search_depth0(shadow, r"\bSEQUENCE\s")
    if msq:
        name, end = _parse_ident(text, shadow, msq.end())
        name, end = _resolve_schema_qualifier(
            engine, text, shadow, name, end, f"{ctx}: SEQUENCE binding"
        )
        opts["sequence"] = name
        text = (text[: msq.start()] + " " + text[end:]).strip()
        shadow = _shadow(text)
    msel = _search_depth0(shadow, r"\bSELECTIVITY\s+(\d+)")
    if msel:
        opts["selectivity"] = int(msel.group(1))
        text = (text[: msel.start()] + " " + text[msel.end() :]).strip()
        shadow = _shadow(text)
    mc = _search_depth0(shadow, r"\bCOMMENT\s")
    if mc:
        val, end = _take_string_literal(
            text, shadow, mc.end(), f"{ctx}: COMMENT"
        )
        opts["remarks"] = val
        text = (text[: mc.start()] + " " + text[end:]).strip()
    return text, opts


def _default_sequence_name(engine, default: str, ctx: str):
    """When a DEFAULT expression is H2's identity spelling —
    ``(NEXT VALUE FOR seq)`` / ``NEXTVAL('seq')``, optionally
    schema-qualified — return the RESOLVED sequence name (dotted
    logical for a registered schema, current-schema-prefixed when
    unqualified — r14); ``None`` for any other (deterministic)
    expression."""
    mseq = re.match(
        r"(?is)^\(?\s*(?:NEXT\s+VALUE\s+FOR\s+(?P<i>.+?)"
        r"|NEXTVAL\s*\(\s*'(?P<l>[^']*)'\s*\))\s*\)?\s*$",
        default,
    )
    if not mseq:
        return None
    if mseq.group("l") is not None:
        return _resolve_seq_string(engine, mseq.group("l"))
    dshadow = _shadow(default)
    dseq, dpos = _parse_ident(default, dshadow, mseq.start("i"))
    dseq, _ = _resolve_schema_qualifier(
        engine, default, dshadow, dseq, dpos, f"{ctx}: DEFAULT sequence"
    )
    return dseq


def _create_cached_table(engine, statement: str, shadow: str, mcache):
    """H2 ``CREATE CACHED|MEMORY TABLE name(col type [NOT NULL]
    [PRIMARY KEY|UNIQUE], ..., [CONSTRAINT name] PRIMARY KEY|UNIQUE
    (cols), ...)`` → an EMPTY engine-catalog table with the declared
    schema (CACHED is H2's default table kind — its SCRIPT output
    spells every table this way, and restoring one must land back in
    the engine catalog, not Spark's session namespace like the plain
    column-defs form). PRIMARY KEY / UNIQUE / FOREIGN KEY — inline
    or table-level — are ACCEPTED AND RECORDED in the constraint
    registry (the CREATE INDEX no-op precedent; parquet tables have
    no enforced keys; FK since r13, r12 verdict task 1) and surfaced
    through INFORMATION_SCHEMA.CONSTRAINTS / CROSS_REFERENCES and
    SHOW COLUMNS' KEY column; CHECK is recorded AND enforced on the
    DML path. PK columns are declared NOT NULL like H2's — note
    Spark's file-based saveAsTable forces stored columns nullable,
    so the REGISTRY (which SCRIPT re-emits, spelling PK members NOT
    NULL) is the authoritative carrier of that intent, not the
    stored parquet schema."""
    from pyspark.sql import types as T

    table, pos = _parse_ident(statement, shadow, mcache.end())
    table, pos = _resolve_schema_qualifier(engine, 
        statement, shadow, table, pos, "CREATE CACHED TABLE"
    )
    open_p = shadow.find("(", pos)
    if open_p < 0:
        raise ValueError("CREATE CACHED TABLE: expected (column defs)")
    close = _match_close(shadow, open_p)
    fields = []
    cons: list[tuple] = []  # (name_or_None, type, [cols])
    col_opts: dict = {}  # spelled col -> _parse_column_options opts
    for seg in _split_top_level(statement, shadow, open_p + 1, close):
        seg = seg.strip()
        sshadow = _shadow(seg)
        parsed = _parse_constraint_clause(engine, seg, sshadow)
        if parsed is not None:
            # the table is brand-new and empty, so a trailing
            # NOCHECK (slot 5) has nothing to skip — record slots 1-4
            cons.append(parsed[:4])
            continue
        col, p2 = _parse_ident(seg, sshadow, 0)
        type_text = seg[p2:].strip()
        tshadow = _shadow(type_text)
        mref = re.search(r"\bREFERENCES\b", tshadow, re.I)
        if mref:
            # column-level referential clause (H2 grammar: ``col INT
            # [NOT NULL] REFERENCES rt [(rc)] [ON DELETE|UPDATE
            # act]``) — recorded exactly like the table-level form
            # (accept-and-record, r12 verdict task 1)
            rtable, rcols, upd, dele, rpos = _parse_fk_tail(
                engine, type_text, tshadow, mref.start()
            )
            cons.append(
                (
                    None,
                    "FOREIGN KEY",
                    [col],
                    {
                        "ref_table": rtable,
                        "ref_columns": rcols,
                        "update_rule": upd,
                        "delete_rule": dele,
                    },
                )
            )
            type_text = (
                type_text[: mref.start()] + type_text[rpos:]
            ).strip()
        # H2 column options parquet cannot carry (DEFAULT /
        # AUTO_INCREMENT / NULL_TO_DEFAULT / SEQUENCE / SELECTIVITY
        # / COMMENT) — excised before the classic trailing-token
        # strip so a dump-spelled identity column ("ID" BIGINT
        # DEFAULT (NEXT VALUE FOR "S") NOT NULL NULL_TO_DEFAULT
        # SEQUENCE "S") leaves NOT NULL trailing; recorded in the
        # column-metadata registry after the table lands
        type_text, copts = _parse_column_options(engine, 
            type_text, f"column def {seg!r}"
        )
        # H2 column grammar: type then NOT NULL and/or
        # UNIQUE | PRIMARY KEY [HASH] | CHECK (pred), in EITHER
        # order — strip trailing tokens until the bare type remains
        pk_col, uniq_col, not_null = False, False, False
        col_checks: list[str] = []
        while True:
            tshadow2 = _shadow(type_text)
            mcc = re.search(r"\bCHECK\s*\(", tshadow2, re.I)
            if mcc:
                open_p = mcc.end() - 1
                close = _match_close(tshadow2, open_p)
                one = type_text[open_p + 1 : close].strip()
                if not one:
                    raise ValueError(f"column def {seg!r}: empty CHECK")
                # a column may carry SEVERAL CHECK clauses (H2 accepts
                # and enforces each) — collect them all, never drop
                col_checks.append(one)
                type_text = (
                    type_text[: mcc.start()] + type_text[close + 1 :]
                ).strip()
                continue
            mck = re.search(
                r"\s+(PRIMARY\s+KEY(?:\s+HASH)?|UNIQUE|NOT\s+NULL)\s*$",
                tshadow2,
                re.I,
            )
            if not mck:
                break
            tok = mck.group(1).upper()
            if tok.startswith("PRIMARY"):
                pk_col = True
            elif tok.startswith("UNIQUE"):
                uniq_col = True
            else:
                not_null = True
            type_text = type_text[: mck.start()].strip()
        # identity TYPES: H2 1.4.200's IDENTITY[(start[, inc])] is
        # BIGINT auto-increment PRIMARY KEY; SERIAL / BIGSERIAL are
        # the auto-increment INT / BIGINT compat spellings (no PK)
        mid = re.fullmatch(
            r"(?is)\s*(IDENTITY|SERIAL|BIGSERIAL)\s*"
            r"(\(\s*(-?\d+)\s*(?:,\s*(-?\d+)\s*)?\))?\s*;?\s*",
            type_text,
        )
        if mid:
            kind = mid.group(1).upper()
            if copts["auto_increment"] is None:
                copts["auto_increment"] = (
                    int(mid.group(3)) if mid.group(3) else None,
                    int(mid.group(4)) if mid.group(4) else None,
                )
            type_text = "INT" if kind == "SERIAL" else "BIGINT"
            if kind == "IDENTITY":
                pk_col = True
        if copts["auto_increment"] is not None:
            # an identity column is NOT NULL and converts explicit
            # NULLs to its next sequence value, H2's NULL_TO_DEFAULT
            not_null = True
            copts["null_to_default"] = True
        if pk_col:
            cons.append((None, "PRIMARY KEY", [col], None))
        if uniq_col:
            cons.append((None, "UNIQUE", [col], None))
        for one in col_checks:
            # a column-level CHECK is recorded exactly like H2's
            # table-level form (H2 itself hoists them in SCRIPT)
            cons.append((None, "CHECK", [], one))
        if not_null or pk_col:
            copts["not_null"] = True
        # `is not None`, not truthiness: SELECTIVITY 0 and COMMENT ''
        # are recordable values (review r13)
        if (
            copts["auto_increment"] is not None
            or copts["default"] is not None
            or copts["sequence"] is not None
            or copts["selectivity"] is not None
            or copts["remarks"] is not None
            or copts["null_to_default"]
            or copts.get("not_null")
        ):
            col_opts[col] = copts
        nullable = not not_null and not pk_col  # H2: PK implies NOT NULL
        sp = _h2_type_to_spark(type_text)
        # a DataFrame can't carry char/varchar without
        # spark.sql.preserveCharVarcharTypeInfo, and parquet doesn't
        # store the length anyway — string is the faithful carrier
        sp = re.sub(r"^(?:var)?char\(\d+\)$", "string", sp, flags=re.I)
        fields.append(
            T.StructField(col, T._parse_datatype_string(sp), nullable)
        )
    # IF NOT EXISTS with the table present skips the WHOLE statement
    # BEFORE any state-dependent validation — schema-wide constraint
    # names, FK targets, DEFAULT sequences (H2 parses but never
    # validates a statement it skips: a replayed script whose other
    # objects were since dropped must still no-op, review r13)
    if mcache.group("ine") is not None and any(
        k.casefold() == table.casefold() for k in engine.sink.catalog
    ):
        return None
    declared = {f.name.casefold() for f in fields}
    # validate the WHOLE constraint set BEFORE creating the table —
    # H2 rejects the statement atomically, and recording after
    # create_table_as would otherwise leave a half-constrained table
    # behind a failed statement (advisor r11)
    if sum(1 for _, ctype, *_ in cons if ctype == "PRIMARY KEY") > 1:
        raise ValueError(
            "CREATE CACHED TABLE: more than one PRIMARY KEY declared"
        )
    names_seen: set = set()
    # schema-wide duplicate detection must run BEFORE the table is
    # created — add_many would catch it too, but only AFTER
    # create_table_as, leaving the failed statement's table behind
    # unconstrained (self-review r12; a concurrent-writer race can
    # still slip past this pre-check, and add_many remains the
    # locked authority)
    taken_schema = {
        e["name"].casefold()
        for es in engine.constraints.all().values()
        for e in es
    }
    for cname, *_ in cons:
        if cname is None:
            continue
        if cname.casefold() in names_seen or cname.casefold() in taken_schema:
            raise ValueError(
                f"CREATE CACHED TABLE: duplicate constraint name {cname!r}"
                " (names are schema-scoped, H2 parity)"
            )
        names_seen.add(cname.casefold())
    for _, ctype, cols, _pred in cons:
        missing = [c for c in cols if c.casefold() not in declared]
        if missing:
            raise ValueError(
                f"CREATE CACHED TABLE: {ctype} references undeclared "
                f"column(s) {missing}"
            )
    # CHECK predicates: convert H2 double-quoted identifiers to the
    # Spark expression dialect the enforcement filter evaluates, and
    # validate each analyzes against the declared schema NOW — an
    # unparseable predicate must fail the CREATE, not the first
    # INSERT months later (statement atomicity: nothing written yet)
    cons = [
        (
            cname,
            ctype,
            cols,
            _h2_expr_to_spark(extra) if ctype == "CHECK" else extra,
        )
        for cname, ctype, cols, extra in cons
    ]
    # FOREIGN KEYs resolve against the catalog (or, self-referencing,
    # against the declared columns + declared PK) BEFORE the table is
    # created — atomic rejection like every other constraint error
    local_pk = [
        c
        for _, ctype, cols, _x in cons
        if ctype == "PRIMARY KEY"
        for c in cols
    ]
    declared_spelled = [f.name for f in fields]
    cons = [
        (
            cname,
            ctype,
            cols,
            _resolve_foreign_key(
                engine,
                table,
                cols,
                extra,
                local_columns=declared_spelled,
                local_pk=local_pk,
            )
            if ctype == "FOREIGN KEY"
            else extra,
        )
        for cname, ctype, cols, extra in cons
    ]
    # a table-level PK also forces NOT NULL on its columns (H2)
    pk_cols = {
        c.casefold()
        for _, ctype, cols, _pred in cons
        if ctype == "PRIMARY KEY"
        for c in cols
    }
    fields = [
        T.StructField(f.name, f.dataType, False)
        if f.name.casefold() in pk_cols
        else f
        for f in fields
    ]
    # column-metadata semantics resolve and VALIDATE before the table
    # exists (atomic rejection, like the constraint set): a
    # dump-spelled identity default ``(NEXT VALUE FOR "S")`` becomes
    # a sequence BINDING (the dump's CREATE SEQUENCE line precedes
    # the table, so it must already exist); a deterministic default
    # must analyze as a constant expression NOW, not on the first
    # INSERT months later
    col_meta: dict = {}  # spelled col -> colmeta registry fields
    identity_new: list = []  # (col, start, inc) — sequences to create
    for col, o in col_opts.items():
        entry: dict = {}
        default = o["default"]
        seq = o["sequence"]
        if default is not None:
            dseq = _default_sequence_name(engine, default, "CREATE CACHED TABLE")
            if dseq is not None:
                if seq is not None and seq.casefold() != dseq.casefold():
                    raise ValueError(
                        f"CREATE CACHED TABLE: column {col!r} DEFAULT "
                        f"sequence {dseq!r} conflicts with its SEQUENCE "
                        f"binding {seq!r}"
                    )
                seq = dseq
                default = None
            else:
                spark_default = _h2_expr_to_spark(default)
                try:
                    engine.spark.sql(f"SELECT {spark_default}").schema
                except Exception as e:
                    raise ValueError(
                        f"CREATE CACHED TABLE: DEFAULT {default!r} on "
                        f"column {col!r} does not analyze as a constant "
                        f"expression: {e}"
                    ) from None
                entry["default"] = spark_default
        if seq is not None:
            engine.sequences.describe(seq)  # loud when absent
            entry["sequence"] = seq
        elif o["auto_increment"] is not None:
            start, inc = o["auto_increment"]
            # `is None`, not falsy: AUTO_INCREMENT(0) starts at 0.
            # An explicit increment of 0 is rejected HERE (statement
            # atomicity: the backing sequence is only created after
            # the table lands, too late for its own loud rejection)
            if inc == 0:
                raise ValueError(
                    f"CREATE CACHED TABLE: column {col!r} "
                    "AUTO_INCREMENT increment must not be 0"
                )
            identity_new.append(
                (
                    col,
                    1 if start is None else start,
                    1 if inc is None else inc,
                )
            )
        if o["null_to_default"]:
            entry["null_to_default"] = True
        if o.get("not_null"):
            entry["not_null"] = True
        if o["selectivity"] is not None:
            entry["selectivity"] = o["selectivity"]
        if o["remarks"] is not None:
            entry["remarks"] = o["remarks"]
        if entry:
            col_meta[col] = entry
    # a TABLE-level PK also carries NOT NULL intent into the
    # registry (the enforcement reader; pk_cols already unions the
    # column-level spellings)
    for f in fields:
        if f.name.casefold() in pk_cols and not col_meta.get(
            f.name, {}
        ).get("not_null"):
            col_meta.setdefault(f.name, {})["not_null"] = True
    ine = mcache.group("ine") is not None
    df = engine.spark.createDataFrame([], T.StructType(fields))
    for _, ctype, _cols, pred in cons:
        if ctype == "CHECK":
            try:
                df.where(F.expr(pred)).schema  # analysis only
            except Exception as e:
                raise ValueError(
                    f"CREATE CACHED TABLE: CHECK predicate {pred!r} "
                    f"does not analyze against the declared columns: {e}"
                ) from None
    engine.create_table_as(table, df, if_not_exists=ine)
    # AUTO_INCREMENT / IDENTITY backing sequences: H2-looking
    # SYSTEM_SEQUENCE names, marked BELONGS_TO_TABLE (dropped with
    # the table, and SCRIPT re-emits the flag like H2's own dumps)
    taken = {n.casefold() for n in engine.sequences.names()}
    from .schemas import split_logical

    skey, bare_table = split_logical(table, engine.schemas.keys())
    # the backing sequence lives in the TABLE's schema (H2 creates
    # it there; dumps then qualify both names consistently)
    seq_prefix = "" if skey == "public" else f"{skey}."
    for col, start, inc in identity_new:
        base = re.sub(r"[^A-Za-z0-9_]", "_", f"{bare_table}_{col}").upper()
        seq_name = f"{seq_prefix}SYSTEM_SEQUENCE_{base}"
        k = 2
        while seq_name.casefold() in taken:
            seq_name = f"{seq_prefix}SYSTEM_SEQUENCE_{base}_{k}"
            k += 1
        taken.add(seq_name.casefold())
        engine.sequences.create(
            seq_name, start, inc, belongs_to_table=True
        )
        col_meta.setdefault(col, {})["sequence"] = seq_name
    # ONE locked registry write for the whole constraint set: a
    # crash after create_table_as can no longer leave a restored
    # table silently missing part of its declared metadata — the
    # window shrinks to a single atomic os.replace (advisor r11);
    # the column-metadata set lands the same way (one locked write)
    engine.constraints.add_many(table, cons)
    engine.colmeta.update_columns(table, col_meta)
    if cons or col_meta:
        engine._republish_info_schema()
    return None


def _h2_type_to_spark(type_text: str) -> str:
    """Map an H2 column-type token (ALTER TABLE ADD) to a Spark SQL
    type string — the same name set the sink accepts (types.py),
    rendered for ``Column.cast``. Parenthesized precision carries
    through (DECIMAL(p,s), VARCHAR(n))."""
    t = type_text.strip().rstrip(";").upper()
    t = re.sub(r"\s+", " ", t)
    base = t.split("(", 1)[0].strip()
    aliases = {
        "VARCHAR": "string" if "(" not in t else None,
        "CHAR": "string" if "(" not in t else None,
        "CLOB": "string",
        "TEXT": "string",
        "INT": "int",
        "INTEGER": "int",
        "INT4": "int",
        "BIGINT": "bigint",
        "INT8": "bigint",
        "SMALLINT": "smallint",
        "TINYINT": "tinyint",
        "DOUBLE": "double",
        "DOUBLE PRECISION": "double",
        "FLOAT": "double",
        "REAL": "float",
        "BOOLEAN": "boolean",
        "BOOL": "boolean",
        "DATE": "date",
        # H2 1.4.200's TIMESTAMP is WITHOUT time zone (wall-clock) —
        # the faithful Spark carrier is timestamp_ntz, exactly the
        # sink's LOCAL_DATE_TIME mapping (types.py); the WITH TIME
        # ZONE form is the instant type
        "TIMESTAMP": "timestamp_ntz",
        "TIMESTAMP WITH TIME ZONE": "timestamp",
        "TIMESTAMP WITHOUT TIME ZONE": "timestamp_ntz",
        "DATETIME": "timestamp_ntz",
        "TIME": "string",  # Spark has no TIME type; string carrier (types.py)
        "BINARY": "binary",
        "VARBINARY": "binary",
        "BLOB": "binary",
    }
    mapped = aliases.get(t) or aliases.get(base)
    if mapped:
        return mapped
    return t.lower()  # DECIMAL(p,s), VARCHAR(n), ... — Spark-parsable


def _resolution_order(engine) -> list:
    """H2's unqualified-name lookup order (Parser.readTableOrView,
    1.4.200): the session's CURRENT schema first, then each ``SET
    SCHEMA_SEARCH_PATH`` entry in order — first match wins. A path
    entry naming no registered schema is skipped at lookup time (so
    a client may set its path before creating the schemas), and the
    empty path degenerates to H2's default strict current-schema
    resolution (r16)."""
    order = [engine.current_schema]
    for p in getattr(engine, "schema_search_path", ()):  # empty pre-r16
        if p not in order and (p == "public" or engine.schemas.exists(p)):
            order.append(p)
    return order


def _logical(engine, name: str) -> str:
    """Resolve a statement's table name: logical names take priority,
    then schema resolution (a qualified spelling normalizes its
    schema part to the registry key; an unqualified one resolves in
    the session's current schema, then the SCHEMA_SEARCH_PATH in
    order — r14/r16), then physical (what a wire client sees in
    SHOW TABLES)."""
    catalog = engine.sink.catalog
    if "." in name:
        if name in catalog:
            return name
        sch, rest = name.split(".", 1)
        skey = sch.casefold()
        cand = f"{skey}.{rest}"
        if cand != name and cand in catalog and engine.schemas.exists(sch):
            return cand
        if skey == "public" and rest in catalog:
            return rest
    else:
        # H2: an unqualified name resolves in the current schema,
        # then the search path in order — and NEVER falls back to a
        # same-spelled PUBLIC table unless PUBLIC is current or on
        # the path (review r14: reads and writes must agree)
        for skey in _resolution_order(engine):
            cand = name if skey == "public" else f"{skey}.{name}"
            if cand in catalog:
                return cand
    for logical, physical in catalog.items():
        if name == physical or name.lower() == physical:
            return logical
    from .errors import NotAResource

    raise NotAResource(name)


#: Pre-bind token scanners (r14 task 3): cost per statement is
#: O(statement length), independent of catalog size.
_IDENT_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_BACKTICK_TOKEN_RE = re.compile(r"`((?:[^`]|``)+)`")
_QUALIFIED_TOKEN_RE = re.compile(
    r'([A-Za-z_][A-Za-z0-9_]*|"(?:[^"]|"")+"|`(?:[^`]|``)+`)'
    r"\s*\.\s*"
    r'([A-Za-z_][A-Za-z0-9_]*|"(?:[^"]|"")+"|`(?:[^`]|``)+`)'
)


def _unquote_token(tok: str) -> str:
    if tok.startswith('"'):
        return tok[1:-1].replace('""', '"')
    if tok.startswith("`"):
        return tok[1:-1].replace("``", "`")
    return tok


def _prebind_index(engine):
    """Memoized catalog index for the pre-bind scan, rebuilt only
    when the catalog key set (or the session's current schema)
    changes — the per-statement cost is one hash of the key set, not
    one regex scan + tableExists RPC per catalog entry (r13 verdict
    wrong #3). Returns ``(bare_idx, dotted_idx, dotted_schemas)``:

    * ``bare_idx``: casefolded addressable spelling -> (bind name,
      logical) — a bare spelling binds to the FIRST schema in the
      session's resolution order (current schema, then the
      SCHEMA_SEARCH_PATH entries — r16) that has it, so a
      current-schema entry still WINS a collision with a
      same-spelled PUBLIC or path-schema name (H2's
      Parser.readTableOrView order);
    * ``dotted_idx``: (schema key, casefolded bare) -> dotted logical
      for the qualified-mention scan;
    * ``dotted_schemas``: the schema keys with at least one entry.
    """
    keys = engine.sink.catalog
    order = _resolution_order(engine)
    gen = (
        len(keys),
        hash(frozenset(map(str, keys))),
        tuple(order),
    )
    cached = getattr(engine, "_prebind_idx", None)
    if cached is not None and cached[0] == gen:
        return cached[1]
    from .schemas import split_logical

    known = engine.schemas.keys()
    rank = {s: i for i, s in enumerate(order)}
    best: dict = {}  # casefolded bare -> (rank, bind name, logical)

    def claim(skey: str, bind: str, logical: str) -> None:
        r = rank.get(skey)
        if r is None:
            return  # schema not in the resolution order: never bare
        prev = best.get(bind.casefold())
        if prev is None or r < prev[0]:
            best[bind.casefold()] = (r, bind, logical)

    dotted_idx: dict = {}
    addressable = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    for k in keys:
        ks = str(k)
        if "." in ks:
            skey, b = split_logical(ks, known)
            if skey != "public":
                dotted_idx[(skey, b.casefold())] = ks
                if addressable.fullmatch(b):
                    claim(skey, b, ks)
                continue
        if addressable.fullmatch(ks):
            # PUBLIC bare names bind only when PUBLIC is current or
            # on the search path; under SET SCHEMA <other> with no
            # path they must be spelled PUBLIC.name (review r14 —
            # the read path previously fell back to PUBLIC while
            # the write path errored)
            claim("public", ks, ks)
    bare_idx = {c: (bind, lg) for c, (_r, bind, lg) in best.items()}
    idx = (bare_idx, dotted_idx, frozenset(s for s, _b in dotted_idx))
    engine._prebind_idx = (gen, idx)
    return idx


def _bind_qualified(engine, logical: str) -> str:
    """Bind a schema-qualified catalog table for NATIVE Spark
    resolution (``SELECT * FROM app.t``): temp views have no schema
    namespace, so the binding is a session-catalog DATABASE named
    after the schema key plus a view over the physical parquet
    table. Returns the qualified identifier to DROP VIEW afterwards
    (same bind-then-drop discipline as the temp views — nothing
    lingers to shadow later session objects)."""
    from .idents import hygienic_ident
    from .schemas import split_logical

    skey, bare = split_logical(logical, engine.schemas.keys())
    physical = engine.sink.catalog[logical]
    engine._ensure_registered(str(physical))
    engine.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{skey}`")
    qid = f"`{skey}`.`{bare.replace('`', '``')}`"
    # a resolvable qualified name is NEVER shadowed (the bare
    # pre-bind rule, review r14): a user's own session object under
    # the same database.name wins — and must not be REPLACEd and
    # then dropped by the finally block
    if engine.spark.catalog.tableExists(bare, skey):
        raise ValueError(f"{qid} already resolves — never shadowed")
    engine.spark.sql(
        f"CREATE OR REPLACE VIEW {qid} AS "
        f"SELECT * FROM default.{hygienic_ident(str(physical))}"
    )
    return qid


# --- Quantified comparison subqueries (ALL / ANY / SOME) -------------------
#
# H2 1.4.200 grammars ANSI quantified comparisons (``x > ALL
# (subquery)``); Spark 4.x's parser does not. The statement surface
# closes the gap with a text-level rewrite into constructs Spark DOES
# plan, preserving ANSI three-valued logic exactly:
#
#   =  ANY  -> lhs IN (S)            (ANSI-identical by definition)
#   <> ALL  -> lhs NOT IN (S)        (ANSI-identical by definition)
#   ordered op + ALL/ANY -> CASE over uncorrelated COUNT/MIN/MAX
#       scalar subqueries (FALSE dominates NULL for ALL, TRUE
#       dominates NULL for ANY; empty S -> TRUE for ALL / FALSE for
#       ANY; any NULL in S or a NULL lhs degrades the residual
#       verdict to NULL)
#   =  ALL / <> ANY -> CASE over a correlated counting subquery
#       (outer refs only in the WHERE predicate — the one correlated
#       shape Spark supports here)
#
# The subquery is spliced verbatim into each aggregate probe, so it
# is PLANNED (and, uncached, executed) up to three times — the
# documented cost of grammar parity; S is user-sized in practice
# (quantified predicates compare against small extracts). The lhs
# operand accepted is what H2 statements actually contain: an
# identifier chain (quoting allowed), a literal, a function call, or
# any parenthesized expression — an unparenthesized arithmetic lhs
# must be parenthesized by the caller (documented limit).

_QUANT_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ALL|ANY|SOME)\s*\(", re.I
)

_ORDERED_ALL = {">": ("<=", "MAX"), ">=": ("<", "MAX"),
                "<": (">=", "MIN"), "<=": (">", "MIN")}
_ORDERED_ANY = {">": (">", "MIN"), ">=": (">=", "MIN"),
                "<": ("<", "MAX"), "<=": ("<=", "MAX")}


#: Tokens that terminate the leftward operand scan — an identifier
#: equal to one of these is the clause context, never an operand.
_LHS_STOP_WORDS = frozenset({
    "select", "from", "where", "and", "or", "not", "on", "when",
    "then", "else", "case", "end", "by", "having", "in", "like",
    "between", "as", "join", "union", "all", "distinct", "exists",
})

#: Binary arithmetic/concat operators that BIND TIGHTER than a
#: comparison — the quantified predicate's left operand extends
#: through them (``a % 100 > ALL (s)`` compares a % 100, not 100).
_LHS_ARITH = ("||", "+", "-", "*", "/", "%")


def _one_operand(sql: str, shadow: str, j: int) -> int:
    """Start index of the single operand ending (exclusive) at j."""
    i = j
    if sql[i - 1] == ")":  # (expr) or f(args): balance on the shadow
        depth = 0
        while i > 0:
            i -= 1
            if shadow[i] == ")":
                depth += 1
            elif shadow[i] == "(":
                depth -= 1
                if depth == 0:
                    break
        if depth != 0:
            raise ValueError("quantified comparison: unbalanced left operand")
        m = re.search(r"[A-Za-z_][\w$]*\s*\Z", sql[:i])
        if m:  # function call: include the name
            i = m.start()
        return i
    while i > 0:
        c = sql[i - 1]
        if c.isalnum() or c in "_$.":
            i -= 1
        elif c in "`\"":  # quoted identifier segment: jump to opener
            k = i - 2
            while k >= 0 and sql[k] != c:
                k -= 1
            if k < 0:
                raise ValueError("quantified comparison: unbalanced quote")
            i = k
        else:
            break
    if i == j:
        raise ValueError("quantified comparison: missing left operand")
    return i


def _lhs_span(sql: str, shadow: str, end: int) -> int:
    """Start index of the comparison's left operand ending
    (exclusive) at ``end``: an operand (identifier chain / literal /
    quoted ident / function call / parenthesized expression),
    extended leftward through binary arithmetic/concat operators —
    which bind tighter than the comparison — so ``a % 100 > ALL (s)``
    rewrites a % 100, not 100. The extension stops (reverting the
    operator) when the next token leftward is a clause keyword, so a
    leading sign after WHERE/AND never swallows the keyword."""
    j = end
    while j > 0 and sql[j - 1].isspace():
        j -= 1
    if j == 0:
        raise ValueError("quantified comparison: missing left operand")
    i = _one_operand(sql, shadow, j)
    while True:
        k = i
        while k > 0 and sql[k - 1].isspace():
            k -= 1
        op = next(
            (o for o in _LHS_ARITH if shadow[: k].endswith(o)), None
        )
        if op is None:
            break
        k2 = k - len(op)
        while k2 > 0 and sql[k2 - 1].isspace():
            k2 -= 1
        if k2 == 0:
            break
        try:
            prev = _one_operand(sql, shadow, k2)
        except ValueError:
            prev = None  # nothing operand-like to the left
        if prev is None or sql[prev:k2].strip().lower() in _LHS_STOP_WORDS:
            # the token left of the sign is clause context (WHERE,
            # AND, a comma, a paren): a +/- here is UNARY and belongs
            # to the operand; any other operator reverts
            if op in ("+", "-"):
                i = k - len(op)
            break
        i = prev
    return i


def rewrite_quantified(sql: str) -> str:
    """Rewrite every quantified comparison predicate in ``sql`` (see
    module comment). Returns the statement unchanged when none are
    present. Rewrites repeatedly (leftmost first) so multiple
    predicates — including ones duplicated into spliced probes —
    all resolve; the pass cap only guards pathological nesting."""
    for _ in range(64):
        shadow = _shadow(sql)
        # Only a parenthesized QUERY is a quantified predicate; H2's
        # array form (x = ANY(array_col)) and Spark's any()/some()
        # boolean aggregates appearing after a comparison must pass
        # through untouched — splicing them into SELECT COUNT(*)
        # probes would fail with a misleading downstream parse error.
        pos, m = 0, None
        while True:
            cand = _QUANT_RE.search(shadow, pos)
            if cand is None:
                break
            body = shadow[cand.end():].lstrip(" \t\r\n(")
            # every query form both grammars admit as a subquery
            # body: SELECT, WITH, VALUES, and TABLE t (Spark plans
            # `FROM (TABLE t)` — verified — so the splice works
            # unchanged). This set is exhaustive for H2/Spark, so a
            # skipped group is genuinely the array/aggregate form.
            if re.match(r"(SELECT|WITH|VALUES|TABLE)\b", body, re.I):
                m = cand
                break
            pos = cand.end()
        if m is None:
            return sql
        op = "<>" if m.group(1) == "!=" else m.group(1)
        quant = m.group(2).upper()
        quant = "ANY" if quant == "SOME" else quant
        # subquery span: balance from the '(' the match ends on
        open_p = m.end() - 1
        depth, close_p = 0, None
        for k in range(open_p, len(shadow)):
            if shadow[k] == "(":
                depth += 1
            elif shadow[k] == ")":
                depth -= 1
                if depth == 0:
                    close_p = k
                    break
        if close_p is None:
            raise ValueError("quantified comparison: unbalanced subquery")
        # innermost-first: resolve quantified predicates INSIDE the
        # subquery before it is spliced into several probes (outer-
        # first would duplicate them per probe and inflate the pass
        # budget exponentially with nesting depth)
        sub = rewrite_quantified(sql[open_p + 1 : close_p])
        lhs_start = _lhs_span(sql, shadow, m.start())
        lhs = f"({sql[lhs_start:m.start()].strip()})"

        # NOTE: = ANY / <> ALL are NOT rewritten to IN / NOT IN —
        # Spark's IN-subquery is null-faithful only in filter
        # position; in a projection it renders the ANSI NULL verdict
        # as FALSE (found by the rewrite truth-table test). The
        # counting CASE below is position-independent.
        cnt = f"(SELECT COUNT(*) FROM ({sub}) AS __qs(__qc))"
        nulls = (
            f"(SELECT COUNT(*) - COUNT(__qc) FROM ({sub}) AS __qs(__qc))"
        )
        null_b = "CAST(NULL AS BOOLEAN)"
        if op in _ORDERED_ALL and quant == "ALL":
            fop, agg = _ORDERED_ALL[op]
            probe = f"(SELECT {agg}(__qc) FROM ({sub}) AS __qs(__qc))"
            repl = (
                f"(CASE WHEN {cnt} = 0 THEN TRUE"
                f" WHEN {lhs} {fop} {probe} THEN FALSE"
                f" WHEN {nulls} > 0 OR {lhs} IS NULL THEN {null_b}"
                f" ELSE TRUE END)"
            )
        elif op in _ORDERED_ANY and quant == "ANY":
            top, agg = _ORDERED_ANY[op]
            probe = f"(SELECT {agg}(__qc) FROM ({sub}) AS __qs(__qc))"
            repl = (
                f"(CASE WHEN {cnt} = 0 THEN FALSE"
                f" WHEN {lhs} {top} {probe} THEN TRUE"
                f" WHEN {nulls} > 0 OR {lhs} IS NULL THEN {null_b}"
                f" ELSE FALSE END)"
            )
        elif op in ("=", "<>"):
            # counting probes: rows provably satisfying (eq) /
            # violating (neq) the comparison; NULL rows of S and
            # a NULL lhs match neither and land in the residual
            hitop = "=" if (op == "=") == (quant == "ANY") else "<>"
            hits = (
                f"(SELECT COUNT(*) FROM ({sub}) AS __qs(__qc)"
                f" WHERE __qc {hitop} {lhs})"
            )
            # ANY: a hit proves TRUE, residual default FALSE;
            # ALL: a hit (violation) proves FALSE, default TRUE
            proven = "TRUE" if quant == "ANY" else "FALSE"
            default = "FALSE" if quant == "ANY" else "TRUE"
            repl = (
                f"(CASE WHEN {cnt} = 0 THEN {default}"
                f" WHEN {hits} > 0 THEN {proven}"
                f" WHEN {nulls} > 0 OR {lhs} IS NULL THEN {null_b}"
                f" ELSE {default} END)"
            )
        else:  # pragma: no cover — regex admits only the above
            raise ValueError(f"quantified comparison: {op} {quant}")
        sql = sql[:lhs_start] + repl + sql[close_p + 1 :]
    raise ValueError("quantified comparison: rewrite did not converge")


# --- H2-dialect statement grammar Spark cannot parse -----------------------

#: Cheap pre-filter run on the shadow so the common (ANSI) path pays
#: one regex scan, like _QUANT_RE.
_H2_DIALECT_RE = re.compile(
    r"\bSELECT\s+TOP\s+\d|\bCASEWHEN\s*\("
    r"|\b(?:DATEADD|TIMESTAMPADD|DATEDIFF|TIMESTAMPDIFF)\s*\(",
    re.I,
)

#: H2's STRINGDECODE(literal) — its own SCRIPT wraps any string
#: carrying control characters / backslashes / non-ASCII in this
#: (StringUtils.javaEncode), so a real dump whose VARCHARs hold a
#: newline is unrestorable without it.
_STRINGDECODE_RE = re.compile(r"\bSTRINGDECODE\s*\(", re.I)

_JAVA_ESCAPES = {
    "b": "\b", "t": "\t", "n": "\n", "f": "\f", "r": "\r",
    '"': '"', "'": "'", "\\": "\\",
}


def _java_decode(s: str, ctx: str) -> str:
    """Java-style unescape, H2's ``StringUtils.javaDecode`` rules:
    ``\\b \\t \\n \\f \\r \\" \\' \\\\`` and ``\\uXXXX``; anything
    else after a backslash is a format error (loud, like H2's)."""
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError(f"{ctx}: dangling backslash in {s!r}")
        e = s[i + 1]
        if e in _JAVA_ESCAPES:
            out.append(_JAVA_ESCAPES[e])
            i += 2
        elif e in ("u", "U"):
            hexpart = s[i + 2 : i + 6]
            if len(hexpart) != 4:
                raise ValueError(f"{ctx}: truncated \\u escape in {s!r}")
            try:
                out.append(chr(int(hexpart, 16)))
            except ValueError:
                raise ValueError(
                    f"{ctx}: bad \\u escape {hexpart!r} in {s!r}"
                ) from None
            i += 6
        else:
            raise ValueError(
                f"{ctx}: unsupported escape \\{e} (H2 javaDecode "
                "grammar: \\b \\t \\n \\f \\r \\\" \\' \\\\ \\uXXXX)"
            )
    return "".join(out)


def rewrite_stringdecode(sql: str) -> str:
    """Replace each ``STRINGDECODE('...')`` call whose argument is a
    single string LITERAL — the only form H2's SCRIPT emits — with
    the decoded value as a plain literal (backslashes and quotes
    re-escaped for Spark's default backslash-escaping parser;
    control characters embed raw, which SQL literals allow). A
    non-literal argument errors loudly: decoding a column would need
    a row-level UDF, and nothing on the H2-dump path produces that
    form. Scanned on the shadow, so STRINGDECODE inside a string
    literal or quoted identifier never rewrites."""
    while True:
        shadow = _shadow(sql)
        m = _STRINGDECODE_RE.search(shadow)
        if m is None:
            return sql
        open_p = shadow.find("(", m.start())
        close = _match_close(shadow, open_p)
        inner = sql[open_p + 1 : close].strip()
        inner_shadow = shadow[open_p + 1 : close].strip()
        if not (
            len(inner) >= 2
            and inner_shadow.startswith("'")
            and inner_shadow.endswith("'")
            and set(inner_shadow[1:-1]) <= {" "}
        ):
            raise ValueError(
                f"STRINGDECODE: only the single-string-literal form "
                f"H2 dumps emit is supported, got {inner[:60]!r}"
            )
        raw = inner[1:-1].replace("''", "'")
        decoded = _java_decode(raw, "STRINGDECODE")
        lit = (
            "'"
            + decoded.replace("\\", "\\\\").replace("'", "''")
            + "'"
        )
        sql = sql[: m.start()] + lit + sql[close + 1 :]

#: H2 datetime-unit spellings → Spark unit keywords. H2 1.4.200
#: accepts both long names and short forms (grammar `datetimeField`);
#: DAYOFYEAR-family units normalize to DAY (adding N day-of-years IS
#: adding N days, and a day-of-year boundary IS a day boundary).
_H2_UNIT_MAP = {
    "YEAR": "YEAR", "YYYY": "YEAR", "YY": "YEAR",
    "QUARTER": "QUARTER", "Q": "QUARTER",
    "MONTH": "MONTH", "MM": "MONTH", "M": "MONTH",
    "WEEK": "WEEK", "WW": "WEEK", "WK": "WEEK",
    "DAY": "DAY", "DD": "DAY", "D": "DAY",
    "DAYOFYEAR": "DAY", "DOY": "DAY", "DY": "DAY",
    "HOUR": "HOUR", "HH": "HOUR",
    "MINUTE": "MINUTE", "MI": "MINUTE", "N": "MINUTE",
    "SECOND": "SECOND", "SS": "SECOND", "S": "SECOND",
    "MILLISECOND": "MILLISECOND", "MS": "MILLISECOND",
    "MICROSECOND": "MICROSECOND", "MCS": "MICROSECOND",
}


def _h2_unit(arg: str):
    """Canonical Spark unit for an H2 datetime-unit argument (quoted
    or bare), or None if the argument is not a recognized unit."""
    a = arg.strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
        a = a[1:-1]
    return _H2_UNIT_MAP.get(a.strip().upper())


def _match_close(shadow: str, open_pos: int) -> int:
    """Index of the ')' matching the '(' at ``open_pos`` (shadow
    scan, so parens in literals never miscount)."""
    depth = 0
    for i in range(open_pos, len(shadow)):
        if shadow[i] == "(":
            depth += 1
        elif shadow[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses")


def rewrite_h2_dialect(sql: str) -> str:
    """Rewrite H2-1.4.200-only SELECT grammar an H2 client may emit
    through the reference's PG/TCP socket (H2Server.scala:60-84) into
    ANSI Spark parses, scanned on the shadow so quoted identifiers
    and string literals are never touched:

    * ``SELECT TOP n ...`` (H2 grammar: TOP before DISTINCT) becomes
      ``SELECT ... LIMIT n`` at that SELECT's scope end (end of
      statement or the parenthesis enclosing the subquery) — H2's
      TOP is its LIMIT applied after ORDER BY, which is exactly
      where the appended LIMIT lands. Nested TOPs rewrite leftmost-
      first; each pass removes one, so the loop terminates.
    * ``CASEWHEN(cond, a, b)`` becomes ``IF(cond, a, b)`` — an exact
      alias (both return the else-branch for a NULL condition).

    * ``DATEADD('DAY', n, ts)`` / short units (``DD``): the quoted-
      string unit is H2-only grammar; rewritten to
      ``TIMESTAMPADD(DAY, n, ts)`` (identical add-N-units semantics).
    * ``DATEDIFF(unit, a, b)`` (3-arg, quoted OR bare unit): H2
      counts crossed unit BOUNDARIES (SQL-Server style) while
      Spark's ``timestampdiff`` counts complete elapsed units —
      rewritten to ``TIMESTAMPDIFF(unit, DATE_TRUNC(unit, a),
      DATE_TRUNC(unit, b))``, where complete-units-between-
      boundaries equals boundary crossings. Spark's own 2-arg
      ``datediff(end, start)`` is untouched. NOTE the asymmetry,
      deliberate on this H2-compat surface: 3-arg ``DATEDIFF`` is
      H2 grammar whether the unit is quoted or bare (an H2 client
      writes ``DATEDIFF(DAY, a, b)`` unquoted and expects boundary
      counting, so bare-unit 3-arg DATEDIFF gets H2 semantics here,
      NOT Spark's complete-elapsed-unit ``timestampdiff`` alias),
      while ``TIMESTAMPDIFF`` — a Spark-native spelling H2 1.4.200
      does not document — is rewritten only in its QUOTED-unit form,
      so bare ``TIMESTAMPDIFF(unit, a, b)`` text keeps Spark
      semantics.

    H2's other conveniences need no rewrite and are pinned by tests
    instead: IFNULL/NVL/NVL2 are native Spark, Spark's
    ``decode(expr, search, result, ...)`` already carries the
    H2/Oracle semantics including NULL-matches-NULL, and the spelled
    function aliases (BITAND, ISO_WEEK, TRUNCATE, ...) are
    session-registered SQL-defined functions (``h2_functions.py``)."""
    # CASEWHEN -> IF (word-boundary match, only when called)
    while True:
        shadow = _shadow(sql)
        m = re.search(r"\bCASEWHEN\b(?=\s*\()", shadow, re.I)
        if not m:
            break
        sql = sql[: m.start()] + "IF" + sql[m.end() :]
    # DATEADD / TIMESTAMPADD: quoted or short-form units -> bare
    # canonical (same semantics both engines)
    pos = 0
    while True:
        shadow = _shadow(sql)
        m = re.compile(r"\b(DATEADD|TIMESTAMPADD)\b(?=\s*\()", re.I).search(
            shadow, pos
        )
        if not m:
            break
        open_p = shadow.index("(", m.end())
        close = _match_close(shadow, open_p)
        args = _split_top_level(sql, shadow, open_p + 1, close)
        unit = _h2_unit(args[0]) if len(args) == 3 else None
        if unit is None or args[0].strip().upper() == unit:
            pos = m.end()  # not ours / already canonical bare
            continue
        sql = (
            sql[: m.start()]
            + f"TIMESTAMPADD({unit}, {args[1].strip()}, {args[2].strip()})"
            + sql[close + 1 :]
        )
    # DATEDIFF (3-arg) / quoted-unit TIMESTAMPDIFF: H2 boundary
    # semantics via DATE_TRUNC on both operands
    pos = 0
    while True:
        shadow = _shadow(sql)
        m = re.compile(r"\b(DATEDIFF|TIMESTAMPDIFF)\b(?=\s*\()", re.I).search(
            shadow, pos
        )
        if not m:
            break
        fn = m.group(1).upper()
        open_p = shadow.index("(", m.end())
        close = _match_close(shadow, open_p)
        args = _split_top_level(sql, shadow, open_p + 1, close)
        unit = _h2_unit(args[0]) if len(args) == 3 else None
        quoted = len(args) == 3 and args[0].strip().startswith("'")
        if unit is None or (fn == "TIMESTAMPDIFF" and not quoted):
            pos = m.end()
            continue
        a, b = args[1].strip(), args[2].strip()
        sql = (
            sql[: m.start()]
            + f"TIMESTAMPDIFF({unit}, DATE_TRUNC('{unit}', {a}),"
            f" DATE_TRUNC('{unit}', {b}))"
            + sql[close + 1 :]
        )
    # SELECT TOP n -> LIMIT n at scope end. H2 binds TOP to its OWN
    # SELECT branch, so the scope ALSO ends at a top-level set
    # operator (UNION/INTERSECT/EXCEPT/MINUS) — and the rewritten
    # branch is always parenthesized, because a trailing LIMIT in
    # Spark would otherwise bind to the whole set operation.
    setop_re = re.compile(r"\b(UNION|INTERSECT|EXCEPT|MINUS)\b", re.I)
    while True:
        shadow = _shadow(sql)
        m = re.search(r"\bSELECT\s+TOP\s+(\d+)\b", shadow, re.I)
        if not m:
            break
        end, depth = len(sql), 0
        i = m.end()
        while i < len(shadow):
            c = shadow[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0 and c.upper() in "UIEM":
                sm = setop_re.match(shadow, i)
                if sm and not (
                    shadow[i - 1].isalnum() or shadow[i - 1] in "_$"
                ):
                    end = i
                    break
            i += 1
        rest = sql[end:]
        sep = "" if (not rest or rest[0] in ") \n\t") else " "
        # LIMIT goes on its own line: the branch body may end with a
        # '--' line comment, and appending on the same line would
        # bury the LIMIT (and the closing paren) inside the comment
        sql = (
            sql[: m.start()]
            + "(SELECT"
            + sql[m.end() : end]
            + f"\nLIMIT {m.group(1)})"
            + sep
            + rest
        )
    return sql.strip()


# --- ANSI MERGE ... USING (H2 1.4.x grammars it alongside legacy) ----------


def parse_merge_using(engine, sql: str, shadow: str) -> dict:
    """``MERGE INTO t [AS] [ta] USING { s | (query) } [AS] [sa]
    ON cond WHEN MATCHED THEN { UPDATE SET ... | DELETE }
    WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (...)`` — at most
    one branch of each kind (H2 1.4 semantics), either optional."""
    m = re.compile(r"\s*MERGE\s+INTO\s", re.I).match(shadow)
    target, pos = _parse_ident(sql, shadow, m.end())
    target, pos = _resolve_schema_qualifier(engine, 
        sql, shadow, target, pos, "MERGE USING"
    )

    def _opt_alias(pos: int, stop_kw: str) -> tuple[Optional[str], int]:
        save = pos
        while pos < len(sql) and sql[pos].isspace():
            pos += 1
        mk = re.compile(rf"{stop_kw}\b", re.I).match(shadow, pos)
        if mk or pos >= len(sql):
            return None, save
        mas = re.compile(r"AS\s+", re.I).match(shadow, pos)
        if mas:
            pos = mas.end()
        alias, pos = _parse_ident(sql, shadow, pos)
        return alias, pos

    t_alias, pos = _opt_alias(pos, "USING")
    musing = re.compile(r"\s*USING\s*", re.I).match(shadow, pos)
    if not musing:
        raise ValueError("MERGE USING: expected USING")
    pos = musing.end()
    source_name = source_query = None
    if sql[pos] == "(":
        depth, k = 0, pos
        while k < len(sql):
            if shadow[k] == "(":
                depth += 1
            elif shadow[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        if depth != 0:
            raise ValueError("MERGE USING: unterminated source query")
        source_query = sql[pos + 1 : k].strip()
        pos = k + 1
    else:
        source_name, pos = _parse_ident(sql, shadow, pos)
    s_alias, pos = _opt_alias(pos, "ON")
    if source_query is not None and s_alias is None:
        raise ValueError("MERGE USING: a derived source needs an alias")
    mon = re.compile(r"\s*ON\s", re.I).match(shadow, pos)
    if not mon:
        raise ValueError("MERGE USING: expected ON <condition>")
    branch_re = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\s+THEN\s+", re.I)
    branches = list(branch_re.finditer(shadow, mon.end()))
    if not branches:
        raise ValueError("MERGE USING: at least one WHEN branch required")
    on_text = sql[mon.end() : branches[0].start()].strip()

    spec = {
        "target": target,
        "t_alias": t_alias or target,
        "source_name": source_name,
        "source_query": source_query,
        "s_alias": s_alias or source_name,
        "on": on_text,
        "matched": None,       # ("update", {col: expr}) | ("delete",)
        "not_matched": None,   # (cols | None, values_text)
    }
    for i, b in enumerate(branches):
        body_end = branches[i + 1].start() if i + 1 < len(branches) else len(sql)
        body = sql[b.end() : body_end].strip()
        bshadow = _shadow(body)
        if b.group(1):  # NOT MATCHED
            if spec["not_matched"] is not None:
                raise ValueError("MERGE USING: duplicate WHEN NOT MATCHED")
            mi = re.compile(r"INSERT\s*", re.I).match(bshadow)
            if not mi:
                raise ValueError("MERGE USING: NOT MATCHED supports INSERT")
            p = mi.end()
            cols = None
            if p < len(body) and body[p] == "(":
                close = bshadow.find(")", p)
                cols = [
                    _parse_ident(c, _shadow(c), 0)[0]
                    for c in _split_top_level(body, bshadow, p + 1, close)
                ]
                p = close + 1
            mv = re.compile(r"\s*VALUES\s*\(", re.I).match(bshadow, p)
            if not mv:
                raise ValueError("MERGE USING: expected INSERT ... VALUES (...)")
            close = len(body.rstrip())
            if body.rstrip()[-1] != ")":
                raise ValueError("MERGE USING: unterminated VALUES tuple")
            vals = _split_top_level(body, bshadow, mv.end(), close - 1)
            spec["not_matched"] = (cols, vals)
        else:
            if spec["matched"] is not None:
                raise ValueError("MERGE USING: duplicate WHEN MATCHED")
            if re.match(r"DELETE\s*$", bshadow, re.I):
                spec["matched"] = ("delete",)
                continue
            mu = re.compile(r"UPDATE\s+SET\s", re.I).match(bshadow)
            if not mu:
                raise ValueError(
                    "MERGE USING: MATCHED supports UPDATE SET or DELETE"
                )
            assignments = {}
            for part in _split_top_level(body, bshadow, mu.end(), len(body)):
                ps = _shadow(part)
                eq = ps.find("=")
                if eq == -1:
                    raise ValueError(f"MERGE USING: bad assignment {part!r}")
                col, after = _parse_ident(part, ps, 0)
                if part[after:eq].strip():
                    raise ValueError(
                        f"MERGE USING: bad assignment target {part!r}"
                    )
                if col in assignments:
                    # same duplicate-SET guard as parse_update: the
                    # dict would silently collapse last-wins where H2
                    # raises duplicate-column (case-DIFFERING dups are
                    # caught downstream by resolve_columns)
                    raise ValueError(
                        f"MERGE USING: duplicate column name: [{col!r}]"
                    )
                assignments[col] = part[eq + 1 :].strip()
            spec["matched"] = ("update", assignments)
    return spec


def _execute_merge_using(engine, statement: str, shadow: str) -> int:
    """Set-based rewrite of ANSI MERGE over parquet tables:

        result = untouched-target ∪ updated-matches ∪ inserted

    with the ANSI cardinality guard (a target row matched by more
    than one source row is an error, detected with ONE aggregation
    on the matched frame — H2 raises the same). All three legs are
    joins on the ON condition; one overwrite commit via the engine's
    staging rewrite. Returns the JDBC-style count
    (matched-and-branch-applied + inserted)."""
    from .errors import NotAResource

    spec = parse_merge_using(engine, statement, shadow)
    _guard_view_target(engine, spec["target"], "MERGE")
    logical = _logical(engine, spec["target"])
    target = engine.table(logical)
    physical = engine.sink.catalog[logical]

    if spec["source_query"] is not None:
        src_df = engine.sql(spec["source_query"])
    else:
        try:
            src_df = engine.table(_logical(engine, spec["source_name"]))
        except NotAResource:
            src_df = engine.spark.table(spec["source_name"])

    rid = "__merge_rid"
    if rid in target.columns:  # pragma: no cover — reserved name
        raise ValueError(f"MERGE USING: column name {rid} is reserved")
    t = target.withColumn(rid, F.monotonically_increasing_id()).alias(
        spec["t_alias"]
    )
    s = src_df.alias(spec["s_alias"])
    cond = F.expr(spec["on"])
    joined = t.join(s, cond, "inner")

    stats = (
        joined.groupBy(rid)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("c").alias("mx"))
        .collect()[0]
    )
    n_matched = int(stats.n or 0)
    if (stats.mx or 0) > 1:
        raise ValueError(
            "MERGE USING: a target row matched multiple source rows"
        )

    def tcol(name: str):
        return F.expr(f"`{spec['t_alias']}`.`{name}`")

    fields = target.schema.fields
    # H2 raises "Column not found" for a misspelled UPDATE SET target
    # or INSERT column; silently ignoring (the alternative) would
    # diverge from the reference without any error signal. Resolution
    # is CASE-INSENSITIVE on both engines (H2 uppercases unquoted
    # identifiers, Spark resolves case-insensitively), so the guard
    # and the application loops below both go through
    # resolve_columns — 'SET VAL = 1' against column 'val' resolves
    # instead of raising a false 'column not found'.
    if spec["matched"] is not None and spec["matched"][0] == "update":
        res = resolve_columns(
            spec["matched"][1], target.columns,
            "MERGE USING: column not found in UPDATE SET",
        )
        spec["matched"] = (
            "update",
            {res[c]: e for c, e in spec["matched"][1].items()},
        )
    if spec["not_matched"] is not None and spec["not_matched"][0] is not None:
        res = resolve_columns(
            spec["not_matched"][0], target.columns,
            "MERGE USING: column not found in INSERT list",
        )
        spec["not_matched"] = (
            [res[c] for c in spec["not_matched"][0]],
            spec["not_matched"][1],
        )
    parts = []
    n_changed = 0
    if spec["matched"] is None:
        parts.append(t.select(*[tcol(f.name).alias(f.name) for f in fields]))
    else:
        parts.append(
            t.join(s, cond, "left_anti").select(
                *[tcol(f.name).alias(f.name) for f in fields]
            )
        )
        n_changed += n_matched
        if spec["matched"][0] == "update":
            assignments = spec["matched"][1]
            parts.append(
                joined.select(
                    *[
                        (
                            F.expr(assignments[f.name])
                            if f.name in assignments
                            else tcol(f.name)
                        )
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in fields
                    ]
                )
            )
        # "delete": matched rows simply don't reappear
    if spec["not_matched"] is not None:
        cols, vals = spec["not_matched"]
        names = cols if cols is not None else [f.name for f in fields]
        if len(names) != len(vals):
            raise ValueError(
                "MERGE USING: INSERT column/value count mismatch"
            )
        anti_src = s.join(t, cond, "left_anti")
        n_inserted = anti_src.count()
        provided = dict(zip(names, vals))
        # evaluate the spelled INSERT expressions, then fill the
        # omitted columns from their recorded DEFAULT / identity
        # metadata exactly like the INSERT path — H2 defaults the
        # not-matched leg too, and a NULL-filled identity column
        # would (rightly) trip the NOT NULL enforcement (review r13)
        ins = anti_src.select(
            *[
                F.expr(provided[f.name]).cast(f.dataType).alias(f.name)
                for f in fields
                if f.name in provided
            ]
        )
        parts.append(
            _apply_column_fills(
                engine,
                target,
                engine.colmeta.columns_of(logical),
                ins,
                {f.name: f.name for f in fields if f.name in provided},
                "MERGE",
            )
        )
        n_changed += int(n_inserted)

    # CHECK enforcement over ONLY the changed/inserted rows
    # (parts[0] is the untouched remainder of the target) — one
    # bounded filter per constraint, before the rewrite lands; the
    # enforced frames come back checkpointed so the union writes the
    # exact rows that passed (advisor r12, non-deterministic sources)
    parts[1:] = [
        engine._enforce_check_constraints(logical, p, "MERGE")
        for p in parts[1:]
    ]
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    engine._rewrite(physical, result)
    return n_changed
