"""H2 views as durable engine-catalog metadata (r11 verdict task 1).

The reference's init-script and RUNSCRIPT paths run arbitrary user
DDL (``/root/reference/core/src/main/scala/quasar/destination/h2/
server/H2Server.scala:41-58``), and a dump authored by a REAL H2
instance spells every view ``CREATE FORCE VIEW PUBLIC."V"(...) AS
SELECT ...`` — FORCE so the dump loads regardless of statement
order. Before round 12 that line fell through to bare Spark SQL,
which parses neither FORCE nor H2's double-quoted identifiers, so a
view-bearing dump failed to restore and the engine's own SCRIPT
silently dropped views.

A view here is a NAME plus a DEFINITION — no data, no files. The
registry stores the definition in the Spark expression dialect
(backtick identifiers; the statement parser converts H2 spellings on
the way in, sql_dml._h2_view_def_to_spark) and the query surface
binds it on demand: when a statement references a view name Spark
cannot resolve, ``_resolve_sql`` runs the stored definition
(recursively — views over views), registers the result as a
transient temp view for the one analysis, and drops it after. At
100 TB this is exactly H2's (and Spark's own) view semantics: the
definition inlines into the consuming query's plan, so Catalyst
pushes filters/projections THROUGH the view into the parquet scan —
a view adds zero materialization and zero extra I/O.

Durable state is a tiny JSON file in the warehouse directory under
the locked-JSON protocol (:mod:`.locked_json`) the table catalog
and the sequence and constraint registries share — bounded
driver-side metadata, never data-path work.
"""

from __future__ import annotations

from .locked_json import LockedJson


class ViewError(ValueError):
    """View misuse (duplicate name, unknown view, dependency cycle,
    RESTRICT violation) — ValueError so the statement surface reports
    it like its other parse/validation errors."""


class Views:
    """Durable view registry for one warehouse directory.

    State shape: ``{name_key: {"name": str, "definition": str,
    "columns": [str, ...] | None, "force": bool}}`` — keys are
    casefolded view names; definitions are Spark-dialect SQL."""

    def __init__(self, warehouse_dir: str):
        self._store = LockedJson(warehouse_dir, "_views")
        self.path = self._store.path

    # -- locked state I/O ---------------------------------------------------

    def _read(self) -> dict:
        """Absence = empty registry; corruption surfaces (the
        sequences._read rationale: silently resetting metadata would
        break the restore contract this module exists for)."""
        return self._store.read(ViewError, "view state")

    # -- mutations ------------------------------------------------------

    def create(
        self,
        name: str,
        definition: str,
        columns: list[str] | None = None,
        force: bool = False,
        or_replace: bool = False,
        if_not_exists: bool = False,
    ) -> bool:
        """Record one view; returns False when IF NOT EXISTS skipped
        an existing one. The caller validates the definition (FORCE
        skips validation — H2's semantics: the view exists, querying
        it errors until its relations do)."""
        if not definition.strip():
            raise ViewError(f"view {name!r}: empty definition")
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key in state and not or_replace:
                if if_not_exists:
                    return False
                raise ViewError(f"view already exists: {name!r}")
            state[key] = {
                "name": name,
                "definition": definition.strip(),
                "columns": list(columns) if columns else None,
                "force": bool(force),
            }
            self._store.write(state)
        return True

    def drop(self, name: str, if_exists: bool = False) -> bool:
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                if if_exists:
                    return False
                raise ViewError(f"view not found: {name!r}")
            del state[key]
            self._store.write(state)
        return True

    def set_remarks(self, name: str, remarks: "str | None") -> None:
        """COMMENT ON VIEW (r14) — ``None`` clears, ``''`` is
        recordable (the colmeta convention); surfaces through
        INFORMATION_SCHEMA.VIEWS.REMARKS and SCRIPT COMMENT lines."""
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                raise ViewError(f"view not found: {name!r}")
            if remarks is None:
                state[key].pop("remarks", None)
            else:
                state[key]["remarks"] = remarks
            self._store.write(state)

    def drop_all(self) -> None:
        """Forget every view (DROP ALL OBJECTS)."""
        with self._store.locked():
            self._store.write({})

    # -- reads ----------------------------------------------------------

    def get(self, name: str) -> dict | None:
        e = self._read().get(name.casefold())
        return dict(e) if e is not None else None

    def names(self) -> list[str]:
        """Spelled view names, sorted (deterministic introspection)."""
        return sorted(e["name"] for e in self._read().values())

    def all(self) -> dict[str, dict]:
        """Whole registry snapshot (casefolded key -> entry),
        sorted for deterministic introspection output."""
        return {k: dict(v) for k, v in sorted(self._read().items())}

    def dependents_of(self, relation: str) -> list[str]:
        """Views whose definition references ``relation`` in a
        RELATION position — the RESTRICT check for DROP TABLE / DROP
        VIEW / RENAME. Scans each stored definition for names after
        FROM / JOIN (plus the comma-continuation of a FROM list), so
        a mere column or alias spelled like the relation no longer
        blocks a rename/drop (advisor r12 — the old whole-text token
        match made an unrelated view's COLUMN name freeze a table)."""
        key = relation.casefold()
        out = []
        for e in self._read().values():
            if e["name"].casefold() == key:
                continue
            if key in relation_names(e["definition"]):
                out.append(e["name"])
        return sorted(out)


def relation_names(definition: str) -> set:
    """Casefolded identifiers appearing in RELATION position in a SQL
    text: the name after each FROM / JOIN keyword and after each
    depth-0 comma continuing a FROM list. Scanned on the
    literal-blanked shadow (sql_dml._shadow) so quoted strings never
    match; bare and backtick-quoted spellings both parse. TWO-part
    dotted names ARE recorded (since r14) as the casefolded
    ``"skey.name"`` logical (plus the bare name under a PUBLIC
    qualifier) — ``Engine.rename_schema``'s and DROP TABLE's
    view-dependency pre-checks are load-bearing on exactly that
    recording. Skipped on purpose: parenthesized subqueries (their
    inner FROMs get their own keyword match), table-function calls
    (``name(...)``), and THREE-plus-part dotted names (never an
    engine logical — the ``_missing_relation`` rule). Remaining known
    over-match: ``extract(YEAR FROM d)``-style in-function FROMs
    count ``d`` — conservative in the safe direction (a false
    dependency blocks, never orphans), and strictly narrower than
    the pre-r13 whole-text match."""
    import re

    from .sql_dml import _parse_ident, _shadow

    shadow = _shadow(definition)
    # clause ENDERS only: JOIN-family keywords deliberately continue
    # the scan, so the comma-continued relation after an explicit
    # join (``FROM a JOIN b ON a.x=b.x, c``) is still reached — the
    # joined relations themselves come from the JOIN finditer below,
    # and an ON expression cannot carry a depth-0 comma (commas live
    # inside call parens, which the scan skips as groups)
    stop = re.compile(
        r"\b(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|FETCH|UNION|"
        r"INTERSECT|EXCEPT|WINDOW|QUALIFY|SELECT)\b|[,()]",
        re.I,
    )
    names: set = set()

    def _skip_group(p: int) -> int:
        """p at '(' — return position just past its matching ')'."""
        depth = 0
        while p < len(shadow):
            if shadow[p] == "(":
                depth += 1
            elif shadow[p] == ")":
                depth -= 1
                if depth == 0:
                    return p + 1
            p += 1
        return p

    def _one_relation(p: int) -> int:
        """Parse one table ref at p; record it when it is a plain
        (single-part, non-function) name. Returns the position after
        the ref."""
        while p < len(shadow) and shadow[p].isspace():
            p += 1
        if p >= len(shadow):
            return p
        if shadow[p] == "(":
            return _skip_group(p)  # subquery / grouped join
        try:
            name, p2 = _parse_ident(definition, shadow, p)
        except ValueError:
            return p + 1
        while p2 < len(shadow) and shadow[p2].isspace():
            p2 += 1
        if p2 < len(shadow) and shadow[p2] == "(":
            return _skip_group(p2)  # table function: not a relation
        if p2 < len(shadow) and shadow[p2] == ".":
            # TWO-part qualified name: since r14 schema-qualified
            # names DO map to engine logicals ("skey.name"), so the
            # dotted casefolded form is recorded — dependency
            # tracking must see a view over a schema table, or DROP
            # TABLE "APP"."T" silently orphans it (review r14). A
            # PUBLIC qualifier also records the bare logical. Deeper
            # qualification still records nothing (never an engine
            # logical — the _missing_relation rule).
            parts = [name]
            while p2 < len(shadow) and shadow[p2] == ".":
                try:
                    nxt, p2 = _parse_ident(definition, shadow, p2 + 1)
                except ValueError:
                    return p2 + 1
                parts.append(nxt)
            if len(parts) == 2:
                names.add(f"{parts[0]}.{parts[1]}".casefold())
                if parts[0].casefold() == "public":
                    names.add(parts[1].casefold())
            return p2
        names.add(name.casefold())
        return p2

    for m in re.finditer(r"\b(FROM|JOIN)\b", shadow, re.I):
        p = _one_relation(m.end())
        if m.group(1).upper() == "JOIN":
            continue
        # FROM list: follow depth-0 commas (aliases and hints sit
        # between the ref and the comma and are skipped by the scan)
        while True:
            ms = stop.search(shadow, p)
            if ms is None:
                break
            tok = ms.group(0)
            if tok == "(":
                p = _skip_group(ms.start())
                continue
            if tok == ",":
                p = _one_relation(ms.end())
                continue
            break  # ')' or a clause keyword ends this FROM list
    return names
