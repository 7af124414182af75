"""H2 PRIMARY KEY / UNIQUE constraints as recorded catalog metadata.

The reference's init-script and RUNSCRIPT paths run arbitrary user
DDL (``/root/reference/core/src/main/scala/quasar/destination/h2/
server/H2Server.scala:41-58``), and a dump authored by a REAL H2
instance routinely carries PRIMARY KEY / UNIQUE constraints — inline
in column defs, as table-level clauses, and as H2 SCRIPT's own
``ALTER TABLE ... ADD CONSTRAINT ... PRIMARY KEY(...)`` lines.
Parquet tables have no enforced keys, so — exactly like the CREATE
INDEX no-op (sql_dml.py) — PK/UNIQUE are ACCEPTED AND RECORDED:
foreign dumps restore, the constraint surfaces in
``INFORMATION_SCHEMA.CONSTRAINTS`` and SHOW COLUMNS' KEY column
where H2 spells it, SCRIPT re-emits it, and PK columns are marked
NOT NULL (H2's semantic).

``CHECK`` constraints are ACCEPTED AND ENFORCED (r11 verdict task
2): every INSERT / UPDATE / MERGE flows through the engine's DML
rewrite (sql_dml -> Engine.insert_rows / update_where / merge_into),
so a recorded predicate costs ONE bounded filter over the written
rows — violating statements raise :class:`CheckViolation` with the
constraint name and example rows BEFORE anything lands. ALTER ADD
validates the existing rows first (one scan), H2's own behavior.
PK/UNIQUE stay record-only (enforcement would be an O(table)
anti-join per write).

``FOREIGN KEY`` is ACCEPT-AND-RECORD since round 13 (r12 verdict
task 1): a dump authored by a real H2 1.4.200 carries ``ALTER TABLE
... ADD CONSTRAINT ... FOREIGN KEY(...) REFERENCES ...(...)
NOCHECK`` lines, and loud rejection killed the exact restore path
the views/CHECK work targeted. Like PK/UNIQUE the record is catalog
metadata only — it surfaces in INFORMATION_SCHEMA.CONSTRAINTS
(CONSTRAINT_TYPE='REFERENTIAL', H2's spelling) and
INFORMATION_SCHEMA.CROSS_REFERENCES, SCRIPT re-emits it (after all
tables, like H2), DROP TABLE honors the referential RESTRICT, and
RENAME migrates both directions. ENFORCEMENT IS NOT PROVIDED,
deliberately and visibly: cross-table anti-joins on every write are
a different cost class at 100 TB, and ``SET REFERENTIAL_INTEGRITY``
is already an accepted no-op on this engine (sql_dml._SET_NOOP) —
the registry is a faithful restore carrier, not a promise.

Durable state is a tiny JSON file in the warehouse directory under
the locked-JSON protocol (:mod:`.locked_json`) the table catalog
and the other registries share — bounded driver-side metadata,
never data-path work.
"""

from __future__ import annotations

from .locked_json import LockedJson


class ConstraintError(ValueError):
    """Constraint misuse (duplicate name, unknown table/name) —
    ValueError so the statement surface reports it like its other
    parse/validation errors."""


class CheckViolation(ConstraintError):
    """A DML write (or ALTER ADD over existing rows) produced rows
    failing a recorded CHECK predicate — the statement is rejected
    BEFORE anything is written (H2's integrity-violation error)."""


class Constraints:
    """Durable PK/UNIQUE registry for one warehouse directory.

    State shape: ``{table_key: [{"name": str, "type": "PRIMARY KEY"
    | "UNIQUE", "columns": [str, ...]}, ...]}`` — table keys are
    casefolded logical names; column names are stored as spelled."""

    def __init__(self, warehouse_dir: str):
        self._store = LockedJson(warehouse_dir, "_constraints")
        self.path = self._store.path

    # -- locked state I/O ---------------------------------------------------

    def _read(self) -> dict:
        """Absence = empty registry; corruption surfaces (the
        sequences._read rationale: silently resetting metadata would
        break the restore contract this module exists for)."""
        return self._store.read(ConstraintError, "constraint state")

    # -- mutations ------------------------------------------------------

    def _add_to_state(
        self,
        state: dict,
        table: str,
        ctype: str,
        columns: list[str],
        name: str | None,
        predicate: str | None,
        foreign: dict | None = None,
    ) -> str:
        """Validate + append one constraint into an in-memory state
        snapshot (caller holds the lock and writes once — the
        atomicity carrier for multi-constraint DDL, advisor r11).
        H2 parity: at most one PRIMARY KEY per table; names are
        unique across the whole SCHEMA (H2's scope — a per-table
        scope would let two tables share a name and the SCRIPT dump
        would then be rejected by a real H2 on restore, advisor
        r11); unnamed constraints get H2-looking ``CONSTRAINT_<n>``
        names, counted per table but skipping any schema-wide
        collision. ``foreign`` (FOREIGN KEY only) carries
        ``{"ref_table": str, "ref_columns": [str], "update_rule":
        str|None, "delete_rule": str|None}`` — the DDL layer
        resolves/validates it before recording."""
        if ctype not in ("PRIMARY KEY", "UNIQUE", "CHECK", "FOREIGN KEY"):
            raise ConstraintError(
                f"only PRIMARY KEY, UNIQUE, CHECK and FOREIGN KEY are "
                f"recordable, got {ctype!r}"
            )
        if ctype == "CHECK":
            if not predicate or not predicate.strip():
                raise ConstraintError("CHECK needs a predicate")
        elif not columns:
            raise ConstraintError(f"{ctype} needs at least one column")
        if ctype == "FOREIGN KEY":
            if not foreign or not foreign.get("ref_table"):
                raise ConstraintError(
                    "FOREIGN KEY needs a referenced table"
                )
            if len(foreign.get("ref_columns") or []) != len(columns):
                raise ConstraintError(
                    "FOREIGN KEY column count must match the "
                    "referenced column count"
                )
        key = table.casefold()
        entries = state.setdefault(key, [])
        if ctype == "PRIMARY KEY" and any(
            e["type"] == "PRIMARY KEY" for e in entries
        ):
            raise ConstraintError(
                f"table {table!r} already has a PRIMARY KEY"
            )
        taken_schema = {
            e["name"].casefold() for es in state.values() for e in es
        }
        if name is None:
            i = len(entries) + 1
            while f"constraint_{i}" in taken_schema:
                i += 1
            name = f"CONSTRAINT_{i}"
        elif name.casefold() in taken_schema:
            raise ConstraintError(
                f"constraint {name!r} already exists in schema PUBLIC "
                "(H2 scopes constraint names per schema, not per table)"
            )
        entry = {"name": name, "type": ctype, "columns": list(columns)}
        if ctype == "CHECK":
            entry["predicate"] = predicate.strip()
        if ctype == "FOREIGN KEY":
            entry["ref_table"] = foreign["ref_table"]
            entry["ref_columns"] = list(foreign["ref_columns"])
            entry["update_rule"] = foreign.get("update_rule")
            entry["delete_rule"] = foreign.get("delete_rule")
        entries.append(entry)
        return name

    def add(
        self,
        table: str,
        ctype: str,
        columns: list[str],
        name: str | None = None,
        predicate: str | None = None,
        foreign: dict | None = None,
    ) -> str:
        """Record one constraint; returns its (possibly generated)
        name. See :meth:`_add_to_state` for the H2-parity rules."""
        with self._store.locked():
            state = self._read()
            name = self._add_to_state(
                state, table, ctype, columns, name, predicate, foreign
            )
            self._store.write(state)
        return name

    def add_many(self, table: str, cons: list[tuple]) -> list[str]:
        """Record a CREATE TABLE's whole constraint set in ONE locked
        read-validate-write cycle (one atomic ``os.replace``): a
        crash can no longer land between a table write and its n-th
        constraint record, leaving a restored table silently missing
        declared metadata (advisor r11). ``cons`` items are
        ``(name_or_None, ctype, columns[, predicate_or_foreign])``
        as the DDL parser produces them — slot 4 is the CHECK
        predicate string for CHECK, the foreign dict for FOREIGN
        KEY. All-or-nothing: any invalid entry raises before
        anything is written."""
        names = []
        with self._store.locked():
            state = self._read()
            for item in cons:
                cname, ctype, cols = item[0], item[1], item[2]
                extra = item[3] if len(item) > 3 else None
                pred = extra if ctype == "CHECK" else None
                foreign = extra if ctype == "FOREIGN KEY" else None
                names.append(
                    self._add_to_state(
                        state, table, ctype, cols, cname, pred, foreign
                    )
                )
            if names:
                self._store.write(state)
        return names

    def referencing(self, table: str) -> list[tuple[str, dict]]:
        """(owner_table_key, entry) for every recorded FOREIGN KEY —
        on OTHER tables — whose ``ref_table`` is ``table``: the
        inbound-reference set DROP TABLE's RESTRICT check consults
        (H2 refuses to drop a referenced table without CASCADE)."""
        key = table.casefold()
        out = []
        for tkey, entries in self._read().items():
            if tkey == key:
                continue  # a self-referencing FK dies with its table
            for e in entries:
                if (
                    e["type"] == "FOREIGN KEY"
                    and e["ref_table"].casefold() == key
                ):
                    out.append((tkey, dict(e)))
        return out

    def drop(self, table: str, name: str, if_exists: bool = False) -> None:
        key = table.casefold()
        with self._store.locked():
            state = self._read()
            entries = state.get(key, [])
            kept = [
                e for e in entries if e["name"].casefold() != name.casefold()
            ]
            if len(kept) == len(entries):
                if if_exists:
                    return
                raise ConstraintError(
                    f"constraint not found on {table!r}: {name!r}"
                )
            if kept:
                state[key] = kept
            else:
                state.pop(key, None)
            self._store.write(state)

    def drop_table(self, table: str) -> None:
        """Forget every constraint of a dropped table (no-op when
        none are recorded)."""
        key = table.casefold()
        with self._store.locked():
            state = self._read()
            if key in state:
                del state[key]
                self._store.write(state)

    def rename_table(self, old: str, new: str) -> None:
        """Migrate recorded constraints on ALTER TABLE RENAME — both
        the renamed table's own entries AND the ``ref_table`` of any
        FOREIGN KEY on another table that references it (H2 renames
        track referential constraints; a stale ref_table would dump
        an unrestorable SCRIPT)."""
        okey, nkey = old.casefold(), new.casefold()
        with self._store.locked():
            state = self._read()
            changed = False
            if okey in state:
                state[nkey] = state.pop(okey)
                changed = True
            for entries in state.values():
                for e in entries:
                    if (
                        e["type"] == "FOREIGN KEY"
                        and e["ref_table"].casefold() == okey
                    ):
                        e["ref_table"] = new
                        changed = True
            if changed:
                self._store.write(state)

    def rename_column(self, table: str, old: str, new: str) -> None:
        """Migrate recorded constraint column lists on ALTER TABLE
        RENAME COLUMN / ALTER COLUMN RENAME TO — the table's own
        PK/UNIQUE/FK member lists AND the ``ref_columns`` of any
        FOREIGN KEY elsewhere that references the renamed column of
        THIS table (a stale spelling would dump an unrestorable
        SCRIPT — the rename_table rationale)."""
        tkey, okey = table.casefold(), old.casefold()
        with self._store.locked():
            state = self._read()
            changed = False
            for e in state.get(tkey, []):
                cols = [
                    new if c.casefold() == okey else c
                    for c in e.get("columns", [])
                ]
                if cols != e.get("columns", []):
                    e["columns"] = cols
                    changed = True
            for entries in state.values():
                for e in entries:
                    if (
                        e["type"] == "FOREIGN KEY"
                        and e["ref_table"].casefold() == tkey
                    ):
                        rcols = [
                            new if c.casefold() == okey else c
                            for c in e.get("ref_columns", [])
                        ]
                        if rcols != e.get("ref_columns", []):
                            e["ref_columns"] = rcols
                            changed = True
            if changed:
                self._store.write(state)

    def column_members(self, table: str, column: str) -> list[str]:
        """Names of recorded constraints whose member (or, for an
        inbound FK elsewhere, referenced) columns include ``column``
        — the DROP COLUMN guard's evidence list (H2 refuses to drop
        a column a constraint depends on)."""
        tkey, ckey = table.casefold(), column.casefold()
        state = self._read()
        hits = [
            e["name"]
            for e in state.get(tkey, [])
            if any(c.casefold() == ckey for c in e.get("columns", []))
        ]
        for entries in state.values():
            for e in entries:
                if (
                    e["type"] == "FOREIGN KEY"
                    and e["ref_table"].casefold() == tkey
                    and any(
                        c.casefold() == ckey
                        for c in e.get("ref_columns", [])
                    )
                    and e["name"] not in hits
                ):
                    hits.append(e["name"])
        return hits

    # -- reads ----------------------------------------------------------

    def for_table(self, table: str) -> list[dict]:
        return [dict(e) for e in self._read().get(table.casefold(), [])]

    def all(self) -> dict[str, list[dict]]:
        """Whole registry snapshot (casefolded table key -> entries),
        sorted for deterministic introspection output."""
        return {
            k: [dict(e) for e in v]
            for k, v in sorted(self._read().items())
        }
