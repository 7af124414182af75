"""H2 column/table metadata the stored parquet schema cannot carry:
DEFAULT expressions, identity (auto-increment) sequence bindings,
NOT NULL intent on non-PK columns, SELECTIVITY hints, and COMMENT
remarks.

A dump authored by a REAL H2 1.4.200 spells all of these in its
``CREATE CACHED TABLE`` column definitions — an identity column
restores as ``"ID" BIGINT DEFAULT (NEXT VALUE FOR
"PUBLIC"."SYSTEM_SEQUENCE_...") NOT NULL NULL_TO_DEFAULT SEQUENCE
"PUBLIC"."SYSTEM_SEQUENCE_..."`` and an ANALYZEd database adds
``SELECTIVITY n`` to every column — and the reference's init-script
and RUNSCRIPT paths run arbitrary user DDL
(``/root/reference/core/src/main/scala/quasar/destination/h2/
server/H2Server.scala:41-58``), so restoring such a dump must not
die on tokens the CREATE grammar never heard of.

Spark's file-based ``saveAsTable`` stores every column nullable and
parquet has no default/comment metadata, so — exactly like the
PK/UNIQUE constraint registry (constraints.py) — this registry is
the durable carrier: INSERT applies recorded defaults to omitted
columns (H2's semantic), NOT NULL is enforced on the DML write path
(same bounded one-pass mechanism as CHECK), INFORMATION_SCHEMA
surfaces COLUMN_DEFAULT / IS_NULLABLE / REMARKS, and SCRIPT re-emits
every clause so the dump round-trips through a real H2.

Durable state is a tiny JSON file in the warehouse directory under
the locked-JSON protocol (:mod:`.locked_json`) the table catalog
and the sequence/constraint/view registries share — bounded
driver-side metadata, never data-path work.

State shape::

    {table_key: {
        "remarks": str,                    # COMMENT ON TABLE (optional)
        "columns": {col_key: {
            "column": str,                 # spelled name
            "default": str,                # Spark-dialect expression
            "sequence": str,               # identity backing sequence
            "null_to_default": bool,       # H2 NULL_TO_DEFAULT flag
            "not_null": bool,              # declared NOT NULL intent
            "selectivity": int,            # ANALYZE hint (recorded)
            "remarks": str,                # COMMENT ON COLUMN
        }}}}

— table keys and column keys are casefolded; every per-column field
is optional and a field set to ``None`` is removed (entries with no
remaining content are pruned so the file never accumulates husks).
"""

from __future__ import annotations

import json

from .locked_json import LockedJson


class ColumnMetaError(ValueError):
    """Column-metadata misuse — ValueError so the statement surface
    reports it like its other parse/validation errors."""


class NullViolation(ColumnMetaError):
    """A DML write carried NULL into a declared NOT NULL column —
    the statement is rejected BEFORE anything is written (H2's
    ``NULL not allowed for column`` error), same single-pass
    mechanism as CHECK enforcement (engine._enforce_check_
    constraints)."""


#: The per-column fields the registry accepts (anything else is a
#: programming error, caught loudly).
_FIELDS = frozenset(
    {
        "default",
        "sequence",
        "null_to_default",
        "not_null",
        "selectivity",
        "remarks",
        # metadata-only ADD COLUMN (no DEFAULT): the Spark type the
        # column was declared with. Old parquet files never carry the
        # column (readers fill NULL from the declared table schema),
        # so a FRESH process re-registering the table from footers
        # must re-apply it — engine._ensure_registered reads this.
        "added_type",
    }
)


class ColumnMeta:
    """Durable column/table metadata registry for one warehouse
    directory (DEFAULT / identity / NOT NULL / SELECTIVITY /
    COMMENT)."""

    def __init__(self, warehouse_dir: str):
        self._store = LockedJson(warehouse_dir, "_colmeta")
        self.path = self._store.path

    # -- locked state I/O ---------------------------------------------------

    def _read(self) -> dict:
        """Absence = empty registry; corruption surfaces (the
        constraints._read rationale: silently resetting metadata
        would break the restore contract this module exists for)."""
        return self._store.read(ColumnMetaError, "column-metadata state")

    # -- mutations ------------------------------------------------------

    @staticmethod
    def _merge(entry: dict, column: str, fields: dict) -> dict:
        for k, v in fields.items():
            if k not in _FIELDS:  # pragma: no cover — caller bug
                raise ColumnMetaError(f"unknown column-metadata field {k!r}")
            if v is None or v is False:
                entry.pop(k, None)
            else:
                entry[k] = v
        entry["column"] = column
        return entry

    def update_column(self, table: str, column: str, **fields) -> None:
        """Merge ``fields`` into one column's entry (``None``/False
        removes a field). One lock/read/write cycle."""
        self.update_columns(table, {column: fields})

    def update_columns(self, table: str, per_column: dict) -> None:
        """Atomically merge several columns' fields in ONE locked
        write — the CREATE TABLE recording path (a half-recorded
        multi-column default set behind a crash would restore a
        different table than the one declared; the constraints
        add_many rationale)."""
        if not per_column:
            return
        tkey = table.casefold()
        with self._store.locked():
            state = self._read()
            tentry = state.setdefault(tkey, {})
            cols = tentry.setdefault("columns", {})
            for column, fields in per_column.items():
                ckey = column.casefold()
                entry = self._merge(cols.get(ckey, {}), column, fields)
                if set(entry) <= {"column"}:
                    cols.pop(ckey, None)
                else:
                    cols[ckey] = entry
            self._prune(state, tkey)
            self._store.write(state)

    def set_table_remarks(self, table: str, remarks: "str | None") -> None:
        """COMMENT ON TABLE — ``None`` clears (H2: COMMENT ... IS
        NULL removes the remark)."""
        tkey = table.casefold()
        with self._store.locked():
            state = self._read()
            tentry = state.setdefault(tkey, {})
            if remarks is None:
                tentry.pop("remarks", None)
            else:
                tentry["remarks"] = remarks
            self._prune(state, tkey)
            self._store.write(state)

    @staticmethod
    def _prune(state: dict, tkey: str) -> None:
        tentry = state.get(tkey)
        if tentry is None:
            return
        if not tentry.get("columns"):
            tentry.pop("columns", None)
        if not tentry:
            state.pop(tkey, None)

    # -- reads ----------------------------------------------------------

    def for_table(self, table: str) -> dict:
        """One table's entry (copy): ``{"remarks": str?, "columns":
        {col_key: entry}}`` — empty dict when nothing is recorded."""
        e = self._read().get(table.casefold(), {})
        return json.loads(json.dumps(e)) if e else {}

    def columns_of(self, table: str) -> dict:
        """Shorthand: the per-column entries (col_key -> entry)."""
        return self.for_table(table).get("columns", {})

    def all(self) -> dict:
        """Full state snapshot (copy) — ONE read for dump/catalog
        publication, the constraints.all() pattern."""
        return self._read()

    # -- lifecycle migrations (DDL keeps metadata honest) -----------------

    def drop_table(self, table: str) -> None:
        tkey = table.casefold()
        with self._store.locked():
            state = self._read()
            if tkey in state:
                del state[tkey]
                self._store.write(state)

    def rename_table(self, old: str, new: str) -> None:
        okey, nkey = old.casefold(), new.casefold()
        with self._store.locked():
            state = self._read()
            if okey in state:
                state[nkey] = state.pop(okey)
                self._store.write(state)

    def rename_sequences(self, mapping: dict) -> None:
        """ALTER SCHEMA ... RENAME TO migration: rewrite recorded
        identity ``sequence`` bindings after the backing sequences
        moved to the renamed schema's dotted prefix (a stale binding
        would dump an unrestorable SCRIPT and break the next INSERT's
        fill — the constraints.rename_table ref_table rationale).
        ``mapping`` is old dotted name -> new; matching is casefolded.
        One locked pass over the registry, ALL tables — a column
        OUTSIDE the schema may legally draw from a moved sequence."""
        if not mapping:
            return
        cf = {k.casefold(): v for k, v in mapping.items()}
        with self._store.locked():
            state = self._read()
            changed = False
            for tentry in state.values():
                for e in tentry.get("columns", {}).values():
                    s = (e.get("sequence") or "").casefold()
                    if s in cf:
                        e["sequence"] = cf[s]
                        changed = True
            if changed:
                self._store.write(state)

    def rename_column(self, table: str, old: str, new: str) -> None:
        tkey = table.casefold()
        with self._store.locked():
            state = self._read()
            cols = state.get(tkey, {}).get("columns", {})
            okey = old.casefold()
            if okey in cols:
                entry = cols.pop(okey)
                entry["column"] = new
                cols[new.casefold()] = entry
                self._store.write(state)

    def drop_column(self, table: str, column: str) -> None:
        tkey = table.casefold()
        with self._store.locked():
            state = self._read()
            cols = state.get(tkey, {}).get("columns", {})
            if column.casefold() in cols:
                del cols[column.casefold()]
                self._prune(state, tkey)
                self._store.write(state)

    def drop_all(self) -> None:
        """DROP ALL OBJECTS clears every record."""
        with self._store.locked():
            self._store.write({})
