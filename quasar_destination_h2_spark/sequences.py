"""H2 sequence objects at the statement surface.

The reference's wire clients get H2 1.4.200 sequences through the
PG/TCP servers (``/root/reference/core/src/main/scala/quasar/
destination/h2/server/H2Server.scala:60-84``): ``CREATE SEQUENCE``,
``NEXTVAL('s')`` / ``NEXT VALUE FOR s`` (typically as generated ids
in INSERTs), ``CURRVAL('s')``, ``ALTER SEQUENCE ... RESTART``,
``DROP SEQUENCE``. Spark has no sequence objects, so the engine
implements them as statement-layer state:

* durable state is a tiny JSON file in the warehouse directory,
  read-modify-written under the flock + fsync + ``os.replace``
  protocol of :mod:`.locked_json`, which the table catalog and the
  other registries share — same-host multi-process writers allocate
  disjoint values; multi-HOST warehouses need a transactional store,
  exactly the documented catalog limitation;
* ``NEXTVAL`` allocates one value per TEXTUAL occurrence in the
  statement (H2 evaluates per row; in ``INSERT ... VALUES`` every
  row spells its own NEXTVAL, so the two coincide). A NEXTVAL over a
  table-driven INSERT source (``INSERT INTO t SELECT NEXTVAL(..),
  ... FROM u``) allocates PER RESULT ROW like H2: the range is
  taken atomically with :meth:`Sequences.nextval` and values are
  assigned by a deterministic row_number (``sql_dml.
  _rewrite_nextval_select``). UPDATE/DELETE/MERGE — where one
  textual occurrence would apply across many existing rows — still
  raise;
* ``CURRVAL`` is session-scoped like H2's: the last value THIS
  engine dispensed; an error if the engine has not called NEXTVAL
  on that sequence yet.
"""

from __future__ import annotations

from .locked_json import LockedJson


class SequenceError(ValueError):
    """Sequence misuse (unknown name, duplicate create, CURRVAL
    before NEXTVAL) — ValueError so the statement surface reports it
    like its other parse/validation errors."""


class Sequences:
    """Durable sequence registry for one warehouse directory."""

    def __init__(self, warehouse_dir: str):
        self._store = LockedJson(warehouse_dir, "_sequences")
        self.path = self._store.path
        self._currval: dict[str, int] = {}  # session-scoped

    # -- locked state I/O ---------------------------------------------------

    def _read(self) -> dict:
        """Absence means an empty registry; anything ELSE (corrupt
        JSON, I/O error) must surface — treating corruption as
        absence would silently reset every sequence and re-dispense
        already-allocated values, breaking the durable-uniqueness
        guarantee this module exists to provide."""
        return self._store.read(SequenceError, "sequence state")

    # -- DDL ----------------------------------------------------------------

    #: int64 range H2's BIGINT sequences live in.
    I64_MAX = 9223372036854775807
    I64_MIN = -9223372036854775808

    def create(
        self,
        name: str,
        start: int | None = None,
        increment: int = 1,
        if_not_exists: bool = False,
        min_value: int | None = None,
        max_value: int | None = None,
        cycle: bool = False,
        cache: int | None = None,
        belongs_to_table: bool = False,
    ) -> None:
        """H2 1.4.200 defaults: ascending ranges [min(1, start),
        2^63-1] starting at MINVALUE when START is unspecified;
        descending ranges [-2^63, max(-1, start)] starting at
        MAXVALUE. ``cache`` is accepted and recorded for
        introspection but does not change dispensed values (every
        allocation is durably persisted, so there is nothing for a
        cache block to lose). ``belongs_to_table`` is H2's own dump
        flag for identity-backing sequences (its SCRIPT spells
        ``CREATE SEQUENCE ... BELONGS_TO_TABLE;``): such a sequence
        is dropped with the table whose identity column it backs."""
        if increment == 0:
            raise SequenceError("CREATE SEQUENCE: INCREMENT BY must not be 0")
        # H2 1.4.200 defaults CLAMP to an explicit start (Sequence.
        # getDefaultMinValue: ascending min = min(1, start), so
        # ``START WITH 0`` is legal without explicit bounds; the
        # descending default max = max(-1, start) symmetrically)
        if increment > 0:
            if min_value is None:
                min_value = 1 if start is None else min(1, start)
            if max_value is None:
                max_value = self.I64_MAX
        else:
            if min_value is None:
                min_value = self.I64_MIN
            if max_value is None:
                max_value = -1 if start is None else max(-1, start)
        if min_value > max_value:
            raise SequenceError(
                f"CREATE SEQUENCE: MINVALUE {min_value} exceeds "
                f"MAXVALUE {max_value}"
            )
        if start is None:
            start = min_value if increment > 0 else max_value
        if not (min_value <= start <= max_value):
            raise SequenceError(
                f"CREATE SEQUENCE: START WITH {start} outside "
                f"[{min_value}, {max_value}]"
            )
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key in state:
                if if_not_exists:
                    return
                raise SequenceError(f"sequence already exists: {name!r}")
            state[key] = {
                "next": start,
                "inc": increment,
                "start": start,
                "min": min_value,
                "max": max_value,
                "cycle": bool(cycle),
                "cache": cache,
            }
            if belongs_to_table:
                state[key]["belongs_to_table"] = True
            self._store.write(state)

    def drop(self, name: str, if_exists: bool = False) -> None:
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                if if_exists:
                    return
                raise SequenceError(f"sequence not found: {name!r}")
            del state[key]
            self._store.write(state)
        self._currval.pop(key, None)

    def rename(self, old: str, new: str) -> None:
        """ALTER SCHEMA ... RENAME TO migration: re-key a sequence's
        FULL state — position included, so a renamed schema's
        identity columns continue exactly where they were, never
        re-dispensing a value. A same-key rename is a no-op (sequence
        spelling is not preserved; keys are casefolded)."""
        okey, nkey = old.casefold(), new.casefold()
        if okey == nkey:
            return
        with self._store.locked():
            state = self._read()
            if okey not in state:
                raise SequenceError(f"sequence not found: {old!r}")
            if nkey in state:
                raise SequenceError(f"sequence already exists: {new!r}")
            state[nkey] = state.pop(okey)
            self._store.write(state)
        if okey in self._currval:
            self._currval[nkey] = self._currval.pop(okey)

    @classmethod
    def _norm(cls, s: dict) -> dict:
        """Fill bound/cycle defaults for state persisted before the
        r10 option support (forward-compatible read)."""
        inc = s["inc"]
        s.setdefault(
            "min", min(1, s.get("start", 1)) if inc > 0 else cls.I64_MIN
        )
        s.setdefault(
            "max", cls.I64_MAX if inc > 0 else max(-1, s.get("start", -1))
        )
        s.setdefault("cycle", False)
        s.setdefault("cache", None)
        s.setdefault("belongs_to_table", False)
        s.setdefault("remarks", None)
        return s

    def alter(
        self,
        name: str,
        restart: bool = False,
        with_: int | None = None,
        increment: int | None = None,
        min_value: int | None = None,
        max_value: int | None = None,
        cycle: bool | None = None,
    ) -> None:
        """ALTER SEQUENCE: RESTART [WITH n] resets the next value
        (to its START WITH when n is omitted, like H2); INCREMENT BY
        changes the step without touching the current position;
        MINVALUE/MAXVALUE/[NO]CYCLE adjust the bounds in place."""
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                raise SequenceError(f"sequence not found: {name!r}")
            s = self._norm(state[key])
            if restart:
                s["next"] = s["start"] if with_ is None else with_
            if increment is not None:
                if increment == 0:
                    raise SequenceError(
                        "ALTER SEQUENCE: INCREMENT BY must not be 0"
                    )
                s["inc"] = increment
            if min_value is not None:
                s["min"] = min_value
            if max_value is not None:
                s["max"] = max_value
            if cycle is not None:
                s["cycle"] = bool(cycle)
            if s["min"] > s["max"]:
                raise SequenceError(
                    f"ALTER SEQUENCE: MINVALUE {s['min']} exceeds "
                    f"MAXVALUE {s['max']}"
                )
            self._store.write(state)

    # -- values -------------------------------------------------------------

    def nextval(self, name: str, n: int = 1) -> list[int]:
        """Atomically allocate ``n`` consecutive values; returns them
        in dispensing order, honoring the bounds: a value past
        MAXVALUE (ascending) / MINVALUE (descending) wraps to the
        opposite bound when the sequence CYCLEs — note the wrapped
        phase restarts AT the bound, so a START not aligned to
        MINVALUE changes phase after the first wrap, exactly like H2
        — or raises H2's exhaustion error when it does not."""
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                raise SequenceError(f"sequence not found: {name!r}")
            s = self._norm(state[key])
            inc, lo, hi = s["inc"], s["min"], s["max"]
            cur, vals = s["next"], []
            for _ in range(n):
                # H2 enforces only the bound on the INCREMENT side
                # (Sequence.getNext): an ascending sequence RESTARTed
                # below MINVALUE still dispenses — MINVALUE is the
                # cycle restart point, not a floor
                if (inc > 0 and cur > hi) or (inc < 0 and cur < lo):
                    if not s["cycle"]:
                        raise SequenceError(
                            f"sequence {name!r} has run out of numbers "
                            f"(bounds [{lo}, {hi}], no CYCLE)"
                        )
                    cur = lo if inc > 0 else hi
                vals.append(cur)
                cur += inc
            s["next"] = cur
            self._store.write(state)
        if vals:
            self._currval[key] = vals[-1]
        return vals

    def set_remarks(self, name: str, remarks: "str | None") -> None:
        """COMMENT ON SEQUENCE (r14) — ``None`` clears, ``''`` is
        recordable (the colmeta convention); surfaces through
        INFORMATION_SCHEMA.SEQUENCES.REMARKS and SCRIPT COMMENT
        lines."""
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                raise SequenceError(f"sequence not found: {name!r}")
            if remarks is None:
                state[key].pop("remarks", None)
            else:
                state[key]["remarks"] = remarks
            self._store.write(state)

    def advance_past(self, name: str, value: int) -> None:
        """H2 1.4.200 ``Column.updateSequenceIfRequired``: an
        explicitly provided value for a sequence-bound (identity)
        column moves the sequence when it lies beyond the LAST
        DISPENSED value (``next - inc``): the next value becomes
        ``value + inc``. Without this, INSERT INTO t(ID,...) VALUES
        (4,...) followed by an auto-id row re-dispenses 4 (advice
        r14). No-op when the sequence already points past ``value``."""
        key = name.casefold()
        with self._store.locked():
            state = self._read()
            if key not in state:
                raise SequenceError(f"sequence not found: {name!r}")
            s = self._norm(state[key])
            inc = s["inc"]
            last = s["next"] - inc
            if (inc > 0 and value > last) or (inc < 0 and value < last):
                s["next"] = value + inc
                self._store.write(state)

    def currval(self, name: str) -> int:
        key = name.casefold()
        if key not in self._currval:
            raise SequenceError(
                f"CURRVAL: NEXTVAL has not been called for {name!r} "
                "in this session"
            )
        return self._currval[key]

    def exists(self, name: str) -> bool:
        return name.casefold() in self._read()

    def describe(self, name: str) -> dict:
        """Current durable state of one sequence: ``{"next": int,
        "inc": int, "start": int}`` — read-only snapshot (allocation
        still goes through :meth:`nextval`'s lock)."""
        key = name.casefold()
        state = self._read()
        if key not in state:
            raise SequenceError(f"sequence not found: {name!r}")
        return dict(self._norm(state[key]))

    def names(self) -> list[str]:
        """All registered sequence names (casefolded storage keys),
        sorted — the INFORMATION_SCHEMA.SEQUENCES row source."""
        return sorted(self._read())
