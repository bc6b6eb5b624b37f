"""Durable table-name catalog: ``name → snapshot path (+ optional
pin)`` bindings that survive the session.

The reference warehouse's analysts address tables by NAME — Redshift's
catalog persists, so ``SELECT * FROM trips`` works tomorrow (reference:
README.md:77, dags/sql/*.sql address permanent tables). This engine's
``snapshot_register`` is session-scoped (a temp view + an in-memory
registry entry), so every new CLI invocation had to re-pass
``--snapshot NAME=PATH``. This module closes that gap: a tiny versioned
JSON log under a warehouse root records the bindings; the SQL front
door (``sqlfront``) and the CLI resolve unknown names through it
LAZILY — a registry miss triggers one catalog read and one
``snapshot_register``, so sessions that never use names pay nothing,
and a catalog with many tables costs one manifest load per name
actually referenced, never an eager sweep.

Durability/atomicity recipe — the same one the manifest log uses: the
catalog directory holds ``{seq:08d}.json`` files, each the FULL map
(the catalog is name→path bindings, a few hundred bytes; full-copy
versions keep reads one-file and make every mutation a compare-and-swap
on the next sequence number via the filesystem's atomic
create-if-absent, ``_write_bytes_exclusive``). A lost race re-reads and
retries; two concurrent ``catalog_add`` calls of different names both
land. History is free (old versions linger until ``catalog_vacuum``-
style cleanup, which nobody needs at these sizes).

Spark-first rationale: Spark's own persistent catalog (Hive metastore /
``saveAsTable``) cannot bind a name to THIS engine's manifest-versioned
tables with time-travel pins and DML routing — that needs a JVM
TableCatalog plugin. A sidecar name log keeps the whole engine
pure-PySpark while giving the CLI/REPL the persistent-name ergonomics
the reference's users expect.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import SparkSession

__all__ = [
    "catalog_add",
    "catalog_drop",
    "catalog_entries",
    "catalog_lookup",
    "catalog_root",
    "catalog_register",
    "warehouse_root",
]

_CATALOG_DIRNAME = "_snapshot_catalog"
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")


def warehouse_root(spark: SparkSession, root: str | None = None) -> str:
    """The warehouse root for this session: ``root`` argument >
    ``SPARK_GRAFT_CATALOG_ROOT`` env > the session's
    ``spark.sql.warehouse.dir``, without a ``file:`` scheme or a
    trailing slash. The catalog and the fact table live under it."""
    import os

    base = root or os.environ.get("SPARK_GRAFT_CATALOG_ROOT")
    if base is None:
        base = spark.conf.get("spark.sql.warehouse.dir")
    for scheme in ("file://", "file:"):
        if base.startswith(scheme):
            base = base[len(scheme):]
            break
    return base.rstrip("/")


def catalog_root(spark: SparkSession, root: str | None = None) -> str:
    """The catalog DIRECTORY for this session: the warehouse root
    suffixed with the catalog dirname, so a warehouse root passed
    directly never mixes catalog versions with table data."""
    return f"{warehouse_root(spark, root)}/{_CATALOG_DIRNAME}"


def _load_map(cdir: str) -> tuple[dict, int | None]:
    """(entries, latest_seq) — {} when the catalog doesn't exist yet."""
    from .manifestlog import list_docs, read_json

    seqs = list_docs(cdir)
    if not seqs:
        return {}, None
    doc = read_json(f"{cdir}/{seqs[-1]:08d}.json")
    return doc.get("tables", {}), seqs[-1]


def _cas_write(spark: SparkSession, cdir: str, mutate) -> dict:
    """Read-modify-CAS loop: load the latest map, apply ``mutate``
    (in place; may raise to refuse), publish as the next sequence with
    an exclusive create. A lost race re-reads and retries — concurrent
    adds of different names both land."""
    from .snapshots import _fs, _jp, _write_bytes_exclusive

    fs, jvm = _fs(spark, cdir)
    fs.mkdirs(_jp(jvm, cdir))
    for _ in range(50):
        entries, seq = _load_map(cdir)
        mutate(entries)
        nxt = 0 if seq is None else seq + 1
        body = json.dumps(
            {"tables": entries, "written_at": time.time()},
            sort_keys=True,
        ).encode("utf-8")
        if _write_bytes_exclusive(fs, _jp(jvm, cdir, f"{nxt:08d}.json"), body):
            return entries
    raise RuntimeError(
        f"catalog CAS at {cdir} lost 50 straight races — something is "
        "hot-looping commits"
    )


def catalog_entries(spark: SparkSession, root: str | None = None) -> dict:
    """All durable bindings: {lowercased name: {"name", "path",
    "version"?, "at_timestamp"?}}."""
    return _load_map(catalog_root(spark, root))[0]


def catalog_lookup(
    spark: SparkSession, name: str, root: str | None = None
) -> dict | None:
    return catalog_entries(spark, root).get(name.lower())


def catalog_add(
    spark: SparkSession,
    name: str,
    path: str,
    version: int | None = None,
    at_timestamp=None,
    root: str | None = None,
    register: bool = True,
) -> None:
    """Durably bind ``name`` to the snapshot table at ``path`` (with an
    optional time-travel pin — pinned names refuse mutation through the
    SQL front door exactly like pinned ``snapshot_register`` views).
    Re-adding overwrites, matching re-register semantics. By default
    also registers into THIS session so the name works immediately."""
    if not _NAME_RE.match(name):
        raise ValueError(
            f"catalog names must be simple identifiers "
            f"([A-Za-z_][A-Za-z_0-9]*); got {name!r}"
        )
    if at_timestamp is not None and not isinstance(at_timestamp, str):
        # the catalog body is JSON; datetimes must round-trip exactly
        at_timestamp = str(at_timestamp)
    rec = {"name": name, "path": path}
    if version is not None:
        rec["version"] = int(version)
    if at_timestamp is not None:
        rec["at_timestamp"] = at_timestamp

    if register:
        # register FIRST: it validates the path/pin (read_snapshot
        # raises on a missing table or vacuumed version), so a bad
        # binding never lands durably
        catalog_register(spark, rec)

    def mutate(entries: dict):
        entries[name.lower()] = rec

    _cas_write(spark, catalog_root(spark, root), mutate)


def catalog_drop(
    spark: SparkSession, name: str, root: str | None = None
) -> bool:
    """Remove the durable binding (and this session's view/registry
    entry). Returns whether the name existed."""
    from .snapshots import _SQL_REGISTRY

    found = [False]

    def mutate(entries: dict):
        found[0] = entries.pop(name.lower(), None) is not None

    _cas_write(spark, catalog_root(spark, root), mutate)
    rec = _SQL_REGISTRY.pop(name.lower(), None)
    try:
        spark.catalog.dropTempView(rec["name"] if rec else name)
    except Exception:
        pass
    return found[0]


def catalog_register(spark: SparkSession, rec: dict) -> None:
    """Materialize one durable binding into the session: temp view +
    in-memory registry entry, honoring the pin."""
    from .snapshots import snapshot_register

    snapshot_register(
        spark,
        rec["path"],
        rec["name"],
        version=rec.get("version"),
        at_timestamp=rec.get("at_timestamp"),
    )


def catalog_resolve_missing(
    spark: SparkSession, name: str, root: str | None = None
) -> bool:
    """The SQL front door's lazy hook: when a statement names a table
    the in-memory registry doesn't know, consult the durable catalog
    and register it on the spot. Returns whether the name resolved —
    NEVER raises: a stale binding (table directory deleted, pinned
    version vacuumed) resolves False so ownership probes keep their
    fall-through-to-spark.sql contract and the caller's own loud error
    names the real problem. One small catalog read + one manifest
    load, only on the miss path — sessions that never use durable
    names pay nothing."""
    from .snapshots import _SQL_REGISTRY

    if name.lower() in _SQL_REGISTRY:
        return True
    try:
        rec = catalog_lookup(spark, name, root)
    except Exception:
        return False
    if rec is None:
        return False
    return catalog_register_guarded(spark, rec)


def catalog_register_guarded(spark: SparkSession, rec: dict) -> bool:
    """Register one durable binding with the resolve-missing guards:

    - never hijack a USER-created temp view — a name that already
      resolves in the session but is not registry-tracked is the
      user's own view; silently replacing it would flip what their
      very next SELECT returns (snapshot_register views are always
      registry-tracked, so they never hit this guard);
    - a STALE binding (table directory deleted, pinned version
      vacuumed — both raise FileNotFoundError) resolves False so the
      caller's own loud error names the real problem;
    - anything else (storage timeouts, permission faults) PROPAGATES —
      masking an infra error as 'unknown table' would send the
      operator debugging a catalog problem that does not exist."""
    try:
        spark.table(rec["name"])
        return False
    except Exception:
        pass
    try:
        catalog_register(spark, rec)
    except FileNotFoundError:
        return False
    return True
