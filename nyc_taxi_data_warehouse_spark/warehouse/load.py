"""Idempotent monthly load — the whole reference DAG as one callable.

Reference pipeline (SURVEY.md §3.1): Airflow branch-check → scrape URL →
download → S3 multipart upload → EMR step (``data/emr/etl.py``: read parquet
→ cast/rename 2 cols → project 13 → JDBC append to Redshift) → step sensor.

Here it collapses to ``load_month(spark, path, year, month)``:

  read (explicit schema) → cast+rename (≙ etl.py:21-26) → project 13
  (≙ etl.py:28-43) → replace the (year, month) partition of the snapshot
  fact table in one commit that records the load's provenance.

Two deliberate upgrades over the reference:
- **Partition replace** instead of blind append (etl.py:53-55):
  re-running a month replaces it atomically rather than double-inserting
  — the reference's idempotency hole (its guard is only file-level,
  save_nyc_data_to_s3.py:58-78).
- **Manifest provenance** for backfill (≙ populate_s3.py:70-82): the
  reference HEAD-checks S3 once per file; at 100 TB / thousands of files
  that is O(n) API calls, here it's one metadata-only manifest replay.

The pipeline is narrow (scan → project → write, zero shuffles); at scale
the only knob that matters is input split size, handled in session.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import FHVHV_WAREHOUSE_SCHEMA, SOURCE_RENAMES
from .catalog import PARTITION_COLS, ensure_table, fact_path
from .snapshots import _observed, snapshot_replace_partitions


@dataclass(frozen=True)
class LoadResult:
    year: int
    month: int
    rows: int
    skipped: bool


class RawSchemaError(ValueError):
    """The raw file is missing consumed columns or has wrong types."""


def validate_raw_schema(df: DataFrame) -> None:
    """Trust-but-verify the bronze read (SURVEY.md §1.2): the raw file may
    be wider than the warehouse schema (extra columns are fine — the
    projection drops them) but every CONSUMED column must exist with a
    compatible type, or the load fails fast with the precise gap instead
    of writing nulls/garbage into the fact table."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems: list[str] = []
    for f in FHVHV_WAREHOUSE_SCHEMA.fields:
        src = {v: k for k, v in SOURCE_RENAMES.items()}.get(f.name, f.name)
        want = f.dataType.simpleString()
        got = have.get(src)
        ok = {
            "int": {"int", "bigint"},  # location ids arrive int64, cast down
            "timestamp": {"timestamp", "timestamp_ntz"},
        }.get(want, {want})
        if got is None:
            problems.append(f"missing column {src!r} (needed for {f.name})")
        elif got not in ok:
            problems.append(f"{src!r}: expected one of {sorted(ok)}, got {got!r}")
    if problems:
        raise RawSchemaError("; ".join(problems))


def transform_raw(df: DataFrame) -> DataFrame:
    """Cast/rename + 13-column projection (≙ data/emr/etl.py:21-43).

    The raw TLC file is wider than the warehouse schema; projection is a
    modeling decision (SURVEY.md §1.2) and also lets Catalyst prune the
    parquet scan to exactly the referenced columns.
    """
    for src, dst in SOURCE_RENAMES.items():
        df = df.withColumn(dst, F.col(src).cast("integer"))
    return df.select(*[f.name for f in FHVHV_WAREHOUSE_SCHEMA.fields])


def load_month(
    spark: SparkSession,
    path: str,
    year: int,
    month: int,
    force: bool = False,
    backend: str = "snapshot",
    snapshot_path: str | None = None,
    wap: bool = False,
    audit=None,
    _loaded_months: set[tuple[int, int]] | None = None,
) -> LoadResult:
    """Load one monthly file into the partitioned fact table, idempotently.

    The fact table is the ``warehouse.snapshots`` table at
    ``snapshot_path`` (default: ``<warehouse root>/fhvhv_tripdata``, see
    ``catalog.fact_path``). The month lands via
    ``snapshot_replace_partitions``: readers keep their pinned version,
    and a crash leaves only an orphan commit dir. Idempotency comes from
    the MANIFEST itself: each load commit records its ``(year, month,
    source_path, rows)`` provenance, so the already-loaded check is a
    metadata-only manifest scan. ``backend`` must be ``"snapshot"``, the
    one table format.

    ``wap=True`` routes the load through write-audit-publish: the month
    lands on an isolated branch, the ``audit`` callback inspects the
    branch head (default: schema matches the transform's output and the
    observed row count is positive), and only an approved load
    fast-forwards main — the engine-native answer to the reference's
    validate-by-inspection step (/root/reference/README.md:77, "check
    the data" before exposing it). A failed audit raises
    ``branching.AuditFailed`` and leaves main exactly at the prior month
    (the poisoned branch is dropped). ``audit`` receives the branch-head
    DataFrame and returns truthy to approve.
    """
    if backend != "snapshot":
        raise ValueError(
            f"backend must be 'snapshot', the one table format; got {backend!r}"
        )
    snapshot_path = fact_path(spark, snapshot_path)
    if not force:
        # the whole-history manifest scan is skipped entirely under
        # force (its result would be unused), and backfill threads its
        # already-computed set through `_loaded_months` so M loads cost
        # one scan, not M
        already = (
            _loaded_months
            if _loaded_months is not None
            else _snapshot_loaded_months(spark, snapshot_path)
        )
        if (year, month) in already:
            return LoadResult(year, month, rows=0, skipped=True)

    from pyspark.sql import Observation

    raw = spark.read.parquet(path)
    validate_raw_schema(raw)
    out = transform_raw(raw).withColumns(
        {"year": F.lit(year).cast("int"), "month": F.lit(month).cast("int")}
    )
    # Piggyback the row count on the write job itself (Observation) —
    # a post-write count() would re-scan the whole partition, a second
    # full pass at 100 TB. snapshot_replace_partitions writes the commit
    # files before the manifest flips, and the Observation is populated
    # by that same write job — so the rows figure lands in the
    # provenance-carrying manifest without a second scan.
    obs = Observation(f"load_{year}_{month}")
    out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    rows_holder: dict[str, int] = {}

    def _load_extra() -> dict:
        rows_holder["rows"] = _observed(obs, rows=0)["rows"]
        return {
            "load": {
                "year": year,
                "month": month,
                "source_path": path,
                "rows": rows_holder["rows"],
            }
        }

    if not wap:
        snapshot_replace_partitions(
            out, snapshot_path, PARTITION_COLS, extra=_load_extra
        )
        return LoadResult(year, month, rows=rows_holder["rows"], skipped=False)

    from .branching import drop_branch, write_audit_publish

    # WAP forks from an existing head; a first-ever load publishes an
    # EMPTY v1 to branch from, so a vetoed first month still leaves
    # main a readable empty table.
    ensure_table(spark, snapshot_path)

    def _wap_write(ref: str) -> None:
        snapshot_replace_partitions(
            out, ref, PARTITION_COLS, extra=_load_extra
        )

    def _default_audit(df) -> bool:
        want = {
            (f.name, f.dataType.simpleString()) for f in out.schema.fields
        }
        got = {(f.name, f.dataType.simpleString()) for f in df.schema.fields}
        return got == want and rows_holder["rows"] > 0

    wap_branch = f"load-{year}-{month:02d}"
    # Self-healing retries: a publish-time SnapshotConflict (which
    # deliberately keeps the branch) or a crash before drop_branch
    # leaves `load-YYYY-MM` behind, and the fixed name would then fail
    # every retry of the same month in create_branch. A leftover here is
    # always debris — the month's load either never published (so its
    # branch state is superseded by this re-run) or did publish (in
    # which case the manifest-replay skip above already returned).
    try:
        drop_branch(spark, snapshot_path, wap_branch, reclaim=True)
    except FileNotFoundError:
        pass
    write_audit_publish(
        spark,
        snapshot_path,
        wap_branch,
        _wap_write,
        audit or _default_audit,
        keep_branch_on_failure=False,
    )
    return LoadResult(year, month, rows=rows_holder["rows"], skipped=False)


def _snapshot_loaded_months(
    spark: SparkSession, snapshot_path: str
) -> set[tuple[int, int]]:
    """(year, month) pairs present in the CURRENT table version —
    REPLAYED from the commit manifests' ``load`` provenance in version
    order, honoring ``snapshot_restore`` commits (a restore resets the
    loaded set to the restored version's: months rolled back must
    become loadable again, or they would stay silently missing while
    the provenance says "loaded"). Metadata only: one small JSON per
    retained version, no data files touched. Months whose provenance
    (or restore target) was vacuumed out of history conservatively
    re-load — replace_partitions makes the re-load idempotent. A
    storage fault propagates: reading it as "nothing loaded" would make
    backfill reload the whole history."""
    from .manifestlog import list_versions, load_manifest

    versions = list_versions(snapshot_path)
    states: dict[int, set[tuple[int, int]]] = {}
    cur: set[tuple[int, int]] = set()
    for v in versions:
        man = load_manifest(snapshot_path, v)
        rf = man.get("restored_from")
        if rf is not None:
            cur = set(states.get(rf, set()))
        else:
            cur = set(cur)
            li = man.get("load")
            if li:
                cur.add((li["year"], li["month"]))
        states[v] = cur
    return cur


def backfill(
    spark: SparkSession,
    manifest: list[tuple[str, int, int]],
    snapshot_path: str | None = None,
) -> list[LoadResult]:
    """Load every not-yet-ingested (path, year, month) from a manifest,
    in (year, month) order.

    ≙ populate_s3.py main loop, but the "already ingested?" check is one
    replay of the fact table's commit manifests instead of a HEAD call
    per file. Both sides are driver-held lists, so the filter runs in
    Python and launches no Spark job.
    """
    if not manifest:
        return []
    snapshot_path = fact_path(spark, snapshot_path)
    loaded = _snapshot_loaded_months(spark, snapshot_path)
    todo = sorted(
        (e for e in manifest if (e[1], e[2]) not in loaded),
        key=lambda e: (e[1], e[2]),
    )
    # thread the already-computed loaded set through: the filter above
    # is the idempotency gate; without threading, every load_month call
    # would redo the whole-history manifest scan
    return [
        load_month(
            spark, source_path, year, month,
            snapshot_path=snapshot_path, _loaded_months=loaded,
        )
        for source_path, year, month in todo
    ]
