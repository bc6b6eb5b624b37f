"""Incrementally-maintained derived snapshot tables (materialized
views over the snapshot change feed).

Composes the two exactly-once ends this package already has:

  snapshot table A --(snapshot_feed source: offsets = versions)-->
  stateless transform --(stream_snapshot_append: one commit per
  micro-batch, epoch-keyed idempotent)--> snapshot table B

so ``B == transform(A)`` stays true as A grows, while each refresh
costs only the files appended to A since the last run — the classic
incremental-view-maintenance contract for append-only sources, with
BOTH the read position (checkpointed offsets) and the write
(manifest-recorded epochs) surviving crashes and replays.

Two view classes, both in this module:

- ``materialize_incremental`` — STATELESS row-monotone transforms
  (filter / project / enrich / explode — anything where
  transform(A ∪ ΔA) == transform(A) ∪ transform(ΔA)); each refresh
  appends the new rows' transform output.
- ``materialize_aggregate`` — grouped aggregations kept as MERGEABLE
  partials (count/sum/min/max/HLL-distinct); each refresh folds the
  new rows' partials into the current state.

(``streaming/rollup_sink.py`` remains the domain-specific hourly
events rollup; this module is the generic machinery.) Row-level
updates/deletes to the source are not expressible as an append feed —
both views fail loudly on row-changing non-append commits. The one
rewrite shape routine operation WILL hit — ``snapshot_compact`` on the
source — is row-neutral by construction, so the views consume the feed
with ``onNonAppend='verify'``: a commit proven row-neutral (op ==
"compact" with footer-equal row totals) streams zero rows and the view
keeps refreshing; a genuine delete/update/replace still fails loudly
(the dial is deliberately not exposed — silently skipping a
row-changing rewrite would corrupt the derived table).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.snapshots import stream_snapshot_append
from .snapshot_source import read_snapshot_stream


def materialize_incremental(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    transform: Callable[[DataFrame], DataFrame],
    checkpoint: str,
    stream_id: str = "mv",
    partition_cols: list[str] | None = None,
    starting_version: int | str = 0,
) -> None:
    """One incremental refresh: consume src versions appended since the
    checkpoint, apply ``transform``, append the result to ``dst_path``
    as one new version per micro-batch. Re-running with no new source
    commits is a no-op (no empty version is published)."""
    feed = read_snapshot_stream(
        spark, src_path, starting_version=starting_version,
        on_non_append="verify",
    )
    stream_snapshot_append(
        spark,
        transform(feed),
        dst_path,
        checkpoint,
        stream_id,
        partition_cols=partition_cols,
    )


# aggregate-spec -> (partial expr over the raw batch, merge expr over
# unioned partials). Only MERGEABLE aggregates belong here: the derived
# table stores partials, and a refresh folds batch partials into them
# with the merge expr — count re-aggregates with SUM, sum with SUM,
# min/max with themselves, approx_distinct keeps a binary HLL sketch
# column merged with hll_union_agg (read the estimate via
# ``read_aggregate_view``). avg is deliberately absent (not mergeable
# as a scalar); derive it as sum/count downstream.
_MERGEABLE = {
    # ("count",) = count(*); ("count", col) = non-null count of col —
    # silently treating the second form as the first would diverge
    # from the groupBy(...).agg(F.count(col)) the caller meant
    "count": (lambda c: F.count(F.lit(1)) if c is None else F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
    "approx_distinct": (lambda c: F.hll_sketch_agg(c), F.hll_union_agg),
}


def materialize_aggregate(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    aggs: dict[str, tuple],
    checkpoint: str,
    stream_id: str = "agg_mv",
    starting_version: int | str = 0,
    keep_versions: int | None = None,
) -> None:
    """Incrementally-maintained AGGREGATING view: ``dst`` holds
    ``src.groupBy(keys).agg(...)`` as mergeable partials, refreshed per
    source commit without rescanning the source table.

    ``aggs`` maps output column → spec: ``("count",)``, ``("sum", col)``,
    ``("min", col)``, ``("max", col)``. Each refresh aggregates ONLY the
    newly-appended files (the feed), then folds those partials into the
    current derived table with the aggregate's merge function — the
    classic partial-aggregation contract, so refresh cost is
    O(new data + |groups|), never O(source).

    A key is either a source column name or a TIME BUCKET spec
    ``(alias, unit, ts_col)`` — ``("ev_hour", "hour", "ts")`` groups by
    ``date_trunc('hour', ts) AS ev_hour``. Because the stored values
    are mergeable partials, a finer-bucketed view REMAINS re-aggregable
    coarser at read time (hourly → daily is one groupBy over |groups|
    rows, never the source) — so keep the view at the finest granule
    any consumer needs and derive the rest.

    Exactly-once: the feed's offsets are checkpointed, and every
    publish records ``(stream_id, epoch)`` in the derived table's
    manifest — ``stream_snapshot_append``'s replay guard, except each
    epoch publishes a full OVERWRITE commit of the merged state (a
    replayed epoch is skipped; a crash before the manifest flip leaves
    the old state for the replay to redo). Row-changing non-append
    source commits fail loudly: merged partials cannot un-merge deleted
    rows — rebuild the view or restore the source. Verified row-neutral
    compactions pass (zero rows, see ``onNonAppend='verify'``).

    ``keep_versions`` (>= 2) vacuums the derived table down to that
    many versions after each refresh run — every refresh is one commit,
    so an unvacuumed view's history grows per epoch forever. 2 is safe
    for the replay guard: Structured Streaming replays at most the
    LATEST uncommitted batch, whose manifest any retention keeps;
    older epochs' manifests are only ever read as history."""
    from ..warehouse.manifestlog import list_versions, load_manifest
    from ..warehouse.snapshots import (
        _commit,
        _write_commit_files,
        read_snapshot,
    )

    for name, spec in aggs.items():
        if spec[0] not in _MERGEABLE:
            raise ValueError(
                f"agg {name!r}: {spec[0]!r} is not mergeable; supported: "
                f"{sorted(_MERGEABLE)} (derive avg as sum/count)"
            )

    # a str key groups the raw batch by that column; a (alias, unit,
    # ts_col) key by date_trunc. The MERGE side always groups by the
    # output NAME — the partials table already carries the bucketed
    # column under its alias.
    group_exprs = [
        k if isinstance(k, str) else F.date_trunc(k[1], k[2]).alias(k[0])
        for k in keys
    ]
    key_names = [k if isinstance(k, str) else k[0] for k in keys]

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(*group_exprs).agg(
            *[
                _MERGEABLE[s[0]][0](s[1] if len(s) > 1 else None).alias(n)
                for n, s in aggs.items()
            ]
        )

    def merge(cur: DataFrame, batch_p: DataFrame) -> DataFrame:
        return cur.unionByName(batch_p).groupBy(*key_names).agg(
            *[_MERGEABLE[s[0]][1](n).alias(n) for n, s in aggs.items()]
        )

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        versions = list_versions(dst_path)
        for v in versions:
            man = load_manifest(dst_path, v)
            if man.get("stream_id") == stream_id and man.get("epoch") == epoch:
                return  # replayed epoch: already published
        new_p = partials(batch)
        if versions:
            merged = merge(read_snapshot(spark, dst_path), new_p)
        else:
            merged = new_p
        merged = merged.localCheckpoint(eager=True)
        _, files = _write_commit_files(merged, dst_path, None)
        _commit(
            spark,
            dst_path,
            files,
            merged.schema,
            "agg_refresh",
            versions[-1] if versions else None,
            extra={"stream_id": stream_id, "epoch": epoch},
            dv_files=None,  # full rewrite each refresh, nothing carried
            colmap=None,  # ditto: fresh files, fresh column identity
            defaults=None,
        )

    feed = read_snapshot_stream(
        spark, src_path, starting_version=starting_version,
        on_non_append="verify",
    )
    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            "keep_versions must be >= 2 (the latest batch's manifest is "
            "the replay guard)"
        )
    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if keep_versions is not None:
        from ..warehouse.snapshots import vacuum_snapshots

        if list_versions(dst_path):
            vacuum_snapshots(spark, dst_path, keep_last=keep_versions)


def read_aggregate_view(
    spark: SparkSession,
    dst_path: str,
    aggs: dict[str, tuple],
    derived: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read a ``materialize_aggregate`` view with sketch partials
    resolved to consumable values — ``approx_distinct`` columns become
    their HLL estimates (long); everything else reads as stored.

    ``derived`` adds read-side RATIO measures over the stored partials
    — the ergonomic face of "avg is not mergeable, store sum+count":
    ``{"avg_x": ("sum_x", "cnt")}`` appends
    ``sum_x / cnt AS avg_x`` (``try_divide``: an empty group reads as
    NULL, exactly what ``avg`` over zero rows returns). Derivation
    costs |groups| scalar divisions at read time, never a source scan,
    and the stored partials stay mergeable for coarser re-aggregation.
    """
    from ..warehouse.snapshots import read_snapshot

    df = read_snapshot(spark, dst_path)
    for name, spec in aggs.items():
        if spec[0] == "approx_distinct":
            df = df.withColumn(name, F.hll_sketch_estimate(F.col(name)))
    for name, (num, den) in (derived or {}).items():
        df = df.withColumn(name, F.try_divide(F.col(num), F.col(den)))
    return df
