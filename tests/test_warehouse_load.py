"""Parity tests for the monthly load pipeline (FIXTURES.md §A).

Builds a synthetic raw FHVHV file — 13 consumed columns with source names
(PULocationID/DOLocationID as int64) plus decoy columns the projection must
drop — then exercises load_month/backfill semantics: schema parity,
idempotent re-run (no double insert), partition overwrite, ingest-log
anti-join.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.schema import FHVHV_WAREHOUSE_SCHEMA
from nyc_taxi_data_warehouse_spark.sources.discovery import discover_local
from nyc_taxi_data_warehouse_spark.warehouse import (
    backfill,
    init_warehouse,
    load_month,
)


def _make_raw_month(spark, path, year, month, n=200, seed=0):
    """Synthetic raw TLC-shaped file: consumed cols + decoys to drop."""
    base = dt.datetime(year, month, 1)
    rows = []
    for i in range(n):
        t = base + dt.timedelta(minutes=7 * i + seed)
        rows.append(
            (
                "HV0003" if i % 3 else "HV0005",
                f"B0{3404 + (i % 5)}",
                t,
                None if i % 11 == 0 else t + dt.timedelta(minutes=2),
                t + dt.timedelta(minutes=5),
                t + dt.timedelta(minutes=25),
                (i * 37) % 265 + 1,
                (i * 91) % 265 + 1,
                round(0.5 + i * 0.01, 2),
                2.75 if i % 2 else 0.0,
                1.25 if i % 7 == 0 else 0.0,
                round(i % 9 * 1.1, 2),
                round(10 + i * 0.37, 2),
                # decoys the projection must drop (real files are wider)
                float(i % 13),
                int(1200 + i),
            )
        )
    df = spark.createDataFrame(
        rows,
        "hvfhs_license_num string, dispatching_base_num string,"
        " request_datetime timestamp, on_scene_datetime timestamp,"
        " pickup_datetime timestamp, dropoff_datetime timestamp,"
        " PULocationID long, DOLocationID long, sales_tax double,"
        " congestion_surcharge double, airport_fee double, tips double,"
        " driver_pay double, trip_miles double, trip_time long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return n


@pytest.fixture(scope="module")
def raw_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("raw_fhvhv"))
    for year, month, n in [(2025, 1, 200), (2025, 2, 150)]:
        _make_raw_month(
            spark,
            os.path.join(root, str(year), f"fhvhv_tripdata_{year}-{month:02d}.parquet"),
            year,
            month,
            n=n,
        )
    return root


@pytest.fixture(scope="module")
def warehouse(spark):
    init_warehouse(spark, database="test_wh")
    return spark


def test_load_month_schema_and_rows(warehouse, raw_root):
    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    res = load_month(spark, path, 2025, 1)
    assert not res.skipped and res.rows == 200
    fact = spark.table("fhvhv_tripdata")
    data_cols = [f for f in fact.schema.fields if f.name not in ("year", "month")]
    assert [(f.name, f.dataType) for f in data_cols] == [
        (f.name, f.dataType) for f in FHVHV_WAREHOUSE_SCHEMA.fields
    ]
    # nulls flow through (on_scene_datetime nullable for inaccessible trips)
    assert fact.where(F.col("on_scene_datetime").isNull()).count() > 0


def test_load_month_idempotent(warehouse, raw_root):
    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    before = spark.table("fhvhv_tripdata").where("year=2025 AND month=1").count()
    res = load_month(spark, path, 2025, 1)  # re-run → skip via ingest_log
    assert res.skipped
    res = load_month(spark, path, 2025, 1, force=True)  # forced → overwrite
    assert not res.skipped and res.rows == before
    after = spark.table("fhvhv_tripdata").where("year=2025 AND month=1").count()
    assert after == before  # partition overwrite, never double-insert


def test_backfill_anti_join(warehouse, raw_root):
    spark = warehouse
    manifest = discover_local(raw_root)
    assert [(y, m) for _, y, m in manifest] == [(2025, 1), (2025, 2)]
    results = backfill(spark, manifest)
    # 2025-01 already ingested → anti-join leaves only 2025-02
    assert [(r.year, r.month, r.skipped) for r in results] == [(2025, 2, False)]
    assert spark.table("fhvhv_tripdata").where("year=2025 AND month=2").count() == 150
    # whole-table totals: both months, exactly once
    assert spark.table("fhvhv_tripdata").count() == 350


def test_partition_pruning(warehouse):
    spark = warehouse
    q = spark.table("fhvhv_tripdata").where("year=2025 AND month=2")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the month filter must be partition pruning, not a row filter
    assert "PartitionFilters" in plan or "partition" in plan.lower()


def test_cli_end_to_end(spark, tmp_path):
    """init → load-month → idempotent re-run → sql, via the CLI (with the
    test session injected so the CLI doesn't tear it down)."""
    from nyc_taxi_data_warehouse_spark.__main__ import main

    raw = str(tmp_path / "fhvhv_tripdata_2025-05.parquet")
    _make_raw_month(spark, raw, 2025, 5, n=60)

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    assert cli("init") == 0
    assert cli("load-month", "--path", raw, "--year", "2025", "--month", "5") == 0
    # second run: skipped, still exit 0 (idempotent)
    assert cli("load-month", "--path", raw, "--year", "2025", "--month", "5") == 0
    n = spark.sql(
        "SELECT count(*) AS n FROM nyc_taxi.fhvhv_tripdata WHERE year=2025 AND month=5"
    ).collect()[0]["n"]
    assert n == 60
    assert cli("sql", "SELECT 1 AS one") == 0
    # compaction sweep over the fact table runs clean (likely nothing
    # fragmented at this size — exit 0 and row counts unchanged matter)
    assert cli("compact", "--table", "nyc_taxi.fhvhv_tripdata") == 0
    n2 = spark.sql(
        "SELECT count(*) AS n FROM nyc_taxi.fhvhv_tripdata WHERE year=2025 AND month=5"
    ).collect()[0]["n"]
    assert n2 == 60


def test_monthly_zone_pay_flagship(warehouse, raw_root):
    """SURVEY §7 phase-1 query: partition-pruned scan + broadcast zone dim
    + hash agg + top-k, verified against a direct recomputation."""
    from nyc_taxi_data_warehouse_spark.plans import assert_broadcast_join
    from nyc_taxi_data_warehouse_spark.warehouse.queries import (
        monthly_zone_pay,
        taxi_zone_dim,
    )

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    load_month(spark, path, 2025, 1)

    result = monthly_zone_pay(spark, 2025, 1, top=10)
    rows = result.collect()
    assert 0 < len(rows) <= 10
    assert_broadcast_join(result)
    # top-k must run as TakeOrderedAndProject (no global sort)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # cross-check one zone against a direct recomputation from the raw file
    top = rows[0]
    raw = spark.read.parquet(path)
    expected = (
        raw.where(F.col("PULocationID") == top["zone_id"])
        .agg(
            F.sum(F.col("driver_pay").cast("decimal(18,2)")).cast("double").alias("pay"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    assert top["n_trips"] == expected["n"]
    assert abs(top["total_driver_pay"] - expected["pay"]) < 1e-9
    assert taxi_zone_dim(spark).count() == 265


def test_analyze_table_feeds_cbo(warehouse):
    from nyc_taxi_data_warehouse_spark.warehouse.layout import analyze

    spark = warehouse
    analyze(spark, "fhvhv_tripdata", columns=["pu_location_id", "driver_pay"])
    stats = spark.sql("DESCRIBE TABLE EXTENDED fhvhv_tripdata").where(
        "col_name = 'Statistics'"
    ).collect()
    assert stats and "bytes" in stats[0]["data_type"]


def test_load_rejects_malformed_raw_file(warehouse, tmp_path):
    """Trust-but-verify: missing/mistyped consumed columns fail fast with
    the precise gap named, before anything is written."""
    from nyc_taxi_data_warehouse_spark.warehouse.load import (
        RawSchemaError,
        load_month,
    )

    spark = warehouse
    bad = str(tmp_path / "fhvhv_tripdata_2026-01.parquet")
    spark.createDataFrame(
        [("HV0003", 12)], "hvfhs_license_num string, PULocationID long"
    ).write.parquet(bad)
    with pytest.raises(RawSchemaError, match="missing column 'driver_pay'"):
        load_month(spark, bad, 2026, 1)
    # nothing was written for the month
    assert (
        spark.table("fhvhv_tripdata").where("year=2026 AND month=1").count() == 0
    )


def test_constraint_checks_single_pass(warehouse, raw_root):
    from nyc_taxi_data_warehouse_spark.warehouse.load import transform_raw
    from nyc_taxi_data_warehouse_spark.warehouse.quality import check_constraints

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    df = transform_raw(spark.read.parquet(path))
    result = {r["rule"]: r for r in check_constraints(df).collect()}
    assert set(result) == {
        "license_num_is_hv_6char",
        "base_num_is_b_6char",
        "pickup_before_dropoff",
        "pu_zone_in_domain",
        "do_zone_in_domain",
        "driver_pay_not_null",
    }
    # the synthetic generator emits valid domains throughout
    assert all(r["n_violations"] == 0 for r in result.values())
    assert all(r["n_rows"] == 200 for r in result.values())

    # and a deliberately broken frame is caught
    bad = df.withColumn("pu_location_id", F.lit(999))
    got = {r["rule"]: r["n_violations"] for r in check_constraints(bad).collect()}
    assert got["pu_zone_in_domain"] == 200 and got["do_zone_in_domain"] == 0


def test_merge_upsert(warehouse, raw_root):
    """MERGE semantics on the plain parquet fact table: matched rows are
    replaced, new rows inserted, untouched partitions never rewritten."""
    from nyc_taxi_data_warehouse_spark.warehouse import merge_upsert

    spark = warehouse
    # ensure both months are loaded (module fixtures may run in any order)
    for month, path in [
        (1, os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")),
        (2, os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-02.parquet")),
    ]:
        load_month(spark, path, 2025, month, force=True)
    fact = spark.table("fhvhv_tripdata")
    m1_before = fact.where("year=2025 AND month=1").count()
    m2_rows_before = sorted(
        (r.request_datetime, r.driver_pay)
        for r in fact.where("year=2025 AND month=2").collect()
    )

    # corrections: overwrite driver_pay for 3 existing month-1 trips
    # (keyed by request_datetime+base) and insert 2 brand-new trips
    sample = (
        fact.where("year=2025 AND month=1")
        .orderBy("request_datetime")
        .limit(3)
        .collect()
    )
    cols = fact.columns
    as_rows = lambda rs: [tuple(r[c] for c in cols) for r in rs]  # noqa: E731
    corrections = spark.createDataFrame(as_rows(sample), fact.schema).withColumn(
        "driver_pay", F.lit(999.99)
    )
    inserts = spark.createDataFrame(as_rows(sample[:2]), fact.schema).withColumn(
        "request_datetime", F.col("request_datetime") + F.expr("INTERVAL 10 DAYS")
    )
    updates = corrections.unionByName(inserts)

    keys = ["request_datetime", "dispatching_base_num", "pu_location_id"]
    written = merge_upsert(
        spark, "fhvhv_tripdata", updates, keys=keys, partition_cols=["year", "month"]
    )
    assert written == m1_before + 2

    fact = spark.table("fhvhv_tripdata")
    assert fact.where("year=2025 AND month=1").count() == m1_before + 2
    # the 3 corrections carry the new pay; the 2 inserts keep the original
    assert fact.where("year=2025 AND month=1 AND driver_pay = 999.99").count() == 3
    # the untouched month-2 partition is byte-identical
    m2_rows_after = sorted(
        (r.request_datetime, r.driver_pay)
        for r in fact.where("year=2025 AND month=2").collect()
    )
    assert m2_rows_after == m2_rows_before


def test_merge_upsert_last_writer_wins(warehouse, raw_root):
    """A batch with several versions of one key applies only the highest
    version, deterministically."""
    from nyc_taxi_data_warehouse_spark.warehouse import merge_upsert

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    load_month(spark, path, 2025, 1, force=True)
    fact = spark.table("fhvhv_tripdata")
    n_before = fact.where("year=2025 AND month=1").count()
    row = (
        fact.where("year=2025 AND month=1").orderBy("request_datetime").limit(1).collect()[0]
    )
    base = {**row.asDict()}
    versions = spark.createDataFrame(
        [
            tuple({**base, "tips": 1.0, "driver_pay": 1.0}[c] for c in fact.columns),
            tuple({**base, "tips": 2.0, "driver_pay": 2.0}[c] for c in fact.columns),
        ],
        fact.schema,
    )
    keys = ["request_datetime", "dispatching_base_num", "pu_location_id"]
    merge_upsert(
        spark,
        "fhvhv_tripdata",
        versions,
        keys=keys,
        partition_cols=["year", "month"],
        version_col="tips",
    )
    fact = spark.table("fhvhv_tripdata")
    assert fact.where("year=2025 AND month=1").count() == n_before
    got = fact.where(
        (F.col("year") == 2025)
        & (F.col("month") == 1)
        & (F.col("request_datetime") == row.request_datetime)
        & (F.col("dispatching_base_num") == row.dispatching_base_num)
        & (F.col("pu_location_id") == row.pu_location_id)
    ).collect()
    assert len(got) == 1 and got[0].driver_pay == 2.0


def test_merge_upsert_prunes_to_touched_partitions(warehouse, raw_root):
    """The target-side scan must carry a partition filter from the
    broadcast semi-join (pruning, not a full-table read)."""
    from nyc_taxi_data_warehouse_spark.warehouse import merge_upsert

    spark = warehouse
    for month, path in [
        (1, os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")),
        (2, os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-02.parquet")),
    ]:
        load_month(spark, path, 2025, month, force=True)
    fact = spark.table("fhvhv_tripdata")
    one = fact.where("year=2025 AND month=1").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [tuple(one[c] for c in fact.columns)], fact.schema
    )
    keys = ["request_datetime", "dispatching_base_num", "pu_location_id"]

    # reproduce the pre-checkpoint plan merge_upsert builds and assert
    # the semi-join reaches the scan as a dynamic/partition filter
    touched = updates.select("year", "month").distinct()
    current = fact.join(F.broadcast(touched), ["year", "month"], "left_semi")
    plan = current._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    written = merge_upsert(
        spark, "fhvhv_tripdata", updates, keys=keys, partition_cols=["year", "month"]
    )
    # only month-1 rows were rewritten
    assert written == fact.where("year=2025 AND month=1").count()


def test_merge_upsert_via_staging_path(warehouse, raw_root, tmp_path):
    """staging_path merge (durable staging write + partition swap) must
    produce exactly the table the localCheckpoint path produces."""
    from nyc_taxi_data_warehouse_spark.warehouse import merge_upsert

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    keys = ["request_datetime", "dispatching_base_num", "pu_location_id"]

    def run(staging):
        load_month(spark, path, 2025, 1, force=True)
        fact = spark.table("fhvhv_tripdata")
        sample = (
            fact.where("year=2025 AND month=1")
            .orderBy("request_datetime")
            .limit(3)
            .collect()
        )
        ups = spark.createDataFrame(
            [tuple(r[c] for c in fact.columns) for r in sample], fact.schema
        ).withColumn("driver_pay", F.lit(777.77))
        n = merge_upsert(
            spark, "fhvhv_tripdata", ups, keys=keys,
            partition_cols=["year", "month"], staging_path=staging,
        )
        rows = sorted(
            map(tuple, spark.table("fhvhv_tripdata").where("year=2025 AND month=1").collect())
        )
        return n, rows

    n_ckpt, rows_ckpt = run(None)
    n_stage, rows_stage = run(str(tmp_path / "merge_staging"))
    assert n_stage == n_ckpt
    assert rows_stage == rows_ckpt
    assert (tmp_path / "merge_staging").exists()


def test_merge_upsert_safe_on_untuned_session(warehouse, raw_root):
    """A session left on Spark's static partitionOverwriteMode default
    (e.g. the external driver's untuned session) must NOT lose untouched
    partitions: the write entry points self-apply the engine confs."""
    from nyc_taxi_data_warehouse_spark.warehouse import merge_upsert

    spark = warehouse
    for month in (1, 2):
        load_month(
            spark,
            os.path.join(raw_root, "2025", f"fhvhv_tripdata_2025-{month:02d}.parquet"),
            2025, month, force=True,
        )
    fact = spark.table("fhvhv_tripdata")
    m2_before = fact.where("year=2025 AND month=2").count()
    assert m2_before > 0
    one = fact.where("year=2025 AND month=1").limit(1).collect()[0]
    ups = spark.createDataFrame(
        [tuple(one[c] for c in fact.columns)], fact.schema
    ).withColumn("driver_pay", F.lit(555.55))

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # simulate an untuned session
    try:
        merge_upsert(
            spark, "fhvhv_tripdata", ups,
            keys=["request_datetime", "dispatching_base_num", "pu_location_id"],
            partition_cols=["year", "month"],
        )
    finally:
        spark.conf.set(key, "dynamic")
    assert spark.table("fhvhv_tripdata").where("year=2025 AND month=2").count() == m2_before
    assert spark.table("fhvhv_tripdata").where("driver_pay = 555.55").count() == 1


@pytest.mark.parametrize("backend", ["managed", "snapshot"])
def test_load_month_idempotent_on_both_backends(
    warehouse, raw_root, tmp_path, backend
):
    """r4 worklist: the reference's one fact table must be loadable on
    EITHER storage backend with identical semantics — skip on re-run,
    partition overwrite (never double-insert) on force, same rows. On
    the snapshot backend idempotency comes from the manifest's load
    provenance, not the ingest log."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_versions,
    )

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    kw = (
        {"backend": "snapshot", "snapshot_path": str(tmp_path / "snap_fact")}
        if backend == "snapshot"
        else {}
    )
    res = load_month(spark, path, 2025, 1, force=True, **kw)
    assert not res.skipped and res.rows == 200
    res = load_month(spark, path, 2025, 1, **kw)
    assert res.skipped  # idempotent re-run
    res = load_month(spark, path, 2025, 1, force=True, **kw)
    assert not res.skipped and res.rows == 200

    if backend == "snapshot":
        tbl = read_snapshot(spark, kw["snapshot_path"])
        hist = snapshot_versions(spark, kw["snapshot_path"])
        # two real loads -> two versions, both replace_partitions
        assert [h["op"] for h in hist] == ["replace_partitions"] * 2
    else:
        tbl = spark.table("fhvhv_tripdata")
    month = tbl.where("year=2025 AND month=1")
    assert month.count() == 200  # overwrite, never double-insert


def test_load_backends_produce_identical_rows(warehouse, raw_root, tmp_path):
    """Same raw file through both backends -> hash-identical fact rows
    (the backends differ in storage mechanics only, never content)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
    )

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-02.parquet")
    load_month(spark, path, 2025, 2, force=True)
    snap = str(tmp_path / "snap_fact2")
    load_month(
        spark, path, 2025, 2, force=True, backend="snapshot",
        snapshot_path=snap,
    )
    managed = spark.table("fhvhv_tripdata").where("year=2025 AND month=2")
    snapped = read_snapshot(spark, snap).where("year=2025 AND month=2")
    cols = sorted(managed.columns)
    assert sorted(snapped.columns) == cols
    h = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).collect()
    assert h(managed) == h(snapped.select(*managed.columns))


def test_backfill_snapshot_backend_manifest_anti_join(
    warehouse, raw_root, tmp_path
):
    """backfill on the snapshot backend: already-landed months are
    skipped via the manifest provenance scan, remaining months load."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
    )

    spark = warehouse
    snap = str(tmp_path / "snap_fact3")
    manifest = discover_local(raw_root)
    load_month(
        spark,
        os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet"),
        2025, 1, backend="snapshot", snapshot_path=snap,
    )
    results = backfill(spark, manifest, backend="snapshot", snapshot_path=snap)
    assert [(r.year, r.month, r.skipped) for r in results] == [(2025, 2, False)]
    assert read_snapshot(spark, snap).count() == 350
    # a second backfill is a complete no-op
    assert backfill(spark, manifest, backend="snapshot", snapshot_path=snap) == []


def test_load_month_wap_publish_and_veto(warehouse, raw_root, tmp_path):
    """wap=True routes the monthly load through write-audit-publish:
    an approved load fast-forwards main (and its provenance survives
    the squash, so the re-run skips); a vetoed load raises and leaves
    main exactly at the prior month with the poisoned branch dropped."""
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        AuditFailed,
        list_branches,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_versions,
    )

    spark = warehouse
    snap = str(tmp_path / "wap_fact")
    p1 = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    p2 = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-02.parquet")

    res = load_month(spark, p1, 2025, 1, backend="snapshot",
                     snapshot_path=snap, wap=True)
    assert not res.skipped and res.rows == 200
    assert read_snapshot(spark, snap).count() == 200
    # bootstrap empty v1 + the published month
    assert [h["op"] for h in snapshot_versions(spark, snap)] \
        == ["overwrite", "publish"]
    # provenance carried through the publish squash -> re-run skips
    assert load_month(spark, p1, 2025, 1, backend="snapshot",
                      snapshot_path=snap, wap=True).skipped

    # vetoed month: main untouched, branch dropped
    with pytest.raises(AuditFailed):
        load_month(spark, p2, 2025, 2, backend="snapshot",
                   snapshot_path=snap, wap=True,
                   audit=lambda df: False)
    tbl = read_snapshot(spark, snap)
    assert tbl.count() == 200
    assert tbl.where("month = 2").count() == 0
    assert list_branches(spark, snap) == []

    # approved month (default audit): published
    res2 = load_month(spark, p2, 2025, 2, backend="snapshot",
                      snapshot_path=snap, wap=True)
    assert not res2.skipped and res2.rows == 150
    assert read_snapshot(spark, snap).count() == 350


def test_load_month_wap_cli(warehouse, raw_root, tmp_path, capsys):
    """CLI e2e: --snapshot-path --wap publishes a good month (exit 0);
    a month whose default audit fails (zero rows) exits 1 and leaves
    main at the prior month."""
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
    )

    spark = warehouse
    snap = str(tmp_path / "wap_cli_fact")
    p1 = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731

    assert cli(
        "load-month", "--path", p1, "--year", "2025", "--month", "1",
        "--snapshot-path", snap, "--wap",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 200 and not out["skipped"]
    assert read_snapshot(spark, snap).count() == 200

    # an EMPTY month: default audit (rows > 0) vetoes, exit 1
    p_empty = str(tmp_path / "fhvhv_tripdata_2025-03.parquet")
    _make_raw_month(spark, p_empty, 2025, 3, n=0)
    assert cli(
        "load-month", "--path", p_empty, "--year", "2025", "--month", "3",
        "--snapshot-path", snap, "--wap",
    ) == 1
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "audit_failed"
    tbl = read_snapshot(spark, snap)
    assert tbl.count() == 200 and tbl.where("month = 3").count() == 0


def test_load_month_wap_self_heals_leftover_branch(
    warehouse, raw_root, tmp_path
):
    """ADVICE r7: a leftover `load-YYYY-MM` branch (publish-time
    conflict keeps the branch; a crash can strand it too) must not
    brick every retry of that month — WAP entry drops the debris and
    the retry publishes normally."""
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        create_branch,
        list_branches,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_write,
    )

    spark = warehouse
    snap = str(tmp_path / "wap_heal")
    p1 = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    # bootstrap a head to branch from, then strand a same-name branch
    # with divergent junk on it (as a crashed/conflicted run would)
    snapshot_write(
        spark.createDataFrame([], "trip_miles double, year int, month int"),
        snap,
        partition_cols=["year", "month"],
    )
    create_branch(spark, snap, "load-2025-01")
    assert list_branches(spark, snap) == ["load-2025-01"]

    res = load_month(spark, p1, 2025, 1, backend="snapshot",
                     snapshot_path=snap, wap=True)
    assert not res.skipped and res.rows == 200
    assert read_snapshot(spark, snap).where(
        "year=2025 AND month=1"
    ).count() == 200
    assert list_branches(spark, snap) == []  # healed AND cleaned up


def test_obs_rows_probes_jvm_state_not_exception_text():
    """ADVICE r7: the zero-task detection must come from the JVM
    Observation's metrics map being UNPOPULATED, not from substring-
    matching 'AssertionError' — an unrelated JVM assertion with a
    populated map must re-raise, never record rows=0 provenance."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import _observed

    class _Row:
        # Spark 4.1.2: a never-populated Observation's getRow() is a
        # schema-less GenericRow of size 0 (getOrEmpty NPEs on it)
        def __init__(self, size):
            self._size = size

        def size(self):
            return self._size

    class _JO:
        def __init__(self, size):
            self._size = size

        def getRow(self):
            return _Row(self._size)

    class _Obs:
        def __init__(self, size):
            self._jo = _JO(size)

        @property
        def get(self):
            raise RuntimeError(
                "java.lang.AssertionError: assertion failed mid-write"
            )

    # metrics never populated (empty row) -> the zero-task case -> 0
    assert _observed(_Obs(size=0), rows=0) == {"rows": 0}
    # populated row + AssertionError TEXT: a real failure, re-raises
    with pytest.raises(RuntimeError, match="assertion failed"):
        _observed(_Obs(size=1), rows=0)

    class _Happy:
        _jo = None
        get = {"rows": 7}

    assert _observed(_Happy(), rows=0) == {"rows": 7}
