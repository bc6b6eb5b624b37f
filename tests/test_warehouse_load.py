"""Parity tests for the monthly load pipeline (FIXTURES.md §A).

Builds a synthetic raw FHVHV file — 13 consumed columns with source names
(PULocationID/DOLocationID as int64) plus decoy columns the projection must
drop — then exercises load_month/backfill semantics against the snapshot
fact table: schema parity, idempotent re-run (no double insert),
partition replace, provenance-filtered backfill, keyed MERGE.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.schema import FHVHV_WAREHOUSE_SCHEMA
from nyc_taxi_data_warehouse_spark.sources.discovery import discover_local
from nyc_taxi_data_warehouse_spark.warehouse import (
    backfill,
    init_warehouse,
    load_month,
)
from nyc_taxi_data_warehouse_spark.warehouse.catalog import (
    FACT_TABLE,
    fact_path,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    _SQL_REGISTRY,
    read_snapshot,
    snapshot_merge,
    snapshot_versions,
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
def warehouse(spark, tmp_path_factory):
    """The session over a fresh warehouse root: ``init_warehouse`` has
    created the fact table at its default path and bound its name."""
    root = str(tmp_path_factory.mktemp("wh_root"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CATALOG_ROOT", root)
        init_warehouse(spark)
        yield spark
        _forget_name(spark, FACT_TABLE)


def _forget_name(spark, name):
    """Drop a name's session registration, as a new process starts."""
    _SQL_REGISTRY.pop(name, None)
    spark.catalog.dropTempView(name)


def _fact(spark):
    """The fact table's head at its default path."""
    return read_snapshot(spark, fact_path(spark))


def test_load_month_schema_and_rows(warehouse, raw_root):
    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    res = load_month(spark, path, 2025, 1)
    assert not res.skipped and res.rows == 200
    fact = _fact(spark)
    data_cols = [f for f in fact.schema.fields if f.name not in ("year", "month")]
    assert [(f.name, f.dataType) for f in data_cols] == [
        (f.name, f.dataType) for f in FHVHV_WAREHOUSE_SCHEMA.fields
    ]
    # nulls flow through (on_scene_datetime nullable for inaccessible trips)
    assert fact.where(F.col("on_scene_datetime").isNull()).count() > 0


def test_load_month_idempotent(warehouse, raw_root):
    """Skip on re-run (the manifest's load provenance, not a log table),
    partition replace (never double-insert) on force: each real load is
    one replace_partitions version."""
    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    load_month(spark, path, 2025, 1)
    before = _fact(spark).where("year=2025 AND month=1").count()
    n_versions = len(snapshot_versions(spark, fact_path(spark)))
    res = load_month(spark, path, 2025, 1)  # re-run → skip via provenance
    assert res.skipped
    assert len(snapshot_versions(spark, fact_path(spark))) == n_versions
    res = load_month(spark, path, 2025, 1, force=True)  # forced → replace
    assert not res.skipped and res.rows == before
    hist = snapshot_versions(spark, fact_path(spark))
    assert [h["op"] for h in hist[n_versions:]] == ["replace_partitions"]
    after = _fact(spark).where("year=2025 AND month=1").count()
    assert after == before  # partition replace, never double-insert


def test_load_month_refuses_other_backends(warehouse, raw_root):
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    with pytest.raises(ValueError, match="backend must be 'snapshot'"):
        load_month(warehouse, path, 2025, 1, backend="managed")


def test_load_month_raises_on_a_storage_fault(
    warehouse, raw_root, tmp_path, monkeypatch
):
    """A failing version listing is not "nothing loaded yet": the load
    raises and commits nothing, instead of reloading the month."""
    from nyc_taxi_data_warehouse_spark.warehouse import manifestlog

    spark = warehouse
    snap = str(tmp_path / "fault_fact")
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    load_month(spark, path, 2025, 1, snapshot_path=snap)

    def broken(_path):
        raise OSError("storage unavailable")

    with monkeypatch.context() as m:
        m.setattr(manifestlog, "list_versions", broken)
        with pytest.raises(OSError, match="storage unavailable"):
            load_month(spark, path, 2025, 1, snapshot_path=snap)
    assert [h["op"] for h in snapshot_versions(spark, snap)] == [
        "replace_partitions"
    ]


def test_backfill_anti_join(warehouse, raw_root):
    spark = warehouse
    load_month(
        spark,
        os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet"),
        2025, 1,
    )
    manifest = discover_local(raw_root)
    assert [(y, m) for _, y, m in manifest] == [(2025, 1), (2025, 2)]
    results = backfill(spark, manifest)
    # 2025-01 already ingested → only 2025-02 loads
    assert [(r.year, r.month, r.skipped) for r in results] == [(2025, 2, False)]
    assert _fact(spark).where("year=2025 AND month=2").count() == 150
    # whole-table totals: both months, exactly once
    assert _fact(spark).count() == 350


def test_partition_pruning(warehouse, raw_root):
    """A one-month read opens only that month's files: the manifest
    prunes them before any file opens."""
    spark = warehouse
    for month in (1, 2):
        load_month(
            spark,
            os.path.join(raw_root, "2025", f"fhvhv_tripdata_2025-{month:02d}.parquet"),
            2025, month,
        )
    q = read_snapshot(
        spark, fact_path(spark), partitions={"year": 2025, "month": 2}
    )
    files = q.inputFiles()
    assert files and all("/year=2025/month=2/" in f for f in files)
    assert q.count() == 150


def test_cli_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """init → load-month → idempotent re-run → sql by name → OPTIMIZE,
    via the CLI (with the test session injected so the CLI doesn't tear
    it down); a fresh session resolves the name from the durable
    catalog."""
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    monkeypatch.setenv("SPARK_GRAFT_CATALOG_ROOT", str(tmp_path / "wh"))
    raw = str(tmp_path / "fhvhv_tripdata_2025-05.parquet")
    _make_raw_month(spark, raw, 2025, 5, n=60)

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731

    def count():
        capsys.readouterr()
        assert cli(
            "sql",
            "SELECT count(*) AS n FROM fhvhv_tripdata WHERE year=2025 AND month=5",
        ) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["n"]

    try:
        assert cli("init") == 0
        assert cli("load-month", "--path", raw, "--year", "2025", "--month", "5") == 0
        # second run: skipped, still exit 0 (idempotent)
        capsys.readouterr()
        assert cli("load-month", "--path", raw, "--year", "2025", "--month", "5") == 0
        assert _json.loads(capsys.readouterr().out)["skipped"]
        assert count() == 60
        assert cli("sql", "OPTIMIZE fhvhv_tripdata") == 0
        assert count() == 60
        _forget_name(spark, FACT_TABLE)
        assert count() == 60
    finally:
        _forget_name(spark, FACT_TABLE)


def test_monthly_zone_pay_flagship(warehouse, raw_root):
    """SURVEY §7 phase-1 query: manifest-pruned scan + broadcast zone dim
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
    # only the month's files are scanned
    files = result.inputFiles()
    assert files and all("/year=2025/month=1/" in f for f in files)

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


def test_analyze_table_feeds_cbo(spark):
    from nyc_taxi_data_warehouse_spark.warehouse.layout import analyze

    table = "cbo_probe"
    spark.range(0, 100).selectExpr(
        "id", "cast(id % 7 AS double) AS pay"
    ).write.mode("overwrite").saveAsTable(table)
    try:
        analyze(spark, table, columns=["id", "pay"])
        stats = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").where(
            "col_name = 'Statistics'"
        ).collect()
        assert stats and "bytes" in stats[0]["data_type"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


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
    n_versions = len(snapshot_versions(spark, fact_path(spark)))
    with pytest.raises(RawSchemaError, match="missing column 'driver_pay'"):
        load_month(spark, bad, 2026, 1)
    # nothing was written for the month
    assert len(snapshot_versions(spark, fact_path(spark))) == n_versions
    assert _fact(spark).where("year=2026 AND month=1").count() == 0


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


def _load_both_months(spark, raw_root):
    for month in (1, 2):
        load_month(
            spark,
            os.path.join(raw_root, "2025", f"fhvhv_tripdata_2025-{month:02d}.parquet"),
            2025, month, force=True,
        )


def _month_files(spark, month):
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    path = fact_path(spark)
    files = load_manifest(path, list_versions(path)[-1])["files"]
    return sorted(f for f in files if f"/month={month}/" in f)


MERGE_KEYS = ["request_datetime", "dispatching_base_num", "pu_location_id"]


def test_merge_upsert(warehouse, raw_root):
    """MERGE semantics on the snapshot fact table: matched rows are
    replaced, new rows inserted, untouched partitions carried by
    reference (never rewritten)."""
    spark = warehouse
    _load_both_months(spark, raw_root)
    fact = _fact(spark)
    m1_before = fact.where("year=2025 AND month=1").count()
    m2_files = _month_files(spark, 2)

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

    snapshot_merge(
        spark, fact_path(spark), updates, keys=MERGE_KEYS,
        partition_cols=["year", "month"],
    )

    fact = _fact(spark)
    assert fact.where("year=2025 AND month=1").count() == m1_before + 2
    # the 3 corrections carry the new pay; the 2 inserts keep the original
    assert fact.where("year=2025 AND month=1 AND driver_pay = 999.99").count() == 3
    # the untouched month-2 partition keeps exactly its files
    assert _month_files(spark, 2) == m2_files


def test_merge_upsert_last_writer_wins(warehouse, raw_root):
    """A batch with several versions of one key applies only the highest
    version, deterministically."""
    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-01.parquet")
    load_month(spark, path, 2025, 1, force=True)
    fact = _fact(spark)
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
    snapshot_merge(
        spark,
        fact_path(spark),
        versions,
        keys=MERGE_KEYS,
        partition_cols=["year", "month"],
        version_col="tips",
    )
    fact = _fact(spark)
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
    """The target-side read joins the broadcast touched partitions, and
    only the touched month gets new files."""
    spark = warehouse
    _load_both_months(spark, raw_root)
    fact = _fact(spark)
    one = fact.where("year=2025 AND month=1").limit(1).collect()[0]
    updates = spark.createDataFrame(
        [tuple(one[c] for c in fact.columns)], fact.schema
    )

    # the touched-partition semi-join the merge builds over the head
    touched = updates.select("year", "month").distinct()
    current = fact.join(F.broadcast(touched), ["year", "month"], "left_semi")
    plan = current._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    m1_files, m2_files = _month_files(spark, 1), _month_files(spark, 2)
    snapshot_merge(
        spark, fact_path(spark), updates, keys=MERGE_KEYS,
        partition_cols=["year", "month"],
    )
    assert _month_files(spark, 2) == m2_files
    assert set(_month_files(spark, 1)).isdisjoint(m1_files)
    assert _fact(spark).where("year=2025 AND month=1").count() == 200


def test_merge_upsert_safe_on_untuned_session(warehouse, raw_root):
    """A session left on Spark's static partitionOverwriteMode default
    (e.g. the external driver's untuned session) must NOT lose untouched
    partitions: a snapshot merge never overwrites in place."""
    spark = warehouse
    _load_both_months(spark, raw_root)
    fact = _fact(spark)
    m2_before = fact.where("year=2025 AND month=2").count()
    assert m2_before > 0
    one = fact.where("year=2025 AND month=1").limit(1).collect()[0]
    ups = spark.createDataFrame(
        [tuple(one[c] for c in fact.columns)], fact.schema
    ).withColumn("driver_pay", F.lit(555.55))

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # simulate an untuned session
    try:
        snapshot_merge(
            spark, fact_path(spark), ups, keys=MERGE_KEYS,
            partition_cols=["year", "month"],
        )
    finally:
        spark.conf.set(key, "dynamic")
    assert _fact(spark).where("year=2025 AND month=2").count() == m2_before
    assert _fact(spark).where("driver_pay = 555.55").count() == 1


def test_load_backends_produce_identical_rows(warehouse, raw_root):
    """The loaded month is hash-identical to ``transform_raw`` of the raw
    file: storage changes the mechanics only, never the content."""
    from nyc_taxi_data_warehouse_spark.warehouse.load import transform_raw

    spark = warehouse
    path = os.path.join(raw_root, "2025", "fhvhv_tripdata_2025-02.parquet")
    load_month(spark, path, 2025, 2, force=True)
    loaded = _fact(spark).where("year=2025 AND month=2").drop("year", "month")
    want = transform_raw(spark.read.parquet(path))
    cols = sorted(want.columns)
    assert sorted(loaded.columns) == cols
    h = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).collect()
    assert h(loaded) == h(want)


def test_backfill_snapshot_backend_manifest_anti_join(
    warehouse, raw_root, tmp_path
):
    """backfill into an explicit table path: already-landed months are
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
        2025, 1, snapshot_path=snap,
    )
    results = backfill(spark, manifest, snapshot_path=snap)
    assert [(r.year, r.month, r.skipped) for r in results] == [(2025, 2, False)]
    assert read_snapshot(spark, snap).count() == 350
    # a second backfill is a complete no-op
    assert backfill(spark, manifest, snapshot_path=snap) == []


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

    res = load_month(spark, p1, 2025, 1, snapshot_path=snap, wap=True)
    assert not res.skipped and res.rows == 200
    assert read_snapshot(spark, snap).count() == 200
    # bootstrap empty v1 + the published month
    assert [h["op"] for h in snapshot_versions(spark, snap)] \
        == ["overwrite", "publish"]
    # provenance carried through the publish squash -> re-run skips
    assert load_month(spark, p1, 2025, 1, snapshot_path=snap, wap=True).skipped

    # vetoed month: main untouched, branch dropped
    with pytest.raises(AuditFailed):
        load_month(spark, p2, 2025, 2, snapshot_path=snap, wap=True,
                   audit=lambda df: False)
    tbl = read_snapshot(spark, snap)
    assert tbl.count() == 200
    assert tbl.where("month = 2").count() == 0
    assert list_branches(spark, snap) == []

    # approved month (default audit): published
    res2 = load_month(spark, p2, 2025, 2, snapshot_path=snap, wap=True)
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

    res = load_month(spark, p1, 2025, 1, snapshot_path=snap, wap=True)
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


# ---------------------------------------------------------- source guards

WAREHOUSE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "nyc_taxi_data_warehouse_spark"
    / "warehouse"
)


def _method_calls(tree, names):
    """(top-level def or None, line) of every ``x.<name>(...)`` call."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in names
            ):
                yield owner, n.lineno


def test_warehouse_tables_are_snapshot_tables():
    """One table format: no catalog-managed writes in ``warehouse/``
    beyond the bucketed-layout tool, no managed MERGE module, and one
    load path."""
    hits = [
        f"{p.name}:{owner}:{line}"
        for p in sorted(WAREHOUSE.glob("*.py"))
        for owner, line in _method_calls(
            ast.parse(p.read_text()), {"insertInto", "saveAsTable"}
        )
        if (p.name, owner) != ("layout.py", "write_bucketed")
    ]
    assert hits == []
    assert not (WAREHOUSE / "merge.py").exists()
    assert "backend ==" not in (WAREHOUSE / "load.py").read_text()
