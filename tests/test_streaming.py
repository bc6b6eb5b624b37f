"""Structured Streaming: stream results must equal the batch results for
the same windowed aggregations, and file ingest must be exactly-once
across re-runs (checkpoint-based — the engine-native replacement for the
reference's per-file S3 HEAD idempotency guard).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.sources import load_table
from nyc_taxi_data_warehouse_spark.streaming import (
    session_windows,
    sliding_counts,
    stream_events,
    stream_ingest_raw,
    tumbling_counts,
)
from nyc_taxi_data_warehouse_spark.streaming.windows import run_stream_to_memory
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_merge,
    snapshot_write,
)

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_tumbling_stream_equals_batch(spark):
    batch = tumbling_counts(load_table(spark, SF, "events"))
    stream = tumbling_counts(stream_events(spark, SF))
    run_stream_to_memory(stream, "tumbling_out")
    got = spark.table("tumbling_out")
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)


def test_sliding_stream_equals_batch(spark):
    batch = sliding_counts(load_table(spark, SF, "events"))
    stream = sliding_counts(stream_events(spark, SF))
    run_stream_to_memory(stream, "sliding_out")
    got = spark.table("sliding_out")
    cols = ["window_start", "event_type", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)


def test_session_stream_equals_batch(spark):
    batch = session_windows(load_table(spark, SF, "events"))
    stream = session_windows(stream_events(spark, SF))
    run_stream_to_memory(stream, "session_out")
    got = spark.table("session_out")
    cols = ["user_id", "session_start", "last_ts", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)


def test_stateful_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState must carry per-user state across micro-
    batches: stream the events split into 3 files (one per trigger) and
    assert the converged state equals the batch aggregate."""
    from nyc_taxi_data_warehouse_spark.streaming.stateful import user_running_totals
    from nyc_taxi_data_warehouse_spark.streaming.windows import run_stream_to_memory

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_split")
    events.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_stream_to_memory(user_running_totals(stream), "stateful_out", mode="update")
    out = spark.table("stateful_out")

    n_users = events.select("user_id").distinct().count()
    # >1 micro-batch must have fired → more update rows than users
    assert out.count() > n_users

    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max("last_us").alias("last_us"),
        )
    )
    expected = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double") / 100.0
            ).alias("total_value"),
            F.max("ts").alias("max_ts"),
        )
        .withColumn("last_us", F.unix_micros(F.col("max_ts").cast("timestamp")))
        .drop("max_ts")
    )
    cols = ["user_id", "n_events", "total_value", "last_us"]
    assert _sorted_rows(final, cols) == _sorted_rows(expected, cols)


def test_stream_ingest_exactly_once(spark, tmp_path):
    # reuse the synthetic raw-month builder from the load tests
    from .test_warehouse_load import _make_raw_month

    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _make_raw_month(spark, os.path.join(raw, "fhvhv_tripdata_2025-03.parquet"), 2025, 3, n=120)

    stream_ingest_raw(spark, raw, out, ckpt)
    first = spark.read.parquet(out).count()
    assert first == 120

    # re-run with the same checkpoint: nothing new → no duplicates
    stream_ingest_raw(spark, raw, out, ckpt)
    assert spark.read.parquet(out).count() == 120

    # a new month appears → only its rows are added, partitioned by data
    _make_raw_month(spark, os.path.join(raw, "fhvhv_tripdata_2025-04.parquet"), 2025, 4, n=80)
    stream_ingest_raw(spark, raw, out, ckpt)
    result = spark.read.parquet(out)
    assert result.count() == 200
    months = {(r.year, r.month) for r in result.select("year", "month").distinct().collect()}
    assert months == {(2025, 3), (2025, 4)}


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream attribution join == the batch join."""
    from nyc_taxi_data_warehouse_spark.streaming.joins import (
        click_purchase_attribution,
    )

    batch = click_purchase_attribution(load_table(spark, SF, "events"))
    stream = click_purchase_attribution(stream_events(spark, SF))
    run_stream_to_memory(stream, "attrib_out", mode="append")
    got = spark.table("attrib_out")
    cols = ["user_id", "c_id", "p_id", "c_ts", "p_ts", "purchase_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)
    assert got.count() > 0


def test_incremental_rollup_equals_batch(spark, tmp_path):
    """3 micro-batches merged incrementally must equal the one-shot
    hourly rollup of all events; only touched day partitions rewritten."""
    from nyc_taxi_data_warehouse_spark.streaming.rollup_sink import (
        read_rollup,
        stream_events_into_rollup,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.rollup import hourly_rollup

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_split")
    events.repartition(3).write.parquet(src)
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_events_into_rollup(spark, stream, rollup, ckpt)

    # users: the HLL sketch column must merge across micro-batches to the
    # SAME estimate as the flat batch sketch (union==flat mergeability)
    est = F.hll_sketch_estimate("users_sketch").alias("users")
    got = read_rollup(spark, rollup).select(
        "hour", "event_type", "n", "value_cents", "min_value", "max_value", est
    )
    want = hourly_rollup(events).select(
        "hour", "event_type", "n", "value_cents", "min_value", "max_value", est
    )
    cols = ["hour", "event_type", "n", "value_cents", "min_value", "max_value", "users"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # restart with same checkpoint: no new files -> rollup unchanged
    stream2 = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_events_into_rollup(spark, stream2, rollup, ckpt)
    again = read_rollup(spark, rollup).select(
        "hour", "event_type", "n", "value_cents", "min_value", "max_value", est
    )
    assert _sorted_rows(again, cols) == _sorted_rows(want, cols)


def test_stream_static_join_equals_batch(spark):
    """Stream-static join: each micro-batch joins against a static dim
    snapshot (no watermark needed — the static side is bounded)."""
    events = load_table(spark, SF, "events")
    user_dim = (
        events.select("user_id")
        .distinct()
        .withColumn("user_tier", (F.col("user_id") % 3).cast("int"))
    )
    batch = (
        events.join(user_dim, "user_id")
        .groupBy("user_tier")
        .agg(F.count("*").alias("n"))
    )
    stream = (
        stream_events(spark, SF)
        .join(user_dim, "user_id")
        .groupBy("user_tier")
        .agg(F.count("*").alias("n"))
    )
    run_stream_to_memory(stream, "static_join_out", mode="complete")
    got = spark.table("static_join_out")
    cols = ["user_tier", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)


def test_stateful_sessionization_equals_native(spark, tmp_path):
    """Custom applyInPandasWithState sessionization == native
    session_window. A far-future sentinel event per user in a final
    micro-batch forces every real session closed (the sentinel's own
    open session is filtered by the time bound), so the comparison is
    exact and watermark-timing independent."""
    import datetime as dt

    from nyc_taxi_data_warehouse_spark.streaming.stateful import sessionize_stateful

    events = load_table(spark, SF, "events").select("user_id", "ts")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = max_ts + dt.timedelta(days=30)

    src = str(tmp_path / "sess_src")
    # time-ordered micro-batches (a random split would make batch 2 carry
    # events behind the watermark, which the stateful operator drops)
    cutoff = events.agg(
        F.percentile_approx("ts", 0.5).alias("m")
    ).collect()[0]["m"]
    events.where(F.col("ts") <= cutoff).coalesce(1).write.parquet(src)
    events.where(F.col("ts") > cutoff).coalesce(1).write.mode("append").parquet(src)
    # sentinel batch, one far-future event per user
    events.select("user_id").distinct().withColumn(
        "ts", F.lit(sentinel_ts).cast("timestamp_ntz")
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_stream_to_memory(sessionize_stateful(stream), "sess_out", mode="append")
    got = (
        spark.table("sess_out")
        .where(F.col("session_start_us") < int(sentinel_ts.timestamp() * 1_000_000))
        .select(
            "user_id",
            F.timestamp_micros(F.col("session_start_us"))
            .cast("timestamp_ntz")
            .alias("session_start"),
            F.timestamp_micros(F.col("last_us")).cast("timestamp_ntz").alias("last_ts"),
            "n_events",
        )
    )
    native = session_windows(load_table(spark, SF, "events")).select(
        "user_id", "session_start", "last_ts", "n_events"
    )
    cols = ["user_id", "session_start", "last_ts", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(native, cols)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered events (same event_id in a later micro-batch) must be
    dropped; the deduped stream equals batch distinct-by-key."""
    from nyc_taxi_data_warehouse_spark.streaming.ingest import dedup_stream

    events = load_table(spark, SF, "events").select("event_id", "user_id", "ts")
    src = str(tmp_path / "dedup_src")
    events.coalesce(1).write.parquet(src)
    # second delivery of a subset — duplicates within the watermark window
    events.where(F.col("event_id") % 7 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_stream_to_memory(dedup_stream(stream), "dedup_out", mode="append")
    got = spark.table("dedup_out")
    assert got.count() == events.count()  # every id exactly once
    assert got.select("event_id").distinct().count() == events.count()


def test_rollup_merge_many_days_batch(spark, tmp_path, monkeypatch):
    """A single batch spanning more days than MAX_DAY_LIST must merge
    correctly via the bounded min/max-range fallback (no unbounded
    driver-side day list / isin expression), and an incremental second
    batch must still only touch its own days' partitions."""
    import datetime

    from nyc_taxi_data_warehouse_spark.streaming import rollup_sink as rs

    monkeypatch.setattr(rs, "MAX_DAY_LIST", 5)
    path = str(tmp_path / "rollup_many_days")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=d, hours=d % 3), "a", float(d), d % 7)
        for d in range(20)  # 20 days > capped MAX_DAY_LIST=5
    ]
    batch = spark.createDataFrame(
        rows, "ts timestamp_ntz, event_type string, value double, user_id long"
    )
    rs.merge_batch_into_rollup(spark, batch, path)
    got = rs.read_rollup(spark, path)
    assert got.count() == 20
    assert got.agg(F.sum("n")).collect()[0][0] == 20

    # second small batch (2 days, under the cap): values accumulate
    batch2 = spark.createDataFrame(
        [(base + datetime.timedelta(hours=0), "a", 100.0, 0)],
        "ts timestamp_ntz, event_type string, value double, user_id long",
    )
    rs.merge_batch_into_rollup(spark, batch2, path)
    got2 = rs.read_rollup(spark, path)
    assert got2.count() == 20  # same grid, day-0 hour-0 row merged
    assert got2.agg(F.sum("n")).collect()[0][0] == 21
    merged_row = got2.where("day = '2024-01-01'").collect()[0]
    assert merged_row["n"] == 2 and merged_row["value_cents"] == 10000


def _cdc_state(spark, path, cols):
    return sorted(
        tuple(r) for r in read_snapshot(spark, path).select(*cols).collect()
    )


def test_cdc_stream_upsert_applies_and_is_idempotent(spark, tmp_path):
    """A 3-micro-batch CDC feed merged via stream_upsert must leave the
    target equal to the one-shot expected state (keys unique across
    batches, so arrival order is immaterial); a checkpoint restart with
    no new files must change nothing; and untouched partitions must
    keep exactly their files."""
    from nyc_taxi_data_warehouse_spark.streaming import stream_upsert

    base = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("int").alias("pt"),
        F.lit(0).alias("v"),
        F.lit(0).alias("ver"),
    )
    tgt = str(tmp_path / "cdc_tgt")
    snapshot_write(base, tgt, partition_cols=["pt"])

    # updates touch pt 0 (k multiples of 5 in 50..129): 10 corrections +
    # 6 inserts, all landing in partition 0; pt 1..4 must stay untouched
    updates = (
        spark.range(50, 130)
        .where(F.col("id") % 5 == 0)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 5).cast("int").alias("pt"),
            F.lit(1).alias("v"),
            F.lit(1).alias("ver"),
        )
    )
    src = str(tmp_path / "cdc_feed")
    updates.repartition(3).write.parquet(src)
    ckpt = str(tmp_path / "cdc_ckpt")

    def untouched_files():
        files = load_manifest(tgt, list_versions(tgt)[-1])["files"]
        return sorted(f for f in files if "/pt=0/" not in f)

    files_before = untouched_files()

    def feed():
        return (
            spark.readStream.schema(updates.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    stream_upsert(
        spark, feed(), tgt, keys=["k"], partition_cols=["pt"],
        version_col="ver", checkpoint=ckpt,
    )

    got = _cdc_state(spark, tgt, ["k", "v"])
    want = sorted(
        [(k, 0) for k in range(100) if not (k % 5 == 0 and k >= 50)]
        + [(k, 1) for k in range(50, 130, 5)]
    )
    assert got == want
    # one merge commit per micro-batch; untouched partitions keep their files
    assert len(list_versions(tgt)) == 4
    assert untouched_files() == files_before

    # restart on the same checkpoint: nothing reapplied
    stream_upsert(
        spark, feed(), tgt, keys=["k"], partition_cols=["pt"],
        version_col="ver", checkpoint=ckpt,
    )
    assert len(list_versions(tgt)) == 4
    assert _cdc_state(spark, tgt, ["k", "v"]) == want


def test_cdc_out_of_order_batches_converge(spark, tmp_path):
    """Cross-batch ordering: with version_col persisted in the target,
    applying (b1 then b2) and (b2 then b1) must yield identical tables —
    the later version wins regardless of arrival order — and
    re-delivering an already-applied batch is a no-op. Expected state is
    cross-checked against a DuckDB max-by-version oracle over the union
    of base + both batches."""
    import duckdb

    base = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("pt"),
        F.lit(0).alias("v"),
        F.lit(0).alias("ver"),
    )
    # b1: ver=1 corrections to even keys; b2: ver=2 corrections to keys
    # 0..9 plus ver=2 inserts of new keys 20..23 — overlapping key sets,
    # so order WOULD matter without version comparison.
    b1 = spark.range(0, 20, 2).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("pt"),
        F.lit(1).alias("v"),
        F.lit(1).alias("ver"),
    )
    b2 = spark.range(0, 24).where((F.col("id") < 10) | (F.col("id") >= 20)).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("pt"),
        F.lit(2).alias("v"),
        F.lit(2).alias("ver"),
    )
    cols = ["k", "pt", "v", "ver"]

    def merge(path, batch):
        snapshot_merge(
            spark, path, batch, keys=["k"], partition_cols=["pt"],
            version_col="ver", mode="dv",
        )

    paths = {}
    for name, batches in [("a", (b1, b2)), ("b", (b2, b1))]:
        paths[name] = str(tmp_path / f"cdc_ooo_{name}")
        snapshot_write(base, paths[name], partition_cols=["pt"])
        for b in batches:
            merge(paths[name], b)

    in_order = _cdc_state(spark, paths["a"], cols)
    assert in_order == _cdc_state(spark, paths["b"], cols)

    # redelivery of an old batch: no-op
    merge(paths["a"], b1)
    assert _cdc_state(spark, paths["a"], cols) == in_order

    # oracle: max-by-version per key over everything ever fed
    feed = (
        base.unionByName(b1).unionByName(b2).toPandas()
    )
    want = duckdb.sql(
        "SELECT k, arg_max(pt, ver) AS pt, arg_max(v, ver) AS v,"
        " max(ver) AS ver FROM feed GROUP BY k ORDER BY k"
    ).fetchall()
    assert in_order == sorted((k, pt, v, ver) for k, pt, v, ver in want)


def test_cdc_stream_upsert_survives_mid_feed_kill(spark, tmp_path, monkeypatch):
    """Exactly-once across a crash-restart: the stream dies AFTER batch 1
    committed to the checkpoint (batch 2's merge raises), and a restart
    from the same checkpoint must resume at batch 2 — never re-merging
    batch 1 — and converge to exactly the table a single uninterrupted
    run produces."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import nyc_taxi_data_warehouse_spark.streaming.cdc as cdc_mod
    from nyc_taxi_data_warehouse_spark.streaming import stream_upsert

    base = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("pt"),
        F.lit(0).alias("v"),
        F.lit(0).alias("ver"),
    )
    # 3 single-file micro-batches with increasing versions over
    # OVERLAPPING keys — the final state depends on every batch being
    # applied (max-version-wins picks ver 3 where present).
    src = str(tmp_path / "kill_feed")
    for ver in (1, 2, 3):
        batch = spark.range(0, 10 * ver).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("pt"),
            F.lit(ver * 100).alias("v"),
            F.lit(ver).alias("ver"),
        )
        batch.coalesce(1).write.mode("append").parquet(src)

    schema = base.schema
    cols = ["k", "v", "ver"]

    def feed():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # Reference: one uninterrupted run into its own target.
    ref = str(tmp_path / "cdc_kill_ref")
    snapshot_write(base, ref, partition_cols=["pt"])
    stream_upsert(
        spark, feed(), ref, keys=["k"], partition_cols=["pt"],
        version_col="ver", checkpoint=str(tmp_path / "ckpt_ref"),
    )
    want = _cdc_state(spark, ref, cols)

    # Crash run: batch 2's merge raises (batch 1 already checkpointed).
    tgt = str(tmp_path / "cdc_kill_tgt")
    snapshot_write(base, tgt, partition_cols=["pt"])
    real_merge = cdc_mod.snapshot_merge
    seen_vers: list[int] = []

    def flaky_merge(spark_, path, batch, *args, **kwargs):
        ver = batch.agg(F.max("ver")).collect()[0][0]
        seen_vers.append(ver)
        if len(seen_vers) == 2:
            raise RuntimeError("injected crash before batch 2's merge")
        return real_merge(spark_, path, batch, *args, **kwargs)

    monkeypatch.setattr(cdc_mod, "snapshot_merge", flaky_merge)
    ckpt = str(tmp_path / "ckpt_kill")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        stream_upsert(
            spark, feed(), tgt, keys=["k"], partition_cols=["pt"],
            version_col="ver", checkpoint=ckpt,
        )

    # Restart from the same checkpoint: resumes at batch 2, applies 2+3.
    stream_upsert(
        spark, feed(), tgt, keys=["k"], partition_cols=["pt"],
        version_col="ver", checkpoint=ckpt,
    )
    assert seen_vers == [1, 2, 2, 3]  # batch 1 merged exactly once
    assert _cdc_state(spark, tgt, cols) == want
