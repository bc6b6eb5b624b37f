"""Per-file stats are table state that every commit carries
(``snapshots._commit``): entries for carried files carry, files new to
the table get computed entries, and entries of dropped columns
leave."""

from __future__ import annotations

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    Range,
    _manifest_at,
    read_snapshot,
    snapshot_add_constraint,
    snapshot_drop_column,
    snapshot_drop_constraint,
    snapshot_register,
    snapshot_replace_partitions,
    snapshot_set_properties,
    snapshot_write,
    stream_snapshot_append,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

DDL = "id long, month int, v string"


def _df(spark, lo, month):
    return spark.createDataFrame(
        [(lo + i, month, f"v{lo + i}") for i in range(5)], DDL
    ).coalesce(1)


@pytest.fixture()
def stats_table(spark, tmp_path):
    """Two monthly files with stats on ``id`` and ``v``: ids 0-4 in
    month 1, 100-104 in month 2."""
    path = str(tmp_path / "stats_t")
    for lo, month in ((0, 1), (100, 2)):
        snapshot_write(
            _df(spark, lo, month), path, mode="append",
            partition_cols=["month"], stats_cols=["id", "v"],
        )
    return path


def _stream_append(spark, path, tmp_path):
    src = tmp_path / "src"
    _df(spark, 200, 3).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(DDL).parquet(f"{src}/*")
    stream_snapshot_append(
        spark, stream, path, str(tmp_path / "ckpt"), "stats-carry",
        partition_cols=["month"],
    )


def _sql(statement):
    def run(spark, path, tmp_path):
        snapshot_register(spark, path, "stats_carry_t")
        snapshot_sql(spark, statement)

    return run


WRITERS = {
    "set_properties": lambda spark, path, tmp_path: snapshot_set_properties(
        spark, path, {"owner": "etl"}
    ),
    "add_constraint": lambda spark, path, tmp_path: snapshot_add_constraint(
        spark, path, "pos", "id >= 0"
    ),
    "drop_constraint": lambda spark, path, tmp_path: (
        snapshot_add_constraint(spark, path, "pos", "id >= 0"),
        snapshot_drop_constraint(spark, path, "pos"),
    ),
    "append": lambda spark, path, tmp_path: snapshot_write(
        _df(spark, 200, 3), path, mode="append", partition_cols=["month"]
    ),
    "replace_partitions": lambda spark, path, tmp_path: (
        snapshot_replace_partitions(_df(spark, 300, 1), path, ["month"])
    ),
    "stream_append": _stream_append,
    "sql_insert": _sql("INSERT INTO stats_carry_t VALUES (400, 3, 'x')"),
    "sql_set_tblproperties": _sql(
        "ALTER TABLE stats_carry_t SET TBLPROPERTIES ('owner' = 'etl')"
    ),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_every_writer_keeps_stats(spark, stats_table, tmp_path, writer):
    WRITERS[writer](spark, stats_table, tmp_path)
    _, man = _manifest_at(stats_table)
    assert man["stats_cols"] == ["id", "v"]
    assert set(man["stats"]) == set(man["files"])
    full = read_snapshot(spark, stats_table)
    pruned = read_snapshot(
        spark, stats_table, where={"id": Range(100, 104)}
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(r.id for r in pruned.collect()) == list(range(100, 105))


def test_drop_column_takes_its_stats_with_it(spark, stats_table):
    snapshot_drop_column(spark, stats_table, "v")
    _, man = _manifest_at(stats_table)
    assert man["stats_cols"] == ["id"]
    assert set(man["stats"]) == set(man["files"])
    assert all(set(st) == {"id"} for st in man["stats"].values())
