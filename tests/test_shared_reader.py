"""The one metadata reader (``warehouse/manifestlog.py``) that the batch
engine and the snapshot-feed streaming source share: torn-claim reads,
stray names in the manifest dir, by-value shipping to processes that
may not import the package, and source guards that keep it the only
reader."""

from __future__ import annotations

import ast
import io
import os
import pathlib
import pickle
import threading

from pyspark.sql.types import StructType

from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
    SnapshotFeedStreamReader,
)
from nyc_taxi_data_warehouse_spark.warehouse import manifestlog as ml
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_delete,
    snapshot_write,
)

PKG = pathlib.Path(ml.__file__).resolve().parents[1]
WAREHOUSE = PKG / "warehouse"


def _df(spark, ids):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, v string"
    ).coalesce(1)


def test_feed_planner_waits_out_a_claimed_but_empty_manifest(
    spark, tmp_path
):
    """The next version's manifest is claimed (exists, empty) while the
    planner reads it, and its body lands 100 ms later: the planner
    retries over the torn glimpse instead of failing on empty JSON."""
    table = str(tmp_path / "t")
    snapshot_write(_df(spark, [1, 2]), table)
    snapshot_write(_df(spark, [3]), table, mode="append")
    schema = StructType.fromJson(ml.load_manifest(table, 2)["schema"])
    reader = SnapshotFeedStreamReader(schema, {"path": table})
    snapshot_write(_df(spark, [4, 5]), table, mode="append")  # v3
    added = set(ml.load_manifest(table, 3)["files"]) - set(
        ml.load_manifest(table, 2)["files"]
    )
    doc = os.path.join(table, "_versions", "00000003.json")
    with open(doc, "rb") as f:
        body = f.read()
    with open(doc, "wb"):
        pass  # the claim: name taken, body not yet written

    def finish():
        with open(doc, "wb") as f:
            f.write(body)

    timer = threading.Timer(0.1, finish)
    timer.start()
    try:
        parts = reader.partitions({"version": 2}, {"version": 3})
    finally:
        timer.join()
    assert {p.file_uri for p in parts} == {f"{table}/{f}" for f in added}
    assert [p.version for p in parts] == [3] * len(added)


def test_stray_json_in_manifest_dir_is_skipped(spark, tmp_path):
    """A non-numeric ``*.json`` next to the manifests is not a version:
    listing, reads, DML and the feed planner all skip it."""
    table = str(tmp_path / "t")
    snapshot_write(_df(spark, [1, 2]), table)
    with open(os.path.join(table, "_versions", "notes.json"), "w") as f:
        f.write('{"note": "hand-written"}')
    assert ml.list_versions(table) == [1]
    snapshot_write(_df(spark, [3]), table, mode="append")
    assert snapshot_delete(spark, table, {"id": [1]})[0] == 3
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == [
        2, 3,
    ]
    schema = read_snapshot(spark, table).schema
    reader = SnapshotFeedStreamReader(schema, {"path": table})
    assert reader.latestOffset() == {"version": 3}


def test_reader_ships_by_value(spark, tmp_path):
    """The feed planner and executors unpickle the reader in processes
    that may not import this package: ``load_manifest`` and the
    memoized partition codec must arrive by value, naming no global of
    the package for the unpickler to import."""
    from pyspark import cloudpickle

    class NoPackageImports(pickle.Unpickler):
        def find_class(self, module, name):
            assert module.split(".")[0] != PKG.name, f"{module}.{name}"
            return super().find_class(module, name)

    table = str(tmp_path / "t")
    snapshot_write(_df(spark, [1, 2]), table)
    payload = cloudpickle.dumps((ml.load_manifest, ml.partition_values))
    load, pv = NoPackageImports(io.BytesIO(payload)).load()
    assert len(load(table, 1, want_stats=False)["files"]) == 1
    assert pv("data/x/p=a%20b/f.parquet") == {"p": "a b"}


# ---------------------------------------------------------- source guards


def _modules(root: pathlib.Path):
    return sorted(root.rglob("*.py"))


def test_warehouse_does_not_import_streaming():
    hits = []
    for p in _modules(WAREHOUSE):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith("streaming") and node.level >= 2:
                hits.append(f"{p.name}:{node.lineno}")
    assert hits == []


def test_warehouse_reads_no_metadata_through_hadoop():
    hits = [
        f"{p.name}:{i}"
        for p in _modules(WAREHOUSE)
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "fs.open(" in line or "IOUtils" in line
    ]
    assert hits == []


def test_streaming_source_keeps_no_reader_copy():
    tree = ast.parse((PKG / "streaming" / "snapshot_source.py").read_text())
    defined = {
        n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }
    assert defined.isdisjoint(
        {
            "_ref_parts", "_list_versions", "_is_not_found", "_read_doc",
            "_read_blob", "_load_manifest", "_unescape_partition_value",
            "_partition_values_from_path", "_parquet_num_rows", "_pa_fs",
        }
    )


def test_torn_claim_retry_is_written_once():
    """The claimed-but-unfinished retry (a decode error caught in a
    sleep-and-retry loop) lives in exactly one function."""
    sites = []
    for p in _modules(PKG):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.ExceptHandler) and (
                    "UnicodeDecodeError" in ast.unparse(node.type or node)
                ):
                    sites.append(f"{p.relative_to(PKG)}::{fn.name}")
    assert sites == ["warehouse/manifestlog.py::read_json"]
