"""Cold-session DML through durable catalog names — VERDICT r10
worklist #4: every DML statement kind (DELETE / UPDATE / MERGE) must
resolve a durable name from a TRULY fresh process — new Python, new
JVM, plain untuned SparkSession, zero flags, zero registration calls
— with only ``SPARK_GRAFT_CATALOG_ROOT`` set. The in-process
"fresh-session" tests (``test_namecatalog.py``) wipe the registry but
share the warehouse JVM; this one forks the real deployment shape.

Also pins ``catalog list`` output stability for scripting: one JSON
object per line, sorted keys, lowercased name — consumed from the
same cold process through the real CLI entry point.

The three statements run in ONE subprocess (one JVM spin-up, ~1 min)
— what's under test is cold-process name resolution, not JVM count.
"""

from __future__ import annotations

import pytest

import json
import os
import subprocess
import sys

from nyc_taxi_data_warehouse_spark.warehouse.namecatalog import (
    catalog_add,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_write,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import contextlib, io, json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

out = {{}}
out["select"] = snapshot_sql(
    spark, "SELECT COUNT(*) AS c FROM coldt"
).collect()[0]["c"]
out["delete"] = snapshot_sql(
    spark, "DELETE FROM coldt WHERE id = 1"
).collect()[0]["num_affected_rows"]
out["update"] = snapshot_sql(
    spark, "UPDATE coldt SET v = 'upd' WHERE id = 2"
).collect()[0]["num_affected_rows"]
out["merge"] = snapshot_sql(
    spark,
    "MERGE INTO coldt t USING "
    "(SELECT 5 AS id, 'ins' AS v) s ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET * "
    "WHEN NOT MATCHED THEN INSERT *",
).collect()[0]["num_affected_rows"]

from nyc_taxi_data_warehouse_spark.__main__ import main

buf = io.StringIO()
with contextlib.redirect_stdout(buf):
    main(
        ["catalog", "list", "--root",
         os.environ["SPARK_GRAFT_CATALOG_ROOT"]],
        spark=spark,
    )
out["catalog_list"] = buf.getvalue().strip().splitlines()
print("RESULT " + json.dumps(out))
spark.stop()
"""


@pytest.mark.slowproof
def test_cold_process_dml_resolves_durable_names(spark, tmp_path):
    t = str(tmp_path / "coldt")
    root = str(tmp_path / "croot")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
        ),
        t, stats_cols=["id"],
    )
    catalog_add(spark, "ColdT", t, root=root, register=False)

    script = tmp_path / "cold_dml.py"
    script.write_text(_SCRIPT.format(repo=_REPO))
    env = dict(os.environ)
    env["SPARK_GRAFT_CATALOG_ROOT"] = root
    env["PYTHONPATH"] = _REPO + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    lines = [
        l for l in res.stdout.splitlines() if l.startswith("RESULT ")
    ]
    assert lines, res.stdout[-2000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["select"] == 3
    assert out["delete"] == 1
    assert out["update"] == 1
    assert out["merge"] == 1
    # scripting-stable catalog list: one sorted-keys JSON object per
    # line; the record keeps the as-given name (resolution is
    # case-insensitive via the lowercased key)
    assert len(out["catalog_list"]) == 1
    rec = json.loads(out["catalog_list"][0])
    assert rec == {"name": "ColdT", "path": t}
    assert out["catalog_list"][0] == json.dumps(rec, sort_keys=True)
    # the cold process's commits are durable: the PARENT session sees
    # the final table state through the manifest log
    got = sorted(
        (r.id, r.v) for r in read_snapshot(spark, t).collect()
    )
    assert got == [(2, "upd"), (3, "c"), (5, "ins")]
