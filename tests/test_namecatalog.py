"""Durable table-name catalog: bindings survive the session (the
Redshift-parity ergonomic — ``SELECT * FROM trips`` resolves tomorrow
with no flags), pins are honored, races are atomic.

A "fresh session" is simulated by wiping the in-memory registry and
temp views — the durable state on disk is all a real new process would
see, so this exercises exactly the recovery paths.
"""

from __future__ import annotations

import json

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.namecatalog import (
    catalog_add,
    catalog_drop,
    catalog_entries,
    catalog_lookup,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    _SQL_REGISTRY,
    read_snapshot,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
    SqlFrontError,
    snapshot_sql,
)


@pytest.fixture()
def fresh(spark, tmp_path):
    """(table_path, catalog_root) with a 3-row table; wipes session
    state before and after so every test starts 'new-session'."""
    def wipe():
        for k in list(_SQL_REGISTRY):
            rec = _SQL_REGISTRY.pop(k)
            try:
                spark.catalog.dropTempView(rec["name"])
            except Exception:
                pass

    wipe()
    t = str(tmp_path / "trips")
    root = str(tmp_path / "whroot")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
        ),
        t, stats_cols=["id"],
    )
    yield t, root
    wipe()


def test_select_resolves_in_fresh_session(spark, fresh):
    t, root = fresh
    catalog_add(spark, "trips", t, root=root)
    # forget everything session-local
    _SQL_REGISTRY.clear()
    spark.catalog.dropTempView("trips")
    import os

    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        got = snapshot_sql(
            spark, "SELECT count(*) AS c FROM trips"
        ).collect()
        assert got[0].c == 3
        # DML resolves through the catalog too
        _SQL_REGISTRY.clear()
        spark.catalog.dropTempView("trips")
        r = snapshot_sql(spark, "DELETE FROM trips WHERE id >= 3").collect()
        assert r[0].num_affected_rows == 1
        # and time travel through a durable name
        _SQL_REGISTRY.clear()
        spark.catalog.dropTempView("trips")
        got = snapshot_sql(
            spark, "SELECT count(*) AS c FROM trips VERSION AS OF 1"
        ).collect()
        assert got[0].c == 3
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)


def test_pinned_entry_refuses_mutation(spark, fresh):
    t, root = fresh
    catalog_add(spark, "trips_v1", t, version=1, root=root)
    _SQL_REGISTRY.clear()
    spark.catalog.dropTempView("trips_v1")
    import os

    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        with pytest.raises(SqlFrontError, match="pinned"):
            snapshot_sql(spark, "DELETE FROM trips_v1 WHERE id = 1")
        # but reads through the pin serve THAT version
        got = snapshot_sql(
            spark, "SELECT count(*) AS c FROM trips_v1"
        ).collect()
        assert got[0].c == 3
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)


def test_add_validates_before_persisting(spark, fresh):
    t, root = fresh
    with pytest.raises(FileNotFoundError):
        catalog_add(spark, "ghost", str(t) + "_nope", root=root)
    assert catalog_lookup(spark, "ghost", root=root) is None
    with pytest.raises(ValueError, match="simple identifiers"):
        catalog_add(spark, "../evil", t, root=root)


def test_drop_and_overwrite(spark, fresh):
    t, root = fresh
    catalog_add(spark, "trips", t, root=root)
    assert catalog_lookup(spark, "trips", root=root)["path"] == t
    # re-add overwrites (pin added)
    catalog_add(spark, "trips", t, version=1, root=root)
    assert catalog_lookup(spark, "trips", root=root)["version"] == 1
    assert catalog_drop(spark, "trips", root=root) is True
    assert catalog_drop(spark, "trips", root=root) is False
    assert catalog_entries(spark, root=root) == {}


def test_concurrent_adds_both_land(spark, fresh):
    """The CAS loop: racing registrations of DIFFERENT names must both
    survive (a lost race re-reads and retries)."""
    from concurrent.futures import ThreadPoolExecutor

    t, root = fresh
    names = [f"t{i}" for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(
            ex.map(
                lambda n: catalog_add(
                    spark, n, t, root=root, register=False
                ),
                names,
            )
        )
    got = catalog_entries(spark, root=root)
    assert set(got) == set(names)


def test_cli_catalog_roundtrip(spark, fresh, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t, root = fresh
    main(["catalog", "add", f"trips={t}", "--root", root], spark=spark)
    assert json.loads(capsys.readouterr().out.strip()) == {"added": "trips"}
    _SQL_REGISTRY.clear()
    spark.catalog.dropTempView("trips")
    import os

    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        # the headline UX: sql with NO --snapshot flag, fresh session
        main(["sql", "SELECT id FROM trips"], spark=spark)
        out = [
            json.loads(l)
            for l in capsys.readouterr().out.strip().splitlines()
        ]
        assert sorted(r["id"] for r in out) == [1, 2, 3]
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)
    main(["catalog", "list", "--root", root], spark=spark)
    assert json.loads(capsys.readouterr().out.strip())["path"] == t
    main(["catalog", "drop", "trips", "--root", root], spark=spark)
    assert json.loads(capsys.readouterr().out.strip())["dropped"] is True


def test_version_pin_via_cli_at_syntax(spark, fresh, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t, root = fresh
    main(["catalog", "add", f"old={t}@1", "--root", root], spark=spark)
    capsys.readouterr()
    assert catalog_lookup(spark, "old", root=root)["version"] == 1


# ----------------------------------- round-10 review-pass regressions


def test_stale_binding_resolves_false_not_crash(spark, fresh):
    """A durable binding whose table directory has since been deleted
    must resolve False inside the front door's ownership probes (the
    documented fall-through-to-spark.sql contract), surfacing the
    loud both-facts SqlFrontError — never a raw FileNotFoundError out
    of the probe."""
    import shutil

    t, root = fresh
    catalog_add(spark, "doomed", t, root=root)
    _SQL_REGISTRY.clear()
    spark.catalog.dropTempView("doomed")
    shutil.rmtree(t)
    import os

    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        from nyc_taxi_data_warehouse_spark.warehouse.namecatalog import (
            catalog_resolve_missing,
        )

        assert catalog_resolve_missing(spark, "doomed") is False
        with pytest.raises(SqlFrontError, match="spark.sql also failed"):
            snapshot_sql(spark, "DELETE FROM doomed WHERE id = 1")
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)


def test_user_temp_view_never_hijacked(spark, fresh):
    """A user-created temp view sharing a durable catalog name must
    keep answering SELECTs with the USER's data — the lazy hook must
    not silently replace it when a probe touches the name."""
    t, root = fresh
    catalog_add(spark, "shared", t, root=root, register=False)
    _SQL_REGISTRY.pop("shared", None)
    # the user's own view, never snapshot_register'd
    spark.createDataFrame(
        [(99, "mine")], "id int, v string"
    ).createOrReplaceTempView("shared")
    import os

    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        # a mutation probe touches the name → must refuse, not hijack
        with pytest.raises(SqlFrontError):
            snapshot_sql(spark, "DELETE FROM shared WHERE id = 99")
        # the user's view is untouched
        got = snapshot_sql(spark, "SELECT v FROM shared").collect()
        assert [r.v for r in got] == ["mine"]
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)
        spark.catalog.dropTempView("shared")
