"""Property-based tests (hypothesis) for the algebraic invariants the
scale design depends on: salting must be result-invariant, two-level
rollups must equal one-level aggregation, exact dedup must be
idempotent and canonical. Random inputs include the shapes the fixtures
can't produce: empty frames, all-duplicate keys, single hot keys.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)  # few keys → forced collisions
fact_rows = st.lists(
    st.tuples(st.integers(0, 10_000), keys, st.integers(-100, 100)),
    min_size=0,
    max_size=40,
)
dim_rows = st.lists(st.tuples(keys, st.text("abc", max_size=3)), min_size=0, max_size=8)


@given(fact=fact_rows, dim=dim_rows)
@settings(**SETTINGS)
def test_salted_join_invariant(spark, fact, dim):
    from nyc_taxi_data_warehouse_spark.operators.skew import salted_join

    f = spark.createDataFrame(fact, "rid long, k long, v long")
    d = spark.createDataFrame(dim, "k long, name string").dropDuplicates(["k"])
    plain = f.join(d, "k")
    salted = salted_join(f, d, on=["k"], salt_from="rid", n_salts=4)
    cols = ["k", "rid", "v", "name"]
    assert sorted(map(tuple, salted.select(*cols).collect())) == sorted(
        map(tuple, plain.select(*cols).collect())
    )


event_rows = st.lists(
    st.tuples(
        st.integers(0, 3 * 24 * 3600 - 1),  # seconds within 3 days
        st.sampled_from(["a", "b"]),
        st.integers(-10_000, 10_000),  # value in cents
    ),
    min_size=0,
    max_size=60,
)


@given(rows=event_rows)
@settings(**SETTINGS)
@pytest.mark.slowproof
def test_rollup_decomposes(spark, rows):
    from nyc_taxi_data_warehouse_spark.warehouse.rollup import (
        daily_from_hourly,
        hourly_rollup,
    )

    base = datetime.datetime(2024, 1, 1)
    # user_id derived from the value: collisions across hours exercise the
    # HLL merge (union of hourly sketches must equal the one-shot sketch).
    data = [
        (base + datetime.timedelta(seconds=s), t, c / 100.0, f"u{c % 7}")
        for s, t, c in rows
    ]
    e = spark.createDataFrame(
        data, "ts timestamp_ntz, event_type string, value double, user_id string"
    )
    via_rollup = daily_from_hourly(hourly_rollup(e))
    direct = (
        e.groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double") / 100.0).alias(
                "total_value"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            # HLL register merge is a max per register — order-independent —
            # so rollup-then-union must give the *exact* same estimate.
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
        )
    )
    cols = [
        "day", "event_type", "n", "total_value", "min_value", "max_value",
        "approx_users",
    ]
    assert sorted(map(tuple, via_rollup.select(*cols).collect())) == sorted(
        map(tuple, direct.select(*cols).collect())
    )


dup_rows = st.lists(
    st.tuples(st.integers(0, 50), st.sampled_from(["x", "y", "z"])),
    min_size=0,
    max_size=40,
)


@given(rows=dup_rows)
@settings(**SETTINGS)
def test_exact_dedup_idempotent_and_canonical(spark, rows):
    from nyc_taxi_data_warehouse_spark.operators.dedup import exact_dedup

    data = [(i * 100 + n, t) for i, (n, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    once = exact_dedup(df, ["text"], "doc_id")
    twice = exact_dedup(once, ["text"], "doc_id")
    got = sorted(map(tuple, once.select("doc_id", "text").collect()))
    assert got == sorted(map(tuple, twice.select("doc_id", "text").collect()))
    # canonical: exactly one row per distinct text, the min doc_id
    expected = sorted(
        map(
            tuple,
            df.groupBy("text")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "text")
            .collect(),
        )
    )
    assert got == expected


vec = st.lists(
    st.floats(-10, 10, allow_nan=False, width=32), min_size=1, max_size=16
)


@given(pairs=st.lists(st.tuples(vec, vec), min_size=1, max_size=10))
@settings(**SETTINGS)
def test_vector_math_matches_numpy(spark, pairs):
    import math

    import numpy as np

    from nyc_taxi_data_warehouse_spark.functions import vector as V

    # equalize lengths per pair (zip_with semantics need same dim)
    data = [
        (i, [float(x) for x in a[: len(b)]], [float(y) for y in b[: len(a)]])
        for i, (a, b) in enumerate(pairs)
    ]
    df = spark.createDataFrame(data, "i int, a array<double>, b array<double>")
    got = {
        r["i"]: (r["d"], r["c"])
        for r in df.select(
            "i",
            V.dot("a", "b").alias("d"),
            V.cosine("a", "b").alias("c"),
        ).collect()
    }
    for i, a, b in data:
        d_np = float(np.dot(a, b))
        assert math.isclose(got[i][0], d_np, rel_tol=1e-9, abs_tol=1e-9)
        denom = float(np.linalg.norm(a) * np.linalg.norm(b))
        if denom == 0.0:
            assert got[i][1] is None or math.isnan(got[i][1])
        else:
            assert math.isclose(got[i][1], d_np / denom, rel_tol=1e-9, abs_tol=1e-9)


edge_lists = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


@given(edges=edge_lists)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dup_clusters_match_union_find(spark, edges):
    """dup_clusters == reference union-find on arbitrary pair graphs
    (chains, cycles, singleton edges — shapes LSH output can produce)."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


asof_left = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 10)),  # (key, ts) — tiny ts range
    min_size=0,
    max_size=20,
)
asof_right = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 10), st.integers(-5, 5)),
    min_size=0,
    max_size=20,
)


@given(left=asof_left, right=asof_right)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_deterministic_ties(spark, left, right):
    """asof_join == DuckDB greatest-(ts, payload) reference on data WITH
    duplicate right timestamps per key (the shape the sf fixtures never
    produce). Declared tie semantics: at equal matching ts, the right
    row with the greatest right_cols tuple wins, taken atomically."""
    import duckdb

    base = datetime.datetime(2024, 1, 1)
    ldata = [
        (i, k, base + datetime.timedelta(seconds=s)) for i, (k, s) in enumerate(left)
    ]
    rdata = [
        (k, base + datetime.timedelta(seconds=s), v) for k, s, v in right
    ]
    from nyc_taxi_data_warehouse_spark.operators.temporal import asof_join

    l_df = spark.createDataFrame(ldata, "lid long, k long, ts timestamp_ntz")
    r_df = spark.createDataFrame(rdata, "k long, ts timestamp_ntz, payload long")
    got = sorted(
        map(
            tuple,
            asof_join(
                l_df, r_df, on="k", left_ts="ts", right_ts="ts",
                right_cols=["payload"],
            ).select("lid", "payload", "matched_ts").collect(),
        )
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE l(lid BIGINT, k BIGINT, ts TIMESTAMP)")
    con.execute("CREATE TABLE r(k BIGINT, ts TIMESTAMP, payload BIGINT)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", ldata or [(None, None, None)])
    con.executemany("INSERT INTO r VALUES (?,?,?)", rdata or [(None, None, None)])
    if not ldata:
        con.execute("DELETE FROM l")
    if not rdata:
        con.execute("DELETE FROM r")
    want = sorted(
        map(
            tuple,
            con.execute(
                """
                SELECT lid, m.payload, m.ts
                FROM l LEFT JOIN LATERAL (
                  SELECT payload, ts FROM r
                  WHERE r.k = l.k AND r.ts <= l.ts
                  ORDER BY r.ts DESC, r.payload DESC LIMIT 1
                ) m ON true
                """
            ).fetchall(),
        )
    )
    assert got == want


def test_minhash_lsh_degenerate_corpora(spark):
    """Adversarial shapes: all-identical docs (every band key collides),
    empty docs, single-token docs. The skew guard must drop oversized
    buckets instead of exploding quadratically, and results stay exact
    on the surviving buckets."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
    )

    # 1. all-identical corpus, guard disabled: C(n,2) exact pairs, jaccard 1
    n = 12
    same = spark.createDataFrame(
        [(i, "the same exact text repeated for every doc") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(
        same, "text", "doc_id", jaccard_threshold=0.5, max_bucket_size=None
    )
    rows = pairs.collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in rows)
    # ...and they resolve to ONE cluster labeled by the min id
    labels = dup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == n

    # 2. same corpus with the guard ON and a small cap: every bucket is
    # oversized -> dropped -> zero candidate pairs, no blow-up.
    guarded = minhash_lsh_pairs(
        same, "text", "doc_id", jaccard_threshold=0.5, max_bucket_size=5
    )
    assert guarded.count() == 0

    # 3. empty/whitespace/single-token docs must not crash and produce no
    # false pairs above threshold with distinct singleton content
    oddballs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "two"), (5, "")],
        "doc_id long, text string",
    )
    odd_pairs = minhash_lsh_pairs(
        oddballs, "text", "doc_id", jaccard_threshold=0.5, max_bucket_size=None
    ).collect()
    # the two empty docs are legitimate exact dups of each other; nothing else
    assert {(r["id_a"], r["id_b"]) for r in odd_pairs} <= {(1, 5), (1, 2), (2, 5)}


def test_dup_clusters_empty_pairs(spark):
    from nyc_taxi_data_warehouse_spark.operators.dedup import dup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dup_clusters(empty).count() == 0


def test_multiprobe_ann_recall_gate(spark, sf_dir):
    """The declared (8 tables, 8 planes, radius 2) multi-probe setting
    must hold mean recall@5 >= 0.9 against the exact baseline — the
    accuracy gate for trading brute-force scans for bucketed probes."""
    from nyc_taxi_data_warehouse_spark.queries import QUERIES

    rows = QUERIES["e09_ann_recall_multiprobe"].spark(spark, sf_dir).collect()
    assert rows, "recall eval returned no queries"
    mean_recall = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"mean recall@5 {mean_recall:.3f} < 0.9"


def test_hll_union_matches_flat_sketch(spark, sf_dir):
    """Mergeability: unioning per-nation HLL sketches must give the SAME
    estimate as one flat sketch over all the region's rows — the
    property that makes sketch partials safe to roll up across
    partitions/days without re-scanning raw data."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_regionkey", "n_nationkey", "o_custkey")
    )
    unioned = (
        joined.groupBy("n_regionkey", "n_nationkey")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .groupBy("n_regionkey")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    flat = joined.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    )
    got = {r["n_regionkey"]: r["est"] for r in unioned.collect()}
    want = {r["n_regionkey"]: r["est"] for r in flat.collect()}
    assert got == want


@given(left=asof_left, right=asof_right)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_forward_nearest_vs_bruteforce(spark, left, right):
    """forward/nearest directions == a brute-force reference on data WITH
    duplicate right timestamps AND equidistant two-sided ties. Declared
    semantics: forward picks least payload at the matched ts (backward
    picks greatest); nearest resolves exact-distance ties backward."""
    import datetime as _dt

    from nyc_taxi_data_warehouse_spark.operators.temporal import asof_join

    base = _dt.datetime(2024, 1, 1)
    ldata = [
        (i, k, base + _dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)
    ]
    rdata = [(k, base + _dt.timedelta(seconds=s), v) for k, s, v in right]
    l_df = spark.createDataFrame(ldata, "lid long, k long, ts timestamp_ntz")
    r_df = spark.createDataFrame(rdata, "k long, ts timestamp_ntz, payload long")

    def backward_pick(k, lts):
        cand = [(ts, v) for rk, ts, v in rdata if rk == k and ts <= lts]
        return max(cand) if cand else None  # greatest (ts, payload)

    def forward_pick(k, lts):
        cand = [(ts, v) for rk, ts, v in rdata if rk == k and ts >= lts]
        if not cand:
            return None
        mts = min(ts for ts, _ in cand)
        return (mts, min(v for ts, v in cand if ts == mts))  # least payload

    def nearest_pick(k, lts):
        b, f = backward_pick(k, lts), forward_pick(k, lts)
        if b is None or f is None:
            return b or f
        return f if (f[0] - lts) < (lts - b[0]) else b  # ties backward

    for direction, pick in (("forward", forward_pick), ("nearest", nearest_pick)):
        got = sorted(
            map(
                tuple,
                asof_join(
                    l_df, r_df, on="k", left_ts="ts", right_ts="ts",
                    right_cols=["payload"], direction=direction,
                ).select("lid", "payload", "matched_ts").collect(),
            )
        )
        want = sorted(
            (lid, *(pick(k, lts)[::-1] if pick(k, lts) else (None, None)))
            for lid, k, lts in ldata
        )
        assert got == want, f"direction={direction}"


def test_approx_top_k_covers_exact_heavy_hitters(spark, sf_dir):
    """The approx_top_k sketch (the scale path for frequent items: one
    bounded-memory pass, mergeable partials) must contain every EXACT
    heavy hitter t09 reports — the containment guarantee that makes the
    sketch a safe pre-filter at 100 TB, where the exact two-agg pass
    runs only over sketch-surfaced candidates."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.functions import text as T
    from nyc_taxi_data_warehouse_spark.queries import QUERIES
    from nyc_taxi_data_warehouse_spark.sources import load_table

    exact = {
        r["tok"]
        for r in QUERIES["t09_token_heavy_hitters"].spark(spark, sf_dir).collect()
    }
    assert exact, "fixture should produce at least one heavy hitter"

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    [row] = toks.agg(
        F.expr(f"approx_top_k(tok, {max(2 * len(exact), 16)})").alias("top")
    ).collect()
    sketched = {e["item"] for e in row["top"]}
    assert exact <= sketched, f"missing from sketch: {exact - sketched}"


def test_rollup_sketch_estimate_near_exact(spark, sf_dir):
    """The rollup's carried HLL distinct-user estimate, served daily via
    sketch union, must land within 5% of the exact daily distinct count
    computed from raw — the accuracy side of the mergeable-distinct
    trade (its exactness-of-merge side is the stream==batch test)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.sources import load_table
    from nyc_taxi_data_warehouse_spark.warehouse.rollup import (
        daily_from_hourly,
        hourly_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    got = {
        (r["day"], r["event_type"]): r["approx_users"]
        for r in daily_from_hourly(hourly_rollup(events)).collect()
    }
    exact = {
        (r["day"], r["event_type"]): r["n_users"]
        for r in events.groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(0.05 * exact[k], 2), (k, est, exact[k])


@given(left=asof_left, right=asof_right)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_range_join_vs_bruteforce(spark, left, right):
    """range_join's bucketed candidate generation (own + adjacent time
    buckets, then the exact predicate) must produce EXACTLY the brute-
    force pair set — including pairs that straddle bucket boundaries and
    pairs exactly at the bound."""
    import datetime as _dt

    from nyc_taxi_data_warehouse_spark.operators.temporal import range_join

    base = _dt.datetime(2024, 1, 1)
    ldata = [
        (i, k, base + _dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)
    ]
    rdata = [
        (j, k, base + _dt.timedelta(seconds=s))
        for j, (k, s, _v) in enumerate(right)
    ]
    l_df = spark.createDataFrame(ldata, "lid long, k long, lts timestamp_ntz")
    r_df = spark.createDataFrame(rdata, "rid long, k long, rts timestamp_ntz")

    BOUND = 3  # seconds — small vs the 0..10 s fixture range, so buckets matter
    got = sorted(
        (r.lid, r.rid)
        for r in range_join(
            l_df, r_df, on="k", left_ts="lts", right_ts="rts",
            bound="3 seconds", bound_seconds=BOUND,
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for lid, lk, lts in ldata
        for rid, rk, rts in rdata
        if lk == rk and abs((lts - rts).total_seconds()) <= BOUND
    )
    assert got == want


doc_lens = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(0, 700), st.integers(0, 3)),
    min_size=0,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(rows=doc_lens)
@settings(**SETTINGS)
def test_pack_sequences_invariants(spark, rows):
    """Greedy packing invariants that must hold for ANY corpus: every bin
    fits the capacity, offsets tile each bin contiguously in id order,
    bin ids are consecutive from 0 per group, and no doc is lost —
    including len-0 docs, over-capacity docs (clamped), empty input."""
    from nyc_taxi_data_warehouse_spark.operators.packing import pack_sequences

    cap = 128
    df = spark.createDataFrame(rows, "doc_id long, n_tok long, grp long")
    out = pack_sequences(df, "doc_id", "n_tok", "grp", cap).collect()
    assert len(out) == len(rows)
    by_grp: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.grp, r.doc_id)):
        assert 0 <= r.seq_len <= cap
        by_grp.setdefault(r.grp, []).append(r)
    for rs in by_grp.values():
        fill, bin_id = 0, 0
        for r in rs:  # ascending doc_id within the group
            if fill + r.seq_len > cap:
                bin_id += 1
                fill = 0
            assert (r.bin_id, r.bin_offset) == (bin_id, fill)
            fill += r.seq_len
        assert fill <= cap


# (key, version) pairs with a deterministic payload per pair — the CDC
# invariant that a version identifies one row state. Few keys/versions
# force cross-batch key collisions and version ties.
cdc_events = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 6)),
    min_size=1,
    max_size=12,
)


@given(events=cdc_events, cut=st.integers(0, 11), flip=st.booleans())
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_versioned_merge_order_independent(spark, tmp_path_factory, events, cut, flip):
    """Splitting a CDC event set into two batches and applying them in
    either order (one DV merge commit each, as ``stream_upsert`` does)
    must converge to max-version-per-key — the pure-Python fold of the
    same events."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_merge,
        snapshot_write,
    )

    rows = [(k, k % 2, k * 100 + ver, ver) for k, ver in events]
    cut = min(cut, len(rows))
    batches = [b for b in (rows[:cut], rows[cut:]) if b]
    if flip:
        batches = batches[::-1]

    schema = "k int, pt int, v int, ver int"
    tgt = str(tmp_path_factory.mktemp("cdc_prop") / "tgt")
    snapshot_write(
        spark.createDataFrame([], schema), tgt, partition_cols=["pt"]
    )
    for b in batches:
        snapshot_merge(
            spark, tgt, spark.createDataFrame(b, schema),
            keys=["k"], partition_cols=["pt"], version_col="ver", mode="dv",
        )

    want = {}
    for k, ver in events:
        if k not in want or ver > want[k]:
            want[k] = ver
    got = {
        r.k: (r.pt, r.v, r.ver)
        for r in read_snapshot(spark, tgt).collect()
    }
    assert got == {k: (k % 2, k * 100 + v, v) for k, v in want.items()}


def test_embedding_near_dup_hot_bucket_capped(spark):
    """The LSH skew guard (r4 worklist: d08 pair-density): a planted
    boilerplate bucket — one embedding repeated 40× — must be DROPPED
    by max_bucket_size, not exploded into 40*39/2 candidate pairs,
    while normal-sized buckets keep producing their pairs. Holds for
    both the single-table and the multi-table path."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        embedding_near_dup,
    )

    hot = [(i, [1.0] * 8) for i in range(40)]
    cold = [
        (100, [-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0]),
        (101, [-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 0.9]),
    ]
    df = spark.createDataFrame(
        hot + cold, "vec_id long, embedding array<double>"
    )
    for n_tables in (1, 3):
        uncapped = embedding_near_dup(
            df, threshold=0.5, n_planes=4, dim=8,
            n_tables=n_tables, max_bucket_size=None,
        ).collect()
        capped = embedding_near_dup(
            df, threshold=0.5, n_planes=4, dim=8,
            n_tables=n_tables, max_bucket_size=10,
        ).collect()
        # uncapped: quadratic blow-up from the hot bucket is present
        assert len([r for r in uncapped if r.id_a < 40]) == 40 * 39 // 2
        # capped: hot bucket dropped entirely, cold pair intact
        assert [(r.id_a, r.id_b) for r in capped] == [(100, 101)]
