"""Measure what every catalog query actually MOVES: executed-plan
SQLMetrics (shuffle count, shuffle bytes/records written, spill) for all
104 entries, written to SHUFFLES.json. Usage:

    python tools/shuffle_audit.py [--sf-dir /root/testdata/sf0.01] \
        [--out SHUFFLES.json]

This is the measured companion to the plan-shape test suite: at 100 TB
the dominant cost of most queries is their shuffle volume, so the audit
pins it per query as a reviewable, diffable artifact. A regression run
(same SF, same shuffle_partitions) compares with:

    python tools/shuffle_audit.py --compare OLD.json NEW.json

which exits 1 if any query grew its shuffle COUNT (an Exchange crept in)
or >2x its shuffle bytes.

Caveats recorded in the artifact itself:
- queries that internally materialize (localCheckpoint/persist — the
  LSH/cluster/pipeline family) are metered only on their post-checkpoint
  plan; their internal shuffle structure is asserted by the plan tests.
- byte counts scale with --sf-dir and shuffle_partitions; only compare
  like with like.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_data_warehouse_spark.plans.audit import collect_with_metrics  # noqa: E402
from nyc_taxi_data_warehouse_spark.queries import QUERIES  # noqa: E402
from nyc_taxi_data_warehouse_spark.session import get_spark  # noqa: E402


def _extra_ops() -> dict:
    """Non-catalog curation operators with the same (spark, sf_dir) ->
    DataFrame shape, so their shuffle volumes get the same two-SF
    measured entries as the 104 catalog queries (their plan shapes are
    already pinned in tests/test_round5_plans.py — this adds the
    MEASURED companion). The index syncs are represented by their
    probe/pair stages (the data-proportional part; the write side
    rewrites only touched partitions, plan-asserted), and the snapshot
    change feed by a real feed over a freshly-committed table."""
    import tempfile

    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        incremental_minhash_pairs,
        write_minhash_index,
    )
    from nyc_taxi_data_warehouse_spark.operators.dsir import (
        importance_resample,
        importance_weights,
    )
    from nyc_taxi_data_warehouse_spark.operators.semdedup import semantic_dedup
    from nyc_taxi_data_warehouse_spark.operators.shuffle import (
        shard_assignments,
        shuffle_corpus,
    )
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        ann_topk_from_index,
        write_ann_index,
    )
    from nyc_taxi_data_warehouse_spark.operators.spandedup import (
        decontaminate_spans,
    )
    from nyc_taxi_data_warehouse_spark.operators.split import temporal_split
    from nyc_taxi_data_warehouse_spark.sources import load_table
    from pyspark.sql import functions as F

    def docs(spark, sf_dir):
        return load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def emb(spark, sf_dir):
        return load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )

    def x_semdedup(spark, sf_dir):
        return semantic_dedup(emb(spark, sf_dir), threshold=0.95)

    def x_dsir_weights(spark, sf_dir):
        d = docs(spark, sf_dir)
        return importance_weights(
            d, d.where(F.col("doc_id") % 17 == 0), text_col="text"
        )

    def x_dsir_resample(spark, sf_dir):
        d = docs(spark, sf_dir)
        return importance_resample(
            d, d.where(F.col("doc_id") % 17 == 0), k=200, text_col="text"
        )

    def x_corpus_shuffle(spark, sf_dir):
        return shuffle_corpus(docs(spark, sf_dir), "doc_id", num_partitions=8)

    def x_shard_split(spark, sf_dir):
        return shard_assignments(docs(spark, sf_dir), "doc_id", 16)

    def x_decontaminate_spans(spark, sf_dir):
        d = docs(spark, sf_dir)
        return decontaminate_spans(
            d, d.where(F.col("doc_id") % 29 == 0), "text", "doc_id", n=8
        )

    def x_temporal_split(spark, sf_dir):
        import datetime as dt

        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
        span = hi - lo
        return temporal_split(
            ev,
            "ts",
            lo + dt.timedelta(seconds=span.total_seconds() * 0.7),
            lo + dt.timedelta(seconds=span.total_seconds() * 0.85),
            purge_gap="INTERVAL 1 HOUR",
        )

    def x_minhash_index_probe(spark, sf_dir):
        d = docs(spark, sf_dir)
        idx = tempfile.mkdtemp(prefix="audit_mh_")
        write_minhash_index(
            spark, d.where(F.col("doc_id") % 2 == 0), "text", "doc_id", idx
        )
        return incremental_minhash_pairs(
            spark, d.where(F.col("doc_id") % 2 == 1), "text", "doc_id", idx,
            jaccard_threshold=0.5,
        )

    def x_ann_index_probe(spark, sf_dir):
        # The probe BATCH is pinned (vec_id < 500, present at every SF):
        # the production shape is a bounded query batch against a
        # corpus that scales, so the measured growth isolates the
        # corpus side. Scaling both sides together is the self-join
        # dedup workload — quadratic by construction — which d06/d08
        # already meter with their hot-bucket caps.
        e = emb(spark, sf_dir)
        idx = tempfile.mkdtemp(prefix="audit_ann_")
        write_ann_index(
            e.where(F.col("vec_id") % 2 == 0), idx, "vec_id", "embedding"
        )
        return ann_topk_from_index(
            spark, idx,
            e.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 500)),
            "vec_id", "embedding", k=3,
        )

    def x_snapshot_changes(spark, sf_dir):
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
            snapshot_changes,
            snapshot_delete,
            snapshot_write,
        )

        t = tempfile.mkdtemp(prefix="audit_feed_") + "/t"
        d = docs(spark, sf_dir)
        snapshot_write(d.where(F.col("doc_id") % 3 == 0), t)
        snapshot_write(
            d.where(F.col("doc_id") % 3 == 1), t, mode="append"
        )
        snapshot_delete(spark, t, {"doc_id": [0, 3, 6]}, mode="rewrite")
        return snapshot_changes(spark, t, 0)

    def x_dv_delete_read(spark, sf_dir):
        # merge-on-read deletes: a DV delete (tombstone write cost
        # ~ deleted rows) followed by the full DV-masked read — the
        # measured cost of the anti-join every reader pays while
        # tombstones are outstanding
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
            read_snapshot,
            snapshot_delete,
            snapshot_write,
        )

        t = tempfile.mkdtemp(prefix="audit_dv_") + "/t"
        d = docs(spark, sf_dir)
        snapshot_write(d, t, stats_cols=["doc_id"])
        snapshot_delete(
            spark, t, {"doc_id": [i * 7 for i in range(40)]}, mode="dv"
        )
        return read_snapshot(spark, t)

    return {
        "x_semdedup": x_semdedup,
        "x_dsir_weights": x_dsir_weights,
        "x_dsir_resample": x_dsir_resample,
        "x_corpus_shuffle": x_corpus_shuffle,
        "x_shard_split": x_shard_split,
        "x_decontaminate_spans": x_decontaminate_spans,
        "x_temporal_split": x_temporal_split,
        "x_minhash_index_probe": x_minhash_index_probe,
        "x_ann_index_probe": x_ann_index_probe,
        "x_snapshot_changes": x_snapshot_changes,
        "x_dv_delete_read": x_dv_delete_read,
    }


def audit(sf_dir: str, out_path: str) -> dict:
    spark = get_spark(
        app_name="shuffle_audit",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "4")),
    )
    results: dict[str, dict] = {}
    extra = {
        name: type("Q", (), {"spark": staticmethod(fn)})
        for name, fn in _extra_ops().items()
    }
    for name, q in {**QUERIES, **extra}.items():
        t0 = time.monotonic()
        try:
            m = collect_with_metrics(q.spark(spark, sf_dir))
            m["sec"] = round(time.monotonic() - t0, 3)
            results[name] = m
        except Exception as e:  # record, keep auditing
            results[name] = {"error": f"{type(e).__name__}: {e}"}
    doc = {
        "sf_dir": sf_dir,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "queries": results,
    }
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    total_shuffles = sum(
        r.get("n_shuffles", 0) for r in results.values() if "error" not in r
    )
    total_bytes = sum(
        r.get("shuffle_bytes_written", 0) for r in results.values() if "error" not in r
    )
    spilled = [n for n, r in results.items() if r.get("spill_bytes", 0) > 0]
    errs = [n for n, r in results.items() if "error" in r]
    print(
        f"{len(results)} queries: {total_shuffles} shuffles, "
        f"{total_bytes / 2**20:.1f} MiB shuffled, spills={spilled or 0}, "
        f"errors={errs or 0} -> {out_path}"
    )
    return doc


def compare(old_path: str, new_path: str) -> int:
    old = json.load(open(old_path))["queries"]
    new = json.load(open(new_path))["queries"]
    rc = 0
    for name in sorted(set(old) & set(new)):
        a, b = old[name], new[name]
        if "error" in a or "error" in b:
            continue
        if b["n_shuffles"] > a["n_shuffles"]:
            print(
                f"REGRESSION {name}: shuffle count "
                f"{a['n_shuffles']} -> {b['n_shuffles']}"
            )
            rc = 1
        if b["shuffle_bytes_written"] > max(2 * a["shuffle_bytes_written"], 1 << 20):
            print(
                f"REGRESSION {name}: shuffle bytes "
                f"{a['shuffle_bytes_written']} -> {b['shuffle_bytes_written']}"
            )
            rc = 1
    return rc


def classify_scaling(
    small: dict, big: dict, factor: float, slack: float = 1.5
) -> dict:
    """Cross-scale-factor linearity analysis with MECHANICAL
    adjudication of super-linear deltas — the generator behind the
    SURVEY/README scaling claim (a hand-maintained version of that
    claim went stale in round 4; this derives it from the artifacts).

    With ``factor``x the data, a query's shuffle bytes should grow at
    most ``factor * slack``x. Queries whose small-SF shuffle is under
    4 KiB are exempt (metadata-like single-row aggregates — growth is
    all constant overhead). Each remaining super-linear delta is
    classified:

    - ``broadcast-crossover``: the shuffle COUNT also grew — a join
      side outgrew the broadcast threshold at the bigger SF, so an
      Exchange appeared. The byte jump is a plan-shape change (the
      intended AQE behavior), not density; flagged benign while the
      big-SF shuffle stays KB-scale (<1 MiB), else genuine.
    - ``pair-density``: same plan shape (equal shuffle count) but the
      RECORD count grew super-linearly — candidate-pair output density
      (the LSH-bucket family). Benign while KB-scale; at MB-scale it is
      the quadratic trap and flags genuine.
    - ``genuine``: anything else — a lost partial aggregation or a join
      degenerating toward pairwise. Always a failure.

    Returns ``{"per_query", "super_linear", "worst_linear",
    "median_ratio", "spills", "claim"}`` where ``claim`` is the
    generated summary paragraph."""
    import statistics

    per_query: dict[str, dict] = {}
    super_linear: dict[str, dict] = {}
    ratios: list[float] = []
    worst = (-1.0, "")  # ratio can legitimately be 0.0 (AQE
    # broadcast crossover eliminating the exchange at the big SF);
    # a None tie-partner would TypeError inside max()
    spills = []
    for q in sorted(set(small) & set(big)):
        a, b = small[q], big[q]
        if "error" in a or "error" in b:
            continue
        if b.get("spill_bytes", 0) or a.get("spill_bytes", 0):
            spills.append(q)
        if a["shuffle_bytes_written"] < 4096:
            continue
        ratio = b["shuffle_bytes_written"] / a["shuffle_bytes_written"]
        rec = {
            "bytes_ratio": round(ratio, 1),
            "bytes": [a["shuffle_bytes_written"], b["shuffle_bytes_written"]],
            "records": [
                a.get("shuffle_records_written"),
                b.get("shuffle_records_written"),
            ],
            "n_shuffles": [a["n_shuffles"], b["n_shuffles"]],
        }
        per_query[q] = rec
        ratios.append(ratio)
        if ratio <= factor * slack:
            worst = max(worst, (ratio, q))
            continue
        kb_scale = b["shuffle_bytes_written"] < 1 << 20
        if b["n_shuffles"] > a["n_shuffles"]:
            cls = "broadcast-crossover" if kb_scale else "genuine"
        elif (
            rec["records"][0]
            and rec["records"][1]
            and rec["records"][1] / rec["records"][0] > factor * slack
        ):
            cls = "pair-density" if kb_scale else "genuine"
        else:
            cls = "genuine"
        rec["class"] = cls
        super_linear[q] = rec
    med = round(statistics.median(ratios), 1) if ratios else 0.0
    adjudicated = ", ".join(
        f"{q} {r['bytes_ratio']}x ({r['class']}"
        + (
            f", shuffles {r['n_shuffles'][0]}->{r['n_shuffles'][1]})"
            if r["class"] == "broadcast-crossover"
            else f", records {r['records'][0]}->{r['records'][1]})"
            if r["class"] == "pair-density"
            else ")"
        )
        for q, r in sorted(super_linear.items())
    )
    worst_txt = (
        f"worst linear growth {worst[1]} at {round(worst[0], 1)}x "
        f"(budget {factor * slack:g}x); "
        if worst[1]
        else "no query within the linear budget (see super-linear list); "
        if per_query
        else "no comparable queries; "
    )
    claim = (
        f"Measured across {len(per_query)} comparable queries on "
        f"{factor:g}x the data: median shuffle-byte growth {med}x; "
        + worst_txt
        + (
            f"{len(super_linear)} super-linear delta(s), all KB-scale "
            f"and mechanically adjudicated benign: {adjudicated}; "
            if super_linear
            and all(r["class"] != "genuine" for r in super_linear.values())
            else f"SUPER-LINEAR FAILURES: {adjudicated}; "
            if super_linear
            else "no super-linear deltas; "
        )
        + ("ZERO spills at either scale factor." if not spills else f"SPILLS: {spills}.")
    )
    return {
        "per_query": per_query,
        "super_linear": super_linear,
        "worst_linear": {"query": worst[1], "ratio": round(worst[0], 1)},
        "median_ratio": med,
        "spills": spills,
        "claim": claim,
    }


def scaling(
    small_path: str,
    big_path: str,
    factor: float,
    slack: float = 1.5,
    claim_out: str | None = None,
) -> int:
    """CLI wrapper over ``classify_scaling``: prints the generated
    claim, optionally writes it (plus the adjudication table) to
    ``--claim-out``, and exits 1 only on GENUINE super-linear growth —
    adjudicated broadcast-crossover / pair-density deltas pass."""
    small = json.load(open(small_path))["queries"]
    big = json.load(open(big_path))["queries"]
    res = classify_scaling(small, big, factor, slack)
    for q, r in sorted(res["super_linear"].items()):
        print(f"{r['class'].upper()} {q}: {r['bytes_ratio']}x shuffle bytes")
    print(res["claim"])
    if claim_out:
        with open(claim_out, "w") as f:
            json.dump(
                {
                    "claim": res["claim"],
                    "super_linear": res["super_linear"],
                    "worst_linear": res["worst_linear"],
                    "median_ratio": res["median_ratio"],
                    "spills": res["spills"],
                },
                f,
                indent=1,
                sort_keys=True,
            )
    return (
        1
        if any(r["class"] == "genuine" for r in res["super_linear"].values())
        else 0
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="SHUFFLES.json")
    ap.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"))
    ap.add_argument("--scaling", nargs=2, metavar=("SMALL", "BIG"))
    ap.add_argument("--factor", type=float, default=10.0, help="data ratio BIG/SMALL")
    ap.add_argument(
        "--claim-out",
        default=None,
        help="write the generated scaling claim + adjudication (JSON)",
    )
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.scaling:
        return scaling(*args.scaling, args.factor, claim_out=args.claim_out)
    audit(args.sf_dir, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
