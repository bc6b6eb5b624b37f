"""The warehouse's flagship parity queries over ``fhvhv_tripdata``.

The reference's users run ad-hoc SQL in Redshift (``/root/reference/
README.md:77``); the canonical implied workload is monthly revenue by
pickup zone joined to the public taxi-zone lookup (265 rows — public
knowledge; the reference keeps it Redshift-side). Here it is first-class:
manifest-pruned scan of one (year, month), broadcast zone dim, hash
agg, top-k — the SURVEY §7 phase-1 query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import fact_path
from .snapshots import read_snapshot

N_ZONES = 265
_BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island", "EWR"]


def taxi_zone_dim(spark: SparkSession) -> DataFrame:
    """Deterministic stand-in for the public TLC taxi-zone lookup
    (zone_id 1..265). Swap for the real CSV in production; the query
    shape (broadcast dim join) is identical."""
    return spark.range(1, N_ZONES + 1).select(
        F.col("id").cast("int").alias("zone_id"),
        F.concat(F.lit("Zone_"), F.col("id")).alias("zone_name"),
        F.element_at(
            F.array(*[F.lit(b) for b in _BOROUGHS]),
            (F.col("id") % len(_BOROUGHS) + 1).cast("int"),
        ).alias("borough"),
    )


def monthly_zone_pay(
    spark: SparkSession,
    year: int,
    month: int,
    top: int = 20,
    path: str | None = None,
) -> DataFrame:
    """Monthly driver-pay and tips by pickup zone, top-k by pay, over
    the fact table at ``path`` (default: ``catalog.fact_path``).

    Plan contract (asserted in tests): the manifest prunes the scan to
    the (year, month) files, the 265-row dim broadcasts, and the top-k
    runs as TakeOrderedAndProject — no full sort.
    """
    trips = read_snapshot(
        spark, fact_path(spark, path), partitions={"year": year, "month": month}
    )
    zones = taxi_zone_dim(spark)
    return (
        trips.join(F.broadcast(zones), trips.pu_location_id == zones.zone_id)
        .groupBy("zone_id", "zone_name", "borough")
        .agg(
            F.sum(F.col("driver_pay").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_driver_pay"),
            F.sum(F.col("tips").cast("decimal(18,2)")).cast("double").alias("total_tips"),
            F.count("*").alias("n_trips"),
        )
        .orderBy(F.desc("total_driver_pay"), "zone_id")
        .limit(top)
    )
