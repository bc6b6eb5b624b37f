"""Warehouse bootstrap: the fact table and its name.

Parity with the reference's ``create_db_tables`` (``/root/reference/
setup.py:63-99``), which issues ``CREATE TABLE IF NOT EXISTS fhvhv_tripdata``
against Redshift over psycopg2. Here the fact table is a
``warehouse.snapshots`` table partitioned by (year, month) at
``<warehouse root>/fhvhv_tripdata`` — the Spark-idiomatic replacement for
both the reference's S3 key scheme (``raw/fhvhv/{year}/...``,
save_nyc_data_to_s3.py:36-48) and Redshift distribution — and its name is
bound in the durable name catalog, so ``SELECT ... FROM fhvhv_tripdata``
resolves in any later session. Manifest partition pruning makes the
monthly access pattern a metadata-only file selection at any scale, and
each load commit's provenance replaces the reference's per-file S3 HEAD
existence check (save_nyc_data_to_s3.py:58-78).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from ..schema import FHVHV_WAREHOUSE_SCHEMA
from ..session import local_frame
from .manifestlog import list_versions
from .namecatalog import catalog_add, warehouse_root

FACT_TABLE = "fhvhv_tripdata"
PARTITION_COLS = ["year", "month"]
FACT_SCHEMA = StructType(
    FHVHV_WAREHOUSE_SCHEMA.fields
    + [StructField(c, IntegerType()) for c in PARTITION_COLS]
)


def fact_path(spark: SparkSession, path: str | None = None) -> str:
    """``path``, or the default fact table ``<warehouse root>/fhvhv_tripdata``."""
    return path or f"{warehouse_root(spark)}/{FACT_TABLE}"


def ensure_table(spark: SparkSession, path: str) -> None:
    """Publish an empty v1 with the fact schema, partitioned on
    (year, month), when the table at ``path`` has no versions."""
    from .snapshots import snapshot_write

    if not list_versions(path):
        snapshot_write(
            local_frame(spark, [], FACT_SCHEMA), path,
            partition_cols=PARTITION_COLS,
        )


def init_warehouse(spark: SparkSession, path: str | None = None) -> str:
    """Create the fact table if it has no versions and bind the name
    ``fhvhv_tripdata`` to it durably (idempotent). Returns its path."""
    path = fact_path(spark, path)
    ensure_table(spark, path)
    catalog_add(spark, FACT_TABLE, path)
    return path
