"""DuckDB oracles: catalog result hashes and the lakehouse DML replay.

Results are compared by ``value_hash``, the order-insensitive hash
``tools/driver_sim.py`` uses: columns sorted by name, every cell
stringified from pandas, rows sorted. Both sides go through pandas
(Spark ``toPandas``, DuckDB ``.df()``) so the stringified forms agree.
"""

from __future__ import annotations

import hashlib

import duckdb

from .datagen import CATALOG_TABLES


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(tuple(str(c) for c in row) for row in pdf.itertuples(index=False))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def result_key(pdf) -> tuple:
    """(row count, sorted column names, value hash) — what must match."""
    return (len(pdf), tuple(sorted(pdf.columns)), value_hash(pdf))


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 1")
    return con


def catalog_keys(con, data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """query name -> result_key of its oracle SQL over ``data_dir``."""
    for t in CATALOG_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return {name: result_key(con.execute(sql).df()) for name, sql in oracles.items()}


# --- lakehouse replay --------------------------------------------------------

WAREHOUSE_COLS = (
    "hvfhs_license_num", "dispatching_base_num", "request_datetime",
    "on_scene_datetime", "pickup_datetime", "dropoff_datetime",
    "pu_location_id", "do_location_id", "sales_tax", "congestion_surcharge",
    "airport_fee", "tips", "driver_pay",
)

_RAW_NAMES = {"pu_location_id": "PULocationID", "do_location_id": "DOLocationID"}

# One row per table state, computable the same way by Spark SQL and DuckDB:
# integer sums only, so the two engines agree exactly.
CHECKSUM_SQL = """
SELECT count(*) AS n,
       sum(CAST(round(driver_pay * 100) AS BIGINT)) AS pay_cents,
       sum(CAST(round(tips * 100) AS BIGINT)) AS tip_cents,
       sum(pu_location_id) AS pu_sum,
       sum(do_location_id) AS do_sum,
       sum({pickup_us} % 1000003) AS pickup_mod,
       count(on_scene_datetime) AS on_scene_n,
       sum(year * 100 + month) AS ym_sum
FROM {table}
"""

DUCK_PICKUP_US = "epoch_us(pickup_datetime)"
SPARK_PICKUP_US = "unix_micros(CAST(pickup_datetime AS TIMESTAMP))"


def checksum_sql(table: str, spark: bool) -> str:
    return CHECKSUM_SQL.format(
        table=table, pickup_us=SPARK_PICKUP_US if spark else DUCK_PICKUP_US
    )


def zones_sql() -> str:
    """DuckDB twin of ``warehouse.queries.taxi_zone_dim``."""
    return (
        "SELECT CAST(i AS INTEGER) AS zone_id, 'Zone_' || i AS zone_name, "
        "['Manhattan', 'Brooklyn', 'Queens', 'Bronx', 'Staten Island', 'EWR']"
        "[CAST(i % 6 + 1 AS INTEGER)] AS borough FROM range(1, 266) t(i)"
    )


class Replay:
    """The lakehouse statement stream applied to a DuckDB table.

    Each method mirrors one engine call and returns what the engine
    call reports (rows loaded or affected), so the two can be compared
    statement by statement; ``checksum`` gives the comparable image of
    the whole table state."""

    def __init__(self, con):
        self.con = con
        con.execute(
            "CREATE TABLE trips (hvfhs_license_num VARCHAR, dispatching_base_num VARCHAR, "
            "request_datetime TIMESTAMP, on_scene_datetime TIMESTAMP, "
            "pickup_datetime TIMESTAMP, dropoff_datetime TIMESTAMP, "
            "pu_location_id INTEGER, do_location_id INTEGER, sales_tax DOUBLE, "
            "congestion_surcharge DOUBLE, airport_fee DOUBLE, tips DOUBLE, "
            "driver_pay DOUBLE, year INTEGER, month INTEGER)"
        )
        con.execute("CREATE TABLE loaded (year INTEGER, month INTEGER)")
        con.execute(f"CREATE OR REPLACE VIEW zones AS {zones_sql()}")

    def load(self, raw_path: str, year: int, month: int) -> int:
        """``load_month``: 0 when (year, month) is already loaded."""
        if self.con.execute(
            "SELECT count(*) FROM loaded WHERE year = ? AND month = ?", [year, month]
        ).fetchone()[0]:
            return 0
        # the load's projection: the 13 warehouse columns, location ids cast down
        cols = ", ".join(
            f"CAST({src} AS INTEGER)" if src else c
            for c, src in ((c, _RAW_NAMES.get(c)) for c in WAREHOUSE_COLS)
        )
        n = self.con.execute(
            f"INSERT INTO trips SELECT {cols}, {int(year)}, {int(month)} "
            f"FROM read_parquet('{raw_path}')"
        ).fetchone()[0]
        self.con.execute("INSERT INTO loaded VALUES (?, ?)", [year, month])
        return int(n)

    def execute(self, sql: str) -> int:
        """A DELETE or UPDATE; returns the affected row count."""
        return int(self.con.execute(sql).fetchone()[0])

    def merge(self, staging_path: str, key: str) -> int:
        """MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *
        (upsert on ``key``); returns the number of source rows."""
        src = f"read_parquet('{staging_path}')"
        self.con.execute(f"DELETE FROM trips WHERE {key} IN (SELECT {key} FROM {src})")
        return int(self.con.execute(
            f"INSERT INTO trips SELECT {', '.join(WAREHOUSE_COLS)}, year, month FROM {src}"
        ).fetchone()[0])

    def checksum(self) -> tuple:
        return tuple(int(x or 0) for x in self.con.execute(checksum_sql("trips", False)).fetchone())

    def query(self, sql: str):
        return self.con.execute(sql).df()
