"""Readers for the driver-provided parquet tables + derived geo views.

``/root/testdata/sf*/`` holds a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` (see TESTDATA.md). The spatial operators
need point tables; we derive deterministic lat/lon from integer keys with
arithmetic that is *exactly* reproducible in ANSI SQL (integer modulo and
exact IEEE divisions only — no trig, no hashing), so the DuckDB oracle
computes byte-identical coordinates.

- ``stops``    := customers with derived coordinates (the platform side)
- ``stations`` := suppliers with derived coordinates (the snap-target side)

This mirrors the reference's two point populations: platform nodes and
stop_area centers (``osm2gtfs/core/osm_connector.py:258-283``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (multiplier, modulo, divisor, offset) per axis — primes keep the scatter
# uncorrelated with the keys' own structure. lon stays in [-170, 170) so no
# cell ring ever wraps the antimeridian (keeps the SQL oracle wrap-free).
_LAT_SPEC = (7919, 170_000, 1000.0, -85.0)
_LON_SPEC = (104_729, 340_000, 1000.0, -170.0)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derived_lat(key) -> F.Column:
    m, mod, div, off = _LAT_SPEC
    k = key if not isinstance(key, str) else F.col(key)
    return ((k * F.lit(m)) % F.lit(mod)) / F.lit(div) + F.lit(off)


def derived_lon(key) -> F.Column:
    m, mod, div, off = _LON_SPEC
    k = key if not isinstance(key, str) else F.col(key)
    return ((k * F.lit(m)) % F.lit(mod)) / F.lit(div) + F.lit(off)


def event_lat_lon() -> tuple[F.Column, F.Column]:
    """(lat, lon) of an ``events`` row, from ``user_id``, ``event_id``
    and ``value`` (events carry no geo columns). Every event-point gate
    and its oracle CTE share these coordinates; one Spark-side source
    keeps the copies from drifting apart from the SQL
    (``(user_id % 180) - 90 + value / 1000.0`` and
    ``(event_id % 360) - 180 + value / 1000.0``)."""
    return (
        ((F.col("user_id") % 180) - 90 + F.col("value") / 1000.0).alias("lat"),
        ((F.col("event_id") % 360) - 180 + F.col("value") / 1000.0).alias("lon"),
    )


def derived_lat_sql(key_expr: str) -> str:
    m, mod, div, off = _LAT_SPEC
    return f"((({key_expr}) * {m}) % {mod}) / {div} + ({off})"


def derived_lon_sql(key_expr: str) -> str:
    m, mod, div, off = _LON_SPEC
    return f"((({key_expr}) * {m}) % {mod}) / {div} + ({off})"


def stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-derived point table: (stop_key, name, nationkey, lat, lon)."""
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("stop_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        derived_lat("c_custkey").alias("lat"),
        derived_lon("c_custkey").alias("lon"),
    )


def stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-derived point table: (station_key, name, lat, lon)."""
    return load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("station_key"),
        F.col("s_name").alias("name"),
        derived_lat("s_suppkey").alias("lat"),
        derived_lon("s_suppkey").alias("lon"),
    )


STOPS_SQL = f"""
SELECT c_custkey AS stop_key,
       c_name    AS name,
       CAST(c_nationkey AS INTEGER) AS nationkey,
       {derived_lat_sql('c_custkey')} AS lat,
       {derived_lon_sql('c_custkey')} AS lon
FROM customer
"""

STATIONS_SQL = f"""
SELECT s_suppkey AS station_key,
       s_name    AS name,
       {derived_lat_sql('s_suppkey')} AS lat,
       {derived_lon_sql('s_suppkey')} AS lon
FROM supplier
"""
