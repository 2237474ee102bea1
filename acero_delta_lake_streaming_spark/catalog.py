"""Fixture-table catalog: lazy DataFrames over the driver parquet.

Replaces the reference's scan layer: where it materializes whole Delta
tables to pandas before any predicate runs (``visualizer.py:40-45`` — no
pushdown, full scan per dashboard render), every loader here returns a lazy
DataFrame whose filters and projections Catalyst pushes into the parquet
scan. At 100 TB that difference is the whole ballgame: a scan with
``PushedFilters`` + pruned ``ReadSchema`` reads a fraction of the bytes.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from acero_delta_lake_streaming_spark.schemas import FIXTURE_SCHEMAS

TABLE_NAMES = (
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


@functools.lru_cache(maxsize=64)
def _events_ts_unit(path: str) -> str:
    """Parquet logical unit of ``events.ts`` ('us' or 'ns') from the
    footer — a driver-side metadata read, cached per path. The fixture
    generation has shipped BOTH units across rounds (NANOS through r3,
    MICROS since r4), and the reader's session-conf behavior for nanos
    changed underneath us once already; sniffing the footer makes the
    loader correct under either without any session conf."""
    import pyarrow.parquet as pq

    t = str(pq.read_schema(path).field("ts").type)
    if t.startswith("timestamp[us"):
        return "us"
    if t.startswith("timestamp[ns"):
        return "ns"
    raise ValueError(f"unexpected events.ts parquet type {t!r} at {path}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy DataFrame for one fixture table, read with its declared schema.

    Every table is read with ``schemas.FIXTURE_SCHEMAS[name]``, so
    building the DataFrame launches no Spark job: without a schema the
    parquet source runs one footer-inference job per read, which every
    query would pay once per table it loads. The declared schemas equal
    the footers (``tests/test_catalog.py`` pins them), so plans,
    pushdown, column order and types are those of an inferring read.

    ``events.ts`` is a parquet timestamp with int64 physical encoding
    (MICROS in the current fixtures; earlier rounds shipped NANOS). It
    is read with an explicit LongType schema — the raw epoch int64, no
    session conf required — then converted JVM-side into ``ts`` (µs
    timestamp, flooring ns→µs exactly like DuckDB's cast) and
    ``ts_ns``, the epoch-nanosecond BIGINT every downstream operator
    orders/derives on. For µs data ``ts_ns = raw * 1000``, which is
    bit-equal to DuckDB's ``epoch_ns(ts)``, so ns-scale arithmetic
    hash-matches the oracles. Reading the int64 directly keeps the scan
    vectorized and independent of reader-version timestamp handling
    (the ``nanosAsLong`` legacy conf this loader once relied on is
    silently ignored by the current reader).
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(path)
    if name != "events":
        return df
    if _events_ts_unit(path) == "us":
        return df.withColumn(
            "ts_ns", (F.col("ts") * F.lit(1000)).cast("bigint")
        ).withColumn("ts", F.expr("timestamp_micros(ts)"))
    # raw int64 nanoseconds
    return df.withColumn("ts_ns", F.col("ts")).withColumn(
        "ts", F.expr("timestamp_micros(ts DIV 1000)")
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"{name}{suffix}")
