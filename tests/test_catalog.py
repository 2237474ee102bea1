"""Catalog loader: declared read schemas and events timestamp handling.

Every fixture table is read with its ``schemas.FIXTURE_SCHEMAS`` entry,
so the declared schemas must equal what the parquet footers say (else
the loader would silently read different columns or types than an
inferring read) and building the DataFrames must launch no Spark job.

The driver has shipped events.ts as both TIMESTAMP(NANOS) (rounds 1-3)
and TIMESTAMP(MICROS) (round 4+), and Spark's session-conf behavior for
nanos parquet changed underneath us once. The loader sniffs the footer
and must produce the SAME (ts, ts_ns) semantics for either encoding.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from acero_delta_lake_streaming_spark.catalog import (
    TABLE_NAMES,
    load_table,
    load_tables,
)
from acero_delta_lake_streaming_spark.schemas import FIXTURE_SCHEMAS
from newsbench import gen


def _pairs(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema]


def _assert_footers_match(spark, data_dir: str, names) -> None:
    """Each declared schema equals, in order, the schema Spark infers
    from the footer; events.ts is the declared exception (int64 read
    raw as bigint), so its footer type is checked instead."""
    for name in names:
        path = os.path.join(data_dir, f"{name}.parquet")
        footer = _pairs(spark.read.parquet(path).schema)
        declared = _pairs(FIXTURE_SCHEMAS[name])
        if name == "events":
            ts = pq.read_schema(path).field("ts").type
            assert pa.types.is_timestamp(ts) and ts.unit in ("us", "ns"), ts
            assert ("ts", "bigint") in declared
            footer = [p for p in footer if p[0] != "ts"]
            declared = [p for p in declared if p[0] != "ts"]
        assert declared == footer, f"{data_dir}/{name}"


def test_fixture_schemas_cover_every_table():
    assert tuple(FIXTURE_SCHEMAS) == TABLE_NAMES


def test_fixture_schemas_match_testdata_footers(spark, sf_dir):
    """Every scale factor next to the test fixture (sf0.001 / 0.01 /
    0.1 ship side by side)."""
    data_dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dir.rstrip("/") in data_dirs
    for data_dir in data_dirs:
        _assert_footers_match(spark, data_dir, TABLE_NAMES)


def test_fixture_schemas_match_generated_footers(spark, tmp_path):
    fixture = str(tmp_path / "fixture")
    gen.write_tables(gen.fixture_tables(1, 0.001), fixture)
    _assert_footers_match(spark, fixture, TABLE_NAMES)
    corpus = str(tmp_path / "corpus")
    tables = gen.corpus_tables(
        1, base_docs=40, base_vecs=40, replicas=2, dup_share=0.25
    )
    gen.write_tables(tables, corpus)
    _assert_footers_match(spark, corpus, tables)


def test_loading_tables_launches_no_spark_job(spark, sf_dir):
    """Building the fixture DataFrames is driver-only work: with the
    declared schemas no footer-inference job runs."""
    sc = spark.sparkContext
    group = f"catalog-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_tables")
    try:
        tables = load_tables(spark, sf_dir)
        for df in tables.values():
            assert df.schema.fields
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _write_events(path: str, unit: str) -> None:
    base = dt.datetime(2024, 1, 1, 0, 0, 0, 123456)
    rows = [base + dt.timedelta(seconds=i) for i in range(3)]
    tbl = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array(rows, pa.timestamp(unit)),
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, path)


def test_events_loader_handles_us_and_ns(spark, tmp_path):
    results = {}
    for unit in ("us", "ns"):
        d = str(tmp_path / unit)
        os.makedirs(d)
        _write_events(os.path.join(d, "events.parquet"), unit)
        df = load_table(spark, d, "events").select(
            "event_id", "ts_ns", "ts"
        )
        results[unit] = sorted(
            (r.event_id, r.ts_ns, str(r.ts)) for r in df.collect()
        )
    # identical instants → identical ts_ns (ns value has exact µs*1000)
    # and identical µs timestamps, regardless of the parquet unit
    assert results["us"] == results["ns"]
    assert results["us"][0][1] == 1704067200123456000


def test_events_fixture_schema_shape(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema)[
        "ts_ns"
    ] == "bigint"
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema)[
        "ts"
    ] == "timestamp"
