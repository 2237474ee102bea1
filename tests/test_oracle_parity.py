"""Golden-oracle parity: every registered query vs its DuckDB oracle.

This is a local mirror of the driver's t2 correctness gate (SURVEY.md §5),
run at sf0.001 for speed (the driver uses sf0.01 — same data generator, so
parity here strongly predicts parity there).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from acero_delta_lake_streaming_spark import queries as registry
from acero_delta_lake_streaming_spark.queries import materialize_ctes
from tests.compare import compare, duckdb_connect, normalize

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
#: the oracles as their modules write them, before ``materialize_ctes``
RAW_ORACLES = {
    name: sql
    for mod in registry._MODULES
    for name, sql in getattr(mod, "ORACLES", {}).items()
}


def test_registry_shape():
    assert QUERIES, "no queries registered"
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_priority_names_exist():
    """A typo'd _PRIORITY entry silently wastes one of the ~50 slots the
    external driver records — every listed name must be a real query."""
    from acero_delta_lake_streaming_spark.queries import _PRIORITY

    stale = [n for n in _PRIORITY if n not in QUERIES]
    assert not stale, f"_PRIORITY names not in registry: {stale}"
    dupes = [n for n in set(_PRIORITY) if _PRIORITY.count(n) > 1]
    assert not dupes, f"duplicate _PRIORITY entries: {dupes}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    con = duckdb_connect(sf_dir)
    oracle_pdf = con.execute(ORACLES[name]).df()
    spark_df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(spark_df, oracle_pdf)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, sf_dir, name):
    """Non-SQL-expressible operators: must run and return a stable schema."""
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    df.collect()  # must execute without error


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_materialize_ctes_rewrites_cte_heads_only():
    sql = (
        "WITH RECURSIVE a AS (SELECT CAST(x AS BIGINT) AS y, ')' AS s "
        "FROM t), b(c) AS NOT MATERIALIZED (SELECT 1), "
        "d AS (SELECT z FROM (WITH e AS (SELECT 2 AS z) SELECT z FROM e)) "
        "SELECT 'f AS (' AS lit, sum(y) OVER w -- g AS (\n"
        "FROM a WINDOW w AS (ORDER BY y)"
    )
    assert materialize_ctes(sql) == (
        "WITH RECURSIVE a AS MATERIALIZED (SELECT CAST(x AS BIGINT) AS y, "
        "')' AS s FROM t), b(c) AS NOT MATERIALIZED (SELECT 1), "
        "d AS MATERIALIZED (SELECT z FROM (WITH e AS MATERIALIZED "
        "(SELECT 2 AS z) SELECT z FROM e)) "
        "SELECT 'f AS (' AS lit, sum(y) OVER w -- g AS (\n"
        "FROM a WINDOW w AS (ORDER BY y)"
    )


def test_registry_oracles_materialize_cte_heads_only():
    """The registry's rewrite only inserts MATERIALIZED after AS:
    dropping the insertions gives back the module's SQL, and none lands
    inside a CAST or a WINDOW definition."""
    assert set(ORACLES) == set(RAW_ORACLES)
    for name, sql in RAW_ORACLES.items():
        got = ORACLES[name]
        assert got.replace(" MATERIALIZED", "") == sql, name
        assert not re.search(r"(?is)CAST\([^()]*\bAS MATERIALIZED", got), name
        assert not re.search(r"(?i)WINDOW\s+\w+\s+AS MATERIALIZED", got), name


@pytest.mark.parametrize(
    "name",
    [
        "x74_late_interaction", "x76_cross_encoder_rerank", "x62_hybrid_rrf",
        "x38_dsir_importance", "x33_canonical_dedup", "x2d_dup_clusters",
    ],
)
def test_materialized_oracle_matches_inlined(sf_dir, name):
    """CTE-heavy oracles (13-40 heads; the last two recursive) return
    the same rows with their CTEs materialized as inlined."""
    assert ORACLES[name] != RAW_ORACLES[name]
    con = duckdb_connect(sf_dir)
    inlined = con.execute(RAW_ORACLES[name]).df()
    materialized = con.execute(ORACLES[name]).df()
    assert list(materialized.columns) == list(inlined.columns)
    assert normalize(materialized) == normalize(inlined)
