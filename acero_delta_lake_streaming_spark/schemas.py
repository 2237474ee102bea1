"""Explicit schemas for every dataset the engine touches.

The reference declares its schemas implicitly at table-construction sites
(``collector.py:103-111`` for news, ``collector.py:208-213`` for actors) and
relies on delta-rs append-time enforcement. We make them first-class
StructType constants: no inference in production paths, and the LLM payload
(``processor.py:18-35``) is a real nested column type instead of transient
Pydantic objects.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference-domain schemas (SURVEY.md §1.1, FIXTURES.md §A) -------------

#: raw + curated news share this shape; curated is the 7-column projection
#: the reference expresses as an Acero ``project`` node (collector.py:140-151).
NEWS_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType(), False),
        T.StructField("published_time", T.TimestampType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("link", T.StringType(), True),
        T.StructField("id", T.StringType(), False),  # RSS guid; dedup/join key
        T.StructField("thumbnail_url", T.StringType(), True),  # collector.py:98
        T.StructField("category", T.StringType(), False),
    ]
)

#: one row per (article, extracted actor) — collector.py:208-213.
ACTORS_SCHEMA = T.StructType(
    [
        T.StructField("news_id", T.StringType(), False),
        T.StructField("actor_name", T.StringType(), False),
        T.StructField("actor_role", T.StringType(), True),
        T.StructField("is_main_actor", T.BooleanType(), False),
    ]
)

#: the LLM extraction payload (processor.py:18-35) as a nested column type;
#: category is a closed 5-value enum (processor.py:34).
ACTOR_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)
EVENT_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("main_actors", T.ArrayType(ACTOR_STRUCT), True),
        T.StructField("other_actors", T.ArrayType(ACTOR_STRUCT), True),
        T.StructField("category", T.StringType(), True),
    ]
)
EVENT_CATEGORIES = (
    "Political Turmoil",
    "New Product Announced",
    "Leadership Change",
    "Housing Issues",
    "Others",
)

#: EVENT_RESPONSE_SCHEMA as OpenAI-function-call JSON Schema — the wire
#: shape the reference sends as ``EventResponse.model_json_schema()``
#: (processor.py:74-78); here it is a hand-pinned constant so the wire
#: contract can't drift from the Spark column type silently.
_ACTOR_JSON_SCHEMA = {
    "type": "object",
    "properties": {
        "name": {"type": "string"},
        "role": {"type": "string"},
    },
    "required": ["name"],
}
EVENT_RESPONSE_JSON_SCHEMA = {
    "type": "object",
    "properties": {
        "main_actors": {"type": "array", "items": _ACTOR_JSON_SCHEMA},
        "other_actors": {"type": "array", "items": _ACTOR_JSON_SCHEMA},
        "category": {"type": "string", "enum": list(EVENT_CATEGORIES)},
    },
    "required": ["main_actors", "other_actors", "category"],
}

# --- Multimodal column convention (SURVEY.md §2.10 X5) ----------------------

#: opaque media payload + typed metadata; decode/feature-extract operators
#: consume `content` and read shapes from `meta` without touching bytes
#: until the Arrow batch reaches the Python worker.
MEDIA_META_STRUCT = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|wav|mp4|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_STRUCT, True),
    ]
)

# --- Driver fixture schemas (FIXTURES.md §B) --------------------------------
# The loader's read schemas: ``catalog.load_table`` reads every fixture
# table with its entry here (no footer-inference job per load), and the
# streaming readers use them too (readStream requires an explicit schema).
# They equal the parquet footers, in order; ``tests/test_catalog.py`` pins
# that, so a new table or column needs its entry edited here.

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampNTZType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampNTZType(), True),
        ]
    ),
    # events.ts is parquet TIMESTAMP(MICROS), int64 physical: read raw as
    # epoch-µs LongType (explicit schema, no legacy conf) and converted to
    # a timestamp + epoch-ns BIGINT by the catalog loader.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

#: JSON payload schema for events.props (fixture `{"k": <int>}`).
EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType(), True)])
