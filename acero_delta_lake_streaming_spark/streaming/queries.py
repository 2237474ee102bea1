"""Registry queries that drive the real streaming machinery (ST1/ST2/ST4).

Each query replays fixture data as file-drop batches through an
``availableNow`` Structured Streaming run — checkpoint, dedup state,
foreachBatch, idempotent sink commits — then returns a batch DataFrame
over the resulting Delta table. The oracle recomputes the expected
end state straight from the fixtures, so what's verified is the whole
streaming path: ingestion → dedup → epoch commits → transactional read.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from acero_delta_lake_streaming_spark.catalog import load_table
from acero_delta_lake_streaming_spark.functions.extract import _CAT_CASE, _OK_PRED
from acero_delta_lake_streaming_spark.storage import delta_compat
from acero_delta_lake_streaming_spark.storage.queries import _scratch
from acero_delta_lake_streaming_spark.streaming.ingest import (
    run_ingest,
    run_session_stream,
    run_windowed_stream,
)


def write_single_parquet(df: DataFrame, dest_file: str) -> None:
    """Materialize ``df`` as exactly one parquet file (a 'dropped batch').
    Spark writes it under a hidden staging directory next to
    ``dest_file`` (the leading ``.`` keeps it out of a file source that
    lists the drop directory, whose listing recurses into visible
    subdirectories), and the one part file is renamed into place."""
    head, name = os.path.split(dest_file)
    staging = os.path.join(head, f".{name}.staging")
    shutil.rmtree(staging, ignore_errors=True)
    df.coalesce(1).write.parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    os.replace(part, dest_file)
    shutil.rmtree(staging, ignore_errors=True)


# --------------------------------------------------------------------------
# ST1+ST2 — incremental file-drop ingest with cross-batch duplicates
# --------------------------------------------------------------------------


def st1_medallion_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three dropped batches with planted cross-batch replays (doc_id%9
    slices re-sent — the 'feed returns old guids again' case,
    collector.py:87-89). The checkpointed dropDuplicates state must
    collapse them; result = curated category counts, exactly once per
    doc."""
    base = _scratch(sf_dir, "st1")
    drop, tables, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "tables"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter((F.col("doc_id") % 3 == 1) | (F.col("doc_id") % 9 == 0)),
        docs.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 9 == 3)),
    ]
    for i, b in enumerate(batches):
        write_single_parquet(b, os.path.join(drop, f"batch{i}.parquet"))
    run_ingest(spark, drop, tables, cp, with_actors=False)
    return (
        delta_compat.read_delta(spark, os.path.join(tables, "curated"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_ST1_SQL = (
    f"SELECT CASE {_CAT_CASE} END AS category, count(*) AS n "
    f"FROM documents WHERE {_OK_PRED} GROUP BY 1"
)


# --------------------------------------------------------------------------
# ST4 — event-time tumbling windows with watermark
# --------------------------------------------------------------------------


def st4_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling windows per event_type over the events fixture
    replayed as a stream (watermark 1h; all fixture data is on time, so
    the streaming result equals the batch aggregate — the late-data drop
    policy itself is pinned in tests/test_streaming.py)."""
    base = _scratch(sf_dir, "st4")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts_ns"), "user_id", "event_type", "value"
    )
    write_single_parquet(events, os.path.join(drop, "batch0.parquet"))
    run_windowed_stream(spark, drop, out, cp)
    return delta_compat.read_delta(spark, out)


_ST4_SQL = (
    "SELECT epoch_ms(date_trunc('day', ts)) AS day_start_ms, event_type, "
    "count(*) AS n, round(sum(value), 2) AS sum_value "
    "FROM events GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# S1 — RSS feed source → news medallion, end to end
# --------------------------------------------------------------------------


def _write_feed_files(spark: SparkSession, sf_dir: str, xml_dir: str) -> None:
    """Deterministic RSS 2.0 feed files derived from the fixture corpus:
    one ``<lang>.xml`` per lang, one item per document (title = first 3
    words, description = text, guid = doc id, pubDate = base + doc_id
    minutes). Fully distributed: each lang's feed is assembled inside an
    ``applyInPandas`` task and written to ``xml_dir`` by the executor —
    the document texts never pass through the driver (the old builder
    ``collect()``-ed the corpus; at a 100× corpus that OOMs the driver
    before the engine sees a byte). A single feed's XML must still fit
    one task — at real scale feeds shard by (lang, day), same code shape."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    os.makedirs(xml_dir, exist_ok=True)

    def build(pdf):
        import datetime as dt
        import email.utils
        from xml.sax.saxutils import escape

        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
        items = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            doc_id = int(doc_id)
            words = [w for w in text.split(" ") if w]
            pub = email.utils.format_datetime(
                base + dt.timedelta(minutes=doc_id)
            )
            thumb = (
                f'<media:thumbnail url="http://img.example/{doc_id}.jpg"/>'
                if doc_id % 2 == 0
                else ""
            )
            items.append(
                "<item>"
                f"<title>{escape(' '.join(words[:3]))}</title>"
                f"<description>{escape(text)}</description>"
                f"<link>http://news.example/{doc_id}</link>"
                f"<guid>guid-{doc_id}</guid>"
                f"<pubDate>{pub}</pubDate>"
                f"{thumb}"
                "</item>"
            )
        lang = str(pdf["lang"].iloc[0])
        xml = (
            '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">'
            f"<channel><title>{lang}</title>{''.join(items)}</channel></rss>"
        )
        tmp = os.path.join(xml_dir, f".{lang}.xml.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(xml)
        os.replace(tmp, os.path.join(xml_dir, f"{lang}.xml"))
        return pd.DataFrame({"lang": [lang], "n_items": [len(items)]})

    # The action drives the distributed write; the returned (lang, n)
    # frame is tiny and only forces execution.
    docs.groupBy("lang").applyInPandas(
        build, "lang string, n_items long"
    ).count()


def s1_feed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S1 path: RSS XML → parser → dropped batch → checkpointed
    news-schema medallion ingest (guid dedup, title+description
    extraction text) → per-feed rollup of raw and extraction-ok counts
    plus the published-time range."""
    from acero_delta_lake_streaming_spark.streaming.feeds import (
        drop_feed_batch_files,
    )
    from acero_delta_lake_streaming_spark.streaming.ingest import run_news_ingest

    base = _scratch(sf_dir, "s1")
    drop, tables, cp, xml_dir = (
        os.path.join(base, "drop"),
        os.path.join(base, "tables"),
        os.path.join(base, "cp"),
        os.path.join(base, "feeds"),
    )
    _write_feed_files(spark, sf_dir, xml_dir)
    drop_feed_batch_files(spark, xml_dir, drop, "batch0")
    run_news_ingest(spark, drop, tables, cp)
    raw = delta_compat.read_delta(spark, os.path.join(tables, "raw"))
    ok_ids = delta_compat.read_delta(
        spark, os.path.join(tables, "curated")
    ).select("id")
    return (
        raw.join(ok_ids.withColumn("is_ok", F.lit(1)), "id", "left")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.coalesce(F.col("is_ok"), F.lit(0))).alias("n_ok"),
            F.min(F.unix_millis("published_time")).alias("min_pub_ms"),
            F.max(F.unix_millis("published_time")).alias("max_pub_ms"),
        )
    )


_S1_SQL = (
    "WITH t AS (SELECT doc_id, lang, "
    "array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:3], ' ') "
    "|| chr(10) || text AS xt FROM documents) "
    "SELECT lang AS category, count(*) AS n_raw, "
    "count(*) FILTER (WHERE substr(md5(xt), 1, 1) <> 'f') AS n_ok, "
    "min(epoch_ms(TIMESTAMP '2024-03-01' + doc_id * INTERVAL 1 MINUTE)) "
    "AS min_pub_ms, "
    "max(epoch_ms(TIMESTAMP '2024-03-01' + doc_id * INTERVAL 1 MINUTE)) "
    "AS max_pub_ms "
    "FROM t GROUP BY 1"
)


# --------------------------------------------------------------------------
# ST2b — custom stateful operator (applyInPandasWithState)
# --------------------------------------------------------------------------


def st2_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals through the keyed-state operator; the
    final emission per user equals the batch aggregate whatever the
    micro-batching was — which is exactly what the oracle checks."""
    from pyspark.sql import Window

    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )
    from acero_delta_lake_streaming_spark.streaming.stateful import (
        running_user_totals,
    )

    base = _scratch(sf_dir, "st2")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    write_single_parquet(events, os.path.join(drop, "batch0.parquet"))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(
            batch_df.withColumn("epoch", F.lit(epoch_id)),
            out,
            txn=("st2", epoch_id),
        )

    stream = spark.readStream.schema(EVENT_BATCH_SCHEMA).parquet(
        os.path.join(drop, "*.parquet")
    )
    q = (
        running_user_totals(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emissions = delta_compat.read_delta(spark, out)
    w = Window.partitionBy("user_id").orderBy(F.desc("epoch"))
    return (
        emissions.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", F.round("total", 2).alias("total"))
    )


_ST2_SQL = (
    "SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total "
    "FROM events GROUP BY 1"
)


def st7_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 driven as a REAL stream: events split chronologically into two
    micro-batches, pushed through the watermark-bounded stream-stream
    interval join (streaming/joins.py), pairs committed per epoch to a
    transactional sink and read back. The chronological split matters:
    after epoch 0 the watermark sits one lookback behind the split
    point, so every click still needed by an epoch-1 purchase is still
    buffered — the streamed result equals the batch join, which is what
    the oracle recomputes (at µs precision, matching the engine's
    ns→µs timestamp conversion)."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )
    from acero_delta_lake_streaming_spark.streaming.joins import (
        interval_click_join,
    )

    base = _scratch(sf_dir, "st7")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    split_ns = 1705363200 * 1_000_000_000  # 2024-01-16T00:00Z, mid-corpus
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(events.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(events.filter(F.col("ts_ns") >= split_ns), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(batch_df, out, txn=("st7", epoch_id))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        interval_click_join(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    pairs = delta_compat.read_delta(spark, out)
    return pairs.select(
        "p_event_id",
        "user_id",
        F.unix_millis("p_ts").alias("p_ts_ms"),
        "c_event_id",
        F.unix_millis("c_ts").alias("c_ts_ms"),
    )


_ST7_SQL = (
    "WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'purchase'), "
    "c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'click') "
    "SELECT p.event_id AS p_event_id, p.user_id, "
    "p.tus // 1000 AS p_ts_ms, "
    "c.event_id AS c_event_id, c.tus // 1000 AS c_ts_ms "
    "FROM p JOIN c ON c.user_id = p.user_id "
    "AND c.tus >= p.tus - 3600000000 AND c.tus < p.tus"
)


def st13_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13 — stream-stream LEFT OUTER interval join driven as a real
    stream: st7's click-attribution join, but purchases with NO prior
    click must also emit (click columns null → -1). The null-augmented
    row can only be emitted once the watermark proves no click can
    still arrive — emission and state eviction are the same event — so
    a far-future sentinel purchase+click pair (negative ids, year 2030)
    rides in a final micro-batch to push both watermarks past every
    real purchase's window; the sentinels' own state stays open and
    never emits. Events split chronologically (watermark correctness
    across the epoch boundary, as in st7); the streamed result equals
    the batch left join the oracle recomputes. Scale: state is bounded
    by lookback on both sides — the outer emission adds no state, only
    deferred output."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )
    from acero_delta_lake_streaming_spark.streaming.joins import (
        interval_click_left_join,
    )

    base = _scratch(sf_dir, "st13")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    split_ns = 1705363200 * 1_000_000_000  # 2024-01-16T00:00Z, mid-corpus
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    f2 = os.path.join(drop, "b2.parquet")
    write_single_parquet(events.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(events.filter(F.col("ts_ns") >= split_ns), f1)
    sentinels = spark.createDataFrame(
        # 2030-01-01T00:00:00Z in epoch ns; one per side so BOTH
        # watermarks advance past the corpus
        [
            (-1, 1893456000_000_000_000, -1, "purchase", 0.0),
            (-2, 1893456000_000_000_000, -1, "click", 0.0),
        ],
        "event_id long, ts_ns long, user_id long, "
        "event_type string, value double",
    )
    write_single_parquet(sentinels, f2)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)
    os.utime(f2, (3_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(batch_df, out, txn=("st13", epoch_id))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        interval_click_left_join(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    pairs = delta_compat.read_delta(spark, out).filter("p_event_id >= 0")
    return pairs.select(
        "p_event_id",
        "user_id",
        F.unix_millis("p_ts").alias("p_ts_ms"),
        F.coalesce("c_event_id", F.lit(-1)).cast("bigint").alias("c_event_id_f"),
        F.coalesce(F.unix_millis("c_ts"), F.lit(-1))
        .cast("bigint")
        .alias("c_ts_ms"),
    )


_ST13_SQL = (
    "WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'purchase'), "
    "c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'click') "
    "SELECT p.event_id AS p_event_id, p.user_id, "
    "p.tus // 1000 AS p_ts_ms, "
    "CAST(coalesce(c.event_id, -1) AS BIGINT) AS c_event_id_f, "
    "CAST(coalesce(c.tus // 1000, -1) AS BIGINT) AS c_ts_ms "
    "FROM p LEFT JOIN c ON c.user_id = p.user_id "
    "AND c.tus >= p.tus - 3600000000 AND c.tus < p.tus"
)


def st16_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16 — stream-stream FULL OUTER interval join driven as a real
    stream: st13's click-attribution left join symmetrized — clicks
    that attributed NO purchase within their forward hour also emit,
    with null purchase columns (→ -1). Both sides' null-augmented rows
    can only be emitted at watermark eviction (emission and eviction
    are the same event on each side), so the far-future sentinel pair
    pushes BOTH watermarks past every real row's window in a final
    micro-batch; the sentinels' own open state never emits and is
    filtered by id sign regardless. Events split chronologically
    across micro-batches (watermark correctness across the epoch
    boundary); the streamed result equals the batch full join the
    oracle recomputes. Scale: state stays bounded by the lookback on
    both sides — full outer adds deferred OUTPUT, not state."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )
    from acero_delta_lake_streaming_spark.streaming.joins import (
        interval_click_full_join,
    )

    base = _scratch(sf_dir, "st16")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    split_ns = 1705363200 * 1_000_000_000  # 2024-01-16T00:00Z, mid-corpus
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    f2 = os.path.join(drop, "b2.parquet")
    write_single_parquet(events.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(events.filter(F.col("ts_ns") >= split_ns), f1)
    sentinels = spark.createDataFrame(
        [
            (-1, 1893456000_000_000_000, -1, "purchase", 0.0),
            (-2, 1893456000_000_000_000, -1, "click", 0.0),
        ],
        "event_id long, ts_ns long, user_id long, "
        "event_type string, value double",
    )
    write_single_parquet(sentinels, f2)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)
    os.utime(f2, (3_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(batch_df, out, txn=("st16", epoch_id))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        interval_click_full_join(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    pairs = delta_compat.read_delta(spark, out).filter(
        "coalesce(p_event_id, 0) >= 0 AND coalesce(c_event_id, 0) >= 0"
    )
    return pairs.select(
        F.coalesce("p_event_id", F.lit(-1)).cast("bigint").alias(
            "p_event_id_f"
        ),
        F.coalesce("user_id", "c_user_id").cast("bigint").alias("user_id_f"),
        F.coalesce(F.unix_millis("p_ts"), F.lit(-1))
        .cast("bigint")
        .alias("p_ts_ms"),
        F.coalesce("c_event_id", F.lit(-1)).cast("bigint").alias(
            "c_event_id_f"
        ),
        F.coalesce(F.unix_millis("c_ts"), F.lit(-1))
        .cast("bigint")
        .alias("c_ts_ms"),
    )


_ST16_SQL = (
    "WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'purchase'), "
    "c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus "
    "FROM events WHERE event_type = 'click') "
    "SELECT CAST(coalesce(p.event_id, -1) AS BIGINT) AS p_event_id_f, "
    "CAST(coalesce(p.user_id, c.user_id) AS BIGINT) AS user_id_f, "
    "CAST(coalesce(p.tus // 1000, -1) AS BIGINT) AS p_ts_ms, "
    "CAST(coalesce(c.event_id, -1) AS BIGINT) AS c_event_id_f, "
    "CAST(coalesce(c.tus // 1000, -1) AS BIGINT) AS c_ts_ms "
    "FROM p FULL JOIN c ON c.user_id = p.user_id "
    "AND c.tus >= p.tus - 3600000000 AND c.tus < p.tus"
)


def st14_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14 — bounded-state streaming dedup driven through the entry
    surface: the events fixture rides in with planted exact duplicates
    (every 7th event unioned back in), split chronologically into two
    micro-batches, and ``dropDuplicatesWithinWatermark`` drops every
    copy — each duplicate arrives inside its original's watermark
    window by construction (identical timestamps), so the streamed
    output equals plain exact dedup, which is what the oracle runs.
    The point vs ``dropDuplicates``: state holds a key only while it
    can still collide (watermark delay), not forever — the unbounded
    ledger is the 100 TB trap, and the state-shrink behavior is pinned
    separately in tests/test_streaming.py."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )

    base = _scratch(sf_dir, "st14")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    dirty = events.unionByName(events.filter("event_id % 7 = 0"))
    split_ns = 1705363200 * 1_000_000_000  # 2024-01-16T00:00Z, mid-corpus
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(dirty.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(dirty.filter(F.col("ts_ns") >= split_ns), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(
            batch_df.drop("ts"), out, txn=("st14", epoch_id),
        )

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
        .withColumn("ts", F.expr("timestamp_micros(ts_ns DIV 1000)"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        delta_compat.read_delta(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.expr(
                "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 "
                "AS BIGINT)"
            ).alias("value_micros"),
        )
    )


_ST14_SQL = (
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(event_id) AS BIGINT) AS id_sum, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) "
    "AS value_micros FROM events GROUP BY 1"
)


def st8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8: stream-static enrichment — each micro-batch broadcast-joins
    the static ``customer`` dimension (re-resolved per epoch, exactly
    Spark's stream-static join semantics), rolls up to per-epoch
    (event_type, segment) counts, and commits them transactionally.
    Counts are ADDITIVE across epochs, so the final read just sums the
    per-epoch partials — the incremental-aggregation pattern that keeps
    streaming state out of the engine entirely at 100 TB (the sink
    table IS the state). Oracle: the batch join over all events."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )

    base = _scratch(sf_dir, "st8")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    split_ns = 1705363200 * 1_000_000_000
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(events.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(events.filter(F.col("ts_ns") >= split_ns), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        agg = (
            batch_df.join(
                F.broadcast(dim), batch_df.user_id == dim.c_custkey
            )
            .groupBy("event_type", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        delta_compat.append_delta(agg, out, txn=("st8", epoch_id))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        delta_compat.read_delta(spark, out)
        .groupBy("event_type", "c_mktsegment")
        .agg(F.sum("n").cast("bigint").alias("n_events"))
    )


_ST8_SQL = (
    "SELECT event_type, c_mktsegment, "
    "CAST(count(*) AS BIGINT) AS n_events "
    "FROM events JOIN customer ON user_id = c_custkey GROUP BY 1, 2"
)


def st23_streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST23 — streaming POINT-IN-TIME dimension enrichment: every
    purchase micro-batch joins the SCD2 engagement-state history (w7's
    gaps-and-islands geometry over the users' view/click runs) AS OF
    the purchase's event time — the everyday lakehouse question "what
    state was this customer in when they bought" answered exactly-once
    in-stream. st8 enriches against the CURRENT dimension row; this is
    the history-correct variant a warehouse needs the moment the
    dimension changes under the stream (each batch resolves against
    validity intervals, so a replayed epoch gets the same answer —
    time-travel-stable enrichment).

    Per epoch: the batch hash-joins the broadcast interval table on
    user_id (the interval predicate rides the equi-join — at most one
    run matches per purchase since runs partition each user's
    timeline; pre-first-state purchases fall to 'none'), rolls up to
    per-state (count, e2-floored cents) partials and commits them
    transactionally — the sink table IS the state, counts are additive
    across epochs, and the final read just sums partials. At 100 TB
    the dim rides whatever join AQE picks per batch (broadcast while
    it fits; the intervals are |users'-state-changes| rows, metadata
    vs the stream). Oracle: the batch as-of join over all events."""
    from pyspark.sql import Window

    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )

    base = _scratch(sf_dir, "st23")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    split_ns = 1705363200 * 1_000_000_000
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(purchases.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(purchases.filter(F.col("ts_ns") >= split_ns), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    hist = events.filter(F.col("event_type").isin("view", "click"))
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    flagged = hist.withColumn(
        "new_run",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = flagged.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts_ns").alias("from_ns")
    )
    dim = runs.select(
        "user_id",
        F.col("event_type").alias("state"),
        "from_ns",
        F.expr(
            "lead(from_ns) OVER (PARTITION BY user_id ORDER BY run_id)"
        ).alias("to_ns"),
    ).localCheckpoint(eager=True)  # freeze: every epoch joins the SAME dim

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = batch_df.alias("p")
        d = F.broadcast(dim).alias("d")
        agg = (
            p.join(
                d,
                (F.col("p.user_id") == F.col("d.user_id"))
                & (F.col("d.from_ns") <= F.col("p.ts_ns"))
                & (
                    F.col("d.to_ns").isNull()
                    | (F.col("p.ts_ns") < F.col("d.to_ns"))
                ),
                "left",
            )
            .select(
                F.coalesce(F.col("d.state"), F.lit("none")).alias(
                    "state"
                ),
                F.expr("CAST(floor(p.value * 100) AS BIGINT)").alias(
                    "cents"
                ),
            )
            .groupBy("state")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents"),
            )
        )
        delta_compat.append_delta(agg, out, txn=("st23", epoch_id))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        delta_compat.read_delta(spark, out)
        .groupBy("state")
        .agg(
            F.sum("n").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


_ST23_SQL = (
    "WITH e AS (SELECT event_id, epoch_ns(ts) AS tns, user_id, "
    "event_type, value FROM events), "
    "h AS (SELECT user_id, tns, event_id, event_type FROM e "
    "WHERE event_type IN ('view', 'click')), "
    "f AS (SELECT *, CASE WHEN lag(event_type) OVER "
    "(PARTITION BY user_id ORDER BY tns, event_id) IS NULL OR "
    "lag(event_type) OVER (PARTITION BY user_id ORDER BY tns, event_id) "
    "<> event_type THEN 1 ELSE 0 END AS new_run FROM h), "
    "n AS (SELECT *, sum(new_run) OVER (PARTITION BY user_id "
    "ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS run_id FROM f), "
    "runs AS (SELECT user_id, run_id, event_type, min(tns) AS from_ns "
    "FROM n GROUP BY 1, 2, 3), "
    "dim AS (SELECT user_id, event_type AS state, from_ns, "
    "lead(from_ns) OVER (PARTITION BY user_id ORDER BY run_id) AS to_ns "
    "FROM runs), "
    "p AS (SELECT user_id, tns, value FROM e "
    "WHERE event_type = 'purchase'), "
    "j AS (SELECT COALESCE(d.state, 'none') AS state, "
    "CAST(floor(p.value * 100) AS BIGINT) AS cents "
    "FROM p LEFT JOIN dim d ON d.user_id = p.user_id "
    "AND d.from_ns <= p.tns "
    "AND (d.to_ns IS NULL OR p.tns < d.to_ns)) "
    "SELECT state, CAST(count(*) AS BIGINT) AS n_purchases, "
    "CAST(sum(cents) AS BIGINT) AS total_cents FROM j GROUP BY 1"
)


def st11_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11 — sessionization as a STREAM: the events fixture replays
    through ``run_session_stream`` (session_window + watermark →
    append-mode foreachBatch → idempotent Delta append), and the table
    read back must equal x6's BATCH sessionization of the same data —
    the streaming/batch unification Spark promises for session windows,
    certified by the same gaps-and-islands oracle. Append mode emits a
    session exactly once, AFTER the watermark finalizes it — so a
    far-future sentinel event (user -1, year 2030) rides along to push
    the watermark past every real session; the sentinel's own session
    stays open in state and never emits. Session state is per-(user,
    open session) and is evicted at watermark + gap."""
    base = _scratch(sf_dir, "st11")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts_ns"), "user_id", "event_type", "value"
    )
    write_single_parquet(events, os.path.join(drop, "batch0.parquet"))
    sentinel = spark.createDataFrame(
        # 2030-01-01T00:00:00Z in epoch nanoseconds — later than any
        # fixture event + watermark + gap, pure constant (no collect)
        [(-1, 1893456000_000_000_000, -1, "sentinel", 0.0)],
        "event_id long, ts_ns long, user_id long, "
        "event_type string, value double",
    )
    write_single_parquet(sentinel, os.path.join(drop, "batch1.parquet"))
    run_session_stream(spark, drop, out, cp)
    return (
        delta_compat.read_delta(spark, out)
        .filter("user_id >= 0")
        .select("user_id", "start_ms", "end_ms", "n_events", "sum_value")
    )


_ST11_SQL = (
    "WITH flagged AS (SELECT user_id, ts, value, "
    "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    ">= INTERVAL 4 HOUR OR lag(ts) OVER (PARTITION BY user_id "
    "ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s FROM events), "
    "numbered AS (SELECT user_id, ts, value, "
    "sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
    "SELECT user_id, epoch_ms(min(ts)) AS start_ms, "
    "epoch_ms(max(ts)) AS end_ms, count(*) AS n_events, "
    "round(sum(value), 2) AS sum_value "
    "FROM numbered GROUP BY user_id, sid"
)


def st9_streaming_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: the EMA as RUNNING STATE — w10's integer recurrence carried
    across micro-batches by ``applyInPandasWithState``. Events split
    chronologically into two epochs at a midnight boundary (a day must
    never straddle batches or it would fold twice); epoch 1 resumes
    from epoch 0's checkpointed (ema, n_days) state, and the final
    emission per event type equals the batch prefix-fold over the whole
    series — which is exactly what the oracle recomputes with
    ``list_reduce``. This is the 100 TB shape for unbounded series:
    state is O(|keys|), the batch fold (w10) exists for
    calendar-bounded backfills."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        EVENT_BATCH_SCHEMA,
    )
    from acero_delta_lake_streaming_spark.streaming.stateful import (
        running_daily_ema,
    )

    base = _scratch(sf_dir, "st9")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    split_ns = 1705363200 * 1_000_000_000  # 2024-01-16T00:00Z, midnight
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(events.filter(F.col("ts_ns") < split_ns), f0)
    write_single_parquet(events.filter(F.col("ts_ns") >= split_ns), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(
            batch_df.withColumn("epoch", F.lit(epoch_id)),
            out,
            txn=("st9", epoch_id),
        )

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
        .withColumn("d_idx", F.expr("ts_ns DIV 86400000000000"))
    )
    q = (
        running_daily_ema(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql import Window

    emissions = delta_compat.read_delta(spark, out)
    w = Window.partitionBy("event_type").orderBy(F.desc("epoch"))
    return (
        emissions.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", "n_days", "ema_micros")
    )


_ST9_SQL = (
    "WITH daily AS (SELECT event_type, "
    "epoch_ns(ts) // 86400000000000 AS d, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "p AS (SELECT event_type, list(n * 1000000 ORDER BY d) AS sc "
    "FROM daily GROUP BY 1) "
    "SELECT event_type, CAST(len(sc) AS BIGINT) AS n_days, "
    "CAST(list_reduce(sc, (acc, v) -> (v + 4 * acc) // 5) AS BIGINT) "
    "AS ema_micros FROM p"
)


# --------------------------------------------------------------------------
# ST17 — streaming incremental near-dup against an EVOLVING corpus
# --------------------------------------------------------------------------


def st17_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17 — continuous-ingest near-dedup, the streaming twin of x30:
    the documents corpus seeds a transactional table, then two
    micro-batches arrive as file drops — epoch 0 carries char-reversed
    novel docs, epoch 1 carries (a) near-dups of the ORIGINAL corpus,
    (b) near-dups of docs ADMITTED IN EPOCH 0, and (c) word-reversed
    fresh docs. Each micro-batch MinHash-bands itself against the
    corpus AS OF ITS ARRIVAL (corpus ∪ batch bands, candidates
    restricted to batch ids, exact-Jaccard verification at x2's
    threshold) and appends only the novel docs with an idempotent
    ``(app_id, epoch)`` commit.

    Class (b) is the discriminating case: those docs are near-dups of
    nothing in the ORIGINAL corpus — they are only dropped because
    epoch 0's admissions joined the dedup corpus before epoch 1 ran.
    An engine that dedups against a frozen snapshot (or loses epoch
    ordering, or double-appends on replay) flips their bucket and
    fails the hash. At scale the per-batch band recompute is the
    materialized band index x30 documents (the nightly probe is
    O(|batch| + probed buckets)); what the stream adds is exactly-once
    corpus evolution, which the Delta ``txn`` handshake provides."""
    from acero_delta_lake_streaming_spark.operators.dedup import (
        _JACCARD_THRESHOLD,
        _band_rows,
        _shingle_rows,
        _signatures,
    )

    base = _scratch(sf_dir, "st17")
    drop, corpus_tbl, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "corpus"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = docs.agg(
        (F.max("doc_id") + F.lit(1)).cast("bigint").alias("o")
    )
    e0 = (
        docs.filter("doc_id % 7 = 3")
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("o")).alias("doc_id"),
            F.reverse("text").alias("text"),
        )
    )
    e1 = (
        docs.filter("doc_id % 10 = 0")
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + 2 * F.col("o")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xdup ydup zdup")).alias("text"),
        )
        .unionByName(
            docs.filter("doc_id % 14 = 3")
            .crossJoin(F.broadcast(off))
            .select(
                (F.col("doc_id") + 3 * F.col("o")).alias("doc_id"),
                F.concat(
                    F.reverse("text"), F.lit(" qdup wdup vdup")
                ).alias("text"),
            )
        )
        .unionByName(
            docs.filter("doc_id % 11 = 5")
            .crossJoin(F.broadcast(off))
            .select(
                (F.col("doc_id") + 4 * F.col("o")).alias("doc_id"),
                F.array_join(
                    F.reverse(F.split("text", " ")), " "
                ).alias("text"),
            )
        )
    )
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(e0, f0)
    write_single_parquet(e1, f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)
    delta_compat.append_delta(docs, corpus_tbl, txn=("st17-seed", 0))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus = delta_compat.read_delta(spark, corpus_tbl).select(
            "doc_id", "text"
        )
        union = corpus.unionByName(batch_df)
        sh = union.transform(_shingle_rows).persist()
        try:
            sigs = _signatures(sh)
            bands = _band_rows(sigs)
            batch_ids = batch_df.select("doc_id")
            bands_new = bands.join(F.broadcast(batch_ids), "doc_id")
            a, b = bands.alias("a"), bands_new.alias("b")
            cand = (
                a.join(
                    F.broadcast(b),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bkey") == F.col("b.bkey"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            # n_sh folds into the signature aggregation (x30's shape) —
            # a second groupBy over the shingle set would re-shuffle
            # the hottest intermediate for a count _signatures has
            counts = sigs.select("doc_id", "n_sh")
            sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
            sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
            inter = (
                cand.join(sa, "doc_a")
                .join(sb, ["doc_b", "sh"])
                .groupBy("doc_a", "doc_b")
                .agg(F.count(F.lit(1)).alias("inter"))
            )
            na = counts.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
            )
            nb = counts.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
            )
            jac = F.col("inter") / (
                F.col("na") + F.col("nb") - F.col("inter")
            )
            dups = (
                inter.join(na, "doc_a")
                .join(nb, "doc_b")
                .filter(jac >= _JACCARD_THRESHOLD)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            novel = batch_df.join(dups, "doc_id", "left_anti")
            delta_compat.append_delta(
                novel, corpus_tbl, txn=("st17", epoch_id),
            )
        finally:
            sh.unpersist()

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        delta_compat.read_delta(spark, corpus_tbl)
        .crossJoin(F.broadcast(off))
        .groupBy(
            F.expr("CAST(doc_id DIV o AS INT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
    )


def _st17_sql() -> str:
    from acero_delta_lake_streaming_spark.operators.dedup import (
        _neardup_round_sql,
    )

    o = "(SELECT max(doc_id) + 1 FROM documents)"
    return (
        "WITH base AS (SELECT doc_id, text FROM documents), "
        f"e0 AS (SELECT doc_id + {o} AS doc_id, reverse(text) AS text "
        "FROM documents WHERE doc_id % 7 = 3), "
        f"e1 AS (SELECT doc_id + 2 * {o} AS doc_id, "
        "text || ' xdup ydup zdup' AS text FROM documents "
        "WHERE doc_id % 10 = 0 "
        f"UNION ALL SELECT doc_id + 3 * {o}, "
        "reverse(text) || ' qdup wdup vdup' FROM documents "
        "WHERE doc_id % 14 = 3 "
        f"UNION ALL SELECT doc_id + 4 * {o}, "
        "array_to_string(list_reverse(string_split(text, ' ')), ' ') "
        "FROM documents WHERE doc_id % 11 = 5), "
        "c0 AS (SELECT * FROM base UNION ALL SELECT * FROM e0), "
        + _neardup_round_sql("c0", f"b.doc_id >= {o}", "r0")
        + ", "
        "n0 AS (SELECT * FROM e0 WHERE doc_id NOT IN "
        "(SELECT doc_id FROM r0dups)), "
        "c1 AS (SELECT * FROM base UNION ALL SELECT * FROM n0 "
        "UNION ALL SELECT * FROM e1), "
        + _neardup_round_sql("c1", f"b.doc_id >= 2 * {o}", "r1")
        + ", "
        "n1 AS (SELECT * FROM e1 WHERE doc_id NOT IN "
        "(SELECT doc_id FROM r1dups)), "
        "fin AS (SELECT doc_id FROM base "
        "UNION ALL SELECT doc_id FROM n0 "
        "UNION ALL SELECT doc_id FROM n1) "
        f"SELECT CAST(doc_id // {o} AS INT) AS bucket, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM fin GROUP BY 1"
    )


def st18_streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18 — streaming IVF assignment maintenance (VERDICT r6 item 7):
    makes SCALING.md's claim real that x3d/x3f's k-means training is
    INGEST-TIME state at production. The quantizer is trained ONCE on
    the seed embeddings corpus (``_ivf_centroids`` — the exact frame
    x3d's in-bench training produces) and STORED as a Delta table;
    the seed corpus's assignment lands as epoch 0 of an assignment
    table. Then two micro-batches of genuinely new vectors arrive as
    file drops — epoch 0: dimension-REVERSED copies of the %5=2 slice
    (new ids past the corpus), epoch 1: NEGATED copies of the %7=3
    slice — and each batch assigns itself against the STORED quantizer
    (broadcast of 8 rows, the corpus never reshuffles, no retraining)
    and appends (vec_id, cid) exactly-once via the ``(app_id, epoch)``
    ledger.

    The oracle replays the same construction blind: train on the seed,
    assign seed ∪ both epochs against the final centroids. An engine
    that retrains per-batch (centroids drift with the new vectors),
    loses an epoch, or double-appends on replay flips cells or counts
    and fails the hash. At 100 TB this is the search-side write path:
    train rarely, assign per-batch against stored state — O(|batch| ×
    k) work per micro-batch."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _ivf_assign,
        _ivf_centroids,
    )

    base = _scratch(sf_dir, "st18")
    drop, cent_tbl, assign_tbl, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "centroids"),
        os.path.join(base, "assign"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = emb.agg((F.max("vec_id") + 1).cast("bigint").alias("o"))

    # train once; the stored table IS the quantizer state
    delta_compat.append_delta(
        _ivf_centroids(emb), cent_tbl, txn=("st18-train", 0),
    )
    stored = delta_compat.read_delta(spark, cent_tbl).select("cid", "carr")
    delta_compat.append_delta(
        _ivf_assign(emb, stored), assign_tbl, txn=("st18-seed", 0),
    )

    e0 = emb.filter("vec_id % 5 = 2").crossJoin(F.broadcast(off)).select(
        (F.col("vec_id") + F.col("o")).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    e1 = emb.filter("vec_id % 7 = 3").crossJoin(F.broadcast(off)).select(
        (F.col("vec_id") + 2 * F.col("o")).alias("vec_id"),
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
    )
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(e0, f0)
    write_single_parquet(e1, f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cents = delta_compat.read_delta(spark, cent_tbl).select("cid", "carr")
        delta_compat.append_delta(
            _ivf_assign(batch_df, cents),
            assign_tbl,
            txn=("st18", epoch_id),
        )

    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        delta_compat.read_delta(spark, assign_tbl)
        .crossJoin(F.broadcast(off))
        .groupBy(
            F.expr("CAST(vec_id DIV o AS INT)").alias("bucket"),
            F.col("cid").cast("int").alias("cid"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vec_id").cast("bigint").alias("id_sum"),
        )
    )


def _st18_sql() -> str:
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _ivf_base_ctes,
        _sqdist_duck,
    )

    ctes, cent = _ivf_base_ctes()
    o = "(SELECT max(vec_id) + 1 FROM embeddings)"
    ctes.append(
        f"e0 AS (SELECT vec_id + {o} AS vec_id, "
        "list_reverse(embedding) AS embedding FROM embeddings "
        "WHERE vec_id % 5 = 2)"
    )
    ctes.append(
        f"e1 AS (SELECT vec_id + 2 * {o} AS vec_id, "
        "list_transform(embedding, x -> -x) AS embedding FROM embeddings "
        "WHERE vec_id % 7 = 3)"
    )
    ctes.append(
        "newv AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)"
    )
    ctes.append(
        "na AS (SELECT vec_id, cid FROM ("
        "SELECT v.vec_id, ct.cid, row_number() OVER ("
        "PARTITION BY v.vec_id ORDER BY "
        f"{_sqdist_duck('v.embedding', 'ct.carr')} ASC, ct.cid ASC) AS rk "
        f"FROM newv v CROSS JOIN {cent} ct) WHERE rk = 1)"
    )
    ctes.append(
        "allasg AS (SELECT vec_id, cid FROM fa "
        "UNION ALL SELECT vec_id, cid FROM na)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT CAST(vec_id // {o} AS INT) AS bucket, "
        "CAST(cid AS INT) AS cid, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(vec_id) AS BIGINT) AS id_sum "
        "FROM allasg GROUP BY 1, 2"
    )


def st27_streaming_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST27 — incremental k-NN GRAPH maintenance for the graph ANN
    (VERDICT r12 item 2): closes the ANN family's last ingest-time-state
    gap. x3i builds its graph once per run; at 100 TB a nightly ingest
    must NOT rebuild a corpus-scale graph per batch. Here the graph is
    MAINTAINED STATE across micro-batches, st18's train-rarely shape
    composed with x30's delta-probe:

    * **seed** (the one corpus-scale pass): the adaptive plane count is
      minted from the seed corpus and STORED (``st27-geom`` — bucketing
      geometry is state, st18's stored-centroid rule, so incremental
      bucket keys stay comparable forever), the seed's bucket-mate
      edges are cosine-scored and stored, and the first hub refresh
      lands.
    * **per micro-batch** (two file-drop epochs: dimension-REVERSED
      %5=2 copies, then NEGATED %7=3 copies — st18's fixtures): the
      batch buckets against the STORED geometry, probes the stored
      bucket table for its bucket-mates (new x (state ∪ new) only —
      the O(batch x occupancy) x30 shape; old x old pairs are never
      re-probed), scores ONLY those new edges via id-keyed embedding
      joins, and appends edges + buckets + vectors exactly-once via
      per-table ``(app_id, epoch)`` ledgers. The hub set (the walk's
      entry state) refreshes per epoch from the accumulated edges —
      a graph-linear in-degree aggregate, the cheap nightly part.

    The certificate is EQUALITY WITH THE BATCH BUILD: because every
    bucket-mate pair of the final corpus is inserted exactly once (by
    the epoch of its later endpoint), the per-src top-``_X3I_DEG``
    over the accumulated edge state IS x3i's graph over the same
    corpus, and the returned walk (entries from the LAST hub refresh)
    must hash-match the oracle's from-scratch x3i replay over
    seed ∪ both epochs under the seed geometry. An engine that
    re-mints geometry per batch (bucket keys shift), loses an epoch's
    edges, double-applies a replayed epoch, or serves stale hubs
    diverges from the batch build and fails the hash. O(batch) edge
    work per epoch is measured in ``scale_probe.py`` (the incremental
    probe stays flat across the corpus decade)."""
    from pyspark.sql import Window

    from acero_delta_lake_streaming_spark.operators.similarity import (
        _PPT_SPARK,
        _X3I_DEG,
        _X3I_HUBS,
        _dot_spark,
        _norm_spark,
        _sign_buckets_ppt,
        _x3i_walk,
    )
    from acero_delta_lake_streaming_spark.plans.cache import scoped_persist

    base = _scratch(sf_dir, "st27")
    drop = os.path.join(base, "drop")
    geom_tbl = os.path.join(base, "geom")
    bk_tbl = os.path.join(base, "buckets")
    emb_tbl = os.path.join(base, "vectors")
    edge_tbl = os.path.join(base, "edges")
    hub_tbl = os.path.join(base, "hubs")
    cp = os.path.join(base, "cp")
    os.makedirs(drop, exist_ok=True)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    off = emb.agg((F.max("vec_id") + 1).cast("bigint").alias("o"))

    def pair_edges(
        bk_probe: DataFrame, bk_state: DataFrame, emb_state: DataFrame
    ) -> DataFrame:
        # x30's delta-probe applied to edges: probe-side buckets join
        # state-side buckets; normalized (src < dst) distinct pairs,
        # cosine-scored through id-keyed embedding joins only.
        pairs = (
            bk_probe.select(F.col("vec_id").alias("a"), "tbl", "bucket")
            .join(
                bk_state.select(
                    F.col("vec_id").alias("b"), "tbl", "bucket"
                ),
                ["tbl", "bucket"],
            )
            .filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("src"),
                F.greatest("a", "b").alias("dst"),
            )
            .distinct()
        )
        sc = emb_state.select(
            "vec_id",
            "embedding",
            F.expr(_norm_spark("embedding")).alias("nrm"),
        )
        return (
            pairs.join(
                sc.select(
                    F.col("vec_id").alias("src"),
                    F.col("embedding").alias("s_emb"),
                    F.col("nrm").alias("s_nrm"),
                ),
                "src",
            )
            .join(
                sc.select(
                    F.col("vec_id").alias("dst"),
                    F.col("embedding").alias("d_emb"),
                    F.col("nrm").alias("d_nrm"),
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                (
                    F.expr(_dot_spark("s_emb", "d_emb"))
                    / (F.col("s_nrm") * F.col("d_nrm"))
                ).alias("cos"),
            )
        )

    def graph_of(und: DataFrame) -> DataFrame:
        wg = Window.partitionBy("src").orderBy(
            F.desc("cos"), F.asc("dst")
        )
        return (
            und.unionByName(
                und.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "cos",
                )
            )
            .withColumn("rk", F.row_number().over(wg))
            .filter(F.col("rk") <= _X3I_DEG)
            .select("src", "dst")
        )

    def refresh_hubs(epoch: int) -> None:
        hubs = (
            graph_of(delta_compat.read_delta(spark, edge_tbl))
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("indeg"))
            .orderBy(F.desc("indeg"), F.asc("dst"))
            .limit(_X3I_HUBS)
            .select(
                F.lit(epoch).cast("bigint").alias("hub_epoch"),
                F.col("dst").alias("vec_id"),
            )
        )
        delta_compat.append_delta(hubs, hub_tbl, txn=("st27-hubs", epoch))

    # seed: mint the geometry ONCE, build the seed graph, first hubs
    geom = emb.agg(F.count(F.lit(1)).alias("cnt")).select(
        F.expr(_PPT_SPARK).alias("ppt")
    )
    delta_compat.append_delta(geom, geom_tbl, txn=("st27-geom", 0))
    ppt = delta_compat.read_delta(spark, geom_tbl)
    bk0 = _sign_buckets_ppt(spark, emb, ppt)
    delta_compat.append_delta(
        pair_edges(bk0, bk0, emb), edge_tbl, txn=("st27-seed", 0),
    )
    delta_compat.append_delta(bk0, bk_tbl, txn=("st27-seed", 0))
    delta_compat.append_delta(emb, emb_tbl, txn=("st27-seed", 0))
    refresh_hubs(0)

    e0 = emb.filter("vec_id % 5 = 2").crossJoin(F.broadcast(off)).select(
        (F.col("vec_id") + F.col("o")).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    e1 = emb.filter("vec_id % 7 = 3").crossJoin(F.broadcast(off)).select(
        (F.col("vec_id") + 2 * F.col("o")).alias("vec_id"),
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
    )
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(e0, f0)
    write_single_parquet(e1, f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bk_new = _sign_buckets_ppt(
            spark, batch_df, delta_compat.read_delta(spark, geom_tbl)
        )
        bk_state = delta_compat.read_delta(spark, bk_tbl)  # pinned pre-append
        emb_state = delta_compat.read_delta(spark, emb_tbl).unionByName(
            batch_df
        )
        edges = pair_edges(
            bk_new, bk_state.unionByName(bk_new), emb_state
        )
        delta_compat.append_delta(edges, edge_tbl, txn=("st27", epoch_id))
        delta_compat.append_delta(bk_new, bk_tbl, txn=("st27-bk", epoch_id))
        delta_compat.append_delta(
            batch_df, emb_tbl, txn=("st27-emb", epoch_id),
        )
        refresh_hubs(epoch_id + 1)

    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # certificate: walk the MAINTAINED state (latest hub refresh)
    scored = scoped_persist(
        delta_compat.read_delta(spark, emb_tbl).select(
            "vec_id",
            "embedding",
            F.expr(_norm_spark("embedding")).alias("nrm"),
        )
    )
    graph = scoped_persist(graph_of(delta_compat.read_delta(spark, edge_tbl)))
    hubs_all = delta_compat.read_delta(spark, hub_tbl)
    mx = hubs_all.agg(F.max("hub_epoch").alias("mx"))
    hubs = hubs_all.join(
        F.broadcast(mx), F.col("hub_epoch") == F.col("mx")
    ).select("vec_id")
    return _x3i_walk(scored, graph, hubs)


def _st27_sql() -> str:
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _x3i_sql,
    )

    o = "(SELECT max(vec_id) + 1 FROM embeddings)"
    pre = [
        (
            f"e0 AS (SELECT vec_id + {o} AS vec_id, "
            "list_reverse(embedding) AS embedding FROM embeddings "
            "WHERE vec_id % 5 = 2)"
        ),
        (
            f"e1 AS (SELECT vec_id + 2 * {o} AS vec_id, "
            "list_transform(embedding, x -> -x) AS embedding "
            "FROM embeddings WHERE vec_id % 7 = 3)"
        ),
        (
            "corpus AS (SELECT vec_id, embedding FROM embeddings "
            "UNION ALL SELECT * FROM e0 UNION ALL SELECT * FROM e1)"
        ),
    ]
    # from-scratch x3i replay over the FINAL corpus under the SEED
    # geometry — what the maintained state must equal bit-for-bit
    return _x3i_sql(corpus="corpus", geom_src="embeddings", pre=pre)


def st19_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19 — streaming heavy hitters: the count-min sketch maintained
    INCREMENTALLY across micro-batches (x17's streaming twin). Each
    epoch sketches only its own batch map-side and appends the
    ≤1024-cell partial exactly-once via the ``(app_id, epoch)`` ledger;
    the stored table holds one partial sketch per epoch and the merge
    is a 1024-row SUM. Sketch additivity is the whole point: per-epoch
    state is O(d·w) — never O(distinct keys) — a replayed epoch cannot
    double-count (the txn ledger refuses it), and at 100 TB the
    "which users are hot TODAY" question reads a few-KB table instead
    of re-scanning the stream's history.

    The probe/top-20 certificate is x17's and the ORACLE IS X17's SQL —
    the stream/batch unification: a consumer must not be able to tell
    whether the sketch was built in one pass or merged from epoch
    partials. A lost epoch under-counts (est < exact, one-sidedness
    breaks), a double-applied epoch over-counts the top ranks — either
    flips the hash."""
    from acero_delta_lake_streaming_spark.operators.sketch import (
        _CMS_D,
        _CMS_MD5_SPARK,
        _hex2_int,
        cms_sketch,
    )

    base = _scratch(sf_dir, "st19")
    drop, out, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "sketch"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    for k in range(3):
        f = os.path.join(drop, f"b{k}.parquet")
        write_single_parquet(events.filter(F.col("event_id") % 3 == k), f)
        os.utime(f, ((k + 1) * 1_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(
            cms_sketch(batch_df, "user_id"), out,
            txn=("st19", epoch_id),
        )

    stream = (
        spark.readStream.schema("event_id LONG, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        delta_compat.read_delta(spark, out)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    probe = (
        events.select("user_id")
        .distinct()
        .withColumn(
            "j", F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)]))
        )
        .withColumn("bucket", F.expr(_hex2_int(_CMS_MD5_SPARK, "instr")))
    )
    est = (
        probe.join(F.broadcast(merged), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("bigint").alias("est"))
    )
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact")
    )
    return (
        est.join(exact, "user_id")
        .orderBy(F.desc("est"), "user_id")
        .limit(20)
    )


def _st19_sql() -> str:
    from acero_delta_lake_streaming_spark.operators.sketch import _X17_SQL

    # stream/batch unification: the epoch-merged sketch must be
    # indistinguishable from x17's one-pass build
    return _X17_SQL


def st21_streaming_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST21 — streaming exact-dedup LEDGER: content-hash dedup whose
    state is a DELTA TABLE, not stream-local memory (st14's watermark
    dedup forgets evicted state; a ledger never does — the
    crawl-ingest shape where a re-delivered document must be rejected
    WEEKS later, across restarts). Seed epoch lands doc_id % 3 = 0
    into the sink and its md5(text) hashes into the ledger; two
    micro-batch file drops follow — epoch 0: the % 3 = 1 docs (novel)
    plus a re-delivery of the % 3 = 0 TEXTS under fresh ids (content
    dupes — must be rejected by ledger anti-join), epoch 1: the
    % 3 = 2 docs plus a re-delivery of % 3 = 1. Each batch dedups
    intra-batch (min doc_id per hash), anti-joins the LEDGER, and
    appends novel rows to the sink + novel hashes to the ledger
    exactly-once via the ``(app_id, epoch)`` txn ledger; a manual
    REPLAY of epoch 0 after the stream proves idempotence (a
    double-append flips every count).

    Scale shape: per batch the work is O(|batch|) hashing map-side +
    one anti-join against the ledger keyed on 32-byte hashes (at
    100 TB the ledger join is a shuffled hash join on md5 — never
    text) + O(|novel|) appends. The oracle replays the three epochs
    blind in SQL; first-wins tie-break (min doc_id per hash, epoch
    order) makes the kept set deterministic."""
    base = _scratch(sf_dir, "st21")
    drop, ledger_tbl, sink_tbl, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "ledger"),
        os.path.join(base, "sink"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    off = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("o"))

    def _intra(batch: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        hashed = batch.withColumn("h", F.md5("text"))
        w = Window.partitionBy("h").orderBy("doc_id")
        return (
            hashed.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", "source", "h")
        )

    seed = _intra(docs.filter("doc_id % 3 = 0"))
    delta_compat.append_delta(
        seed.select("doc_id", "source"), sink_tbl,
        txn=("st21-seed", 0),
    )
    delta_compat.append_delta(
        seed.select("h"), ledger_tbl, txn=("st21-seed-ledger", 0),
    )

    redeliver0 = docs.filter("doc_id % 3 = 0").crossJoin(
        F.broadcast(off)
    ).select((F.col("doc_id") + F.col("o")).alias("doc_id"), "source", "text")
    redeliver1 = docs.filter("doc_id % 3 = 1").crossJoin(
        F.broadcast(off)
    ).select(
        (F.col("doc_id") + 2 * F.col("o")).alias("doc_id"), "source", "text"
    )
    b0 = docs.filter("doc_id % 3 = 1").unionByName(redeliver0)
    b1 = docs.filter("doc_id % 3 = 2").unionByName(redeliver1)
    f0 = os.path.join(drop, "b0.parquet")
    f1 = os.path.join(drop, "b1.parquet")
    write_single_parquet(b0, f0)
    write_single_parquet(b1, f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        known = delta_compat.read_delta(spark, ledger_tbl).select("h")
        novel = _intra(batch_df).join(known, "h", "left_anti")
        delta_compat.append_delta(
            novel.select("doc_id", "source"), sink_tbl,
            txn=("st21", epoch_id),
        )
        delta_compat.append_delta(
            novel.select("h"), ledger_tbl,
            txn=("st21-ledger", epoch_id),
        )

    stream = (
        spark.readStream.schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # crash-replay of epoch 0: the (app_id, epoch) ledger must no-op it
    sink(spark.read.schema(
        "doc_id LONG, source STRING, text STRING"
    ).parquet(f0), 0)
    return (
        delta_compat.read_delta(spark, sink_tbl)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("key_sum"),
        )
    )


def _st21_sql() -> str:
    k = (
        "SELECT h, source, doc_id FROM ("
        "SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) "
        "AS rk FROM {src}) t WHERE rk = 1"
    )
    return (
        "WITH d AS (SELECT doc_id, source, text, md5(text) AS h "
        "FROM documents), "
        "o AS (SELECT max(doc_id) + 1 AS o FROM documents), "
        "seed AS (SELECT doc_id, source, h FROM d WHERE doc_id % 3 = 0), "
        "e0 AS (SELECT doc_id, source, h FROM d WHERE doc_id % 3 = 1 "
        "UNION ALL SELECT doc_id + (SELECT o FROM o), source, h FROM d "
        "WHERE doc_id % 3 = 0), "
        "e1 AS (SELECT doc_id, source, h FROM d WHERE doc_id % 3 = 2 "
        "UNION ALL SELECT doc_id + 2 * (SELECT o FROM o), source, h "
        "FROM d WHERE doc_id % 3 = 1), "
        f"k0 AS ({k.format(src='seed')}), "
        "f1 AS (SELECT * FROM e0 WHERE h NOT IN (SELECT h FROM k0)), "
        f"k1 AS ({k.format(src='f1')}), "
        "f2 AS (SELECT * FROM e1 WHERE h NOT IN (SELECT h FROM k0) "
        "AND h NOT IN (SELECT h FROM k1)), "
        f"k2 AS ({k.format(src='f2')}), "
        "kept AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1 "
        "UNION ALL SELECT * FROM k2) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_kept, "
        "CAST(sum(doc_id) AS BIGINT) AS key_sum FROM kept GROUP BY 1"
    )


def st22_streaming_quality_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST22 — CONTINUOUS data quality: dq2's expectations evaluated
    per micro-batch, with per-epoch violation counts appended
    exactly-once to a quality MART — the observability surface a
    streaming ingest runs alongside the data path, so a bad upstream
    deploy shows up as an epoch spike instead of a month-later audit.
    Three event micro-batches arrive as file drops (epoch =
    event_id % 3), each with PLANTED dirt: negated values on
    event_id % 11 = 0 and an unknown event_type on event_id % 13 = 0.
    Each batch folds to one row of counts (rows, negative values,
    unknown types, null props) — per-epoch state is O(checks), never
    O(rows) — and the (app_id, epoch) txn ledger makes a replayed
    epoch a no-op (a double-applied epoch would double its counts;
    the hash would flip).

    Scale shape: the expectation evaluation is a pure map over the
    batch folding to a 1-row aggregate; the mart grows one row per
    epoch. The oracle replays the epoch partition + dirt injection
    blind in SQL."""
    base = _scratch(sf_dir, "st22")
    drop, mart, cp = (
        os.path.join(base, "drop"),
        os.path.join(base, "mart"),
        os.path.join(base, "cp"),
    )
    os.makedirs(drop, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    dirty = events.select(
        "event_id",
        F.expr(
            "CASE WHEN event_id % 13 = 0 THEN 'unknown' "
            "ELSE event_type END"
        ).alias("event_type"),
        F.expr(
            "CASE WHEN event_id % 11 = 0 THEN -value ELSE value END"
        ).alias("value"),
        "props",
    )
    for k in range(3):
        f = os.path.join(drop, f"b{k}.parquet")
        write_single_parquet(dirty.filter(F.col("event_id") % 3 == k), f)
        os.utime(f, ((k + 1) * 1_000_000,) * 2)

    known = "('click', 'view', 'purchase', 'signup', 'error')"

    def quality_row(batch: DataFrame, epoch_id: int) -> DataFrame:
        return batch.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_neg_value"),
            F.sum(
                F.when(~F.expr(f"event_type IN {known}"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_unknown_type"),
            F.sum(F.when(F.col("props").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_props"),
        ).select(F.lit(epoch_id).cast("bigint").alias("epoch"), "*")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta_compat.append_delta(
            quality_row(batch_df, epoch_id), mart,
            txn=("st22", epoch_id),
        )

    stream = (
        spark.readStream.schema(
            "event_id LONG, event_type STRING, value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # crash-replay of epoch 0 must no-op through the txn ledger
    sink(
        spark.read.schema(
            "event_id LONG, event_type STRING, value DOUBLE, props STRING"
        ).parquet(os.path.join(drop, "b0.parquet")),
        0,
    )
    return delta_compat.read_delta(spark, mart).select(
        "epoch", "n_rows", "n_neg_value", "n_unknown_type", "n_null_props"
    )


_ST22_SQL = (
    "WITH d AS (SELECT event_id % 3 AS epoch, "
    "CASE WHEN event_id % 13 = 0 THEN 'unknown' ELSE event_type END "
    "AS event_type, "
    "CASE WHEN event_id % 11 = 0 THEN -value ELSE value END AS value, "
    "props FROM events) "
    "SELECT CAST(epoch AS BIGINT) AS epoch, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_neg_value, "
    "CAST(sum(CASE WHEN event_type NOT IN "
    "('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_unknown_type, "
    "CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_null_props "
    "FROM d GROUP BY 1"
)


QUERIES = {
    "s1_feed_ingest": s1_feed_ingest,
    "st1_medallion_ingest": st1_medallion_ingest,
    "st2_stateful_totals": st2_stateful_totals,
    "st4_windowed_counts": st4_windowed_counts,
    "st7_interval_join": st7_interval_join,
    "st13_left_outer_join": st13_left_outer_join,
    "st16_full_outer_join": st16_full_outer_join,
    "st14_watermark_dedup": st14_watermark_dedup,
    "st8_stream_static_enrich": st8_stream_static_enrich,
    "st9_streaming_ema": st9_streaming_ema,
    "st11_streaming_sessions": st11_streaming_sessions,
    "st17_streaming_neardup": st17_streaming_neardup,
    "st18_streaming_ivf_assign": st18_streaming_ivf_assign,
    "st27_streaming_graph_ann": st27_streaming_graph_ann,
    "st19_streaming_heavy_hitters": st19_streaming_heavy_hitters,
    "st21_streaming_dedup_ledger": st21_streaming_dedup_ledger,
    "st22_streaming_quality_mart": st22_streaming_quality_mart,
    "st23_streaming_scd2_enrich": st23_streaming_scd2_enrich,
}

ORACLES = {
    "s1_feed_ingest": _S1_SQL,
    "st1_medallion_ingest": _ST1_SQL,
    "st2_stateful_totals": _ST2_SQL,
    "st4_windowed_counts": _ST4_SQL,
    "st7_interval_join": _ST7_SQL,
    "st13_left_outer_join": _ST13_SQL,
    "st16_full_outer_join": _ST16_SQL,
    "st14_watermark_dedup": _ST14_SQL,
    "st8_stream_static_enrich": _ST8_SQL,
    "st9_streaming_ema": _ST9_SQL,
    "st11_streaming_sessions": _ST11_SQL,
    "st17_streaming_neardup": _st17_sql(),
    "st18_streaming_ivf_assign": _st18_sql(),
    "st27_streaming_graph_ann": _st27_sql(),
    "st19_streaming_heavy_hitters": _st19_sql(),
    "st21_streaming_dedup_ledger": _st21_sql(),
    "st22_streaming_quality_mart": _ST22_SQL,
    "st23_streaming_scd2_enrich": _ST23_SQL,
}
