"""Streaming medallion ingest (ST1-ST3/ST6) and event-time windows (ST4/ST5).

The reference's ingest loop polls RSS feeds, filters seen guids against a
JSON ledger, and appends to Delta — saving the ledger BEFORE the sink
write (/root/reference/news_insights/collector.py:87-89,113-115 vs the
store at :233-240), so a crash between the two silently loses articles,
and its README admits the loop needs an external orchestrator
(README.md:110-111). The Structured Streaming replacement:

* **ST1 incremental ingestion** — a file-drop ``readStream`` stands in
  for the RSS poll (the fetcher is decoupled: it drops fetched batches
  as files; SURVEY §7 step 5). The checkpoint tracks consumed files, so
  a re-run processes only unseen batches. Streams read the drop
  DIRECTORY with a ``pathGlobFilter``: a ``dir/*.parquet`` path globs
  to one root path per file, and past 32 of them every poll lists them
  in two parallel Spark jobs.
* **ST2 exactly-once dedup** — ``dropDuplicates("doc_id")`` holds the
  seen-id state inside the checkpointed query (watermark-bounded in
  production), and the sink write is an **idempotent Delta commit
  keyed (app_id, epoch)** — the ``txn`` action rides in the same commit
  as the data (``delta_compat``), so state and data publish atomically
  together, which is precisely the fix for the ledger-before-write
  bug.
* **ST3 empty batches** — a no-op micro-batch commits nothing and
  crashes nothing (the reference raises EOFError, collector.py:91-93).
* **ST6 per-epoch semantics** — one ``foreachBatch`` epoch writes the
  raw/curated/quarantine/actors fan-out (collector.py:228-245) from one
  run of the dedup state, which is also the epoch's empty check, and
  one extraction. An epoch of an in-process provider that fits one
  file split finishes on the driver, like the reference's in-process
  Arrow writes (collector.py:219-226): it is collected once as Arrow,
  the provider runs in this process, its payloads are parsed in Python
  when all are plain (else by Spark over a local relation, one more
  job), and each table commits one pyarrow-written file — one Spark
  job, no Python worker, no Spark write job. Any other epoch is
  materialized once and runs on the executors: an in-process
  provider's Python stage on the epoch's k partitions (k = cached
  bytes over ``maxPartitionBytes``, at least 1); a provider that
  waits on a remote service on the batch's partitions whenever the
  epoch holds more rows than one call keeps in flight. There the
  extraction's three sinks share it through the cache, each writing k
  files. On both routes the four sink commits run concurrently, each
  its own idempotent ``txn`` commit. Acero's per-stage ``to_table()``
  barriers disappear.
* **ST4/ST5** — event-time tumbling windows with a watermark; late rows
  beyond the watermark are dropped (tests pin the policy).

Scale: the only stateful operators are dedup state (bounded by the
watermark) and window state; everything else is per-epoch batch work
that scales exactly like the batch engine. Checkpoint + commit-log
recovery means a 1000-executor job resumes mid-stream with no replayed
rows in the tables.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from acero_delta_lake_streaming_spark.functions.extract import (
    ACTORS_EXPR,
    ExtractionProvider,
    extract_events,
    extract_local,
    flatten_actors,
    parse_events,
    parse_plain,
    request_concurrency,
)
from acero_delta_lake_streaming_spark.storage import delta_compat

#: file-drop batch schema for document-shaped ingest (fixture-driven
#: stand-in for NEWS_SCHEMA feeds; readStream requires an explicit schema).
DOC_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def _materialize(df: DataFrame) -> tuple[int, int]:
    """Persist ``df`` and run its plan once. Returns its row count and
    the file count a sink of it writes: the cached bytes over the
    session's ``spark.sql.files.maxPartitionBytes``, rounded up, at
    least 1. ``coalesce`` never adds partitions, so only the slivers of
    a small epoch merge; a big one keeps its own partitioning."""
    df.persist()
    # A fresh plan (``df``'s own may be optimized already, before the
    # cache existed) counted as an RDD: one job that builds the cache,
    # where ``df.count()`` is three under AQE.
    rows = df.select("*")._jdf.queryExecution().toRdd().count()
    jss = df.sparkSession._jsparkSession
    cached = jss.sharedState().cacheManager().lookupCachedData(df._jdf).get()
    size = cached.cachedRepresentation().stats().sizeInBytes()
    cap = jss.sessionState().conf().filesMaxPartitionBytes()
    return rows, max(1, -(-size // cap))


def _fits_one_split(df: DataFrame) -> bool:
    """Whether ``df``'s plan estimates its output at no more than one
    file split (the typed ``filesMaxPartitionBytes``, the cap of
    :func:`_materialize`'s k). Reading the estimate runs no job. The
    estimate is in Spark's file-split unit, on-disk parquet bytes scaled
    by the projection, while k counts cached in-memory bytes: on news
    epochs the cached size is 3.4–6× the estimate, so an epoch that the
    executor route would write as a few files per sink still fits."""
    jss = df.sparkSession._jsparkSession
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size <= jss.sessionState().conf().filesMaxPartitionBytes()


def _parsed_tables(
    extracted: DataFrame, id_col: str, with_actors: bool
) -> dict[str, pa.Table]:
    """The sinks of a local extraction parsed by Spark, as Arrow tables,
    from ONE Spark job of one task: one select carries, for each
    extracted row, its rows of every sink as an array (the rows the
    executor route's filters and :func:`flatten_actors` emit for it),
    and the driver flattens each array column into its table. Each
    table keeps its Spark schema's types and nullability."""
    ok = F.col("event").isNotNull()
    sinks = {
        "curated": F.when(ok, F.array(F.struct(
            id_col, F.col("event.category").alias("category")
        ))),
        # UD3: failed extractions are routed, not dropped
        "quarantine": F.when(~ok, F.array(F.struct(id_col, "raw_response"))),
    }
    if with_actors:
        sinks["actors"] = F.transform(F.expr(ACTORS_EXPR), lambda a: F.struct(
            F.col(id_col).alias("news_id"),
            a["name"].alias("actor_name"),
            a["role"].alias("actor_role"),
            a["is_main"].alias("is_main_actor"),
            F.col("event.category").alias("category"),
        ))
    got = extracted.select(
        *(rows.alias(table) for table, rows in sinks.items())
    ).coalesce(1).toArrow()  # ONE SPLIT: the epoch's parse
    return {
        table: pa.Table.from_struct_array(got[table].combine_chunks().flatten())
        for table in sinks
    }


def _plain_tables(
    responses: pa.Table, id_col: str, with_actors: bool
) -> dict[str, pa.Table] | None:
    """:func:`_parsed_tables` built in Python with no Spark job, or None
    when a payload is not plain (:func:`parse_plain`). Same rows in the
    same order, same Arrow schemas."""
    events = parse_plain(responses.column("raw_response").to_pylist())
    if events is None:
        return None
    ids = responses.column(id_col)
    ok = pa.array([e is not None for e in events])
    category = pa.field("category", pa.string())
    tables = {
        "curated": pa.table(
            [ids.filter(ok),
             pa.array([e[2] for e in events if e is not None], pa.string())],
            schema=pa.schema([pa.field(id_col, ids.type), category]),
        ),
        "quarantine": responses.filter(pc.invert(ok)),
    }
    if with_actors:
        rows, names, roles, main, categories = [], [], [], [], []
        for i, event in enumerate(events):
            if event is None:
                continue
            for actors, is_main in zip(event[:2], (True, False)):
                for name, role in actors or ():
                    rows.append(i)
                    names.append(name)
                    roles.append(role)
                    main.append(is_main)
                    categories.append(event[2])
        tables["actors"] = pa.table(
            [ids.take(pa.array(rows, pa.int64())), pa.array(names, pa.string()),
             pa.array(roles, pa.string()), pa.array(main, pa.bool_()),
             pa.array(categories, pa.string())],
            schema=pa.schema([
                pa.field("news_id", ids.type),
                pa.field("actor_name", pa.string()),
                pa.field("actor_role", pa.string()),
                pa.field("is_main_actor", pa.bool_(), nullable=False),
                category,
            ]),
        )
    return tables


def _local_tables(
    spark: SparkSession, responses: pa.Table, id_col: str, with_actors: bool
) -> dict[str, pa.Table]:
    """The sinks of the driver route's extraction as Arrow tables: built
    in Python when every payload is plain (:func:`_plain_tables`, no
    Spark job), else parsed by Spark over a local relation
    (:func:`_parsed_tables`, one job)."""
    tables = _plain_tables(responses, id_col, with_actors)
    if tables is None:
        tables = _parsed_tables(
            parse_events(spark.createDataFrame(responses)), id_col, with_actors
        )
    return tables


def _one_executor(spark: SparkSession) -> bool:
    """Whether every task runs in one executor (a ``local`` master).
    Only there does one block lock serialize concurrent jobs that reach
    the same uncached partition of a persisted DataFrame."""
    return spark.sparkContext._jsc.sc().isLocal()


def medallion_writer(
    base_dir: str,
    app_id: str = "medallion-ingest",
    provider: ExtractionProvider | None = None,
    with_actors: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch function: one epoch → raw + curated + quarantine
    (+ actors) commits.

    The epoch runs the dedup state once, and that one run is also the
    ST3 empty check. Where the rest runs depends on the provider and
    on the epoch's size:

    * **Driver route.** An in-process provider (no
      :func:`request_concurrency`) whose epoch the plan estimates at
      one file split or less (:func:`_fits_one_split`). The batch is
      collected once as Arrow, and ``raw`` is submitted at once. The
      provider is called once in this process (:func:`extract_local`).
      When every payload is plain (:func:`parse_plain`), Python builds
      the three sinks' tables; otherwise one select over the responses
      as a local relation yields them in one more job
      (:func:`_local_tables`). Each table commits one pyarrow-written
      file. No Python worker starts and no Spark write job runs: one
      Spark job per epoch, the dedup collect (two for an epoch that
      holds a payload only Spark's ``from_json`` reads).
    * **Executor route**, every other epoch. The batch is persisted and
      counted in one job (:func:`_materialize`, which gives k, the file
      count of each sink) and ``raw`` is submitted at once. The
      extraction is persisted:

      * An in-process provider reads ``batch.coalesce(k)``, so an epoch
        is k Python tasks. The extraction is not counted: ``curated``,
        ``quarantine`` and ``actors`` are submitted straight away, and
        their planning overlaps the Python stage. On one executor the
        first task to reach a cached partition computes it and the
        other sinks' tasks wait for the block, so the provider sees
        each row once. Across executors nothing makes those tasks wait
        (:func:`_one_executor`), so the extraction is counted before
        its sinks start.
      * A provider that waits on a remote service, given more rows than
        one of its calls keeps in flight, reads the batch's own
        partitions, so the requests in flight scale with the tasks. It
        is counted before its sinks start: a sink's ``coalesce(k)``
        over the uncached extraction could fold those partitions into
        one task.

      Each sink writes ``coalesce(k)`` files, so a small epoch adds one
      file per commit.

    The pool is sized by the sink count, and every task inherits the
    epoch's local properties. Each table commit is idempotent on
    (app_id-table, epoch), so the sinks need no order: if one fails,
    the others still commit, the epoch waits for every sink and then
    raises the first error in sink order; the replayed epoch no-ops
    the committed tables and completes the rest — per-table
    exactly-once without cross-table 2PC (the 'hard part' called out
    in SURVEY §7). Commits go through the ``delta_compat.append_delta``
    module attribute, so a tracer that wraps it sees every medallion
    write."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        extracted = None
        futures = []
        try:
            concurrency = request_concurrency(provider)
            on_driver = concurrency is None and _fits_one_split(batch_df)
            if on_driver:
                batch = batch_df.toArrow()  # ONE SPLIT, by the plan's estimate
                rows = batch.num_rows
            else:
                rows, files = _materialize(batch_df)
            if rows == 0:  # ST3: empty micro-batch is a clean no-op
                return
            with ThreadPoolExecutor(max_workers=4 if with_actors else 3) as pool:

                def submit(table: str, data: DataFrame | pa.Table) -> None:
                    task = inheritable_thread_target(batch_df.sparkSession)(
                        delta_compat.append_delta
                    )
                    futures.append(pool.submit(
                        task,
                        data,
                        os.path.join(base_dir, table),
                        txn=(f"{app_id}-{table}", epoch_id),
                    ))

                if on_driver:
                    submit("raw", batch)
                    responses = extract_local(
                        batch, id_col=id_col, text_col=text_col,
                        provider=provider,
                    )
                    for table, data in _local_tables(
                        batch_df.sparkSession, responses, id_col, with_actors
                    ).items():
                        submit(table, data)
                else:
                    submit("raw", batch_df.coalesce(files))
                    spread = concurrency is not None and rows > concurrency
                    extracted = extract_events(
                        batch_df if spread else batch_df.coalesce(files),
                        id_col=id_col, text_col=text_col, provider=provider,
                    ).persist()
                    if spread or not _one_executor(batch_df.sparkSession):
                        extracted.count()
                    submit(
                        "curated",
                        extracted.filter(F.col("event").isNotNull()).select(
                            id_col, F.col("event.category").alias("category")
                        ).coalesce(files),
                    )
                    # UD3: failed extractions are routed, not dropped — the
                    # quarantine table keeps (id, raw payload) for replay or
                    # audit once the provider/schema issue is fixed.
                    submit(
                        "quarantine",
                        extracted.filter(F.col("event").isNull()).select(
                            id_col, "raw_response"
                        ).coalesce(files),
                    )
                    if with_actors:
                        submit(
                            "actors",
                            flatten_actors(extracted, id_col=id_col).coalesce(files),
                        )
            for f in futures:  # every sink has finished: raise the first error
                f.result()
        finally:
            if extracted is not None:
                extracted.unpersist()
            batch_df.unpersist()

    return write_batch


def _drain(stream: DataFrame, sink, checkpoint_dir: str, mode: str = "append") -> None:
    """Run ``stream`` through the foreachBatch ``sink`` until every file
    available at start is consumed (``availableNow``), checkpointed at
    ``checkpoint_dir``; a re-run resumes after the consumed files."""
    (
        stream.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_ingest(
    spark: SparkSession,
    drop_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    provider: ExtractionProvider | None = None,
    with_actors: bool = True,
    app_id: str = "medallion-ingest",
    schema: T.StructType = DOC_BATCH_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One availableNow ingest pass: new files in ``drop_dir`` → dedup →
    medallion tables. Returns after the stream drains (ST1 incremental:
    call again after more files drop; the checkpoint skips consumed
    ones)."""
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(drop_dir)
        .dropDuplicates([id_col])  # ST2 state, checkpoint-backed
    )
    _drain(
        stream,
        medallion_writer(base_dir, app_id=app_id, provider=provider,
                         with_actors=with_actors, id_col=id_col,
                         text_col=text_col),
        checkpoint_dir,
    )


def _keyed_epoch_sink(table: str, app_id: str, write):
    """The epoch rule of the txn-keyed foreachBatch sinks: an empty
    epoch writes nothing, the first non-empty one creates the table
    with an append, and every later one runs ``write(batch_df, txn)``.
    Each commit carries ``txn=(app_id, epoch)``, so a replayed epoch
    no-ops whichever verb it lands in."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txn = (app_id, epoch_id)
        if not delta_compat.is_delta_table(table):
            delta_compat.append_delta(batch_df, table, txn=txn)
        else:
            write(batch_df, txn)

    return write_batch


def cdc_upsert_writer(table: str, key_cols: list[str], app_id: str = "cdc"):
    """foreachBatch sink that MERGEs each micro-batch into a Delta table
    (latest row per key wins) — the streaming CDC pattern: an update
    arriving in a later epoch replaces the stored row instead of
    appending a duplicate. Epoch idempotence rides on the same
    ``txn=(app_id, epoch)`` commit key as the append sink (the first
    epoch creates the table with an append), so a replayed epoch
    no-ops."""
    return _keyed_epoch_sink(
        table,
        app_id,
        lambda batch_df, txn: delta_compat.merge_delta(
            batch_df.sparkSession, table, batch_df, key_cols, txn=txn
        ),
    )


def run_news_ingest(
    spark: SparkSession,
    drop_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    provider: ExtractionProvider | None = None,
) -> None:
    """The reference-shaped pipeline: NEWS_SCHEMA feed batches, dedup on
    the RSS guid, extraction text = title + '\\n' + description
    (collector.py:182's P3 concat)."""
    from acero_delta_lake_streaming_spark.schemas import NEWS_SCHEMA

    stream = (
        spark.readStream.schema(NEWS_SCHEMA)
        .option("pathGlobFilter", "*.parquet").parquet(drop_dir)
        .dropDuplicates(["id"])
        .withColumn("text", F.concat_ws("\n", "title", "description"))
    )
    _drain(
        stream,
        medallion_writer(base_dir, app_id="news-ingest", provider=provider,
                         id_col="id"),
        checkpoint_dir,
    )


# --------------------------------------------------------------------------
# ST4/ST5 — event-time windows with watermark
# --------------------------------------------------------------------------

EVENT_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts_ns", T.LongType(), False),  # epoch nanoseconds
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Daily tumbling-window counts with a watermark — the streaming form
    of the dashboard timeline (A4, visualizer.py:115). Works unchanged on
    a batch DataFrame (watermark is a no-op there), which is how the
    oracle compares it."""
    with_ts = events.withColumn("ts", F.expr("timestamp_micros(ts_ns DIV 1000)"))
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("day_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_windowed_stream(
    spark: SparkSession,
    drop_dir: str,
    out_table: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    app_id: str = "windowed-events",
) -> None:
    """Drain ``drop_dir`` through the windowed aggregation into a Delta
    table. Complete-mode foreachBatch: each epoch overwrites the table
    with the full window snapshot (the first epoch creates it), keyed
    ``txn=(app_id, epoch)`` so a replayed epoch no-ops (fixture scale;
    at 100 TB switch to append mode so only watermark-finalized windows
    emit)."""

    write_batch = _keyed_epoch_sink(
        out_table,
        app_id,
        lambda batch_df, txn: delta_compat.overwrite_delta(
            batch_df.sparkSession, batch_df, out_table, txn=txn
        ),
    )
    events = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("pathGlobFilter", "*.parquet").parquet(drop_dir)
    )
    _drain(windowed_event_counts(events, watermark), write_batch,
           checkpoint_dir, mode="complete")


def sessionized_events(
    events: DataFrame, gap: str = "4 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session aggregation for a stream — `F.session_window`
    with a watermark, the streaming form of x6's batch sessionization
    (operators/sessionize.py; same 4h inactivity gap, same output
    columns, so the same gaps-and-islands oracle pins both). Session
    state merges as events arrive and is evicted once the watermark
    passes session end + gap; works unchanged on a batch DataFrame
    (watermark is a no-op there)."""
    with_ts = events.withColumn(
        "ts", F.expr("timestamp_micros(ts_ns DIV 1000)")
    )
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("first_ts")).alias("start_ms"),
            F.unix_millis(F.col("last_ts")).alias("end_ms"),
            "n_events",
            "sum_value",
        )
    )


def run_session_stream(
    spark: SparkSession,
    drop_dir: str,
    out_table: str,
    checkpoint_dir: str,
    gap: str = "4 hours",
    watermark: str = "1 hour",
    app_id: str = "session-events",
) -> None:
    """Drain ``drop_dir`` through the streaming session aggregation into
    a Delta table, APPEND mode — Spark's only supported sink mode
    for session-window streaming aggregations, and the honest one: a
    session row emits exactly ONCE, after the watermark passes its end
    + gap and the state store evicts it (st5's emit-once contract).
    Sessions still open when the stream idles stay in state and emit
    nothing — a caller that needs everything flushed advances the
    watermark past the data (e.g. a far-future sentinel event, as
    st11 does). Each epoch's emitted sessions land as one idempotent
    Delta append commit; at 100 TB state holds only open sessions
    inside the watermark horizon."""

    write_batch = _keyed_epoch_sink(
        out_table,
        app_id,
        lambda batch_df, txn: delta_compat.append_delta(
            batch_df, out_table, txn=txn
        ),
    )
    events = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("pathGlobFilter", "*.parquet").parquet(drop_dir)
    )
    _drain(sessionized_events(events, gap, watermark), write_batch,
           checkpoint_dir)
