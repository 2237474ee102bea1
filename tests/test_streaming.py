"""Streaming semantics tests (SURVEY.md §2.8, §5.5): incremental ingest,
exactly-once across crash/replay, empty batches, and the late-data
watermark policy — the behaviors no SQL oracle can check.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam

from acero_delta_lake_streaming_spark.catalog import load_table
from acero_delta_lake_streaming_spark.functions.extract import (
    MockExtractionProvider,
    RetryingProvider,
)
from acero_delta_lake_streaming_spark.storage import delta_compat
from acero_delta_lake_streaming_spark.streaming import ingest
from acero_delta_lake_streaming_spark.streaming.ingest import (
    EVENT_BATCH_SCHEMA,
    medallion_writer,
    run_ingest,
    windowed_event_counts,
)
from acero_delta_lake_streaming_spark.streaming.queries import (
    write_single_parquet,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )


def test_incremental_ingest_dedup_and_empty_runs(spark, sf_dir, tmp_path):
    drop, tables, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "tables"),
        str(tmp_path / "cp"),
    )
    os.makedirs(drop)
    docs = _docs(spark, sf_dir)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    write_single_parquet(b0, os.path.join(drop, "b0.parquet"))
    run_ingest(spark, drop, tables, cp, with_actors=False)
    curated = os.path.join(tables, "curated")
    n0 = delta_compat.read_delta(spark, curated).count()
    assert n0 > 0

    # ST3: re-run with nothing new — a clean no-op, tables unchanged
    run_ingest(spark, drop, tables, cp, with_actors=False)
    assert delta_compat.read_delta(spark, curated).count() == n0

    # ST1+ST2: second drop replays half of b0's ids plus new ones; the
    # checkpointed dedup state must keep exactly one row per doc_id
    b1 = docs.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 4 == 0))
    write_single_parquet(b1, os.path.join(drop, "b1.parquet"))
    run_ingest(spark, drop, tables, cp, with_actors=False)
    raw = delta_compat.read_delta(spark, os.path.join(tables, "raw"))
    assert raw.count() == raw.select("doc_id").distinct().count()
    ok_docs = delta_compat.read_delta(spark, curated)
    assert ok_docs.count() == ok_docs.select("doc_id").distinct().count()
    # UD3: every ingested doc is either curated or quarantined — no drops
    quarantined = delta_compat.read_delta(spark, os.path.join(tables, "quarantine"))
    assert ok_docs.count() + quarantined.count() == raw.count()


#: a medallion epoch's two routes (``medallion_writer``): the small test
#: batches take the driver route unless the executor route is forced
ROUTES = ("driver", "executor")


@contextlib.contextmanager
def _route(monkeypatch, route):
    """Run the block's medallion epochs on ``route``: "executor" treats
    every epoch as larger than one file split."""
    with monkeypatch.context() as m:
        if route == "executor":
            m.setattr(ingest, "_fits_one_split", lambda df: False)
        yield


def test_epoch_replay_is_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    """A foreachBatch retry (same epoch) after a crash must not duplicate
    rows — the fix for the reference's ledger-before-write loss — on
    either route of the epoch."""
    batch = _docs(spark, sf_dir).limit(50)
    for route in ROUTES:
        base = str(tmp_path / route)
        with _route(monkeypatch, route):
            writer = medallion_writer(base, app_id="m1")
            writer(batch, 0)
            counts = {
                t: delta_compat.read_delta(spark, os.path.join(base, t)).count()
                for t in ("raw", "curated", "actors")
            }
            writer(batch, 0)  # replayed epoch
            for t, n in counts.items():
                assert delta_compat.read_delta(
                    spark, os.path.join(base, t)).count() == n, (route, t)
                assert delta_compat._list_commit_versions(
                    os.path.join(base, t)) == [0], (route, t)
            writer(batch.limit(10), 1)  # a genuinely new epoch still lands
        assert delta_compat.read_delta(
            spark, os.path.join(base, "raw")).count() == counts["raw"] + 10


def test_partial_epoch_completes_without_duplicates(spark, sf_dir, tmp_path,
                                                     monkeypatch):
    """Crash mid-fan-out (raw committed, curated/actors not): the retry
    must skip raw and complete the rest — per-table exactly-once, on
    either route of the epoch."""
    batch = _docs(spark, sf_dir).limit(40)
    for route in ROUTES:
        base = str(tmp_path / route)
        # simulate the partial epoch: only the raw commit landed
        delta_compat.append_delta(
            batch, os.path.join(base, "raw"), txn=("m2-raw", 0)
        )
        n_raw = delta_compat.read_delta(spark, os.path.join(base, "raw")).count()
        with _route(monkeypatch, route):
            medallion_writer(base, app_id="m2")(batch, 0)  # the retry
        assert delta_compat.read_delta(
            spark, os.path.join(base, "raw")).count() == n_raw
        assert delta_compat._list_commit_versions(
            os.path.join(base, "raw")) == [0]
        assert delta_compat.is_delta_table(os.path.join(base, "curated"))
        assert delta_compat.is_delta_table(os.path.join(base, "actors"))


MEDALLION = ("raw", "curated", "quarantine", "actors")


def _table_rows(spark, base):
    return {
        t: sorted(map(tuple, delta_compat.read_delta(
            spark, os.path.join(base, t)).collect()))
        for t in MEDALLION
    }


def _data_files(table):
    return [n for n in os.listdir(table) if n.endswith(".parquet")]


def test_failing_sink_does_not_stop_the_others(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """The four sinks commit concurrently and independently, on either
    route of the epoch: when curated fails in epoch 0, the epoch still
    waits for raw, quarantine and actors to commit and then raises; the
    replay commits only curated, and every table holds the epoch exactly
    once."""
    batch = _docs(spark, sf_dir).limit(50)
    ref = str(tmp_path / "ref")
    medallion_writer(ref, app_id="m3")(batch, 0)

    real = delta_compat.append_delta
    failed = []

    def flaky(df, table, *args, **kwargs):
        if os.path.basename(table) == "curated" and kwargs["txn"][1] == 0 \
                and not failed:
            failed.append(table)
            raise RuntimeError("curated sink down")
        return real(df, table, *args, **kwargs)

    monkeypatch.setattr(delta_compat, "append_delta", flaky)
    for route in ROUTES:
        failed.clear()
        base = str(tmp_path / route)
        others = [os.path.join(base, t) for t in ("raw", "quarantine", "actors")]
        with _route(monkeypatch, route):
            writer = medallion_writer(base, app_id="m3")
            with pytest.raises(RuntimeError, match="curated sink down"):
                writer(batch, 0)
            assert [delta_compat._list_commit_versions(t) for t in others] \
                == [[0]] * 3, route
            assert not delta_compat.is_delta_table(os.path.join(base, "curated"))

            writer(batch, 0)  # the replayed epoch
        assert [delta_compat._list_commit_versions(t) for t in others] \
            == [[0]] * 3, route
        assert delta_compat._list_commit_versions(
            os.path.join(base, "curated")) == [0]
        assert _table_rows(spark, base) == _table_rows(spark, ref), route


def _counting_provider(spark, max_concurrency=None):
    """A mock provider that records, through two accumulators, the task
    attempt of each ``extract_batch`` call (None for a call made in the
    driver process) and the rows the calls carry.
    Given ``max_concurrency`` it declares itself a provider that waits on
    a remote service."""

    class Concat(AccumulatorParam):  # local: ships to the workers by value
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    calls = spark.sparkContext.accumulator([], Concat())
    seen = spark.sparkContext.accumulator(0)

    class CountingProvider:  # local: ships to the workers by value
        def extract_batch(self, texts):
            task = TaskContext.get()  # None in the driver process
            calls.add([None if task is None else task.taskAttemptId()])
            seen.add(len(texts))
            return MockExtractionProvider().extract_batch(texts)

    provider = CountingProvider()
    if max_concurrency is not None:
        provider.max_concurrency = max_concurrency
    return provider, calls, seen


@contextlib.contextmanager
def _files_cap(spark, value):
    """Set ``spark.sql.files.maxPartitionBytes`` for the block."""
    cap = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(cap)
    spark.conf.set(cap, value)
    try:
        yield
    finally:
        spark.conf.set(cap, old)


def test_medallion_epoch_extracts_each_row_once(spark, sf_dir, tmp_path):
    """A provider counting through an accumulator sees every row of the
    epoch exactly once: from the driver on a small epoch, and from the
    tasks of the persisted extraction that the three sinks start
    together and share when the epoch is over the split cap, also when
    they contend for several cached partitions."""
    provider, calls, seen = _counting_provider(spark)
    docs = _docs(spark, sf_dir)
    writer = medallion_writer(str(tmp_path / "tables"), app_id="m4",
                              provider=provider)
    writer(docs.limit(40).repartition(4), 0)
    assert seen.value == 40
    writer(docs.filter(F.col("doc_id") % 3 == 0).limit(25).repartition(4), 1)
    assert seen.value == 65
    assert calls.value == [None, None]
    with _files_cap(spark, "1024"):
        writer(docs.filter(F.col("doc_id") % 3 == 1).limit(40).repartition(4), 2)
    assert seen.value == 105
    assert None not in calls.value[2:]


def test_medallion_extraction_task_count_follows_the_provider(
        spark, sf_dir, tmp_path, monkeypatch):
    """A small epoch of an in-process provider makes one provider call
    in the driver process. On the executor route, an in-process
    provider's Python stage runs on the epoch's k partitions: a 40-row
    epoch over 4 partitions makes one provider call, and a cap below
    the epoch's size splits it into several calls that still see each
    row once. A provider that waits on a remote service never takes the
    driver route: it keeps one task per batch partition once the epoch
    holds more rows than one call keeps in flight, also behind a retry
    wrapper, so its requests in flight still scale with the tasks; a
    smaller epoch is one call. The batch is checkpointed, so no adaptive
    plan runs the cached extraction as a stage of its own: a sink's
    ``coalesce(k)`` would fold an uncounted extraction into one task."""
    batch = _docs(spark, sf_dir).limit(40).repartition(4).localCheckpoint()

    def run(name, provider, calls, seen):
        """(calls, tasks that made them, rows) of one epoch."""
        medallion_writer(str(tmp_path / name), app_id="m6",
                         provider=provider)(batch, 0)
        return len(calls.value), len(set(calls.value)), seen.value

    provider, calls, seen = _counting_provider(spark)
    assert run("driver", provider, calls, seen) == (1, 1, 40)
    assert calls.value == [None]

    with _route(monkeypatch, "executor"):
        provider, calls, seen = _counting_provider(spark)
        assert run("one", provider, calls, seen) == (1, 1, 40)
        assert calls.value != [None]
    with _files_cap(spark, "1024"):
        calls, _, rows = run("many", *_counting_provider(spark))
    assert calls >= 2 and rows == 40

    assert run("remote", *_counting_provider(spark, 8)) == (4, 4, 40)
    provider, calls, seen = _counting_provider(spark, 8)
    assert run("retrying", RetryingProvider(provider), calls, seen) == (4, 4, 40)
    assert run("wide", *_counting_provider(spark, 40)) == (1, 1, 40)


def _epoch_jobs(spark, writer, batch, group: str) -> list:
    """The ids of the Spark jobs one ``writer(batch, 0)`` epoch launches,
    read under the job group ``group`` (a fresh name per call)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count of one epoch")
    try:
        writer(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events post async
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _python_stages(spark, job_ids) -> list[int]:
    """The stages of ``job_ids`` whose operator graph holds a
    ``MapInPandas`` node (a Python-worker stage)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    graph = sc._gateway.jvm.org.apache.spark.ui.scope.RDDOperationGraph
    out = []
    for jid in job_ids:
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            dot = graph.makeDotFile(store.operationGraphForStage(sid))
            if 'label="MapInPandas"' in dot:
                out.append(sid)
    return out


def test_medallion_epoch_job_count(spark, sf_dir, tmp_path, monkeypatch):
    """On the executor route, on one executor, a non-empty epoch
    launches 5 Spark jobs: the batch count (one job, counted as an RDD;
    ``df.count()`` was 3 under AQE) and the four sink writes. The
    extraction has no count of its own (persist + count before its
    sinks added 3 more jobs). Across
    executors the extraction is counted before its sinks again, and
    the provider still sees each row once."""
    provider, _, seen = _counting_provider(spark)
    batch = _docs(spark, sf_dir).limit(40).repartition(4).localCheckpoint()
    monkeypatch.setattr(ingest, "_fits_one_split", lambda df: False)
    local = len(_epoch_jobs(spark, medallion_writer(
        str(tmp_path / "local"), app_id="m7", provider=provider), batch,
        "medallion-epoch-local"))
    assert local <= 5

    monkeypatch.setattr(ingest, "_one_executor", lambda spark: False)
    across = len(_epoch_jobs(spark, medallion_writer(
        str(tmp_path / "across"), app_id="m7", provider=provider), batch,
        "medallion-epoch-across"))
    assert across > local
    assert seen.value == 80
    assert _table_rows(spark, str(tmp_path / "across")) == _table_rows(
        spark, str(tmp_path / "local"))


def test_medallion_driver_route_epoch(spark, sf_dir, tmp_path):
    """A small epoch of an in-process provider finishes on the driver:
    one Spark job (the batch collect; the mock's payloads are plain, so
    the driver parses them), no Python-worker stage, one provider call
    made in the driver process, and one file per table commit. An empty
    epoch commits nothing, and a replayed epoch commits no table again."""
    provider, calls, seen = _counting_provider(spark)
    batch = _docs(spark, sf_dir).limit(40).repartition(4).localCheckpoint()
    base = str(tmp_path / "tables")
    writer = medallion_writer(base, app_id="m8", provider=provider)

    jobs = _epoch_jobs(spark, writer, batch, "medallion-driver-epoch")
    assert len(jobs) == 1
    assert _python_stages(spark, jobs) == []
    assert calls.value == [None] and seen.value == 40
    for t in MEDALLION:
        assert len(_data_files(os.path.join(base, t))) == 1, t

    empty = str(tmp_path / "empty")
    medallion_writer(empty, app_id="m8", provider=provider)(batch.limit(0), 0)
    assert not os.path.exists(empty)
    assert seen.value == 40

    rows = _table_rows(spark, base)
    writer(batch, 0)  # replayed epoch
    assert [delta_compat._list_commit_versions(os.path.join(base, t))
            for t in MEDALLION] == [[0]] * 4
    assert _table_rows(spark, base) == rows


#: payloads whose ``from_json`` parse Python reproduces (beside the mock's)
PLAIN = [
    None, "", "   ", "{}", "null", '"str"', "123", "\ufeff{}", "\x0b{}",
    '  {"category":"A"}', '\t\n\r{"category":"A"}\n',
    '{"category":""}', '{"category":null,"main_actors":null}',
    '{"main_actors":[],"other_actors":[]}', '{"main_actors":[{}]}',
    '{"main_actors":[{"name":"a","role":null}],"category":"\\u00e9\\ud83d\\ude00"}',
    '{"other_actors":[{"role":"mention"}],"category":"A\\u0000"}',
]
#: payloads Spark's parser reads differently from Python, or that Python
#: cannot tell apart: the fast path must decline them
NOT_PLAIN = [
    '{"category":"A","category":"B"}', '{"main_actors":[{"name":"x","name":"y"}]}',
    '{"category":"A","x":NaN}', '{"main_actors":[null]}', "{'category':'A'}",
    '{"category":"A"} junk', '{"category":5}', '{"main_actors":"Bob","category":"A"}',
    '[{"category":"A"}]', '{"category":"\\ud800"}', '{"Category":"A"}',
    '{"category":"A","x":1}',
    '{"category":"A","x":' + "1" * 1001 + "}",
    '{"category":"A","x":' + "[" * 1000 + "]" * 1000 + "}",
    '{"main_actors":[{"name":"x","x":1}]}', '{"main_actors":{"name":"x"}}',
]


def test_plain_parse_matches_spark(spark):
    """The driver's Python parse (``ingest._plain_tables``) either
    returns the tables Spark's ``parse_events`` gives over the same
    responses, or declines: per payload over a corpus of the mock's
    payloads and edge cases, and over all the plain ones at once."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from acero_delta_lake_streaming_spark.functions.extract import parse_events

    texts = [f"word{i} other{i} third{i} more" for i in range(40)]
    mock = MockExtractionProvider().extract_batch(pd.Series(texts))
    assert any(not p.startswith("{") for p in mock)  # a refusal is in
    corpus = mock + PLAIN + NOT_PLAIN

    def responses(payloads, first=0):
        return pa.table({
            "id": pa.array([f"n{first + i}" for i in range(len(payloads))]),
            "raw_response": pa.array(payloads, pa.string()),
        })

    def spark_tables(payloads):
        return ingest._parsed_tables(parse_events(
            spark.createDataFrame(responses(payloads))), "id", True)

    ref = spark_tables(corpus)
    plain = []
    for i, payload in enumerate(corpus):
        fast = ingest._plain_tables(responses([payload], i), "id", True)
        if fast is None:
            continue
        plain.append(payload)
        for table, got in fast.items():
            key = "news_id" if table == "actors" else "id"
            want = ref[table].filter(pc.equal(ref[table][key], f"n{i}"))
            assert got.equals(want), (payload, table)
    assert plain == mock + PLAIN
    assert ingest._plain_tables(responses(plain), "id", True) == \
        spark_tables(plain)
    assert ingest._plain_tables(responses(corpus), "id", True) is None


def test_driver_route_epoch_with_a_non_plain_payload(spark, sf_dir, tmp_path,
                                                     monkeypatch):
    """An epoch holding a payload only Spark reads (trailing junk after
    the object) takes Spark's parse on the driver route, one more job
    over the local relation, and writes the same tables as the executor
    route."""
    class Junk:  # local: ships to the workers by value
        def extract_batch(self, texts):
            import hashlib

            out = MockExtractionProvider().extract_batch(texts)
            return [
                p + " junk" if hashlib.md5(t.encode()).hexdigest()[1] in "01"
                else p
                for t, p in zip(texts, out)
            ]

    batch = _docs(spark, sf_dir).limit(40).localCheckpoint()
    raw = Junk().extract_batch(batch.toPandas()["text"])
    assert any(p.endswith(" junk") and p.startswith("{") for p in raw)
    jobs = _epoch_jobs(spark, medallion_writer(
        str(tmp_path / "driver"), app_id="m9", provider=Junk()), batch,
        "medallion-non-plain-epoch")
    assert len(jobs) == 2
    with _route(monkeypatch, "executor"):
        medallion_writer(str(tmp_path / "executor"), app_id="m9",
                         provider=Junk())(batch, 0)
    driver = _table_rows(spark, str(tmp_path / "driver"))
    assert driver == _table_rows(spark, str(tmp_path / "executor"))
    assert len(driver["curated"]) == sum(p.startswith("{") for p in raw)


def _news_items(n: int) -> list[dict]:
    """``n`` RSS items with distinct guids and pubDates; the first is
    one the mock provider quarantines."""
    import hashlib

    items = []
    i = 0
    while len(items) < n:
        title, desc = f"item {i} of the feed", f"story number {i} today"
        quarantined = hashlib.md5(
            f"{title}\n{desc}".encode()).hexdigest()[0] == "f"
        if quarantined == (not items):
            items.append({
                "title": title, "description": desc, "guid": f"g{i}",
                "link": f"http://x/{i}", "thumbnail": f"http://x/{i}.jpg",
                "pubDate": f"Mon, 04 Mar 2024 10:{i % 60:02d}:00 GMT",
            })
        i += 1
    return items


def _log_adds(table: str) -> list[dict]:
    log = os.path.join(table, "_delta_log")
    return [
        json.loads(line)["add"]
        for name in sorted(os.listdir(log)) if name.endswith(".json")
        for line in open(os.path.join(log, name))
        if line.startswith('{"add"')
    ]


def _stats_shape(table: str) -> list:
    """Per add of ``table``'s log: its stats keys with each value's
    type, as (numRecords, minValues, maxValues, nullCount) shapes."""
    out = []
    for add in _log_adds(table):
        st = json.loads(add["stats"])
        out.append((
            type(st["numRecords"]).__name__,
            *({k: type(v).__name__ for k, v in st[part].items()}
              for part in ("minValues", "maxValues", "nullCount")),
        ))
    return out


def test_medallion_routes_write_the_same_tables(spark, tmp_path, monkeypatch):
    """The driver route and the executor route commit the same tables
    for the same news epoch: the same rows, the same log schema, and
    data files whose ``add.stats`` carry the same keys in the same
    formats. ``published_time`` is INT96 on both routes (Spark's default
    output type), so neither records footer min/max for it."""
    from acero_delta_lake_streaming_spark.streaming.feeds import drop_feed_batch
    from acero_delta_lake_streaming_spark.streaming.ingest import run_news_ingest

    drop = str(tmp_path / "drop")
    items = _news_items(12)
    drop_feed_batch(spark, [("news", _rss(items))], drop, "poll_0")
    for route in ROUTES:
        with _route(monkeypatch, route):
            run_news_ingest(spark, drop, str(tmp_path / route),
                            str(tmp_path / f"cp-{route}"))
    driver, executor = (str(tmp_path / route) for route in ROUTES)
    assert _table_rows(spark, driver) == _table_rows(spark, executor)
    rows = _table_rows(spark, driver)
    assert (len(rows["raw"]), len(rows["quarantine"])) == (12, 1)
    for t in MEDALLION:
        d, e = os.path.join(driver, t), os.path.join(executor, t)
        assert delta_compat.snapshot(d)["schema"] == \
            delta_compat.snapshot(e)["schema"], t
        assert _stats_shape(d) == _stats_shape(e), t
    raw_stats = json.loads(_log_adds(os.path.join(driver, "raw"))[0]["stats"])
    assert "published_time" not in raw_stats["minValues"]
    assert raw_stats["minValues"]["id"] == min(it["guid"] for it in items)


def _listing_jobs_since(spark, last_job: int) -> list[int]:
    """Spark's parallel file-listing jobs started after job ``last_job``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # job events post async
    out, it = [], jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        desc = job.description()
        if job.jobId() > last_job and desc.isDefined() and desc.get(
        ).startswith("Listing leaf files and directories"):
            out.append(job.jobId())
    return out


def _last_job(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids, it = [-1], jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        ids.append(it.next().jobId())
    return max(ids)


def test_drop_dir_stream_lists_files_without_a_job(spark, tmp_path):
    """The drop-dir streams read the directory with a ``pathGlobFilter``:
    once the drop dir holds 34 files (past the 32-path parallel-listing
    threshold), a poll that finds two new ones launches no parallel
    file-listing job. (A ``drop/*.parquet`` path globbed to 34 paths and
    listed them in two such jobs per poll.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    drop, tables, cp = (str(tmp_path / d) for d in ("drop", "tables", "cp"))
    os.makedirs(drop)

    def drop_files(ids):
        for i in ids:
            pq.write_table(pa.table({
                "doc_id": pa.array([i], pa.int64()), "text": [f"doc {i} text"],
                "lang": ["en"], "source": ["s"],
            }), os.path.join(drop, f"b{i:02d}.parquet"))

    drop_files(range(32))  # one batch of 32 files: at the threshold
    run_ingest(spark, drop, tables, cp, with_actors=False)
    drop_files(range(32, 34))
    last = _last_job(spark)
    run_ingest(spark, drop, tables, cp, with_actors=False)
    assert _listing_jobs_since(spark, last) == []
    assert delta_compat.read_delta(
        spark, os.path.join(tables, "raw")).count() == 34


def test_drop_dir_stream_resumes_a_glob_checkpoint(spark, sf_dir, tmp_path):
    """A checkpoint written by a stream over ``drop/*.parquet`` (the path
    form the drop-dir streams read before) resumes under the directory
    form: the next batch reads only the file dropped since, and every
    row lands once."""
    drop, tables, cp = (str(tmp_path / d) for d in ("drop", "tables", "cp"))
    os.makedirs(drop)
    docs = _docs(spark, sf_dir)
    write_single_parquet(docs.filter(F.col("doc_id") % 2 == 0).limit(20),
                         os.path.join(drop, "b0.parquet"))
    glob = (
        spark.readStream.schema(ingest.DOC_BATCH_SCHEMA)
        .parquet(os.path.join(drop, "*.parquet"))
        .dropDuplicates(["doc_id"])
    )
    ingest._drain(glob, medallion_writer(tables, with_actors=False), cp)

    write_single_parquet(docs.filter(F.col("doc_id") % 2 == 1).limit(20),
                         os.path.join(drop, "b1.parquet"))
    run_ingest(spark, drop, tables, cp, with_actors=False)
    sources = os.path.join(cp, "sources", "0")
    read = {
        name: [os.path.basename(json.loads(line)["path"])
               for line in open(os.path.join(sources, name)).read().splitlines()[1:]]
        for name in os.listdir(sources) if name.isdigit()
    }
    assert read == {"0": ["b0.parquet"], "1": ["b1.parquet"]}
    assert delta_compat.read_delta(
        spark, os.path.join(tables, "raw")).count() == 40


def test_sessions_rename_checkpoints_through_the_filesystem(spark, tmp_path):
    """``get_spark`` sessions write streaming checkpoints through Spark's
    FileSystem-based manager: the one the engine creates for a
    checkpoint path under the session's Hadoop conf."""
    from acero_delta_lake_streaming_spark import session

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == session.CHECKPOINT_FILE_MANAGER
    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == session.CHECKPOINT_FILE_MANAGER


def test_file_context_checkpoint_resumes(spark, sf_dir, tmp_path):
    """A drop-dir checkpoint written under Spark's default FileContext
    manager resumes under the FileSystem one: the next run commits only
    the new file's epoch, with no row replayed or lost, and the first
    epoch's commits stay as they were."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    drop, tables, cp = (str(tmp_path / d) for d in ("drop", "tables", "cp"))
    os.makedirs(drop)
    docs = _docs(spark, sf_dir)
    write_single_parquet(docs.filter(F.col("doc_id") % 2 == 0),
                         os.path.join(drop, "b0.parquet"))
    default = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "checkpointing.FileContextBasedCheckpointFileManager")
    try:
        run_ingest(spark, drop, tables, cp, with_actors=False)
    finally:
        spark.conf.set(key, default)
    first = {t: delta_compat._list_commit_versions(os.path.join(tables, t))
             for t in ("raw", "curated", "quarantine")}
    write_single_parquet(docs.filter(F.col("doc_id") % 4 != 0),
                         os.path.join(drop, "b1.parquet"))
    run_ingest(spark, drop, tables, cp, with_actors=False)

    assert sorted(n for n in os.listdir(os.path.join(cp, "commits"))
                  if not n.startswith(".")) == ["0", "1"]
    raw = delta_compat.read_delta(spark, os.path.join(tables, "raw"))
    assert sorted(r.doc_id for r in raw.select("doc_id").collect()) == \
        sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert delta_compat._list_commit_versions(os.path.join(tables, "raw")) \
        == first["raw"] + [1]
    assert delta_compat.last_txn_version(
        os.path.join(tables, "raw"), "medallion-ingest-raw") == 1


def test_drop_dir_stream_reads_only_top_level_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A drop-dir stream reads the ``*.parquet`` files at the top of the
    directory only: not those in a visible subdirectory, nor the part
    file a ``write_single_parquet`` crash leaves in its staging
    directory, which it names hidden. ``run_ingest`` (deduplicated) and
    ``run_windowed_stream`` (no dedup) both see each dropped row once."""
    from acero_delta_lake_streaming_spark.streaming import queries

    def crash(src, dst):
        raise OSError("crash between the write and the rename")

    def drop_into(drop, df):
        os.makedirs(os.path.join(drop, "sub"))
        write_single_parquet(df.limit(2), os.path.join(drop, "b0.parquet"))
        write_single_parquet(df, os.path.join(drop, "sub", "b1.parquet"))
        with monkeypatch.context() as m:
            m.setattr(queries.os, "replace", crash)
            with pytest.raises(OSError, match="crash"):
                write_single_parquet(df, os.path.join(drop, "b2.parquet"))
        assert sorted(os.listdir(drop)) == [
            ".b2.parquet.staging", "b0.parquet", "sub"
        ]

    docs, tables = str(tmp_path / "docs"), str(tmp_path / "tables")
    drop_into(docs, _docs(spark, sf_dir).orderBy("doc_id").limit(5))
    run_ingest(spark, docs, tables, str(tmp_path / "cp0"), with_actors=False)
    assert delta_compat.read_delta(
        spark, os.path.join(tables, "raw")).count() == 2

    events, out = str(tmp_path / "events"), str(tmp_path / "windows")
    day = _ts_ns(2024, 1, 5)
    drop_into(events, spark.createDataFrame(
        [(i, day + i, 7, "click", 1.0) for i in range(5)], EVENT_BATCH_SCHEMA
    ).orderBy("event_id"))
    ingest.run_windowed_stream(spark, events, out, str(tmp_path / "cp1"))
    assert [r.n for r in delta_compat.read_delta(spark, out).collect()] == [2]


def test_medallion_sinks_write_right_sized_files(spark, sf_dir, tmp_path):
    """A small epoch spread over many partitions (one sliver per dedup
    state partition) adds one file per sink commit; with
    ``spark.sql.files.maxPartitionBytes`` below the epoch's size the
    epoch takes the executor route and each sink splits into several
    files holding the same rows."""
    batch = _docs(spark, sf_dir).limit(60).repartition(8)
    one = str(tmp_path / "one")
    medallion_writer(one, app_id="m5")(batch, 0)
    for t in MEDALLION:
        assert len(_data_files(os.path.join(one, t))) == 1, t

    cap = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(cap)
    spark.conf.set(cap, "1024")
    try:
        many = str(tmp_path / "many")
        medallion_writer(many, app_id="m5")(batch, 0)
    finally:
        spark.conf.set(cap, old)
    for t in ("raw", "curated", "actors"):
        assert len(_data_files(os.path.join(many, t))) >= 2, t
    assert _table_rows(spark, many) == _table_rows(spark, one)


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps keyed state across micro-batches: a
    user seen in two batches emits cumulative totals the second time."""
    from acero_delta_lake_streaming_spark.streaming.stateful import (
        running_user_totals,
    )

    drop = str(tmp_path / "drop")
    cp = str(tmp_path / "cp")
    os.makedirs(drop)
    b0 = spark.createDataFrame(
        [(1, 10**18, 7, "click", 1.5), (2, 10**18, 8, "view", 2.0)],
        EVENT_BATCH_SCHEMA,
    )
    b1 = spark.createDataFrame(
        [(3, 10**18, 7, "click", 4.0)], EVENT_BATCH_SCHEMA
    )
    f0, f1 = os.path.join(drop, "b0.parquet"), os.path.join(drop, "b1.parquet")
    write_single_parquet(b0, f0)
    write_single_parquet(b1, f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    emitted = []

    def collect(batch_df, epoch_id):
        emitted.append((epoch_id, {r.user_id: (r.n_events, r.total) for r in batch_df.collect()}))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        running_user_totals(stream)
        .writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    nonempty = [(e, d) for e, d in emitted if d]
    assert nonempty[0][1] == {7: (1, 1.5), 8: (1, 2.0)}
    # second batch touches only user 7, whose totals are cumulative
    assert nonempty[1][1] == {7: (2, 5.5)}


def _ts_ns(*args) -> int:
    return int(
        dt.datetime(*args, tzinfo=dt.timezone.utc).timestamp() * 1_000_000_000
    )


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """ST5, append mode: once the watermark finalizes (evicts) a window,
    a late event for it is dropped — the window is emitted exactly once
    and never revised. (Empirically pinned Spark contract: late rows
    merge into *still-live* state; the hard drop applies to finalized
    windows, which is what append mode's emit-once guarantee rests on.)"""
    drop = str(tmp_path / "drop")
    cp = str(tmp_path / "cp")
    os.makedirs(drop)

    def ev(i, ts_ns):
        return (i, ts_ns, 1, "click", 1.0)

    batches = [
        # b0: opens the Jan-5 and Jan-10 windows
        [ev(1, _ts_ns(2024, 1, 5, 10)), ev(2, _ts_ns(2024, 1, 10, 12))],
        # b1: watermark (Jan-10 11:00) finalizes the Jan-5 window → emit n=1
        [ev(3, _ts_ns(2024, 1, 10, 13))],
        # b2: a late Jan-5 event — must be dropped, not re-emitted
        [ev(4, _ts_ns(2024, 1, 5, 9)), ev(5, _ts_ns(2024, 1, 10, 14))],
    ]
    for i, rows in enumerate(batches):
        f = os.path.join(drop, f"b{i}.parquet")
        write_single_parquet(
            spark.createDataFrame(rows, EVENT_BATCH_SCHEMA), f
        )
        os.utime(f, ((i + 1) * 1_000_000,) * 2)  # pin processing order

    emitted: list[tuple[int, list]] = []

    def collect(batch_df, epoch_id):
        emitted.append((epoch_id, batch_df.collect()))

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        windowed_event_counts(stream, watermark="1 hour")
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    jan5 = _ts_ns(2024, 1, 5) // 1_000_000
    all_rows = [(r.day_start_ms, r.n) for _, rows in emitted for r in rows]
    # Jan-5 emitted exactly once, with only the on-time event counted;
    # Jan-10 still open (watermark never passes its end) → not emitted.
    assert all_rows == [(jan5, 1)]
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1  # the late Jan-5 event


def test_polling_orchestrator_two_cycles_no_duplicates(spark, tmp_path):
    """S1 orchestrator: two poll cycles where cycle 2 re-serves every
    cycle-1 item (RSS feeds always re-serve recent items) plus new ones.
    The checkpointed guid dedup must commit each article exactly once,
    and the loop must sleep between cycles, not after the last."""
    from xml.sax.saxutils import escape

    from acero_delta_lake_streaming_spark.streaming.feeds import (
        run_polling_ingest,
    )

    def rss(items):
        body = "".join(
            "<item>"
            f"<title>{escape(t)}</title>"
            f"<description>{escape(d)}</description>"
            f"<link>http://x/{g}</link><guid>{g}</guid>"
            "<pubDate>Mon, 04 Mar 2024 10:00:00 GMT</pubDate>"
            "</item>"
            for g, t, d in items
        )
        return (
            '<rss version="2.0"><channel><title>t</title>'
            f"{body}</channel></rss>"
        )

    cycle1 = [("g1", "alpha one", "d1"), ("g2", "beta two", "d2")]
    cycle2 = cycle1 + [("g3", "gamma three", "d3")]
    batches = iter([cycle1, cycle2])
    sleeps: list[float] = []

    drop, tables, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "tables"),
        str(tmp_path / "cp"),
    )
    cycles = run_polling_ingest(
        spark,
        drop,
        tables,
        cp,
        fetcher=lambda: [("news", rss(next(batches)))],
        interval_s=7.0,
        max_cycles=2,
        sleep_fn=sleeps.append,
    )
    assert cycles == 2
    assert sleeps == [7.0]  # between the two cycles only

    raw = delta_compat.read_delta(spark, os.path.join(tables, "raw"))
    ids = sorted(r.id for r in raw.select("id").collect())
    assert ids == ["g1", "g2", "g3"]  # re-served g1/g2 not re-committed
    # two drop files landed and neither overwrote the other
    assert len([f for f in os.listdir(drop) if f.endswith(".parquet")]) == 2


def _rss(items: list[dict]) -> str:
    """One RSS 2.0 document; each item dict maps child tag → text, with
    ``thumbnail`` as the media:thumbnail url. A missing key omits the
    element."""
    from xml.sax.saxutils import escape, quoteattr

    def item(it):
        body = "".join(
            f"<{k}>{escape(v)}</{k}>" for k, v in it.items() if k != "thumbnail"
        )
        if "thumbnail" in it:
            body += f"<media:thumbnail url={quoteattr(it['thumbnail'])}/>"
        return f"<item>{body}</item>"

    return (
        '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">'
        f"<channel><title>t</title>{''.join(map(item, items))}</channel></rss>"
    )


def _read_drop(spark, path):
    """A drop read back the way the ingest reads it, with the timestamp
    as its UTC instant so no session or driver zone enters the compare."""
    from acero_delta_lake_streaming_spark.schemas import NEWS_SCHEMA

    df = spark.read.schema(NEWS_SCHEMA).parquet(path)
    return df.withColumn("published_time", F.unix_micros("published_time"))


def test_feed_drop_stores_utc_instant_under_non_utc_tz(spark, tmp_path):
    """An RFC-822 GMT pubDate lands as the same UTC instant whatever the
    driver's local zone: under TZ=America/New_York a zone-naive
    conversion would store it 5 h late."""
    import time

    from acero_delta_lake_streaming_spark.streaming.feeds import drop_feed_batch

    doc = _rss(
        [{"title": "t", "guid": "g1", "pubDate": "Mon, 04 Mar 2024 10:00:00 GMT"}]
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        n = drop_feed_batch(spark, [("news", doc)], str(tmp_path), "b0")
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert n == 1
    (row,) = spark.read.parquet(str(tmp_path / "b0.parquet")).select(
        F.unix_millis("published_time").alias("ms")
    ).collect()
    assert row.ms == 1709546400000  # 2024-03-04T10:00:00Z


def test_feed_drop_edges_agree(spark, tmp_path):
    """The driver edge (``drop_feed_batch``) and its distributed twin
    (``drop_feed_batch_files``) drop the same rows for the same feeds,
    NULLs for a missing thumbnail / description / pubDate included."""
    from acero_delta_lake_streaming_spark.streaming.feeds import (
        drop_feed_batch,
        drop_feed_batch_files,
    )

    documents = [
        (
            "business",
            _rss(
                [
                    {
                        "title": "full",
                        "description": "d1",
                        "link": "http://x/1",
                        "guid": "g1",
                        "pubDate": "Mon, 04 Mar 2024 10:00:00 GMT",
                        "thumbnail": "http://x/1.jpg",
                    },
                    {
                        "title": "no thumbnail",
                        "description": "d2",
                        "link": "http://x/2",
                        "guid": "g2",
                        "pubDate": "Tue, 05 Mar 2024 23:30:15 +0100",
                    },
                ]
            ),
        ),
        (
            "health",
            _rss(
                [
                    {"title": "no description", "guid": "g3",
                     "pubDate": "Wed, 06 Mar 2024 00:00:01 GMT"},
                    {"title": "no date", "link": "http://x/4"},
                ]
            ),
        ),
    ]
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    for rss_id, doc in documents:
        (xml_dir / f"{rss_id}.xml").write_text(doc)
    drop_a, drop_b = str(tmp_path / "a"), str(tmp_path / "b")
    assert drop_feed_batch(spark, documents, drop_a, "b0") == 4
    drop_feed_batch_files(spark, str(xml_dir), drop_b, "b0")

    a = _read_drop(spark, os.path.join(drop_a, "b0.parquet"))
    b = _read_drop(spark, os.path.join(drop_b, "b0.parquet"))
    rows_a = sorted(a.collect(), key=lambda r: r.id)
    assert rows_a == sorted(b.collect(), key=lambda r: r.id)
    by_id = {r.id: r for r in rows_a}
    assert by_id["g1"].published_time == 1709546400000000
    assert by_id["g1"].thumbnail_url == "http://x/1.jpg"
    assert by_id["g2"].thumbnail_url is None
    assert by_id["g3"].description is None
    assert by_id["http://x/4"].published_time is None  # guid falls back to link


def test_feed_drop_contract(spark, tmp_path):
    """Each drop adds exactly one ``<batch>.parquet`` and leaves no temp
    or staging entry behind; a poll with zero items still drops a
    readable zero-row file, and the next ingest commits nothing (ST3)."""
    import pyarrow.parquet as pq

    from acero_delta_lake_streaming_spark.streaming.feeds import drop_feed_batch
    from acero_delta_lake_streaming_spark.streaming.ingest import run_news_ingest

    drop, tables, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "tables"),
        str(tmp_path / "cp"),
    )
    items = [{"title": "alpha", "description": "d", "guid": "g1"}]
    assert drop_feed_batch(spark, [("news", _rss(items))], drop, "poll_0") == 1
    assert os.listdir(drop) == ["poll_0.parquet"]
    run_news_ingest(spark, drop, tables, cp)
    medallion = [
        os.path.join(tables, t)
        for t in ("raw", "curated", "quarantine", "actors")
        if delta_compat.is_delta_table(os.path.join(tables, t))
    ]
    assert os.path.join(tables, "raw") in medallion
    versions = [delta_compat._list_commit_versions(t)[-1] for t in medallion]

    assert drop_feed_batch(spark, [("news", _rss([]))], drop, "poll_1") == 0
    assert sorted(os.listdir(drop)) == ["poll_0.parquet", "poll_1.parquet"]
    empty = os.path.join(drop, "poll_1.parquet")
    assert pq.read_table(empty).num_rows == 0
    assert _read_drop(spark, empty).count() == 0
    run_news_ingest(spark, drop, tables, cp)
    assert [
        delta_compat._list_commit_versions(t)[-1] for t in medallion
    ] == versions
    assert delta_compat.read_delta(spark, os.path.join(tables, "raw")).count() == 1


def test_stream_stream_interval_join(spark, tmp_path):
    """ST7: purchases joined to same-user clicks in the preceding hour,
    across micro-batches — a click buffered in epoch 0 must match a
    purchase arriving in epoch 1, and out-of-range/cross-user clicks
    must not. The join carries watermarks on both sides so click state
    is evictable (the unbounded-state trap)."""
    from acero_delta_lake_streaming_spark.streaming.joins import (
        interval_click_join,
    )

    t0 = _ts_ns(2024, 1, 1)
    m = 60 * 1_000_000_000  # one minute in ns
    rows0 = [
        (1, t0 + 10 * m, 7, "click", 0.0),
        (2, t0 + 50 * m, 7, "click", 0.0),
        (3, t0 + 20 * m, 8, "click", 0.0),  # other user — never matches
    ]
    rows1 = [
        (4, t0 + 60 * m, 7, "purchase", 9.9),  # matches clicks 1, 2
        (5, t0 + 90 * m, 7, "click", 0.0),
        (6, t0 + 95 * m, 7, "purchase", 9.9),  # matches clicks 2, 5
    ]
    drop, cp = str(tmp_path / "drop"), str(tmp_path / "cp")
    os.makedirs(drop)
    f0, f1 = os.path.join(drop, "b0.parquet"), os.path.join(drop, "b1.parquet")
    write_single_parquet(spark.createDataFrame(rows0, EVENT_BATCH_SCHEMA), f0)
    write_single_parquet(spark.createDataFrame(rows1, EVENT_BATCH_SCHEMA), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    matched = []

    def collect(batch_df, epoch_id):
        matched.extend(
            (r.p_event_id, r.c_event_id) for r in batch_df.collect()
        )

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        interval_click_join(stream)
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sorted(matched) == [(4, 1), (4, 2), (6, 2), (6, 5)]

    # Batch equivalence: the same plan over the union of both batches.
    batch = spark.createDataFrame(rows0 + rows1, EVENT_BATCH_SCHEMA)
    batch_pairs = sorted(
        (r.p_event_id, r.c_event_id)
        for r in interval_click_join(batch).collect()
    )
    assert batch_pairs == sorted(matched)


def test_streaming_sessionization_merges_across_batches(spark, tmp_path):
    """ST8: session_window as a STREAMING aggregation — a session left
    open by epoch 0 must absorb an in-gap event from epoch 1 (state
    merge), and emit exactly once when the watermark closes it. This is
    the streaming form of x6_sessionize (same operator, same gap)."""
    drop, cp = str(tmp_path / "drop"), str(tmp_path / "cp")
    os.makedirs(drop)
    t0 = _ts_ns(2024, 1, 1)
    m = 60 * 1_000_000_000
    # user 7: events at 0 and 10min (epoch 0), then 20min (epoch 1,
    # within the 30min gap -> same session), then a far event at 10h
    # that pushes the watermark past the session's close.
    b0 = [(1, t0, 7, "click", 1.0), (2, t0 + 10 * m, 7, "view", 1.0)]
    b1 = [(3, t0 + 20 * m, 7, "click", 1.0), (4, t0 + 600 * m, 8, "view", 1.0)]
    f0, f1 = os.path.join(drop, "b0.parquet"), os.path.join(drop, "b1.parquet")
    write_single_parquet(spark.createDataFrame(b0, EVENT_BATCH_SCHEMA), f0)
    write_single_parquet(spark.createDataFrame(b1, EVENT_BATCH_SCHEMA), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    emitted = []

    def collect(batch_df, epoch_id):
        emitted.extend(
            (r.user_id, r.n) for r in batch_df.collect()
        )

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
        .withColumn("ts", F.expr("timestamp_micros(ts_ns DIV 1000)"))
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # exactly one emission for user 7's merged 3-event session; user 8's
    # session is still open (watermark never passes it) -> not emitted
    assert emitted == [(7, 3)]


def test_streaming_cdc_upsert(spark, tmp_path):
    """CDC MERGE sink: an epoch-1 update for a key seen in epoch 0 must
    REPLACE the stored row (not append), while new keys insert."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        cdc_upsert_writer,
    )

    drop, out, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    os.makedirs(drop)
    t0 = _ts_ns(2024, 1, 1)
    b0 = [(1, t0, 7, "click", 1.0), (2, t0, 8, "view", 2.0)]
    b1 = [(1, t0, 7, "click", 99.0), (3, t0, 9, "view", 3.0)]  # 1 updated
    f0, f1 = os.path.join(drop, "b0.parquet"), os.path.join(drop, "b1.parquet")
    write_single_parquet(spark.createDataFrame(b0, EVENT_BATCH_SCHEMA), f0)
    write_single_parquet(spark.createDataFrame(b1, EVENT_BATCH_SCHEMA), f1)
    os.utime(f0, (1_000_000,) * 2)
    os.utime(f1, (2_000_000,) * 2)

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(cdc_upsert_writer(out, ["event_id"]))
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r.event_id: r.value for r in delta_compat.read_delta(spark, out).collect()}
    assert got == {1: 99.0, 2: 2.0, 3: 3.0}


def test_cdc_upsert_epoch_replay_is_exactly_once(spark, tmp_path):
    """The MERGE sink carries the (app_id, epoch) key on its commit: a
    replayed epoch — on the creating append or on a later merge —
    publishes no new version and leaves the rows untouched, even when
    the replayed batch differs."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        cdc_upsert_writer,
    )

    out = str(tmp_path / "out")
    t0 = _ts_ns(2024, 1, 1)

    def batch(rows):
        return spark.createDataFrame(rows, EVENT_BATCH_SCHEMA)

    def state():
        return (
            delta_compat._list_commit_versions(out)[-1],
            {r.event_id: r.value
             for r in delta_compat.read_delta(spark, out).collect()},
        )

    write_batch = cdc_upsert_writer(out, ["event_id"], app_id="cdc-replay")
    write_batch(batch([(1, t0, 7, "click", 1.0)]), 0)
    after0 = state()
    write_batch(batch([(1, t0, 7, "click", 5.0)]), 0)  # replayed create
    assert state() == after0

    write_batch(
        batch([(1, t0, 7, "click", 99.0), (2, t0, 8, "view", 2.0)]), 1
    )
    after1 = state()
    assert after1[1] == {1: 99.0, 2: 2.0} and after1[0] == after0[0] + 1
    write_batch(batch([(1, t0, 7, "click", -1.0)]), 1)  # replayed merge
    assert state() == after1
    assert delta_compat.last_txn_version(out, "cdc-replay") == 1


def test_windowed_overwrite_epoch_replay_is_exactly_once(spark, tmp_path):
    """run_windowed_stream's overwrite sink carries the (app_id, epoch)
    key too: dropping the checkpoint's last batch commit makes Spark
    re-run that epoch (a crash after the sink, before the checkpoint
    commit), and the replayed overwrite publishes no new version."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        run_windowed_stream,
    )

    drop, out, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    os.makedirs(drop)
    t0 = _ts_ns(2024, 1, 1)
    day = 86400 * 1_000_000_000
    for i, rows in enumerate(
        [[(1, t0, 7, "click", 1.0)], [(2, t0 + day, 8, "click", 2.0)]]
    ):
        write_single_parquet(
            spark.createDataFrame(rows, EVENT_BATCH_SCHEMA),
            os.path.join(drop, f"b{i}.parquet"),
        )
        run_windowed_stream(spark, drop, out, cp)  # epoch i
    versions = delta_compat._list_commit_versions(out)
    assert versions == [0, 1]  # create by append, then one overwrite
    rows = sorted(delta_compat.read_delta(spark, out).collect())
    assert len(rows) == 2

    for name in ("1", ".1.crc"):  # the batch commit and its checksum
        os.remove(os.path.join(cp, "commits", name))
    run_windowed_stream(spark, drop, out, cp)  # Spark replays epoch 1
    assert os.path.exists(os.path.join(cp, "commits", "1"))
    assert delta_compat._list_commit_versions(out) == versions
    assert sorted(delta_compat.read_delta(spark, out).collect()) == rows
    assert delta_compat.last_txn_version(out, "windowed-events") == 1


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """The bounded-state dedup variant: dropDuplicatesWithinWatermark
    keeps a key only while it can still collide (event time within the
    watermark delay) — a duplicate inside the window is dropped, and
    per-batch state rows shrink once the watermark passes old keys
    (the unbounded dropDuplicates ledger is the 100 TB trap)."""
    drop, cp = str(tmp_path / "drop"), str(tmp_path / "cp")
    os.makedirs(drop)
    t0 = _ts_ns(2024, 1, 1)
    h = 3600 * 1_000_000_000
    b0 = [(1, t0, 7, "click", 1.0), (1, t0, 7, "click", 1.0)]  # in-batch dup
    b1 = [(1, t0 + h // 2, 7, "click", 1.0),  # dup of key 1 within window
          (2, t0 + 24 * h, 8, "view", 2.0)]   # far future: evicts key 1
    b2 = [(3, t0 + 25 * h, 9, "view", 3.0)]
    for i, rows in enumerate([b0, b1, b2]):
        f = os.path.join(drop, f"b{i}.parquet")
        write_single_parquet(spark.createDataFrame(rows, EVENT_BATCH_SCHEMA), f)
        os.utime(f, ((i + 1) * 1_000_000,) * 2)

    emitted = []

    def collect(batch_df, epoch_id):
        emitted.extend(r.event_id for r in batch_df.collect())

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
        .withColumn("ts", F.expr("timestamp_micros(ts_ns DIV 1000)"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sorted(emitted) == [1, 2, 3]  # duplicates of key 1 all dropped
    # state is bounded: the final batch holds fewer keys than total seen
    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    ]
    assert state_rows and state_rows[-1] <= 2


def test_streaming_ema_state_carries_across_epochs(spark, sf_dir):
    """st9: two chronological micro-batches; epoch 1's emission must
    CONTINUE epoch 0's fold (n_days grows, value changes), and the
    final state must equal the batch prefix-fold (w10's recurrence)
    computed independently in Python."""
    from acero_delta_lake_streaming_spark.storage.queries import (
        _SCRATCH_ROOT,
    )
    from acero_delta_lake_streaming_spark.streaming.queries import (
        st9_streaming_ema,
    )

    final = {r.event_type: r for r in st9_streaming_ema(spark, sf_dir).collect()}
    assert final

    # the emissions table is still on disk (scratch is wiped on the
    # NEXT call); epoch continuity is visible in its per-epoch rows
    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(_SCRATCH_ROOT, key, "st9", "out")
    emissions = delta_compat.read_delta(spark, out).collect()
    epochs = {r.epoch for r in emissions}
    assert epochs == {0, 1}, epochs
    for r in emissions:
        if r.epoch == 0 and r.event_type in final:
            f = final[r.event_type]
            assert f.n_days > r.n_days  # state grew across the epoch
            assert f.ema_micros != r.ema_micros

    # independent fold over the daily counts
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.expr("ts_ns DIV 86400000000000").alias("d")
        )
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, r["count"]))
    for etype, pairs in series.items():
        ema = None
        for _, n in sorted(pairs):
            x = n * 1_000_000
            ema = x if ema is None else (x + 4 * ema) // 5
        assert final[etype].ema_micros == ema
        assert final[etype].n_days == len(pairs)


def test_run_session_stream_incremental_emit_once(spark, tmp_path):
    """run_session_stream (st11's engine): append mode emits a session
    only after the watermark finalizes it — the first drain holds every
    in-horizon session in state, a sentinel drop flushes them exactly
    once into the Delta sink, and a third drain with no new files
    is a clean no-op (checkpoint + idempotent epoch commits)."""
    from acero_delta_lake_streaming_spark.streaming.ingest import (
        run_session_stream,
    )

    drop, out, cp = (
        str(tmp_path / "drop"),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    os.makedirs(drop)
    t0 = _ts_ns(2024, 1, 1)
    h = 3600 * 1_000_000_000
    rows = [
        (1, t0, 7, "click", 1.0),
        (2, t0 + h, 7, "view", 2.0),   # same session (gap 4h)
        (3, t0 + 9 * h, 7, "click", 3.0),  # new session
        (4, t0 + 9 * h, 8, "view", 4.0),
    ]
    write_single_parquet(
        spark.createDataFrame(rows, EVENT_BATCH_SCHEMA),
        os.path.join(drop, "b0.parquet"),
    )
    run_session_stream(spark, drop, out, cp)
    # the watermark after the drain is t0+8h (max event - 1h): user 7's
    # first session (ends t0+1h, +4h gap = t0+5h) is finalized and
    # emitted; both t0+9h sessions are still open in state
    assert {
        (r.user_id, r.n_events, r.sum_value)
        for r in delta_compat.read_delta(spark, out).collect()
    } == {(7, 2, 3.0)}
    sentinel = [(5, t0 + 1000 * h, -1, "sentinel", 0.0)]
    write_single_parquet(
        spark.createDataFrame(sentinel, EVENT_BATCH_SCHEMA),
        os.path.join(drop, "b1.parquet"),
    )
    run_session_stream(spark, drop, out, cp)
    got = {
        (r.user_id, r.n_events, r.sum_value)
        for r in delta_compat.read_delta(spark, out).filter("user_id >= 0").collect()
    }
    assert got == {(7, 2, 3.0), (7, 1, 3.0), (8, 1, 4.0)}  # noqa: E501 — first session from drain 1, open ones flushed by the sentinel
    # no new files -> no new rows (emit exactly once)
    run_session_stream(spark, drop, out, cp)
    assert delta_compat.read_delta(spark, out).filter("user_id >= 0").count() == 3


def test_stream_stream_full_outer_join(spark, tmp_path):
    """ST16: both sides emit null-augmented rows at watermark eviction —
    a purchase with no prior click AND a click that attributed nothing
    both surface exactly once; matched pairs emit like the inner join.
    A far-future sentinel pair flushes both watermarks so the tail's
    unmatched state drains; batch equivalence cross-checks the full
    semantics."""
    from acero_delta_lake_streaming_spark.streaming.joins import (
        interval_click_full_join,
    )

    t0 = _ts_ns(2024, 1, 1)
    m = 60 * 1_000_000_000
    rows0 = [
        (1, t0 + 10 * m, 7, "click", 0.0),   # matched by purchase 4
        (3, t0 + 20 * m, 8, "click", 0.0),   # no purchase for user 8
    ]
    rows1 = [
        (4, t0 + 60 * m, 7, "purchase", 9.9),
        (6, t0 + 95 * m, 9, "purchase", 9.9),  # no clicks for user 9
    ]
    sentinels = [
        (-1, t0 + 10_000 * m, -1, "purchase", 0.0),
        (-2, t0 + 10_000 * m, -1, "click", 0.0),
    ]
    drop, cp = str(tmp_path / "drop"), str(tmp_path / "cp")
    os.makedirs(drop)
    for i, rows in enumerate([rows0, rows1, sentinels]):
        f = os.path.join(drop, f"b{i}.parquet")
        write_single_parquet(spark.createDataFrame(rows, EVENT_BATCH_SCHEMA), f)
        os.utime(f, ((i + 1) * 1_000_000,) * 2)

    got = []

    def collect(batch_df, epoch_id):
        got.extend(
            (r.p_event_id, r.c_event_id)
            for r in batch_df.collect()
            if (r.p_event_id is None or r.p_event_id >= 0)
            and (r.c_event_id is None or r.c_event_id >= 0)
        )

    stream = (
        spark.readStream.schema(EVENT_BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(drop, "*.parquet"))
    )
    q = (
        interval_click_full_join(stream)
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    key = lambda t: (t[0] if t[0] is not None else -1,
                     t[1] if t[1] is not None else -1)
    assert sorted(got, key=key) == sorted(
        [(4, 1), (6, None), (None, 3)], key=key
    )

    batch = spark.createDataFrame(rows0 + rows1, EVENT_BATCH_SCHEMA)
    batch_pairs = [
        (r.p_event_id, r.c_event_id)
        for r in interval_click_full_join(batch).collect()
    ]
    assert sorted(batch_pairs, key=key) == sorted(got, key=key)


def test_st27_graph_state_maintained_exactly_once(spark, sf_dir):
    """st27's maintained graph state: every bucket-mate pair of the
    final corpus is stored EXACTLY once (no cross-epoch duplicates —
    the x30 probe never re-inserts old x old pairs), the read-side
    graph honors the out-degree cap, hub refreshes exist for every
    epoch (seed + one per batch) with the LAST refresh sized to the
    hub pool, and replaying a committed epoch is refused by the
    ledger."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _X3I_DEG,
        _X3I_HUBS,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped
    from acero_delta_lake_streaming_spark.storage.queries import _scratch
    from acero_delta_lake_streaming_spark.streaming.queries import (
        st27_streaming_graph_ann,
    )

    out = st27_streaming_graph_ann(spark, sf_dir)
    assert out.count() > 0
    release_scoped()

    base = os.path.join(
        os.path.dirname(_scratch(sf_dir, "st27_probe")), "st27"
    )
    edge_tbl = os.path.join(base, "edges")
    hub_tbl = os.path.join(base, "hubs")

    und = delta_compat.read_delta(spark, edge_tbl)
    n_edges = und.count()
    assert und.select("src", "dst").distinct().count() == n_edges
    assert und.filter("src >= dst").count() == 0  # normalized pairs

    wdeg = und.unionByName(
        und.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cos"
        )
    ).groupBy("src").count()
    # stored state holds ALL candidate edges; the read-side top-DEG
    # window caps the graph — at least one node must exceed the cap
    # for the cap to be doing work at this scale
    assert wdeg.filter(F.col("count") > _X3I_DEG).count() > 0

    hubs = delta_compat.read_delta(spark, hub_tbl)
    epochs = sorted(
        r.hub_epoch for r in hubs.select("hub_epoch").distinct().collect()
    )
    assert epochs == [0, 1, 2]  # seed refresh + one per micro-batch
    assert (
        hubs.filter(F.col("hub_epoch") == 2).count() == _X3I_HUBS
    )

    # a replayed epoch is refused by the ledger (exactly-once)
    assert delta_compat.last_txn_version(edge_tbl, "st27") >= 1
    v_before = delta_compat._list_commit_versions(edge_tbl)[-1]
    assert delta_compat.append_delta(
        und.limit(1), edge_tbl, txn=("st27", 1)
    ) == -1
    assert delta_compat._list_commit_versions(edge_tbl)[-1] == v_before
