"""Delta Lake *format* interop: read hand-authored ``_delta_log`` tables
laid out exactly as delta-spark/delta-rs write them (JSON actions,
URL-encoded relative paths, hive partition dirs, parquet checkpoints),
and verify our own appends produce a log the reader round-trips.

No delta-spark in the container, so the fixtures ARE the spec: each test
constructs the byte layout the real writer produces.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from acero_delta_lake_streaming_spark.storage import delta_compat as dc


def _write_parquet(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".tmp")
    part = next(
        n for n in os.listdir(path + ".tmp") if n.endswith(".parquet")
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.replace(os.path.join(path + ".tmp", part), path)
    for n in os.listdir(path + ".tmp"):
        os.remove(os.path.join(path + ".tmp", n))
    os.rmdir(path + ".tmp")


def _schema_string(spark, ddl):
    from pyspark.sql import types as T

    return T.StructType.fromDDL(ddl).json()


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _meta(spark, ddl, partition_cols=()):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(spark, ddl),
            "partitionColumns": list(partition_cols),
            "configuration": {},
        }
    }


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


@pytest.fixture()
def delta_table(spark, tmp_path):
    """v0: two files; v1: compaction (remove both, add merged + one new)."""
    table = str(tmp_path / "tbl")
    ddl = "id long, v string"
    _write_parquet(spark, [(1, "a"), (2, "b")], ddl, f"{table}/f1.parquet")
    _write_parquet(spark, [(3, "c")], ddl, f"{table}/f2.parquet")
    _write_parquet(
        spark, [(1, "a"), (2, "b"), (3, "c")], ddl, f"{table}/merged.parquet"
    )
    _write_parquet(spark, [(4, "d")], ddl, f"{table}/f3.parquet")
    _commit(
        table,
        0,
        [
            _PROTO,
            _meta(spark, ddl),
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    _commit(
        table,
        1,
        [
            {"remove": {"path": "f1.parquet", "dataChange": False}},
            {"remove": {"path": "f2.parquet", "dataChange": False}},
            {"add": {"path": "merged.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": False}},
            {"add": {"path": "f3.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"commitInfo": {"operation": "OPTIMIZE"}},
        ],
    )
    return table


def test_read_latest_snapshot(spark, delta_table):
    got = sorted(
        (r.id, r.v) for r in dc.read_delta(spark, delta_table).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_time_travel_to_v0(spark, delta_table):
    got = sorted(
        (r.id, r.v)
        for r in dc.read_delta(spark, delta_table, version=0).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_snapshot_reports_version_and_files(delta_table):
    snap = dc.snapshot(delta_table)
    assert snap["version"] == 1
    assert sorted(os.path.basename(f) for f in snap["files"]) == [
        "f3.parquet",
        "merged.parquet",
    ]


def test_partitioned_hive_layout(spark, tmp_path):
    table = str(tmp_path / "part_tbl")
    ddl_data = "id long"
    _write_parquet(spark, [(1,), (2,)], ddl_data, f"{table}/lang=en/a.parquet")
    _write_parquet(spark, [(3,)], ddl_data, f"{table}/lang=fr/b.parquet")
    _commit(
        table,
        0,
        [
            _PROTO,
            _meta(spark, "id long, lang string", ["lang"]),
            {"add": {"path": "lang=en/a.parquet",
                     "partitionValues": {"lang": "en"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "lang=fr/b.parquet",
                     "partitionValues": {"lang": "fr"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    df = dc.read_delta(spark, table)
    assert df.columns == ["id", "lang"]
    got = sorted((r.id, r.lang) for r in df.collect())
    assert got == [(1, "en"), (2, "en"), (3, "fr")]
    # partition pruning: a lang filter must prune to one file's rows
    assert df.filter("lang = 'fr'").count() == 1


def test_url_encoded_paths(spark, tmp_path):
    table = str(tmp_path / "enc_tbl")
    ddl = "id long"
    _write_parquet(spark, [(9,)], ddl, f"{table}/with space.parquet")
    _commit(
        table,
        0,
        [
            _PROTO,
            _meta(spark, ddl),
            {"add": {"path": "with%20space.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert [r.id for r in dc.read_delta(spark, table).collect()] == [9]


def test_protocol_v3_without_features_rejected(spark, tmp_path):
    """Reader version 2 is the legacy column-mapping protocol (now
    supported); version 3+ MUST enumerate readerFeatures, and a log
    that doesn't is refused rather than guessed at."""
    table = str(tmp_path / "v3_tbl")
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            _meta(spark, "id long"),
        ],
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.snapshot(table)


def test_unknown_reader_feature_rejected(spark, tmp_path):
    """deletionVectors, columnMapping, v2Checkpoint, typeWidening and
    (since round 9) variantType are supported; any OTHER advertised
    reader feature still refuses loudly rather than returning wrong
    rows."""
    table = str(tmp_path / "tw_tbl")
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["someFutureFeature"],
                          "writerFeatures": ["someFutureFeature"]}},
            _meta(spark, "id long"),
        ],
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.snapshot(table)


def test_type_widening_lifecycle(spark, tmp_path):
    """ALTER COLUMN TYPE widening: int files stay on disk, the log
    schema flips to long, scans upcast through it, later appends land
    wide, and time travel to the pre-widen version reads the old
    type. A foreign table recording an UNSUPPORTED change (→decimal)
    refuses at snapshot."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "widen_tbl")
    dc.append_delta(
        spark.range(5).coalesce(1).select(F.col("id").cast("int").alias("k")),
        table,
    )
    v_narrow = dc.snapshot(table)["version"]
    dc.widen_column_type(table, "k", "long")
    snap = dc.snapshot(table)
    assert "typeWidening" in snap["protocol"]["readerFeatures"]
    fld = json.loads(snap["schema"])["fields"][0]
    assert fld["type"] == "long"
    assert fld["metadata"]["delta.typeChanges"][0]["fromType"] == "integer"
    # the old int32 file reads back as longs through the log schema
    df = dc.read_delta(spark, table)
    assert dict(df.dtypes)["k"] == "bigint"
    assert {r["k"] for r in df.collect()} == set(range(5))
    # appends land under the widened schema
    dc.append_delta(
        spark.createDataFrame([(5_000_000_000,)], "k long"), table
    )
    assert {r["k"] for r in dc.read_delta(spark, table).collect()} == (
        set(range(5)) | {5_000_000_000}
    )
    # time travel to the pre-widen version keeps the narrow type
    old = dc.read_delta(spark, table, version=v_narrow)
    assert dict(old.dtypes)["k"] == "int"
    # COW rewrite through the widened schema stays correct
    dc.delete_delta(
        spark, table, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    assert {r["k"] for r in dc.read_delta(spark, table).collect()} == (
        {0, 2, 3, 4, 5_000_000_000}
    )
    # unsupported recorded change refuses loudly
    with pytest.raises(dc.DeltaProtocolError, match="not supported"):
        dc.widen_column_type(table, "k", "decimal(20,0)")
    bad = str(tmp_path / "widen_bad")
    meta = _meta(spark, "d decimal(10,2)")
    sch = json.loads(meta["metaData"]["schemaString"])
    sch["fields"][0]["metadata"] = {
        "delta.typeChanges": [
            {"fromType": "integer", "toType": "decimal(10,2)",
             "tableVersion": 0}
        ]
    }
    meta["metaData"]["schemaString"] = json.dumps(sch)
    _commit(
        bad, 0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["typeWidening"]}},
            meta,
        ],
    )
    with pytest.raises(dc.DeltaProtocolError, match="decimal"):
        dc.snapshot(bad)


def test_dv_unsupported_storage_type_refused(spark, tmp_path):
    """A descriptor whose storageType we do not implement must fail the
    READ loudly (snapshot itself is metadata and succeeds — exactly
    like delta-spark, which fails when materializing the DV)."""
    from acero_delta_lake_streaming_spark.storage.dvcodec import (
        DeletionVectorError,
    )

    table = str(tmp_path / "dvx_tbl")
    _write_parquet(
        spark, [(1,), (2,)], "id long", os.path.join(table, "a.parquet")
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            _meta(spark, "id long"),
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "deletionVector": {"storageType": "x",
                                        "pathOrInlineDv": "?", "offset": 1,
                                        "sizeInBytes": 1, "cardinality": 1}}},
        ],
    )
    snap = dc.snapshot(table)  # metadata replay is fine
    assert snap["file_dvs"]
    with pytest.raises(DeletionVectorError):
        dc.read_delta(spark, table).collect()


def test_log_gap_rejected(spark, tmp_path):
    table = str(tmp_path / "gap_tbl")
    _commit(table, 0, [_PROTO, _meta(spark, "id long")])
    _commit(table, 2, [{"commitInfo": {}}])
    with pytest.raises(dc.DeltaCorruptLogError):
        dc.snapshot(table)


def test_checkpoint_seeds_replay(spark, tmp_path):
    """Reader starts at the checkpoint and replays only later JSON —
    delete the pre-checkpoint commit files to prove it never reads
    them (exactly what a VACUUM'd + checkpointed real table looks
    like)."""
    table = str(tmp_path / "ckpt_tbl")
    ddl = "id long, v string"
    _write_parquet(spark, [(1, "a")], ddl, f"{table}/f1.parquet")
    _write_parquet(spark, [(2, "b")], ddl, f"{table}/f2.parquet")
    log = os.path.join(table, "_delta_log")
    _commit(table, 0, [_PROTO, _meta(spark, ddl),
                       {"add": {"path": "f1.parquet", "partitionValues": {},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}}])
    # checkpoint at v0 (net state: protocol, metaData, f1). Empty maps
    # (configuration, format.options) are dropped: pyarrow's dict
    # inference can't write zero-field structs, and the reader doesn't
    # touch them.
    meta = {
        k: v
        for k, v in _meta(spark, ddl)["metaData"].items()
        if k != "configuration"
    }
    meta["format"] = {"provider": "parquet"}
    ckpt_rows = [
        {"protocol": _PROTO["protocol"], "metaData": None, "add": None,
         "remove": None},
        {"protocol": None, "metaData": meta, "add": None, "remove": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "f1.parquet", "size": 1,
                 "modificationTime": 0, "dataChange": True},
         "remove": None},
    ]
    pq.write_table(
        pa.Table.from_pylist(ckpt_rows),
        os.path.join(log, f"{0:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": len(ckpt_rows)}, f)
    _commit(table, 1, [{"add": {"path": "f2.parquet", "partitionValues": {},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}}])
    os.remove(os.path.join(log, f"{0:020d}.json"))  # vacuumed away
    got = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert got == [(1, "a"), (2, "b")]


def test_concurrent_commit_is_rejected_not_overwritten(
    spark, tmp_path, monkeypatch
):
    """Two writers racing for the same version: the winner's commit is
    NEVER silently replaced (lost update), and since blind appends
    commute, the loser now rebases onto the next free version instead
    of erroring (the optimistic-concurrency retry). The race window is
    list-versions → publish; simulate it by making the loser's listing
    stale (the winner commits v1 after the loser listed), so both
    target v1."""
    table = str(tmp_path / "race")
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    dc.append_delta(df, table)
    winner = os.path.join(table, "_delta_log", f"{1:020d}.json")
    real_list = dc._list_commit_versions
    fired = {"done": False}

    def stale_then_winner_commits(t):
        versions = real_list(t)
        if not fired["done"]:  # loser's first listing: winner not yet in
            fired["done"] = True
            with open(winner, "w") as f:  # winner lands v1 just after
                f.write('{"commitInfo": {"operation": "WRITE"}}\n')
            return [v for v in versions if v == 0]
        return versions

    monkeypatch.setattr(dc, "_list_commit_versions", stale_then_winner_commits)
    v = dc.append_delta(df, table)
    monkeypatch.undo()
    assert v == 2  # rebased past the winner, not clobbering it
    assert (
        open(winner).read() == '{"commitInfo": {"operation": "WRITE"}}\n'
    ), "winner's commit was clobbered"
    assert dc.read_delta(spark, table).count() == 2


def test_txn_makes_epoch_replay_idempotent(spark, tmp_path):
    """The Delta streaming-sink handshake: a replayed (app, epoch)
    append is a no-op; a new epoch commits and advances the txn
    watermark; an unrelated app is unaffected."""
    table = str(tmp_path / "txn_tbl")
    df = spark.createDataFrame([(1,)], "id long")
    assert dc.append_delta(df, table, txn=("app", 0)) == 0
    assert dc.last_txn_version(table, "app") == 0
    # crash-replay of epoch 0: no second append, no new version
    assert dc.append_delta(df, table, txn=("app", 0)) == -1
    assert [r.id for r in dc.read_delta(spark, table).collect()] == [1]
    # next epoch commits
    assert dc.append_delta(df, table, txn=("app", 1)) == 1
    assert dc.last_txn_version(table, "app") == 1
    assert len(dc.read_delta(spark, table).collect()) == 2
    # a different app's watermark is independent
    assert dc.last_txn_version(table, "other") == -1
    assert dc.append_delta(df, table, txn=("other", 0)) == 2


def test_arrow_append_lands_as_written(spark, tmp_path):
    """A ``pyarrow.Table`` batch that lands as it is appends with no
    Spark job: one pyarrow file per commit, the txn handshake, and the
    log schema a DataFrame append of the same rows writes. A batch the
    table must check on the way in (a CHECK constraint here) goes
    through a DataFrame and is enforced, and a batch whose columns
    differ from the table's is refused as a DataFrame's would be."""
    table, df_table = str(tmp_path / "arrow"), str(tmp_path / "df")
    batch = pa.table({"id": pa.array([1, 2], pa.int64()), "s": ["a", None]})
    dc.append_delta(
        spark.createDataFrame(batch.to_pandas(), "id long, s string"), df_table
    )
    sc = spark.sparkContext
    sc.setJobGroup("arrow-append", "arrow append")
    try:
        assert dc.append_delta(batch, table, txn=("app", 0)) == 0
        assert dc.append_delta(batch, table, txn=("app", 0)) == -1
        assert dc.append_delta(batch, table, txn=("app", 1)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("arrow-append")) == []
    assert dc.snapshot(table)["schema"] == dc.snapshot(df_table)["schema"]
    assert len(dc.snapshot(table)["files"]) == 2
    assert sorted(map(tuple, dc.read_delta(spark, table).collect()),
                  key=str) == [(1, "a"), (1, "a"), (2, None), (2, None)]

    dc.add_constraint(spark, table, "pos", "id > 0")
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.append_delta(
            pa.table({"id": pa.array([-1], pa.int64()), "s": ["x"]}), table
        )
    assert dc.append_delta(
        pa.table({"id": pa.array([3], pa.int64()), "s": ["c"]}), table
    ) == 3
    with pytest.raises(dc.DeltaProtocolError, match="does not match"):
        dc.append_delta(pa.table({"id": pa.array([4], pa.int64())}), table)
    assert dc.read_delta(spark, table).count() == 5


def test_partitioned_append_round_trip(spark, tmp_path):
    """Partitioned writes produce the delta-spark layout (hive dirs,
    partitionValues in each add, partition cols excluded from data
    files) and read back with pruning; later appends must match the
    table's partitioning."""
    table = str(tmp_path / "part_ours")
    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "fr", "b"), (3, "en", "c")],
        "id long, lang string, v string",
    )
    assert dc.append_delta(df, table, partition_by=["lang"]) == 0
    more = spark.createDataFrame([(4, "de", "d")], "id long, lang string, v string")
    assert dc.append_delta(more, table, partition_by=["lang"]) == 1

    snap = dc.snapshot(table)
    assert snap["partition_cols"] == ["lang"]
    assert all("lang=" in f for f in snap["files"])
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json")) as f:
        adds = [
            json.loads(line)["add"]
            for line in f
            if line.strip() and "add" in json.loads(line)
        ]
    assert {a["partitionValues"]["lang"] for a in adds} == {"en", "fr"}

    got = sorted(
        (r.id, r.lang, r.v) for r in dc.read_delta(spark, table).collect()
    )
    assert got == [(1, "en", "a"), (2, "fr", "b"), (3, "en", "c"),
                   (4, "de", "d")]
    assert dc.read_delta(spark, table).filter("lang = 'de'").count() == 1

    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(more, table)  # partitioning must match


def test_streaming_sink_exactly_once_through_real_stream(spark, tmp_path):
    """Two availableNow micro-batch runs through a real file-drop
    readStream into the Delta-format sink: second run re-reads nothing
    (checkpoint) and a manually replayed epoch no-ops (txn), so the
    table holds each row exactly once."""
    drop = tmp_path / "drop"
    drop.mkdir()
    table = str(tmp_path / "delta_out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("id long, v string")
            .option("maxFilesPerTrigger", "1")
            .json(str(drop))
        )
        q = (
            stream.writeStream.foreachBatch(
                dc.streaming_sink(table, "stream-app")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (drop / "a.json").write_text('{"id": 1, "v": "a"}\n')
    run_once()
    (drop / "b.json").write_text('{"id": 2, "v": "b"}\n')
    run_once()
    got = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert got == [(1, "a"), (2, "b")]
    # crash-replay of the last epoch: same (app, epoch) appends nothing
    epoch = dc.last_txn_version(table, "stream-app")
    replay = spark.createDataFrame([(2, "b")], "id long, v string")
    assert dc.append_delta(replay, table, txn=("stream-app", epoch)) == -1
    assert len(dc.read_delta(spark, table).collect()) == 2


def test_append_round_trip_and_foreign_readability(spark, tmp_path):
    """Our writer's log must parse with the strictness we apply to
    foreign logs AND carry the exact action fields delta-rs requires
    (protocol, metaData.schemaString, URL-encoded relative add paths)."""
    table = str(tmp_path / "ours")
    df1 = spark.createDataFrame([(1, "x")], "id long, v string")
    df2 = spark.createDataFrame([(2, "y")], "id long, v string")
    assert dc.append_delta(df1, table) == 0
    assert dc.append_delta(df2, table) == 1
    got = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert got == [(1, "x"), (2, "y")]
    assert sorted(
        (r.id, r.v)
        for r in dc.read_delta(spark, table, version=0).collect()
    ) == [(1, "x")]
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    # commitInfo leads (the In-Commit Timestamps writer rule), then the
    # creating protocol and metaData
    assert kinds[:3] == ["commitInfo", "protocol", "metaData"]
    meta = actions[2]["metaData"]
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(not a["path"].startswith("/") for a in adds)
    assert all("partitionValues" in a and "size" in a for a in adds)


def test_schema_evolution_mid_log(spark, tmp_path):
    """A later commit's metaData action evolves the schema (Delta's
    mergeSchema write): the reader must apply the LATEST schema to all
    files (null-filling the new column for pre-evolution files) and
    keep the old schema under time travel."""
    table = str(tmp_path / "evo")
    old_ddl = "id long, v string"
    new_ddl = "id long, v string, score double"
    _write_parquet(spark, [(1, "a"), (2, "b")], old_ddl, f"{table}/f1.parquet")
    _write_parquet(spark, [(3, "c", 9.5)], new_ddl, f"{table}/f2.parquet")
    _commit(
        table, 0,
        [
            _PROTO,
            _meta(spark, old_ddl),
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    _commit(
        table, 1,
        [
            _meta(spark, new_ddl),
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    latest = dc.read_delta(spark, table)
    assert [f.name for f in latest.schema.fields] == ["id", "v", "score"]
    rows = {r.id: r.score for r in latest.collect()}
    assert rows == {1: None, 2: None, 3: 9.5}
    v0 = dc.read_delta(spark, table, version=0)
    assert [f.name for f in v0.schema.fields] == ["id", "v"]


def test_optimize_compacts_without_data_change(spark, tmp_path):
    """OPTIMIZE on a real-format table: three appends become one file
    in a single remove+add commit with dataChange=false everywhere;
    rows are identical, and time travel still resolves the
    pre-compaction snapshots (old files are referenced, not deleted)."""
    table = str(tmp_path / "opt")
    for i in range(3):
        dc.append_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"), table
        )
    before = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    n_files_before = len(dc.snapshot(table)["files"])
    v = dc.optimize_delta(spark, table, target_partitions=1)
    assert v == 3
    snap = dc.snapshot(table)
    assert len(snap["files"]) == 1
    after = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert after == before
    # pre-compaction time travel intact
    v1 = sorted((r.id, r.v) for r in dc.read_delta(spark, table, version=1).collect())
    assert v1 == [(0, "v0"), (1, "v1")]
    # every action in the OPTIMIZE commit is dataChange: false
    with open(os.path.join(table, "_delta_log", f"{3:020d}.json")) as f:
        actions = [json.loads(ln) for ln in f if ln.strip()]
    flags = [
        a[k]["dataChange"]
        for a in actions
        for k in ("add", "remove")
        if k in a
    ]
    assert flags and not any(flags)
    assert sum(1 for a in actions if "remove" in a) == n_files_before >= 3


def test_optimize_partitioned_per_directory(spark, tmp_path):
    """Partitioned OPTIMIZE compacts each hive partition directory to
    one file inside one atomic commit; rows, partition values, and the
    hive layout all survive, and every action is dataChange: false."""
    table = str(tmp_path / "popt")
    for i in range(3):
        dc.append_delta(
            spark.createDataFrame(
                [(i, "a"), (i + 100, "b")], "id long, part string"
            ),
            table,
            partition_by=["part"],
        )
    before = sorted(
        (r.id, r.part) for r in dc.read_delta(spark, table).collect()
    )
    assert len(dc.snapshot(table)["files"]) == 6  # 3 appends x 2 dirs
    v = dc.optimize_delta(spark, table, target_partitions=1)
    assert v == 3
    snap = dc.snapshot(table)
    assert len(snap["files"]) == 2  # one compacted file per partition dir
    for f in snap["files"]:
        assert "part=" in f, f  # hive layout preserved
    after = sorted(
        (r.id, r.part) for r in dc.read_delta(spark, table).collect()
    )
    assert after == before
    with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(ln) for ln in f if ln.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert sorted(a["partitionValues"]["part"] for a in adds) == ["a", "b"]
    flags = [
        a[k]["dataChange"]
        for a in actions
        for k in ("add", "remove")
        if k in a
    ]
    assert flags and not any(flags)
    # pre-compaction time travel intact
    v0 = sorted(
        (r.id, r.part)
        for r in dc.read_delta(spark, table, version=0).collect()
    )
    assert v0 == [(0, "a"), (100, "b")]
    # vacuum after partitioned OPTIMIZE: pre-compaction files age out of
    # their hive dirs, current snapshot reads unchanged
    deleted = dc.vacuum_delta(table, keep_versions=0)
    assert len(deleted) == 6 and all("part=" in p for p in deleted)
    assert sorted(
        (r.id, r.part) for r in dc.read_delta(spark, table).collect()
    ) == before


def test_merge_delta_copy_on_write(spark, tmp_path):
    """MERGE rewrites only files containing a matched key: matched rows
    are replaced, unmatched source rows insert, untouched files stay in
    place (their add entries survive the commit verbatim), and the
    remove+add actions are dataChange: true."""
    table = str(tmp_path / "merge")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "old1"), (2, "old2")], "id long, v string"
        ).coalesce(1),
        table,
    )
    dc.append_delta(
        spark.createDataFrame(
            [(3, "old3"), (4, "old4")], "id long, v string"
        ).coalesce(1),
        table,
    )
    files_before = {
        os.path.relpath(f, table) for f in dc.snapshot(table)["files"]
    }
    assert len(files_before) == 2
    source = spark.createDataFrame(
        [(2, "NEW2"), (99, "NEW99")], "id long, v string"
    )
    v = dc.merge_delta(spark, table, source, ["id"])
    assert v == 2
    rows = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert rows == [
        (1, "old1"), (2, "NEW2"), (3, "old3"), (4, "old4"), (99, "NEW99")
    ]
    # the file holding ids 3/4 contains no matched key -> not rewritten
    files_after = {
        os.path.relpath(f, table) for f in dc.snapshot(table)["files"]
    }
    untouched = files_before & files_after
    assert len(untouched) == 1
    with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(ln) for ln in f if ln.strip()]
    removes = [a["remove"] for a in actions if "remove" in a]
    assert len(removes) == 1  # only the touched file was removed
    flags = [
        a[k]["dataChange"]
        for a in actions
        for k in ("add", "remove")
        if k in a
    ]
    assert flags and all(flags)
    # pre-merge time travel still sees the old values
    v1 = sorted(
        (r.id, r.v) for r in dc.read_delta(spark, table, version=1).collect()
    )
    assert v1 == [(1, "old1"), (2, "old2"), (3, "old3"), (4, "old4")]
    # merging a mismatched schema is refused loudly
    with pytest.raises(dc.DeltaProtocolError):
        dc.merge_delta(
            spark,
            table,
            spark.createDataFrame([(1,)], "id long"),
            ["id"],
        )


def test_merge_delta_partitioned(spark, tmp_path):
    """MERGE into a hive-partitioned table: replaced rows, inserts, and
    a partition-key CHANGE (id 2 moves a→b) all land correctly; the
    untouched partition's file survives, removes carry partitionValues,
    and the hive layout is preserved."""
    table = str(tmp_path / "pmerge")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a", "v1"), (2, "a", "v2"), (3, "b", "v3")],
            "id long, part string, v string",
        ).coalesce(1),
        table,
        partition_by=["part"],
    )
    dc.append_delta(
        spark.createDataFrame(
            [(4, "c", "v4")], "id long, part string, v string"
        ).coalesce(1),
        table,
        partition_by=["part"],
    )
    files_before = {
        os.path.relpath(f, table) for f in dc.snapshot(table)["files"]
    }
    source = spark.createDataFrame(
        [(2, "b", "MOVED2"), (9, "a", "NEW9")],
        "id long, part string, v string",
    )
    v = dc.merge_delta(spark, table, source, ["id"])
    rows = sorted(
        (r.id, r.part, r.v) for r in dc.read_delta(spark, table).collect()
    )
    assert rows == [
        (1, "a", "v1"),
        (2, "b", "MOVED2"),
        (3, "b", "v3"),
        (4, "c", "v4"),
        (9, "a", "NEW9"),
    ]
    files_after = {
        os.path.relpath(f, table) for f in dc.snapshot(table)["files"]
    }
    # id 2 lived in part=a's file; part=b's and part=c's files had no
    # matched key and must survive untouched
    survivors = files_before & files_after
    assert {f.split(os.sep)[0] for f in survivors} == {"part=b", "part=c"}
    for f in files_after:
        assert f.split(os.sep)[0] in {"part=a", "part=b", "part=c"}, f
    with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(ln) for ln in f if ln.strip()]
    removes = [a["remove"] for a in actions if "remove" in a]
    assert len(removes) == 1
    assert removes[0]["partitionValues"] == {"part": "a"}


def test_vacuum_delta_retention(spark, tmp_path):
    """After OPTIMIZE, vacuum with keep_versions=0 deletes the files
    only pre-compaction snapshots referenced: the current read is
    unchanged, old-version time travel loses its data files, and the
    log itself is untouched."""
    table = str(tmp_path / "vac")
    for i in range(3):
        dc.append_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"), table
        )
    dc.optimize_delta(spark, table, target_partitions=1)
    before = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    deleted = dc.vacuum_delta(table, keep_versions=0)
    assert deleted, "pre-compaction files should age out"
    assert sorted(
        (r.id, r.v) for r in dc.read_delta(spark, table).collect()
    ) == before
    # old snapshot's files are gone: reading v0 must now fail
    with pytest.raises(Exception):
        dc.read_delta(spark, table, version=0).collect()
    # log intact: all 5 commits still present
    logs = sorted(os.listdir(os.path.join(table, "_delta_log")))
    assert [ln for ln in logs if ln.endswith(".json")] == [
        f"{v:020d}.json" for v in range(4)
    ]
    # keep_versions window protects referenced files
    deleted2 = dc.vacuum_delta(table, keep_versions=10)
    assert deleted2 == []


def test_merge_delta_cdc_capture_and_read(spark, tmp_path):
    """Real-format CDF: merge_delta(change_data=True) publishes `cdc`
    actions (dataChange:false, files under _change_data/) and
    read_delta_changes reconstructs preimage/postimage/insert; the seed
    append synthesizes inserts; table state is unaffected by the cdc
    files."""
    import json as _json

    table = str(tmp_path / "cdc")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ).coalesce(1),
        table,
    )
    source = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "id long, v string"
    )
    v = dc.merge_delta(spark, table, source, ["id"], change_data=True)
    assert v == 1

    # cdc actions in the commit: dataChange false, under _change_data/
    with open(dc._commit_path(table, 1)) as f:
        actions = [_json.loads(line) for line in f if line.strip()]
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    assert cdc and all(not c["dataChange"] for c in cdc)
    assert all(c["path"].startswith("_change_data/") for c in cdc)

    # table state ignores cdc files entirely
    now = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert now == {1: "a", 2: "B2", 3: "c", 9: "new"}

    got = {
        (r._change_type, r.id, r.v)
        for r in dc.read_delta_changes(spark, table, 1, 1).collect()
    }
    assert got == {
        ("update_preimage", 2, "b"),
        ("update_postimage", 2, "B2"),
        ("insert", 9, "new"),
    }
    # full range: the seed append arrives as synthesized inserts at v0
    full = dc.read_delta_changes(spark, table, 0).collect()
    v0 = {(r.id, r.v) for r in full if r._commit_version == 0}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_delta_cdc_refusals(spark, tmp_path):
    """Uncaptured data-changing merges refuse CDF reads loudly."""
    import pytest

    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        ChangeDataUnavailableError,
    )

    table = str(tmp_path / "cdc_refuse")
    dc.append_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table,
    )
    dc.merge_delta(
        spark,
        table,
        spark.createDataFrame([(2, "B2")], "id long, v string"),
        ["id"],
    )
    with pytest.raises(ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, 1, 1).collect()


def test_partitioned_cdc_capture_and_partition_move(spark, tmp_path):
    """Partitioned CDF capture in Delta's real layout: change files in
    hive dirs directly under _change_data/ with partitionValues in the
    cdc actions; the read recovers partition columns via basePath; a
    merge that MOVES a row across partitions emits its preimage in the
    old directory and postimage in the new one."""
    import json as _json

    table = str(tmp_path / "cdc_part_cap")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b")], "id long, par string, v string"
        ),
        table,
        partition_by=["par"],
    )
    # id=1 updates in place (par stays x); id=2 MOVES partition y -> z;
    # id=9 inserts into partition x
    source = spark.createDataFrame(
        [(1, "x", "A2"), (2, "z", "B2"), (9, "x", "new")],
        "id long, par string, v string",
    )
    v = dc.merge_delta(spark, table, source, ["id"], change_data=True)

    with open(dc._commit_path(table, v)) as f:
        actions = [_json.loads(line) for line in f if line.strip()]
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    assert cdc and all(not c["dataChange"] for c in cdc)
    # hive layout directly under _change_data/ (paths URL-quoted like
    # add paths), partitionValues recorded
    from urllib.parse import unquote

    assert all(
        unquote(c["path"]).startswith("_change_data/par=") for c in cdc
    )
    assert {c["partitionValues"]["par"] for c in cdc} >= {"x", "y", "z"}

    got = {
        (r._change_type, r.id, r.par, r.v)
        for r in dc.read_delta_changes(spark, table, v, v).collect()
    }
    assert got == {
        ("update_preimage", 1, "x", "a"),
        ("update_postimage", 1, "x", "A2"),
        ("update_preimage", 2, "y", "b"),
        ("update_postimage", 2, "z", "B2"),
        ("insert", 9, "x", "new"),
    }
    # table state agrees with the postimages
    now = {(r.id, r.par, r.v) for r in dc.read_delta(spark, table).collect()}
    assert now == {(1, "x", "A2"), (2, "z", "B2"), (9, "x", "new")}


def test_partitioned_delete_cdf(spark, tmp_path):
    """Partitioned row-level DELETE with capture: delete preimages land
    in their partition's _change_data dir and read back with partition
    columns intact."""
    table = str(tmp_path / "del_part")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b"), (3, "y", "c")],
            "id long, par string, v string",
        ),
        table,
        partition_by=["par"],
    )
    v = dc.delete_delta(
        spark,
        table,
        spark.createDataFrame([(2,)], "id long"),
        ["id"],
        change_data=True,
    )
    got = {
        (r._change_type, r.id, r.par, r.v)
        for r in dc.read_delta_changes(spark, table, v, v).collect()
    }
    assert got == {("delete", 2, "y", "b")}
    now = {(r.id, r.par) for r in dc.read_delta(spark, table).collect()}
    assert now == {(1, "x"), (3, "y")}


def test_checkpoint_written_and_seeds_snapshot(spark, tmp_path):
    """Every _CHECKPOINT_INTERVAL commits the writer publishes a parquet
    checkpoint + _last_checkpoint; snapshot() then replays checkpoint +
    JSON tail only (proven by hiding the pre-checkpoint JSON commits),
    while time travel behind the checkpoint still replays from 0."""
    table = str(tmp_path / "ckpt_write")
    for i in range(25):
        dc.append_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"), table
        )
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    assert os.path.exists(os.path.join(log, f"{20:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 20

    full = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert full == {i: f"v{i}" for i in range(25)}

    # Hide the pre-checkpoint JSON tail: the snapshot must still resolve
    # (checkpoint + commits 21..24), which proves O(tail) replay.
    hidden = []
    for v in range(20):
        p = os.path.join(log, f"{v:020d}.json")
        os.rename(p, p + ".hidden")
        hidden.append(p)
    try:
        assert {
            r.id for r in dc.read_delta(spark, table).collect()
        } == set(range(25))
        assert dc.snapshot(table)["version"] == 24
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)
    # time travel BEHIND the checkpoint replays JSON from version 0
    assert {
        r.id for r in dc.read_delta(spark, table, version=5).collect()
    } == set(range(6))


def test_checkpoint_preserves_partitioned_and_merge_state(spark, tmp_path):
    """Checkpoint state is net-of-log: a merge's removes drop out, hive
    partition columns still recover through basePath when reading a
    checkpoint-seeded snapshot."""
    table = str(tmp_path / "ckpt_part")
    for i in range(11):
        dc.append_delta(
            spark.createDataFrame(
                [(i, "even" if i % 2 == 0 else "odd", float(i))],
                "id long, par string, x double",
            ),
            table,
            partition_by=["par"],
        )
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    got = {
        (r.id, r.par, r.x) for r in dc.read_delta(spark, table).collect()
    }
    assert got == {
        (i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(11)
    }


def test_delete_delta_copy_on_write_and_cdf(spark, tmp_path):
    """Row-level DELETE: only files containing matched keys rewrite,
    time travel keeps the pre-delete rows, and change_data=True captures
    delete-typed preimages that read_delta_changes returns."""
    import json as _json

    table = str(tmp_path / "del")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        table,
    )
    dc.append_delta(
        spark.createDataFrame(
            [(3, "c"), (4, "d")], "id long, v string"
        ).coalesce(1),
        table,
    )
    files_before = set(dc.snapshot(table)["files"])
    v = dc.delete_delta(
        spark,
        table,
        spark.createDataFrame([(2,)], "id long"),
        ["id"],
        change_data=True,
    )
    assert v == 2
    now = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert now == {1: "a", 3: "c", 4: "d"}
    # the untouched file (ids 3,4) survives by reference
    files_after = set(dc.snapshot(table)["files"])
    assert len(files_before & files_after) == 1
    # time travel: pre-delete snapshot still has id=2
    old = {r.id for r in dc.read_delta(spark, table, version=1).collect()}
    assert old == {1, 2, 3, 4}
    # commit carries DELETE op + cdc actions
    with open(dc._commit_path(table, 2)) as f:
        actions = [_json.loads(line) for line in f if line.strip()]
    assert any(
        a.get("commitInfo", {}).get("operation") == "DELETE" for a in actions
    )
    got = {
        (r._change_type, r.id, r.v)
        for r in dc.read_delta_changes(spark, table, 2, 2).collect()
    }
    assert got == {("delete", 2, "b")}


def test_vacuum_preserves_retained_cdc(spark, tmp_path):
    """vacuum keeps cdc change files of commits inside the retention
    window (read_delta_changes still works) and ages out the CDF of
    vacuumed-away versions — Delta's CDF retention contract."""
    table = str(tmp_path / "vac_cdc")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        table,
    )
    dc.merge_delta(
        spark,
        table,
        spark.createDataFrame([(2, "B2")], "id long, v string"),
        ["id"],
        change_data=True,
    )  # v1
    dc.merge_delta(
        spark,
        table,
        spark.createDataFrame([(1, "A3")], "id long, v string"),
        ["id"],
        change_data=True,
    )  # v2
    # full retention: nothing deleted, both change sets readable
    assert dc.vacuum_delta(table, keep_versions=10) == []
    assert dc.read_delta_changes(spark, table, 1, 2).count() > 0
    # keep only the latest snapshot: v1's cdc ages out, v2's survives
    deleted = dc.vacuum_delta(table, keep_versions=0)
    assert any(p.startswith("_change_data/cdc-") for p in deleted)
    got = {
        (r._change_type, r.id, r.v)
        for r in dc.read_delta_changes(spark, table, 2, 2).collect()
    }
    assert got == {
        ("update_preimage", 1, "a"),
        ("update_postimage", 1, "A3"),
    }
    with pytest.raises(Exception):
        dc.read_delta_changes(spark, table, 1, 1).collect()


def test_partitioned_append_cdf_carries_partition_cols(spark, tmp_path):
    """Synthesized insert changes on a hive-partitioned table must
    include the partition columns (recovered via basePath), not silently
    drop them."""
    table = str(tmp_path / "cdf_part")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "x", "a"), (2, "y", "b")], "id long, par string, v string"
        ),
        table,
        partition_by=["par"],
    )
    rows = {
        (r.id, r.par, r.v, r._change_type)
        for r in dc.read_delta_changes(spark, table, 0, 0).collect()
    }
    assert rows == {(1, "x", "a", "insert"), (2, "y", "b", "insert")}


def _seed_then_delete(spark, table):
    """Two single-file appends then a row-level DELETE of id=2: the
    canonical restore fixture (v0 append, v1 append, v2 delete)."""
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        table,
    )
    dc.append_delta(
        spark.createDataFrame(
            [(3, "c"), (4, "d")], "id long, v string"
        ).coalesce(1),
        table,
    )
    return dc.delete_delta(
        spark, table, spark.createDataFrame([(2,)], "id long"), ["id"]
    )


def _data_files(table):
    out = set()
    for dirpath, dirs, names in os.walk(table):
        dirs[:] = [
            d
            for d in dirs
            if d != "_delta_log"
            and d != "_change_data"
            and not d.startswith("_staging_")
        ]
        out |= {
            os.path.join(dirpath, n)
            for n in names
            if n.endswith(".parquet")
        }
    return out


def test_restore_delta_is_metadata_only_and_keeps_history(spark, tmp_path):
    """RESTORE re-points the snapshot at an old file set without reading
    or writing any data file, and history is append-only: time travel to
    the pre-restore (deleted) state still works afterwards."""
    table = str(tmp_path / "restore")
    pre_v = _seed_then_delete(spark, table)  # v2: id=2 erased
    files_on_disk = _data_files(table)
    v1_files = set(dc.snapshot(table, 1)["files"])
    v = dc.restore_delta(spark, table, to_version=1)
    assert v == pre_v + 1
    # metadata-only: not one data file appeared on disk
    assert _data_files(table) == files_on_disk
    # latest snapshot's file set IS v1's
    assert set(dc.snapshot(table)["files"]) == v1_files
    now = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert now == {1: "a", 2: "b", 3: "c", 4: "d"}
    # the erasure timeline is still reachable (no log rewind)
    mid = {r.id for r in dc.read_delta(spark, table, version=pre_v).collect()}
    assert mid == {1, 3, 4}
    with open(dc._commit_path(table, v)) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    assert any(
        a.get("commitInfo", {}).get("operation") == "RESTORE"
        for a in actions
    )
    # uncaptured restore is a data-changing commit without change files
    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        ChangeDataUnavailableError,
    )

    with pytest.raises(ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, v, v)


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    """Files the restore target needs that VACUUM already deleted make
    the snapshot unrecoverable — refused loudly, no commit published."""
    table = str(tmp_path / "restore_vac")
    pre_v = _seed_then_delete(spark, table)
    deleted = dc.vacuum_delta(table, keep_versions=0)
    assert deleted  # v1's rewritten-away file is gone
    with pytest.raises(dc.DeltaProtocolError, match="VACUUM"):
        dc.restore_delta(spark, table, to_version=1)
    assert dc.snapshot(table)["version"] == pre_v  # nothing published


def test_restore_cdf_is_file_granular(spark, tmp_path):
    """change_data=True captures Delta's RESTORE CDF shape: rows of
    re-added files as inserts, rows of dropped rewrites as delete
    preimages (file-diff granularity, O(|changed files|))."""
    table = str(tmp_path / "restore_cdf")
    _seed_then_delete(spark, table)
    v = dc.restore_delta(spark, table, to_version=1, change_data=True)
    got = {
        (r._change_type, r.id, r.v)
        for r in dc.read_delta_changes(spark, table, v, v).collect()
    }
    # file1 (ids 1,2) comes back whole; its id=1 survivor rewrite drops
    assert got == {
        ("insert", 1, "a"),
        ("insert", 2, "b"),
        ("delete", 1, "a"),
    }


def test_add_actions_carry_stats_and_skip_prunes_scan(spark, tmp_path):
    """Every promoted add carries footer stats; read_delta(skip=...)
    prunes non-intersecting files from the scan's file list (checked via
    inputFiles, i.e. BEFORE Spark opens footers), and the skipped read
    plus row filter returns exactly the filtered rows."""
    table = str(tmp_path / "skip")
    dc.append_delta(
        spark.createDataFrame(
            [(i, "lo") for i in range(1, 101)], "id long, tag string"
        ).coalesce(1),
        table,
    )
    dc.append_delta(
        spark.createDataFrame(
            [(i, "hi") for i in range(1001, 1101)], "id long, tag string"
        ).coalesce(1),
        table,
    )
    with open(dc._commit_path(table, 0)) as f:
        adds = [
            json.loads(line)["add"]
            for line in f
            if line.strip() and "add" in json.loads(line)
        ]
    st = json.loads(adds[0]["stats"])
    assert st["numRecords"] == 100
    assert st["minValues"]["id"] == 1 and st["maxValues"]["id"] == 100
    assert st["minValues"]["tag"] == "lo"
    assert st["nullCount"]["id"] == 0
    full = dc.read_delta(spark, table)
    pruned = dc.read_delta(spark, table, skip=("id", 1050, 1060))
    assert len(full.inputFiles()) == 2
    assert len(pruned.inputFiles()) == 1
    got = sorted(
        r.id for r in pruned.filter("id BETWEEN 1050 AND 1060").collect()
    )
    assert got == list(range(1050, 1061))
    # string-column skip prunes the same way
    assert len(
        dc.read_delta(spark, table, skip=("tag", "hi", "hi")).inputFiles()
    ) == 1


def test_skip_keeps_files_without_stats(spark, tmp_path):
    """A hand-authored add action with no stats field (foreign writers
    may omit it) is conservatively kept by a skipping read — skipping
    never changes semantics, only cost."""
    table = str(tmp_path / "skip_nostats")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        table,
    )
    # strip the stats field from the published add, as a minimal
    # delta-rs writer would
    path0 = dc._commit_path(table, 0)
    with open(path0) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    for a in actions:
        a.get("add", {}).pop("stats", None)
    with open(path0, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    pruned = dc.read_delta(spark, table, skip=("id", 500, 600))
    assert len(pruned.inputFiles()) == 1  # kept despite no overlap proof
    assert pruned.filter("id BETWEEN 500 AND 600").count() == 0


def test_checkpoint_carries_stats_through(spark, tmp_path):
    """Stats survive the checkpoint round trip: after enough commits
    that snapshot() replays from the parquet checkpoint (JSON tail
    hidden), a skipping read still prunes."""
    table = str(tmp_path / "skip_ckpt")
    for i in range(11):  # versions 0..10 — checkpoint lands at 10
        dc.append_delta(
            spark.createDataFrame(
                [(i * 100 + j, f"b{i}") for j in range(5)],
                "id long, v string",
            ).coalesce(1),
            table,
        )
    assert os.path.exists(
        os.path.join(table, "_delta_log", f"{10:020d}.checkpoint.parquet")
    )
    # hide the pre-checkpoint JSON commits: replay MUST come from the
    # checkpoint (including its stats column)
    for v in range(10):
        os.rename(
            dc._commit_path(table, v), dc._commit_path(table, v) + ".hidden"
        )
    try:
        pruned = dc.read_delta(spark, table, skip=("id", 300, 303))
        assert len(pruned.inputFiles()) == 1
        assert {
            r.id for r in pruned.filter("id BETWEEN 300 AND 303").collect()
        } == {300, 301, 302, 303}
    finally:
        for v in range(10):
            os.rename(
                dc._commit_path(table, v) + ".hidden",
                dc._commit_path(table, v),
            )


def test_optimize_zorder_real_prunes_trailing_dim(spark, tmp_path):
    """Real-format OPTIMIZE ZORDER: the dataChange:false rewrite leaves
    row content identical, compacted adds keep footer stats (compaction
    must never strip them), and a skipping read prunes files on the
    TRAILING z-dimension — the multi-dim property lexicographic sort
    can't give."""
    table = str(tmp_path / "zorder")
    rows = [(i, i % 97, float((i * 31) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k long, val double")
    dc.append_delta(df.filter("id % 2 = 0").repartition(4), table)
    dc.append_delta(df.filter("id % 2 = 1").repartition(4), table)
    v = dc.optimize_delta(
        spark, table, target_partitions=8, zorder_by=["k", "val"]
    )
    assert v == 2
    # identical content (dataChange:false commit)
    assert dc.read_delta(spark, table).count() == 2000
    got = {
        (r.id, r.k, r.val) for r in dc.read_delta(spark, table).collect()
    }
    assert got == set(rows)
    # every compacted add kept stats
    snap = dc.snapshot(table)
    assert all(snap["file_stats"][f] for f in snap["files"])
    # trailing-dimension prune: a narrow val range hits < all files
    pruned = dc.read_delta(spark, table, skip=("val", 0.0, 100.0))
    assert 0 < len(pruned.inputFiles()) < len(snap["files"])
    assert pruned.filter("val <= 100.0").count() == sum(
        1 for _i, _k, v_ in rows if v_ <= 100.0
    )


def test_liquid_clustering_lifecycle(spark, tmp_path):
    """CLUSTER BY (round 12): enable_clustering mints clustering +
    domainMetadata features and records the column set in the
    delta.clustering domain; a plain OPTIMIZE (no zorder_by) picks the
    columns up from TABLE STATE and reclusters (dataChange:false,
    trailing-dim pruning works); the domain survives appends and
    checkpoints; re-running CLUSTER BY replaces the set; refusals:
    unknown column, >4 columns, partitioned table, and user writes to
    the delta.* domain stay refused."""
    import json as _json

    table = str(tmp_path / "clustered")
    rows = [(i, i % 97, float((i * 31) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k long, val double")
    dc.append_delta(df.filter("id % 2 = 0").repartition(4), table)
    dc.append_delta(df.filter("id % 2 = 1").repartition(4), table)
    v = dc.enable_clustering(table, ["k", "val"])
    assert v == 2
    snap = dc.snapshot(table)
    feats = set(snap["protocol"].get("writerFeatures") or [])
    assert {"clustering", "domainMetadata"} <= feats
    cfg = _json.loads(snap["domain_metadata"]["delta.clustering"])
    assert cfg == {"clusteringColumns": [["k"], ["val"]]}
    assert dc._clustering_columns(snap) == ["k", "val"]
    # plain OPTIMIZE reclusters from table state
    v = dc.optimize_delta(spark, table, target_partitions=8)
    assert v == 3
    got = {
        (r.id, r.k, r.val) for r in dc.read_delta(spark, table).collect()
    }
    assert got == set(rows)
    snap = dc.snapshot(table)
    assert all(snap["file_stats"][f] for f in snap["files"])
    pruned = dc.read_delta(spark, table, skip=("val", 0.0, 100.0))
    assert 0 < len(pruned.inputFiles()) < len(snap["files"])
    # commitInfo records clusterBy (not zOrderBy) for the state-driven
    # layout
    with open(dc._commit_path(table, 3)) as f:
        ci = [
            _json.loads(line)["commitInfo"]
            for line in f
            if '"commitInfo"' in line
        ][0]
    assert _json.loads(ci["operationParameters"]["clusterBy"]) == [
        "k", "val",
    ]
    assert _json.loads(ci["operationParameters"]["zOrderBy"]) == []
    # the domain survives an append and a checkpoint
    dc.append_delta(
        spark.createDataFrame(
            [(9999, 1, 1.0)], "id long, k long, val double"
        ),
        table,
    )
    dc.checkpoint_delta(table)
    snap = dc.snapshot(table)
    assert dc._clustering_columns(snap) == ["k", "val"]
    # re-running CLUSTER BY replaces the set
    dc.enable_clustering(table, ["val"])
    assert dc._clustering_columns(dc.snapshot(table)) == ["val"]
    # refusals
    with pytest.raises(dc.DeltaProtocolError, match="not columns"):
        dc.enable_clustering(table, ["nope"])
    with pytest.raises(dc.DeltaProtocolError, match="at most"):
        dc.enable_clustering(table, ["id", "k", "val", "id", "k"])
    with pytest.raises(dc.DeltaProtocolError, match="system-controlled"):
        dc.set_domain_metadata(table, "delta.clustering", {"x": "y"})
    part = str(tmp_path / "clustered_part")
    dc.append_delta(
        df.withColumn("p", df.k % 2), part, partition_by=["p"]
    )
    with pytest.raises(dc.DeltaProtocolError, match="mutually exclusive"):
        dc.enable_clustering(part, ["val"])


def test_cluster_by_at_creation(spark, tmp_path):
    """CREATE TABLE ... CLUSTER BY (round 13, s49b): the creating
    append mints writer 7 + clustering/domainMetadata features and the
    delta.clustering domain in COMMIT 0; a later plain append keeps the
    domain; the first state-driven OPTIMIZE reclusters and prunes;
    refusals: existing table, partitioned creation, >4 cols, unknown
    col, empty list."""
    import json as _json

    table = str(tmp_path / "born_clustered")
    rows = [(i, i % 97, float((i * 31) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k long, val double")
    v = dc.append_delta(
        df.filter("id % 2 = 0").repartition(4), table,
        cluster_by=["k", "val"],
    )
    assert v == 0
    snap = dc.snapshot(table)
    proto = snap["protocol"]
    assert proto["minWriterVersion"] == 7
    feats = set(proto.get("writerFeatures") or [])
    assert {"clustering", "domainMetadata", "appendOnly"} <= feats
    cfg = _json.loads(snap["domain_metadata"]["delta.clustering"])
    assert cfg == {"clusteringColumns": [["k"], ["val"]]}
    with open(dc._commit_path(table, 0)) as f:
        ci = [
            _json.loads(line)["commitInfo"]
            for line in f
            if '"commitInfo"' in line
        ][0]
    assert ci["operation"] == "CREATE TABLE AS SELECT"
    assert _json.loads(ci["operationParameters"]["clusterBy"]) == [
        "k", "val",
    ]
    # plain append keeps the birth state; first OPTIMIZE reclusters
    dc.append_delta(df.filter("id % 2 = 1").repartition(4), table)
    assert dc._clustering_columns(dc.snapshot(table)) == ["k", "val"]
    dc.optimize_delta(spark, table, target_partitions=8)
    got = {
        (r.id, r.k, r.val) for r in dc.read_delta(spark, table).collect()
    }
    assert got == set(rows)
    snap = dc.snapshot(table)
    pruned = dc.read_delta(spark, table, skip=("val", 0.0, 100.0))
    assert 0 < len(pruned.inputFiles()) < len(snap["files"])
    # refusals
    with pytest.raises(dc.DeltaProtocolError, match="CREATION"):
        dc.append_delta(df, table, cluster_by=["k"])
    with pytest.raises(dc.DeltaProtocolError, match="mutually exclusive"):
        dc.append_delta(
            df.withColumn("p", df.k % 2), str(tmp_path / "cb_part"),
            partition_by=["p"], cluster_by=["val"],
        )
    with pytest.raises(dc.DeltaProtocolError, match="at most"):
        dc.append_delta(
            df, str(tmp_path / "cb_many"),
            cluster_by=["id", "k", "val", "id", "k"],
        )
    with pytest.raises(dc.DeltaProtocolError, match="not columns"):
        dc.append_delta(df, str(tmp_path / "cb_unknown"),
                        cluster_by=["nope"])
    with pytest.raises(dc.DeltaProtocolError, match="empty"):
        dc.append_delta(df, str(tmp_path / "cb_empty"), cluster_by=[])


def test_mapped_clustering_uses_physical_names(spark, tmp_path):
    """Clustering × column mapping: the delta.clustering domain stores
    PHYSICAL column names (the partitionColumns rule), enable takes
    LOGICAL names after a rename, and the state-driven OPTIMIZE
    reclusters correctly through the mapping."""
    import json as _json

    import pyspark.sql.functions as F

    table = str(tmp_path / "clustered_mapped")
    rows = [(i, float((i * 31) % 1000)) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, val double")
    dc.append_delta(df.filter("id % 2 = 0").coalesce(2), table)
    dc.append_delta(df.filter("id % 2 = 1").coalesce(2), table)
    dc.enable_column_mapping(table, "name")
    dc.rename_column(table, "val", "score")
    dc.enable_clustering(table, ["score"])
    snap = dc.snapshot(table)
    cfg = _json.loads(snap["domain_metadata"]["delta.clustering"])
    assert cfg == {"clusteringColumns": [["val"]]}  # physical name
    assert dc._clustering_columns(snap) == ["score"]  # logical echo
    dc.optimize_delta(spark, table, target_partitions=6)
    out = dc.read_delta(spark, table)
    assert out.count() == 1000
    assert out.filter(F.col("score") < 100.0).count() == sum(
        1 for _i, v in rows if v < 100.0
    )
    snap = dc.snapshot(table)
    pruned = dc.read_delta(spark, table, skip=("score", 0.0, 100.0))
    assert 0 < len(pruned.inputFiles()) < len(snap["files"])


def test_multipart_checkpoint_replay(spark, tmp_path):
    """delta-spark splits large checkpoints into N parts
    (``{v}.checkpoint.{i}.{n}.parquet``); the reader must union the
    parts, and must refuse an incomplete set instead of silently
    dropping half the table's state."""
    table = str(tmp_path / "mp_ckpt")
    ddl = "id long, v string"
    _write_parquet(spark, [(1, "a")], ddl, f"{table}/f1.parquet")
    _write_parquet(spark, [(2, "b")], ddl, f"{table}/f2.parquet")
    log = os.path.join(table, "_delta_log")
    _commit(table, 0, [_PROTO, _meta(spark, ddl),
                       {"add": {"path": "f1.parquet", "partitionValues": {},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}}])
    _commit(table, 1, [{"add": {"path": "f2.parquet", "partitionValues": {},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}}])
    meta = {
        k: v
        for k, v in _meta(spark, ddl)["metaData"].items()
        if k != "configuration"
    }
    meta["format"] = {"provider": "parquet"}
    part1 = [
        {"protocol": _PROTO["protocol"], "metaData": None, "add": None},
        {"protocol": None, "metaData": meta, "add": None},
    ]
    part2 = [
        {"protocol": None, "metaData": None,
         "add": {"path": "f1.parquet", "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"protocol": None, "metaData": None,
         "add": {"path": "f2.parquet", "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    # parts may have differing inferred schemas; that's the foreign
    # writer's prerogative — the reader unions row dicts, not schemas
    pq.write_table(
        pa.Table.from_pylist(part1),
        os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(part2),
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": 4, "parts": 2}, f)
    # hide all JSON commits: replay MUST come from the two parts
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert got == [(1, "a"), (2, "b")]
    # an incomplete part set is a corrupt log, not a silent half-table:
    # with no other checkpoint and no JSON the read refuses loudly
    # (the incomplete set is SKIPPED, never half-read — round 6 made
    # the skip fall back to older checkpoints/JSON when those exist)
    os.remove(
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    )
    with pytest.raises(dc.DeltaCorruptLogError):
        dc.read_delta(spark, table)


# --------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE (delete_delta_dv + dvcodec)
# --------------------------------------------------------------------------


def _seed_dv_table(spark, tmp_path, name="dv_mor"):
    import pyspark.sql.functions as F

    table = str(tmp_path / name)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dc.append_delta(df.filter("k < 200"), table)
    dc.append_delta(df.filter("k >= 200"), table)
    return table


def _keys(spark, step, n=400):
    import pyspark.sql.functions as F

    return spark.range(0, n, step).select(F.col("id").alias("k"))


def test_dv_codec_roundtrip_property():
    """Roaring round trip across container shapes: sparse arrays, a
    >4096-entry bitmap container, multiple 16-bit chunks and a >32-bit
    high word — plus hypothesis-driven random sets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from acero_delta_lake_streaming_spark.storage import dvcodec

    fixed = [
        [],
        [0],
        [0, 1, 65535, 65536, (1 << 33) + 5],
        list(range(5000)),  # bitmap container
    ]
    for case in fixed:
        assert dvcodec.decode_dv_data(dvcodec.encode_dv_data(case)) == sorted(
            set(case)
        )

    @settings(max_examples=25, deadline=None)
    @given(st.sets(st.integers(min_value=0, max_value=1 << 20), max_size=300))
    def prop(s):
        vals = sorted(s)
        assert dvcodec.decode_dv_data(dvcodec.encode_dv_data(vals)) == vals

    prop()


def test_dv_delete_is_merge_on_read(spark, tmp_path):
    """The contract that names the feature: ZERO data files rewritten —
    the file list is byte-identical before and after — yet the read
    subtracts the deleted rows, and time travel to the pre-delete
    version still sees them."""
    table = _seed_dv_table(spark, tmp_path)
    files_before = sorted(dc.snapshot(table)["files"])
    mtimes = {f: os.path.getmtime(f) for f in files_before}
    v = dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    snap = dc.snapshot(table)
    assert sorted(snap["files"]) == files_before
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_before)
    assert snap["file_dvs"]
    assert dc.read_delta(spark, table).count() == 360
    assert (
        dc.read_delta(spark, table).filter("k % 10 = 0").count() == 0
    )
    assert dc.read_delta(spark, table, version=v - 1).count() == 400


def test_dv_second_delete_unions(spark, tmp_path):
    """A delete on files that already carry DVs replaces each descriptor
    with the union bitmap; already-deleted rows never re-match (the CDF
    of the second commit holds only the newly-erased rows)."""
    table = _seed_dv_table(spark, tmp_path)
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"], change_data=True)
    v2 = dc.delete_delta_dv(
        spark, table, _keys(spark, 8), ["k"], change_data=True
    )
    alive = {k for k in range(400) if k % 10 != 0 and k % 8 != 0}
    assert dc.read_delta(spark, table).count() == len(alive)
    ch = dc.read_delta_changes(spark, table, v2, v2)
    newly = {k for k in range(400) if k % 8 == 0 and k % 10 != 0}
    got = {r["k"] for r in ch.filter("_change_type = 'delete'").collect()}
    assert got == newly


def test_dv_cow_paths_are_dv_aware(spark, tmp_path):
    """MERGE and COW-DELETE on a table with live deletion vectors fold
    the DV anti-join into the rewrite read (round 7; previously
    refused): a DV-deleted row neither matches a merge key as an
    update nor survives the rewrite — and a merge whose key equals a
    DV-deleted row INSERTS it fresh instead of resurrecting the old
    values."""
    import pyspark.sql.functions as F

    table = _seed_dv_table(spark, tmp_path)
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    # k=0 is DV-deleted; merging keys 0..4 must re-insert it with the
    # SOURCE values, leave every other DV-deleted key invisible
    src = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(99).alias("v")
    )
    dc.merge_delta(spark, table, src, ["k"])
    r = dc.read_delta(spark, table)
    assert r.count() == 361  # 360 alive + re-inserted k=0
    assert r.filter("v = 99").count() == 5
    assert r.filter("k % 10 = 0 AND k > 0").count() == 0
    # COW delete through the remaining DVs: rewritten files must not
    # resurrect, untouched files keep their vectors
    dc.delete_delta(spark, table, _keys(spark, 8), ["k"])
    alive = {k for k in range(400) if k % 10 != 0 or k == 0}
    alive -= set(range(0, 400, 8))
    got = {x["k"] for x in dc.read_delta(spark, table).collect()}
    assert got == alive


def test_dv_uncaptured_changes_refused(spark, tmp_path):
    """A DV delete without change_data is a data-changing commit with no
    cdc actions: the CDF reader must refuse it, never synthesize."""
    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        ChangeDataUnavailableError,
    )

    table = _seed_dv_table(spark, tmp_path)
    v = dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    with pytest.raises(ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, v, v).collect()


def test_dv_optimize_applies_and_purges(spark, tmp_path):
    """OPTIMIZE doubles as REORG/PURGE: compaction reads through the
    vectors, so the compacted files physically lack the deleted rows
    and the new snapshot carries no descriptors."""
    table = _seed_dv_table(spark, tmp_path)
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    dc.optimize_delta(spark, table, target_partitions=1)
    snap = dc.snapshot(table)
    assert not snap["file_dvs"]
    assert dc.read_delta(spark, table).count() == 360
    # the compacted bytes themselves must not contain the rows
    import pyspark.sql.functions as F

    raw = spark.read.parquet(*snap["files"])
    assert raw.filter(F.col("k") % 10 == 0).count() == 0


def test_dv_vacuum_keeps_live_drops_aged(spark, tmp_path):
    """VACUUM must reference the DV files of retained snapshots (a
    deleted bitmap would resurrect rows) and age them out with their
    versions once OPTIMIZE has purged and retention has passed."""
    import glob

    table = _seed_dv_table(spark, tmp_path)
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    dc.vacuum_delta(table, keep_versions=0)
    assert glob.glob(os.path.join(table, "deletion_vector_*.bin"))
    assert dc.read_delta(spark, table).count() == 360
    dc.optimize_delta(spark, table, target_partitions=1)
    removed = dc.vacuum_delta(table, keep_versions=0)
    assert any(r.endswith(".bin") for r in removed)
    assert not glob.glob(os.path.join(table, "deletion_vector_*.bin"))
    assert dc.read_delta(spark, table).count() == 360


def test_dv_restore_across_delete(spark, tmp_path):
    """RESTORE to a pre-delete version must re-add the files WITHOUT
    their current descriptors (DV identity is part of the file-set
    diff), and history stays intact in both directions."""
    table = _seed_dv_table(spark, tmp_path)
    v_del = dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    dc.restore_delta(spark, table, v_del - 1)
    assert dc.read_delta(spark, table).count() == 400
    assert dc.read_delta(spark, table, version=v_del).count() == 360
    assert not {
        f
        for f in dc.snapshot(table)["file_dvs"]
        if f in set(dc.snapshot(table)["files"])
    }


def test_dv_checkpoint_carries_descriptors(spark, tmp_path):
    """A parquet checkpoint written after a DV delete must carry the
    descriptors: a checkpoint-seeded replay that lost them would
    silently resurrect every deleted row."""
    import glob

    import pyspark.sql.functions as F

    table = _seed_dv_table(spark, tmp_path)
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    extra = spark.range(1000, 1010).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    n = 360
    while dc.snapshot(table)["version"] % 10 != 0:
        dc.append_delta(extra, table)
        n += 10
    assert glob.glob(
        os.path.join(table, "_delta_log", "*.checkpoint.parquet")
    )
    # hide the pre-checkpoint JSON tail: replay MUST come from the
    # checkpoint now (same trick as the existing checkpoint test)
    ckpt_v = dc._checkpoint_version(table, None)
    for v in range(ckpt_v):
        os.rename(
            dc._commit_path(table, v), dc._commit_path(table, v) + ".hidden"
        )
    try:
        snap = dc.snapshot(table)
        assert snap["file_dvs"], "checkpoint dropped the deletion vectors"
        assert dc.read_delta(spark, table).count() == n
    finally:
        for v in range(ckpt_v):
            os.rename(
                dc._commit_path(table, v) + ".hidden", dc._commit_path(table, v)
            )


# --------------------------------------------------------------------------
# Column mapping (name mode) + TIMESTAMP AS OF
# --------------------------------------------------------------------------


def _mapped_meta(mode="name"):
    """metaData for a 2-column table whose logical names (k, v) map to
    UUID-ish physical parquet columns — the layout delta-spark writes
    with delta.columnMapping.mode=name."""
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa111"}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb222"}},
        ],
    }
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000001",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "2"},
        }
    }


_PROTO_CM = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}


def _seed_mapped_table(spark, tmp_path, mode="name"):
    table = str(tmp_path / "cm_name_tbl")
    _write_parquet(
        spark,
        [(1, "a"), (2, "b"), (3, "c")],
        "`col-aaa111` long, `col-bbb222` string",
        os.path.join(table, "part-0.parquet"),
    )
    _commit(
        table,
        0,
        [
            _PROTO_CM,
            _mapped_meta(mode),
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "stats": json.dumps({
                         "numRecords": 3,
                         "minValues": {"col-aaa111": 1},
                         "maxValues": {"col-aaa111": 3},
                         "nullCount": {"col-aaa111": 0}})}},
        ],
    )
    return table


def test_column_mapping_name_read(spark, tmp_path):
    """A name-mapped table reads back under LOGICAL column names with
    the physical parquet columns resolved through the field metadata;
    data skipping translates the logical skip column to the physical
    stats key."""
    table = _seed_mapped_table(spark, tmp_path)
    df = dc.read_delta(spark, table)
    assert df.columns == ["k", "v"]
    assert {(r["k"], r["v"]) for r in df.collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }
    # logical-name skipping: a range that excludes the file prunes it
    assert dc.read_delta(spark, table, skip=("k", 10, 20)).count() == 0
    assert dc.read_delta(spark, table, skip=("k", 2, 2)).count() == 3


def test_column_mapping_unknown_mode_refused(spark, tmp_path):
    """name and id modes are implemented (see the round-6 id-mode tests
    at the bottom of this file); anything else still refuses."""
    table = _seed_mapped_table(spark, tmp_path, mode="something-new")
    with pytest.raises(dc.DeltaProtocolError):
        dc.read_delta(spark, table)


def test_column_mapped_cow_merge_delete(spark, tmp_path):
    """Name-mapped tables take the full COW verb set since round 7:
    MERGE rewrites land under the table's PHYSICAL names (footer field
    ids included), so the mapped read keeps resolving and a foreign
    name-mode reader sees the same files. DV deletes still refuse
    (the mapped reader scopes out DVs)."""
    import pyspark.sql.functions as F

    table = _seed_mapped_table(spark, tmp_path)
    df = spark.range(2, 5).select(F.col("id").alias("k"),
                                  F.lit("x").alias("v"))
    dc.merge_delta(spark, table, df, ["k"])
    got = {(r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()}
    assert got == {(1, "a"), (2, "x"), (3, "x"), (4, "x")}
    # the rewritten files carry physical names: raw footers never show
    # a logical column
    import pyarrow.parquet as pq

    for f in dc.snapshot(table)["files"]:
        names = set(pq.read_schema(f).names)
        assert names == {"col-aaa111", "col-bbb222"}, names
    dc.delete_delta(spark, table, spark.createDataFrame([(1,), (3,)],
                                                        "k long"), ["k"])
    got = {(r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()}
    assert got == {(2, "x"), (4, "x")}
    # DV delete on the mapped table works since round 7 (see
    # test_mapped_dv_full_lifecycle for the composition suite)
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(4,)], "k long"), ["k"]
    )
    got = {(r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()}
    assert got == {(2, "x")}


def test_mapped_rename_merge_cdf_lifecycle(spark, tmp_path):
    """The everyday lakehouse sequence column mapping exists for:
    upgrade → RENAME COLUMN → MERGE with CDF capture → erase with CDF —
    all on the renamed table; the change feed surfaces LOGICAL names,
    time travel across the rename keeps each version's own schema, and
    an empty post-delete-all mapped snapshot reads as an empty frame
    (not a zero-path parquet scan error)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "mapped_lifecycle")
    dc.append_delta(
        spark.range(0, 20).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v")),
        table,
    )
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "val")
    src = spark.range(10, 25).select(F.col("id").alias("k"),
                                     F.lit(-1).alias("val"))
    mv = dc.merge_delta(spark, table, src, ["k"], change_data=True)
    ch = dc.read_delta_changes(spark, table, mv, mv)
    assert set(ch.columns) == {"k", "val", "_change_type",
                               "_commit_version"}
    assert ch.filter("_change_type = 'update_postimage'").count() == 10
    assert ch.filter("_change_type = 'insert'").count() == 5
    # time travel: v0 predates mapping and keeps the original name
    assert dc.read_delta(spark, table, version=0).columns == ["k", "v"]
    # erase everything; the mapped empty snapshot must read cleanly
    ev = dc.delete_delta(
        spark, table,
        spark.range(0, 25).select(F.col("id").alias("k")), ["k"],
        change_data=True,
    )
    assert dc.read_delta(spark, table).count() == 0
    assert dc.read_delta(spark, table).columns == ["k", "val"]
    deleted = dc.read_delta_changes(spark, table, ev, ev)
    assert deleted.filter("_change_type = 'delete'").count() == 25


def test_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the latest commit at or before the
    moment (commitInfo.timestamp authoritative), and a moment before
    the first commit refuses."""
    table = str(tmp_path / "ts_tbl")
    for v, (lo, hi, ts) in enumerate([(0, 3, 1000), (3, 6, 2000),
                                      (6, 9, 3000)]):
        _write_parquet(
            spark, [(i,) for i in range(lo, hi)], "id long",
            os.path.join(table, f"f{v}.parquet"),
        )
        actions = []
        if v == 0:
            actions = [_PROTO, _meta(spark, "id long")]
        actions += [
            {"add": {"path": f"f{v}.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": ts, "dataChange": True}},
            {"commitInfo": {"timestamp": ts, "operation": "WRITE"}},
        ]
        _commit(table, v, actions)
    assert dc.resolve_timestamp(table, 2500) == 1
    assert dc.read_delta(spark, table, timestamp_ms=2500).count() == 6
    assert dc.read_delta(spark, table, timestamp_ms=3000).count() == 9
    with pytest.raises(dc.DeltaProtocolError):
        dc.resolve_timestamp(table, 500)


# --------------------------------------------------------------------------
# Additive schema evolution on the real format (append_delta merge_schema)
# --------------------------------------------------------------------------


def test_schema_evolution_append(spark, tmp_path):
    """mergeSchema append: the new column lands as ONE metaData action —
    no data rewrite — and earlier files read NULL for it because the
    log schema drives the scan; time travel to v0 keeps the old
    schema."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "evo_tbl")
    base = spark.range(0, 10).select(F.col("id").alias("k"))
    dc.append_delta(base, table)
    files_v0 = sorted(dc.snapshot(table)["files"])
    wider = spark.range(10, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dc.append_delta(wider, table, merge_schema=True)
    assert sorted(dc.snapshot(table)["files"])[: len(files_v0)] == files_v0
    df = dc.read_delta(spark, table)
    assert df.columns == ["k", "v"]
    assert df.filter("k < 10 AND v IS NULL").count() == 10
    assert df.filter("k >= 10 AND v = k * 2").count() == 10
    old = dc.read_delta(spark, table, version=0)
    assert old.columns == ["k"]
    # table id stays stable across the evolution commit
    assert dc.snapshot(table)["meta_id"] == dc.snapshot(table, 0)["meta_id"]


def test_schema_drift_refused_without_flag(spark, tmp_path):
    import pyspark.sql.functions as F

    table = str(tmp_path / "evo_refuse")
    dc.append_delta(spark.range(5).select(F.col("id").alias("k")), table)
    wider = spark.range(5).select(F.col("id").alias("k"),
                                  F.lit(1).alias("v"))
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(wider, table)  # no merge_schema
    narrowed = spark.range(5).select(F.col("id").alias("other"))
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(narrowed, table, merge_schema=True)  # drops k


def test_schema_type_change_refused(spark, tmp_path):
    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        SchemaMismatchError,
    )
    import pyspark.sql.functions as F

    table = str(tmp_path / "evo_type")
    dc.append_delta(spark.range(5).select(F.col("id").alias("k")), table)
    retyped = spark.range(5).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(SchemaMismatchError):
        dc.append_delta(retyped, table, merge_schema=True)


# --------------------------------------------------------------------------
# Optimistic-concurrency append rebase
# --------------------------------------------------------------------------


def _race_append(spark, tmp_path, monkeypatch, winner_actions, name):
    """Simulate losing a commit race: append_delta computes its version
    against a STALE log listing (first two listings patched), while the
    'winner' commit already claimed that slot."""
    import pyspark.sql.functions as F

    table = str(tmp_path / name)
    dc.append_delta(spark.range(5).select(F.col("id").alias("k")), table)
    # the concurrent winner claims version 1
    _commit(table, 1, winner_actions)
    real = dc._list_commit_versions
    calls = {"n": 0}

    def stale(t):
        calls["n"] += 1
        if calls["n"] <= 2:
            return [0]  # what the loser saw before the winner landed
        return real(t)

    monkeypatch.setattr(dc, "_list_commit_versions", stale)
    return table, dc.append_delta(
        spark.range(5, 10).select(F.col("id").alias("k")), table
    )


def test_append_race_rebases_and_lands(spark, tmp_path, monkeypatch):
    """Blind appends commute: the loser re-publishes the SAME adds at
    the next free version — no orphaned files, both writers' rows
    visible, winner's commit untouched."""
    table, v = _race_append(
        spark,
        tmp_path,
        monkeypatch,
        [{"commitInfo": {"timestamp": 0, "operation": "WRITE"}}],
        "race_ok",
    )
    assert v == 2
    assert dc.read_delta(spark, table).count() == 10


def test_append_race_schema_change_refuses(spark, tmp_path, monkeypatch):
    """If the winner changed the table schema, the lost append is NOT
    retryable — replaying stale-schema adds would corrupt."""
    new_meta = _meta(spark, "k long, extra string")
    with pytest.raises(dc.ConcurrentDeltaCommitError):
        _race_append(
            spark, tmp_path, monkeypatch, [new_meta], "race_schema"
        )


# --------------------------------------------------------------------------
# Shallow clone
# --------------------------------------------------------------------------


def test_shallow_clone_isolation_and_vacuum_safety(spark, tmp_path):
    """Clone reads the source's files in place (zero copied bytes),
    appends diverge only the clone, and VACUUM on the clone never
    deletes source files (it walks only the clone root)."""
    import glob

    import pyspark.sql.functions as F

    src = str(tmp_path / "clone_src")
    dst = str(tmp_path / "clone_dst")
    dc.append_delta(spark.range(10).select(F.col("id").alias("k")), src)
    dc.clone_delta(src, dst)
    assert not glob.glob(os.path.join(dst, "*.parquet"))  # no data copied
    assert dc.read_delta(spark, dst).count() == 10
    dc.append_delta(
        spark.range(10, 15).select(F.col("id").alias("k")), dst
    )
    assert dc.read_delta(spark, dst).count() == 15
    assert dc.read_delta(spark, src).count() == 10  # source untouched
    src_files = set(glob.glob(os.path.join(src, "*.parquet")))
    dc.vacuum_delta(dst, keep_versions=0)
    assert set(glob.glob(os.path.join(src, "*.parquet"))) == src_files
    assert dc.read_delta(spark, dst).count() == 15


def test_shallow_clone_carries_row_tracking_and_clustering(spark, tmp_path):
    """A clone of a rowTracking table references the same files, so it
    keeps their row ids: each add carries the source's ``baseRowId`` /
    ``defaultRowCommitVersion``, the high-water mark comes along, and
    the clone's own appends assign ids past it. The clustering columns
    (the other live domain) come along with the ``clustering`` feature."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "rt_src")
    cl = str(tmp_path / "rt_cl")
    dc.append_delta(
        spark.range(5).coalesce(1).select(F.col("id").alias("k")), src
    )
    dc.enable_row_tracking(src, enabled=True)
    dc.enable_clustering(src, ["k"])
    dc.append_delta(
        spark.range(5, 8).coalesce(1).select(F.col("id").alias("k")), src
    )
    dc.clone_delta(src, cl)

    def ids(t):
        return sorted(
            (r["k"], r["_row_id"], r["_row_commit_version"])
            for r in dc.read_delta_row_ids(spark, t).collect()
        )

    src_ids = ids(src)
    assert ids(cl) == src_ids
    assert all(rid is not None for _, rid, _ in src_ids)
    hwm = dc.row_id_high_water_mark(dc.snapshot(src))
    assert dc.row_id_high_water_mark(dc.snapshot(cl)) == hwm == 7
    assert dc._clustering_columns(dc.snapshot(cl)) == ["k"]
    dc.append_delta(
        spark.range(8, 10).coalesce(1).select(F.col("id").alias("k")), cl
    )
    new_ids = [rid for k, rid, _ in ids(cl) if k >= 8]
    assert sorted(new_ids) == [hwm + 1, hwm + 2]


def test_shallow_clone_carries_deletion_vectors(spark, tmp_path):
    """Cloning a DV table: descriptors convert to absolute-path ("p")
    storage so the clone's log resolves the source's DV files; the
    cloned read subtracts the same rows."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "clone_dv_src")
    dst = str(tmp_path / "clone_dv_dst")
    dc.append_delta(spark.range(100).select(F.col("id").alias("k")), src)
    dc.delete_delta_dv(
        spark, src, spark.range(0, 100, 10).select(F.col("id").alias("k")),
        ["k"],
    )
    dc.clone_delta(src, dst)
    assert dc.read_delta(spark, dst).count() == 90
    descs = dc.snapshot(dst)["file_dvs"]
    assert descs and all(d["storageType"] == "p" for d in descs.values())


def test_clone_of_clone_chain(spark, tmp_path):
    """Clone-of-clone: a depth-2 chain whose grandchild mixes THREE
    roots (grandparent externals copied through verbatim, parent's
    local appends absolutized, its own appends local) reads in one
    root-grouped plan; carried-over DVs keep subtracting; rewrite
    verbs localize; the ancestors never change."""
    import pyspark.sql.functions as F

    a = str(tmp_path / "chain_a")
    b = str(tmp_path / "chain_b")
    c = str(tmp_path / "chain_c")
    dc.append_delta(
        spark.createDataFrame([(i, i % 2) for i in range(10)],
                              "k long, d int"),
        a, partition_by=["d"],
    )
    dc.clone_delta(a, b)
    dc.append_delta(spark.createDataFrame([(100, 0)], "k long, d int"),
                    b, partition_by=["d"])
    dc.delete_delta_dv(
        spark, b, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    dc.clone_delta(b, c)
    assert dc.read_delta(spark, c).count() == 10  # 10 + 1 - 1
    dc.append_delta(spark.createDataFrame([(200, 1)], "k long, d int"),
                    c, partition_by=["d"])
    per_d = {
        r["d"]: r["count"]
        for r in dc.read_delta(spark, c).groupBy("d").count().collect()
    }
    assert per_d == {0: 6, 1: 5}
    dc.merge_delta(
        spark, c, spark.createDataFrame([(0, 1)], "k long, d int"), ["k"]
    )
    dc.optimize_delta(spark, c)
    root = os.path.abspath(c)
    assert all(
        os.path.abspath(f).startswith(root + os.sep)
        for f in dc.snapshot(c)["files"]
    )
    assert dc.read_delta(spark, c).count() == 11
    assert dc.read_delta(spark, a).count() == 10
    assert dc.read_delta(spark, b).count() == 10


def test_clone_partitioned_lifecycle(spark, tmp_path):
    """Shallow clone of a HIVE-PARTITIONED table: the clone's v0 adds
    reference the source's absolute layout WITH partitionValues; reads
    group basePath by root so source-external files and the clone's
    own appends scan in one plan; DV delete, COW merge and OPTIMIZE
    all work across the mixed roots (compaction pulls every external
    group under the clone root); the source never changes."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "p_src")
    dst = str(tmp_path / "p_dst")
    dc.append_delta(
        spark.createDataFrame(
            [(i, f"u{i}", i % 3) for i in range(15)],
            "k long, name string, d int",
        ),
        src,
        partition_by=["d"],
    )
    dc.clone_delta(src, dst)
    snap0 = dc.snapshot(dst)
    assert snap0["partition_cols"] == ["d"]
    src_root = os.path.abspath(src)
    assert all(
        os.path.abspath(f).startswith(src_root + os.sep)
        for f in snap0["files"]
    )  # v0 references the SOURCE's absolute layout
    got = dc.read_delta(spark, dst)
    assert got.count() == 15
    assert got.filter("d = 1").count() == 5
    dc.append_delta(
        spark.createDataFrame([(100, "x", 1)], "k long, name string, d int"),
        dst, partition_by=["d"],
    )
    dc.delete_delta_dv(
        spark, dst, spark.createDataFrame([(3,), (100,)], "k long"), ["k"]
    )
    assert dc.read_delta(spark, dst).count() == 14
    dc.merge_delta(
        spark, dst,
        spark.createDataFrame(
            [(4, "ZZ", 1), (200, "new", 2)], "k long, name string, d int"
        ),
        ["k"],
    )
    dc.optimize_delta(spark, dst)
    snap = dc.snapshot(dst)
    root = os.path.abspath(dst)
    assert all(
        os.path.abspath(f).startswith(root + os.sep) for f in snap["files"]
    )  # compaction pulled every external group local
    per_d = {
        r["d"]: r["count"]
        for r in dc.read_delta(spark, dst).groupBy("d").count().collect()
    }
    assert per_d == {0: 4, 1: 5, 2: 6}
    assert dc.read_delta(spark, src).count() == 15  # source untouched
    # time travel to the clone's v0 still resolves the external refs
    assert dc.read_delta(spark, dst, version=0).count() == 15


def test_clone_mapped_partitioned_composes(spark, tmp_path):
    """The triple composition: a column-mapped, renamed, partitioned
    source clones and the clone appends under the logical names."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "mp_src")
    dst = str(tmp_path / "mp_dst")
    dc.append_delta(
        spark.createDataFrame(
            [(i, i % 2) for i in range(8)], "k long, d int"
        ),
        src,
        partition_by=["d"],
    )
    dc.enable_column_mapping(src)
    dc.rename_column(src, "d", "day")
    dc.clone_delta(src, dst)
    got = dc.read_delta(spark, dst)
    assert got.columns == ["k", "day"]
    assert got.count() == 8
    dc.append_delta(
        spark.createDataFrame([(50, 0)], "k long, day int"),
        dst, partition_by=["day"],
    )
    assert dc.read_delta(spark, dst).filter("day = 0").count() == 5
    assert dc.read_delta(spark, src).count() == 8


def test_clone_cow_rewrite_lifecycle(spark, tmp_path):
    """MERGE, DELETE and OPTIMIZE on a shallow clone: removes key the
    source's ABSOLUTE paths (netting out the clone's v0 adds), the
    rewritten files land under the CLONE root, the source table never
    changes, time travel to the clone's v0 still resolves the external
    references, and clone VACUUM never deletes a source file."""
    import glob as globmod

    import pyspark.sql.functions as F

    src = str(tmp_path / "cow_src")
    dst = str(tmp_path / "cow_dst")
    dc.append_delta(
        spark.range(10).coalesce(1).select(F.col("id").alias("k"),
                                           (F.col("id") % 3).alias("v")),
        src,
    )
    dc.clone_delta(src, dst)
    # MERGE: update evens, insert 20/21
    source = spark.createDataFrame(
        [(k, 99) for k in range(0, 10, 2)] + [(20, 7), (21, 7)],
        "k long, v long",
    )
    dc.merge_delta(spark, dst, source, ["k"])
    got = {(r["k"], r["v"]) for r in dc.read_delta(spark, dst).collect()}
    want = {(k, 99) for k in range(0, 10, 2)} | {
        (k, k % 3) for k in range(1, 10, 2)
    } | {(20, 7), (21, 7)}
    assert got == want
    # all live files are now LOCAL (the single source file was touched)
    snap = dc.snapshot(dst)
    root = os.path.abspath(dst) + os.sep
    assert all(os.path.abspath(f).startswith(root) for f in snap["files"])
    # the source never changed
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, src).collect()} == {
        (k, k % 3) for k in range(10)
    }
    # time travel to the clone's v0 still reads through the externals
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, dst, version=0).collect()} == {
        (k, k % 3) for k in range(10)
    }
    # DELETE + OPTIMIZE keep working on the now-localized clone
    dc.delete_delta(
        spark, dst, spark.createDataFrame([(20,), (21,)], "k long"), ["k"]
    )
    dc.optimize_delta(spark, dst)
    got2 = {(r["k"], r["v"]) for r in dc.read_delta(spark, dst).collect()}
    assert got2 == want - {(20, 7), (21, 7)}
    # clone vacuum never touches source bytes
    n_src_before = len(globmod.glob(os.path.join(src, "*.parquet")))
    dc.vacuum_delta(dst)
    assert len(globmod.glob(os.path.join(src, "*.parquet"))) == n_src_before
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, src).collect()} == {
        (k, k % 3) for k in range(10)
    }


def test_clone_dv_delete_gdpr_shape(spark, tmp_path):
    """DV-DELETE on a shallow clone — the GDPR-erase-the-experiment
    shape: the bitmap file lands under the CLONE root, the re-add keys
    the source's absolute path, zero bytes are written into the
    source, and a second delete unions into the carried state.
    OPTIMIZE afterwards purges the vectors and fully localizes."""
    import glob as globmod

    import pyspark.sql.functions as F

    src = str(tmp_path / "gdpr_src")
    dst = str(tmp_path / "gdpr_dst")
    dc.append_delta(
        spark.range(10).coalesce(1).select(F.col("id").alias("k")), src
    )
    src_files = set(globmod.glob(os.path.join(src, "*")))
    dc.clone_delta(src, dst)
    dc.delete_delta_dv(
        spark, dst, spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    assert {r["k"] for r in dc.read_delta(spark, dst).collect()} == (
        set(range(10)) - {2}
    )
    # source untouched, byte for byte the same file set
    assert set(globmod.glob(os.path.join(src, "*"))) == src_files
    assert dc.read_delta(spark, src).count() == 10
    # the DV bin lives in the CLONE; the data file stays external
    snap = dc.snapshot(dst)
    assert len(snap["file_dvs"]) == 1
    ext = list(snap["file_dvs"])[0]
    assert os.path.abspath(ext).startswith(os.path.abspath(src) + os.sep)
    # second delete unions
    dc.delete_delta_dv(
        spark, dst, spark.createDataFrame([(5,)], "k long"), ["k"]
    )
    assert {r["k"] for r in dc.read_delta(spark, dst).collect()} == (
        set(range(10)) - {2, 5}
    )
    # OPTIMIZE purges + localizes
    dc.optimize_delta(spark, dst)
    snap = dc.snapshot(dst)
    assert not snap["file_dvs"]
    root = os.path.abspath(dst) + os.sep
    assert all(os.path.abspath(f).startswith(root) for f in snap["files"])
    assert {r["k"] for r in dc.read_delta(spark, dst).collect()} == (
        set(range(10)) - {2, 5}
    )


def test_clustering_and_vacuum_protocol_check_features(spark, tmp_path):
    """delta-spark 3.x/4.x default features: a liquid-clustered table
    (``clustering`` + ``domainMetadata`` writer features, clustering
    state in the ``delta.clustering`` domain) stays readable AND
    appendable — the domain metadata survives appends and checkpoints;
    ``vacuumProtocolCheck`` tables vacuum fine here (the gate runs) but
    an UNKNOWN feature beside it makes vacuum refuse before deleting."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "liquid_tbl")
    _write_parquet(
        spark, [(1,), (2,)], "k long", os.path.join(table, "a.parquet")
    )
    dom = {"domainMetadata": {
        "domain": "delta.clustering",
        "configuration": json.dumps({"clusteringColumns": [["k"]]}),
        "removed": False}}
    _commit(
        table, 0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": [
                              "clustering", "domainMetadata",
                              "vacuumProtocolCheck"]}},
            _meta(spark, "k long"),
            dom,
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table).count() == 2
    dc.append_delta(
        spark.range(5, 8).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    snap = dc.snapshot(table)
    assert dc.read_delta(spark, table).count() == 5
    # clustering state preserved through the append
    assert "delta.clustering" in snap["domain_metadata"]
    # ... and through a checkpoint
    dc.checkpoint_delta(table)
    v = snap["version"]
    for hv in range(v + 1):
        os.rename(
            dc._commit_path(table, hv), dc._commit_path(table, hv) + ".hid"
        )
    try:
        assert "delta.clustering" in dc.snapshot(table)["domain_metadata"]
    finally:
        for hv in range(v + 1):
            os.rename(
                dc._commit_path(table, hv) + ".hid",
                dc._commit_path(table, hv),
            )
    # vacuum runs (protocol gate passes on this feature set)
    dc.vacuum_delta(table)
    assert dc.read_delta(spark, table).count() == 5
    # an unknown writer feature makes VACUUM refuse BEFORE deleting
    bad = str(tmp_path / "vpc_bad")
    _write_parquet(
        spark, [(1,)], "k long", os.path.join(bad, "a.parquet")
    )
    _commit(
        bad, 0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": [
                              "vacuumProtocolCheck", "icebergCompatV1"]}},
            _meta(spark, "k long"),
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.vacuum_delta(bad)


def test_mapped_partitioned_read(spark, tmp_path):
    """A column-mapped HIVE-PARTITIONED table (delta-spark keys the
    directory names, partitionColumns AND partitionValues by PHYSICAL
    names) reads back under logical names with the partition column
    typed by the log schema."""
    table = str(tmp_path / "cm_part_read")
    for pv, rows in (("x", [(1, "a"), (2, "b")]), ("y", [(3, "c")])):
        _write_parquet(
            spark, rows, "`col-aaa111` long, `col-bbb222` string",
            os.path.join(table, f"col-ppp333={pv}", f"part-{pv}.parquet"),
        )
    md = _mapped_meta("name")
    schema = json.loads(md["metaData"]["schemaString"])
    schema["fields"].append(
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-ppp333"}}
    )
    md["metaData"]["schemaString"] = json.dumps(schema)
    md["metaData"]["partitionColumns"] = ["col-ppp333"]  # PHYSICAL
    _commit(
        table, 0,
        [_PROTO_CM, md,
         {"add": {"path": "col-ppp333=x/part-x.parquet",
                  "partitionValues": {"col-ppp333": "x"}, "size": 1,
                  "modificationTime": 0, "dataChange": True,
                  "stats": json.dumps({
                      "numRecords": 2,
                      "minValues": {"col-aaa111": 1},
                      "maxValues": {"col-aaa111": 2},
                      "nullCount": {"col-aaa111": 0}})}},
         {"add": {"path": "col-ppp333=y/part-y.parquet",
                  "partitionValues": {"col-ppp333": "y"}, "size": 1,
                  "modificationTime": 0, "dataChange": True,
                  "stats": json.dumps({
                      "numRecords": 1,
                      "minValues": {"col-aaa111": 3},
                      "maxValues": {"col-aaa111": 3},
                      "nullCount": {"col-aaa111": 0}})}}],
    )
    df = dc.read_delta(spark, table)
    assert df.columns == ["k", "v", "region"]
    assert {(r["k"], r["v"], r["region"]) for r in df.collect()} == {
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")
    }
    # logical-name data skipping prunes through the physical stats keys
    assert dc.read_delta(spark, table, skip=("k", 3, 9)).count() == 1
    # id mode resolves data columns via footers... these files carry no
    # ids, so the metadata fallback applies — same rows either way
    md_id = json.loads(json.dumps(md))
    md_id["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
    with open(dc._commit_path(table, 1), "w") as fh:
        fh.write(json.dumps(md_id) + "\n")
    df2 = dc.read_delta(spark, table)
    assert {(r["k"], r["v"], r["region"]) for r in df2.collect()} == {
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")
    }


def test_mapped_dv_full_lifecycle(spark, tmp_path):
    """Column mapping and deletion vectors COMPOSE since round 7: a
    renamed table DV-deletes (bitmaps under the root, files untouched),
    reads subtract under the physical schema, MERGE rewrites through
    the live vectors, and OPTIMIZE purges them — the verb set a real
    lakehouse table accumulates in one lifetime."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "value")
    dc.append_delta(
        spark.range(5, 10).coalesce(1).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("value")
        ),
        table,
    )
    # DV delete on the mapped table
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(2,), (7,)], "k long"), ["k"]
    )
    got = {(r["k"], r["value"])
           for r in dc.read_delta(spark, table).collect()}
    assert {k for k, _ in got} == {0, 1, 3, 4, 5, 6, 8, 9}
    # MERGE through the live vectors: 2 re-enters as an INSERT
    src = spark.createDataFrame([(2, 999), (8, 888)], "k long, value long")
    dc.merge_delta(spark, table, src, ["k"])
    got = {(r["k"], r["value"])
           for r in dc.read_delta(spark, table).collect()}
    assert (2, 999) in got and (8, 888) in got
    assert {k for k, _ in got} == {0, 1, 2, 3, 4, 5, 6, 8, 9}
    # second DV delete + OPTIMIZE purge
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    dc.optimize_delta(spark, table)
    snap = dc.snapshot(table)
    assert not snap["file_dvs"]
    assert len(snap["files"]) == 1
    assert pq.read_schema(snap["files"][0]).names == ["k", "v"]
    got = {(r["k"], r["value"])
           for r in dc.read_delta(spark, table).collect()}
    assert {k for k, _ in got} == {1, 2, 3, 4, 5, 6, 8, 9}
    # enable mapping ON a DV-bearing table works too
    t2 = str(tmp_path / "dv_then_map")
    dc.append_delta(
        spark.range(6).coalesce(1).select(F.col("id").alias("k")), t2
    )
    dc.delete_delta_dv(
        spark, t2, spark.createDataFrame([(4,)], "k long"), ["k"]
    )
    dc.enable_column_mapping(t2)
    dc.rename_column(t2, "k", "key")
    df2 = dc.read_delta(spark, t2)
    assert df2.columns == ["key"]
    assert {r["key"] for r in df2.collect()} == {0, 1, 2, 3, 5}


def test_clone_restore_round_trip(spark, tmp_path):
    """RESTORE on a shallow clone: diverge the clone with a MERGE, then
    RESTORE to its version 0 — the re-adds key the source's absolute
    paths (the clone's original references coming back), the clone
    reads the seed again, and the source is untouched throughout."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "rst_src")
    dst = str(tmp_path / "rst_dst")
    dc.append_delta(
        spark.range(10).coalesce(1).select(F.col("id").alias("k")), src
    )
    dc.clone_delta(src, dst)
    dc.merge_delta(
        spark, dst, spark.createDataFrame([(3,), (42,)], "k long"), ["k"]
    )
    assert {r["k"] for r in dc.read_delta(spark, dst).collect()} == (
        set(range(10)) | {42}
    )
    dc.restore_delta(spark, dst, 0)
    assert {r["k"] for r in dc.read_delta(spark, dst).collect()} == set(
        range(10)
    )
    # the restored live set is the original external reference again
    snap = dc.snapshot(dst)
    assert all(
        os.path.abspath(f).startswith(os.path.abspath(src) + os.sep)
        for f in snap["files"]
    )
    assert dc.read_delta(spark, src).count() == 10


def test_clone_dv_source_cow_merge(spark, tmp_path):
    """A clone of a DV-bearing source MERGEs through the carried-over
    absolute-path vectors: DV-hidden rows neither match nor survive,
    and the rewrite lands local."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "cowdv_src")
    dst = str(tmp_path / "cowdv_dst")
    dc.append_delta(spark.range(10).select(F.col("id").alias("k")), src)
    dc.delete_delta_dv(
        spark, src, spark.createDataFrame([(3,), (4,)], "k long"), ["k"]
    )
    dc.clone_delta(src, dst)
    source = spark.createDataFrame([(4, ), (11,)], "k long")
    dc.merge_delta(spark, dst, source, ["k"])
    got = {r["k"] for r in dc.read_delta(spark, dst).collect()}
    # 3 stays deleted; 4 re-enters as an INSERT; 11 inserts
    assert got == {0, 1, 2, 4, 5, 6, 7, 8, 9, 11}


def test_corrupt_log_lines_never_return_wrong_data(spark, tmp_path):
    """Fuzz the log reader: malformed JSON lines, truncated actions, and
    unknown action types in a commit must either be ignored-by-spec
    (unknown action OBJECTS are forward-compatible) or raise loudly —
    NEVER silently change the file set. Malformed JSON raises; an
    unknown action key is protocol-legal and ignored."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "fuzz_tbl")
    dc.append_delta(spark.range(10).select(F.col("id").alias("k")), table)
    base = dc.read_delta(spark, table).count()

    # unknown action object: forward-compatible, state unchanged
    _commit(table, 1, [{"futureAction": {"x": 1}}, {"commitInfo": {}}])
    assert dc.read_delta(spark, table).count() == base

    # malformed JSON line: loud failure, never a partial replay
    with open(os.path.join(table, "_delta_log", f"{2:020d}.json"), "w") as f:
        f.write('{"add": {"path": "nope.parquet"\n')  # truncated JSON
    with pytest.raises(Exception) as exc_info:
        dc.snapshot(table)
    assert not isinstance(exc_info.value, AssertionError)
    os.remove(os.path.join(table, "_delta_log", f"{2:020d}.json"))

    # a remove for a file that was never added: tolerated no-op (Delta
    # replay semantics — removes of unknown paths are tombstones)
    _commit(table, 2, [{"remove": {"path": "ghost.parquet",
                                   "dataChange": True}},
                       {"commitInfo": {}}])
    assert dc.read_delta(spark, table).count() == base


def test_dv_delete_on_url_encoded_file_name(spark, tmp_path):
    """Finding from the round-5 review: _metadata.file_path is a
    percent-encoded URI (space -> %20, '+' literal), so DV matching on
    the raw absolute path silently resurrected deleted rows for any
    encodable file name. Pin the fix with a space+plus-named data
    file seeded through a hand-authored log."""
    from urllib.parse import quote

    import pyspark.sql.functions as F

    table = str(tmp_path / "dv_enc_tbl")
    _write_parquet(
        spark,
        [(i,) for i in range(20)],
        "k long",
        os.path.join(table, "part a+b.parquet"),
    )
    _commit(
        table,
        0,
        [
            _PROTO,
            _meta(spark, "k long"),
            {"add": {"path": quote("part a+b.parquet"),
                     "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table).count() == 20
    keys = spark.range(0, 20, 5).select(F.col("id").alias("k"))
    dc.delete_delta_dv(spark, table, keys, ["k"])
    got = {r["k"] for r in dc.read_delta(spark, table).collect()}
    assert got == {k for k in range(20) if k % 5 != 0}, got


def test_schema_evolution_preserves_configuration(spark, tmp_path):
    """A merge_schema append must carry the table's configuration (CDF
    flag, appendOnly, ...) through the new metaData action — wiping it
    would silently strip a foreign table's properties."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "evo_cfg")
    _write_parquet(
        spark, [(1,)], "k long", os.path.join(table, "f0.parquet")
    )
    md = _meta(spark, "k long")
    md["metaData"]["configuration"] = {
        "delta.enableChangeDataFeed": "true"
    }
    _commit(
        table,
        0,
        [
            _PROTO,
            md,
            {"add": {"path": "f0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    wider = spark.range(5).select(F.col("id").alias("k"),
                                  F.lit("x").alias("v"))
    dc.append_delta(wider, table, merge_schema=True)
    cfg = dc.snapshot(table)["configuration"]
    assert cfg.get("delta.enableChangeDataFeed") == "true", cfg


# --------------------------------------------------------------------------
# CHECK constraints (ALTER TABLE ADD CONSTRAINT + append enforcement)
# --------------------------------------------------------------------------


def test_check_constraints_enforced_on_append(spark, tmp_path):
    """ADD CONSTRAINT validates existing data once, records the
    predicate as a delta.constraints.* property (delta-spark's shape),
    and every later append re-validates: clean batches land, violating
    batches refuse loudly with the constraint name and row count, and
    NULL predicate results do not violate (Delta's NULL tolerance)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ck_tbl")
    dc.append_delta(
        spark.range(1, 10).select(F.col("id").alias("k")), table
    )
    v = dc.add_constraint(spark, table, "k_positive", "k > 0")
    assert dc.table_constraints(dc.snapshot(table)) == {
        "k_positive": "k > 0"
    }
    dc.append_delta(
        spark.range(10, 15).select(F.col("id").alias("k")), table
    )
    assert dc.read_delta(spark, table).count() == 14
    with pytest.raises(dc.DeltaConstraintViolation) as exc_info:
        dc.append_delta(
            spark.range(-3, 2).select(F.col("id").alias("k")), table
        )
    assert "k_positive" in str(exc_info.value)
    assert dc.read_delta(spark, table).count() == 14  # nothing landed
    # NULL-tolerant: a NULL k does not violate k > 0
    nulls = spark.createDataFrame([(None,)], "k long")
    dc.append_delta(nulls, table)
    assert dc.read_delta(spark, table).count() == 15
    # adding a constraint the EXISTING data violates refuses up front
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.add_constraint(spark, table, "k_small", "k < 12")
    # duplicate name refuses; time travel before the constraint works
    with pytest.raises(dc.DeltaProtocolError):
        dc.add_constraint(spark, table, "k_positive", "k > 1")
    assert dc.read_delta(spark, table, version=v - 1).count() == 9


# --------------------------------------------------------------------------
# Round 6: partitioned deletion vectors, writer protocol gate, multi-part
# checkpoints, id-mode column mapping, inline-DV clone
# --------------------------------------------------------------------------


def _seed_partitioned_dv_table(spark, tmp_path, name="dv_part"):
    import pyspark.sql.functions as F

    table = str(tmp_path / name)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), (F.col("id") % 4)).alias("p"),
        (F.col("id") % 7).alias("v"),
    )
    dc.append_delta(df.filter("k < 200"), table, partition_by=["p"])
    dc.append_delta(df.filter("k >= 200"), table, partition_by=["p"])
    return table


def test_dv_delete_partitioned_lifecycle(spark, tmp_path):
    """Merge-on-read DELETE on a hive-partitioned table: data files stay
    byte-identical, every DV add/remove carries its partitionValues, the
    DV-subtracting read still recovers partition columns, repeat deletes
    union, OPTIMIZE purges per partition, and RESTORE undoes it all."""
    table = _seed_partitioned_dv_table(spark, tmp_path)
    files_before = set(dc.snapshot(table)["files"])
    sizes_before = {f: os.path.getsize(f) for f in files_before}

    v = dc.delete_delta_dv(
        spark, table, _keys(spark, 10), ["k"], change_data=True
    )
    snap = dc.snapshot(table)
    assert set(snap["files"]) == files_before  # zero rewrites
    assert {f: os.path.getsize(f) for f in files_before} == sizes_before
    assert snap["file_dvs"]
    with open(dc._commit_path(table, v)) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    for a in actions:
        if "add" in a:
            assert set(a["add"]["partitionValues"]) == {"p"}
            assert a["add"]["deletionVector"]
        if "remove" in a:
            assert set(a["remove"]["partitionValues"]) == {"p"}

    df = dc.read_delta(spark, table)
    assert df.count() == 360
    assert df.filter("k % 10 = 0").count() == 0
    assert df.schema["p"].dataType.simpleString() == "string"
    # k%10==0 ∧ k%4==0 ⇔ k%20==0: 20 of p0's 100 rows died
    assert df.filter("p = 'p0'").count() == 80
    deleted = dc.read_delta_changes(spark, table, v, v).filter(
        "_change_type = 'delete'"
    )
    assert deleted.count() == 40
    assert deleted.filter("p = 'p0'").count() == 20

    # second delete unions into fresh descriptors
    v2 = dc.delete_delta_dv(spark, table, _keys(spark, 25), ["k"])
    assert dc.read_delta(spark, table).count() == 352

    # OPTIMIZE applies + purges the vectors partition by partition
    dc.optimize_delta(spark, table, 1)
    snap = dc.snapshot(table)
    assert not snap["file_dvs"]
    assert dc.read_delta(spark, table).count() == 352
    # p1 lost k ≡ 25 (mod 100): 25,125,225,325
    assert dc.read_delta(spark, table).filter("p = 'p1'").count() == 96

    # RESTORE to the pre-delete snapshot resurrects everything
    dc.restore_delta(spark, table, 1)
    assert dc.read_delta(spark, table).count() == 400
    # vacuum now ages out the compacted files + stale DV files; the
    # restored (original) files must survive
    dc.vacuum_delta(table, keep_versions=0)
    assert dc.read_delta(spark, table).count() == 400
    # time travel to the DV versions is gone post-vacuum (files may be
    # retained only if still referenced); the latest read is what counts
    assert set(dc.snapshot(table)["files"]) == files_before


def test_dv_delete_partitioned_oracle_equivalence(spark, tmp_path):
    """Partitioned-DV delete must produce the same surviving rows as a
    plain filter (the s17b contract, locally at test scale)."""
    import pyspark.sql.functions as F

    table = _seed_partitioned_dv_table(spark, tmp_path, "dv_part_eq")
    dc.delete_delta_dv(spark, table, _keys(spark, 10), ["k"])
    got = {
        (r["k"], r["p"], r["v"])
        for r in dc.read_delta(spark, table).collect()
    }
    want = {
        (i, f"p{i % 4}", i % 7) for i in range(400) if i % 10 != 0
    }
    assert got == want


def test_writer_unknown_feature_refused(spark, tmp_path):
    """A foreign table advertising a writerFeature this writer does not
    implement must refuse every mutating verb, even though its
    readerFeatures are all supported. (rowTracking moved to the
    honored list in round 7 — see the rowTracking lifecycle tests.)"""
    import pyspark.sql.functions as F

    table = str(tmp_path / "wf_tbl")
    _write_parquet(
        spark, [(1,), (2,)], "k long", os.path.join(table, "a.parquet")
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["icebergCompatV1"]}},
            _meta(spark, "k long"),
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table).count() == 2  # reading is fine
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(df, table)
    with pytest.raises(dc.DeltaProtocolError):
        dc.delete_delta(spark, table, df, ["k"])
    with pytest.raises(dc.DeltaProtocolError):
        dc.optimize_delta(spark, table)
    # known-feature protocol (deletionVectors) still writable
    ok = str(tmp_path / "wf_ok")
    dc.append_delta(df, ok)
    dc.delete_delta_dv(spark, ok, df.filter("k = 0"), ["k"])
    dc.append_delta(df.select((F.col("k") + 10).alias("k")), ok)


def _last_commit_actions(table):
    vs = dc._list_commit_versions(table)
    out = []
    with open(dc._commit_path(table, vs[-1])) as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def test_row_tracking_append_assigns_base_row_ids(spark, tmp_path):
    """Appends into a rowTracking table stamp each fresh add with
    disjoint baseRowId ranges + defaultRowCommitVersion and advance the
    delta.rowTracking high-water mark in the SAME commit."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_tbl")
    dc.append_delta(
        spark.range(5).coalesce(1).select(F.col("id").alias("k")), table
    )
    dc.enable_row_tracking(table)
    snap = dc.snapshot(table)
    assert "rowTracking" in snap["protocol"]["writerFeatures"]
    assert "domainMetadata" in snap["protocol"]["writerFeatures"]
    assert dc.row_id_high_water_mark(snap) == -1  # nothing stamped yet
    v = dc.append_delta(
        spark.range(5, 12).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    snap = dc.snapshot(table)
    assert dc.row_id_high_water_mark(snap) == 6  # ids 0..6 assigned
    metas = [m for m in snap["file_row_meta"].values()]
    assert metas == [{"baseRowId": 0, "defaultRowCommitVersion": v}]
    # a second append continues from the mark, never reusing ids
    v2 = dc.append_delta(
        spark.range(12, 15).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    snap = dc.snapshot(table)
    assert dc.row_id_high_water_mark(snap) == 9
    bases = sorted(
        m["baseRowId"] for m in snap["file_row_meta"].values()
    )
    assert bases == [0, 7]
    assert dc.read_delta(spark, table).count() == 15


def test_row_tracking_dv_delete_preserves_optimize_reassigns(
    spark, tmp_path
):
    """A DV delete re-adds the SAME file — its baseRowId must survive
    (the preservation rule); OPTIMIZE writes new files, which get fresh
    ids above the mark, never reused ones."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_dv_tbl")
    dc.append_delta(
        spark.range(10).coalesce(1).select(F.col("id").alias("k")), table
    )
    dc.enable_row_tracking(table)
    dc.append_delta(
        spark.range(10, 20).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    snap = dc.snapshot(table)
    hwm0 = dc.row_id_high_water_mark(snap)
    assert hwm0 == 9  # the post-enable append's 10 rows
    stamped = {
        f: m for f, m in snap["file_row_meta"].items()
    }
    assert len(stamped) == 1
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(12,)], "k long"), ["k"]
    )
    snap = dc.snapshot(table)
    # same file, same baseRowId, mark unmoved for the stamped file; the
    # NEVER-stamped pre-enable file gets fresh ids when its DV re-add
    # passes through (it contained no match here, so it is untouched)
    assert [m["baseRowId"] for m in snap["file_row_meta"].values()] == [0]
    assert dc.row_id_high_water_mark(snap) == hwm0
    dc.optimize_delta(spark, table)
    snap = dc.snapshot(table)
    assert len(snap["files"]) == 1
    meta = list(snap["file_row_meta"].values())[0]
    # fresh assignment above the mark (19 live rows → mark advances)
    assert meta["baseRowId"] == hwm0 + 1
    assert dc.row_id_high_water_mark(snap) == hwm0 + 19
    assert dc.read_delta(spark, table).count() == 19


def test_row_tracking_hwm_survives_checkpoint(spark, tmp_path):
    """The high-water mark and per-file baseRowIds live in
    domainMetadata/add actions — a checkpoint that dropped them would
    reset assignment and duplicate row ids after replay."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_ckpt_tbl")
    dc.append_delta(
        spark.range(3).coalesce(1).select(F.col("id").alias("k")), table
    )
    dc.enable_row_tracking(table)
    v = dc.append_delta(
        spark.range(3, 8).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    dc.checkpoint_delta(table)
    # hide the JSON log: state must come from the checkpoint alone
    for hv in range(v + 1):
        os.rename(
            dc._commit_path(table, hv), dc._commit_path(table, hv) + ".hid"
        )
    try:
        snap = dc.snapshot(table)
        assert dc.row_id_high_water_mark(snap) == 4
        assert sorted(
            m["baseRowId"] for m in snap["file_row_meta"].values()
        ) == [0]
    finally:
        for hv in range(v + 1):
            os.rename(
                dc._commit_path(table, hv) + ".hid",
                dc._commit_path(table, hv),
            )
    # and appends continue correctly from checkpoint-replayed state
    dc.append_delta(
        spark.range(8, 10).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    assert dc.row_id_high_water_mark(dc.snapshot(table)) == 6


def test_row_tracking_cow_merge_delete_preserve_ids(spark, tmp_path):
    """delta.enableRowTracking=true + COW MERGE/DELETE: the rewrite
    materializes ids — a DELETE's survivors keep theirs, a MERGE's
    updated rows keep theirs (row commit version moves to the merge
    commit), inserts take fresh ids above every preserved one."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_cow_tbl")
    dc.append_delta(
        spark.range(10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .orderBy("k")
        .coalesce(1),
        table,
    )
    dc.enable_row_tracking(table, enabled=True)
    # sorted single-file backfill → id == k
    dc.delete_delta(
        spark, table, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    ids = {
        r.k: (r._row_id, r._row_commit_version)
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert 1 not in ids
    assert all(ids[k][0] == k for k in ids)  # survivors kept their ids
    src = spark.createDataFrame([(2, 99), (20, 40)], "k long, v long")
    mv = dc.merge_delta(spark, table, src, ["k"])
    post = {
        r.k: (r._row_id, r._row_commit_version, r.v)
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert post[2][0] == 2 and post[2][1] == mv and post[2][2] == 99
    assert post[20][0] > max(i for i, _, _ in post.values() if i != post[20][0])
    # mapped composition works since round 8: the merge preserves ids
    # through the physical binding
    mapped = str(tmp_path / "rt_cow_mapped")
    dc.append_delta(
        spark.range(4).select(F.col("id").alias("k")), mapped
    )
    dc.enable_column_mapping(mapped)
    dc.enable_row_tracking(mapped, enabled=True)
    pre_m = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, mapped).collect()
    }
    dc.merge_delta(
        spark, mapped, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    post_m = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, mapped).collect()
    }
    assert post_m == pre_m  # the matched key kept its id


def test_row_tracking_overwrite_assigns_fresh_ids(spark, tmp_path):
    """The overwrite family REPLACES rows, so rowTracking-enabled
    tables accept it and the batch takes fresh ids above the mark
    (delta-spark's semantics — no materialization involved)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_ow_tbl")
    dc.append_delta(
        spark.range(6)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .orderBy("k")
        .coalesce(1),
        table,
    )
    dc.enable_row_tracking(table, enabled=True)
    hwm0 = dc.row_id_high_water_mark(dc.snapshot(table))
    batch = (
        spark.range(100, 103)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .orderBy("k")
        .coalesce(1)
    )
    dc.overwrite_delta(spark, batch, table)
    ids = sorted(
        r._row_id for r in dc.read_delta_row_ids(spark, table).collect()
    )
    assert len(ids) == 3 and min(ids) > hwm0


def test_row_tracking_stable_ids_through_optimize(spark, tmp_path):
    """The stable-id lifecycle: enable(enabled=True) BACKFILLS existing
    files with row ids, appends continue the range, a DV delete drops
    ids without moving survivors, and OPTIMIZE preserves every
    surviving (row → id) binding by materializing the ids through the
    rewrite — twice, so the materialized→materialized path is pinned
    too."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_ids_tbl")
    mk = lambda a, b: (  # noqa: E731
        spark.range(a, b)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .orderBy("k")
        .coalesce(1)
    )
    dc.append_delta(mk(0, 10), table)
    dc.enable_row_tracking(table, enabled=True)
    ids = sorted(
        (r.k, r._row_id, r._row_commit_version)
        for r in dc.read_delta_row_ids(spark, table).collect()
    )
    # backfill: sorted single-file write → id == k, rcv == enable commit
    assert ids == [(k, k, 1) for k in range(10)]
    dc.append_delta(mk(10, 15), table)
    dc.delete_delta_dv(
        spark, table,
        spark.createDataFrame([(k,) for k in range(0, 15, 3)], "k long"),
        ["k"],
    )
    pre = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert set(pre) == {k for k in range(15) if k % 3 != 0}
    dc.optimize_delta(spark, table, target_partitions=1)
    post = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert post == pre
    assert len(dc.snapshot(table)["files"]) == 1
    dc.append_delta(mk(15, 18), table)
    mid = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    dc.optimize_delta(spark, table, target_partitions=1)
    post2 = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert post2 == mid
    # new rows took FRESH ids (above every preserved one)
    assert min(post2[k] for k in (15, 16, 17)) > max(pre.values())


def test_row_tracking_optimize_partitioned_and_mapped_refusal(
    spark, tmp_path
):
    """Partitioned stable-id OPTIMIZE preserves ids per directory; the
    column-mapped composition refuses loudly."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_part_tbl")
    df = (
        spark.range(12)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("part"),
        )
        .orderBy("k")
        .coalesce(1)
    )
    dc.append_delta(df, table, partition_by=["part"])
    dc.enable_row_tracking(table, enabled=True)
    dc.append_delta(
        spark.range(12, 16)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("part"),
        )
        .orderBy("k")
        .coalesce(1),
        table,
        partition_by=["part"],
    )
    pre = {
        (r.k, r.part): r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    dc.optimize_delta(spark, table, target_partitions=1)
    post = {
        (r.k, r.part): r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert post == pre
    mapped = str(tmp_path / "rt_mapped_tbl")
    dc.append_delta(
        spark.range(4).select(F.col("id").alias("k")), mapped
    )
    dc.enable_column_mapping(mapped)
    dc.enable_row_tracking(mapped, enabled=True)
    # the composition works since round 8: backfilled ids read back
    # and survive a compaction of the mapped files
    pre_m = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, mapped).collect()
    }
    # distinct stable ids (empty range-partition files may claim id
    # slots, so the values need not be dense)
    assert len(set(pre_m.values())) == 4
    dc.optimize_delta(spark, mapped)
    post_m = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, mapped).collect()
    }
    assert post_m == pre_m


def test_row_tracking_mapped_renamed_full_lifecycle(spark, tmp_path):
    """rowTracking × column mapping, the round-8 composition: enable
    mapping, RENAME a column, enable stable row ids (backfill), then
    run every id-preserving verb under the renamed logical name — DV
    delete, OPTIMIZE (materializes ids into physical-named files),
    COW MERGE (updates keep ids, inserts mint fresh), COW DELETE
    (survivors keep ids). Ids never move; the mapped scan keeps
    resolving the physical binding through each rewrite."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_map")
    df = (
        spark.range(8)
        .select(F.col("id").alias("k"), (F.col("id") * 10.0).alias("amt"))
        .orderBy("k")
        .coalesce(1)
    )
    dc.append_delta(df, table)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "amt", "price")
    dc.enable_row_tracking(table, enabled=True)
    base = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert sorted(base.values()) == list(range(8))
    # DV delete: survivors keep ids (file untouched, bitmap subtracts)
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    # OPTIMIZE materializes surviving ids into compacted mapped files
    dc.optimize_delta(spark, table)
    after_opt = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert after_opt == {k: i for k, i in base.items() if k != 0}
    # COW MERGE under the RENAMED logical name: matched keys keep ids
    src = spark.createDataFrame(
        [(1, 111.0), (100, 1.0)], "k long, price double"
    )
    dc.merge_delta(spark, table, src, ["k"])
    rows = {r.k: r for r in dc.read_delta_row_ids(spark, table).collect()}
    assert rows[1]._row_id == base[1] and rows[1].price == 111.0
    assert rows[100]._row_id not in set(base.values())  # fresh id
    # COW DELETE: survivors keep ids
    dc.delete_delta(
        spark, table, spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    final = {
        r.k: r._row_id
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert final[3] == base[3] and 2 not in final
    # plain mapped read stays clean (no materialized-column leak)
    assert set(dc.read_delta(spark, table).columns) == {"k", "price"}


def test_row_tracking_mapped_partitioned_renamed_pcol(spark, tmp_path):
    """The triple composition — rowTracking × mapping × hive
    partitioning with a RENAMED partition column: ids stable through
    a per-directory OPTIMIZE and a COW merge keyed on logical names."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "rt_map_part")
    df = (
        spark.range(10)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("d"),
        )
        .orderBy("k")
        .coalesce(1)
    )
    dc.append_delta(df, table, partition_by=["d"])
    dc.enable_column_mapping(table)
    dc.rename_column(table, "d", "day")
    dc.enable_row_tracking(table, enabled=True)
    base = {
        r.k: (r._row_id, r.day)
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert sorted(i for i, _ in base.values()) == list(range(10))
    dc.optimize_delta(spark, table, where={"day": "1"})
    after = {
        r.k: (r._row_id, r.day)
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert after == base
    # merge under logical names: update keeps id, insert minted fresh
    dc.merge_delta(
        spark, table,
        spark.createDataFrame([(4, "0"), (77, "1")], "k long, day string"),
        ["k"],
    )
    rows = {
        r.k: (r._row_id, r.day)
        for r in dc.read_delta_row_ids(spark, table).collect()
    }
    assert rows[4] == base[4]
    assert rows[77][1] == "1" and rows[77][0] >= 10
    # time travel through the verbs keeps resolving
    assert dc.read_delta(spark, table, version=0).count() == 10


def test_writer_append_only_config(spark, tmp_path):
    """delta.appendOnly=true: appends keep working, data-removing verbs
    refuse (the protocol's appendOnly contract)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ao_tbl")
    _write_parquet(
        spark, [(1,), (2,)], "k long", os.path.join(table, "a.parquet")
    )
    meta = _meta(spark, "k long")
    meta["metaData"]["configuration"] = {"delta.appendOnly": "true"}
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    df = spark.range(10, 13).select(F.col("id").alias("k"))
    dc.append_delta(df, table)  # appends are the point of appendOnly
    assert dc.read_delta(spark, table).count() == 5
    with pytest.raises(dc.DeltaProtocolError):
        dc.delete_delta(spark, table, df, ["k"])
    with pytest.raises(dc.DeltaProtocolError):
        dc.delete_delta_dv(spark, table, df, ["k"])
    with pytest.raises(dc.DeltaProtocolError):
        dc.restore_delta(spark, table, 0)


def test_writer_declared_invariant_enforced(spark, tmp_path):
    """A column carrying legacy delta.invariants metadata (writer v2's
    original per-column predicate) is ENFORCED on row-introducing
    writes exactly like a CHECK constraint: conforming rows land,
    violating rows refuse — the protocol obligation of claiming
    minWriterVersion >= 2 (refusing every write was the conservative
    pre-enforcement behavior)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "inv_tbl")
    _write_parquet(
        spark, [(1,), (2,)], "k long", os.path.join(table, "a.parquet")
    )
    schema = {
        "type": "struct",
        "fields": [{
            "name": "k", "type": "long", "nullable": True,
            "metadata": {"delta.invariants":
                         '{"expression": {"expression": "k > 0"}}'},
        }],
    }
    meta = _meta(spark, "k long")
    meta["metaData"]["schemaString"] = json.dumps(schema)
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table).count() == 2
    # conforming append lands; the invariant k > 0 rejects id=0
    dc.append_delta(
        spark.range(5, 8).select(F.col("id").alias("k")), table
    )
    assert dc.read_delta(spark, table).count() == 5
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.append_delta(
            spark.range(3).select(F.col("id").alias("k")), table
        )
    assert dc.read_delta(spark, table).count() == 5
    # the invariant column is rename-protected like a CHECK constraint
    dc.enable_column_mapping(table)
    with pytest.raises(dc.DeltaProtocolError, match="referenced"):
        dc.rename_column(table, "k", "kk")


def test_append_race_config_change_refuses(spark, tmp_path, monkeypatch):
    """If the winner changed table configuration (e.g. added a CHECK
    constraint), the lost append is NOT retryable — replaying without
    re-validating could land rows the new constraint forbids."""
    new_meta = _meta(spark, "k long")
    new_meta["metaData"]["configuration"] = {
        "delta.constraints.k_pos": "k > 100"
    }
    with pytest.raises(dc.ConcurrentDeltaCommitError):
        _race_append(
            spark, tmp_path, monkeypatch, [new_meta], "race_config"
        )


def test_clone_inline_dv_passthrough(spark, tmp_path):
    """Cloning a table whose DV descriptor is INLINE (storageType 'i')
    copies the descriptor through unchanged — there is no file to
    re-path, and the clone must subtract the same rows."""
    import base64

    from acero_delta_lake_streaming_spark.storage import dvcodec

    table = str(tmp_path / "inline_src")
    _write_parquet(
        spark, [(i,) for i in range(6)], "k long",
        os.path.join(table, "a.parquet"),
    )
    data = dvcodec.encode_dv_data([1, 3])
    desc = {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(data).decode("ascii"),
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            _meta(spark, "k long"),
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "deletionVector": desc}},
        ],
    )
    assert {r["k"] for r in dc.read_delta(spark, table).collect()} == {
        0, 2, 4, 5
    }
    target = str(tmp_path / "inline_clone")
    dc.clone_delta(table, target)
    clone_dvs = dc.snapshot(target)["file_dvs"]
    assert list(clone_dvs.values())[0]["storageType"] == "i"
    assert {r["k"] for r in dc.read_delta(spark, target).collect()} == {
        0, 2, 4, 5
    }


def test_dvcodec_run_cookie_unsigned_count():
    """A foreign run-format roaring bitmap with >=32768 containers sets
    the sign bit of the int32 cookie; the container count must decode
    unsigned (regression: signed decode went negative and misparsed)."""
    import struct

    from acero_delta_lake_streaming_spark.storage.dvcodec import _deser32

    n = 32769
    buf = bytearray(struct.pack("<I", (12347 | ((n - 1) << 16)) & 0xFFFFFFFF))
    buf += b"\xff" * ((n + 7) // 8)  # every container run-encoded
    body_start = len(buf) + 4 * n + 4 * n
    for k in range(n):
        buf += struct.pack("<HH", k, 0)  # key, cardinality-1
    for i in range(n):
        buf += struct.pack("<i", body_start + 6 * i)
    for _ in range(n):
        buf += struct.pack("<HHH", 1, 0, 0)  # 1 run: [0, 0]
    values, end = _deser32(bytes(buf), 0)
    assert end == len(buf)
    assert values == [k << 16 for k in range(n)]


def test_multipart_checkpoint_roundtrip(spark, tmp_path, monkeypatch):
    """Above the action threshold the checkpoint writer emits the
    multi-part {v}.checkpoint.{i}.{n}.parquet form; the reader unions
    the parts (replay from checkpoint alone reproduces the snapshot)
    and refuses an incomplete part set."""
    import glob

    import pyspark.sql.functions as F

    monkeypatch.setattr(dc, "_CHECKPOINT_PART_ACTIONS", 3)
    table = str(tmp_path / "mp_tbl")
    rows = 0
    batch = 0
    while True:
        df = spark.range(batch * 5, batch * 5 + 5).select(
            F.col("id").alias("k")
        )
        v = dc.append_delta(df, table)
        rows += 5
        batch += 1
        if v > 0 and v % 10 == 0:
            break
    parts = glob.glob(
        os.path.join(table, "_delta_log", "*.checkpoint.*.*.parquet")
    )
    assert len(parts) >= 2, parts
    with open(os.path.join(table, "_delta_log", "_last_checkpoint")) as fh:
        ptr = json.load(fh)
    assert ptr["parts"] == len(parts)
    # hide the JSON log up to the checkpoint: replay must come from parts
    ckpt_v = dc._checkpoint_version(table, None)
    assert ckpt_v == v
    for hv in range(ckpt_v):
        os.rename(
            dc._commit_path(table, hv), dc._commit_path(table, hv) + ".hid"
        )
    try:
        assert dc.read_delta(spark, table).count() == rows
        assert dc.snapshot(table)["version"] == v
        # an incomplete part set must refuse, not silently drop state
        os.rename(parts[0], parts[0] + ".gone")
        try:
            with pytest.raises(dc.DeltaCorruptLogError):
                dc.snapshot(table)
        finally:
            os.rename(parts[0] + ".gone", parts[0])
    finally:
        for hv in range(ckpt_v):
            os.rename(
                dc._commit_path(table, hv) + ".hid", dc._commit_path(table, hv)
            )
    # appends continue normally past a multi-part checkpoint
    dc.append_delta(
        spark.range(1000, 1005).select(F.col("id").alias("k")), table
    )
    assert dc.read_delta(spark, table).count() == rows + 5


def test_column_mapping_id_mode_read(spark, tmp_path):
    """id-mode resolution goes through PARQUET FIELD IDS: the file's
    physical column names deliberately disagree with the metadata's
    physicalName (ids are the invariant after renames), and the read
    must still land each logical column on the right data. Skipping
    translates through the resolved physical name; writes refuse."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cm_id_tbl")
    # physical file: columns named u1/u2 with field ids 1/2 — names
    # drifted from the log's physicalName (col-aaa111/col-bbb222)
    arrow_schema = pa.schema(
        [
            pa.field("u1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("u2", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    os.makedirs(table, exist_ok=True)
    pq.write_table(
        pa.table({"u1": [1, 2, 3], "u2": ["a", "b", "c"]},
                 schema=arrow_schema),
        os.path.join(table, "part-0.parquet"),
    )
    _commit(
        table,
        0,
        [
            _PROTO_CM,
            _mapped_meta("id"),
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     # stats keys use the METADATA physicalName (what
                     # delta-spark writes), not the footer's drifted name
                     "stats": json.dumps({
                         "numRecords": 3,
                         "minValues": {"col-aaa111": 1},
                         "maxValues": {"col-aaa111": 3},
                         "nullCount": {"col-aaa111": 0}})}},
        ],
    )
    df = dc.read_delta(spark, table)
    assert df.columns == ["k", "v"]
    assert {(r["k"], r["v"]) for r in df.collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }
    # skipping translated through the metadata physicalName (stats are
    # keyed by it); the DATA read resolves via footer field ids
    assert dc.read_delta(spark, table, skip=("k", 10, 20)).count() == 0
    assert dc.read_delta(spark, table, skip=("k", 2, 2)).count() == 3
    # appends write DRIFT-SAFE: the new file reuses the footers'
    # id→name binding (u1/u2), NOT the metadata physicalName — writing
    # col-aaa111 would make the next scan refuse on id→name conflict
    dc.append_delta(
        spark.createDataFrame([(4, "d")], "k long, v string"), table
    )
    snap = dc.snapshot(table)
    new_file = [f for f in snap["files"]
                if not f.endswith("part-0.parquet")][0]
    footer = pq.read_schema(new_file)
    assert footer.names == ["u1", "u2"]
    assert footer.field(0).metadata[b"PARQUET:field_id"] == b"1"
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    }


def test_column_mapping_id_mode_fallback_without_field_ids(spark, tmp_path):
    """An id-mode table whose parquet files carry no field ids (some
    writers strip them) falls back to physicalName metadata — the same
    resolution delta-spark uses when ids are absent."""
    table = _seed_mapped_table(spark, tmp_path, mode="id")
    df = dc.read_delta(spark, table)
    assert df.columns == ["k", "v"]
    assert {(r["k"], r["v"]) for r in df.collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }


def _seed_v2_checkpoint_table(spark, tmp_path, manifest_format="parquet"):
    """Hand-author a ``v2Checkpoint``-feature table: two data files over
    two commits, then a V2 UUID-named checkpoint manifest at version 1
    whose ``sidecar`` action references the add payload under
    ``_delta_log/_sidecars/``."""
    import uuid as uuidlib

    table = str(tmp_path / f"v2ck_{manifest_format}")
    _write_parquet(
        spark, [(i,) for i in range(5)], "k long",
        os.path.join(table, "a.parquet"),
    )
    _write_parquet(
        spark, [(i,) for i in range(5, 10)], "k long",
        os.path.join(table, "b.parquet"),
    )
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}}
    meta = _meta(spark, "k long")

    def _add(path):
        return {"path": path, "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}

    _commit(table, 0, [proto, meta, {"add": _add("a.parquet")}])
    _commit(table, 1, [{"add": _add("b.parquet")}])

    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    sc_name = f"{uuidlib.uuid4()}.parquet"
    sc_schema = pa.schema([
        pa.field("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ])),
    ])
    pq.write_table(
        pa.Table.from_pylist(
            [{"add": dict(_add(p), partitionValues=[], dataChange=False,
                          stats=None)}
             for p in ("a.parquet", "b.parquet")],
            schema=sc_schema,
        ),
        os.path.join(sc_dir, sc_name),
    )
    manifest_rows = [
        proto,
        {"metaData": meta["metaData"]},
        {"checkpointMetadata": {"version": 1}},
        {"sidecar": {"path": sc_name, "sizeInBytes": 1,
                     "modificationTime": 0}},
    ]
    manifest = os.path.join(
        log, f"{1:020d}.checkpoint.{uuidlib.uuid4()}.{manifest_format}"
    )
    if manifest_format == "json":
        with open(manifest, "w") as f:
            f.write("\n".join(json.dumps(r) for r in manifest_rows) + "\n")
    else:
        m_schema = pa.schema([
            pa.field("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ])),
            pa.field("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
            ])),
            pa.field("checkpointMetadata", pa.struct([
                ("version", pa.int64()),
            ])),
            pa.field("sidecar", pa.struct([
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ])),
        ])
        flat = []
        for r in manifest_rows:
            row = {k: None for k in
                   ("protocol", "metaData", "checkpointMetadata", "sidecar")}
            for k, v in r.items():
                if k == "metaData":
                    v = dict(v)
                    v["partitionColumns"] = v.get("partitionColumns") or []
                    v["configuration"] = list(
                        (v.get("configuration") or {}).items()
                    )
                    v["format"] = {"provider":
                                   v.get("format", {}).get("provider",
                                                           "parquet")}
                    v = {kk: v.get(kk) for kk in
                         ("id", "format", "schemaString",
                          "partitionColumns", "configuration")}
                row[k] = v
            flat.append(row)
        pq.write_table(pa.Table.from_pylist(flat, schema=m_schema), manifest)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(manifest_rows)}, f)
    return table, manifest, os.path.join(sc_dir, sc_name)


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_v2_checkpoint_read(spark, tmp_path, fmt):
    """A v2Checkpoint-feature table reads through its UUID-named
    manifest + sidecar payload — including when the pre-checkpoint JSON
    log is gone (replay MUST come from the manifest). Appends work
    since round 6 (the writer honors the feature by emitting V2
    checkpoints — see the writer tests below)."""
    import pyspark.sql.functions as F

    table, _manifest, _sc = _seed_v2_checkpoint_table(spark, tmp_path, fmt)
    assert {r["k"] for r in dc.read_delta(spark, table).collect()} == set(
        range(10)
    )
    # hide the JSON tail: state must come from manifest + sidecar
    for v in (0, 1):
        os.rename(dc._commit_path(table, v), dc._commit_path(table, v) + ".h")
    try:
        snap = dc.snapshot(table)
        assert snap["version"] == 1
        assert {r["k"] for r in dc.read_delta(spark, table).collect()} == set(
            range(10)
        )
    finally:
        for v in (0, 1):
            os.rename(dc._commit_path(table, v) + ".h",
                      dc._commit_path(table, v))
    dc.append_delta(
        spark.range(10, 13).select(F.col("id").alias("k")), table
    )
    assert {r["k"] for r in dc.read_delta(spark, table).collect()} == set(
        range(13)
    )


def test_v2_checkpoint_missing_sidecar_refused(spark, tmp_path):
    table, _manifest, sc = _seed_v2_checkpoint_table(spark, tmp_path)
    os.remove(sc)
    with pytest.raises(dc.DeltaCorruptLogError):
        dc.snapshot(table)


def test_generated_columns_enforced_on_row_writes(spark, tmp_path):
    """generatedColumns is a SUPPORTED writer feature: writes that
    introduce rows (append, merge source) validate every value against
    its generation expression; conforming writes land, violating ones
    refuse. Identity columns still refuse entirely."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "gen_tbl")
    _write_parquet(
        spark, [(1, 2), (2, 4)], "k long, k2 long",
        os.path.join(table, "a.parquet"),
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "k2", "type": "long", "nullable": True,
             "metadata": {"delta.generationExpression": "k * 2"}},
        ],
    }
    meta = _meta(spark, "k long, k2 long")
    meta["metaData"]["schemaString"] = json.dumps(schema)
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["generatedColumns"]}},
            meta,
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    good = spark.createDataFrame([(5, 10), (6, 12)], "k long, k2 long")
    dc.append_delta(good, table)
    assert dc.read_delta(spark, table).count() == 4
    bad = spark.createDataFrame([(7, 99)], "k long, k2 long")
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.append_delta(bad, table)
    assert dc.read_delta(spark, table).count() == 4
    # NULL source → NULL generated value satisfies (null-safe equality)
    nulls = spark.createDataFrame([(None, None)], "k long, k2 long")
    dc.append_delta(nulls, table)
    assert dc.read_delta(spark, table).count() == 5
    # merge: conforming source lands, violating source refuses
    dc.merge_delta(spark, table,
                   spark.createDataFrame([(1, 2), (8, 16)],
                                         "k long, k2 long"), ["k"])
    assert dc.read_delta(spark, table).count() == 6
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.merge_delta(spark, table,
                       spark.createDataFrame([(9, 1)], "k long, k2 long"),
                       ["k"])
    # identity columns: explicit values under GENERATED ALWAYS refuse
    # (minting appends are supported since round 8 — see the dedicated
    # identity lifecycle tests)
    table2 = str(tmp_path / "ident_tbl")
    _write_parquet(
        spark, [(1,)], "k long", os.path.join(table2, "a.parquet")
    )
    schema2 = {
        "type": "struct",
        "fields": [{"name": "k", "type": "long", "nullable": True,
                    "metadata": {"delta.identity.start": 1,
                                 "delta.identity.step": 1,
                                 "delta.identity.allowExplicitInsert": False}}],
    }
    meta2 = _meta(spark, "k long")
    meta2["metaData"]["schemaString"] = json.dumps(schema2)
    _commit(
        table2, 0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
         meta2,
         {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}],
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(spark.range(3).select(F.col("id").alias("k")),
                        table2)


def test_in_commit_timestamp_preferred_for_time_travel(spark, tmp_path):
    """A table with the inCommitTimestamp writer feature resolves
    TIMESTAMP AS OF from commitInfo.inCommitTimestamp (monotonic by
    protocol) in preference to the legacy timestamp field; reading such
    tables needs no reader feature, and appends (supported since the
    round-6 ICT writer) must extend the chain monotonically."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ict_tbl")
    for v, (lo, hi) in enumerate([(0, 3), (3, 6)]):
        _write_parquet(
            spark, [(i,) for i in range(lo, hi)], "k long",
            os.path.join(table, f"f{v}.parquet"),
        )
    _commit(
        table, 0,
        [
            # legacy timestamp deliberately DISAGREES (mtime-drifted)
            {"commitInfo": {"timestamp": 999999, "inCommitTimestamp": 1000}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["inCommitTimestamp"]}},
            _meta(spark, "k long"),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    _commit(
        table, 1,
        [
            {"commitInfo": {"timestamp": 5, "inCommitTimestamp": 2000}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table, timestamp_ms=1500).count() == 3
    assert dc.read_delta(spark, table, timestamp_ms=2000).count() == 6
    with pytest.raises(dc.DeltaProtocolError):
        dc.read_delta(spark, table, timestamp_ms=999)
    v = dc.append_delta(spark.range(6, 8).select(F.col("id").alias("k")),
                        table)
    assert dc._commit_timestamp_ms(table, v) > 2000  # chain extended
    assert dc.read_delta(spark, table).count() == 8


def test_optimize_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE compacts only the matching partition
    directories; other partitions' files stay byte-identical, content
    is unchanged, and non-partition predicates refuse."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ow_tbl")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), (F.col("id") % 2)).alias("p"),
    )
    for lo in (0, 100, 200, 300):
        dc.append_delta(
            df.filter((F.col("k") >= lo) & (F.col("k") < lo + 100)),
            table, partition_by=["p"],
        )
    before = set(dc.snapshot(table)["files"])
    p1_before = {f for f in before if "p=p1" in f}
    dc.optimize_delta(spark, table, 1, where={"p": "p0"})
    after = set(dc.snapshot(table)["files"])
    assert {f for f in after if "p=p1" in f} == p1_before  # untouched
    assert len([f for f in after if "p=p0" in f]) == 1  # compacted
    got = {(r["k"], r["p"]) for r in dc.read_delta(spark, table).collect()}
    assert got == {(i, f"p{i % 2}") for i in range(400)}
    # no matching partition: clean no-op at the same version
    v = dc.snapshot(table)["version"]
    assert dc.optimize_delta(spark, table, 1, where={"p": "nope"}) == v
    with pytest.raises(dc.DeltaProtocolError):
        dc.optimize_delta(spark, table, 1, where={"k": "3"})


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    import pyspark.sql.functions as F

    table = str(tmp_path / "vdr_tbl")
    dc.append_delta(spark.range(10).select(F.col("id").alias("k")), table)
    dc.delete_delta(spark, table, 
                    spark.range(3).select(F.col("id").alias("k")), ["k"])
    would = dc.vacuum_delta(table, keep_versions=0, dry_run=True)
    assert would  # the pre-delete files are aged out
    for rel in would:
        assert os.path.exists(os.path.join(table, rel))  # still there
    assert dc.read_delta(spark, table, version=0).count() == 10  # intact
    really = dc.vacuum_delta(table, keep_versions=0)
    assert really == would


def test_cleanup_log_retains_reconstructable_window(spark, tmp_path):
    """cleanup_log deletes JSON commits superseded by a checkpoint; the
    latest snapshot AND time travel into the retained window keep
    working — including to versions BEHIND the newest checkpoint, which
    resolve through an older on-disk checkpoint."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "clog_tbl")
    v = -1
    rows = 0
    batch = 0
    while v < 21:  # force checkpoints at v10 and v20
        v = dc.append_delta(
            spark.range(batch * 3, batch * 3 + 3).select(
                F.col("id").alias("k")
            ),
            table,
        )
        rows += 3
        batch += 1
    deleted = dc.cleanup_log(table, keep_versions=v - 12)  # floor=12
    # newest checkpoint at/below 12 is v10: commits 0..9 age out
    assert deleted == [f"{i:020d}.json" for i in range(10)]
    assert dc.read_delta(spark, table).count() == rows
    # retained window: v12 is BEHIND the newest checkpoint (v20) but
    # ahead of v10 — must reconstruct via the older checkpoint
    assert dc.read_delta(spark, table, version=12).count() == 13 * 3
    assert dc.read_delta(spark, table, version=10).count() == 11 * 3
    # behind the kept checkpoint: unreconstructable, refuses loudly
    with pytest.raises(dc.DeltaCorruptLogError):
        dc.snapshot(table, 5)
    # with no qualifying checkpoint the call is a no-op
    assert dc.cleanup_log(table, keep_versions=v) == []


def test_txn_handshake_survives_log_cleanup(spark, tmp_path):
    """The exactly-once txn handshake must survive cleanup_log: after
    metadata retention truncates the JSON commits carrying an app's txn
    actions, last_txn_version resolves them from the checkpoint and a
    replayed epoch stays a no-op instead of double-appending. A second
    app's txns live in commits that compact_log_range folded into a
    compacted range, so they reach the handshake through snapshot's
    range substitution."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "txn_clog")
    v = -1
    epoch = 0
    while v < 11:  # epochs 0..N, checkpoint lands at v10
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table, txn=("app", epoch),
        )
        epoch += 1
    last_epoch = epoch - 1
    first_b = v + 1
    for b_epoch in (0, 1):  # the second app's commits: v12 and v13
        v = dc.append_delta(
            spark.range(100 + b_epoch, 101 + b_epoch).select(
                F.col("id").alias("k")
            ),
            table, txn=("app_b", b_epoch),
        )
    dc.compact_log_range(table, first_b, v)
    n = dc.read_delta(spark, table).count()
    assert dc.last_txn_version(table, "app") == last_epoch
    assert dc.last_txn_version(table, "app_b") == 1
    deleted = dc.cleanup_log(table, keep_versions=0)
    assert deleted  # the pre-checkpoint commits (with txn rows) are gone
    assert dc.last_txn_version(table, "app") == last_epoch
    assert dc.last_txn_version(table, "app_b") == 1
    # replaying an old epoch of either app is still a no-op
    for app, old_epoch in (("app", 3), ("app_b", 1), ("app_b", 0)):
        assert dc.append_delta(
            spark.range(2).select(F.col("id").alias("k")),
            table, txn=(app, old_epoch),
        ) == -1
    assert dc.read_delta(spark, table).count() == n


def test_txn_epoch_zero_survives_cleanup(spark, tmp_path, monkeypatch):
    """Regression: the checkpoint txn fallback must not lose epoch 0 to
    a falsy `or` — an app whose ONLY txn is version 0 still no-ops its
    replay after the JSON log is truncated."""
    import pyspark.sql.functions as F

    monkeypatch.setattr(dc, "_CHECKPOINT_INTERVAL", 10)
    table = str(tmp_path / "txn0_tbl")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table,
                    txn=("app0", 0))
    v = 0
    while v % 10 != 0 or v == 0:
        v = dc.append_delta(
            spark.range(v * 2, v * 2 + 2).select(F.col("id").alias("k")),
            table,
        )
    n = dc.read_delta(spark, table).count()
    assert dc.cleanup_log(table, keep_versions=0)
    assert dc.last_txn_version(table, "app0") == 0
    assert dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")), table,
        txn=("app0", 0),
    ) == -1
    assert dc.read_delta(spark, table).count() == n


def test_append_race_protocol_upgrade_refuses(spark, tmp_path, monkeypatch):
    """Losing the version race to a PURE protocol upgrade (writer
    feature added, no metaData change) must refuse the rebase — the
    staged adds were validated under the old protocol."""
    winner = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["rowTracking"]}},
        {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
    ]
    with pytest.raises(dc.ConcurrentDeltaCommitError):
        _race_append(spark, tmp_path, monkeypatch, winner, "race_proto")


def test_incomplete_multipart_does_not_wedge_cleanup(
    spark, tmp_path, monkeypatch
):
    """A crashed multi-part publish (partial part set, stale pointer)
    must not wedge cleanup_log or the checkpoint scan: the partial
    version is skipped and an older complete checkpoint stays
    authoritative."""
    import glob

    import pyspark.sql.functions as F

    monkeypatch.setattr(dc, "_CHECKPOINT_PART_ACTIONS", 3)
    table = str(tmp_path / "wedge_tbl")
    v = -1
    batch = 0
    while v < 20:  # checkpoints at 10 and 20 (both multi-part)
        v = dc.append_delta(
            spark.range(batch * 2, batch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table,
        )
        batch += 1
    n = dc.read_delta(spark, table).count()
    parts20 = sorted(glob.glob(os.path.join(
        table, "_delta_log", f"{20:020d}.checkpoint.*.parquet")))
    assert len(parts20) >= 2
    os.remove(parts20[0])  # simulate the crashed publish
    # pointer (v20) names an incomplete set: reads fall back to the
    # complete v10 checkpoint + the JSON tail and stay correct
    assert dc.read_delta(spark, table).count() == n
    # cleanup_log likewise falls back to the complete v10 checkpoint
    deleted = dc.cleanup_log(table, keep_versions=v - 10)
    assert deleted == [f"{i:020d}.json" for i in range(10)]
    assert dc.read_delta(spark, table).count() == n


def test_column_mapping_id_mode_drift_refused(spark, tmp_path):
    """Two id-mode files whose footers map the SAME field id to
    DIFFERENT physical names must refuse the read — a single-schema
    scan would silently return NULLs for the drifted file."""
    table = str(tmp_path / "cm_drift_tbl")
    os.makedirs(table, exist_ok=True)
    for fname, cols in (("part-0.parquet", ("u1", "u2")),
                        ("part-1.parquet", ("col-9x", "u2"))):
        sch = pa.schema([
            pa.field(cols[0], pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field(cols[1], pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ])
        pq.write_table(
            pa.table({cols[0]: [1], cols[1]: ["a"]}, schema=sch),
            os.path.join(table, fname),
        )
    _commit(
        table,
        0,
        [
            _PROTO_CM,
            _mapped_meta("id"),
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "part-1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.read_delta(spark, table)


def test_streaming_sink_partitioned(spark, tmp_path):
    """streaming_sink(partition_by=...) lands each epoch in hive layout
    with the same exactly-once txn handshake; the partitioned read
    recovers the partition column."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ssp_tbl")
    sink = dc.streaming_sink(table, "ssp-app", partition_by=["p"])
    df = spark.range(6).select(
        F.col("id").alias("k"), F.concat(F.lit("p"), F.col("id") % 2).alias("p")
    )
    sink(df, 0)
    sink(df, 0)  # replayed epoch: no-op
    sink(spark.range(6, 9).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), F.col("id") % 2).alias("p")), 1)
    out = dc.read_delta(spark, table)
    assert out.count() == 9
    assert out.filter("p = 'p0'").count() == 5
    assert {os.path.basename(os.path.dirname(f))
            for f in dc.snapshot(table)["files"]} == {"p=p0", "p=p1"}


# --------------------------------------------------------------------------
# round 6: column-mapping WRITES — upgrade, rename, mapped appends
# --------------------------------------------------------------------------


def _fresh_kv_table(spark, tmp_path, name="cmw_tbl"):
    import pyspark.sql.functions as F

    table = str(tmp_path / name)
    dc.append_delta(
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v")),
        table,
    )
    return table


def test_enable_column_mapping_metadata_only_upgrade(spark, tmp_path):
    """enable_column_mapping is one metadata commit: protocol rises to
    (2, 5), every field gets id + physicalName = its CURRENT name (the
    delta-spark upgrade rule that keeps pre-upgrade files readable with
    zero rewrites), maxColumnId lands in the configuration, and the
    data file set is byte-identical."""
    table = _fresh_kv_table(spark, tmp_path)
    files_before = sorted(dc.snapshot(table)["files"])
    v = dc.enable_column_mapping(table)
    snap = dc.snapshot(table)
    assert v == snap["version"] == 1
    assert sorted(snap["files"]) == files_before
    assert snap["protocol"] == {"minReaderVersion": 2,
                                "minWriterVersion": 5}
    cfg = snap["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    assert cfg["delta.columnMapping.maxColumnId"] == "2"
    fields = json.loads(snap["schema"])["fields"]
    assert [f["metadata"]["delta.columnMapping.physicalName"]
            for f in fields] == ["k", "v"]
    assert [f["metadata"]["delta.columnMapping.id"] for f in fields] == [1, 2]
    got = {(r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()}
    assert got == {(i, i * 10) for i in range(5)}


def test_enable_column_mapping_refusals(spark, tmp_path):
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    with pytest.raises(dc.DeltaProtocolError, match="already enabled"):
        dc.enable_column_mapping(table)
    # partitioned tables upgrade in place since round 8: existing
    # col=value/ dirs stay valid because physical = logical at upgrade
    ptable = str(tmp_path / "cmw_part")
    dc.append_delta(
        spark.range(4).select(F.col("id").alias("k"),
                              (F.col("id") % 2).cast("string").alias("p")),
        ptable, partition_by=["p"],
    )
    dc.enable_column_mapping(ptable)
    assert dc.snapshot(ptable)["partition_cols"] == ["p"]
    assert dc.read_delta(spark, ptable).count() == 4


def test_rename_column_is_metadata_only_and_time_travels(spark, tmp_path):
    """RENAME COLUMN changes the logical name in one commit — no data
    file touched — and time travel before the rename still reads the
    OLD logical schema (each version's metaData is authoritative)."""
    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    files_before = sorted(dc.snapshot(table)["files"])
    v = dc.rename_column(table, "v", "value")
    assert sorted(dc.snapshot(table)["files"]) == files_before
    now = dc.read_delta(spark, table)
    assert now.columns == ["k", "value"]
    assert {(r["k"], r["value"]) for r in now.collect()} == {
        (i, i * 10) for i in range(5)
    }
    old = dc.read_delta(spark, table, version=v - 1)
    assert old.columns == ["k", "v"]


def test_rename_column_refusals(spark, tmp_path):
    table = _fresh_kv_table(spark, tmp_path)
    with pytest.raises(dc.DeltaProtocolError, match="requires column"):
        dc.rename_column(table, "v", "value")
    dc.enable_column_mapping(table)
    with pytest.raises(dc.DeltaProtocolError, match="already exists"):
        dc.rename_column(table, "v", "k")
    with pytest.raises(dc.DeltaProtocolError, match="no such column"):
        dc.rename_column(table, "zz", "value")
    dc.add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(dc.DeltaProtocolError, match="CHECK constraint"):
        dc.rename_column(table, "v", "value")
    # a column NOT referenced by the constraint still renames
    dc.rename_column(table, "k", "key")
    assert dc.read_delta(spark, table).columns == ["key", "v"]


def test_mapped_append_physical_names_and_field_ids(spark, tmp_path):
    """An append after a rename lands files whose footers carry the
    ORIGINAL physical column names plus parquet field ids — so the
    table keeps reading in name mode (and would resolve under id-mode
    field-id rules too), and data skipping on the renamed logical
    column translates to the physical stats key."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "value")
    v = dc.append_delta(
        spark.range(5, 8).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("value")),
        table,
    )
    snap = dc.snapshot(table)
    new_files = [f for f in snap["files"]
                 if os.path.basename(f).startswith(f"part-{v:05d}")]
    assert new_files
    for f in new_files:
        sch = pq.read_schema(f)
        assert sch.names == ["k", "v"]  # physical names, not logical
        ids = {sch.field(i).name:
               (sch.field(i).metadata or {}).get(b"PARQUET:field_id")
               for i in range(len(sch.names))}
        assert ids == {"k": b"1", "v": b"2"}
        # stats keyed by the PHYSICAL name (empty split parts carry
        # empty stats — nothing to key)
        st = json.loads(snap["file_stats"][f])
        if st["numRecords"]:
            assert "v" in st["minValues"]
            assert "value" not in st["minValues"]
    got = {(r["k"], r["value"])
           for r in dc.read_delta(spark, table).collect()}
    assert got == {(i, i * 10) for i in range(8)}
    # logical-name skipping through the rename: value ∈ [0, 20] keeps
    # only the first file's range
    kept = dc.read_delta(spark, table, skip=("value", 50, 70))
    assert {r["k"] for r in kept.collect()} == {5, 6, 7}


def test_mapped_append_schema_evolution_assigns_fresh_ids(spark, tmp_path):
    """merge_schema on a mapped table gives the NEW column the next
    mapping id and a col-<uuid> physical name (never the logical name —
    a later rename could otherwise collide with old footers), bumps
    maxColumnId, and earlier files read NULL for it."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.append_delta(
        spark.range(5, 7).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("v"),
                                 F.lit("x").alias("tag")),
        table, merge_schema=True,
    )
    snap = dc.snapshot(table)
    assert snap["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    tag = [f for f in json.loads(snap["schema"])["fields"]
           if f["name"] == "tag"][0]
    assert tag["metadata"]["delta.columnMapping.id"] == 3
    assert tag["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    rows = {(r["k"], r["tag"])
            for r in dc.read_delta(spark, table).collect()}
    assert rows == {(i, None) for i in range(5)} | {(5, "x"), (6, "x")}
    # and the evolved column renames like any other
    dc.rename_column(table, "tag", "label")
    assert dc.read_delta(spark, table).columns == ["k", "v", "label"]


def test_mapped_append_id_mode_idless_files(spark, tmp_path):
    """Appending to an id-mode table whose live files carry NO parquet
    field ids (some writers strip them) must keep the new file id-less
    too — the reader refuses a with/without-ids mix, so attaching ids
    here would brick the very table the append just extended."""
    import pyspark.sql.functions as F

    table = _seed_mapped_table(spark, tmp_path, mode="id")
    dc.append_delta(
        spark.range(4, 6).select(F.col("id").alias("k"),
                                 F.lit("x").alias("v")),
        table,
    )
    snap = dc.snapshot(table)
    new_file = [f for f in snap["files"]
                if not f.endswith("part-0.parquet")][0]
    footer = pq.read_schema(new_file)
    # physicalName resolution fallback names, no field ids (mix guard)
    assert set(footer.names) == {"col-aaa111", "col-bbb222"}
    assert all(
        (footer.field(i).metadata or {}).get(b"PARQUET:field_id") is None
        for i in range(len(footer.names))
    )
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "x"), (5, "x")
    }


def test_id_mode_merge_delete_lifecycle(spark, tmp_path):
    """COW MERGE then DELETE on a DRIFTED id-mode table: rewrites keep
    the footers' id→name binding and field ids, so resolution stays
    footer-driven end to end and results match the plain-table verbs."""
    table = str(tmp_path / "cm_id_cow")
    arrow_schema = pa.schema(
        [
            pa.field("u1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("u2", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    os.makedirs(table, exist_ok=True)
    pq.write_table(
        pa.table({"u1": [1, 2, 3], "u2": ["a", "b", "c"]},
                 schema=arrow_schema),
        os.path.join(table, "part-0.parquet"),
    )
    _commit(
        table, 0,
        [
            _PROTO_CM,
            _mapped_meta("id"),
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
    )
    src = spark.createDataFrame([(2, "B"), (9, "I")], "k long, v string")
    dc.merge_delta(spark, table, src, ["k"])
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (9, "I")
    }
    # every rewritten file binds the same footer names + ids
    for f in dc.snapshot(table)["files"]:
        footer = pq.read_schema(f)
        assert footer.names == ["u1", "u2"]
        assert footer.field(0).metadata[b"PARQUET:field_id"] == b"1"
    dc.delete_delta(
        spark, table, spark.createDataFrame([(1,), (9,)], "k long"), ["k"]
    )
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()} == {
        (2, "B"), (3, "c")
    }
    # and the compaction path keeps ids too
    dc.optimize_delta(spark, table)
    snap = dc.snapshot(table)
    assert len(snap["files"]) == 1
    footer = pq.read_schema(snap["files"][0])
    assert footer.names == ["u1", "u2"]
    assert footer.field(1).metadata[b"PARQUET:field_id"] == b"2"
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()} == {
        (2, "B"), (3, "c")
    }


def test_mapped_table_compaction_preserves_physical_names(spark, tmp_path):
    """Plain OPTIMIZE on a name-mapped table is safe — the rewrite
    keeps physical column names, stats re-key physically, and the
    mapped read stays identical; id-mode compaction re-attaches field
    ids (all files are replaced, so the id-less fallback upgrades)."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "value")
    dc.append_delta(
        spark.range(5, 8).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("value")),
        table,
    )
    before = {(r["k"], r["value"])
              for r in dc.read_delta(spark, table).collect()}
    dc.optimize_delta(spark, table)
    snap = dc.snapshot(table)
    assert len(snap["files"]) == 1
    assert pq.read_schema(snap["files"][0]).names == ["k", "v"]
    after = {(r["k"], r["value"])
             for r in dc.read_delta(spark, table).collect()}
    assert after == before
    id_table = _seed_mapped_table(spark, tmp_path, mode="id")
    before_id = {(r["k"], r["v"])
                 for r in dc.read_delta(spark, id_table).collect()}
    dc.optimize_delta(spark, id_table)
    snap_id = dc.snapshot(id_table)
    assert len(snap_id["files"]) == 1
    footer = pq.read_schema(snap_id["files"][0])
    # compaction re-attaches field ids — the full file set is replaced,
    # so the previously id-less table upgrades to footer-resolvable
    assert set(footer.names) == {"col-aaa111", "col-bbb222"}
    assert {
        int((footer.field(i).metadata or {})[b"PARQUET:field_id"])
        for i in range(len(footer.names))
    } == {1, 2}
    assert {(r["k"], r["v"])
            for r in dc.read_delta(spark, id_table).collect()} == before_id


def test_mapped_append_constraint_enforced_on_logical_names(spark, tmp_path):
    """CHECK constraints written against LOGICAL names keep gating
    mapped appends — enforcement runs before the physical projection."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.append_delta(
            spark.range(1).select(F.col("id").alias("k"),
                                  F.lit(-5).cast("long").alias("v")),
            table,
        )
    dc.append_delta(
        spark.range(9, 10).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("v")),
        table,
    )
    assert dc.read_delta(spark, table).count() == 6


def test_drop_column_metadata_only_no_resurrection(spark, tmp_path):
    """DROP COLUMN is one metadata commit (file set untouched); a
    column re-added under the same logical name maps to a FRESH
    physical name, so the dropped values never resurrect — the seed
    rows read NULL while pre-drop time travel still serves them."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    v_up = dc.enable_column_mapping(table)
    files_before = sorted(dc.snapshot(table)["files"])
    dc.drop_column(table, "v")
    assert sorted(dc.snapshot(table)["files"]) == files_before
    assert dc.read_delta(spark, table).columns == ["k"]
    # re-add logical 'v' via evolution: fresh id, col-<uuid> physical
    dc.append_delta(
        spark.range(5, 7).select(F.col("id").alias("k"),
                                 (F.col("id") * 100).alias("v")),
        table, merge_schema=True,
    )
    snap = dc.snapshot(table)
    vf = [f for f in json.loads(snap["schema"])["fields"]
          if f["name"] == "v"][0]
    assert vf["metadata"]["delta.columnMapping.id"] == 3
    assert vf["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    rows = {(r["k"], r["v"])
            for r in dc.read_delta(spark, table).collect()}
    assert rows == {(i, None) for i in range(5)} | {(5, 500), (6, 600)}
    old = dc.read_delta(spark, table, version=v_up)
    assert {(r["k"], r["v"]) for r in old.collect()} == {
        (i, i * 10) for i in range(5)
    }


def test_drop_column_refusals(spark, tmp_path):
    table = _fresh_kv_table(spark, tmp_path)
    with pytest.raises(dc.DeltaProtocolError, match="requires column"):
        dc.drop_column(table, "v")
    dc.enable_column_mapping(table)
    with pytest.raises(dc.DeltaProtocolError, match="no such column"):
        dc.drop_column(table, "zz")
    dc.add_constraint(spark, table, "v_nonneg", "v >= 0")
    with pytest.raises(dc.DeltaProtocolError, match="CHECK constraint"):
        dc.drop_column(table, "v")
    dc.drop_column(table, "k")  # unreferenced column drops fine
    with pytest.raises(dc.DeltaProtocolError, match="last column"):
        dc.drop_column(table, "v")


# --------------------------------------------------------------------------
# round 6: V2 checkpoint WRITER — manifest + sidecar emission
# --------------------------------------------------------------------------


def test_v2_checkpoint_writer_roundtrip(spark, tmp_path):
    """enable_v2_checkpoints upgrades the protocol to (3, 7) with the
    feature in both lists (legacy-implied features ride along), and the
    next checkpoint publishes the V2 form: UUID-named manifest +
    sidecar payload. State must reconstruct from manifest + sidecar
    alone (JSON tail hidden), and time travel behind the checkpoint
    still replays the restored JSON."""
    import glob
    import pyspark.sql.functions as F

    table = str(tmp_path / "v2w_tbl")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), table)
    v_up = dc.enable_v2_checkpoints(table)
    proto = dc.snapshot(table)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
    cfg = dc.snapshot(table)["configuration"]
    assert cfg["delta.checkpointPolicy"] == "v2"
    dc.append_delta(spark.range(3, 6).select(F.col("id").alias("k")), table)
    ck_v = dc.checkpoint_delta(table)
    log = os.path.join(table, "_delta_log")
    manifests = glob.glob(
        os.path.join(log, f"{ck_v:020d}.checkpoint.*.parquet")
    )
    assert len(manifests) == 1
    # UUID-named (not classic, not multi-part)
    base = os.path.basename(manifests[0])
    mid = base.split(".checkpoint.")[1].removesuffix(".parquet")
    assert len(mid) == 36 and mid.count("-") == 4
    sidecars = glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert len(sidecars) == 1
    # manifest carries NO add rows; the sidecar carries them all
    m_rows = dc._checkpoint_rows(manifests[0])
    assert not any(r.get("add") and r["add"].get("path") for r in m_rows)
    assert any(r.get("sidecar") and r["sidecar"].get("path")
               for r in m_rows)
    # post-checkpoint append lands in the JSON tail
    dc.append_delta(spark.range(6, 8).select(F.col("id").alias("k")), table)
    # hide the pre-checkpoint JSON: replay must come from the V2 set
    hidden = list(range(ck_v + 1))
    for v in hidden:
        os.rename(dc._commit_path(table, v), dc._commit_path(table, v) + ".h")
    try:
        got = {r["k"] for r in dc.read_delta(spark, table).collect()}
        assert got == set(range(8))
    finally:
        for v in hidden:
            os.rename(dc._commit_path(table, v) + ".h",
                      dc._commit_path(table, v))
    # time travel behind the checkpoint (needs the JSON back)
    assert {r["k"]
            for r in dc.read_delta(spark, table, version=v_up).collect()
            } == {0, 1, 2}


def test_v2_checkpoint_writer_multi_sidecar(spark, tmp_path, monkeypatch):
    """Above the action threshold the add rows split across sidecars —
    the V2 twin of the multi-part driver-memory bound."""
    import glob
    import pyspark.sql.functions as F

    table = str(tmp_path / "v2w_multi")
    dc.append_delta(
        spark.range(12).select(F.col("id").alias("k")).repartition(6),
        table,
    )
    dc.enable_v2_checkpoints(table)
    monkeypatch.setattr(dc, "_CHECKPOINT_PART_ACTIONS", 2)
    ck_v = dc.checkpoint_delta(table)
    sidecars = glob.glob(
        os.path.join(table, "_delta_log", "_sidecars", "*.parquet")
    )
    assert len(sidecars) >= 2
    hidden = list(range(ck_v + 1))
    for v in hidden:
        os.rename(dc._commit_path(table, v), dc._commit_path(table, v) + ".h")
    try:
        assert {r["k"] for r in dc.read_delta(spark, table).collect()} == set(
            range(12)
        )
    finally:
        for v in hidden:
            os.rename(dc._commit_path(table, v) + ".h",
                      dc._commit_path(table, v))


def test_v2_checkpoint_cadence_emits_v2_form(spark, tmp_path):
    """The every-N-commits cadence on a v2 table emits the V2 form
    automatically — no classic checkpoint may ever appear (the feature
    forbids it)."""
    import glob
    import pyspark.sql.functions as F

    table = str(tmp_path / "v2w_cadence")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    dc.enable_v2_checkpoints(table)
    for i in range(9):
        dc.append_delta(
            spark.range(2 + i, 3 + i).select(F.col("id").alias("k")), table
        )
    log = os.path.join(table, "_delta_log")
    classic = glob.glob(os.path.join(log, "*.checkpoint.parquet"))
    assert classic == []
    v2 = [p for p in glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
          if len(os.path.basename(p).split(".checkpoint.")[1]) == 36 + 8]
    assert v2, "cadence should have produced a V2 checkpoint"
    assert dc.read_delta(spark, table).count() == 11


def test_v2_txn_handshake_survives_log_cleanup(spark, tmp_path):
    """The V2 twin of the txn-survives-cleanup contract: a streaming
    app appending to a v2Checkpoint table gets its exactly-once
    handshake resolved from the V2 MANIFEST's txn rows (sidecars carry
    only file actions) after cleanup_log truncates the JSON — a
    replayed epoch stays a no-op."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "v2_txn_clog")
    dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")),
        table, txn=("app", 0),
    )
    dc.enable_v2_checkpoints(table)
    v = 1
    epoch = 1
    while v < 11:  # cadence checkpoint at v10 — must be the V2 form
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table, txn=("app", epoch),
        )
        epoch += 1
    n = dc.read_delta(spark, table).count()
    last_epoch = epoch - 1
    deleted = dc.cleanup_log(table, keep_versions=0)
    assert deleted
    assert dc.last_txn_version(table, "app") == last_epoch
    assert dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")),
        table, txn=("app", 2),
    ) == -1
    assert dc.read_delta(spark, table).count() == n


def test_checkpoint_write_survives_log_cleanup(spark, tmp_path):
    """The checkpoint WRITER seeds from the newest prior checkpoint and
    replays only the JSON tail — so the first cadence checkpoint after
    cleanup_log aged out the early commits must succeed (it used to
    need every commit since 0), and the state it captures must be
    complete: full row count, txn handshake, time travel into the
    retained window."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ckpt_after_cleanup")
    v = -1
    epoch = 0
    while v < 11:  # checkpoint lands at v10
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table, txn=("app", epoch),
        )
        epoch += 1
    assert dc.cleanup_log(table, keep_versions=0)
    # drive to the NEXT cadence checkpoint (v20) — the write must seed
    # from the v10 checkpoint since commits 0..9 are gone
    while v < 21:
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table, txn=("app", epoch),
        )
        epoch += 1
    ck = dc._checkpoint_version(table, None)
    assert ck is not None and ck >= 20
    n_expected = epoch * 2
    assert dc.read_delta(spark, table).count() == n_expected
    assert dc.last_txn_version(table, "app") == epoch - 1
    # the new checkpoint alone must reconstruct state: hide all JSON
    hidden = [u for u in dc._list_commit_versions(table) if u <= ck]
    for u in hidden:
        os.rename(dc._commit_path(table, u), dc._commit_path(table, u) + ".h")
    try:
        assert dc.read_delta(spark, table).count() == n_expected
        assert dc.last_txn_version(table, "app") == epoch - 1
    finally:
        for u in hidden:
            os.rename(dc._commit_path(table, u) + ".h",
                      dc._commit_path(table, u))
    # explicit re-checkpoint after cleanup also works
    dc.checkpoint_delta(table)


def test_v2_checkpoint_write_survives_log_cleanup(spark, tmp_path):
    """Same contract through the V2 path: the next V2 checkpoint after
    a cleanup seeds from the prior manifest + sidecars."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "v2ckpt_after_cleanup")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    dc.enable_v2_checkpoints(table)
    v, epoch = 1, 1
    while v < 11:
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table,
        )
        epoch += 1
    assert dc.cleanup_log(table, keep_versions=0)
    while v < 21:
        v = dc.append_delta(
            spark.range(epoch * 2, epoch * 2 + 2).select(
                F.col("id").alias("k")
            ),
            table,
        )
        epoch += 1
    ck = dc._checkpoint_version(table, None)
    assert ck is not None and ck >= 20
    assert dc.read_delta(spark, table).count() == epoch * 2
    # state from the new V2 set alone
    hidden = [u for u in dc._list_commit_versions(table) if u <= ck]
    for u in hidden:
        os.rename(dc._commit_path(table, u), dc._commit_path(table, u) + ".h")
    try:
        assert dc.read_delta(spark, table).count() == epoch * 2
    finally:
        for u in hidden:
            os.rename(dc._commit_path(table, u) + ".h",
                      dc._commit_path(table, u))


# --------------------------------------------------------------------------
# round 6: adversarial-review regression pins (checkpoint seed, mapped
# OPTIMIZE schema, partitioned-mapped append, foreign maxColumnId)
# --------------------------------------------------------------------------


def test_checkpoint_delta_same_version_after_cleanup(spark, tmp_path):
    """Explicit checkpoint_delta at an ALREADY-checkpointed version
    whose pre-checkpoint JSON was cleaned must seed from the existing
    checkpoint (empty tail), not crash replaying vanished commits."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ckpt_same_v")
    v, i = -1, 0
    while v < 11:
        v = dc.append_delta(
            spark.range(i * 2, i * 2 + 2).select(F.col("id").alias("k")),
            table,
        )
        i += 1
    assert dc.cleanup_log(table, keep_versions=0)
    ck = dc.checkpoint_delta(table)  # no commits since the cadence ckpt
    assert ck == dc.snapshot(table)["version"]
    assert dc.read_delta(spark, table).count() == i * 2


def test_optimize_preserves_evolved_column(spark, tmp_path):
    """Compaction must scan under the LOG schema, not single-footer
    inference: after schema evolution the older files lack the new
    column, and an inferred scan could silently drop its data from the
    rewrite. Pinned for a plain table AND a mapped one (whose evolved
    column lives under a col-<uuid> physical name)."""
    import pyspark.sql.functions as F

    # plain table
    t1 = str(tmp_path / "opt_evolved_plain")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), t1)
    dc.append_delta(
        spark.range(3, 5).select(F.col("id").alias("k"),
                                 (F.col("id") * 7).alias("extra")),
        t1, merge_schema=True,
    )
    before = {(r["k"], r["extra"])
              for r in dc.read_delta(spark, t1).collect()}
    assert (3, 21) in before and (0, None) in before
    dc.optimize_delta(spark, t1)
    after = {(r["k"], r["extra"]) for r in dc.read_delta(spark, t1).collect()}
    assert after == before

    # mapped table with an evolved col-<uuid> physical column
    t2 = str(tmp_path / "opt_evolved_mapped")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), t2)
    dc.enable_column_mapping(t2)
    dc.append_delta(
        spark.range(3, 5).select(F.col("id").alias("k"),
                                 (F.col("id") * 7).alias("extra")),
        t2, merge_schema=True,
    )
    before = {(r["k"], r["extra"])
              for r in dc.read_delta(spark, t2).collect()}
    dc.optimize_delta(spark, t2)
    snap = dc.snapshot(t2)
    assert len(snap["files"]) == 1
    after = {(r["k"], r["extra"]) for r in dc.read_delta(spark, t2).collect()}
    assert after == before


def test_mapped_append_partitioned_foreign_table(spark, tmp_path):
    """A foreign name-mapped PARTITIONED table (physical data columns
    col-<uuid>, physically-named hive dirs) accepts appends: the new
    files land under the physical directory layout and the combined
    state reads back with logical names."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cm_part_tbl")
    _write_parquet(
        spark, [(1, "a")], "`col-aaa111` long, `col-bbb222` string",
        os.path.join(table, "p=x", "part-0.parquet"),
    )
    md = _mapped_meta("name")
    md["metaData"]["partitionColumns"] = ["p"]
    schema = json.loads(md["metaData"]["schemaString"])
    schema["fields"].append(
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "p"}}
    )
    md["metaData"]["schemaString"] = json.dumps(schema)
    md["metaData"]["configuration"]["delta.columnMapping.maxColumnId"] = "3"
    _commit(
        table, 0,
        [_PROTO_CM, md,
         {"add": {"path": "p=x/part-0.parquet", "partitionValues":
                  {"p": "x"}, "size": 1, "modificationTime": 0,
                  "dataChange": True}}],
    )
    dc.append_delta(
        spark.range(1).select(F.col("id").alias("k"),
                              F.lit("y").alias("v"),
                              F.lit("z").alias("part")),
        table, partition_by=["part"],  # LOGICAL partition name
    )
    snap = dc.snapshot(table)
    assert snap["partition_cols"] == ["p"]
    assert all("p=" in f for f in snap["files"])
    got = sorted(
        (r["k"], r["v"], r["part"])
        for r in dc.read_delta(spark, table).collect()
    )
    assert got == [(0, "y", "z"), (1, "a", "x")]


def test_assign_mapping_ids_foreign_table_without_max_column_id(spark,
                                                                tmp_path):
    """A foreign mapped table missing delta.columnMapping.maxColumnId
    must not hand an evolved column a colliding id: the floor is the
    max id present in the schema."""
    import pyspark.sql.functions as F

    table = _seed_mapped_table(spark, tmp_path)  # ids 1, 2 in schema
    # simulate the foreign table: strip maxColumnId from configuration
    snap = dc.snapshot(table)
    cfg = dict(snap["configuration"])
    cfg.pop("delta.columnMapping.maxColumnId", None)
    now = 0
    _commit(
        table, snap["version"] + 1,
        [{"metaData": {
            "id": snap["meta_id"], "format": {"provider": "parquet",
                                              "options": {}},
            "schemaString": snap["schema"], "partitionColumns": [],
            "configuration": cfg, "createdTime": now}}],
    )
    dc.append_delta(
        spark.range(7, 9).select(F.col("id").alias("k"),
                                 F.lit("x").alias("v"),
                                 F.lit("t").alias("tag")),
        table, merge_schema=True,
    )
    snap2 = dc.snapshot(table)
    ids = [f["metadata"]["delta.columnMapping.id"]
           for f in json.loads(snap2["schema"])["fields"]]
    assert len(ids) == len(set(ids)), ids  # no collision
    assert max(ids) == 3
    assert snap2["configuration"]["delta.columnMapping.maxColumnId"] == "3"


def test_enable_v2_on_w6_table_rides_identity_flag(spark, tmp_path):
    """Upgrading a minWriterVersion-6 table lists identityColumns in
    writerFeatures (no capability silently dropped) and the table stays
    writable — the flag gates on actual delta.identity.* presence."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "w6_v2")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    # raise the protocol to legacy (1, 6) by hand
    snap = dc.snapshot(table)
    _commit(table, snap["version"] + 1,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}}])
    dc.enable_v2_checkpoints(table)
    proto = dc.snapshot(table)["protocol"]
    assert "identityColumns" in proto["writerFeatures"]
    dc.append_delta(spark.range(2, 4).select(F.col("id").alias("k")), table)
    assert dc.read_delta(spark, table).count() == 4


def test_in_commit_timestamps_written_and_monotonic(spark, tmp_path):
    """enable_in_commit_timestamps anchors the chain; every later
    commit carries commitInfo.inCommitTimestamp = max(now, prev+1).
    With a backdated-clock simulation (a hand commit stamped far in the
    future) the next append must land at prev+1, not wall-clock — the
    monotonicity the feature exists for. TIMESTAMP AS OF resolves
    through the chain."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ict_tbl")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    v_en = dc.enable_in_commit_timestamps(table)
    cfg = dc.snapshot(table)["configuration"]
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert cfg["delta.inCommitTimestampEnablementVersion"] == str(v_en)
    proto = dc.snapshot(table)["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    assert proto["minReaderVersion"] == 1  # writer-side feature only

    v1 = dc.append_delta(spark.range(2, 4).select(F.col("id").alias("k")),
                         table)
    v2 = dc.append_delta(spark.range(4, 6).select(F.col("id").alias("k")),
                         table)
    icts = {v: dc._commit_timestamp_ms(table, v) for v in (v_en, v1, v2)}
    assert icts[v_en] < icts[v1] < icts[v2]

    # clock-skew simulation: a commit stamped far in the future — the
    # chain must continue at prev+1, never dip back to wall-clock
    future = icts[v2] + 10**9
    snap = dc.snapshot(table)
    dc._publish_commit(  # hand-anchored future commit
        table, snap["version"] + 1,
        [{"commitInfo": {"timestamp": future,
                         "inCommitTimestamp": future}}],
    )
    v3 = dc.append_delta(spark.range(6, 8).select(F.col("id").alias("k")),
                         table)
    assert dc._commit_timestamp_ms(table, v3) == future + 1

    # TIMESTAMP AS OF rides the in-commit chain
    assert dc.resolve_timestamp(table, icts[v1]) == v1
    assert dc.resolve_timestamp(table, icts[v2] - 1) == v1
    assert {r["k"] for r in dc.read_delta(
        spark, table, timestamp_ms=icts[v1]).collect()} == set(range(4))


def test_ict_double_enable_refused_and_retry_strips_stale(
    spark, tmp_path, monkeypatch
):
    import pyspark.sql.functions as F

    table = str(tmp_path / "ict_tbl2")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    dc.enable_in_commit_timestamps(table)
    with pytest.raises(dc.DeltaProtocolError, match="already enabled"):
        dc.enable_in_commit_timestamps(table)
    # an append that loses its version race must not publish the lost
    # attempt's stamp: the rebased commit re-anchors against the race
    # winner (stamped far ahead here, so a stale stamp would undercut it)
    future = dc._commit_timestamp_ms(table, dc.snapshot(table)["version"])
    future += 10**9
    orig = dc._publish_commit
    raced = {"done": False}

    def race(table_, version, actions):
        if not raced["done"]:
            raced["done"] = True
            orig(table_, version, [{"commitInfo": {
                "timestamp": future, "inCommitTimestamp": future}}])
        orig(table_, version, actions)

    monkeypatch.setattr(dc, "_publish_commit", race)
    v = dc.append_delta(spark.range(2, 4).select(F.col("id").alias("k")),
                        table)
    assert raced["done"]
    assert dc._commit_timestamp_ms(table, v) == future + 1


def test_streaming_sink_into_mapped_table(spark, tmp_path):
    """The foreachBatch sink rides append_delta, so a stream lands in a
    name-mapped table (physical names + field ids) with the same
    exactly-once txn handshake — logical column names at the surface,
    mapped layout on disk."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path, "cmw_sink")
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "value")
    sink = dc.streaming_sink(table, "cm-app")
    batch = spark.range(5, 8).select(F.col("id").alias("k"),
                                     (F.col("id") * 10).alias("value"))
    sink(batch, 0)
    sink(batch, 0)  # replayed epoch: no-op
    sink(spark.range(8, 9).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("value")), 1)
    got = {(r["k"], r["value"])
           for r in dc.read_delta(spark, table).collect()}
    assert got == {(i, i * 10) for i in range(9)}


def test_clone_carries_features_and_restarts_ict_chain(spark, tmp_path):
    """A shallow clone of an ICT-enabled v2-checkpoint table must stay
    self-consistent: the protocol features ride along with the
    feature-bound configuration, the clone's commit 0 anchors a FRESH
    timestamp chain (enablement bookkeeping re-pointed at version 0),
    and appends to the clone keep stamping."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ict_src")
    cl = str(tmp_path / "ict_cl")
    dc.append_delta(spark.range(4).select(F.col("id").alias("k")), src)
    dc.enable_in_commit_timestamps(src)
    dc.enable_v2_checkpoints(src)
    dc.clone_delta(src, cl)
    snap = dc.snapshot(cl)
    proto = snap["protocol"]
    assert "inCommitTimestamp" in proto["writerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    assert "v2Checkpoint" in proto["readerFeatures"]
    cfg = snap["configuration"]
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "0"
    ict0 = dc._commit_timestamp_ms(cl, 0)
    assert ict0 > dc._commit_timestamp_ms(src, dc.snapshot(src)["version"]) - 1
    v1 = dc.append_delta(spark.range(4, 6).select(F.col("id").alias("k")),
                         cl)
    assert dc._commit_timestamp_ms(cl, v1) > ict0  # chain alive
    # plain-source clone still gets the minimal legacy protocol
    src2 = str(tmp_path / "plain_src")
    cl2 = str(tmp_path / "plain_cl")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), src2)
    dc.clone_delta(src2, cl2)
    assert dc.snapshot(cl2)["protocol"] == {"minReaderVersion": 1,
                                            "minWriterVersion": 2}


def test_mapping_lifecycle_property(spark, tmp_path):
    """Model-based lifecycle check: random sequences of rename / drop /
    append / evolve-append applied to a mapped table must always read
    back exactly what a plain dict-of-rows model predicts — the
    non-resurrection, fresh-id, and physical-name invariants hold under
    COMPOSITION, not just in the single-step tests."""
    import uuid as uuidlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyspark.sql.functions as F

    step = st.tuples(
        st.sampled_from(["rename", "drop", "append", "evolve"]),
        st.integers(min_value=0, max_value=7),      # choice index
        st.integers(min_value=100, max_value=9999),  # value base
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(step, min_size=3, max_size=6))
    def run(ops):
        table = str(tmp_path / f"prop_{uuidlib.uuid4().hex}")
        dc.append_delta(
            spark.range(3).select(
                F.col("id").alias("c0"), (F.col("id") * 10).alias("c1")
            ),
            table,
        )
        dc.enable_column_mapping(table)
        model = [{"c0": i, "c1": i * 10} for i in range(3)]
        cols = ["c0", "c1"]
        next_col = 2
        for o, idx, base in ops:
            if o == "rename" and cols:
                old = cols[idx % len(cols)]
                new = f"c{next_col}"
                next_col += 1
                dc.rename_column(table, old, new)
                cols[cols.index(old)] = new
                for row in model:
                    row[new] = row.pop(old)
            elif o == "drop" and len(cols) > 1:
                victim = cols[idx % len(cols)]
                dc.drop_column(table, victim)
                cols.remove(victim)
                for row in model:
                    row.pop(victim)
            elif o == "append":
                batch = [
                    {c: base + j * 7 + k for k, c in enumerate(cols)}
                    for j in range(2)
                ]
                dc.append_delta(
                    spark.createDataFrame(
                        [tuple(r[c] for c in cols) for r in batch],
                        ", ".join(f"`{c}` long" for c in cols),
                    ),
                    table,
                )
                model.extend(batch)
            elif o == "evolve":
                new = f"c{next_col}"
                next_col += 1
                batch = [
                    {c: base + j * 7 + k
                     for k, c in enumerate(cols + [new])}
                    for j in range(2)
                ]
                dc.append_delta(
                    spark.createDataFrame(
                        [tuple(r[c] for c in cols + [new]) for r in batch],
                        ", ".join(f"`{c}` long" for c in cols + [new]),
                    ),
                    table, merge_schema=True,
                )
                for row in model:
                    row[new] = None
                model.extend(batch)
                cols.append(new)
        got = dc.read_delta(spark, table)
        assert sorted(got.columns) == sorted(cols)
        def _key(t):
            # evolved columns null-fill older rows; None isn't orderable
            return tuple((v is None, v if v is not None else 0) for v in t)

        got_rows = sorted(
            (tuple(r[c] for c in sorted(cols)) for r in got.collect()),
            key=_key,
        )
        want_rows = sorted(
            (tuple(r[c] for c in sorted(cols)) for r in model), key=_key
        )
        assert got_rows == want_rows
        # mapping ids stay unique (non-resurrection invariant)
        ids = [
            f["metadata"]["delta.columnMapping.id"]
            for f in json.loads(dc.snapshot(table)["schema"])["fields"]
        ]
        assert len(ids) == len(set(ids))

    run()


def test_clone_of_writer_features_only_source_stays_readable(spark,
                                                             tmp_path):
    """A source whose protocol is writer-features-only (ICT enabled, no
    reader feature — minReader stays 1) must clone to a table this
    module can read back: minReaderVersion 3 with an EMPTY feature list
    is a protocol violation _check_protocol rejects."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "wfo_src")
    cl = str(tmp_path / "wfo_cl")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), src)
    dc.enable_in_commit_timestamps(src)
    dc.clone_delta(src, cl)
    proto = dc.snapshot(cl)["protocol"]
    assert proto["minReaderVersion"] == 1
    assert proto["minWriterVersion"] == 7
    assert "readerFeatures" not in proto
    assert "inCommitTimestamp" in proto["writerFeatures"]
    assert dc.read_delta(spark, cl).count() == 3
    dc.append_delta(spark.range(3, 5).select(F.col("id").alias("k")), cl)
    assert dc.read_delta(spark, cl).count() == 5


def test_row_tracking_lifecycle_property(spark, tmp_path):
    """Model-based rowTracking check: random sequences of append /
    DV-delete / OPTIMIZE / RESTORE on a tracked table keep the
    invariants under COMPOSITION, not just in single-step tests — live
    files' fresh-id ranges [baseRowId, baseRowId + numRecords) stay
    pairwise disjoint, the high-water mark never decreases (even across
    a RESTORE, whose domainMetadata stays at its latest value), and the
    logical content always matches a plain set model."""
    import uuid as uuidlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyspark.sql.functions as F

    step = st.tuples(
        st.sampled_from(["append", "dvdel", "optimize", "restore"]),
        st.integers(min_value=0, max_value=9),
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(step, min_size=3, max_size=6))
    def run(ops):
        table = str(tmp_path / f"rtprop_{uuidlib.uuid4().hex}")
        dc.append_delta(
            spark.range(6).coalesce(1).select(F.col("id").alias("k")),
            table,
        )
        dc.enable_row_tracking(table)
        model: set[int] = set(range(6))
        nxt = 100
        snap = dc.snapshot(table)
        hwm_prev = dc.row_id_high_water_mark(snap)
        states: dict[int, frozenset] = {snap["version"]: frozenset(model)}

        def check_and_record():
            nonlocal hwm_prev
            snap = dc.snapshot(table)
            hwm = dc.row_id_high_water_mark(snap)
            assert hwm >= hwm_prev, (hwm, hwm_prev)
            hwm_prev = hwm
            ranges = []
            for f, m in snap["file_row_meta"].items():
                stats = snap["file_stats"].get(f)
                n = json.loads(stats)["numRecords"] if stats else 1
                ranges.append(
                    (m["baseRowId"], m["baseRowId"] + max(int(n), 1))
                )
            ranges.sort()
            for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
                assert b1 <= a2, ranges
            if ranges:
                assert hwm >= ranges[-1][1] - 1, (hwm, ranges)
            got = {r["k"] for r in dc.read_delta(spark, table).collect()}
            assert got == model, (got, model)
            states[snap["version"]] = frozenset(model)

        for o, idx in ops:
            if o == "append":
                vals = list(range(nxt, nxt + 3))
                nxt += 3
                dc.append_delta(
                    spark.createDataFrame(
                        [(v,) for v in vals], "k long"
                    ).coalesce(1),
                    table,
                )
                model |= set(vals)
            elif o == "dvdel":
                if not model:
                    continue
                victim = sorted(model)[idx % len(model)]
                dc.delete_delta_dv(
                    spark, table,
                    spark.createDataFrame([(victim,)], "k long"), ["k"],
                )
                model.discard(victim)
            elif o == "optimize":
                if not dc.snapshot(table)["files"]:
                    continue
                dc.optimize_delta(spark, table)
            elif o == "restore":
                vs = sorted(states)
                target = vs[idx % len(vs)]
                dc.restore_delta(spark, table, target)
                model = set(states[target])
            check_and_record()

    run()


# ---------------------------------------------------------------------------
# replaceWhere partition overwrite
# ---------------------------------------------------------------------------


_RW_DDL = "id long, part string, val double"


def _seed_rw(spark, tmp_path):
    table = str(tmp_path / "rw")
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
            _RW_DDL,
        ),
        table,
        partition_by=["part"],
    )
    return table


def test_replace_where_swaps_only_matching_partition(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    pre_files = set(dc.snapshot(table)["files"])
    batch = spark.createDataFrame([(9, "b", 99.0)], _RW_DDL)
    v = dc.replace_where_delta(spark, batch, table, {"part": "b"})
    got = sorted(
        (r.id, r.part, r.val) for r in dc.read_delta(spark, table).collect()
    )
    assert got == [(1, "a", 10.0), (2, "a", 20.0), (9, "b", 99.0)]
    # the untouched partition's files survive IN PLACE (file-granular
    # overwrite: a is pure metadata carry-over)
    post = set(dc.snapshot(table)["files"])
    assert {f for f in pre_files if "part=a" in f} <= post
    assert not any(f in post for f in pre_files if "part=b" in f)
    # time travel to the pre-overwrite version still reads the old rows
    old = sorted(r.id for r in dc.read_delta(spark, table, version=v - 1).collect())
    assert old == [1, 2, 3, 4]


def test_replace_where_empty_batch_clears_partition(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    empty = spark.createDataFrame([], _RW_DDL)
    dc.replace_where_delta(spark, empty, table, {"part": "a"})
    got = sorted(r.id for r in dc.read_delta(spark, table).collect())
    assert got == [3, 4]


def test_replace_where_refusals(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    stray = spark.createDataFrame([(9, "a", 9.0)], _RW_DDL)
    with pytest.raises(dc.DeltaProtocolError, match="outside the predicate"):
        dc.replace_where_delta(spark, stray, table, {"part": "b"})
    with pytest.raises(dc.DeltaProtocolError, match="partition column"):
        dc.replace_where_delta(spark, stray, table, {"id": "1"})
    with pytest.raises(dc.DeltaProtocolError, match="non-empty"):
        dc.replace_where_delta(spark, stray, table, {})
    flat = str(tmp_path / "flat")
    dc.append_delta(spark.createDataFrame([(1, "a", 1.0)], _RW_DDL), flat)
    with pytest.raises(dc.DeltaProtocolError, match="partitioned table"):
        dc.replace_where_delta(
            spark, stray.filter("part = 'a'"), flat, {"part": "a"}
        )
    # the refused writes must not have committed anything
    assert dc.snapshot(table)["version"] == 0
    assert dc.snapshot(flat)["version"] == 0


def test_replace_where_cdf_subtracts_dvs(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(3,)], "id long"), ["id"]
    )
    batch = spark.createDataFrame([(9, "b", 99.0)], _RW_DDL)
    v = dc.replace_where_delta(
        spark, batch, table, {"part": "b"}, change_data=True
    )
    feed = dc.read_delta_changes(spark, table, v, v)
    deletes = sorted(
        (r.id, r.val)
        for r in feed.filter("_change_type = 'delete'").collect()
    )
    inserts = sorted(
        (r.id, r.val)
        for r in feed.filter("_change_type = 'insert'").collect()
    )
    # id=3 was already DV-erased: it must NOT resurface as a preimage
    assert deletes == [(4, 40.0)]
    assert inserts == [(9, 99.0)]


def test_replace_where_uncaptured_overwrite_refuses_cdf_read(spark, tmp_path):
    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        ChangeDataUnavailableError,
    )

    table = _seed_rw(spark, tmp_path)
    batch = spark.createDataFrame([(9, "b", 99.0)], _RW_DDL)
    v = dc.replace_where_delta(spark, batch, table, {"part": "b"})
    with pytest.raises(ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, v, v).collect()


def test_generated_column_partition_pruning(spark, tmp_path):
    """A predicate on the SOURCE column prunes partitions keyed by its
    GENERATED transform at the metadata layer (OptimizeGeneratedColumn):
    only the implied partition directories' files reach the scan, and
    the pruned read + row filter equals the full read + row filter."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "gen_prune_tbl")
    df = spark.range(40).select(
        F.col("id").alias("k"), F.expr("id DIV 10").alias("b")
    )
    dc.append_delta(df, table, partition_by=["b"])
    dc.declare_generated_column(table, "b", "k DIV 10")
    # later appends enforce the generation expression
    bad = spark.createDataFrame([(50, 9)], "k long, b long")
    with pytest.raises(dc.DeltaConstraintViolation):
        dc.append_delta(bad, table, partition_by=["b"])
    pruned = dc.read_delta(spark, table, partition_prune=("k", 15, 25))
    opened = pruned.inputFiles()
    assert opened and all(("b=1" in f or "b=2" in f) for f in opened)
    got = sorted(
        r.k for r in pruned.filter("k BETWEEN 15 AND 25").collect()
    )
    assert got == list(range(15, 26))
    # unrecognized expression ⇒ no pruning, never wrong results
    full = dc.read_delta(spark, table, partition_prune=("b", 1, 1))
    assert full.count() == 40


def test_dynamic_overwrite_touches_only_batch_partitions(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    pre_files = set(dc.snapshot(table)["files"])
    batch = spark.createDataFrame([(9, "b", 99.0)], _RW_DDL)
    v = dc.dynamic_overwrite_delta(spark, batch, table)
    got = sorted(
        (r.id, r.part, r.val) for r in dc.read_delta(spark, table).collect()
    )
    # 'a' never appears in the batch, so it survives untouched
    assert got == [(1, "a", 10.0), (2, "a", 20.0), (9, "b", 99.0)]
    post = set(dc.snapshot(table)["files"])
    assert {f for f in pre_files if "part=a" in f} <= post
    assert not any(f in post for f in pre_files if "part=b" in f)
    old = sorted(
        r.id for r in dc.read_delta(spark, table, version=v - 1).collect()
    )
    assert old == [1, 2, 3, 4]


def test_dynamic_overwrite_refusals(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    flat = str(tmp_path / "flat_dyn")
    dc.append_delta(spark.createDataFrame([(1, "a", 1.0)], _RW_DDL), flat)
    batch = spark.createDataFrame([(9, "b", 99.0)], _RW_DDL)
    with pytest.raises(dc.DeltaProtocolError, match="unpartitioned"):
        dc.dynamic_overwrite_delta(spark, batch, flat)
    nulled = spark.createDataFrame([(9, None, 99.0)], _RW_DDL)
    with pytest.raises(dc.DeltaProtocolError, match="NULL partition"):
        dc.dynamic_overwrite_delta(spark, nulled, table)
    skinny = spark.createDataFrame([(9, "b")], "id long, part string")
    with pytest.raises(dc.DeltaProtocolError, match="schema"):
        dc.dynamic_overwrite_delta(spark, skinny, table)
    assert dc.snapshot(table)["version"] == 0
    assert dc.snapshot(flat)["version"] == 0


def test_dynamic_overwrite_mapped_rename_logical_batch(spark, tmp_path):
    """Dynamic overwrite composes with column mapping: after RENAME
    COLUMN the batch arrives with LOGICAL names, touched partitions
    derive from the logical frame, and the staged files land under the
    PHYSICAL binding; the read returns logical names."""
    table = _seed_rw(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "val", "amount")
    batch = spark.createDataFrame(
        [(9, "b", 99.0)], "id long, part string, amount double"
    )
    dc.dynamic_overwrite_delta(spark, batch, table)
    got = sorted(
        (r.id, r.part, r.amount)
        for r in dc.read_delta(spark, table).collect()
    )
    assert got == [(1, "a", 10.0), (2, "a", 20.0), (9, "b", 99.0)]


def test_overwrite_schema_swaps_schema_and_partitioning(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    gold = spark.createDataFrame(
        [("a", 2), ("b", 2)], "part string, n long"
    )
    v = dc.overwrite_schema_delta(spark, gold, table)
    got = sorted((r.part, r.n) for r in dc.read_delta(spark, table).collect())
    assert got == [("a", 2), ("b", 2)]
    snap = dc.snapshot(table)
    assert snap["partition_cols"] == []
    # time travel resolves the OLD files with the OLD (log-anchored) schema
    old = sorted(
        (r.id, r.part, r.val)
        for r in dc.read_delta(spark, table, version=v - 1).collect()
    )
    assert old == [
        (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)
    ]


def test_overwrite_schema_refusals(spark, tmp_path):
    table = _seed_rw(spark, tmp_path)
    dc.add_constraint(spark, table, "val_pos", "val > 0")
    gold = spark.createDataFrame([("a", 2)], "part string, n long")
    # the CHECK constraint references `val`, gone from the new schema
    with pytest.raises(dc.DeltaProtocolError, match="constraint"):
        dc.overwrite_schema_delta(spark, gold, table)
    with pytest.raises(dc.DeltaProtocolError, match="partition columns"):
        dc.overwrite_schema_delta(spark, gold, table, partition_by=["zz"])


def test_overwrite_schema_on_mapped_table(spark, tmp_path):
    """overwriteSchema on a COLUMN-MAPPED table (late round 8):
    retained logical names keep their mapping id + physical name, a
    re-added previously-renamed name mints a FRESH id (never re-reads
    the old physical bytes), new columns mint from maxColumnId, staged
    files carry physical names + field ids, and a logical
    partition_by translates to the physical hive layout. Pre-swap
    time travel resolves the old binding."""
    mapped = _seed_rw(spark, tmp_path / "m")
    dc.enable_column_mapping(mapped)
    dc.rename_column(mapped, "val", "amount")
    gold = spark.createDataFrame(
        [("a", 2, 1.5), ("b", 2, 2.5)], "part string, n long, val double"
    )
    v = dc.overwrite_schema_delta(
        spark, gold, mapped, partition_by=["part"]
    )
    got = sorted(
        (r.part, r.n, r.val)
        for r in dc.read_delta(spark, mapped).collect()
    )
    assert got == [("a", 2, 1.5), ("b", 2, 2.5)]
    sch = json.loads(dc.snapshot(mapped)["schema"])
    meta_of = {f["name"]: f["metadata"] for f in sch["fields"]}
    # retained name kept its id; the re-added 'val' name minted fresh
    # (the ORIGINAL 'val' id belongs to the renamed 'amount' lineage)
    assert meta_of["part"]["delta.columnMapping.physicalName"] == "part"
    assert meta_of["val"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    assert {
        int(m["delta.columnMapping.id"]) for m in meta_of.values()
    }.__len__() == 3
    # partitionColumns keyed physically (= 'part', unrenamed)
    assert dc.snapshot(mapped)["partition_cols"] == ["part"]
    # pre-swap time travel resolves the OLD binding with logical names
    old = sorted(
        (r.id, r.part, r.amount)
        for r in dc.read_delta(spark, mapped, version=v - 1).collect()
    )
    assert old == [
        (1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)
    ]
    # appends under the new binding keep working
    dc.append_delta(
        spark.createDataFrame(
            [("c", 3, 3.5)], "part string, n long, val double"
        ),
        mapped,
        partition_by=["part"],
    )
    assert dc.read_delta(spark, mapped).count() == 3


def test_mapped_zorder_clusters_on_logical_keys(spark, tmp_path):
    """OPTIMIZE ZORDER BY on a column-mapped table: clustering keys are
    LOGICAL names (incl. renamed ones); the rewrite translates them to
    the physical columns, keeps the physical names + field ids in the
    compacted files, and logical-key data skipping prunes the z-ordered
    output."""
    import pyspark.sql.functions as F

    table = _fresh_kv_table(spark, tmp_path)
    dc.enable_column_mapping(table)
    dc.rename_column(table, "v", "value")
    dc.append_delta(
        spark.range(5, 40).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("value")),
        table,
    )
    before = {(r["k"], r["value"])
              for r in dc.read_delta(spark, table).collect()}
    dc.optimize_delta(spark, table, target_partitions=4,
                      zorder_by=["k", "value"])
    snap = dc.snapshot(table)
    assert all(pq.read_schema(f).names == ["k", "v"] for f in snap["files"])
    after = {(r["k"], r["value"])
             for r in dc.read_delta(spark, table).collect()}
    assert after == before
    # logical-key skipping prunes most z-ordered files but never rows
    got = {r["k"] for r in dc.read_delta(
        spark, table, skip=("value", 0, 90)).filter("value <= 90").collect()}
    assert got == set(range(10))
    with pytest.raises(dc.DeltaProtocolError, match="not columns"):
        dc.optimize_delta(spark, table, zorder_by=["nope"])


# ---------------------------------------------------------------------------
# GENERATED IDENTITY columns
# ---------------------------------------------------------------------------


def test_identity_minting_contiguous_and_hwm_advances(spark, tmp_path):
    """Each minting append assigns the contiguous next range past the
    high-water mark (any permutation — the certificate is range
    accounting), and the mark advances in the SAME commit's metaData."""
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.range(7).selectExpr("CAST(id AS STRING) AS k").repartition(4),
        table,
        identity={"column": "rid", "start": 5, "step": 3},
    )
    spec = dc.table_identity_columns(dc.snapshot(table)["schema"])["rid"]
    assert spec == {"start": 5, "step": 3, "hwm": 5 + 3 * 6,
                    "allow_explicit": False}
    ids = sorted(r.rid for r in dc.read_delta(spark, table).collect())
    assert ids == [5 + 3 * i for i in range(7)]
    dc.append_delta(
        spark.range(3).selectExpr("CAST(id + 100 AS STRING) AS k"), table
    )
    ids = sorted(r.rid for r in dc.read_delta(spark, table).collect())
    assert ids == [5 + 3 * i for i in range(10)]
    assert dc.table_identity_columns(
        dc.snapshot(table)["schema"]
    )["rid"]["hwm"] == 5 + 3 * 9


def test_identity_generated_always_refuses_explicit(spark, tmp_path):
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.range(2).selectExpr("CAST(id AS STRING) AS k"), table,
        identity={"column": "rid", "start": 1, "step": 1},
    )
    with pytest.raises(dc.DeltaProtocolError, match="GENERATED ALWAYS"):
        dc.append_delta(
            spark.createDataFrame([("x", 99)], "k string, rid long"), table
        )


def test_identity_by_default_explicit_bumps_hwm(spark, tmp_path):
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.range(2).selectExpr("CAST(id AS STRING) AS k"), table,
        identity={"column": "rid", "start": 1, "step": 1,
                  "allow_explicit": True},
    )
    dc.append_delta(
        spark.createDataFrame([("x", 50)], "k string, rid long"), table
    )
    assert dc.table_identity_columns(
        dc.snapshot(table)["schema"]
    )["rid"]["hwm"] == 50
    # the next mint starts above the explicit value
    dc.append_delta(
        spark.createDataFrame([("y",)], "k string"), table
    )
    ids = sorted(r.rid for r in dc.read_delta(spark, table).collect())
    assert ids == [1, 2, 50, 51]


def test_identity_hwm_survives_checkpoint(spark, tmp_path):
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.range(4).selectExpr("CAST(id AS STRING) AS k"), table,
        identity={"column": "rid", "start": 1, "step": 1},
    )
    dc.checkpoint_delta(table)
    dc.cleanup_log(table)
    dc.append_delta(spark.createDataFrame([("z",)], "k string"), table)
    ids = sorted(r.rid for r in dc.read_delta(spark, table).collect())
    assert ids == [1, 2, 3, 4, 5]


def test_identity_value_preserving_verbs_allowed_row_introducing_refuse(
    spark, tmp_path
):
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.range(6).selectExpr("CAST(id AS STRING) AS k"), table,
        identity={"column": "rid", "start": 1, "step": 1},
    )
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([("0",)], "k string"), ["k"]
    )
    dc.optimize_delta(spark, table)
    assert sorted(
        r.rid for r in dc.read_delta(spark, table).collect()
    ) == [2, 3, 4, 5, 6]
    # MERGE with an EXPLICIT identity value still refuses on ALWAYS
    src = spark.createDataFrame([("1", 99)], "k string, rid long")
    with pytest.raises(dc.DeltaProtocolError, match="GENERATED ALWAYS"):
        dc.merge_delta(spark, table, src, ["k"])
    with pytest.raises(dc.DeltaProtocolError, match="identity column"):
        dc.rename_column(table, "rid", "row_id")


def test_identity_merge_updates_keep_ids_inserts_mint(spark, tmp_path):
    """MERGE on an identity table (round 8 — previously the writer
    gate refused): matched rows KEEP their minted id, unmatched rows
    take the next contiguous range, the mark rides the merge commit's
    metaData, and pre-merge time travel keeps the old assignment. A
    DV-erased key is NOT live, so merging it back is an INSERT with a
    fresh id (the row was deleted; its id retired with it)."""
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.createDataFrame(
            [(str(i), float(i)) for i in range(6)], "k string, v double"
        ),
        table,
        identity={"column": "rid", "start": 1, "step": 1},
    )
    base = {r.k: r.rid for r in dc.read_delta(spark, table).collect()}
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([("0",)], "k string"), ["k"]
    )
    src = spark.createDataFrame(
        [("1", 101.0), ("2", 102.0), ("0", 100.0), ("9", 109.0)],
        "k string, v double",
    )
    v = dc.merge_delta(spark, table, src, ["k"])
    rows = {r.k: r for r in dc.read_delta(spark, table).collect()}
    # matched keys keep their original minted ids, with the new values
    assert rows["1"].rid == base["1"] and rows["1"].v == 101.0
    assert rows["2"].rid == base["2"] and rows["2"].v == 102.0
    # the erased key and the new key are inserts: fresh contiguous ids
    assert sorted([rows["0"].rid, rows["9"].rid]) == [7, 8]
    assert dc.table_identity_columns(
        dc.snapshot(table)["schema"]
    )["rid"]["hwm"] == 8
    # pre-merge time travel: original live assignment intact
    pre = {r.k: r.rid
           for r in dc.read_delta(spark, table, version=v - 1).collect()}
    assert pre == {k: i for k, i in base.items() if k != "0"}
    # the next mint continues above the merge's range
    dc.append_delta(
        spark.createDataFrame([("z", 0.0)], "k string, v double"), table
    )
    assert max(
        r.rid for r in dc.read_delta(spark, table).collect()
    ) == 9


def test_identity_merge_by_default_explicit_source(spark, tmp_path):
    """GENERATED BY DEFAULT: a merge source CARRYING the identity
    column is an explicit upsert — accepted, and the mark jumps past
    the supplied maximum so later mints never collide."""
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.createDataFrame([("a",), ("b",)], "k string"), table,
        identity={"column": "rid", "start": 1, "step": 1,
                  "allow_explicit": True},
    )
    dc.merge_delta(
        spark, table,
        spark.createDataFrame([("b", 40), ("c", 41)], "k string, rid long"),
        ["k"],
    )
    rows = {r.k: r.rid for r in dc.read_delta(spark, table).collect()}
    assert rows["b"] == 40 and rows["c"] == 41
    assert dc.table_identity_columns(
        dc.snapshot(table)["schema"]
    )["rid"]["hwm"] == 41
    dc.append_delta(spark.createDataFrame([("d",)], "k string"), table)
    assert {r.k: r.rid
            for r in dc.read_delta(spark, table).collect()}["d"] == 42


def test_identity_merge_key_on_omitted_identity_refuses(spark, tmp_path):
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.createDataFrame([("a",)], "k string"), table,
        identity={"column": "rid", "start": 1, "step": 1},
    )
    with pytest.raises(dc.DeltaProtocolError, match="MERGE keys"):
        dc.merge_delta(
            spark, table,
            spark.createDataFrame([("a",)], "k string"), ["rid"],
        )


def test_identity_merge_partitioned(spark, tmp_path):
    """identity MERGE composes with hive partitioning: survivors and
    the completed source rewrite through the partitionBy staging write
    like any COW merge; ids stay a permutation of the exact ranges."""
    table = str(tmp_path / "idt")
    dc.append_delta(
        spark.createDataFrame(
            [(str(i), i % 2) for i in range(8)], "k string, d int"
        ),
        table,
        partition_by=["d"],
        identity={"column": "rid", "start": 1, "step": 1},
    )
    src = spark.createDataFrame(
        [("1", 0), ("100", 1), ("101", 0)], "k string, d int"
    )
    dc.merge_delta(spark, table, src, ["k"])
    rows = dc.read_delta(spark, table).collect()
    assert sorted(r.rid for r in rows) == list(range(1, 11))
    # the matched key moved partition (d 1 → 0) but kept its id ≤ 8
    moved = [r for r in rows if r.k == "1"][0]
    assert moved.d == 0 and moved.rid <= 8
    assert sorted(
        r.rid for r in rows if r.k in ("100", "101")
    ) == [9, 10]


# ---------------------------------------------------------------------------
# column mapping × hive partitioning (end-to-end composition)
# ---------------------------------------------------------------------------


def _mk_mapped_part(spark, tmp_path, mode="name"):
    table = str(tmp_path / "mp")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i), i % 3) for i in range(12)],
        "k long, user string, amt double, d int",
    )
    dc.append_delta(df, table, partition_by=["d"])
    dc.enable_column_mapping(table, mode=mode)
    dc.rename_column(table, "d", "day")     # PARTITION column rename
    dc.rename_column(table, "user", "uid")  # data column rename
    return table


def test_mapped_partitioned_rename_append_time_travel(spark, tmp_path):
    """enable mapping on a PARTITIONED table, rename the partition
    column and a data column (both metadata-only), append under the
    LOGICAL names; the physical layout stays keyed by the original
    names and pre-rename time travel serves the old schema."""
    table = _mk_mapped_part(spark, tmp_path)
    dc.append_delta(
        spark.createDataFrame(
            [(100, "uX", 1.0, 1)], "k long, uid string, amt double, day int"
        ),
        table,
        partition_by=["day"],  # logical name
    )
    got = dc.read_delta(spark, table)
    assert sorted(got.columns) == ["amt", "day", "k", "uid"]
    assert got.count() == 13
    assert got.filter("day = 1").count() == 5
    # spec compliance: partitionColumns, directories and add
    # partitionValues all keep the PHYSICAL name 'd'
    snap = dc.snapshot(table)
    assert snap["partition_cols"] == ["d"]
    assert all("d=" in f for f in snap["files"])
    # pre-rename time travel serves the original logical schema
    old = dc.read_delta(spark, table, version=0)
    assert sorted(old.columns) == ["amt", "d", "k", "user"]
    assert old.count() == 12


def test_mapped_partitioned_append_wrong_partition_name_refuses(
    spark, tmp_path
):
    table = _mk_mapped_part(spark, tmp_path)
    with pytest.raises(dc.DeltaProtocolError, match="partitioned by"):
        dc.append_delta(
            spark.createDataFrame(
                [(1, "u", 1.0, 0)],
                "k long, uid string, amt double, day int",
            ),
            table,
            partition_by=["uid"],
        )


def test_mapped_partitioned_dv_cow_optimize_replacewhere(spark, tmp_path):
    """the full verb set on a renamed partitioned table: DV delete,
    COW merge, OPTIMIZE WHERE and replaceWhere all take LOGICAL
    predicate/key names and preserve the physical layout."""
    table = _mk_mapped_part(spark, tmp_path)
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    assert dc.read_delta(spark, table).count() == 11
    src = spark.createDataFrame(
        [(1, "zz", 99.0, 1), (500, "new", 5.0, 2)],
        "k long, uid string, amt double, day int",
    )
    dc.merge_delta(spark, table, src, ["k"])
    got = {
        r["k"]: (r["uid"], r["amt"], r["day"])
        for r in dc.read_delta(spark, table)
        .filter("k in (0, 1, 500)")
        .collect()
    }
    assert got == {1: ("zz", 99.0, 1), 500: ("new", 5.0, 2)}
    dc.optimize_delta(spark, table, where={"day": "1"})  # logical key
    assert dc.read_delta(spark, table).count() == 12
    dc.replace_where_delta(
        spark,
        spark.createDataFrame(
            [(700, "rw", 1.0, 0)], "k long, uid string, amt double, day int"
        ),
        table,
        {"day": "0"},  # logical key
    )
    per_day = {
        r["day"]: r["count"]
        for r in dc.read_delta(spark, table).groupBy("day").count().collect()
    }
    assert per_day == {0: 1, 1: 4, 2: 5}
    with pytest.raises(dc.DeltaProtocolError, match="partition columns"):
        dc.replace_where_delta(
            spark,
            spark.createDataFrame(
                [(1, "x", 1.0, 0)], "k long, uid string, amt double, day int"
            ),
            table,
            {"uid": "x"},
        )


def test_mapped_partitioned_cdf_all_shapes(spark, tmp_path):
    """CDF capture and replay across merge, replaceWhere, DV delete
    and a synthesized-insert append on a renamed partitioned table —
    logical names out, partition values intact."""
    table = _mk_mapped_part(spark, tmp_path)
    dc.merge_delta(
        spark,
        table,
        spark.createDataFrame(
            [(1, "X", 9.0, 1)], "k long, uid string, amt double, day int"
        ),
        ["k"],
        change_data=True,
    )
    v = dc.snapshot(table)["version"]
    ch = dc.read_delta_changes(spark, table, v, v)
    assert sorted((r["k"], r["_change_type"]) for r in ch.collect()) == [
        (1, "update_postimage"),
        (1, "update_preimage"),
    ]
    dc.replace_where_delta(
        spark,
        spark.createDataFrame(
            [(70, "rw", 1.0, 0)], "k long, uid string, amt double, day int"
        ),
        table,
        {"day": "0"},
        change_data=True,
    )
    v = dc.snapshot(table)["version"]
    ch = dc.read_delta_changes(spark, table, v, v)
    got = sorted((r["k"], r["_change_type"], r["day"]) for r in ch.collect())
    assert (70, "insert", 0) in got
    assert all(t == "delete" for _, t, _ in got[:-1])
    dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(4,)], "k long"), ["k"],
        change_data=True,
    )
    v = dc.snapshot(table)["version"]
    ch = dc.read_delta_changes(spark, table, v, v)
    assert [(r["k"], r["_change_type"], r["day"]) for r in ch.collect()] == [
        (4, "delete", 1)
    ]
    dc.append_delta(
        spark.createDataFrame(
            [(80, "ap", 1.0, 2)], "k long, uid string, amt double, day int"
        ),
        table,
        partition_by=["day"],
    )
    v = dc.snapshot(table)["version"]
    ch = dc.read_delta_changes(spark, table, v, v)
    assert [(r["k"], r["_change_type"], r["day"]) for r in ch.collect()] == [
        (80, "insert", 2)
    ]


def test_mapped_partitioned_id_mode_checkpoint_survival(spark, tmp_path):
    """id-mode mapping on a partitioned table: appends resolve
    partition columns via metadata physicalName (no footer carries
    them), and the state survives checkpoint + log cleanup."""
    table = str(tmp_path / "mpid")
    dc.append_delta(
        spark.createDataFrame(
            [(i, f"n{i}", i % 2) for i in range(8)],
            "k long, name string, d int",
        ),
        table,
        partition_by=["d"],
    )
    dc.enable_column_mapping(table, mode="id")
    dc.rename_column(table, "d", "day")
    dc.append_delta(
        spark.createDataFrame([(50, "x", 0)], "k long, name string, day int"),
        table,
        partition_by=["day"],
    )
    dc.checkpoint_delta(table)
    dc.cleanup_log(table)
    got = dc.read_delta(spark, table)
    assert got.count() == 9
    assert got.filter("day = 0").count() == 5
    dc.optimize_delta(spark, table)  # compaction re-attaches field ids
    assert dc.read_delta(spark, table).count() == 9


def test_drop_renamed_partition_column_refuses(spark, tmp_path):
    table = _mk_mapped_part(spark, tmp_path)
    with pytest.raises(dc.DeltaProtocolError, match="partition column"):
        dc.drop_column(table, "day")


def test_restore_cdf_partitioned_and_mapped(spark, tmp_path):
    """RESTORE change-data capture on partitioned and on mapped
    tables: inserts/deletes read through the same scan shapes as every
    verb (partition values recovered, physical names renamed — the old
    logical-schema-over-physical-files read silently produced NULL
    columns)."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "rc_part")
    dc.append_delta(
        spark.createDataFrame([(i, i % 2) for i in range(10)],
                              "k long, d int"),
        t, partition_by=["d"],
    )
    dc.replace_where_delta(
        spark, spark.createDataFrame([(100, 0)], "k long, d int"),
        t, {"d": "0"},
    )
    v = dc.restore_delta(spark, t, 0, change_data=True)
    ch = dc.read_delta_changes(spark, t, v, v)
    got = sorted((r["k"], r["_change_type"], r["d"]) for r in ch.collect())
    assert got == [(0, "insert", 0), (2, "insert", 0), (4, "insert", 0),
                   (6, "insert", 0), (8, "insert", 0), (100, "delete", 0)]

    t2 = str(tmp_path / "rc_mapped")
    dc.append_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t2
    )
    dc.enable_column_mapping(t2)
    dc.rename_column(t2, "v", "val")
    dc.merge_delta(
        spark, t2, spark.createDataFrame([(3, "c")], "k long, val string"),
        ["k"],
    )
    v2 = dc.restore_delta(spark, t2, 2, change_data=True)
    ch2 = dc.read_delta_changes(spark, t2, v2, v2)
    assert sorted(
        (r["k"], r["val"], r["_change_type"]) for r in ch2.collect()
    ) == [(3, "c", "delete")]  # never (3, None, ...): names resolved


def test_overwrite_full_table_all_shapes(spark, tmp_path):
    """Plain mode('overwrite'): one commit swaps the whole live set;
    time travel keeps the old files; CDF preimages are the DV-
    subtracted LIVE rows; composes with mapping + renamed partition
    columns; schema drift refuses."""
    t = str(tmp_path / "ow")
    dc.append_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    v = dc.overwrite_delta(
        spark, spark.createDataFrame([(9, "z")], "k long, v string"), t,
        change_data=True,
    )
    assert [(r["k"], r["v"]) for r in dc.read_delta(spark, t).collect()] \
        == [(9, "z")]
    assert dc.read_delta(spark, t, version=0).count() == 2
    ch = dc.read_delta_changes(spark, t, v, v)
    assert sorted((r["k"], r["_change_type"]) for r in ch.collect()) == [
        (1, "delete"), (2, "delete"), (9, "insert")
    ]
    with pytest.raises(dc.DeltaProtocolError, match="schema"):
        dc.overwrite_delta(
            spark, spark.createDataFrame([(1,)], "k long"), t
        )

    t2 = str(tmp_path / "ow_mapped")
    dc.append_delta(
        spark.createDataFrame([(i, i % 2) for i in range(8)],
                              "k long, d int"),
        t2, partition_by=["d"],
    )
    dc.enable_column_mapping(t2)
    dc.rename_column(t2, "d", "day")
    dc.delete_delta_dv(
        spark, t2, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    v2 = dc.overwrite_delta(
        spark,
        spark.createDataFrame([(50, 0), (51, 1)], "k long, day int"),
        t2, change_data=True,
    )
    assert sorted(
        (r["k"], r["day"]) for r in dc.read_delta(spark, t2).collect()
    ) == [(50, 0), (51, 1)]
    ch = dc.read_delta_changes(spark, t2, v2, v2)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert (0, "delete") not in got  # DV-erased row must not resurface
    assert got[-2:] == [(50, "insert"), (51, "insert")]
    assert dc.read_delta(spark, t2, version=v2 - 1).count() == 7


def test_enable_column_mapping_never_downgrades_protocol(spark, tmp_path):
    """enable_column_mapping on a legacy (1, 6) table must emit
    (2, 6), not (2, 5): the Delta spec forbids a writer LOWERING
    either protocol version, and a later replay would take the
    lowered protocol as latest (the round-8 advisor finding, fixed
    with max() in the legacy upgrade branch)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "w6_map")
    dc.append_delta(spark.range(2).select(F.col("id").alias("k")), table)
    snap = dc.snapshot(table)
    _commit(table, snap["version"] + 1,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}}])
    dc.enable_column_mapping(table)
    p = dc.snapshot(table)["protocol"]
    assert p["minReaderVersion"] == 2
    assert p["minWriterVersion"] == 6  # never 6 -> 5
    # the upgraded table stays writable and readable through the mapping
    dc.append_delta(spark.range(2, 4).select(F.col("id").alias("k")), table)
    assert dc.read_delta(spark, table).count() == 4


def test_v2_sidecar_schema_carries_remove_column(spark, tmp_path):
    """V2 checkpoint sidecars must carry BOTH add and remove columns
    (the v2 spec's sidecar file shape): this writer's checkpoints are
    net-of-log so remove is always null-valued, but a foreign reader
    (delta-kernel/delta-spark) projecting `remove` from a sidecar must
    find the column rather than fail."""
    import glob

    import pyspark.sql.functions as F

    table = str(tmp_path / "v2_rm")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), table)
    dc.enable_v2_checkpoints(table)
    dc.append_delta(spark.range(3, 6).select(F.col("id").alias("k")), table)
    dc.checkpoint_delta(table)
    sidecars = glob.glob(
        os.path.join(table, "_delta_log", "_sidecars", "*.parquet")
    )
    assert sidecars
    for sc in sidecars:
        names = pq.read_schema(sc).names
        assert "add" in names and "remove" in names


def test_domain_metadata_lifecycle(spark, tmp_path):
    """set → read; update wins; tombstone removes; checkpoint carries
    live domains (replay from checkpoint alone must resolve them);
    delta.* and unknown-domain removals refuse."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "dm_tbl")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), table)
    dc.set_domain_metadata(table, "app.a", {"x": "1"})
    dc.set_domain_metadata(table, "app.b", "{\"y\": \"2\"}")
    snap = dc.snapshot(table)
    assert snap["domain_metadata"]["app.a"] == '{"x": "1"}'
    assert snap["domain_metadata"]["app.b"] == '{"y": "2"}'
    proto = snap["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "domainMetadata" in proto["writerFeatures"]
    # update wins, tombstone removes
    dc.set_domain_metadata(table, "app.a", {"x": "9"})
    dc.remove_domain_metadata(table, "app.b")
    snap = dc.snapshot(table)
    assert snap["domain_metadata"] == {"app.a": '{"x": "9"}'}
    # checkpoint carries live domains: hide the JSON tail behind it
    dc.append_delta(spark.range(3, 5).select(F.col("id").alias("k")),
                    table)
    ck_v = dc.checkpoint_delta(table)
    for v in range(ck_v + 1):
        os.rename(dc._commit_path(table, v),
                  dc._commit_path(table, v) + ".h")
    try:
        snap = dc.snapshot(table)
        assert snap["domain_metadata"] == {"app.a": '{"x": "9"}'}
        assert "app.b" not in snap["domain_metadata"]
    finally:
        for v in range(ck_v + 1):
            os.rename(dc._commit_path(table, v) + ".h",
                      dc._commit_path(table, v))
    # refusals
    with pytest.raises(dc.DeltaProtocolError):
        dc.set_domain_metadata(table, "delta.clustering", {"z": "1"})
    with pytest.raises(dc.DeltaProtocolError):
        dc.remove_domain_metadata(table, "app.never_set")
    # the upgraded table still appends and rewrite verbs preserve
    # domains they don't own
    dc.append_delta(spark.range(5, 7).select(F.col("id").alias("k")),
                    table)
    dc.optimize_delta(spark, table)
    assert dc.snapshot(table)["domain_metadata"] == {
        "app.a": '{"x": "9"}'
    }
    assert dc.read_delta(spark, table).count() == 7


def test_column_defaults_lifecycle(spark, tmp_path):
    """SET DEFAULT fills only omitted columns; full-schema appends are
    untouched; pre-feature missing-column appends refuse (unchanged);
    unknown/identity/generated columns refuse; the feature lands in
    the protocol and pre-default time travel is intact."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cd_tbl")
    seed = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    dc.append_delta(seed, table)
    # without a default, an omitted column still refuses
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(
            spark.range(3, 5).select(F.col("id").alias("k")), table
        )
    v_alter = dc.add_column_default(table, "v", "CAST(99 AS BIGINT)")
    proto = dc.snapshot(table)["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "allowColumnDefaults" in proto["writerFeatures"]
    dc.append_delta(
        spark.range(3, 5).select(F.col("id").alias("k")), table
    )
    dc.append_delta(
        spark.range(5, 7).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        ),
        table,
    )
    got = sorted(
        (r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()
    )
    assert got == [(0, 0), (1, 10), (2, 20), (3, 99), (4, 99),
                   (5, 7), (6, 7)]
    # pre-default time travel: only the seed, old schema metadata
    assert dc.read_delta(spark, table, version=v_alter - 1).count() == 3
    # refusals
    with pytest.raises(dc.DeltaProtocolError):
        dc.add_column_default(table, "nope", "1")


def test_follow_delta_appends_lifecycle(spark, tmp_path):
    """st24's source semantics, pinned piecewise: version-ordered
    admission chunked by max_files_per_trigger (a multi-file commit
    spans epochs), dataChange:false commits invisible (OPTIMIZE never
    re-emits), a dataChange REMOVE raises by default and skips its
    WHOLE commit under on_data_change='skip', txn-ledger replay
    no-ops, and partitioned/mapped sources refuse by name."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "st24_src")
    seen: list[tuple[int, list[int]]] = []

    def tap(df, epoch):
        seen.append((epoch, sorted(r["k"] for r in df.collect())))

    def mk(lo, hi, parts):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"))
            .repartition(parts)
        )

    dc.append_delta(mk(0, 4, 2), table)       # v0: 2 files
    dc.append_delta(mk(4, 10, 3), table)      # v1: 3 files
    cur, ep = dc.follow_delta_appends(
        spark, table, tap, max_files_per_trigger=2,
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert cur == 2 and ep == 3  # 5 files / 2 per trigger = 3 epochs
    assert [e for e, _ in seen] == [0, 1, 2]
    assert sorted(k for _, ks in seen for k in ks) == list(range(10))
    # chunking never crosses the version boundary out of order: epoch
    # 0 is entirely v0 (2 files), epochs 1-2 carry v1's 3 files
    assert seen[0][1] == sorted(seen[0][1]) and max(seen[0][1]) <= 3

    # OPTIMIZE (dataChange:false) must be invisible
    dc.optimize_delta(spark, table, target_partitions=1)
    seen.clear()
    cur, ep = dc.follow_delta_appends(
        spark, table, tap, start_version=cur, start_epoch=ep,
        max_files_per_trigger=2, max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert cur == 3 and ep == 3 and seen == []

    # a real rewrite (dataChange remove) is not an append
    dc.delete_delta(
        spark, table,
        spark.range(0, 2).select(F.col("id").alias("k")), ["k"],
    )
    with pytest.raises(dc.DeltaProtocolError, match="append-only"):
        dc.follow_delta_appends(
            spark, table, tap, start_version=cur,
            max_cycles=1, sleep_fn=lambda _s: None,
        )
    # skip mode drops the WHOLE rewrite commit (its adds carry
    # pre-existing rows), then admits the next plain append
    dc.append_delta(mk(10, 12, 1), table)
    seen.clear()
    cur2, ep2 = dc.follow_delta_appends(
        spark, table, tap, start_version=cur, start_epoch=ep,
        on_data_change="skip", max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert sorted(k for _, ks in seen for k in ks) == [10, 11]

    # exactly-once through the txn sink: full-history replay no-ops
    sink_t = str(tmp_path / "st24_sink")
    sink = dc.streaming_sink(sink_t, "t24")
    dc.follow_delta_appends(
        spark, table, sink, on_data_change="skip",
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    once = dc.read_delta(spark, sink_t).count()
    dc.follow_delta_appends(
        spark, table, sink, on_data_change="skip",
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert dc.read_delta(spark, sink_t).count() == once

    # partitioned sources tail through the partition-recovering scan:
    # hive directory values come back typed per the LOG schema
    ptab = str(tmp_path / "st24_part")
    dc.append_delta(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ),
        ptab, partition_by=["p"],
    )
    dc.append_delta(
        spark.range(4, 6).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ),
        ptab, partition_by=["p"],
    )
    got: list[tuple[int, int]] = []

    def ptap(df, epoch):
        assert dict(df.dtypes) == {"k": "bigint", "p": "bigint"}
        got.extend((r["k"], r["p"]) for r in df.collect())

    dc.follow_delta_appends(
        spark, ptab, ptap, max_files_per_trigger=3,
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert sorted(got) == [(i, i % 2) for i in range(6)]

    # column-mapped sources tail under the physical schema and emit
    # LOGICAL names: rename k -> kk, append under physical names, and
    # the follower's batches carry kk end-to-end
    mtab = str(tmp_path / "st24_mapped")
    dc.append_delta(spark.range(4).select(F.col("id").alias("k")), mtab)
    dc.enable_column_mapping(mtab)
    dc.rename_column(mtab, "k", "kk")
    dc.append_delta(
        spark.range(4, 6).select(F.col("id").alias("kk")), mtab
    )
    mgot: list[int] = []

    def mtap(df, epoch):
        assert df.columns == ["kk"]
        mgot.extend(r["kk"] for r in df.collect())

    dc.follow_delta_appends(
        spark, mtab, mtap, max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert sorted(mgot) == list(range(6))

    # id-mode tail: footer field ids resolve over exactly the chunk
    itab = str(tmp_path / "st24_idmode")
    dc.append_delta(spark.range(3).select(F.col("id").alias("k")), itab)
    dc.enable_column_mapping(itab, mode="id")
    dc.append_delta(spark.range(3, 5).select(F.col("id").alias("k")), itab)
    igot: list[int] = []
    dc.follow_delta_appends(
        spark, itab,
        lambda df, e: igot.extend(r["k"] for r in df.collect()),
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert sorted(igot) == list(range(5))

    # mapped x partitioned composes: physical col=value dirs admit,
    # the batch arrives under LOGICAL names with typed partition values
    mptab = str(tmp_path / "st24_mapped_part")
    dc.append_delta(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ),
        mptab, partition_by=["p"],
    )
    dc.enable_column_mapping(mptab)
    dc.rename_column(mptab, "k", "kk")
    dc.append_delta(
        spark.range(4, 6).select(
            F.col("id").alias("kk"), (F.col("id") % 2).alias("p")
        ),
        mptab, partition_by=["p"],
    )
    mpgot: list[tuple[int, int]] = []

    def mptap(df, epoch):
        assert sorted(df.columns) == ["kk", "p"]
        assert dict(df.dtypes)["p"] == "bigint"
        mpgot.extend((r["kk"], r["p"]) for r in df.collect())

    dc.follow_delta_appends(
        spark, mptab, mptap, max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert sorted(mpgot) == [(i, i % 2) for i in range(6)]


def test_checkpoint_protection_honored(spark, tmp_path):
    """checkpointProtection (VERDICT r8 item 4): commits below
    delta.requireCheckpointProtectionBeforeVersion may only be cleaned
    by a sweep whose superseding checkpoint is at/past that version.
    A table listing the feature stays fully writable; cleanup_log
    no-ops while the only qualifying checkpoint is below N and
    proceeds once one at/past N exists."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "ckpt_prot")
    _write_parquet(
        spark, [(0,)], "k long", os.path.join(table, "seed.parquet")
    )
    meta = _meta(spark, "k long")
    meta["metaData"]["configuration"] = {
        "delta.requireCheckpointProtectionBeforeVersion": "4"
    }
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["checkpointProtection"]}},
            meta,
            {"add": {"path": "seed.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
    )
    one = spark.range(1).select(F.col("id").alias("k"))
    dc.append_delta(one, table)  # v1 — feature accepted, not refused
    dc.append_delta(one, table)  # v2
    dc.checkpoint_delta(table)   # checkpoint at 2 < N=4: protected
    dc.append_delta(one, table)  # v3
    dc.append_delta(one, table)  # v4
    assert dc.cleanup_log(table, keep_versions=0) == []  # no-op
    assert dc.read_delta(spark, table, version=0).count() == 1
    dc.checkpoint_delta(table)   # checkpoint at 4 >= N: sweep legal
    deleted = dc.cleanup_log(table, keep_versions=0)
    assert deleted == [f"{v:020d}.json" for v in range(4)]
    assert dc.read_delta(spark, table).count() == 5


def test_unsupported_features_refused_by_name(spark, tmp_path):
    """icebergCompatV1 is NOT implemented and must refuse BY NAME
    (VERDICT r8 item 4) — the generic gate catches it, this pins the
    name so a future feature-set edit cannot silently admit it.
    (variantType and collations honored since round 9; icebergCompatV2
    honored since round 10 — see test_iceberg_compat_v2_lifecycle.)"""
    import pyspark.sql.functions as F

    one = spark.range(1).select(F.col("id").alias("k"))

    # writer-only feature: reads fine, every mutation refuses by name
    feat = "icebergCompatV1"
    table = str(tmp_path / f"{feat}_tbl")
    _write_parquet(
        spark, [(1,)], "k long", os.path.join(table, "a.parquet")
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 7,
                          "writerFeatures": [feat]}},
            _meta(spark, "k long"),
            {"add": {"path": "a.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
    )
    assert dc.read_delta(spark, table).count() == 1
    with pytest.raises(dc.DeltaProtocolError, match=feat):
        dc.append_delta(one, table)
    with pytest.raises(dc.DeltaProtocolError, match=feat):
        dc.optimize_delta(spark, table)


def test_iceberg_compat_v2_lifecycle(spark, tmp_path):
    """icebergCompatV2 honored end-to-end (VERDICT r9 item 7):
    enablement validates its preconditions (column mapping live, no
    variant, no live DVs, stats.numRecords on every live add), the
    ALTER mints writer-7 + the feature + the table property, and from
    then on the writer obligations bind — appends still work (our adds
    always carry footer stats), DV deletes refuse while COW DELETE
    stays legal, and a foreign table listing the flag WITHOUT the
    property stays an ordinary writable table."""
    import pyspark.sql.functions as F

    one = spark.range(1).select(F.col("id").alias("k"))

    # precondition: no column mapping -> refuse
    t1 = str(tmp_path / "no_mapping")
    dc.append_delta(one, t1)
    with pytest.raises(dc.DeltaProtocolError, match="column mapping"):
        dc.enable_iceberg_compat_v2(t1)

    # precondition: live DV -> refuse; OPTIMIZE purges, then enable ok
    t2 = str(tmp_path / "live_dv")
    dc.append_delta(
        spark.range(10).coalesce(1).select(F.col("id").alias("k")), t2
    )
    dc.enable_column_mapping(t2, mode="name")
    dc.delete_delta_dv(
        spark, t2, spark.range(1).select(F.col("id").alias("k")), ["k"]
    )
    with pytest.raises(dc.DeltaProtocolError, match="deletion vector"):
        dc.enable_iceberg_compat_v2(t2)
    dc.optimize_delta(spark, t2)
    v = dc.enable_iceberg_compat_v2(t2)
    snap = dc.snapshot(t2)
    assert snap["version"] == v
    assert "icebergCompatV2" in snap["protocol"]["writerFeatures"]
    assert snap["configuration"]["delta.enableIcebergCompatV2"] == "true"
    with pytest.raises(dc.DeltaProtocolError, match="already enabled"):
        dc.enable_iceberg_compat_v2(t2)

    # obligations: appends fine (stats attached), DV delete refuses,
    # COW delete works
    dc.append_delta(
        spark.range(100, 103).coalesce(1).select(F.col("id").alias("k")),
        t2,
    )
    snap = dc.snapshot(t2)
    import json as _json

    for f, st in snap["file_stats"].items():
        assert st and _json.loads(st)["numRecords"] is not None, f
    with pytest.raises(dc.DeltaProtocolError, match="icebergCompatV2"):
        dc.delete_delta_dv(
            spark, t2,
            spark.range(100, 101).select(F.col("id").alias("k")), ["k"],
        )
    dc.delete_delta(
        spark, t2,
        spark.range(100, 101).select(F.col("id").alias("k")), ["k"],
    )
    got = sorted(
        r["k"] for r in dc.read_delta(spark, t2).collect()
    )
    assert got == list(range(1, 10)) + [101, 102]

    # flag WITHOUT the property: ordinary table, no obligations
    t3 = str(tmp_path / "flag_only")
    _write_parquet(
        spark, [(1,)], "k long", os.path.join(t3, "a.parquet")
    )
    _commit(
        t3,
        0,
        [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 7,
                          "writerFeatures": ["icebergCompatV2"]}},
            _meta(spark, "k long"),
            {"add": {"path": "a.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ],
    )
    dc.append_delta(one, t3)  # accepted: obligations bind to property
    assert dc.read_delta(spark, t3).count() == 2


def test_follow_delta_appends_cleaned_log_gap(spark, tmp_path):
    """A follower resuming below the retained log must fail LOUDLY:
    the cleaned commits' add feed is unrecoverable, and silently
    skipping them would under-ship data. Resuming at the retention
    floor works (snapshot replays from the checkpoint)."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cleaned_tail")
    for lo in (0, 3, 6):
        dc.append_delta(
            spark.range(lo, lo + 3).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    dc.checkpoint_delta(table)          # checkpoint at v2
    assert dc.cleanup_log(table)        # v0, v1 JSONs gone
    got: list[int] = []
    with pytest.raises(dc.DeltaProtocolError, match="cleaned"):
        dc.follow_delta_appends(
            spark, table,
            lambda df, e: got.extend(r["k"] for r in df.collect()),
            start_version=0, max_cycles=1, sleep_fn=lambda _s: None,
        )
    assert got == []
    cur, ep = dc.follow_delta_appends(
        spark, table,
        lambda df, e: got.extend(r["k"] for r in df.collect()),
        start_version=2, max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert cur == 3 and sorted(got) == list(range(6, 9))


def test_variant_type_lifecycle(spark, tmp_path):
    """variantType honored end-to-end: creating a table with a VARIANT
    column mints the reader-3/writer-7 feature pair; appends, scans,
    variant_get, time travel and OPTIMIZE all work (stats fail safe to
    none on variant footers); id-mode mapping and variant-adding
    schema evolution on a non-variant table refuse by name."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "variant_tbl")

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.parse_json(
                F.concat(
                    F.lit('{"n": '), F.col("id").cast("string"),
                    F.lit(', "tag": "t'),
                    (F.col("id") % 2).cast("string"), F.lit('"}'),
                )
            ).alias("v"),
        )

    dc.append_delta(rows(0, 4).coalesce(1), table)
    proto = dc.snapshot(table)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    dc.append_delta(rows(4, 8).coalesce(1), table)
    got = (
        dc.read_delta(spark, table)
        .select(
            "k",
            F.expr("variant_get(v, '$.n', 'long')").alias("n"),
            F.expr("variant_get(v, '$.tag', 'string')").alias("tag"),
        )
    )
    assert sorted((r["k"], r["n"], r["tag"]) for r in got.collect()) == [
        (i, i, f"t{i % 2}") for i in range(8)
    ]
    # time travel to v0 sees only the first batch
    assert dc.read_delta(spark, table, version=0).count() == 4
    # OPTIMIZE rewrites variant files (dataChange:false)
    dc.optimize_delta(spark, table, target_partitions=1)
    assert dc.read_delta(spark, table).count() == 8
    # a DV delete subtracts rows without touching variant payloads
    dc.delete_delta_dv(
        spark, table,
        spark.range(0, 2).select(F.col("id").alias("k")), ["k"],
    )
    left = dc.read_delta(spark, table).select(
        F.expr("variant_get(v, '$.n', 'long')").alias("n")
    )
    assert sorted(r["n"] for r in left.collect()) == list(range(2, 8))

    # refusals by name
    with pytest.raises(dc.DeltaProtocolError, match="VARIANT"):
        dc.enable_column_mapping(table, mode="id")
    plain = str(tmp_path / "plain_tbl")
    dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")), plain
    )
    with pytest.raises(dc.DeltaProtocolError, match="variantType"):
        dc.append_delta(rows(0, 2), plain, merge_schema=True)
    # name-mode mapping composes: rename a sibling column, read back
    dc.enable_column_mapping(table)
    dc.rename_column(table, "k", "kk")
    got2 = dc.read_delta(spark, table).select(
        "kk", F.expr("variant_get(v, '$.n', 'long')").alias("n")
    )
    assert sorted(r["kk"] for r in got2.collect()) == list(range(2, 8))


def test_column_named_variant_is_not_variant_type(spark, tmp_path):
    """Round-10 advisor item: the variantType gate must trigger on the
    TYPE 'variant' only — a plain string column merely NAMED 'variant'
    (or metadata carrying the string 'variant') must not mint the
    reader-3 protocol on create, must not make merge-schema appends
    refuse, and must stay id-mode-mappable."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "named_variant")
    rows = spark.range(3).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("variant"),
    )
    dc.append_delta(rows.coalesce(1), table)
    proto = dc.snapshot(table)["protocol"]
    assert proto.get("minReaderVersion", 1) < 3
    assert "variantType" not in (proto.get("readerFeatures") or [])

    # merge-schema append ADDING a column named variant is legal too
    plain = str(tmp_path / "plain_then_named")
    dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")), plain
    )
    dc.append_delta(rows, plain, merge_schema=True)
    assert dc.read_delta(spark, plain).count() == 5

    # id-mode mapping accepts the table (the old all-values schema walk
    # false-positived here and refused)
    dc.enable_column_mapping(table, mode="id")
    got = dc.read_delta(spark, table).select("k", "variant")
    assert sorted((r["k"], r["variant"]) for r in got.collect()) == [
        (i, str(i)) for i in range(3)
    ]


def test_follow_delta_appends_byte_admission(spark, tmp_path):
    """maxBytesPerTrigger semantics: admission stops once cumulative
    bytes reach the limit (the crossing file is still admitted; every
    epoch admits at least one file), composing with the file cap."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "bytes_tail")
    for lo in (0, 4):
        dc.append_delta(
            spark.range(lo, lo + 4)
            .select(F.col("id").alias("k"))
            .repartition(2),
            table,
        )  # 2 versions x 2 files
    sizes = []
    with open(os.path.join(table, "_delta_log",
                           "00000000000000000000.json")) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                sizes.append(a["add"]["size"])
    assert len(sizes) == 2 and all(s > 0 for s in sizes)
    epochs: list[list[int]] = []
    dc.follow_delta_appends(
        spark, table,
        lambda df, e: epochs.append(sorted(r["k"] for r in df.collect())),
        max_bytes_per_trigger=1,  # below any file size: 1 file/epoch
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert len(epochs) == 4  # 4 files -> 4 single-file epochs
    assert sorted(k for ks in epochs for k in ks) == list(range(8))
    epochs.clear()
    dc.follow_delta_appends(
        spark, table,
        lambda df, e: epochs.append(sorted(r["k"] for r in df.collect())),
        max_bytes_per_trigger=sizes[0] + 1,  # crossing file admitted
        max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert len(epochs) == 2  # 2 files reach the limit -> 2 epochs
    assert sorted(k for ks in epochs for k in ks) == list(range(8))


def test_collations_lifecycle(spark, tmp_path):
    """collations honored: creating a table with a COLLATED string
    column mints writer-7 + the collations feature, the __COLLATIONS
    field metadata survives the log round-trip (the writer
    obligation), and scans come back COLLATED — case-insensitive
    equality and grouping work on the read-back column. Adding a
    collated column to an uncollated table refuses by name."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "coll_tbl")
    df = spark.sql(
        "SELECT id AS k, CAST(element_at(array('Abc', 'aBc', 'xyz'), "
        "CAST(id % 3 AS INT) + 1) AS STRING COLLATE UTF8_LCASE) AS s "
        "FROM range(6)"
    )
    dc.append_delta(df.coalesce(1), table)
    proto = dc.snapshot(table)["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "collations" in proto["writerFeatures"]
    assert "__COLLATIONS" in dc.snapshot(table)["schema"]
    dc.append_delta(df.coalesce(1), table)  # metadata preserved
    back = dc.read_delta(spark, table)
    assert "collate UTF8_LCASE" in back.schema["s"].dataType.simpleString()
    # case-insensitive semantics survived the round trip
    groups = {
        (r["sl"], r["n"])
        for r in back.groupBy(F.lower("s").alias("sl"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert groups == {("abc", 8), ("xyz", 4)}
    assert back.filter(F.col("s") == F.lit("ABC").cast(
        back.schema["s"].dataType)).count() == 8
    # late collated addition refuses by name
    plain = str(tmp_path / "plain_coll")
    dc.append_delta(
        spark.range(2).select(F.col("id").alias("k")), plain
    )
    with pytest.raises(dc.DeltaProtocolError, match="collations"):
        dc.append_delta(df, plain, merge_schema=True)


def test_log_compaction_lifecycle(spark, tmp_path):
    """Log compaction files (round 10): compact_log_range writes the
    spec's <x>.<y>.compacted.json with the range's reconciled actions;
    snapshot SUBSTITUTES it for the covered commits (proven by hiding
    the range's commit files — replay still resolves, values intact);
    a range crossing a time-travel target is unusable (travel INTO a
    hidden range raises); compacting a missing range refuses; a hidden
    commit outside any range still reports a gap."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "compact_tbl")
    for lo in (0, 3, 6, 9):
        dc.append_delta(
            spark.range(lo, lo + 3).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    dc.delete_delta(
        spark, table, spark.range(4, 6).select(F.col("id").alias("k")),
        ["k"],
    )  # v4: COW rewrite -> remove tombstones + re-add
    before = sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    )
    assert before == [0, 1, 2, 3] + list(range(6, 12))

    name = dc.compact_log_range(table, 1, 3)
    assert name == f"{1:020d}.{3:020d}.compacted.json"
    snap = dc.snapshot(table)
    assert snap["version"] == 4
    assert sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    ) == before

    # hide the covered commits: replay must substitute the compacted
    # file and read identical values
    hidden = []
    for v in (1, 2, 3):
        p = dc._commit_path(table, v)
        os.rename(p, p + ".hid")
        hidden.append(p)
    assert sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    ) == before
    assert dc.snapshot(table)["version"] == 4
    # v0 still reconstructs (below the range); v2 is INSIDE the hidden
    # range — the compacted file over-applies past it, so it is
    # unusable for that target and replay falls back to the newest
    # reconstructable version at/below the request (the same
    # at-or-before floor a checkpoint-cleaned log has)
    assert dc.read_delta(spark, table, version=0).count() == 3
    assert dc.snapshot(table, version=2)["version"] == 0
    for p in hidden:
        os.rename(p + ".hid", p)
    assert dc.snapshot(table, version=2)["version"] == 2

    # refusals: missing commit in range; duplicate compaction
    with pytest.raises(dc.DeltaProtocolError, match="missing"):
        dc.compact_log_range(table, 3, 99)
    with pytest.raises(dc.ConcurrentDeltaCommitError):
        dc.compact_log_range(table, 1, 3)

    # a hidden commit OUTSIDE any compacted range is still a loud gap
    # (commit 0 sits below the [1..3] range, so nothing covers it)
    p0 = dc._commit_path(table, 0)
    os.rename(p0, p0 + ".hid")
    try:
        with pytest.raises(dc.DeltaCorruptLogError):
            dc.snapshot(table)
    finally:
        os.rename(p0 + ".hid", p0)
    # hiding the newest commit resolves at-or-before, like a cleaned
    # tail (no later commit exists to expose the hole)
    p4 = dc._commit_path(table, 4)
    os.rename(p4, p4 + ".hid")
    try:
        assert dc.snapshot(table)["version"] == 3
    finally:
        os.rename(p4 + ".hid", p4)

    # writes after compaction keep working and the compacted file keeps
    # substituting under the longer log
    dc.append_delta(
        spark.range(100, 102).coalesce(1).select(F.col("id").alias("k")),
        table,
    )
    assert dc.read_delta(spark, table).count() == len(before) + 2


def test_unreachable_compacted_range_ignored(spark, tmp_path):
    """A stale/foreign compacted file whose START is unreachable from
    the replay start (e.g. range 5..7 while the log holds only commits
    0..1) must be IGNORED: it may not extend the replay tail and turn a
    healthy latest-snapshot into a phantom log-gap error (round-10
    advisor finding). A REACHABLE range keeps substituting as before."""
    import json as _json

    import pyspark.sql.functions as F

    table = str(tmp_path / "stale_range_tbl")
    for lo in (0, 3):
        dc.append_delta(
            spark.range(lo, lo + 3).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    before = sorted(r["k"] for r in dc.read_delta(spark, table).collect())
    assert before == list(range(6))

    # drop a syntactically valid but unreachable compacted range into
    # the log (out-of-band surgery — this writer's own compact_log_range
    # refuses missing commits)
    foreign = os.path.join(
        table, "_delta_log", f"{5:020d}.{7:020d}.compacted.json"
    )
    with open(foreign, "w") as f:
        f.write(_json.dumps({"add": {
            "path": "ghost.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
        }}) + "\n")

    # healthy latest snapshot: version 1, same rows, no ghost file
    snap = dc.snapshot(table)
    assert snap["version"] == 1
    assert not any("ghost" in p for p in snap["files"])
    assert sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    ) == before
    # time travel unaffected
    assert dc.read_delta(spark, table, version=0).count() == 3
    os.remove(foreign)


def test_jumped_over_compacted_range_does_not_inflate_tail(
    spark, tmp_path
):
    """ADVICE r11: a compacted range the reachability walk jumps OVER
    must not extend the replay tail. Ranges 0..1 and 1..5 with commits
    0..3: consuming 0..1 lands the walk on 2 and proceeds via commits —
    start 1 is never touched — but the kept 1..5 range's end used to
    inflate tail to 5, manufacturing a phantom log-gap error at 4 on a
    healthy version-3 log. Tail now derives from walk coverage; the
    snapshot resolves cleanly at 3 with the right rows."""
    import json as _json

    import pyspark.sql.functions as F

    table = str(tmp_path / "jumped_range_tbl")
    for lo in (0, 3, 6, 9):
        dc.append_delta(
            spark.range(lo, lo + 3).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    before = sorted(r["k"] for r in dc.read_delta(spark, table).collect())
    assert before == list(range(12))

    dc.compact_log_range(table, 0, 1)
    # overlapping foreign range whose start (1) the walk jumps over and
    # whose end (5) exceeds the true head (out-of-band surgery — this
    # writer's own compact_log_range refuses missing commits)
    foreign = os.path.join(
        table, "_delta_log", f"{1:020d}.{5:020d}.compacted.json"
    )
    with open(foreign, "w") as f:
        f.write(_json.dumps({"add": {
            "path": "ghost.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
        }}) + "\n")
    try:
        snap = dc.snapshot(table)
        assert snap["version"] == 3
        assert not any("ghost" in p for p in snap["files"])
        assert sorted(
            r["k"] for r in dc.read_delta(spark, table).collect()
        ) == before
        # a genuine gap BELOW an existing commit still raises: hide
        # commit 2 (not covered by any usable range) — commit 3 exists
        # beyond it, so the hole must stay loud
        p2 = dc._commit_path(table, 2)
        os.rename(p2, p2 + ".hid")
        try:
            with pytest.raises(dc.DeltaCorruptLogError):
                dc.snapshot(table)
        finally:
            os.rename(p2 + ".hid", p2)
    finally:
        os.remove(foreign)


def test_version_checksum_lifecycle(spark, tmp_path):
    """Per-commit VERSION.checksum files (round 12): every publish
    writes ``<version>.crc`` whose tableSizeBytes/numFiles/metadata
    echo the post-commit live state; snapshot validates
    opportunistically and REFUSES LOUDLY on mismatch; unparseable or
    absent checksums never block a read; cleanup_log ages checksums
    with their commits."""
    import json as _json

    import pyspark.sql.functions as F

    table = str(tmp_path / "crc_tbl")
    for lo in (0, 3):
        dc.append_delta(
            spark.range(lo, lo + 3).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    dc.delete_delta(
        spark, table, spark.range(1, 2).select(F.col("id").alias("k")),
        ["k"],
    )
    # round-trip: every version has a checksum consistent with replay
    for v in range(3):
        p = dc._crc_path(table, v)
        assert os.path.exists(p), f"missing {v}.crc"
        with open(p) as f:
            crc = _json.loads(f.read())
        snap = dc.snapshot(table, version=v)
        assert crc["numFiles"] == len(snap["files"])
        assert crc["tableSizeBytes"] == sum(
            s for s in snap["file_sizes"].values() if s is not None
        )
        assert crc["metadata"]["id"] == snap["meta_id"]
        assert crc["protocol"] == snap["protocol"]
    before = sorted(r["k"] for r in dc.read_delta(spark, table).collect())
    assert before == [0, 2, 3, 4, 5]

    # corruption detection: a drifted numFiles refuses the read
    p2 = dc._crc_path(table, 2)
    with open(p2) as f:
        good = _json.loads(f.read())
    bad = dict(good, numFiles=good["numFiles"] + 1)
    with open(p2, "w") as f:
        f.write(_json.dumps(bad) + "\n")
    with pytest.raises(dc.DeltaCorruptLogError, match="numFiles"):
        dc.snapshot(table)
    # ... and a drifted tableSizeBytes
    bad = dict(good, tableSizeBytes=good["tableSizeBytes"] + 1)
    with open(p2, "w") as f:
        f.write(_json.dumps(bad) + "\n")
    with pytest.raises(dc.DeltaCorruptLogError, match="tableSizeBytes"):
        dc.snapshot(table)
    # ... and a drifted metadata id
    bad = dict(good, metadata=dict(good["metadata"], id="not-the-id"))
    with open(p2, "w") as f:
        f.write(_json.dumps(bad) + "\n")
    with pytest.raises(dc.DeltaCorruptLogError, match="metadata id"):
        dc.snapshot(table)
    # unparseable checksum: tolerated (foreign tables may write shapes
    # we don't know), read proceeds
    with open(p2, "w") as f:
        f.write("not json\n")
    assert sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    ) == before
    # restore the good checksum; validation passes again
    with open(p2, "w") as f:
        f.write(_json.dumps(good) + "\n")
    assert dc.snapshot(table)["version"] == 2
    # time travel validates the TRAVELED version's checksum
    p0 = dc._crc_path(table, 0)
    with open(p0) as f:
        good0 = _json.loads(f.read())
    with open(p0, "w") as f:
        f.write(_json.dumps(dict(good0, numFiles=7)) + "\n")
    with pytest.raises(dc.DeltaCorruptLogError):
        dc.snapshot(table, version=0)
    assert dc.snapshot(table)["version"] == 2  # latest unaffected
    with open(p0, "w") as f:
        f.write(_json.dumps(good0) + "\n")


def test_version_checksum_cleanup_and_checkpoint(spark, tmp_path,
                                                 monkeypatch):
    """Checksums age out with their commits under cleanup_log, and the
    checkpoint-seeded replay produces the same validated state (the
    crc written at a checkpoint version validates against a read that
    replays THROUGH the checkpoint)."""
    import pyspark.sql.functions as F

    monkeypatch.setattr(dc, "_CHECKPOINT_INTERVAL", 10)
    table = str(tmp_path / "crc_ckpt_tbl")
    v = 0
    for i in range(13):
        v = dc.append_delta(
            spark.range(i * 2, i * 2 + 2).coalesce(1).select(
                F.col("id").alias("k")
            ),
            table,
        )
    n = dc.read_delta(spark, table).count()
    deleted = dc.cleanup_log(table, keep_versions=0)
    assert deleted  # commits below the v10 checkpoint aged out
    for dv in range(10):
        assert not os.path.exists(dc._crc_path(table, dv)), dv
    # retained checksums still validate through the checkpoint seed
    for kv in (10, 11, 12):
        assert os.path.exists(dc._crc_path(table, kv))
    assert dc.read_delta(spark, table).count() == n
    assert dc.snapshot(table)["version"] == v


def test_cdf_writer_obligation_foreign_table(spark, tmp_path):
    """delta.enableChangeDataFeed is a WRITER OBLIGATION (round-10
    verdict item 1): a foreign table created with the flag set (writer
    version 4 — the legacy CDF grant), then MERGEd and DELETEd here
    WITHOUT change_data=True, must still capture change data, and
    read_delta_changes must replay every commit without a per-call
    flag. Without the obligation these commits would raise
    ChangeDataUnavailableError for a downstream delta-spark consumer."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cdf_foreign")
    _write_parquet(
        spark,
        [(1, 10.0), (2, 20.0), (3, 30.0)],
        "k long, v double",
        os.path.join(table, "f0.parquet"),
    )
    md = _meta(spark, "k long, v double")
    md["metaData"]["configuration"] = {"delta.enableChangeDataFeed": "true"}
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            md,
            {"add": {"path": "f0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )

    # MERGE without the flag: update k=2, insert k=4
    src = spark.createDataFrame([(2, 200.0), (4, 40.0)], "k long, v double")
    v1 = dc.merge_delta(spark, table, src, ["k"])
    # DELETE without the flag: k=1
    v2 = dc.delete_delta(
        spark, table, spark.createDataFrame([(1,)], "k long"), ["k"]
    )

    changes = dc.read_delta_changes(spark, table, v1, v2)
    got = {
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in changes.collect()
    }
    assert (v1, "update_preimage", 2) in got
    assert (v1, "update_postimage", 2) in got
    assert (v1, "insert", 4) in got
    assert (v2, "delete", 1) in got
    # postimage carries the new value
    post = [
        r["v"] for r in changes.filter(
            (F.col("_change_type") == "update_postimage")
            & (F.col("k") == 2)
        ).collect()
    ]
    assert post == [200.0]
    # table state is the merge/delete result
    assert sorted(
        (r["k"], r["v"]) for r in dc.read_delta(spark, table).collect()
    ) == [(2, 200.0), (3, 30.0), (4, 40.0)]


def test_set_table_properties_cdf_lifecycle(spark, tmp_path):
    """set_table_properties flips delta.enableChangeDataFeed on a table
    this writer created (adding the changeDataFeed capability under
    table features), after which the overwrite family and DV deletes
    capture change data with no per-call flag; pre-enablement mutations
    stay uncaptured (the feed starts at the enablement commit, exactly
    delta-spark's semantics). Managed properties refuse."""
    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.storage.delta_compat import (
        ChangeDataUnavailableError,
    )

    table = str(tmp_path / "cdf_props")
    dc.append_delta(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ).coalesce(1),
        table,
    )
    # pre-enablement delete: NOT captured (and the CDF read over that
    # commit refuses loudly, as before)
    v_pre = dc.delete_delta(
        spark, table, spark.createDataFrame([(3,)], "k long"), ["k"]
    )
    with pytest.raises(ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, v_pre, v_pre).collect()

    v_set = dc.set_table_properties(
        table, {"delta.enableChangeDataFeed": "true"}
    )
    snap = dc.snapshot(table)
    assert snap["configuration"]["delta.enableChangeDataFeed"] == "true"
    proto = snap["protocol"]
    assert "changeDataFeed" in set(proto.get("writerFeatures") or [])

    # overwrite without the flag: captured
    v_ow = dc.overwrite_delta(
        spark,
        spark.createDataFrame([(5, 50.0), (6, 60.0)], "k long, v double"),
        table,
    )
    # DV delete without the flag: captured
    v_dv = dc.delete_delta_dv(
        spark, table, spark.createDataFrame([(5,)], "k long"), ["k"]
    )
    got = {
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in dc.read_delta_changes(spark, table, v_set, v_dv).collect()
    }
    assert (v_ow, "delete", 1) in got and (v_ow, "delete", 2) in got
    assert (v_ow, "insert", 5) in got and (v_ow, "insert", 6) in got
    assert (v_dv, "delete", 5) in got
    assert sorted(
        r["k"] for r in dc.read_delta(spark, table).collect()
    ) == [6]

    # managed property refuses with a pointer to its verb
    with pytest.raises(dc.DeltaProtocolError, match="enable_row_tracking"):
        dc.set_table_properties(table, {"delta.enableRowTracking": "true"})
    # non-delta bookkeeping properties just merge into configuration
    dc.set_table_properties(table, {"team.owner": "pipeline"})
    assert dc.snapshot(table)["configuration"]["team.owner"] == "pipeline"


def test_set_table_properties_cdf_on_writer_features_table(spark, tmp_path):
    """At writer version 7 only listed features count: enabling CDF on
    a table that row tracking moved to table features must list
    ``changeDataFeed``, or the configuration promises a change feed the
    protocol does not declare."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cdf_w7")
    dc.append_delta(
        spark.range(3).coalesce(1).select(F.col("id").alias("k")), table
    )
    dc.enable_row_tracking(table, enabled=True)
    assert dc.snapshot(table)["protocol"]["minWriterVersion"] == 7
    dc.set_table_properties(table, {"delta.enableChangeDataFeed": "true"})
    features = set(dc.snapshot(table)["protocol"]["writerFeatures"])
    assert {"changeDataFeed", "rowTracking", "domainMetadata"} <= features


# --------------------------------------------------------------------------
# Commit atomicity, concurrency, txn-keyed verbs and the CDC follower
# --------------------------------------------------------------------------


def test_uncommitted_data_files_are_invisible(spark, tmp_path):
    """Data written without a published commit must be invisible — a
    writer that crashed after its data write but before the commit
    loses at most its own uncommitted work, never acknowledged data."""
    table = str(tmp_path / "crash")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    dc.append_delta(df, table)
    crashed = spark.createDataFrame([(99, "crash")], "id long, v string")
    for orphan in ("_staging_crashed", "part-orphan"):
        crashed.write.parquet(os.path.join(table, orphan))
    assert [r.id for r in dc.read_delta(spark, table).collect()] == [1]


def test_concurrent_appends_all_commit(spark, tmp_path):
    """Four threads appending at once: optimistic concurrency lands all
    four commits at distinct versions with no lost rows."""
    import threading

    table = str(tmp_path / "concurrent")
    dc.append_delta(spark.createDataFrame([(0,)], "id long"), table)
    errors = []

    def worker(i):
        try:
            dc.append_delta(
                spark.createDataFrame([(100 + i,)], "id long"), table
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors
    assert dc._list_commit_versions(table) == [0, 1, 2, 3, 4]
    got = sorted(r.id for r in dc.read_delta(spark, table).collect())
    assert got == [0, 100, 101, 102, 103]


def test_merge_delta_txn_replay_and_race_abort(spark, tmp_path, monkeypatch):
    """MERGE keyed ``txn=(app_id, epoch)``: a replayed epoch returns -1
    and leaves the table alone. A commit landing between the merge
    snapshot and its publish aborts the merge — a MERGE must never
    clobber a concurrent commit or rebase past it."""
    table = str(tmp_path / "merge_txn")
    ddl = "id long, v string"
    dc.append_delta(spark.createDataFrame([(1, "a")], ddl), table)
    src = spark.createDataFrame([(1, "A")], ddl)
    assert dc.merge_delta(spark, table, src, ["id"], txn=("m", 5)) == 1
    replay = spark.createDataFrame([(1, "XXX")], ddl)
    assert dc.merge_delta(spark, table, replay, ["id"], txn=("m", 5)) == -1
    assert dc.merge_delta(spark, table, replay, ["id"], txn=("m", 4)) == -1
    assert {r.v for r in dc.read_delta(spark, table).collect()} == {"A"}
    assert dc._list_commit_versions(table) == [0, 1]
    with open(os.path.join(table, "_delta_log", f"{1:020d}.json")) as f:
        txns = [json.loads(ln)["txn"] for ln in f if '"txn"' in ln]
    assert [(t["appId"], t["version"]) for t in txns] == [("m", 5)]

    orig = dc._publish_commit
    raced = {"done": False}

    def race(table_, version, actions):
        if not raced["done"]:
            raced["done"] = True
            orig(table_, version, [{"commitInfo": {"operation": "WRITE"}}])
        orig(table_, version, actions)

    monkeypatch.setattr(dc, "_publish_commit", race)
    with pytest.raises(dc.ConcurrentDeltaCommitError):
        dc.merge_delta(
            spark, table,
            spark.createDataFrame([(2, "b")], ddl), ["id"],
        )


def test_append_txn_race_loser_is_replay_noop(spark, tmp_path, monkeypatch):
    """Two attempts of the same epoch race for one version: the loser
    rebases, finds the winner already committed its (app_id, epoch),
    and no-ops with -1 like any replay — the table holds the epoch's
    rows once and only one commit carries its txn."""
    table = str(tmp_path / "append_txn_race")
    ddl = "id long"
    dc.append_delta(spark.createDataFrame([(0,)], ddl), table, txn=("app", 0))

    orig = dc._publish_commit
    raced = {"done": False}

    def race(table_, version, actions):
        if not raced["done"]:
            raced["done"] = True
            # the other attempt of epoch 1 claims the slot first
            assert dc.append_delta(
                spark.createDataFrame([(1,)], ddl), table, txn=("app", 1)
            ) == version
        orig(table_, version, actions)

    monkeypatch.setattr(dc, "_publish_commit", race)
    assert dc.append_delta(
        spark.createDataFrame([(1,)], ddl), table, txn=("app", 1)
    ) == -1
    assert raced["done"]
    assert sorted(r.id for r in dc.read_delta(spark, table).collect()) == [
        0, 1,
    ]
    assert dc._list_commit_versions(table) == [0, 1]
    assert dc.last_txn_version(table, "app") == 1


def test_txn_append_commit_reads_bounded(spark, tmp_path, monkeypatch):
    """A txn-keyed append reads a bounded number of commit files: the
    handshake, the version and the post-publish checksum/checkpoint all
    come from checkpoint-plus-tail replays, so the count at version 95
    equals the count at version 15 instead of growing with the log."""
    import re

    monkeypatch.setattr(dc, "_CHECKPOINT_INTERVAL", 10)
    table = str(tmp_path / "txn_reads")
    ddl = "id long"
    dc.append_delta(spark.createDataFrame([(0,)], ddl), table, txn=("app", 0))
    commit_re = re.compile(r"\d{20}\.json$")
    opened: list[str] = []

    def counting_open(path, *args, **kwargs):
        if commit_re.search(os.path.basename(str(path))):
            opened.append(str(path))
        return open(path, *args, **kwargs)

    def opens_for_txn_append_at(target: int, epoch: int) -> int:
        # metadata-only commits bring the log to target - 1 cheaply
        for v in range(dc.snapshot(table)["version"] + 1, target):
            dc._publish_commit(table, v, [{"commitInfo": {"operation": "WRITE"}}])
        monkeypatch.setattr(dc, "open", counting_open, raising=False)
        opened.clear()
        got = dc.append_delta(
            spark.createDataFrame([(epoch,)], ddl), table, txn=("app", epoch)
        )
        monkeypatch.delattr(dc, "open")
        assert got == target
        return len(opened)

    at_15 = opens_for_txn_append_at(15, 1)
    at_95 = opens_for_txn_append_at(95, 2)
    assert at_15 == at_95 <= 2 * (dc._CHECKPOINT_INTERVAL + 1), (at_15, at_95)
    assert dc.last_txn_version(table, "app") == 2


def test_overwrite_delta_txn_replay_is_noop(spark, tmp_path):
    """Full-table overwrite keyed ``txn=(app_id, epoch)``: the commit
    carries the txn action, and a replayed (or older) epoch returns -1
    without touching the table."""
    table = str(tmp_path / "overwrite_txn")
    ddl = "id long, v string"
    dc.append_delta(spark.createDataFrame([(1, "a")], ddl), table)
    v = dc.overwrite_delta(
        spark, spark.createDataFrame([(2, "b")], ddl), table, txn=("w", 3)
    )
    assert v == 1 and dc.last_txn_version(table, "w") == 3
    for epoch in (3, 2):
        assert dc.overwrite_delta(
            spark, spark.createDataFrame([(9, "z")], ddl), table,
            txn=("w", epoch),
        ) == -1
    assert [r.id for r in dc.read_delta(spark, table).collect()] == [2]
    assert dc._list_commit_versions(table) == [0, 1]


def test_zorder_beats_lexicographic_on_trailing_dim(spark, tmp_path):
    """Same data, laid out two ways: range-sorted on (x, y) by the
    writer vs OPTIMIZE ZORDER BY (x, y). The z-ordered layout prunes
    strictly more files for a trailing-dimension (y) point read."""
    rows = [(x, y, 0) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    lex_table = str(tmp_path / "lex")
    z_table = str(tmp_path / "z")
    dc.append_delta(
        df.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y"),
        lex_table,
    )
    dc.append_delta(df, z_table)
    dc.optimize_delta(
        spark, z_table, target_partitions=16, zorder_by=["x", "y"]
    )

    def kept_fraction(table):
        n_all = len(dc.snapshot(table)["files"])
        kept = dc.read_delta(spark, table, skip=("y", 3, 3)).inputFiles()
        assert n_all >= 8
        return len(kept) / n_all

    lex_frac, z_frac = kept_fraction(lex_table), kept_fraction(z_table)
    assert z_frac < lex_frac, (
        f"z-order kept {z_frac:.2f} of files on trailing dim, "
        f"lexicographic kept {lex_frac:.2f}"
    )
    # x leads, so the lexicographic layout prunes nothing on y
    assert lex_frac == 1.0


def test_follow_delta_changes_applies_each_version_once(spark, tmp_path):
    """CDC follower: two polls around an intervening captured MERGE —
    every version applied exactly once, in order, and the resumed
    cursor re-applies nothing."""
    table = str(tmp_path / "follow")
    ddl = "id long, v string"
    dc.append_delta(spark.createDataFrame([(1, "a"), (2, "b")], ddl), table)
    dc.merge_delta(
        spark, table, spark.createDataFrame([(2, "B2")], ddl), ["id"],
        change_data=True,
    )
    applied = []

    def apply_fn(changes, from_v, to_v):
        applied.append((from_v, to_v, sorted(
            (r.id, r._change_type) for r in changes.collect()
        )))

    cursor = dc.follow_delta_changes(
        spark, table, apply_fn, max_cycles=1, sleep_fn=lambda s: None
    )
    assert cursor == 2
    assert applied[0][:2] == (0, 1)
    assert (1, "insert") in applied[0][2]
    assert (2, "update_preimage") in applied[0][2]

    # a new captured merge lands; resuming from the cursor applies ONLY it
    dc.merge_delta(
        spark, table, spark.createDataFrame([(9, "new")], ddl), ["id"],
        change_data=True,
    )
    cursor2 = dc.follow_delta_changes(
        spark, table, apply_fn, start_version=cursor, max_cycles=2,
        sleep_fn=lambda s: None,
    )
    assert cursor2 == 3
    assert applied[-1] == (2, 2, [(9, "insert")])
    assert len(applied) == 2  # nothing re-applied on the idle cycle


def test_cdf_skips_optimize_commits(spark, tmp_path):
    """OPTIMIZE publishes dataChange:false: a CDF read over a range
    containing it skips it (no rows, no error), and a follower whose
    new range holds only the OPTIMIZE advances its cursor without an
    apply."""
    table = str(tmp_path / "cdf_opt")
    ddl = "id long, v string"
    dc.append_delta(spark.createDataFrame([(1, "a"), (2, "b")], ddl), table)
    dc.append_delta(spark.createDataFrame([(3, "c")], ddl), table)
    assert dc.optimize_delta(spark, table, target_partitions=1) == 2
    got = {
        (r._commit_version, r.id, r._change_type)
        for r in dc.read_delta_changes(spark, table, 0).collect()
    }
    assert got == {(0, 1, "insert"), (0, 2, "insert"), (1, 3, "insert")}
    applied = []
    cursor = dc.follow_delta_changes(
        spark, table, lambda c, lo, hi: applied.append((lo, hi)),
        start_version=2, max_cycles=1, sleep_fn=lambda _s: None,
    )
    assert cursor == 3 and applied == []


def _log_commits(table):
    """Every retained commit of ``table`` as (version, [actions])."""
    return [
        (v, dc._log_actions(dc._commit_path(table, v)))
        for v in dc._list_commit_versions(table)
    ]


def test_commit_info_written_first_with_in_commit_timestamp(spark, tmp_path):
    """commitInfo is the FIRST action of a commit — the In-Commit
    Timestamps writer requirement (delta-spark writes it first on every
    table) — and on an ICT table it carries the stamp."""
    ddl = "k long"
    table = str(tmp_path / "ci_first")
    dc.append_delta(spark.createDataFrame([(0,)], ddl), table)
    dc.enable_in_commit_timestamps(table)
    v = dc.append_delta(spark.createDataFrame([(1,)], ddl), table)
    with open(dc._commit_path(table, v)) as f:
        first = json.loads(f.readline())
    assert list(first) == ["commitInfo"]
    assert isinstance(first["commitInfo"]["inCommitTimestamp"], int)
    assert first["commitInfo"]["operation"] == "WRITE"


def test_commit_layout_invariants_across_verbs(spark, tmp_path):
    """One table through the verbs that lay out commits differently
    (create, schema evolution, properties + a protocol upgrade, type
    widening, constraint, row tracking with backfill, MERGE, DELETE,
    overwrite, OPTIMIZE, RESTORE). Every commit has exactly one
    commitInfo, written first, with an int timestamp, a str operation
    and a dict of parameters; every metaData keeps version 0's table
    id; every writer-7 protocol keeps what its predecessor granted —
    the legacy writer version's implied features, or its listed ones."""
    ddl = "k int, v string"
    wide = "k long, v string, w double"
    table = str(tmp_path / "layout")
    dc.append_delta(spark.createDataFrame([(1, "a"), (2, "b")], ddl), table)
    dc.append_delta(
        spark.createDataFrame([(3, "c", 1.5)], "k int, v string, w double"),
        table, merge_schema=True,
    )
    dc.set_table_properties(table, {"delta.enableChangeDataFeed": "true"})
    dc.widen_column_type(table, "k", "long")
    dc.add_constraint(spark, table, "k_pos", "k > 0")
    dc.enable_row_tracking(table, enabled=True)
    dc.merge_delta(
        spark, table,
        spark.createDataFrame([(2, "B", 2.5), (4, "d", 4.5)], wide), ["k"],
    )
    dc.delete_delta(spark, table, spark.createDataFrame([(1,)], "k long"),
                    ["k"])
    v_over = dc.overwrite_delta(
        spark, spark.createDataFrame([(5, "e", 5.5), (6, "f", 6.5)], wide),
        table,
    )
    dc.optimize_delta(spark, table)
    v_last = dc.restore_delta(spark, table, v_over)
    assert sorted(r.k for r in dc.read_delta(spark, table).collect()) == [5, 6]

    commits = _log_commits(table)
    assert [v for v, _ in commits] == list(range(v_last + 1))
    table_id = None
    proto: dict = {}
    for v, actions in commits:
        infos = [a["commitInfo"] for a in actions if "commitInfo" in a]
        assert len(infos) == 1, v
        assert "commitInfo" in actions[0], v
        ci = infos[0]
        assert isinstance(ci["timestamp"], int), v
        assert isinstance(ci["operation"], str), v
        assert isinstance(ci["operationParameters"], dict), v
        for a in actions:
            if "metaData" in a:
                table_id = table_id or a["metaData"]["id"]
                assert a["metaData"]["id"] == table_id, v
            if "protocol" in a:
                new = a["protocol"]
                if new["minWriterVersion"] == 7 and proto:
                    w = proto.get("minWriterVersion", 2)
                    kept = (
                        set(proto.get("writerFeatures") or [])
                        if w == 7
                        else dc._legacy_writer_features(w)
                    )
                    assert kept <= set(new["writerFeatures"]), v
                    assert set(proto.get("readerFeatures") or []) <= set(
                        new.get("readerFeatures") or []
                    ), v
                proto = new
    assert proto["minWriterVersion"] == 7
    assert {"changeDataFeed", "typeWidening", "rowTracking"} <= set(
        proto["writerFeatures"]
    )


def test_dv_delete_on_mapped_legacy_table_keeps_column_mapping(
    spark, tmp_path
):
    """A DV delete moves a column-mapped legacy table (reader 2) to
    reader 3: the column mapping that reader version 2 implied must
    become the explicit ``columnMapping`` reader feature, the same
    upgrade rule every other verb applies (``_protocol_with``)."""
    table = _fresh_kv_table(spark, tmp_path, "dv_cm_legacy")
    dc.enable_column_mapping(table)
    assert dc.snapshot(table)["protocol"]["minReaderVersion"] == 2
    dc.delete_delta_dv(spark, table, spark.createDataFrame([(1,)], "k long"),
                       ["k"])
    proto = dc.snapshot(table)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert {"columnMapping", "deletionVectors"} <= set(
        proto["readerFeatures"]
    )
    assert sorted(r.k for r in dc.read_delta(spark, table).collect()) == [
        0, 2, 3, 4,
    ]
