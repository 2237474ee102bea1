"""Table-format contract tests on the Delta writer (``storage/delta_compat``):
append/read, time travel, overwrite, schema enforcement and evolution,
exactly-once epochs, compaction and data skipping, optimistic
concurrency, MERGE / DELETE with change data, VACUUM and RESTORE
(SURVEY.md §2.1 S3-S5, §2.8 ST2 exactly-once).
"""

from __future__ import annotations

import os

import pytest

from acero_delta_lake_streaming_spark.storage import delta_compat as dc


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "t")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v string")


def _files(table, version=None):
    return set(dc.snapshot(table, version)["files"])


def _kept(spark, table, skip):
    """Files a skipping read still scans (pruning happens before Spark
    opens any footer)."""
    return dc.read_delta(spark, table, skip=skip).inputFiles()


def test_append_read_roundtrip(spark, table):
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]), table)
    dc.append_delta(_df(spark, [(3, "c")]), table)
    got = sorted((r.id, r.v) for r in dc.read_delta(spark, table).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert dc._list_commit_versions(table)[-1] == 1


def test_time_travel_versions(spark, table):
    for i in range(3):
        dc.append_delta(_df(spark, [(i, str(i))]), table)
    for v in range(3):
        got = sorted(
            r.id for r in dc.read_delta(spark, table, version=v).collect()
        )
        assert got == list(range(v + 1))


def test_overwrite_resets(spark, table):
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]), table)
    dc.overwrite_delta(spark, _df(spark, [(9, "z")]), table)
    assert [r.id for r in dc.read_delta(spark, table).collect()] == [9]
    # pre-overwrite snapshot still readable (time travel across overwrite)
    assert sorted(
        r.id for r in dc.read_delta(spark, table, version=0).collect()
    ) == [1, 2]


def test_schema_enforcement(spark, table):
    dc.append_delta(_df(spark, [(1, "a")]), table)
    drifted = spark.createDataFrame([(1, 2.0)], "id bigint, v double")
    with pytest.raises(dc.SchemaMismatchError):
        dc.append_delta(drifted, table)
    # a plain overwrite keeps the schema fixed; overwriteSchema changes it
    with pytest.raises(dc.SchemaMismatchError):
        dc.overwrite_delta(spark, drifted, table)
    dc.overwrite_schema_delta(spark, drifted, table)
    got = dc.read_delta(spark, table)
    assert got.schema["v"].dataType.simpleString() == "double"


def test_idempotent_epoch_commit(spark, table):
    """The ST2 fix: replaying the same (app_id, epoch) must be a no-op —
    no duplicates after a simulated foreachBatch retry."""
    v0 = dc.append_delta(_df(spark, [(1, "a")]), table, txn=("job", 0))
    assert v0 == 0
    replay = dc.append_delta(_df(spark, [(1, "a")]), table, txn=("job", 0))
    assert replay == -1
    assert dc.read_delta(spark, table).count() == 1
    v1 = dc.append_delta(_df(spark, [(2, "b")]), table, txn=("job", 1))
    assert v1 == 1
    assert dc.read_delta(spark, table).count() == 2
    assert dc.last_txn_version(table, "job") == 1


def test_compaction_preserves_data_and_history(spark, table):
    """OPTIMIZE: N small commits → 1 compact file set with identical
    data; pre-compaction versions stay readable."""
    for i in range(5):
        dc.append_delta(_df(spark, [(i, str(i))]), table)
    before = sorted(r.id for r in dc.read_delta(spark, table).collect())
    files_before = _files(table)
    v = dc.optimize_delta(spark, table)
    after = sorted(r.id for r in dc.read_delta(spark, table).collect())
    files_after = _files(table)
    assert after == before
    assert len(files_after) < len(files_before)
    assert dc._list_commit_versions(table)[-1] == v
    # time travel to a pre-compaction version still resolves old files
    assert sorted(
        r.id for r in dc.read_delta(spark, table, version=2).collect()
    ) == [0, 1, 2]


def test_sorted_compaction_enables_skipping(spark, table):
    """Interleaved appends give every file the full value range
    (skipping prunes nothing); clustered compaction makes ranges
    disjoint, so a point read prunes to a strict subset of files while
    returning identical rows."""
    # two appends, each covering the FULL id range (interleaved)
    dc.append_delta(
        _df(spark, [(i, str(i)) for i in range(0, 100, 2)]).coalesce(1), table
    )
    dc.append_delta(
        _df(spark, [(i, str(i)) for i in range(1, 100, 2)]).coalesce(1), table
    )
    all_before = _files(table)
    assert len(_kept(spark, table, ("id", 7, 7))) == len(all_before)

    dc.optimize_delta(spark, table, target_partitions=4, zorder_by=["id"])
    all_after = _files(table)
    kept = _kept(spark, table, ("id", 7, 7))
    assert len(all_after) >= 2
    assert len(kept) < len(all_after), "disjoint ranges must prune"
    rows = sorted(
        r.id
        for r in dc.read_delta(spark, table, skip=("id", 7, 7))
        .filter("id = 7")
        .collect()
    )
    assert rows == [7]


def test_data_skipping_prunes_files(spark, sf_dir, table):
    """Add-action footer stats prune whole files on read (Delta data
    skipping): a status-sliced table reads only the matching slice's
    files, and results equal the unpruned filter."""
    from acero_delta_lake_streaming_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    for status in ("F", "O", "P"):
        dc.append_delta(
            orders.filter(orders.o_orderstatus == status).coalesce(1), table
        )
    all_files = _files(table)
    f_files = _kept(spark, table, ("o_orderstatus", "F", "F"))
    assert len(f_files) < len(all_files)
    pruned = dc.read_delta(spark, table, skip=("o_orderstatus", "F", "F"))
    expected = orders.filter("o_orderstatus = 'F'").count()
    # skipping is a superset guarantee: exact filter still applied on top
    assert pruned.filter("o_orderstatus = 'F'").count() == expected
    # numeric range skip: a range beyond the data prunes everything
    assert _kept(spark, table, ("o_totalprice", 10**12, 10**13)) == []


def test_version_conflict_retries(spark, table):
    """A claimed version file forces the writer to the next version
    (optimistic concurrency) instead of clobbering or failing."""
    dc.append_delta(_df(spark, [(1, "a")]), table)
    # adversarially claim version 1 with a commit that adds no file
    dc._publish_commit(table, 1, [{"commitInfo": {"operation": "WRITE"}}])
    v = dc.append_delta(_df(spark, [(2, "b")]), table)
    assert v == 2
    assert sorted(r.id for r in dc.read_delta(spark, table).collect()) == [1, 2]


def test_upsert_merge_semantics(spark, table):
    """MERGE: matched keys replaced, unmatched inserted, one commit;
    time travel still sees the pre-merge rows."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    v = dc.merge_delta(spark, table, _df(spark, [(2, "B2"), (9, "new")]), ["id"])
    assert v == 1
    now = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert now == {1: "a", 2: "B2", 3: "c", 9: "new"}
    before = {
        r.id: r.v for r in dc.read_delta(spark, table, version=0).collect()
    }
    assert before == {1: "a", 2: "b", 3: "c"}


def test_upsert_rewrites_only_affected_files(spark, table):
    """Copy-on-write granularity: a commit's files without matched keys
    are carried into the new snapshot by reference, not rewritten."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    dc.append_delta(_df(spark, [(3, "c"), (4, "d")]).coalesce(1), table)
    files_before = _files(table)
    dc.merge_delta(spark, table, _df(spark, [(4, "D2")]), ["id"])
    files_after = _files(table)
    # the commit holding ids 1-2 is untouched; the 3-4 file was replaced
    untouched = files_before & files_after
    assert len(untouched) == 1
    assert {r.id: r.v for r in dc.read_delta(spark, table).collect()} == {
        1: "a", 2: "b", 3: "c", 4: "D2"
    }


def test_vacuum_retention(spark, table):
    """VACUUM deletes files only older snapshots reference; the current
    snapshot survives, time travel beyond retention breaks (the Delta
    trade), keep_versions widens the window, orphans are collected."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]), table)
    dc.optimize_delta(spark, table)  # v1 rewrite: v0 files now old
    # orphan from a crashed writer: a data file with no commit
    orphan_dir = os.path.join(table, "commit-orphan")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-0.parquet"), "w") as fh:
        fh.write("junk")

    # a fresh orphan inside the safety window is NOT deleted
    assert dc.vacuum_delta(table, keep_versions=0, min_age_s=3600) == []
    deleted = dc.vacuum_delta(table, keep_versions=0)
    assert deleted, "v0 files and the orphan should be collected"
    assert any("orphan" in d for d in deleted)

    # current snapshot intact
    assert {r.id for r in dc.read_delta(spark, table).collect()} == {1, 2}
    # vacuumed version unreadable (files gone, commit remains as history)
    with pytest.raises(Exception):
        dc.read_delta(spark, table, version=0).collect()
    # keep_versions=1 would have kept v0: rebuild and check
    table2 = table + "_2"
    dc.append_delta(_df(spark, [(1, "a")]), table2)
    dc.optimize_delta(spark, table2)
    assert dc.vacuum_delta(table2, keep_versions=1) == []
    assert {
        r.id for r in dc.read_delta(spark, table2, version=0).collect()
    } == {1}


def test_schema_evolution_adds_nullable_column(spark, table):
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]), table)
    widened = spark.createDataFrame(
        [(3, "c", 9.5)], "id bigint, v string, score double"
    )
    with pytest.raises(dc.DeltaProtocolError):
        dc.append_delta(widened, table)  # strict by default
    dc.append_delta(widened, table, merge_schema=True)
    got = dc.read_delta(spark, table)
    assert [f.name for f in got.schema.fields] == ["id", "v", "score"]
    rows = {r.id: r.score for r in got.collect()}
    # pre-evolution files null-fill the new column; no data rewrite
    assert rows == {1: None, 2: None, 3: 9.5}
    # time travel to the pre-evolution version keeps the OLD schema
    old = dc.read_delta(spark, table, version=0)
    assert [f.name for f in old.schema.fields] == ["id", "v"]


def test_schema_evolution_missing_column_null_fills(spark, table):
    """An append may omit a column only when the table declares its
    default (Delta's allowColumnDefaults); a NULL default null-fills.
    Evolution never drops a column, so an undeclared omission refuses."""
    dc.append_delta(
        spark.createDataFrame(
            [(1, "a", 1.0)], "id bigint, v string, score double"
        ),
        table,
    )
    narrow = spark.createDataFrame([(2, "b")], "id bigint, v string")
    with pytest.raises(dc.DeltaProtocolError, match="missing"):
        dc.append_delta(narrow, table, merge_schema=True)
    dc.add_column_default(table, "score", "CAST(NULL AS DOUBLE)")
    dc.append_delta(narrow, table)
    rows = {r.id: r.score for r in dc.read_delta(spark, table).collect()}
    assert rows == {1: 1.0, 2: None}


def test_schema_evolution_rejects_type_change(spark, table):
    dc.append_delta(_df(spark, [(1, "a")]), table)
    conflicted = spark.createDataFrame([(1, 2)], "id bigint, v bigint")
    with pytest.raises(dc.SchemaMismatchError):
        dc.append_delta(conflicted, table, merge_schema=True)


def test_zorder_compaction_prunes_on_both_dimensions(spark, table):
    """True Z-order: after zorder_by=[x, y], a point read prunes files
    on EITHER dimension (lexicographic sort only prunes its leading
    column — trailing-column stats stay full-range in every file)."""
    rows = [(x, y, x * 100 + y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    dc.append_delta(df, table)

    dc.optimize_delta(spark, table, target_partitions=16, zorder_by=["x", "y"])
    all_files = _files(table)
    assert len(all_files) >= 8
    kept_x = _kept(spark, table, ("x", 3, 3))
    kept_y = _kept(spark, table, ("y", 3, 3))
    assert len(kept_x) < len(all_files), "must prune on x"
    assert len(kept_y) < len(all_files), "must prune on y"

    # data survives the rewrite bit-for-bit
    got = sorted(
        (r.x, r.y, r.payload) for r in dc.read_delta(spark, table).collect()
    )
    assert got == sorted(rows)
    # and the pruned read still returns exactly the right rows
    slice_y = sorted(
        r.payload
        for r in dc.read_delta(spark, table, skip=("y", 3, 3))
        .filter("y = 3")
        .collect()
    )
    assert slice_y == [x * 100 + 3 for x in range(32)]


def test_change_feed_captures_merge_row_changes(spark, table):
    """CDF: a merge with change_data=True records preimage+postimage
    for replaced keys and insert for new keys; append commits
    synthesize inserts with no capture."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    dc.merge_delta(
        spark,
        table,
        _df(spark, [(2, "B2"), (9, "new")]),
        ["id"],
        change_data=True,
    )
    ch = dc.read_delta_changes(spark, table, from_version=1).collect()
    got = {(r._change_type, r.id, r.v) for r in ch}
    assert got == {
        ("update_preimage", 2, "b"),
        ("update_postimage", 2, "B2"),
        ("insert", 9, "new"),
    }
    assert all(r._commit_version == 1 for r in ch)

    # full-range read includes the seed append as synthesized inserts
    full = dc.read_delta_changes(spark, table, from_version=0).collect()
    inserts_v0 = {(r.id, r.v) for r in full if r._commit_version == 0}
    assert inserts_v0 == {(1, "a"), (2, "b"), (3, "c")}
    assert all(
        r._change_type == "insert" for r in full if r._commit_version == 0
    )


def test_change_feed_unavailable_without_capture(spark, table):
    """A data-changing rewrite written without capture must refuse CDF
    reads loudly, never silently return a partial feed."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]), table)
    dc.merge_delta(spark, table, _df(spark, [(2, "B2")]), ["id"])
    with pytest.raises(dc.ChangeDataUnavailableError):
        dc.read_delta_changes(spark, table, from_version=1).collect()
    # but a range excluding the uncaptured commit still works
    ok = dc.read_delta_changes(spark, table, 0, 0).collect()
    assert {r.id for r in ok} == {1, 2}


def test_delete_keys_copy_on_write_and_cdf(spark, table):
    """Row-level DELETE: matched rows gone in one commit, untouched
    files carried by reference, time travel intact, and delete-typed
    preimages captured for the CDF."""
    dc.append_delta(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    dc.append_delta(_df(spark, [(3, "c"), (4, "d")]).coalesce(1), table)
    files_before = _files(table)
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
    kept = files_before & _files(table)
    assert kept, "the untouched file must carry over by reference"
    old = {r.id for r in dc.read_delta(spark, table, version=1).collect()}
    assert old == {1, 2, 3, 4}
    ch = dc.read_delta_changes(spark, table, 2, 2).collect()
    assert {(r._change_type, r.id, r.v) for r in ch} == {("delete", 2, "b")}


def test_restore_is_metadata_only_and_keeps_history(spark, table):
    """RESTORE: latest state equals the target version's, no data file
    is written, the pre-restore timeline stays reachable, restored adds
    keep their stats, and a vacuumed-away target refuses loudly
    without publishing."""
    ddl = "id long, v string"
    dc.append_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], ddl).coalesce(1), table
    )
    dc.append_delta(
        spark.createDataFrame([(3, "c"), (4, "d")], ddl).coalesce(1), table
    )
    pre_v = dc.delete_delta(
        spark, table, spark.createDataFrame([(2,)], "id long"), ["id"]
    )

    def data_files():
        return {
            os.path.join(dp, n)
            for dp, ds, ns in os.walk(table)
            for n in ns
            if n.endswith(".parquet")
        }

    on_disk = data_files()
    v1_files = _files(table, 1)
    v = dc.restore_delta(spark, table, to_version=1)
    assert v == pre_v + 1
    assert data_files() == on_disk  # metadata-only
    now_files = _files(table)
    assert now_files == v1_files
    now = {r.id: r.v for r in dc.read_delta(spark, table).collect()}
    assert now == {1: "a", 2: "b", 3: "c", 4: "d"}
    mid = {r.id for r in dc.read_delta(spark, table, version=pre_v).collect()}
    assert mid == {1, 3, 4}
    # restored stats survive: a skipping read still prunes
    assert len(_kept(spark, table, ("id", 3, 4))) < len(now_files)
    # restore to a version whose files VACUUM deleted fails, unpublished
    dc.vacuum_delta(table, keep_versions=0)
    with pytest.raises(dc.DeltaProtocolError, match="VACUUM"):
        dc.restore_delta(spark, table, to_version=2)
    assert dc._list_commit_versions(table)[-1] == v  # nothing published
