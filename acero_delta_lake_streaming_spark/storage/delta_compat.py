"""Real Delta Lake *format* storage — read and write tables whose
transaction log is an actual ``_delta_log`` directory, without
``delta-spark`` on the classpath. It is the engine's one table format:
the streaming medallion, every foreachBatch sink and every storage
query commit through it.

The reference stores its medallion tables in Delta format
(collector.py:219-226 writes with ``mode='append'`` through delta-rs),
so every table here stays readable by delta-rs / delta-spark:

* ``read_delta``      — snapshot (or time-travel) scan of a Delta table
  by replaying the JSON commit log, optionally starting from the last
  parquet checkpoint. Protocol is enforced, not assumed: reader
  version > 1 (column mapping, deletion vectors, …) raises rather than
  silently returning wrong rows.
* ``append_delta``    — append-only writer producing a log delta-spark /
  delta-rs can read back (protocol 1/2, JSON actions, URL-encoded
  relative paths); ``merge_delta``, ``delete_delta``,
  ``overwrite_delta`` and ``optimize_delta`` are its copy-on-write
  siblings.
* ``txn=(app_id, epoch)`` on ``append_delta``, ``merge_delta`` and
  ``overwrite_delta`` — the exactly-once key of a foreachBatch sink:
  Delta's ``txn`` action rides in the commit, so data and stream
  progress publish atomically and a replayed epoch no-ops.

Driver-side work is metadata: ``snapshot`` replays the newest
checkpoint plus the JSON commits after it (a compacted range standing
in for the commits it covers), and ``_apply_action`` is the one fold
that turns those actions into table state — live files, protocol,
metaData, domains and the ``txn`` ledger. Every consumer (the txn
handshake, the checkpoint writer, the per-commit checksum) reads that
state instead of re-reading the log.

Commits have one builder, the write-side twin of that fold: a verb
decides what changes and hands its actions to ``_commit``, which puts
the one ``commitInfo`` FIRST (stamping in-commit timestamps) and
publishes. ``_protocol_with`` (the table-features upgrade rule),
``_metadata_action`` (table id, format and partitioning carried
forward) and ``_remove_actions`` lay out the actions verbs share, and
``_write_staged`` is the one staged data write. A new commit field is
one edit there, never a per-verb dict. The data path is an ordinary
distributed parquet scan with the log-derived file list, so filters
and column pruning push down exactly as on raw parquet. On a
real object store the ``os.link`` publish becomes a conditional put —
how Delta/Iceberg commit services work.

Scope (documented, checked, raised-on): unpartitioned and hive-layout
partitioned tables; deletion vectors on both (the ``deletionVectors``
table feature — merge-on-read DELETE via ``delete_delta_dv``,
DV-subtracting reads, OPTIMIZE purge, vacuum/restore awareness; see
``dvcodec``); column mapping reads in ``name`` mode (physical→logical
rename, ``_read_with_mapping``) and ``id`` mode (parquet field-id
resolution); column mapping WRITES on unpartitioned tables — the
``name``-mode upgrade (``enable_column_mapping``), metadata-only
``rename_column``, and mapped appends that land physical column names
plus parquet field ids (so the table stays readable in BOTH modes);
generated/identity columns and unknown writer features refuse loudly
(``_check_writer_protocol``). That covers every table the reference
writes and the erasure path its tables would need at scale.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import TYPE_CHECKING
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pyarrow as pa

_LOG_DIR = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"
#: write a parquet checkpoint every N commits (Delta's default cadence),
#: so snapshot() replay is O(tail) instead of O(commits) on long-lived
#: tables — at 10k commits that is the difference between reading one
#: parquet file + <10 JSON commits and parsing 10k JSON files per read.
_CHECKPOINT_INTERVAL = 10
#: actions per checkpoint part: above this, _write_checkpoint emits the
#: multi-part ``{v}.checkpoint.{i}.{n}.parquet`` form instead of one
#: file (at a 100 TB table's add count a single-file checkpoint is the
#: driver-memory wall). 50k actions ≈ a few MB per part.
_CHECKPOINT_PART_ACTIONS = 50_000


class DeltaProtocolError(RuntimeError):
    """Table requires reader features this implementation lacks."""


class DeltaCorruptLogError(RuntimeError):
    """Commit log is missing, gapped, or malformed."""


class ConcurrentDeltaCommitError(RuntimeError):
    """A concurrent writer claimed the target commit version."""


class SchemaMismatchError(ValueError):
    """A write's column types conflict with the table schema."""


class ChangeDataUnavailableError(RuntimeError):
    """A data-changing commit in the requested range captured no change
    data (a merge/delete/overwrite ran without ``change_data=True``):
    row-level changes cannot be reconstructed for it, mirroring Delta's
    CDF-not-enabled error."""


def _log_dir(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _commit_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.json")


def is_delta_table(table: str) -> bool:
    return os.path.isdir(_log_dir(table))


def _list_commit_versions(table: str) -> list[int]:
    out = []
    for name in os.listdir(_log_dir(table)):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _checkpoint_files(table: str, version: int) -> list[str]:
    """Resolve a checkpoint's file set: the single-file form this
    writer emits (``{v}.checkpoint.parquet``), delta-spark's multi-part
    form (``{v}.checkpoint.{i}.{n}.parquet`` — the state split across n
    files when one part would be too large; reading is simply the union
    of parts), or a V2-spec UUID-named manifest
    (``{v}.checkpoint.{uuid}.{json|parquet}`` — the ``v2Checkpoint``
    table feature; its ``sidecar`` actions are expanded during replay).
    Empty list if none exists."""
    import glob as _glob
    import re as _re

    single = os.path.join(_log_dir(table), f"{version:020d}.checkpoint.parquet")
    if os.path.exists(single):
        return [single]
    cands = sorted(
        _glob.glob(
            os.path.join(_log_dir(table), f"{version:020d}.checkpoint.*")
        )
    )
    parts = [
        p
        for p in cands
        if _re.fullmatch(
            rf"{version:020d}\.checkpoint\.\d{{10}}\.\d{{10}}\.parquet",
            os.path.basename(p),
        )
    ]
    if parts:
        # part names carry their total: .checkpoint.<i>.<n>.parquet —
        # refuse an incomplete set rather than silently dropping state
        n_expected = int(parts[0].rsplit(".", 2)[1])
        if len(parts) != n_expected:
            raise DeltaCorruptLogError(
                f"multi-part checkpoint at version {version} has "
                f"{len(parts)} of {n_expected} parts"
            )
        return parts
    # V2 manifest: UUID-named, json or parquet; newest lexicographic
    # pick is arbitrary-but-deterministic when several writers raced
    # (each manifest is complete by construction)
    v2 = [
        p
        for p in cands
        if _re.fullmatch(
            rf"{version:020d}\.checkpoint\.[0-9a-fA-F-]{{36}}\.(json|parquet)",
            os.path.basename(p),
        )
    ]
    return v2[-1:] if v2 else []


_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compacted_ranges(table: str) -> list[tuple[int, int, str]]:
    """Log compaction files present in the log (the Delta spec's
    ``<x>.<y>.compacted.json`` — one file holding the reconciled
    actions of commits x..y). Returns (start, end, abs_path) sorted by
    start; replay may substitute one for reading the range's
    individual commit JSONs."""
    out = []
    for name in os.listdir(_log_dir(table)):
        m = _COMPACTED_RE.match(name)
        if m:
            a, b = int(m.group(1)), int(m.group(2))
            if a <= b:
                out.append((a, b, os.path.join(_log_dir(table), name)))
    return sorted(out)


def _checkpoint_version(table: str, max_version: int | None) -> int | None:
    """Version of the newest usable checkpoint (single-, multi-part or
    V2) at or below ``max_version``. The ``_last_checkpoint`` pointer
    is the fast path; when it overshoots a time-travel bound, names a
    missing checkpoint, or names the incomplete part set of a crashed
    multi-part publish, the log directory is scanned for an OLDER
    usable on-disk checkpoint instead — the previous checkpoint (plus
    the JSON tail) stays authoritative rather than wedging every read,
    and time travel behind the newest checkpoint keeps working after
    ``cleanup_log`` aged the early JSON out."""
    try:
        with open(os.path.join(_log_dir(table), _LAST_CHECKPOINT)) as f:
            v = json.load(f)["version"]
    except (FileNotFoundError, KeyError, ValueError):
        v = None
    if v is not None and (max_version is None or v <= max_version):
        try:
            if _checkpoint_files(table, v):
                return v
        except DeltaCorruptLogError:
            pass  # incomplete part set: fall through to the scan
    import glob as _glob
    import re as _re

    best = None
    for p in _glob.glob(os.path.join(_log_dir(table), "*.checkpoint.*")):
        m = _re.match(r"(\d{20})\.checkpoint\.", os.path.basename(p))
        if not m:
            continue
        ver = int(m.group(1))
        if max_version is not None and ver > max_version:
            continue
        if best is not None and ver <= best:
            continue
        try:
            usable = bool(_checkpoint_files(table, ver))
        except DeltaCorruptLogError:
            # a crashed multi-part publish left an incomplete set at
            # this version — skip it; an older complete checkpoint (or
            # the JSON log) stays authoritative
            usable = False
        if usable:
            best = ver
    return best


#: table features this reader implements (see ``dvcodec``,
#: ``_read_with_mapping`` and the V2 manifest/sidecar replay in
#: ``_replay_checkpoint``); any other advertised reader feature still
#: refuses loudly. v2Checkpoint is read AND written since round 6:
#: ``_write_checkpoint`` emits the UUID-named manifest + sidecar form
#: whenever the table's protocol advertises the feature (the spec's
#: obligation on writers), so v2 tables are writable here.
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "v2Checkpoint",
    # honored: Delta's schemaString "variant" IS Spark's VariantType
    # JSON and the parquet encoding (struct<metadata,value> binaries)
    # is Spark's own — scans, shuffles and variant_get work natively.
    # The one composition that cannot work is id-mode field-id
    # resolution (pyarrow cannot open variant footers) — refused by
    # name in _id_physical_names / enable_column_mapping
    "variantType",
    "variantType-preview",
    # honored: the LOG schema is already authoritative for every scan
    # in this module, and Spark's parquet reader upcasts the narrower
    # physical types natively for the integer-family and float→double
    # widenings; each field's delta.typeChanges metadata is validated
    # at snapshot time and UNSUPPORTED changes (→decimal,
    # date→timestamp-ntz) refuse loudly (_check_type_changes)
    "typeWidening",
    "typeWidening-preview",
    # the feature's whole point is an obligation on VACUUM (check the
    # full protocol before deleting) — vacuum_delta does; reads are
    # unaffected
    "vacuumProtocolCheck",
}

#: (fromType, toType) pairs this reader can scan through: the parquet
#: physical type upcasts Spark's vectorized reader performs natively
#: (probed on this runtime: int32→int64, int32→float64, float→double,
#: int16/int8 family). decimal targets and date→timestamp-ntz are NOT
#: native scan upcasts here — tables carrying those changes refuse.
_WIDENING_OK = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("integer", "double"),
    ("float", "double"),
}


def _check_type_changes(schema_json: str) -> None:
    """Validate every ``delta.typeChanges`` entry (the typeWidening
    feature's per-field record of {fromType, toType, tableVersion})
    against the widenings this reader's scans actually perform."""
    for f in json.loads(schema_json)["fields"]:
        for ch in (f.get("metadata") or {}).get("delta.typeChanges") or []:
            pair = (ch.get("fromType"), ch.get("toType"))
            if pair not in _WIDENING_OK:
                raise DeltaProtocolError(
                    f"type widening {pair[0]!r} -> {pair[1]!r} on column "
                    f"{f['name']!r} is not supported (integer-family and "
                    "float->double widenings are)"
                )


def _schema_has_collations(schema_json: str) -> bool:
    """True if any field carries ``__COLLATIONS`` metadata (Spark's —
    and the Delta spec's — marker for collated string types)."""

    def walk(t) -> bool:
        if isinstance(t, dict):
            if "__COLLATIONS" in (t.get("metadata") or {}):
                return True
            return any(walk(v) for v in t.values())
        if isinstance(t, list):
            return any(walk(v) for v in t)
        return False

    return walk(json.loads(schema_json))


def _schema_has_variant(schema_json: str) -> bool:
    """True if any field (at any nesting depth) is a VARIANT column.

    Walks only TYPE slots — field ``type``, array ``elementType``, map
    ``keyType``/``valueType`` — never names or metadata values, so a
    column merely *named* ``variant`` (or a metadata string ``variant``)
    cannot trip the variantType feature gate (round-10 advisor item:
    the old all-values walk minted a spurious protocol upgrade on
    create and made merge/column-mapping refuse legal tables).
    """

    def walk_type(t) -> bool:
        if t == "variant":
            return True
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return any(
                    walk_type(f.get("type")) for f in t.get("fields") or []
                )
            if kind == "array":
                return walk_type(t.get("elementType"))
            if kind == "map":
                return walk_type(t.get("keyType")) or walk_type(
                    t.get("valueType")
                )
            # a type descriptor whose "type" slot is itself a type spec
            return walk_type(kind)
        return False

    return walk_type(json.loads(schema_json))


def _check_protocol(action: dict) -> None:
    p = action["protocol"]
    reader = p.get("minReaderVersion", 1)
    features = set(p.get("readerFeatures") or [])
    if reader > 2 and not features:
        raise DeltaProtocolError(
            f"minReaderVersion={reader} requires reader features this "
            "implementation does not support"
        )
    # reader version 2 without a feature list IS column mapping (the
    # pre-table-features protocol); whether the declared mapping MODE is
    # supported is checked where the metaData is applied.
    unsupported = features - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise DeltaProtocolError(f"unsupported readerFeatures {unsupported}")


#: writer features this module's mutating verbs implement. "invariants" /
#: "appendOnly" are legacy (writer-version-2) features delta-spark lists
#: on every table-features upgrade; they are safe to ACCEPT as flags
#: because the hazards they name are gated on actual presence below
#: (a declared column invariant refuses; delta.appendOnly=true refuses
#: data-removing verbs). Everything else (identityColumns, rowTracking,
#: ...) refuses — the Delta protocol requires writers to reject
#: writerFeatures they do not implement.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "changeDataFeed",
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    # enforced: writes that introduce rows validate every value against
    # its generation expression (_enforce_generated); all other verbs
    # preserve row values, which satisfies the expressions trivially
    "generatedColumns",
    # honored: on v2Checkpoint tables _write_checkpoint emits the
    # UUID-named manifest + sidecar form the feature obliges writers to
    "v2Checkpoint",
    # accepted as a FLAG like invariants: a table that merely LISTS the
    # feature (every enable_v2_checkpoints upgrade of a w6 table does)
    # stays writable; a column actually declaring delta.identity.*
    # still refuses at the per-column check below
    "identityColumns",
    # honored: _publish_commit stamps a monotonic
    # commitInfo.inCommitTimestamp on every commit once the chain is
    # live (enable_in_commit_timestamps)
    "inCommitTimestamp",
    # honored: domainMetadata actions replay into snapshot state and
    # survive checkpoints (rowTracking's high-water mark lives in one)
    "domainMetadata",
    # honored ACTIVELY since round 12: enable_clustering is the CLUSTER
    # BY verb (mints the feature + the delta.clustering domain, physical
    # names), and optimize_delta with no explicit zorder_by reclusters
    # from that table state — the spec's incremental-clustering shape.
    # Foreign clustered tables keep working as before (domain preserved
    # through replay + checkpoints; appends don't re-cluster)
    "clustering",
    # honored: VACUUM runs the full protocol gate before deleting any
    # file (vacuum_delta), which is this feature's exact obligation
    "vacuumProtocolCheck",
    # honored: every mutating verb here writes data under the CURRENT
    # log schema (the widened types) and passes metaData — including
    # each field's delta.typeChanges record — through untouched, which
    # is exactly the feature's writer obligation; widen_column_type is
    # the ALTER that records a new change
    "typeWidening",
    "typeWidening-preview",
    # honored when LISTED (delta-spark 3.x lists it by default on new
    # tables): every fresh add is stamped baseRowId (fresh ids from the
    # delta.rowTracking rowIdHighWaterMark domain, advanced in the same
    # commit) + defaultRowCommitVersion; DV re-adds and RESTORE re-adds
    # PRESERVE their original assignment. When the table additionally
    # sets delta.enableRowTracking=true (stable ids promised to
    # readers), the rewrite verbs refuse — preserving ids through a
    # rewrite needs materialized row-id columns, which this writer does
    # not emit; appends and DV deletes keep the guarantee trivially
    # (files and their row ids survive byte-identical).
    "rowTracking",
    # honored: appends missing a column whose field metadata carries
    # CURRENT_DEFAULT fill it from the default expression
    # (add_column_default is the ALTER that records one); full-schema
    # appends are untouched — the feature's exact writer obligation
    "allowColumnDefaults",
    # honored: every verb reads/writes variant columns through Spark's
    # native VariantType (appends mint the feature pair at creation;
    # stats computation fails safe to no-stats on variant footers)
    "variantType",
    "variantType-preview",
    # honored: Delta's __COLLATIONS field metadata IS Spark's own
    # schema-JSON representation of collated strings, so the log
    # schema round-trips into collated scans natively; every verb
    # passes the metadata through untouched (the feature's writer
    # obligation) and comparisons/grouping under the collation are
    # Spark semantics. Appends mint the feature at creation.
    "collations",
    "collations-preview",
    # honored: the feature's only obligation bites during metadata
    # cleanup — commits and checkpoints below
    # delta.requireCheckpointProtectionBeforeVersion may only be
    # removed by a sweep whose superseding checkpoint reaches that
    # version; cleanup_log enforces exactly that (and no other verb
    # here ever deletes log entries). variantType, collations and
    # icebergCompatV1 stay OUT of this set deliberately: refusal
    # by name is pinned in tests/test_delta_compat.py (variantType and
    # collations honored since round 9; icebergCompatV2 since round 10)
    "checkpointProtection",
    # honored (round 10): when delta.enableIcebergCompatV2=true the
    # writer obligations bind — column mapping (name/id) must be live,
    # deletion vectors must never be WRITTEN (delete_delta_dv refuses;
    # COW DELETE stays legal), every committed add must carry
    # stats.numRecords (enforced where adds are minted: a no-stats
    # footer refuses instead of silently breaking the Iceberg
    # manifest contract), and the schema must stay Iceberg-mappable
    # (variant refuses; _WIDENING_OK's int-family/float->double are
    # all Iceberg-legal widenings). enable_iceberg_compat_v2 is the
    # ALTER; a foreign table LISTING the feature with the property
    # unset stays writable with no extra obligations (the spec binds
    # them to the table property, not the flag).
    "icebergCompatV2",
}


def _iceberg_v2_active(snap: dict) -> bool:
    """icebergCompatV2 obligations bind iff the writer feature is listed
    AND the table property is true — the spec ties enforcement to
    ``delta.enableIcebergCompatV2``, so a foreign table that merely
    lists the flag stays an ordinary Delta table for writers."""
    p = snap.get("protocol") or {}
    if "icebergCompatV2" not in set(p.get("writerFeatures") or []):
        return False
    cfg = snap.get("configuration") or {}
    return cfg.get("delta.enableIcebergCompatV2", "").lower() == "true"


def _iceberg_v2_require_stats(table: str, op: str) -> None:
    """Called from the add-minting paths ONLY when a footer yielded no
    stats: on an icebergCompatV2-active table a stats-less add would
    break the numRecords obligation, so the write refuses instead of
    committing it. Costs one log replay on the already-exceptional
    no-stats path; the common path pays nothing. A table being CREATED
    by this very write (no log / no metaData yet — e.g. the first
    append of a variant table, whose footers never yield stats) cannot
    be V2-active: enablement is an ALTER on an existing table."""
    try:
        snap = snapshot(table)
    except DeltaCorruptLogError:
        return
    if _iceberg_v2_active(snap):
        raise DeltaProtocolError(
            f"{op}: icebergCompatV2 requires stats.numRecords on every "
            "add; this file's parquet footer yields no stats"
        )


def _legacy_writer_features(w: int) -> set[str]:
    """Features implied by a legacy writer version — the Delta rule for
    table-features upgrades: what version ``w`` granted implicitly must
    become explicit flags, so no capability is silently dropped."""
    out = {"appendOnly", "invariants"}
    if w >= 3:
        out.add("checkConstraints")
    if w >= 4:
        out |= {"changeDataFeed", "generatedColumns"}
    if w >= 5:
        out.add("columnMapping")
    if w >= 6:
        out.add("identityColumns")
    return out


def _check_writer_protocol(
    snap: dict, op: str, removes_data: bool = False,
    identity_ok: bool = False,
) -> None:
    """Writer-side twin of :func:`_check_protocol`: refuse to mutate a
    foreign table whose protocol demands writer capabilities this module
    lacks — appending past an unknown writerFeature silently violates the
    table's contract (the reader-features gate alone does not cover this
    once table-features protocols are admitted).

    ``identity_ok``: verbs that either MINT identity values correctly
    (append, since round 8) or provably cannot disturb them (OPTIMIZE /
    DELETE / RESTORE / VACUUM — they only move or drop whole rows, so
    assigned values and the high-water mark stay valid) pass True;
    row-introducing verbs that take caller-supplied rows (MERGE,
    replaceWhere) and the schema-altering verbs keep refusing — a
    caller-chosen value under GENERATED ALWAYS, or a rename/drop of
    the identity column, would break the column's contract."""
    p = snap.get("protocol") or {}
    writer = p.get("minWriterVersion", 2)
    features = set(p.get("writerFeatures") or [])
    if writer > 7:
        raise DeltaProtocolError(
            f"{op}: minWriterVersion={writer} is newer than this writer"
        )
    if writer == 7:
        unsupported = features - _SUPPORTED_WRITER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"{op}: unsupported writerFeatures {sorted(unsupported)}"
            )
    # Legacy versions 3-6 bundle implicit features (3: CHECK constraints,
    # 4: CDF + generated columns, 5: column mapping, 6: identity
    # columns). CHECK constraints, CDF and generated columns are
    # implemented (row-introducing writes validate via
    # _enforce_generated); column-mapped appends write physical names
    # (rewriting verbs refuse at their mapping-mode checks); identity
    # columns are declared
    # per-column — gate on actual presence so a version-bumped table
    # WITHOUT them stays writable.
    for f in json.loads(snap["schema"])["fields"]:
        meta = f.get("metadata") or {}
        if not identity_ok and any(
            k.startswith("delta.identity.") for k in meta
        ):
            raise DeltaProtocolError(
                f"{op}: column {f['name']!r} is an identity column "
                "(this verb cannot maintain its assignment contract)"
            )
    if removes_data and (
        snap["configuration"].get("delta.appendOnly", "").lower() == "true"
    ):
        raise DeltaProtocolError(
            f"{op}: table is delta.appendOnly=true; removing data is "
            "forbidden"
        )
    if _iceberg_v2_active(snap):
        # icebergCompatV2 writer obligations (bound to the table
        # property): DVs are never WRITTEN, column mapping must be
        # live, and the schema must stay Iceberg-mappable. A table
        # violating the preconditions (foreign writer set the property
        # without them) refuses every mutation — writing past a broken
        # compat contract would corrupt the Iceberg-side view.
        if op == "DELETE (deletion vectors)":
            raise DeltaProtocolError(
                f"{op}: icebergCompatV2 forbids writing deletion "
                "vectors; use the copy-on-write DELETE"
            )
        if _mapping_mode(snap) not in ("name", "id"):
            raise DeltaProtocolError(
                f"{op}: icebergCompatV2 requires column mapping mode "
                "'name' or 'id'"
            )
        if _schema_has_variant(snap["schema"]):
            raise DeltaProtocolError(
                f"{op}: icebergCompatV2 table carries a variant column "
                "(no Iceberg type mapping exists)"
            )


def _log_actions(path: str) -> list[dict]:
    """Actions of one newline-JSON log file (a commit, a compacted
    range or a JSON checkpoint manifest), in file order — the one
    JSON-lines reader of the log."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _apply_action(state: dict, action: dict) -> None:
    """Fold one log action into replay state: the ONLY place log
    actions become table state. Commits, compacted ranges and
    (normalised) checkpoint rows all replay through here. Each live
    file keeps its whole ``add`` action (stats, size, DV, rowTracking
    and partition values travel together); protocol and metaData are
    kept whole; ``txn`` keeps the highest version per appId."""
    if "protocol" in action:
        _check_protocol(action)
        state["protocol"] = action["protocol"]
    elif "metaData" in action:
        md = action["metaData"]
        fmt = (md.get("format") or {}).get("provider", "parquet")
        if fmt != "parquet":
            raise DeltaProtocolError(f"unsupported format provider {fmt!r}")
        state["metadata"] = md
    elif "add" in action:
        # a re-add replaces the whole descriptor (a re-add without a DV
        # clears the file's DV)
        state["adds"][unquote(action["add"]["path"])] = action["add"]
    elif "remove" in action:
        state["adds"].pop(unquote(action["remove"]["path"]), None)
    elif "domainMetadata" in action:
        dm = action["domainMetadata"]
        if dm.get("removed"):
            state["domains"].pop(dm.get("domain"), None)
        elif dm.get("domain"):
            state["domains"][dm["domain"]] = dm.get("configuration")
    elif "txn" in action:
        # version 0 is a legitimate epoch and a null version reads as
        # -1 (never a falsy `or`)
        tv = action["txn"].get("version")
        t = dict(action["txn"], version=-1 if tv is None else int(tv))
        prev = state["txns"].get(t.get("appId"))
        if prev is None or t["version"] >= prev["version"]:
            state["txns"][t.get("appId")] = t
    # commitInfo / cdc / sidecar actions carry no table state


def _checkpoint_rows(path: str) -> list[dict]:
    """Action rows of one checkpoint file: parquet (classic and V2
    manifests/sidecars) or newline-JSON (V2 manifests delta-kernel
    writes)."""
    if path.endswith(".json"):
        return _log_actions(path)
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _checkpoint_action_rows(table: str, version: int) -> list[dict]:
    """All action rows of the checkpoint at ``version`` — the
    single-file / multi-part union, with V2 ``sidecar`` references
    expanded (each names a parquet file of file actions under
    ``_delta_log/_sidecars/``; a missing sidecar REFUSES — silently
    dropping one would resurrect removed state)."""
    rows: list[dict] = []
    for path in _checkpoint_files(table, version):
        rows.extend(_checkpoint_rows(path))
    for sc in [r["sidecar"] for r in rows if r.get("sidecar")]:
        sc_path = os.path.join(
            _log_dir(table), "_sidecars", unquote(sc["path"])
        )
        if not os.path.exists(sc_path):
            raise DeltaCorruptLogError(
                f"v2 checkpoint at version {version} references missing "
                f"sidecar {sc['path']!r}"
            )
        rows.extend(_checkpoint_rows(sc_path))
    return rows


def _replay_checkpoint(table: str, version: int, state: dict) -> None:
    """Seed replay state from a checkpoint — single-file, delta-spark's
    multi-part set (parts are disjoint row groups of one logical table;
    replay is their union, order-free because a checkpoint is
    net-of-log), or a V2-spec manifest whose ``sidecar`` actions
    reference the add/remove payload files under
    ``_delta_log/_sidecars/``. Rows are only normalised to the JSON-log
    shape here; :func:`_apply_action` folds them. The checkpoint is
    metadata (KBs-MBs); pyarrow reads it driver-side, the same altitude
    as the JSON log itself."""
    for row in _checkpoint_action_rows(table, version):
        for kind, body in row.items():
            # a parquet row carries every action column, all but one
            # null; removes are tombstones (a checkpoint is net-of-log)
            if not isinstance(body, dict) or kind == "remove":
                continue
            # pyarrow renders absent optional fields as None and maps
            # as (key, value) lists
            body = {k: v for k, v in body.items() if v is not None}
            for key in ("configuration", "partitionValues"):
                if isinstance(body.get(key), list):
                    body[key] = dict(body[key])
            if not (body.get("deletionVector") or {}).get("storageType"):
                body.pop("deletionVector", None)  # all-None struct
            _apply_action(state, {kind: body})


def _commit_timestamp_ms(table: str, version: int) -> int:
    """Commit wall-clock for TIMESTAMP AS OF resolution:
    ``commitInfo.inCommitTimestamp`` when the table writes in-commit
    timestamps (the ``inCommitTimestamp`` writer feature — monotonic by
    protocol, immune to file-mtime drift from copies/restores), else
    ``commitInfo.timestamp``, else the commit file's modification
    time — exactly delta-spark's fallback order."""
    try:
        for action in _log_actions(_commit_path(table, version)):
            ci = action.get("commitInfo")
            if ci and ci.get("inCommitTimestamp") is not None:
                return int(ci["inCommitTimestamp"])
            if ci and ci.get("timestamp") is not None:
                return int(ci["timestamp"])
    except FileNotFoundError:
        pass
    return int(os.path.getmtime(_commit_path(table, version)) * 1000)


def resolve_timestamp(table: str, timestamp_ms: int) -> int:
    """``TIMESTAMP AS OF``: the latest commit version whose timestamp is
    <= ``timestamp_ms`` (Delta's contract). Raises if the moment
    precedes the table's first commit."""
    best = None
    for v in _list_commit_versions(table):
        if _commit_timestamp_ms(table, v) <= timestamp_ms:
            best = v
    if best is None:
        raise DeltaProtocolError(
            f"timestamp {timestamp_ms} is before {table}'s first commit"
        )
    return best


def snapshot(
    table: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """Resolve the file list + schema for a Delta table snapshot.

    Returns ``{"files": [abs paths], "schema": StructType-json-str,
    "partition_cols": [...], "version": int, ...}`` plus the per-file
    and table-level state documented inline below. ``timestamp_ms``
    resolves to a version via :func:`resolve_timestamp` (mutually
    exclusive with ``version``). Replay is the newest checkpoint at or
    below the target plus the JSON tail (compacted ranges standing in
    for the commits they cover), every action folded by
    :func:`_apply_action`.
    """
    if not is_delta_table(table):
        raise DeltaCorruptLogError(f"{table} has no {_LOG_DIR} directory")
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        version = resolve_timestamp(table, timestamp_ms)
    versions = _list_commit_versions(table)
    if version is not None:
        versions = [v for v in versions if v <= version]
    state: dict = {"adds": {}, "protocol": None, "metadata": None,
                   "domains": {}, "txns": {}}
    # log compaction files (spec: <x>.<y>.compacted.json) may stand in
    # for reading the range's individual commits; a range crossing the
    # requested version is unusable (its tail would over-apply)
    ranges = _compacted_ranges(table)
    if version is not None:
        ranges = [(a, b, p) for (a, b, p) in ranges if b <= version]
    ckpt = _checkpoint_version(table, version)
    start = 0
    if ckpt is not None:
        _replay_checkpoint(table, ckpt, state)
        start = ckpt + 1
        versions = [v for v in versions if v >= start]
        ranges = [(a, b, p) for (a, b, p) in ranges if a >= start]
    elif version is not None and (not versions or versions[0] != 0) and (
        not any(a == 0 for a, _b, _p in ranges)
    ):
        raise DeltaCorruptLogError(
            f"cannot reconstruct version {version}: log does not start at 0"
        )
    # prefer the LONGEST compacted range per start version
    starts: dict[int, tuple[int, str]] = {}
    for a, b, p in ranges:
        if a not in starts or b > starts[a][0]:
            starts[a] = (b, p)
    existing = set(versions)
    # A range may only stand in for commits (and extend the replay tail)
    # when its START is reachable from `start` via existing commits /
    # earlier reachable ranges. A stale or foreign compacted file whose
    # range floats past the true head (e.g. 5..7 while only commit 0
    # exists) must be IGNORED — not allowed to turn a healthy
    # latest-snapshot into a phantom log-gap error. Forward walk: find
    # the first version not covered contiguously; every usable range
    # starts strictly below it (a range starting exactly there would
    # have been consumed by the walk).
    _v = start
    while True:
        if _v in starts and starts[_v][0] >= _v:
            _v = starts[_v][0] + 1
        elif _v in existing:
            _v += 1
        else:
            break
    starts = {a: bp for a, bp in starts.items() if a < _v}
    # Tail comes from the walk's COVERAGE (_v - 1), not from every kept
    # range's end (ADVICE r11): a range the walk jumped OVER (e.g.
    # ranges 0..1 and 1..5 with commits 0..3 — consuming 0..1 lands on
    # 2 and proceeds via commits, never touching start 1) must not
    # inflate tail to its end and manufacture a phantom log-gap error
    # at 4 on a healthy version-3 log. Ranges the walk consumed are
    # already inside _v - 1; existing commits BEYOND the walk stay in
    # the candidates so a genuine gap below a real commit still raises
    # in the replay loop.
    tail_candidates = list(existing) + ([_v - 1] if _v > start else [])
    tail = max(tail_candidates) if tail_candidates else None

    def _apply_file(path: str) -> None:
        for action in _log_actions(path):
            _apply_action(state, action)

    v = start
    while tail is not None and v <= tail:
        if v in starts and starts[v][0] <= tail:
            # the compacted file IS the range's reconciled state change
            # (identical whether or not the covered commits still
            # exist), so substitution is always safe within the target
            b, cpath = starts[v]
            _apply_file(cpath)
            v = b + 1
        elif v in existing:
            _apply_file(_commit_path(table, v))
            v += 1
        else:
            raise DeltaCorruptLogError(
                f"commit log gap: expected {v:020d}.json, found none "
                "(and no compacted range covers it)"
            )
    md = state["metadata"]
    if md is None:
        raise DeltaCorruptLogError("no metaData action found in log")
    _check_type_changes(md["schemaString"])
    resolved = tail if tail is not None else (
        ckpt if ckpt is not None else -1
    )
    adds = {os.path.join(table, p): a for p, a in state["adds"].items()}
    snap = {
        "files": list(adds),
        "schema": md["schemaString"],
        "partition_cols": md.get("partitionColumns") or [],
        "version": resolved,
        # per-file data-skipping stats (raw protocol JSON string or None)
        "file_stats": {f: a.get("stats") for f, a in adds.items()},
        # per-file add.size (VERSION.checksum's tableSizeBytes basis)
        "file_sizes": {f: a.get("size") for f, a in adds.items()},
        # per-file deletionVector descriptors (absent key = no DV)
        "file_dvs": {
            f: a["deletionVector"]
            for f, a in adds.items()
            if a.get("deletionVector")
        },
        # table properties from metaData (column mapping mode lives here)
        "configuration": md.get("configuration") or {},
        "meta_id": md.get("id"),
        # latest protocol action (writer gating reads writerFeatures)
        "protocol": state["protocol"] or {},
        # live domainMetadata state (rowTracking's high-water mark)
        "domain_metadata": state["domains"],
        # per-file rowTracking assignment (baseRowId, dcv) for re-adds
        "file_row_meta": {
            f: {
                "baseRowId": int(a["baseRowId"]),
                "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
            }
            for f, a in adds.items()
            if a.get("baseRowId") is not None
        },
        # appId -> its highest txn action (the exactly-once handshake)
        "txns": state["txns"],
        # whole add / metaData actions (what a checkpoint serialises)
        "adds": adds,
        "metadata": md,
    }
    _validate_crc(table, snap)
    return snap


def _mapping_mode(snap: dict) -> str:
    return snap["configuration"].get("delta.columnMapping.mode", "none")


def _physical_renames(schema_json: str) -> list[tuple[str, str]]:
    """(physical, logical) name pairs from a column-mapped schemaString —
    delta-spark stores the physical parquet column name in each field's
    ``delta.columnMapping.physicalName`` metadata. Top-level columns
    only (the fixture scope); nested mapped structs would recurse."""
    sch = json.loads(schema_json)
    out = []
    for f in sch["fields"]:
        meta = f.get("metadata") or {}
        out.append((meta.get("delta.columnMapping.physicalName", f["name"]),
                    f["name"]))
    return out


def _id_physical_names(schema_json: str, files: list[str]) -> dict[str, str]:
    """``id``-mode resolution: logical name → physical parquet column
    name, keyed by PARQUET FIELD ID (the mode's invariant — physical
    names are free to drift between files; the ids are not). The log
    schema carries each column's ``delta.columnMapping.id``; the
    parquet FOOTERS (driver-side metadata, the altitude where Delta
    readers already resolve ids) yield the id → physical-name map.

    Because the scan applies ONE physical schema to every file, EVERY
    footer is checked: files whose footers map the same field id to
    different physical names refuse loudly (a single-schema scan would
    silently read NULLs from the drifted files — worse than an error),
    as does a mix of id-bearing and id-less files. A column whose id is
    absent from every footer was added after the files were written —
    it resolves to its ``physicalName`` metadata (or a never-matching
    placeholder), so the scan reads NULL for it, exactly the
    schema-evolution contract."""
    if _schema_has_variant(schema_json):
        raise DeltaProtocolError(
            "id-mode column mapping on a table with VARIANT columns "
            "is not supported: the field-id resolver reads parquet "
            "footers, which variant logical types make unreadable"
        )

    import pyarrow.parquet as pq

    sch = json.loads(schema_json)
    footer_by_id: dict[int, str] = {}
    n_with_ids = 0
    for fpath in files:
        footer = pq.read_schema(fpath)
        fmap: dict[int, str] = {}
        for i, name in enumerate(footer.names):
            meta = footer.field(i).metadata or {}
            fid = meta.get(b"PARQUET:field_id")
            if fid is not None:
                fmap[int(fid)] = name
        if fmap:
            n_with_ids += 1
        for fid, name in fmap.items():
            prev = footer_by_id.setdefault(fid, name)
            if prev != name:
                raise DeltaProtocolError(
                    f"id-mode physical-name drift: field id {fid} is "
                    f"{prev!r} in one file and {name!r} in "
                    f"{os.path.basename(fpath)!r}; a single-schema scan "
                    "would silently read NULLs"
                )
    if footer_by_id and n_with_ids != len(files):
        raise DeltaProtocolError(
            "id-mode table mixes files with and without parquet field "
            "ids; resolution for the id-less files would be ambiguous"
        )
    out: dict[str, str] = {}
    for f in sch["fields"]:
        meta = f.get("metadata") or {}
        fid = meta.get("delta.columnMapping.id")
        if fid is None:
            raise DeltaProtocolError(
                f"column mapping mode 'id' but column {f['name']!r} "
                "carries no delta.columnMapping.id"
            )
        out[f["name"]] = footer_by_id.get(
            int(fid),
            meta.get(
                "delta.columnMapping.physicalName", f"__absent_{fid}__"
            ),
        )
    return out


def _phys_struct(schema_json: str, phys_of: dict[str, str]) -> "T.StructType":
    """The log schema's types under PHYSICAL column names — what a
    mapped table's parquet footers actually carry."""
    sch = json.loads(schema_json)
    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                dict(f, name=phys_of[f["name"]], metadata={})
                for f in sch["fields"]
            ],
        }
    )


def _logical_cols(schema_json: str, phys_of: dict[str, str]) -> list:
    """The physical→logical rename projection for a mapped scan."""
    import pyspark.sql.functions as F

    return [
        F.col(phys_of[f["name"]]).alias(f["name"])
        for f in json.loads(schema_json)["fields"]
    ]


def _read_with_mapping(
    spark: SparkSession,
    files: list[str],
    schema_json: str,
    phys_of: dict[str, str] | None = None,
) -> DataFrame:
    """Scan a column-mapped table: read the PHYSICAL schema (the log's
    types under the physical column names — parquet footers know only
    those), then project back to logical names. ``phys_of`` overrides
    the logical→physical map (id mode); default is name mode's
    ``physicalName`` metadata. Pure rename, no data movement; pushdown
    still reaches the scan because the aliases are a projection over
    the source."""
    if phys_of is None:
        phys_of = {l: p for p, l in _physical_renames(schema_json)}
    df = spark.read.schema(_phys_struct(schema_json, phys_of)).parquet(
        *files
    )
    return df.select(_logical_cols(schema_json, phys_of))


def _mapped_part_binding(
    snap: dict, files: list[str] | None = None
) -> dict[str, str]:
    """logical → PHYSICAL binding for a mapped HIVE-PARTITIONED
    snapshot, shared by every partition-recovering mapped scan and
    rewrite. Validates the physical-name ``col=value/`` layout; id mode
    resolves data columns from the live files' parquet footers
    (``_id_physical_names``) with the metadata ``physicalName``
    fallback for exactly the partition columns — their values live in
    directory names, never in a footer, so no field id can bind
    them."""
    files = snap["files"] if files is None else files
    ppcols = set(snap["partition_cols"])  # PHYSICAL names
    for p in snap["partition_cols"]:
        seg = f"{p}="
        if not all(seg in f for f in files):
            raise DeltaProtocolError(
                "mapped partitioned table without hive directory "
                "layout (physical-name col=value/ segments) is not "
                "supported"
            )
    if _mapping_mode(snap) == "id":
        phys_of = _id_physical_names(snap["schema"], files)
        meta_of = {l: p for p, l in _physical_renames(snap["schema"])}
        return {
            l: (meta_of[l] if meta_of[l] in ppcols else p)
            for l, p in phys_of.items()
        }
    return {l: p for p, l in _physical_renames(snap["schema"])}


def _mapped_logical_cols(
    snap: dict, phys_of: dict[str, str]
) -> list:
    """Physical→logical rename projection for a mapped PARTITIONED
    scan: directory-recovered partition columns additionally cast back
    to the LOG schema's types (directory inference types
    numeric-looking values as ints)."""
    import pyspark.sql.functions as F

    ppcols = set(snap["partition_cols"])
    cols = []
    for f in json.loads(snap["schema"])["fields"]:
        phys = phys_of[f["name"]]
        c = F.col(phys)
        if phys in ppcols:
            c = c.cast(
                T.StructType.fromJson(
                    {"type": "struct", "fields": [dict(f, metadata={})]}
                ).fields[0].dataType
            )
        cols.append(c.alias(f["name"]))
    return cols


def _read_mapped_partitioned(
    spark: SparkSession,
    table: str,
    snap: dict,
    phys_of: dict[str, str],
    keep_file_col: str | None = None,
) -> DataFrame:
    """Scan a column-mapped HIVE-PARTITIONED table (the protocol keys
    ``partitionColumns``, ``partitionValues`` AND the ``phys=value/``
    directory names by PHYSICAL names when mapping is on — what
    delta-spark writes): basePath-recover the physically-named
    partition columns, read the data columns under the physical
    schema, cast the recovered partition values back to the LOG types,
    and rename everything to logical names. Live deletion vectors
    subtract under the physical schema (``_read_with_dvs`` with the
    physical struct — the DV pair join is name-agnostic).
    ``keep_file_col`` appends the per-row source-file URI the COW
    verbs tag rows with."""
    import pyspark.sql.functions as F

    phys_of = _mapped_part_binding(snap)
    ppcols = set(snap["partition_cols"])
    live_dvs = {
        f: d for f, d in snap["file_dvs"].items() if f in set(snap["files"])
    }
    out_cols = _mapped_logical_cols(snap, phys_of)
    if keep_file_col is not None and live_dvs:
        out_cols = out_cols + [F.col(keep_file_col)]
    if live_dvs:
        # physical full struct (partition cols under physical names):
        # _read_with_dvs basePath-recovers the partition columns and
        # anti-joins the decoded (file, index) pairs
        return _read_with_dvs(
            spark, table, snap["files"], live_dvs,
            _phys_struct(snap["schema"], phys_of),
            snap["partition_cols"], keep_file_col=keep_file_col,
        ).select(out_cols)
    sch = json.loads(snap["schema"])
    data_fields = [
        dict(f, name=phys_of[f["name"]], metadata={})
        for f in sch["fields"]
        if phys_of[f["name"]] not in ppcols
    ]
    data_schema = T.StructType.fromJson(
        {"type": "struct", "fields": data_fields}
    )
    project = None
    if keep_file_col is not None:
        project = lambda d: d.withColumn(  # noqa: E731
            keep_file_col, F.input_file_name()
        )
        out_cols = out_cols + [F.col(keep_file_col)]
    df = _grouped_part_read(
        spark, table, snap["files"], data_schema, project=project
    )
    return df.select(out_cols)


def _generated_prune_filter(snap: dict, src: str, lo, hi):
    """Partition-prune rule derived from a GENERATED partition column
    (delta-spark's OptimizeGeneratedColumn): if some partition column's
    generation expression is a recognized monotone transform of
    ``src``, return a predicate over a file's partitionValues that is
    TRUE for every partition that can contain rows with ``src`` in
    [lo, hi]. None = no applicable rule (callers keep all files — the
    prune is a pure optimization). Recognized forms: ``date_format(src,
    'yyyy-MM-dd')``, ``CAST(src AS DATE)`` (ISO strings compare
    lexicographically), ``year(src)``, ``month(src)``, and integer
    bucketing ``src DIV n``."""
    import re

    gencols = table_generated_columns(snap)
    pcols = snap["partition_cols"]
    l_of = {p: l for p, l in _physical_renames(snap["schema"])}
    for pcol in pcols:
        expr = gencols.get(l_of.get(pcol, pcol))
        if not expr:
            continue
        e = re.sub(r"\s+", " ", expr.strip())
        slo, shi = str(lo), str(hi)
        if re.fullmatch(
            rf"date_format\( ?{src} ?, ?'yyyy-MM-dd' ?\)", e, re.I
        ) or re.fullmatch(rf"CAST ?\( ?{src} AS DATE ?\)", e, re.I):
            dlo, dhi = slo[:10], shi[:10]
            return lambda pv: dlo <= pv.get(pcol, "") <= dhi
        if re.fullmatch(rf"year ?\( ?{src} ?\)", e, re.I):
            ylo, yhi = int(slo[:4]), int(shi[:4])
            return lambda pv: ylo <= int(pv.get(pcol, "0")) <= yhi
        m = re.fullmatch(rf"{src} DIV (\d+)", e, re.I)
        if m:
            n = int(m.group(1))
            blo, bhi = int(lo) // n, int(hi) // n
            return lambda pv: blo <= int(pv.get(pcol, "0")) <= bhi
    return None


def declare_generated_column(table: str, column: str, expression: str) -> int:
    """Attach ``delta.generationExpression`` to an EXISTING column and
    upgrade the protocol with the ``generatedColumns`` writer feature —
    the metadata half of delta-spark's ``GENERATED ALWAYS AS (...)``
    for tables created by this writer. Existing data is validated by
    the caller's construction (the declaring commit does not re-scan);
    every later row-introducing write validates against the expression
    (:func:`_enforce_generated`), and a generated PARTITION column
    additionally powers metadata-layer partition pruning for
    predicates on the SOURCE column (``read_delta(partition_prune=)``,
    delta-spark's OptimizeGeneratedColumn)."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "ALTER TABLE (generated column)",
                            identity_ok=True)
    sch = json.loads(snap["schema"])
    names = [f["name"] for f in sch["fields"]]
    if column not in names:
        raise DeltaProtocolError(
            f"generated column {column!r} is not in the table schema"
        )
    for f in sch["fields"]:
        if f["name"] == column:
            meta = dict(f.get("metadata") or {})
            meta["delta.generationExpression"] = expression
            f["metadata"] = meta
    now_ms = int(time.time() * 1000)
    actions = [
        _protocol_with(snap, writer={"generatedColumns"}),
        _metadata_action(snap, now_ms, schema=json.dumps(sch)),
    ]
    return _commit(
        table, snap["version"] + 1, actions, "ALTER TABLE",
        {"generatedColumn": column, "expression": expression}, now_ms,
    )


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    skip: tuple | None = None,
    timestamp_ms: int | None = None,
    partition_prune: tuple | None = None,
) -> DataFrame:
    """Lazy DataFrame over a real Delta table at ``version`` (latest if
    None). Partitioned tables must use the hive directory layout
    delta-spark/delta-rs write by default (``col=value/`` path
    segments); Spark then recovers partition columns via ``basePath``.
    Delta's schemaString IS Spark's StructType JSON — the log schema is
    authoritative, not footer inference.

    ``skip=(col, lo, hi)`` applies Delta data skipping from the log's
    per-add ``stats``: files whose recorded [min, max] for ``col``
    cannot intersect [lo, hi] are dropped from the scan's file list
    BEFORE Spark opens a single footer — the metadata-layer prune that
    makes a point/range read on a 100 TB table touch only the files
    that can match. Files without stats for the column are
    conservatively kept, so skipping is always a pure optimization; the
    caller still applies the row-level filter.

    ``timestamp_ms`` is ``TIMESTAMP AS OF``: the latest version
    committed at or before that wall-clock moment. Column-mapped
    tables read through the physical→logical rename — ``name`` mode
    via each field's ``physicalName`` metadata, ``id`` mode via
    parquet field-id resolution against the footer (what delta-spark
    tables use after ``ALTER COLUMN`` renames); hive partitioning and
    live deletion vectors compose with mapping in every
    combination."""
    snap = snapshot(table, version, timestamp_ms)
    mode = _mapping_mode(snap)
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"column mapping mode {mode!r} is not supported"
        )
    phys_of: dict[str, str] = {}
    if mode != "none":
        # physicalName metadata serves BOTH modes for the skip-stats
        # key translation (stats JSON is written under physical names
        # in id mode too); id mode's footer-based field-id resolution
        # runs later, on the PRUNED file list — paying O(files) footer
        # reads before pruning would tax exactly the point reads
        # skipping exists to make cheap
        phys_of = {l: p for p, l in _physical_renames(snap["schema"])}
    if partition_prune is not None and snap["files"]:
        # predicate on a SOURCE column prunes partitions keyed by its
        # GENERATED transform (delta-spark's OptimizeGeneratedColumn);
        # unrecognized expressions keep every file — pure optimization,
        # the caller still applies the row-level filter
        _src, _plo, _phi = partition_prune
        _keep = _generated_prune_filter(snap, _src, _plo, _phi)
        if _keep is not None:
            snap = dict(
                snap,
                files=[f for f in snap["files"] if _keep(_file_pvals(f))],
            )
    if skip is not None and snap["files"]:
        col, lo, hi = skip
        col = phys_of.get(col, col)  # stats JSON uses physical names
        kept = []
        for f in snap["files"]:
            raw = snap["file_stats"].get(f)
            rng = None
            if raw:
                st = json.loads(raw)
                if col in st.get("minValues", {}):
                    rng = (st["minValues"][col], st["maxValues"][col])
            if rng is None or not (hi < rng[0] or lo > rng[1]):
                kept.append(f)
        snap = dict(snap, files=kept)
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    if not snap["files"]:
        return spark.createDataFrame([], full)
    live_dvs = {
        f: d for f, d in snap["file_dvs"].items() if f in set(snap["files"])
    }
    if mode != "none":
        if snap["partition_cols"]:
            # hive-partitioned mapped scan; live DVs subtract under the
            # physical schema inside (mapping + partitioning +
            # merge-on-read all compose)
            return _read_mapped_partitioned(spark, table, snap, phys_of)
        if mode == "id":
            # field-id resolution + drift validation over exactly the
            # files this scan will open (post skip-pruning)
            phys_of = _id_physical_names(snap["schema"], snap["files"])
        if live_dvs:
            # the DV subtraction is name-agnostic (file URI + row
            # index); scan under the PHYSICAL schema, subtract, then
            # rename — mapping and merge-on-read compose
            return _read_with_dvs(
                spark, table, snap["files"], live_dvs,
                _phys_struct(snap["schema"], phys_of), [],
            ).select(_logical_cols(snap["schema"], phys_of))
        return _read_with_mapping(
            spark, snap["files"], snap["schema"], phys_of or None
        )
    if snap["partition_cols"]:
        for p in snap["partition_cols"]:
            seg = f"{p}="
            if not all(seg in f for f in snap["files"]):
                raise DeltaProtocolError(
                    "partitioned table without hive directory layout: "
                    "per-file partitionValues materialization is not "
                    "supported"
                )
    if live_dvs:
        return _read_with_dvs(
            spark, table, snap["files"], live_dvs, full,
            snap["partition_cols"],
        )
    if snap["partition_cols"]:
        # data files carry only the non-partition columns; Spark
        # recovers partition columns from the directory names (grouped
        # by root, so a shallow clone's source-absolute references
        # read alongside the clone's own appends). The LOG schema is
        # authoritative for the recovered values' types
        data_schema = T.StructType(
            [f for f in full.fields if f.name not in snap["partition_cols"]]
        )
        return _grouped_part_read(
            spark, table, snap["files"], data_schema
        ).select(_pcol_cast_cols(full, snap["partition_cols"]))
    return spark.read.schema(full).parquet(*snap["files"])


def _hive_pvals(rel_dir: str) -> dict[str, str]:
    """Partition column → raw value from a hive ``col=value/...``
    RELATIVE DIRECTORY ('' or '.' → unpartitioned). The ONE parser
    every commit-building verb uses, so partitionValues can never
    drift between OPTIMIZE, the DELETE strategies, RESTORE and the
    CDF writer."""
    if not rel_dir or rel_dir == ".":
        return {}
    return dict(
        (k, unquote(v))
        for k, v in (seg.split("=", 1) for seg in rel_dir.split(os.sep))
    )


def _file_pvals(path: str) -> dict[str, str]:
    """Partition column → raw value from a data file's TRAILING hive
    ``col=value/`` directory segments, root-agnostic: works for files
    under this table's root AND for a shallow clone's absolute
    references into the source's layout (where a table-relative parse
    would choke on the ``../`` prefix)."""
    segs: list[str] = []
    d = os.path.dirname(os.path.abspath(path))
    while "=" in os.path.basename(d):
        segs.append(os.path.basename(d))
        d = os.path.dirname(d)
    return dict(
        (k, unquote(v))
        for k, v in (seg.split("=", 1) for seg in reversed(segs))
    )


def _part_base(path: str) -> str:
    """The directory above a data file's trailing hive segments — the
    ``basePath`` Spark needs to recover its partition columns."""
    d = os.path.dirname(os.path.abspath(path))
    while "=" in os.path.basename(d):
        d = os.path.dirname(d)
    return d


def _grouped_part_read(
    spark: SparkSession,
    table: str,
    files: list[str],
    data_schema: "T.StructType",
    project=None,
) -> DataFrame:
    """Partition-recovering scan that tolerates MIXED roots: files
    under the table root read with ``basePath`` = the table; a shallow
    clone's absolute references into the source's hive layout group by
    the directory above their trailing ``col=value/`` segments (the
    source root). One read per root, unioned — the union is per
    DISTINCT ROOT (a clone has exactly two), never per file.
    ``project(df)`` runs per branch BEFORE the union so per-scan
    metadata columns (``_metadata.file_path``) resolve."""
    root = os.path.abspath(table)
    by_base: dict[str, list[str]] = {}
    for f in files:
        a = os.path.abspath(f)
        base = root if a.startswith(root + os.sep) else _part_base(a)
        by_base.setdefault(base, []).append(f)
    parts = []
    for base, fs in sorted(by_base.items()):
        df = spark.read.option("basePath", base).schema(
            data_schema
        ).parquet(*fs)
        parts.append(project(df) if project is not None else df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pcol_cast_cols(full: "T.StructType", pcols: list[str]) -> list:
    """Projection casting directory-recovered partition columns back to
    the LOG schema's types (directory inference types numeric-looking
    values as ints); data columns pass through untouched. Shared by
    every partition-recovering read."""
    import pyspark.sql.functions as F

    return [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in pcols
        else F.col(f.name)
        for f in full.fields
    ]


def _file_uri(abs_path: str) -> str:
    """``abs_path`` in the exact form Spark's ``_metadata.file_path``
    reports it: ``file:`` + single slash + the path with spaces and
    other non-URI characters percent-encoded, RFC 3986 pchar kept
    literal — ``/``, sub-delims (``!$&'()*+,;=`` — hive partition
    dirs contain ``=``), ``:`` and ``@`` (measured against Spark's
    Hadoop-Path / Java URI rendering — a raw-string comparison against
    ``os.path.abspath`` silently mismatched any file name with an
    encodable character, resurrecting its deleted rows)."""
    return "file:/" + quote(
        os.path.abspath(abs_path).lstrip("/"), safe="/!$&'()*+,;=:@"
    )


def _read_with_dvs(
    spark: SparkSession,
    table: str,
    files: list[str],
    dvs: dict[str, dict],
    full: "T.StructType",
    partition_cols: list[str] | None = None,
    keep_file_col: str | None = None,
) -> DataFrame:
    """Scan ``files`` subtracting each file's deletion-vector rows: the
    parquet source exposes ``_metadata.row_index``, and the decoded
    (file, index) pairs anti-join it under a broadcast. The pair table
    is O(|deleted rows in scan|) — the same payload Delta's own readers
    materialize per file from the DV blobs (executors would fetch and
    decode the bitmaps themselves on a cluster; building the pair set
    driver-side is the local-mode rendering of the identical data
    volume). No data file is rewritten anywhere on this path — that is
    the merge-on-read contract."""
    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.storage import dvcodec

    pairs = [
        (_file_uri(f), int(pos))
        for f, desc in dvs.items()
        for pos in dvcodec.read_dv(table, desc)
    ]
    pcols = list(partition_cols or [])

    def _with_meta(df):
        return df.select(
            "*",
            # normalize the slash count only; the percent-encoding is
            # matched by _file_uri on the driver side
            F.expr(
                "regexp_replace(_metadata.file_path, '^file:/+', 'file:/')"
            ).alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
        )

    if pcols:
        # hive layout: data files carry only the non-partition columns;
        # basePath recovers the partition columns from directory names
        # (root-grouped, so a clone's source-absolute references read)
        data_schema = T.StructType(
            [f for f in full.fields if f.name not in pcols]
        )
        base = _grouped_part_read(
            spark, table, files, data_schema, project=_with_meta
        )
    else:
        base = _with_meta(spark.read.schema(full).parquet(*files))
    del_df = spark.createDataFrame(
        pairs, "`_dv_file` STRING, `_dv_pos` BIGINT"
    )
    alive = base.join(
        F.broadcast(del_df), ["_dv_file", "_dv_pos"], "left_anti"
    )
    out_cols = _pcol_cast_cols(full, pcols)
    if keep_file_col is not None:
        # the COW rewrite verbs tag rows by source file; input_file_name
        # is unreliable after the anti-join, so they keep the scan's own
        # file column instead (same URI normalization as the pair table)
        out_cols = out_cols + [F.col("_dv_file").alias(keep_file_col)]
    return alive.select(out_cols)


def streaming_sink(
    table: str, app_id: str, partition_by: list[str] | None = None
):
    """``foreachBatch`` function writing a stream into a REAL Delta
    table exactly-once: each epoch appends with ``txn=(app_id,
    epoch)``, so a crash-replayed micro-batch no-ops instead of
    double-appending — the generic form of the medallion sink
    (``streaming.ingest.medallion_writer``), for pipelines whose
    downstream readers are delta-rs / delta-spark. ``partition_by``
    lands the stream in hive layout (fixed at table creation, like any
    append). Usage::

        stream.writeStream.foreachBatch(
            delta_compat.streaming_sink(path, "my-app",
                                        partition_by=["day"])
        )
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_delta(
            batch_df, table, txn=(app_id, epoch_id),
            partition_by=partition_by,
        )

    return write_batch


def _latest_snapshot(table: str) -> dict | None:
    """``snapshot(table)``, or None for a table that does not exist yet
    (no log directory, or one holding no commit) — the create case of
    the verbs that may create their table."""
    try:
        return snapshot(table)
    except DeltaCorruptLogError:
        if is_delta_table(table) and _list_commit_versions(table):
            raise
        return None


def _txn_version(snap: dict | None, app_id: str) -> int:
    t = None if snap is None else snap["txns"].get(app_id)
    return -1 if t is None else t["version"]


def last_txn_version(table: str, app_id: str) -> int:
    """Highest ``txn`` action version committed for ``app_id`` (-1 if
    none, or if ``table`` is not a Delta table) — Delta's exactly-once
    handshake for streaming sinks: a restarted writer checks this
    before re-appending an epoch. A lookup in the latest snapshot's
    ``txns``: replay folds ``txn`` actions like every other action, so
    txns carried by the newest checkpoint or a compacted range survive
    ``cleanup_log`` truncating the JSON commits that first held them
    (without that, truncating the log would amnesia the handshake and
    a replayed epoch would double-append)."""
    if not is_delta_table(table):
        return -1
    return _txn_version(_latest_snapshot(table), app_id)


def table_column_defaults(schema_json: str) -> dict[str, str]:
    """Column DEFAULT expressions from the log schema: name → SQL
    expression, read from the ``CURRENT_DEFAULT`` field-metadata key
    delta-spark records for ``allowColumnDefaults`` tables."""
    out: dict[str, str] = {}
    for f in json.loads(schema_json)["fields"]:
        meta = f.get("metadata") or {}
        if meta.get("CURRENT_DEFAULT"):
            out[f["name"]] = meta["CURRENT_DEFAULT"]
    return out


def table_identity_columns(schema_json: str) -> dict[str, dict]:
    """Identity-column specs from the log schema: name →
    {start, step, hwm, allow_explicit}. ``hwm`` is None until the first
    value is minted (the protocol omits ``highWaterMark`` on a fresh
    column)."""
    out: dict[str, dict] = {}
    for f in json.loads(schema_json)["fields"]:
        meta = f.get("metadata") or {}
        if any(k.startswith("delta.identity.") for k in meta):
            out[f["name"]] = {
                "start": int(meta.get("delta.identity.start", 1)),
                "step": int(meta.get("delta.identity.step", 1)),
                "hwm": (
                    int(meta["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in meta
                    else None
                ),
                "allow_explicit": bool(
                    meta.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _patch_identity_hwm(schema_json: str, col: str, hwm: int) -> str:
    """The schema with ``col``'s ``delta.identity.highWaterMark``
    advanced to ``hwm`` — the metaData update the protocol requires in
    the SAME commit as any value-minting write."""
    sch = json.loads(schema_json)
    for f in sch["fields"]:
        if f["name"] == col:
            meta = dict(f.get("metadata") or {})
            meta["delta.identity.highWaterMark"] = hwm
            f["metadata"] = meta
    return json.dumps(sch)


def _mint_identity(
    df: DataFrame, col: str, base: int, step: int
) -> tuple[DataFrame, int]:
    """Assign ``col`` = the contiguous range base, base+step, … across
    ``df`` in an arbitrary partition-layout permutation — delta-spark's
    per-task identity block allocation made CONTIGUOUS, so the range
    accounting (count/min/max/sum) is exact and oracle-checkable while
    the assignment itself never globally sorts: the batch pins via
    localCheckpoint, per-partition counts become prefix offsets (one
    driver row per partition), and each row takes base + step ×
    (offset + local rank) under a PER-PARTITION window. Returns
    (df_with_ids, row_count)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    df = df.localCheckpoint(eager=True)
    tagged = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in tagged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # METADATA only: one row per partition
    )
    offs, acc = [], 0
    for pid, n in counts:
        offs.append((pid, acc))
        acc += n
    if not acc:
        return (
            df.withColumn(col, F.lit(None).cast("long")),
            0,
        )
    off_df = df.sparkSession.createDataFrame(
        offs, "`_pid` INT, `_off` BIGINT"
    )
    w = Window.partitionBy("_pid").orderBy("_mid")
    out = (
        tagged.join(F.broadcast(off_df), "_pid")
        .withColumn(
            col,
            F.lit(base).cast("long")
            + F.lit(step).cast("long")
            * (F.col("_off") + F.row_number().over(w) - 1),
        )
        .drop("_pid", "_mid", "_off")
    )
    return out, acc


def _identity_merge_source(
    source: DataFrame,
    tagged: DataFrame,
    idents: dict[str, dict],
    id_missing: list[str],
    key_cols: list[str],
    snap: dict,
) -> tuple[DataFrame, str | None]:
    """The merge source with every identity column resolved, plus the
    evolved schemaString when a high-water mark moved (None otherwise).

    delta-spark's MERGE-on-identity contract: an OMITTED identity
    column means matched rows KEEP the target's minted value (UPDATE
    never touches an identity column) and unmatched rows take the next
    contiguous range past ``delta.identity.highWaterMark``
    (``_mint_identity`` — the same per-partition block allocation as
    appends, no global sort); a source that CARRIES the column is an
    explicit insert — allowed only when ``allowExplicitInsert``
    (GENERATED BY DEFAULT), bumping the mark past the supplied
    maximum. The matched-key id lookup is a broadcast of the matched
    keys only — the same altitude as the touched-file discovery."""
    import pyspark.sql.functions as F

    if set(key_cols) & set(id_missing):
        raise DeltaProtocolError(
            "MERGE keys include an identity column absent from the "
            f"source: {sorted(set(key_cols) & set(id_missing))}"
        )
    new_schema = snap["schema"]
    for c in sorted(set(idents) & set(source.columns)):
        spec = idents[c]
        if not spec["allow_explicit"]:
            raise DeltaProtocolError(
                f"MERGE: column {c!r} is GENERATED ALWAYS AS IDENTITY; "
                "explicit values are not allowed (allowExplicitInsert "
                "is false)"
            )
        mx = source.agg(
            F.max(F.col(c).cast("long")).alias("mx")
        ).collect()[0]["mx"]  # METADATA only: one aggregate row
        if mx is not None and (spec["hwm"] is None or mx > spec["hwm"]):
            new_schema = _patch_identity_hwm(new_schema, c, mx)
    if id_missing:
        keys = source.select(*key_cols).distinct()
        kept = (
            tagged.join(F.broadcast(keys), key_cols, "leftsemi")
            .groupBy(*key_cols)
            .agg(*[F.min(c).alias(c) for c in id_missing])
        )
        src_upd = source.join(F.broadcast(kept), key_cols, "inner")
        src_new = source.join(
            F.broadcast(kept.select(*key_cols)), key_cols, "left_anti"
        )
        for c in id_missing:
            spec = idents[c]
            base = (
                spec["hwm"] + spec["step"]
                if spec["hwm"] is not None
                else spec["start"]
            )
            src_new, n_mint = _mint_identity(
                src_new, c, base, spec["step"]
            )
            if n_mint:
                new_schema = _patch_identity_hwm(
                    new_schema, c, base + spec["step"] * (n_mint - 1)
                )
        source = src_upd.unionByName(src_new.select(*src_upd.columns))
    return source, (
        None if new_schema == snap["schema"] else new_schema
    )


def merge_schemas(
    table_schema: T.StructType, df_schema: T.StructType
) -> T.StructType:
    """Delta-style additive schema evolution: the merged schema keeps
    every table column (original order) and appends the incoming
    frame's NEW columns as nullable. A column present in both with a
    different type is a hard error — silent type coercion is how lakes
    corrupt; Delta rejects it too."""
    existing = {f.name: f for f in table_schema.fields}
    out = list(table_schema.fields)
    for f in df_schema.fields:
        prev = existing.get(f.name)
        if prev is None:
            out.append(T.StructField(f.name, f.dataType, nullable=True))
        elif prev.dataType != f.dataType:
            raise SchemaMismatchError(
                f"type conflict on {f.name}: table={prev.dataType} "
                f"df={f.dataType}"
            )
    return T.StructType(out)


def _txn_actions(
    snap: dict | None, txn: tuple[str, int] | None
) -> list[dict] | None:
    """Delta's exactly-once handshake for a commit keyed ``txn=(app_id,
    epoch)``, shared by every verb that takes one and read from the
    snapshot the verb already holds (None: the table is being
    created): None when that snapshot already holds a ``txn`` action
    for this app at >= epoch (the caller no-ops and returns -1 — a
    replayed epoch after a crash), else the actions the commit must
    carry so data and progress publish atomically (the ``txn`` action;
    nothing without a key)."""
    if txn is None:
        return []
    if _txn_version(snap, txn[0]) >= txn[1]:
        return None
    return [
        {"txn": {"appId": txn[0], "version": txn[1],
                 "lastUpdated": int(time.time() * 1000)}}
    ]


def _spark_schema(data: DataFrame | pa.Table) -> T.StructType:
    """The Spark schema of a DataFrame, or of a ``pyarrow.Table``."""
    if isinstance(data, DataFrame):
        return data.schema
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(data.schema)


def _appends_as_written(
    snap: dict | None,
    schema: T.StructType,
    partition_by: list[str] | None,
    identity: dict | None,
    cluster_by: list[str] | None,
) -> bool:
    """Whether a batch of ``schema`` lands in ``snap``'s table exactly as
    it is, with no row transformed or checked on the way in: no
    partitioning, identity minting, clustering, column mapping, CHECK
    constraint, invariant or generated column, and the table's own
    column names and types (so no defaults filled, no schema evolved,
    nothing refused)."""
    if partition_by or identity is not None or cluster_by is not None:
        return False
    if snap is None:
        return True
    table_schema = T.StructType.fromJson(json.loads(snap["schema"]))
    return (
        not snap["partition_cols"]
        and _mapping_mode(snap) == "none"
        and not table_identity_columns(snap["schema"])
        and not _row_write_checks(snap)
        and not table_generated_columns(snap)
        and {f.name: f.dataType for f in table_schema.fields}
        == {f.name: f.dataType for f in schema.fields}
    )


def append_delta(
    df: DataFrame | pa.Table,
    table: str,
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    identity: dict | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Append-only Delta writer: distributed parquet write, then one
    driver-side JSON commit (protocol + metaData on create, adds
    always). Publishes via atomic link-claim; returns the committed
    version.

    ``df`` is a DataFrame, or a ``pyarrow.Table`` already on the
    driver (a small streaming epoch). An Arrow batch that lands as it
    is (:func:`_appends_as_written`) is written by pyarrow as ONE file,
    with no Spark job, into the same staged layout, stats and commit; any
    other becomes a DataFrame first and takes the path below.

    ``partition_by`` writes the hive layout delta-spark produces
    (``col=value/`` dirs, URL-encoded paths, raw values in each add's
    ``partitionValues``); partitioning is fixed at table creation and
    later appends must match. Nulls in partition columns are not
    supported (delta-spark's ``__HIVE_DEFAULT_PARTITION__`` escape is
    out of scope).

    ``txn=(app_id, epoch)`` makes the append idempotent the way a Delta
    streaming sink is: if the log already holds a ``txn`` action for
    this app at >= epoch, the call is a no-op returning -1; otherwise
    the commit carries the ``txn`` action, so data + progress publish
    atomically (a replayed epoch after a crash cannot double-append).

    ``merge_schema=True`` is Delta's additive schema evolution
    (``option("mergeSchema", "true")``): new columns in ``df`` extend
    the table schema as nullables via ONE new ``metaData`` action in
    the same commit — no data file is rewritten, earlier files simply
    read NULL for the new columns because the log schema (not footer
    inference) drives the scan. Type changes and, without the flag,
    any column-set drift refuse loudly — silent coercion is how lakes
    corrupt, and delta-rs rejects the same way (the enforcement the
    reference leans on at collector.py:219-226).

    ``identity`` (creation only): ``{"column": name, "start": 1,
    "step": 1, "allow_explicit": False}`` declares a GENERATED
    IDENTITY column (``delta.identity.*`` metadata, writer version 6 —
    what delta-spark emits for ``GENERATED ALWAYS AS IDENTITY``). The
    column is NOT in ``df``; this writer mints it: each minting append
    assigns the contiguous next range past the high-water mark
    (``_mint_identity`` — per-partition block allocation, no global
    sort) and advances ``delta.identity.highWaterMark`` in the same
    commit's metaData, the protocol's writer obligation. Later appends
    mint whenever the identity column is absent from ``df``; a
    full-schema append supplies explicit values only if
    ``allow_explicit`` (GENERATED BY DEFAULT), which bumps the mark to
    max(mark, supplied). Identity appends never rebase after a lost
    race (the winner may have minted the same range — same
    non-retryable class as schema changes).

    ``cluster_by`` (creation only): ``CREATE TABLE ... CLUSTER BY`` —
    delta-spark creates liquid-clustered tables from birth: commit 0
    carries writer version 7 with the ``clustering`` +
    ``domainMetadata`` features and the ``delta.clustering`` domain
    (same state ``enable_clustering`` mints on an existing table), so
    the very first ``optimize_delta`` with no explicit ``zorder_by``
    already reclusters on these columns. Shares ``enable_clustering``'s
    refusals (empty/unknown columns, more than four, partitioned —
    clustering and hive partitioning are mutually exclusive) and
    additionally refuses on an EXISTING table, where the ALTER verb is
    the correct surface."""
    snap0 = _latest_snapshot(table)
    txn_actions = _txn_actions(snap0, txn)
    if txn_actions is None:
        return -1
    if not isinstance(df, DataFrame) and not _appends_as_written(
        snap0, _spark_schema(df), partition_by, identity, cluster_by
    ):
        df = SparkSession.active().createDataFrame(df)
    partition_by = list(partition_by or [])
    os.makedirs(_log_dir(table), exist_ok=True)
    version = 0 if snap0 is None else snap0["version"] + 1
    created_identity: tuple | None = None
    if identity is not None:
        if version > 0:
            raise DeltaProtocolError(
                "identity= declares the column at table CREATION; later "
                "appends mint automatically from the stored metadata"
            )
        _icol = identity["column"]
        _istart = int(identity.get("start", 1))
        _istep = int(identity.get("step", 1))
        if _istep <= 0:
            raise DeltaProtocolError("identity step must be positive")
        if _icol in df.columns:
            raise DeltaProtocolError(
                f"identity column {_icol!r} must not be present in the "
                "creating batch (the writer mints it)"
            )
        df, _n0 = _mint_identity(df, _icol, _istart, _istep)
        created_identity = (
            _icol,
            _istart,
            _istep,
            bool(identity.get("allow_explicit", False)),
            _istart + _istep * (_n0 - 1) if _n0 else None,
        )
    if cluster_by is not None:
        if version > 0:
            raise DeltaProtocolError(
                "cluster_by= declares the layout at table CREATION; use "
                "enable_clustering to alter an existing table"
            )
        if partition_by:
            raise DeltaProtocolError(
                "CLUSTER BY: clustering and hive partitioning are "
                "mutually exclusive"
            )
        if not cluster_by:
            raise DeltaProtocolError("CLUSTER BY: empty column list")
        if len(cluster_by) > _CLUSTERING_MAX_COLS:
            raise DeltaProtocolError(
                f"CLUSTER BY: at most {_CLUSTERING_MAX_COLS} clustering "
                f"columns (got {len(cluster_by)})"
            )
        _cb_unknown = set(cluster_by) - set(df.columns)
        if _cb_unknown:
            raise DeltaProtocolError(
                f"CLUSTER BY: {sorted(_cb_unknown)} are not columns of "
                "the created schema"
            )
    evolved_schema_json: str | None = None
    evolved_config: dict | None = None
    mapping_mode = "none"
    mapped_schema_json: str | None = None
    if version > 0:
        _check_writer_protocol(snap0, "append", identity_ok=True)
    # an Arrow batch still here needs none of these checks or rewrites
    if version > 0 and isinstance(df, DataFrame):
        evolved_config = dict(snap0.get("configuration") or {})
        mapping_mode = _mapping_mode(snap0)
        if mapping_mode not in ("none", "name", "id"):
            raise DeltaProtocolError(
                f"appending to a column mapping mode {mapping_mode!r} "
                "table is not supported"
            )
        mapped_schema_json = snap0["schema"]
        existing = snap0["partition_cols"]  # PHYSICAL names when mapped
        if mapping_mode != "none" and partition_by:
            # the caller names partition columns LOGICALLY (the user
            # surface); the log and the hive directories key them
            # physically — translate before comparing and writing
            _pmap = {l: p for p, l in _physical_renames(snap0["schema"])}
            partition_by = [_pmap.get(c, c) for c in partition_by]
        if existing != partition_by:
            raise DeltaProtocolError(
                f"table is partitioned by {existing}, append specified "
                f"{partition_by}"
            )
        table_schema = T.StructType.fromJson(json.loads(snap0["schema"]))
        table_cols = {f.name for f in table_schema.fields}
        df_cols = set(df.columns)
        idents = table_identity_columns(snap0["schema"])
        _id_missing = table_cols - df_cols
        if (
            idents
            and _id_missing
            and _id_missing <= set(idents)
            and not (df_cols - table_cols)
            and not merge_schema
        ):
            # GENERATED identity: mint the contiguous next range and
            # advance the high-water mark in this commit's metaData
            new_schema = snap0["schema"]
            for c in sorted(_id_missing):
                spec = idents[c]
                base = (
                    spec["hwm"] + spec["step"]
                    if spec["hwm"] is not None
                    else spec["start"]
                )
                df, n_mint = _mint_identity(df, c, base, spec["step"])
                if n_mint:
                    new_schema = _patch_identity_hwm(
                        new_schema, c, base + spec["step"] * (n_mint - 1)
                    )
            if new_schema != snap0["schema"]:
                evolved_schema_json = new_schema
                mapped_schema_json = new_schema
            df_cols = set(df.columns)
        elif idents and not _id_missing:
            import pyspark.sql.functions as F

            # full-schema append: explicit identity values
            for c in sorted(set(idents) & df_cols):
                spec = idents[c]
                if not spec["allow_explicit"]:
                    raise DeltaProtocolError(
                        f"append: column {c!r} is GENERATED ALWAYS AS "
                        "IDENTITY; explicit values are not allowed "
                        "(allowExplicitInsert is false)"
                    )
                mx = df.agg(
                    F.max(F.col(c).cast("long")).alias("mx")
                ).collect()[0]["mx"]  # METADATA only: one aggregate row
                if mx is not None and (
                    spec["hwm"] is None or mx > spec["hwm"]
                ):
                    evolved_schema_json = _patch_identity_hwm(
                        evolved_schema_json or snap0["schema"], c, mx
                    )
                    mapped_schema_json = evolved_schema_json
        defaults = table_column_defaults(snap0["schema"])
        d_missing = table_cols - df_cols
        if (
            defaults
            and d_missing
            and d_missing <= set(defaults)
            and not (df_cols - table_cols)
            and not merge_schema
        ):
            import pyspark.sql.functions as F

            # allowColumnDefaults: fill omitted columns from their
            # CURRENT_DEFAULT expressions (cast to the declared type)
            for c in sorted(d_missing):
                fld_t = next(
                    f.dataType
                    for f in table_schema.fields
                    if f.name == c
                )
                df = df.withColumn(c, F.expr(defaults[c]).cast(fld_t))
            df_cols = set(df.columns)
        if df_cols != table_cols:
            if not merge_schema:
                raise DeltaProtocolError(
                    f"append schema {sorted(df_cols)} does not match table "
                    f"schema {sorted(table_cols)}; pass merge_schema=True "
                    "for additive evolution"
                )
            if table_cols - df_cols:
                raise DeltaProtocolError(
                    "merge_schema append must carry every existing column "
                    f"(missing {sorted(table_cols - df_cols)})"
                )
            evolved_schema_json = merge_schemas(
                table_schema, df.schema
            ).json()
            _have = set(
                (snap0.get("protocol") or {}).get("writerFeatures")
                or []
            )
            if _schema_has_variant(evolved_schema_json) and not (
                {"variantType", "variantType-preview"} & _have
            ):
                raise DeltaProtocolError(
                    "merge_schema cannot add a VARIANT column to a "
                    "table whose protocol does not list variantType; "
                    "create variant tables with the feature from the "
                    "start"
                )
            if _schema_has_collations(evolved_schema_json) and not (
                {"collations", "collations-preview"} & _have
            ):
                raise DeltaProtocolError(
                    "merge_schema cannot add a COLLATED column to a "
                    "table whose protocol does not list collations; "
                    "create collated tables with the feature from the "
                    "start"
                )
            if mapping_mode != "none":
                # columns added to a mapped table get fresh ids from
                # maxColumnId and col-<uuid> physical names (delta-spark's
                # assignment) — a reused logical name must never collide
                # with an old physical column in earlier files
                evolved_schema_json, evolved_config = _assign_mapping_ids(
                    evolved_schema_json, evolved_config
                )
            mapped_schema_json = evolved_schema_json
        else:
            # same column set: still refuse silent type drift
            merge_schemas(table_schema, df.schema)
        # CHECK constraints gate every append (one scan of the BATCH,
        # not the table — the add-time full scan happened once in
        # add_constraint)
        _enforce_constraints(df, _row_write_checks(snap0))
        # generated columns: new rows must equal their expressions
        _enforce_generated(df, table_generated_columns(snap0))

    # the data files of a mapped table carry PHYSICAL column names (and
    # the mapping id as parquet field id, so id-mode readers resolve
    # too); everything above — schema checks, constraints, generated
    # columns — ran on logical names, the user's surface. id mode
    # additionally pins each written name to the live footers' id→name
    # binding (drift-safe append)
    adds = _write_staged(
        table,
        _physical_for(snap0, df, schema_json=mapped_schema_json),
        version,
        partition_by,
    )

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if version == 0:
        create_schema = _spark_schema(df).json()
        proto_w = 2
        if created_identity is not None:
            _icol, _istart, _istep, _iallow, _ihwm = created_identity
            sch = json.loads(create_schema)
            for f in sch["fields"]:
                if f["name"] == _icol:
                    meta = {
                        "delta.identity.start": _istart,
                        "delta.identity.step": _istep,
                        "delta.identity.allowExplicitInsert": _iallow,
                    }
                    if _ihwm is not None:
                        meta["delta.identity.highWaterMark"] = _ihwm
                    f["metadata"] = meta
            create_schema = json.dumps(sch)
            proto_w = 6  # identity columns: legacy writer version 6
        has_variant = _schema_has_variant(create_schema)
        has_coll = _schema_has_collations(create_schema)
        if (has_variant or has_coll) and created_identity is not None:
            raise DeltaProtocolError(
                "creating a table with identity columns plus "
                "variant/collated columns is not supported"
            )
        # TABLE FEATURES minted from the created schema, the spec's
        # requirement (delta-spark does the same on CREATE):
        # variantType needs the reader-3/writer-7 pair; collations is
        # writer-only (readers without it ignore the metadata). A
        # schema-feature table is born at writer 7 with nothing
        # implied; CREATE ... CLUSTER BY alone upgrades the legacy
        # version, whose implied features become explicit flags
        wfeats = (["variantType"] if has_variant else []) + (
            ["collations"] if has_coll else []
        )
        if cluster_by is not None:
            wfeats += ["clustering", "domainMetadata"]
        born: dict = {
            "minReaderVersion": 1,
            "minWriterVersion": 7 if has_variant or has_coll else proto_w,
        }
        actions.append(
            _protocol_with(
                {"protocol": born},
                writer=wfeats,
                reader=["variantType"] if has_variant else (),
            )
            if wfeats
            else {"protocol": born}
        )
        actions.append(
            _metadata_action(
                {"partition_cols": partition_by}, now_ms,
                schema=create_schema, configuration={},
            )
        )
        if cluster_by is not None:
            # creation schema carries no column mapping, so logical
            # names ARE the physical names the domain must store
            actions.append(
                {
                    "domainMetadata": {
                        "domain": _CLUSTERING_DOMAIN,
                        "configuration": json.dumps(
                            {"clusteringColumns": [[c] for c in cluster_by]}
                        ),
                        "removed": False,
                    }
                }
            )
    if evolved_schema_json is not None:
        actions.append(
            _metadata_action(
                snap0, now_ms, schema=evolved_schema_json,
                configuration=evolved_config,
            )
        )
    actions.extend(txn_actions)
    actions.extend(adds)
    op, op_params = "WRITE", {"mode": "Append"}
    if cluster_by is not None:
        op = "CREATE TABLE AS SELECT"
        op_params["clusterBy"] = json.dumps(cluster_by)
    if version > 0:
        actions = _stamp_row_tracking(snap0, version, actions)
    # Optimistic-concurrency rebase for the ONE commuting case: append
    # vs append. The data files are already promoted into the table and
    # version-independent; losing the version race only means another
    # writer's actions landed first, and since neither commit removes
    # or re-adds the other's files, replaying the SAME adds at the next
    # free slot is exactly delta-spark's conflict-check outcome for
    # blind appends. Anything non-commuting (the winner changed schema,
    # partitioning, or mapping — or the loss was the table-creation
    # commit itself) refuses instead of retrying. A rowTracking table
    # re-assigns its row ids against the fresh snapshot (the winner may
    # have advanced the high-water mark — a blind replay would collide).
    # A txn-keyed append re-runs the handshake against that snapshot: if
    # the winner was another attempt of this same epoch, this one is a
    # replay and no-ops (its promoted files are left for VACUUM). Each
    # attempt's commitInfo is minted fresh by _commit, so a retry never
    # carries the lost attempt's timestamps.
    for attempt in range(6):
        try:
            return _commit(table, version, actions, op, op_params)
        except ConcurrentDeltaCommitError:
            if attempt == 5 or version == 0 or evolved_schema_json is not None:
                # out of retries, or a concurrent CREATE / schema change
                # (not commuting)
                raise
            cur = _rebase_append(table, version, partition_by)
            if _txn_actions(cur, txn) is None:
                return -1
            version = cur["version"] + 1
            actions = _stamp_row_tracking(
                cur, version, _strip_row_tracking(actions)
            )


def _assign_mapping_ids(schema_json: str, config: dict) -> tuple[str, dict]:
    """Give every field lacking column-mapping metadata a fresh id
    (continuing from ``delta.columnMapping.maxColumnId``) and a
    ``col-<uuid>`` physical name — delta-spark's assignment for columns
    added to a mapped table. Returns (schemaString, configuration) with
    maxColumnId advanced."""
    sch = json.loads(schema_json)
    cfg = dict(config or {})
    # a foreign table may lack (or carry a stale) maxColumnId — a fresh
    # id colliding with an existing field id would make the table
    # unresolvable, so the floor is the max of the config value and the
    # ids actually present in the schema (delta-spark's derivation)
    present = [
        int((f.get("metadata") or {}).get("delta.columnMapping.id"))
        for f in sch["fields"]
        if (f.get("metadata") or {}).get("delta.columnMapping.id")
        is not None
    ]
    next_id = (
        max(
            int(cfg.get("delta.columnMapping.maxColumnId", "0")),
            max(present, default=0),
        )
        + 1
    )
    fields = []
    for f in sch["fields"]:
        meta = dict(f.get("metadata") or {})
        if "delta.columnMapping.id" not in meta:
            meta["delta.columnMapping.id"] = next_id
            meta["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
            next_id += 1
            f = dict(f, metadata=meta)
        fields.append(f)
    cfg["delta.columnMapping.maxColumnId"] = str(next_id - 1)
    return json.dumps({"type": "struct", "fields": fields}), cfg


def _to_physical(
    df: DataFrame,
    schema_json: str,
    extra: tuple[str, ...] = (),
    phys_of: dict[str, str] | None = None,
    attach_ids: bool = True,
) -> DataFrame:
    """Project a logical-named frame to the PHYSICAL column names a
    mapped table's parquet files must carry. Each alias also attaches
    the field's mapping id as ``parquet.field.id`` metadata — Spark
    writes it into the footer (``spark.sql.parquet.fieldId.write.
    enabled`` defaults on), so the emitted files satisfy name-mode AND
    id-mode resolution. A pure projection: pushdown, partitioning and
    the write plan are untouched. ``extra`` names columns outside the
    table schema passed through unchanged (CDF's ``_change_type`` —
    delta-spark stores it literally in mapped change files too); any
    other unknown column still KeyErrors, the append-time contract.
    ``phys_of`` overrides the logical→physical names (id mode writes
    footer-resolved names so a new file never drifts from the existing
    per-file resolution); default is the metadata ``physicalName``.
    ``attach_ids=False`` suppresses the field-id metadata — for writes
    into an id-mode table whose live files carry no ids (the reader
    refuses a with/without mix, so the write must match the file set it
    joins)."""
    import pyspark.sql.functions as F

    sch = json.loads(schema_json)
    meta_of = {f["name"]: (f.get("metadata") or {}) for f in sch["fields"]}
    cols = []
    for c in df.columns:
        if c in extra:
            cols.append(F.col(c))
            continue
        m = meta_of[c]
        phys = (phys_of or {}).get(
            c, m.get("delta.columnMapping.physicalName", c)
        )
        meta = (
            {"parquet.field.id": int(m["delta.columnMapping.id"])}
            if attach_ids
            else {}
        )
        cols.append(F.col(c).alias(phys, metadata=meta))
    return df.select(cols)


def _mapped_write_plan(
    snap: dict, schema_json: str | None = None
) -> tuple[dict[str, str] | None, bool]:
    """(phys_of override, attach field ids) for files WRITTEN into a
    mapped table alongside its existing files. Name mode: (None, True)
    — ``_to_physical``'s metadata ``physicalName`` default is the
    invariant there, and field ids are a free upgrade. Id mode resolves
    names from the LIVE FILES' parquet footers (``_id_physical_names``,
    which also validates id→name consistency): id-mode reads trust
    footer field ids over metadata, so a new file must reuse the names
    the footers already bind to each id — writing the metadata
    physicalName into a table whose footers drifted would make the very
    next scan refuse on id→name conflict. Ids present in no live footer
    (fresh columns, empty table) fall back to metadata physicalName,
    matching the reader's fallback. ``attach ids`` mirrors the live
    file set: an id-mode table whose files carry no field ids (some
    writers strip them) must keep its new files id-less too, or the
    reader's with/without-mix check bricks the table."""
    if _mapping_mode(snap) != "id":
        return None, True
    files = snap["files"]
    phys = _id_physical_names(schema_json or snap["schema"], files)
    if not files:
        return phys, True
    import pyarrow.parquet as pq

    # _id_physical_names enforced all-or-none: one footer decides
    first = pq.read_schema(files[0])
    has_ids = any(
        (first.field(i).metadata or {}).get(b"PARQUET:field_id") is not None
        for i in range(len(first.names))
    )
    return phys, has_ids


_ROW_TRACKING_DOMAIN = "delta.rowTracking"


def _row_tracking_supported(snap: dict) -> bool:
    return "rowTracking" in set(
        (snap.get("protocol") or {}).get("writerFeatures") or []
    )


def row_id_high_water_mark(snap: dict) -> int:
    """Highest assigned fresh row id (-1 when none): the
    ``rowIdHighWaterMark`` of the ``delta.rowTracking`` domainMetadata,
    where the protocol keeps it."""
    raw = (snap.get("domain_metadata") or {}).get(_ROW_TRACKING_DOMAIN)
    if raw:
        try:
            return int(json.loads(raw).get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            pass
    return -1


def _stamp_row_tracking(
    snap: dict, version: int, actions: list[dict]
) -> list[dict]:
    """The rowTracking writer obligation, applied to a commit's action
    list when the table lists the feature: every NEW add is stamped
    ``baseRowId`` (fresh ids ``hwm+1 .. hwm+numRecords``, disjoint
    across files) and ``defaultRowCommitVersion = version``; adds that
    already carry a baseRowId (DV re-adds, RESTORE re-adds — the same
    physical file re-entering the snapshot) keep their original
    assignment; the advanced high-water mark publishes as the
    ``delta.rowTracking`` domainMetadata action IN THE SAME COMMIT, so
    assignment and bookkeeping are atomic. No-op on tables without the
    feature."""
    if not _row_tracking_supported(snap):
        return actions
    hwm = row_id_high_water_mark(snap)
    out: list[dict] = []
    advanced = False
    for a in actions:
        if "add" in a and a["add"].get("baseRowId") is None:
            add = dict(a["add"])
            n = None
            if add.get("stats"):
                try:
                    n = int(json.loads(add["stats"])["numRecords"])
                except (ValueError, TypeError, KeyError):
                    n = None
            if n is None:
                raise DeltaProtocolError(
                    "rowTracking needs numRecords stats to assign "
                    f"baseRowId for {add.get('path')!r}"
                )
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = version
            hwm += max(n, 1)  # an empty file still claims one id slot
            advanced = True
            a = {"add": add}
        out.append(a)
    if advanced:
        out.append(
            {
                "domainMetadata": {
                    "domain": _ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        )
    return out


def _strip_row_tracking(actions: list[dict]) -> list[dict]:
    """Undo :func:`_stamp_row_tracking` on a commit that lost its
    version race: the winner may have advanced the high-water mark, so
    the replay must re-assign against the fresh snapshot instead of
    re-publishing colliding row ids."""
    out: list[dict] = []
    for a in actions:
        if "add" in a and a["add"].get("baseRowId") is not None:
            add = dict(a["add"])
            add.pop("baseRowId", None)
            add.pop("defaultRowCommitVersion", None)
            a = {"add": add}
        elif (
            a.get("domainMetadata", {}).get("domain")
            == _ROW_TRACKING_DOMAIN
        ):
            continue
        out.append(a)
    return out


# (the old blanket _refuse_stable_row_id_rewrite is gone: OPTIMIZE,
# MERGE and DELETE materialize ids through their rewrites via
# _rt_rewrite_gate/_row_id_scan, and the overwrite family replaces
# rows — fresh ids are the spec-correct assignment there)


def _rt_rewrite_gate(snap: dict, op: str) -> bool:
    """Gate for a rewrite verb that CAN materialize row ids: returns
    True when ``delta.enableRowTracking=true`` and the verb must take
    the id-preserving path (column mapping composes since round 8 —
    the scan resolves the physical binding, the rewrite writes
    physical names + field ids with the materialized columns alongside
    by their literal names); refuses only when the materialized column
    names were never minted."""
    rt = (
        snap["configuration"].get("delta.enableRowTracking", "").lower()
        == "true"
    )
    if not rt:
        return False
    if not all(_materialized_row_cols(snap)):
        raise DeltaProtocolError(
            f"{op}: delta.enableRowTracking=true but the table declares "
            "no materialized row-id column names; re-run "
            "enable_row_tracking(enabled=True) to mint them"
        )
    return True


def _materialized_row_cols(snap: dict) -> tuple[str | None, str | None]:
    cfg = snap.get("configuration") or {}
    return (
        cfg.get("delta.rowTracking.materializedRowIdColumnName"),
        cfg.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
    )


def _row_id_scan(
    spark: SparkSession, table: str, snap: dict, files: list[str]
) -> DataFrame:
    """Scan ``files`` with their ROW IDS resolved: data columns (log
    schema minus partition columns) plus ``_rid`` / ``_rcv`` computed
    by the protocol's rule — ``coalesce(materialized column, baseRowId
    + row_index)`` / ``coalesce(materialized, defaultRowCommitVersion)``
    — with deletion-vector rows subtracted. One scan + a broadcast join
    against the per-file (baseRowId, dcv) map (O(|files|) rows, the
    same metadata altitude as the commit log). COLUMN-MAPPED tables
    scan under the physical binding (id mode: the live footers) and
    come back out under LOGICAL names; the materialized row-id columns
    are not schema columns, so they have no mapping and pass through
    by their literal names in every mode."""
    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.storage import dvcodec

    full = T.StructType.fromJson(json.loads(snap["schema"]))
    pcols = snap["partition_cols"]  # PHYSICAL names when mapped
    mode = _mapping_mode(snap)
    if mode != "none":
        phys_of = (
            _mapped_part_binding(snap, files)
            if pcols
            else (
                _id_physical_names(snap["schema"], files)
                if mode == "id"
                else {l: p for p, l in _physical_renames(snap["schema"])}
            )
        )
    else:
        phys_of = {}
    mat_id, mat_cv = _materialized_row_cols(snap)
    data_fields = [
        f for f in full.fields
        if phys_of.get(f.name, f.name) not in pcols
    ]
    part_fields = [
        f for f in full.fields
        if phys_of.get(f.name, f.name) in pcols
    ]
    scan_fields = [
        T.StructField(
            phys_of.get(f.name, f.name), f.dataType, f.nullable
        )
        for f in data_fields
    ]
    for extra in (mat_id, mat_cv):
        if extra:
            scan_fields.append(T.StructField(extra, T.LongType(), True))
    scan_schema = T.StructType(scan_fields)

    def _with_meta(df):
        return df.select(
            "*",
            F.expr(
                "regexp_replace(_metadata.file_path, '^file:/+', 'file:/')"
            ).alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
        )

    if pcols:
        base = _grouped_part_read(
            spark, table, files, scan_schema, project=_with_meta
        )
    else:
        base = _with_meta(spark.read.schema(scan_schema).parquet(*files))
    dvs = {f: d for f, d in snap["file_dvs"].items() if f in set(files)}
    if dvs:
        pairs = [
            (_file_uri(f), int(pos))
            for f, desc in dvs.items()
            for pos in dvcodec.read_dv(table, desc)
        ]
        del_df = spark.createDataFrame(
            pairs, "`_dv_file` STRING, `_dv_pos` BIGINT"
        )
        base = base.join(
            F.broadcast(del_df), ["_dv_file", "_dv_pos"], "left_anti"
        )
    rm_of = snap["file_row_meta"]
    meta_rows = [
        (
            _file_uri(f),
            (rm_of.get(f) or {}).get("baseRowId"),
            (rm_of.get(f) or {}).get("defaultRowCommitVersion"),
        )
        for f in files
    ]
    rm_df = spark.createDataFrame(
        meta_rows, "`_dv_file` STRING, `_brid` BIGINT, `_bdcv` BIGINT"
    )
    joined = base.join(F.broadcast(rm_df), "_dv_file", "left")
    rid = F.coalesce(
        *( [F.col(mat_id)] if mat_id else [] ),
        F.col("_brid") + F.col("_dv_pos"),
    ).alias("_rid")
    rcv = F.coalesce(
        *( [F.col(mat_cv)] if mat_cv else [] ),
        F.col("_bdcv"),
    ).alias("_rcv")
    keep = [
        F.col(phys_of.get(f.name, f.name)).alias(f.name)
        for f in data_fields
    ] + [
        # dir-recovered when partitioned (physical dirs → logical name)
        F.col(phys_of.get(f.name, f.name)).alias(f.name)
        for f in part_fields
    ]
    return joined.select(*keep, "_dv_file", rid, rcv)


def read_delta_row_ids(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot scan EXPOSING ROW IDS — the reader half of the
    rowTracking feature: every logical column plus ``_row_id`` and
    ``_row_commit_version`` resolved by the protocol rule (materialized
    column if the row survived a rewrite, else ``baseRowId +
    row_index`` / ``defaultRowCommitVersion``). With
    ``delta.enableRowTracking=true`` the ids are STABLE: the same
    logical row keeps its id across appends, DV deletes, and OPTIMIZE
    (which materializes them through the rewrite) — the property CDC
    consumers and incremental materialized views key on."""
    import pyspark.sql.functions as F

    snap = snapshot(table, version=version)  # replay runs the reader gate
    if not _row_tracking_supported(snap):
        raise DeltaProtocolError(
            f"{table} does not carry the rowTracking writer feature"
        )
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    pcols = snap["partition_cols"]  # PHYSICAL names when mapped
    if _mapping_mode(snap) != "none" and pcols:
        # the scan returns LOGICAL names; cast the dir-recovered
        # partition columns under their logical names
        _p2l = {p: l for p, l in _physical_renames(snap["schema"])}
        pcols = [_p2l.get(p, p) for p in pcols]
    if not snap["files"]:
        out = T.StructType(
            list(full.fields)
            + [
                T.StructField("_row_id", T.LongType(), True),
                T.StructField("_row_commit_version", T.LongType(), True),
            ]
        )
        return spark.createDataFrame([], out)
    scan = _row_id_scan(spark, table, snap, snap["files"])
    return scan.select(
        *_pcol_cast_cols(full, pcols),
        F.col("_rid").alias("_row_id"),
        F.col("_rcv").alias("_row_commit_version"),
    )


def enable_row_tracking(table: str, enabled: bool = False) -> int:
    """Upgrade a table to the ``rowTracking`` writer feature (plus its
    ``domainMetadata`` prerequisite) with one metadata commit: protocol
    moves to writer-features form (minWriter 7, legacy-implied features
    made explicit — the Delta upgrade rule), and every later add gets a
    fresh ``baseRowId``/``defaultRowCommitVersion``. ``enabled=True``
    additionally sets ``delta.enableRowTracking=true`` (delta-spark's
    default on new tables), which promises stable row ids to readers.
    In that mode the upgrade also (a) BACKFILLS: every live file
    re-adds (``dataChange:false``, DV descriptors preserved) in the
    same commit so the stamping assigns it a baseRowId — pre-feature
    files would otherwise have no row ids at all (delta-spark's
    backfill commits do the same) — and (b) mints the MATERIALIZED
    row-id / row-commit-version column names
    (``delta.rowTracking.materializedRow*ColumnName``), the physical
    columns the rewrite verbs (OPTIMIZE, COW MERGE/DELETE) write
    preserved ids into so every rewrite keeps the stable-id promise;
    the overwrite family replaces rows, so fresh ids are correct there.
    """
    snap = snapshot(table)
    _check_writer_protocol(snap, "enable_row_tracking")
    now_ms = int(time.time() * 1000)
    cfg = dict(snap.get("configuration") or {})
    if enabled:
        cfg["delta.enableRowTracking"] = "true"
        cfg.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row_id_col_{uuid.uuid4().hex[:12]}",
        )
        cfg.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row_cv_col_{uuid.uuid4().hex[:12]}",
        )
    actions: list[dict] = [
        _protocol_with(snap, writer={"rowTracking", "domainMetadata"}),
        _metadata_action(snap, now_ms, configuration=cfg),
    ]
    version = snap["version"] + 1
    if enabled and snap["files"]:
        # backfill: re-add each live file so _stamp_row_tracking below
        # assigns its baseRowId; the physical file is untouched and
        # dataChange stays false (same-content re-entry)
        stats_of = snap["file_stats"]
        dvs_of = snap["file_dvs"]
        rm_of = snap["file_row_meta"]
        backfill = []
        for f in snap["files"]:
            if (rm_of.get(f) or {}).get("baseRowId") is not None:
                continue
            rel = _log_path(table, f)
            add = {
                "path": rel,
                "partitionValues": (
                    _file_pvals(f) if snap["partition_cols"] else {}
                ),
                "size": os.path.getsize(f),
                "modificationTime": now_ms,
                "dataChange": False,
            }
            if stats_of.get(f):
                add["stats"] = stats_of[f]
            else:
                st = _file_stats(f)
                if st is not None:
                    add["stats"] = st
            if dvs_of.get(f):
                add["deletionVector"] = dvs_of[f]
            backfill.append({"add": add})
        actions = _stamp_row_tracking(
            dict(snap, protocol={"writerFeatures": ["rowTracking"]}),
            version,
            actions + backfill,
        )
    return _commit(
        table, version, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps(
            {"delta.rowTracking": "supported",
             "delta.enableRowTracking": str(enabled).lower()}
        )},
        now_ms,
    )


def _rebase_append(
    table: str, lost_version: int, partition_by: list[str]
) -> dict:
    """The fresh head snapshot after losing a version race (the retry
    commits at its version + 1), once every commit that won in between
    is verified to commute with a blind append (no schema/partitioning/
    mapping change)."""
    pre = snapshot(table, lost_version - 1) if lost_version > 0 else None
    cur = snapshot(table)
    if pre is not None and (
        cur["schema"] != pre["schema"]
        or cur["partition_cols"] != pre["partition_cols"]
        or _mapping_mode(cur) != _mapping_mode(pre)
        # configuration changes do not commute either: the winner may
        # have added a CHECK constraint (delta.constraints.*) or flipped
        # appendOnly — replaying the staged adds without re-validating
        # would land rows the new contract forbids. delta-spark treats
        # any concurrent metadata change as non-retryable; match that.
        or cur["configuration"] != pre["configuration"]
        # ... and neither do protocol upgrades: losing to a commit that
        # added a writerFeature (rowTracking, ...) must re-run the
        # writer gate, which a blind replay would skip
        or cur["protocol"] != pre["protocol"]
    ):
        raise ConcurrentDeltaCommitError(
            f"append lost version {lost_version} to a commit that "
            "changed the table schema/partitioning/configuration; "
            "not retryable"
        )
    if cur["partition_cols"] != partition_by:
        raise ConcurrentDeltaCommitError(
            "append lost its version race and the winner changed "
            "partitioning; not retryable"
        )
    return cur


def _file_stats(path: str) -> str | None:
    """Delta data-skipping ``stats`` for one data file, computed from the
    parquet FOOTER only (no row data touched): ``numRecords`` plus
    per-column ``minValues``/``maxValues``/``nullCount`` for primitive
    top-level columns, serialized as the protocol's JSON string on the
    ``add`` action (delta-spark/delta-rs shape — the reference's tables
    carry the same field via ``deltalake~=0.13``). Columns whose footer
    stats are absent in any row group are omitted, and a skipping read
    conservatively keeps files that lack stats for its column — stats
    are an optimization of the scan, never a semantic filter."""
    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    if meta.num_row_groups == 0:
        return json.dumps(
            {
                "numRecords": 0,
                "minValues": {},
                "maxValues": {},
                "nullCount": {},
            }
        )
    rg0 = meta.row_group(0)
    for i in range(meta.num_columns):
        pth = rg0.column(i).path_in_schema
        if "." in pth:  # nested leaf — out of top-level stats scope
            continue
        name = pth
        lo_list, hi_list, nc = [], [], 0
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                lo_list, hi_list = [], []
                break
            lo_list.append(st.min)
            hi_list.append(st.max)
            nc += st.null_count or 0
        if not lo_list:
            continue
        lo, hi = min(lo_list), max(hi_list)
        if isinstance(lo, bytes):
            lo = lo.decode("utf-8", "replace")
            hi = hi.decode("utf-8", "replace")
        if not isinstance(lo, (str, int, float, bool)):
            lo, hi = str(lo), str(hi)  # dates/decimals: ISO/decimal text
        mins[name] = lo
        maxs[name] = hi
        nulls[name] = nc
    return json.dumps(
        {
            "numRecords": meta.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _physical_for(
    snap: dict | None,
    df: DataFrame,
    extra: tuple[str, ...] = (),
    schema_json: str | None = None,
) -> DataFrame:
    """``df`` as the files written into ``snap``'s table must carry it:
    on a mapped table, the physical names and field ids of
    :func:`_mapped_write_plan` (``schema_json`` overrides the snapshot
    schema, e.g. an evolving append's); unchanged otherwise, and when
    ``snap`` is None (the write creates the table)."""
    if snap is None or _mapping_mode(snap) == "none":
        return df
    schema_json = schema_json or snap["schema"]
    phys_of, attach_ids = _mapped_write_plan(snap, schema_json)
    return _to_physical(
        df, schema_json, extra=extra, phys_of=phys_of, attach_ids=attach_ids
    )


def _write_staged(
    table: str, df: DataFrame | pa.Table, version: int, partition_by: list[str]
) -> list[dict]:
    """Write ``df`` (already in physical names) to a private staging
    directory, hive-partitioned by ``partition_by``, move the files
    into the table root and return their ``add`` actions (each
    carrying footer ``stats`` for data skipping, ``dataChange:true``).
    Hive dir segments under staging carry the partition values; the
    staging dir is removed.

    A ``pyarrow.Table`` (unpartitioned) is written by pyarrow as one
    file with Spark's physical types: timestamps as INT96, Spark's
    default ``outputTimestampType``, which carries no footer min/max,
    so the stats keys match a Spark-written file's. The footer skips
    pyarrow's serialized Arrow schema: the log schema drives reads."""
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    if isinstance(df, DataFrame):
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
    else:
        import pyarrow.parquet as pq

        os.makedirs(staging)
        pq.write_table(
            df, os.path.join(staging, "part-00000.parquet"),
            use_deprecated_int96_timestamps=True, store_schema=False,
        )
    adds = []
    for dirpath, _dirs, names in sorted(os.walk(staging)):
        rel_dir = os.path.relpath(dirpath, staging)
        segments = [] if rel_dir == "." else rel_dir.split(os.sep)
        pvals = _hive_pvals(rel_dir)
        if set(pvals) != set(partition_by):
            if any(n.endswith(".parquet") for n in names):
                raise DeltaCorruptLogError(
                    f"unexpected staging layout at {rel_dir!r}"
                )
            continue
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fname = f"part-{version:05d}-{uuid.uuid4().hex}.snappy.parquet"
            rel = os.path.join(*segments, fname) if segments else fname
            os.makedirs(
                os.path.dirname(os.path.join(table, rel)) or table,
                exist_ok=True,
            )
            os.rename(os.path.join(dirpath, name), os.path.join(table, rel))
            add = {
                "path": quote(rel),
                "partitionValues": pvals,
                "size": os.path.getsize(os.path.join(table, rel)),
                "modificationTime": int(time.time() * 1000),
                "dataChange": True,
            }
            stats = _file_stats(os.path.join(table, rel))
            if stats is not None:
                add["stats"] = stats
            else:
                _iceberg_v2_require_stats(table, "WRITE")
            adds.append({"add": add})
    import shutil

    shutil.rmtree(staging)
    return adds


def _write_change_data(
    table: str, snap: dict, changes: DataFrame, version: int
) -> list[dict]:
    """Stage a CDF change set of ``snap``'s table (logical names plus
    ``_change_type``; mapped tables store physical names, the change
    type literally, as delta-spark does) and promote it into
    ``_change_data/`` in Delta's real layout: hive ``col=value/`` dirs
    mirroring the table's
    partitioning directly under ``_change_data/`` (so the change feed
    partition-prunes exactly like the table), unique
    ``cdc-<version>-<uuid>`` filenames, one ``cdc`` action per file
    carrying its ``partitionValues`` — dataChange:false throughout, so
    log replay ignores the files for table state. A row whose merge
    moves it across partitions emits its preimage in the old directory
    and its postimage in the new one, which is exactly what a
    partition-scoped CDF consumer should see."""
    pcols = snap["partition_cols"]
    changes = _physical_for(snap, changes, extra=("_change_type",))
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    writer = changes.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(staging)
    actions: list[dict] = []
    for dirpath, _dirs, names in sorted(os.walk(staging)):
        rel_dir = os.path.relpath(dirpath, staging)
        segments = [] if rel_dir == "." else rel_dir.split(os.sep)
        pvals = _hive_pvals(rel_dir)
        if set(pvals) != set(pcols):
            if any(n.endswith(".parquet") for n in names):
                raise DeltaCorruptLogError(
                    f"unexpected cdc staging layout at {rel_dir!r}"
                )
            continue
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fname = f"cdc-{version:05d}-{uuid.uuid4().hex}.snappy.parquet"
            rel = os.path.join("_change_data", *segments, fname)
            os.makedirs(
                os.path.dirname(os.path.join(table, rel)), exist_ok=True
            )
            os.rename(os.path.join(dirpath, name), os.path.join(table, rel))
            actions.append(
                {
                    "cdc": {
                        "path": quote(rel),
                        "partitionValues": pvals,
                        "size": os.path.getsize(os.path.join(table, rel)),
                        "dataChange": False,
                    }
                }
            )
    import shutil

    shutil.rmtree(staging)
    return actions


def _cdf_obligated(snap: dict) -> bool:
    """``delta.enableChangeDataFeed`` is a WRITER OBLIGATION, not a
    per-call courtesy: the Delta protocol requires every data-changing
    commit on a table whose configuration sets the property to publish
    change data, because downstream CDF consumers (delta-spark's
    ``readChangeFeed``) assume the feed is gap-free. A foreign table
    created with the flag, then mutated here without ``change_data=
    True``, would otherwise produce commits whose change data a
    consumer expects and won't find. Every mutating verb ORs its
    ``change_data`` argument with this check; appends stay synthesized
    from their ``add`` actions at read time (delta-spark does the
    same — pure-insert commits need no ``cdc`` action)."""
    return str(
        snap.get("configuration", {}).get("delta.enableChangeDataFeed", "")
    ).strip().lower() == "true"


def _prev_in_commit_ts(table: str, version: int) -> int | None:
    """In-commit timestamp of the commit before ``version`` (None when
    the table does not write them). Chain presence propagates: every
    commit after enablement carries the field, so ONE file open decides
    both whether to stamp this commit and its monotonic floor. Version
    slots are claimed contiguously and cleanup_log never deletes the
    newest commit, so the previous commit is exactly ``version - 1`` —
    no directory listing on the commit path. Lines are substring-
    prefiltered before json.loads: this writer puts commitInfo first,
    but older and foreign logs may put it last, and parsing 50k add
    actions to find one field would put the cost back."""
    if version <= 0:
        return None
    try:
        with open(_commit_path(table, version - 1)) as f:
            for line in f:
                if '"commitInfo"' not in line:
                    continue
                line = line.strip()
                if not line:
                    continue
                ci = json.loads(line).get("commitInfo")
                if ci and ci.get("inCommitTimestamp") is not None:
                    return int(ci["inCommitTimestamp"])
    except FileNotFoundError:
        pass
    return None


# --------------------------------------------------------------------------
# The commit builders: the ONLY code that lays out protocol upgrades,
# metaData, remove and commitInfo actions. Verbs decide WHAT changes;
# these decide how the commit carries it.
# --------------------------------------------------------------------------


def _protocol_with(snap: dict, writer=(), reader=()) -> dict:
    """The table-features upgrade rule: ``snap``'s protocol plus the
    ``writer`` (and ``reader``) features, as a protocol action. The
    writer side moves to version 7 and every feature a legacy writer
    version implied becomes an explicit flag, so no capability is
    silently dropped. Asking for a reader feature moves the reader to
    version 3, where legacy reader version 2 (column mapping) becomes
    the explicit ``columnMapping`` feature. Otherwise the reader
    version is kept. Versions never go down and listed features are
    never dropped."""
    p = snap.get("protocol") or {}
    r = p.get("minReaderVersion", 1)
    w = p.get("minWriterVersion", 2)
    wf = set(p.get("writerFeatures") or []) | set(writer)
    if w < 7:
        wf |= _legacy_writer_features(w)
    rf = set(p.get("readerFeatures") or []) | set(reader)
    if reader:
        if r == 2:
            rf.add("columnMapping")
        r = max(r, 3)
    proto: dict = {"minReaderVersion": r, "minWriterVersion": 7}
    if r >= 3:
        proto["readerFeatures"] = sorted(rf)
    proto["writerFeatures"] = sorted(wf)
    return {"protocol": proto}


def _metadata_action(
    snap: dict,
    ts: int,
    schema: str | None = None,
    configuration: dict | None = None,
) -> dict:
    """A metaData action for ``snap``'s table: the table id (a fresh
    one when ``snap`` has none — a new table), the parquet format and
    the partition columns carry forward; ``schema`` and
    ``configuration`` replace the snapshot's when given. The id and
    the properties are stable across schema changes — wiping either
    would strip a table's identity and settings."""
    return {
        "metaData": {
            "id": snap.get("meta_id") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snap["schema"] if schema is None else schema,
            "partitionColumns": snap["partition_cols"],
            "configuration": (
                dict(snap.get("configuration") or {})
                if configuration is None
                else configuration
            ),
            "createdTime": ts,
        }
    }


def _remove_actions(
    table: str,
    files: list[str],
    pcols: list[str] | None,
    ts: int,
    data_change: bool = True,
    dvs: dict | None = None,
) -> list[dict]:
    """One ``remove`` per file of ``table``, keyed by the exact path
    string its add used (``_log_path``: clone references stay
    absolute). ``partitionValues`` come from the file's trailing hive
    segments (empty on an unpartitioned table); ``pcols=None`` omits
    the field (OPTIMIZE's dataChange:false removes). ``dvs`` maps a
    file to the deletion vector its live add carries, which the remove
    must name."""
    out = []
    for f in files:
        rm: dict = {"path": _log_path(table, f), "deletionTimestamp": ts}
        if pcols is not None:
            rm["partitionValues"] = _file_pvals(f) if pcols else {}
        rm["dataChange"] = data_change
        if dvs and dvs.get(f):
            rm["deletionVector"] = dvs[f]
        out.append({"remove": rm})
    return out


def _commit(
    table: str,
    version: int,
    actions: list[dict],
    operation: str,
    params: dict,
    ts: int | None = None,
    ict: int | None = None,
) -> int:
    """Publish ``actions`` as commit ``version`` of ``table`` behind
    its one ``commitInfo``, which is written FIRST (the In-Commit
    Timestamps writer requirement; delta-spark does it on every
    table). Returns ``version``.

    On tables writing IN-COMMIT TIMESTAMPS the chain is stamped here:
    ``max(now, prev_ict + 1)`` — monotonic by construction, immune to
    file-mtime drift, exactly the ``inCommitTimestamp`` writer-feature
    contract. ``ict`` pre-sets the value where a commit anchors a new
    chain (the enablement commit, a clone's version 0). The stamp is
    taken per call, so a retry at a new version re-stamps against the
    commit that won the race."""
    now_ms = int(time.time() * 1000)
    if ict is None:
        prev_ict = _prev_in_commit_ts(table, version)
        if prev_ict is not None:
            ict = max(now_ms, prev_ict + 1)
    info: dict = {
        "timestamp": now_ms if ts is None else ts,
        "operation": operation,
        "operationParameters": params,
    }
    if ict is not None:
        info["inCommitTimestamp"] = ict
    _publish_commit(table, version, [{"commitInfo": info}] + actions)
    return version


def _publish_commit(table: str, version: int, actions: list[dict]) -> None:
    """Atomic claim of the version slot: os.link fails iff the commit
    file already exists (rename would silently overwrite a concurrent
    writer's commit — a lost update). On an object store this is the
    conditional put. Verbs publish through :func:`_commit`, which
    lays out the commit."""
    tmp = _commit_path(table, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _commit_path(table, version))
    except FileExistsError:
        raise ConcurrentDeltaCommitError(
            f"version {version} was claimed by a concurrent writer; "
            "orphaned data files remain for VACUUM"
        ) from None
    finally:
        os.unlink(tmp)
    # one replay of the published version feeds both the cadence
    # checkpoint and the checksum
    snap = snapshot(table, version=version)
    if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(table, snap)
    _write_crc(table, snap)


def _crc_path(table: str, version: int) -> str:
    return os.path.join(table, "_delta_log", f"{version:020d}.crc")


def _write_crc(table: str, snap: dict) -> None:
    """Per-commit VERSION.checksum (``<version>.crc``, one JSON line —
    delta-spark's VersionChecksum): live table size and file count plus
    a protocol/metadata echo, written after every successful publish.
    The reference's tables carry the same file via delta-spark's writer
    (the Delta ACID surface, collector.py:219-226). Readers validate
    opportunistically (``snapshot``) and refuse loudly on mismatch —
    the state-corruption tripwire delta-spark uses. ``snap`` is the
    replay of the just-published version (checkpoint-seeded, so
    O(interval), not O(version)); ``metadata`` is the reconstructed
    metaData echo (id, schema, partitioning, configuration — the
    validated surface)."""
    version = snap["version"]
    sizes = [s for s in snap["file_sizes"].values() if s is not None]
    crc = {
        "tableSizeBytes": int(sum(sizes)),
        "numFiles": len(snap["files"]),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": {
            "id": snap["meta_id"],
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snap["schema"],
            "partitionColumns": snap["partition_cols"],
            "configuration": snap["configuration"],
        },
        "protocol": snap["protocol"],
    }
    tmp = _crc_path(table, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(json.dumps(crc) + "\n")
        f.flush()
        os.fsync(f.fileno())
    # no claim semantics: the checksum is a deterministic function of
    # the version, so concurrent writers produce identical content
    os.replace(tmp, _crc_path(table, version))


def _validate_crc(table: str, snap: dict) -> None:
    """Opportunistic VERSION.checksum validation: when ``<version>.crc``
    exists, the reconstructed live-set count/size and metadata id must
    agree — a mismatch means the log and the writer's recorded state
    diverged (corruption, out-of-band surgery), and the read refuses
    loudly rather than serve a silently-wrong snapshot. Absent or
    unparseable checksum files never block a read (foreign tables may
    not write them)."""
    version = snap["version"]
    if version < 0:
        return
    path = _crc_path(table, version)
    try:
        with open(path) as f:
            crc = json.loads(f.read().strip() or "{}")
    except (OSError, ValueError):
        return
    if not isinstance(crc, dict):
        return
    n = crc.get("numFiles")
    if n is not None and int(n) != len(snap["files"]):
        raise DeltaCorruptLogError(
            f"checksum mismatch at version {version}: numFiles {n} "
            f"!= reconstructed {len(snap['files'])}"
        )
    ts = crc.get("tableSizeBytes")
    sizes = list(snap["file_sizes"].values())
    if ts is not None and all(s is not None for s in sizes):
        total = int(sum(sizes))
        if int(ts) != total:
            raise DeltaCorruptLogError(
                f"checksum mismatch at version {version}: "
                f"tableSizeBytes {ts} != reconstructed {total}"
            )
    mid = (crc.get("metadata") or {}).get("id")
    if (
        mid is not None
        and snap["meta_id"] is not None
        and mid != snap["meta_id"]
    ):
        raise DeltaCorruptLogError(
            f"checksum mismatch at version {version}: metadata id "
            f"{mid!r} != reconstructed {snap['meta_id']!r}"
        )


def _write_checkpoint(table: str, snap: dict) -> None:
    """Write a protocol-shaped parquet checkpoint of ``snap`` (a
    :func:`snapshot` of the version to checkpoint; single-file up to
    ``_CHECKPOINT_PART_ACTIONS`` actions, delta-spark's multi-part
    ``{v}.checkpoint.{i}.{n}.parquet`` form above) plus the
    ``_last_checkpoint`` pointer — the standard Delta cadence delta-rs
    follows (the reference's collector inherits it via ``deltalake``,
    collector.py:219-226). The checkpoint is net-of-log state, and
    this function only serialises it: protocol + metaData + one ``add``
    row per LIVE file + the latest ``txn`` row per appId + the live
    domains. Because the snapshot was itself seeded from the newest
    prior checkpoint plus the JSON tail, checkpointing stays alive
    after ``cleanup_log`` aged the early JSON out. Every subsequent
    ``snapshot()`` reads the checkpoint + the JSON tail only
    (``_replay_checkpoint``, ``_checkpoint_version``). Checkpointing is
    an optimization of the log, never a mutation of it: retained JSON
    commits stay, so time travel into the retained window keeps
    working."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    version = snap["version"]
    protocol, meta = snap["protocol"], snap["metadata"]
    if not protocol:
        raise DeltaCorruptLogError(
            f"{table}: cannot checkpoint without a protocol action"
        )

    pv_type = pa.map_(pa.string(), pa.string())
    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32()),
                     ("readerFeatures", pa.list_(pa.string())),
                     ("writerFeatures", pa.list_(pa.string()))]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pv_type),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pv_type),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # merge-on-read state: a checkpoint that dropped
                        # this field would silently resurrect deleted rows
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                        # rowTracking assignment: dropping these from a
                        # checkpoint would reset every file's fresh row
                        # ids at the next replay
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                        ("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": protocol.get("minReaderVersion", 1),
                "minWriterVersion": protocol.get("minWriterVersion", 2),
                "readerFeatures": protocol.get("readerFeatures"),
                "writerFeatures": protocol.get("writerFeatures"),
            }
        },
        {
            "metaData": {
                "id": meta.get("id"),
                "format": {
                    "provider": meta.get("format", {}).get(
                        "provider", "parquet"
                    )
                },
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": list(
                    (meta.get("configuration") or {}).items()
                ),
                "createdTime": meta.get("createdTime"),
            }
        },
    ]
    for t in snap["txns"].values():
        rows.append(
            {
                "txn": {
                    "appId": t.get("appId"),
                    "version": t["version"],
                    "lastUpdated": t.get("lastUpdated"),
                }
            }
        )
    for dom, cfg in sorted(snap["domain_metadata"].items()):
        # live domains only — a removed domain simply has no row, the
        # net-of-log shape adds already use
        rows.append(
            {
                "domainMetadata": {
                    "domain": dom,
                    "configuration": cfg,
                    "removed": False,
                }
            }
        )
    for add in snap["adds"].values():
        dv = add.get("deletionVector")
        rows.append(
            {
                "add": {
                    "path": add["path"],
                    "partitionValues": list(
                        (add.get("partitionValues") or {}).items()
                    ),
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": False,  # checkpoint rows are state, not news
                    "stats": add.get("stats"),
                    "deletionVector": (
                        {
                            "storageType": dv.get("storageType"),
                            "pathOrInlineDv": dv.get("pathOrInlineDv"),
                            "offset": dv.get("offset"),
                            "sizeInBytes": dv.get("sizeInBytes"),
                            "cardinality": dv.get("cardinality"),
                        }
                        if dv
                        else None
                    ),
                    "baseRowId": add.get("baseRowId"),
                    "defaultRowCommitVersion": add.get(
                        "defaultRowCommitVersion"
                    ),
                }
            }
        )
    ptr_extra: dict = {}
    feats = set(protocol.get("readerFeatures") or []) | set(
        protocol.get("writerFeatures") or []
    )
    if "v2Checkpoint" in feats:
        # the feature OBLIGES writers to emit the V2 form — a classic
        # checkpoint on a v2 table would violate the table's contract
        _publish_v2_checkpoint(table, version, rows, schema)
    elif len(rows) <= _CHECKPOINT_PART_ACTIONS:
        tbl = pa.Table.from_pylist(rows, schema=schema)
        ckpt_path = os.path.join(
            _log_dir(table), f"{version:020d}.checkpoint.parquet"
        )
        tmp_ckpt = ckpt_path + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(tbl, tmp_ckpt)
        os.rename(tmp_ckpt, ckpt_path)
    else:
        # multi-part checkpoint (delta-spark's
        # ``{v}.checkpoint.{i}.{n}.parquet`` form): above the action
        # threshold a single file is the driver-memory wall — at a
        # 100 TB table's add count, one parquet with tens of millions
        # of rows must materialize in one arrow table; parts bound the
        # working set and let a distributed reader fan the parts out.
        # Parts are disjoint row slices; replay is their order-free
        # union (_replay_checkpoint). Write all parts to temp names
        # first, then publish with renames — the reader refuses an
        # incomplete part set (_checkpoint_files), so a crash mid-
        # publish leaves the previous checkpoint authoritative.
        n_parts = -(-len(rows) // _CHECKPOINT_PART_ACTIONS)
        per = -(-len(rows) // n_parts)
        published: list[tuple[str, str]] = []
        for i in range(n_parts):
            part_rows = rows[i * per:(i + 1) * per]
            tbl = pa.Table.from_pylist(part_rows, schema=schema)
            part_path = os.path.join(
                _log_dir(table),
                f"{version:020d}.checkpoint."
                f"{i + 1:010d}.{n_parts:010d}.parquet",
            )
            tmp = part_path + f".tmp.{uuid.uuid4().hex}"
            pq.write_table(tbl, tmp)
            published.append((tmp, part_path))
        for tmp, part_path in published:
            os.rename(tmp, part_path)
        ptr_extra["parts"] = n_parts
    ptr = os.path.join(_log_dir(table), _LAST_CHECKPOINT)
    tmp_ptr = ptr + f".tmp.{uuid.uuid4().hex}"
    with open(tmp_ptr, "w") as f:
        json.dump({"version": version, "size": len(rows), **ptr_extra}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp_ptr, ptr)


def _publish_v2_checkpoint(
    table: str, version: int, rows: list[dict], schema
) -> None:
    """V2-spec checkpoint publish: the file actions land in one or more
    sidecar parquet files under ``_delta_log/_sidecars/`` (chunked at
    ``_CHECKPOINT_PART_ACTIONS`` — the same driver-memory bound as the
    classic multi-part form) and a UUID-named manifest
    (``{v}.checkpoint.{uuid}.parquet``) carries protocol/metaData/txn
    plus ``checkpointMetadata`` and the ``sidecar`` references.
    Sidecars publish BEFORE the manifest: the reader refuses a manifest
    whose sidecar is missing, so a crash between the two leaves the
    previous checkpoint authoritative — the same durability contract as
    the multi-part rename publish."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    top_rows = [r for r in rows if "add" not in r]
    add_rows = [r for r in rows if "add" in r]
    sc_dir = os.path.join(_log_dir(table), "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    # the v2 spec has sidecars carry add AND remove file actions; this
    # writer's checkpoints are net-of-log (no tombstones), but a foreign
    # reader projecting the `remove` column must find it — null-valued
    sc_schema = pa.schema(
        [
            schema.field("add"),
            pa.field(
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    n_parts = max(1, -(-len(add_rows) // _CHECKPOINT_PART_ACTIONS))
    per = -(-len(add_rows) // n_parts) if add_rows else 1
    sidecar_names: list[str] = []
    staged: list[tuple[str, str]] = []
    for i in range(n_parts):
        part = add_rows[i * per:(i + 1) * per]
        name = f"{uuid.uuid4()}.parquet"
        path = os.path.join(sc_dir, name)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(part, schema=sc_schema), tmp)
        staged.append((tmp, path))
        sidecar_names.append(name)
    for tmp, path in staged:
        os.rename(tmp, path)
    m_schema = pa.schema(
        [
            schema.field("protocol"),
            schema.field("metaData"),
            schema.field("txn"),
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64())]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    m_rows = list(top_rows)
    m_rows.append({"checkpointMetadata": {"version": version}})
    for name in sidecar_names:
        full = os.path.join(sc_dir, name)
        m_rows.append(
            {
                "sidecar": {
                    "path": name,
                    "sizeInBytes": os.path.getsize(full),
                    "modificationTime": int(
                        os.path.getmtime(full) * 1000
                    ),
                }
            }
        )
    manifest = os.path.join(
        _log_dir(table),
        f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet",
    )
    tmp = manifest + f".tmp.{uuid.uuid4().hex}"
    pq.write_table(pa.Table.from_pylist(m_rows, schema=m_schema), tmp)
    os.rename(tmp, manifest)


def enable_v2_checkpoints(table: str) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES`` protocol upgrade to the
    ``v2Checkpoint`` table feature: one protocol commit moving the
    table to (minReader 3, minWriter 7) with the feature in BOTH lists.
    Legacy-implied features ride along (the Delta rule for
    table-features upgrades: a version-5 table's implicit capabilities
    — appendOnly, invariants, checkConstraints, changeDataFeed,
    generatedColumns, columnMapping — become explicit flags, so no
    capability is silently dropped). From the next checkpoint on,
    ``_write_checkpoint`` emits the manifest + sidecar form."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "enable_v2_checkpoints")
    p = snap.get("protocol") or {}
    if "v2Checkpoint" in set(p.get("readerFeatures") or []) and (
        "v2Checkpoint" in set(p.get("writerFeatures") or [])
    ):
        raise DeltaProtocolError(
            "v2 checkpoints are already enabled on this table"
        )
    now_ms = int(time.time() * 1000)
    actions = [
        _protocol_with(snap, writer={"v2Checkpoint"}, reader={"v2Checkpoint"}),
        # delta-spark records the policy flip alongside the feature
        # (the spec ties v2Checkpoint to checkpointPolicy=v2)
        _metadata_action(
            snap, now_ms,
            configuration=dict(
                snap.get("configuration") or {},
                **{"delta.checkpointPolicy": "v2"},
            ),
        ),
    ]
    return _commit(
        table, snap["version"] + 1, actions, "UPGRADE PROTOCOL",
        {"newProtocol": json.dumps(
            {"minReaderVersion": 3, "minWriterVersion": 7}
        )},
        now_ms,
    )


def checkpoint_delta(table: str) -> int:
    """Explicit checkpoint at the latest version (delta-rs
    ``create_checkpoint`` / delta-spark ``checkpoint()``): same emission
    as the every-``_CHECKPOINT_INTERVAL`` cadence — classic single-file,
    multi-part above the action threshold, or the V2 manifest + sidecar
    form when the table advertises ``v2Checkpoint``. Returns the
    checkpointed version."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "checkpoint", identity_ok=True)
    _write_checkpoint(table, snap)
    return snap["version"]


def enable_in_commit_timestamps(table: str) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableInCommitTimestamps' = 'true')`` — the
    ``inCommitTimestamp`` writer feature: from this commit on, every
    commit's wall-clock lives INSIDE the commit
    (``commitInfo.inCommitTimestamp``, monotonic ``max(now, prev+1)``),
    so ``TIMESTAMP AS OF`` survives what file mtimes do not — log
    copies, restores, storage migrations, clock skew between writers.
    The resolution side (``_commit_timestamp_ms``) already prefers the
    field; this call anchors the chain, which ``_publish_commit`` then
    extends on every subsequent commit by reading ONE small JSON file
    (the newest prior commit) — O(1) on the commit path at any table
    size. The enablement version/timestamp land in the configuration
    (``delta.inCommitTimestampEnablement{Version,Timestamp}``,
    delta-spark's bookkeeping for timestamp resolution across the
    boundary). Protocol rises to writer-features (7) with legacy
    capabilities made explicit; the reader version is untouched —
    in-commit timestamps are writer-side only."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "enable_in_commit_timestamps")
    cfg = dict(snap.get("configuration") or {})
    if cfg.get("delta.enableInCommitTimestamps", "").lower() == "true":
        raise DeltaProtocolError(
            "in-commit timestamps are already enabled on this table"
        )
    version = snap["version"] + 1
    now_ms = int(time.time() * 1000)
    ict = max(now_ms, _commit_timestamp_ms(table, snap["version"]) + 1)
    cfg["delta.enableInCommitTimestamps"] = "true"
    cfg["delta.inCommitTimestampEnablementVersion"] = str(version)
    cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
    actions = [
        _protocol_with(snap, writer={"inCommitTimestamp"}),
        _metadata_action(snap, now_ms, configuration=cfg),
    ]
    return _commit(
        table, version, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps({"delta.enableInCommitTimestamps": "true"})},
        now_ms, ict=ict,
    )


#: properties whose lifecycle needs more than a metaData flip (protocol
#: backfill, id minting, binding validation) — they have dedicated verbs
#: and set_table_properties refuses them so their obligations can't be
#: skipped by a raw property write.
_MANAGED_PROPS = {
    "delta.enableInCommitTimestamps": "enable_in_commit_timestamps",
    "delta.enableRowTracking": "enable_row_tracking",
    "delta.columnMapping.mode": "enable_column_mapping",
    "delta.enableIcebergCompatV2": "enable_iceberg_compat_v2",
}


def set_table_properties(table: str, properties: dict[str, str]) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES (...)`` — one metaData-only
    commit merging ``properties`` into the table configuration (the
    reference's delta-rs tables carry properties the same way,
    collector.py:219-226). Properties with a dedicated lifecycle verb
    (row tracking, column mapping, in-commit timestamps, iceberg
    compat) refuse here — their verbs perform the backfill/validation
    the protocol obligates, and a raw flip would skip it.

    ``delta.enableChangeDataFeed=true`` is the property this verb
    exists for: it adds the ``changeDataFeed`` writer capability to the
    protocol when absent (legacy writer version 4's implicit grant,
    made explicit under table features), and from this commit on every
    data-changing verb here captures change data unconditionally
    (:func:`_cdf_obligated`) — the writer obligation a downstream CDF
    consumer's gap-free read depends on."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "SET TBLPROPERTIES", identity_ok=True)
    for k in properties:
        if k in _MANAGED_PROPS:
            raise DeltaProtocolError(
                f"SET TBLPROPERTIES: {k} is managed by "
                f"{_MANAGED_PROPS[k]}(); use that verb"
            )
    cfg = dict(snap.get("configuration") or {})
    cfg.update({str(k): str(v) for k, v in properties.items()})
    actions: list[dict] = []
    wants_cdf = (
        str(properties.get("delta.enableChangeDataFeed", "")).lower()
        == "true"
    )
    # what the protocol grants, in table-features form: at writer 7
    # only the listed features count, below it the legacy version's
    granted = _protocol_with(snap)["protocol"]["writerFeatures"]
    if wants_cdf and "changeDataFeed" not in granted:
        actions.append(_protocol_with(snap, writer={"changeDataFeed"}))
    now_ms = int(time.time() * 1000)
    actions.append(_metadata_action(snap, now_ms, configuration=cfg))
    return _commit(
        table, snap["version"] + 1, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps(
            {str(k): str(v) for k, v in properties.items()}
        )},
        now_ms,
    )


def enable_iceberg_compat_v2(table: str) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableIcebergCompatV2' = 'true')`` — the ``icebergCompatV2``
    writer feature: from this commit on the table's files are readable
    as an Iceberg table, which binds this writer to the feature's
    obligations (no deletion-vector WRITES, stats.numRecords on every
    add, live column mapping, Iceberg-mappable types). Enablement
    validates the preconditions instead of trusting them:

    * column mapping must already be 'name' or 'id' (run
      :func:`enable_column_mapping` first — V2 depends on it);
    * the schema must carry no variant column (no Iceberg mapping);
    * no live file may carry a deletion vector (OPTIMIZE applies and
      purges them — compaction is the migration step);
    * every live add must already carry ``stats.numRecords`` (OPTIMIZE
      replaces the full file set attaching footer stats, so it is also
      the stats backfill).

    Protocol rises to writer-features (7) with legacy capabilities made
    explicit; reader side is untouched (the feature is writer-only —
    column mapping already raised the reader requirement when it was
    enabled). icebergCompatV1 stays refused by name: V2 is the surviving
    spec and honoring the superseded variant would only mask a
    misconfigured foreign table."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "enable_iceberg_compat_v2")
    cfg = dict(snap.get("configuration") or {})
    if cfg.get("delta.enableIcebergCompatV2", "").lower() == "true":
        raise DeltaProtocolError(
            "icebergCompatV2 is already enabled on this table"
        )
    if _mapping_mode(snap) not in ("name", "id"):
        raise DeltaProtocolError(
            "enable_iceberg_compat_v2: column mapping mode 'name' or "
            "'id' is required first (enable_column_mapping)"
        )
    if _schema_has_variant(snap["schema"]):
        raise DeltaProtocolError(
            "enable_iceberg_compat_v2: schema carries a variant column "
            "(no Iceberg type mapping exists)"
        )
    dvs = {f: d for f, d in snap["file_dvs"].items() if d}
    if dvs:
        raise DeltaProtocolError(
            "enable_iceberg_compat_v2: live deletion vectors on "
            f"{len(dvs)} file(s); OPTIMIZE to apply and purge them first"
        )
    for f, st in snap["file_stats"].items():
        ok = False
        if st:
            try:
                ok = json.loads(st).get("numRecords") is not None
            except (ValueError, AttributeError):
                ok = False
        if not ok:
            raise DeltaProtocolError(
                "enable_iceberg_compat_v2: live add without "
                f"stats.numRecords ({os.path.relpath(f, table)}); "
                "OPTIMIZE to rewrite with footer stats first"
            )
    now_ms = int(time.time() * 1000)
    cfg["delta.enableIcebergCompatV2"] = "true"
    actions = [
        _protocol_with(snap, writer={"icebergCompatV2"}),
        _metadata_action(snap, now_ms, configuration=cfg),
    ]
    return _commit(
        table, snap["version"] + 1, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps({"delta.enableIcebergCompatV2": "true"})},
        now_ms,
    )


def _compact_files(
    spark: SparkSession,
    table: str,
    version: int,
    files: list[str],
    pvals: dict[str, str],
    target_partitions: int,
    cluster=None,
    df_override: DataFrame | None = None,
    read_schema: "T.StructType | None" = None,
) -> tuple[list[dict], list[dict]]:
    """Rewrite one file group (all of an unpartitioned table, or one
    hive partition directory) into ``target_partitions`` compacted
    files. Returns (removes, adds), all ``dataChange: false``. The scan
    reads the raw file list (data columns only — hive layout keeps
    partition values in the directory name, so the compacted file's
    contents stay layout-identical) under ``read_schema`` — the LOG
    schema, never single-footer inference: on an evolved table the
    older files lack the newer columns, and inference from one of them
    would silently drop that column's data from the rewrite (the
    compacted file null-fills instead, which is exactly what those
    rows already read as). ``cluster`` (DataFrame → DataFrame)
    replaces the plain coalesce with a clustering layout, e.g.
    Z-order. ``df_override`` replaces the raw scan (the DV-purge path
    feeds the deletion-filtered view so compaction physically applies
    the vectors)."""
    segments = [f"{k}={quote(v)}" for k, v in pvals.items()]
    rel_dir = os.path.join(*segments) if segments else ""
    if df_override is not None:
        df = df_override
    elif read_schema is not None:
        df = spark.read.schema(read_schema).parquet(*files)
    else:
        df = spark.read.parquet(*files)
    if cluster is not None:
        df = cluster(df)
    else:
        df = df.coalesce(target_partitions)
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    adds = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        fname = f"part-{version:05d}-{uuid.uuid4().hex}.snappy.parquet"
        rel = os.path.join(rel_dir, fname) if rel_dir else fname
        os.makedirs(
            os.path.dirname(os.path.join(table, rel)) or table, exist_ok=True
        )
        os.rename(os.path.join(staging, name), os.path.join(table, rel))
        add = {
            "path": quote(rel),
            "partitionValues": pvals,
            "size": os.path.getsize(os.path.join(table, rel)),
            "modificationTime": int(time.time() * 1000),
            "dataChange": False,
        }
        # compaction must not strip skipping stats — and after a
        # z-order rewrite they're the whole point (tight on every
        # clustered dimension at once)
        stats = _file_stats(os.path.join(table, rel))
        if stats is not None:
            add["stats"] = stats
        else:
            _iceberg_v2_require_stats(table, "OPTIMIZE")
        adds.append({"add": add})
    import shutil

    shutil.rmtree(staging)
    removes = _remove_actions(
        table, files, None, int(time.time() * 1000), data_change=False
    )
    return removes, adds


_Z_BITS = 12  # bucket resolution per dimension (4096 cells/dim)


def _interleave_expr(cols: list[str]) -> str:
    """SQL expression interleaving the low ``_Z_BITS`` bits of the given
    integer bucket columns into one z-value (bit i of dim d lands at
    position i*ndims + d) — pure JVM integer ops, codegen-friendly."""
    n = len(cols)
    terms = [
        f"shiftleft(shiftright({c}, {i}) & 1, {i * n + d})"
        for i in range(_Z_BITS)
        for d, c in enumerate(cols)
    ]
    return " + ".join(terms)


def _zorder(
    spark: SparkSession,
    df: DataFrame,
    cols: list[str],
    target_partitions: int,
) -> DataFrame:
    """True multi-dimension Z-order clustering: each dimension is
    normalized to a 12-bit bucket rank by min/max (ONE tiny aggregate,
    broadcast back — no global sort, unlike an ntile ranking, so the
    normalization itself scales), the per-dimension bits interleave
    into a z-value, and files are range-partitioned + sorted on it.
    Locality in z implies locality in EVERY dimension, so recorded
    min/max stats are tight on all z-ordered columns at once — a
    skipping read prunes on any of them, where a lexicographic sort
    only prunes on its leading column."""
    import pyspark.sql.functions as F

    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    ).withColumn("__jk", F.lit(1))
    z_input = df.withColumn("__jk", F.lit(1)).join(F.broadcast(bounds), "__jk")
    cells = (1 << _Z_BITS) - 1
    bucket_cols = []
    for c in cols:
        b = f"__zb_{c}"
        z_input = z_input.withColumn(
            b,
            F.least(
                F.lit(cells),
                F.floor(
                    (F.col(c).cast("double") - F.col(f"__lo_{c}"))
                    / F.expr(f"nullif(__hi_{c} - __lo_{c}, 0.0)")
                    * (cells + 1)
                ).cast("int"),
            ),
        ).fillna({b: 0})
        bucket_cols.append(b)
    z_input = z_input.withColumn("__z", F.expr(_interleave_expr(bucket_cols)))
    return (
        z_input.repartitionByRange(target_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__jk", "__z", *bucket_cols, *[f"__lo_{c}" for c in cols],
              *[f"__hi_{c}" for c in cols])
    )


def optimize_delta(
    spark: SparkSession,
    table: str,
    target_partitions: int = 1,
    zorder_by: list[str] | None = None,
    where: dict[str, str] | None = None,
) -> int:
    """OPTIMIZE for a real-format Delta table: rewrite the current
    snapshot into compacted files (``target_partitions`` per file
    group) and publish ONE commit of remove + add actions, all
    ``dataChange: false`` — Delta's bin-compaction contract, so a
    streaming reader of the table sees no new data and time travel to
    pre-compaction versions still resolves the old files (nothing is
    deleted here; that is VACUUM's job).

    Hive-partitioned tables compact per partition directory: each
    ``col=value/`` group rewrites independently (the scan reads only
    that group's files; partition values stay in the directory name),
    and every group's remove+add lands in the same atomic commit —
    a reader never sees a half-compacted table. At warehouse scale the
    per-partition rewrites are independent jobs; batching their actions
    into one commit (or one commit per partition, as delta-spark's
    OPTIMIZE WHERE does) is a publish-policy choice, not a format one.

    ``where`` is delta-spark's ``OPTIMIZE ... WHERE`` partition
    predicate as {partition column: value}: only matching partition
    directories rewrite, everything else stays untouched — on a 100 TB
    date-partitioned table the nightly compaction job targets
    yesterday's partition, not the table. Only exact partition-value
    equality is supported (the protocol restricts OPTIMIZE predicates
    to partition columns anyway); non-partition keys refuse."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "OPTIMIZE", identity_ok=True)
    # delta.enableRowTracking=true does NOT refuse here: OPTIMIZE keeps
    # the stable-id promise by MATERIALIZING each row's id into the
    # rewritten files (the spec's materialized row-id columns) — under
    # column mapping too since round 8 (physical names + field ids for
    # the schema columns, the materialized pair by their literal names).
    rt_enabled = (
        snap["configuration"].get("delta.enableRowTracking", "").lower()
        == "true"
    )
    if rt_enabled and not all(_materialized_row_cols(snap)):
        raise DeltaProtocolError(
            "OPTIMIZE: delta.enableRowTracking=true but the table "
            "declares no materialized row-id column names; re-run "
            "enable_row_tracking(enabled=True) to mint them"
        )
    if not snap["files"]:
        raise DeltaCorruptLogError(f"nothing to optimize in {table}")
    version = snap["version"] + 1
    pcols = snap["partition_cols"]
    live_dvs = {
        f: d for f, d in snap["file_dvs"].items() if f in set(snap["files"])
    }
    # Liquid-clustered table (enable_clustering): OPTIMIZE with no
    # explicit ZORDER BY is the spec's incremental-clustering verb —
    # recluster on the delta.clustering domain's columns (returned as
    # LOGICAL names; the zcols mapping below re-binds them physically
    # exactly like an explicit ZORDER BY).
    cluster_by: list[str] = []
    if zorder_by is None:
        cluster_by = _clustering_columns(snap)
        if cluster_by:
            zorder_by = cluster_by
    if zorder_by:
        logical = {f["name"] for f in json.loads(snap["schema"])["fields"]}
        unknown = set(zorder_by) - logical
        if unknown:
            raise DeltaProtocolError(
                f"OPTIMIZE ZORDER BY: {sorted(unknown)} are not columns "
                "of the table schema"
            )
    groups: list[tuple[list[str], dict[str, str]]] = []
    if pcols:
        by_dir: dict[str, list[str]] = {}
        for f in snap["files"]:
            by_dir.setdefault(os.path.dirname(f), []).append(f)
        for dirpath, files in sorted(by_dir.items()):
            # trailing-segment parse: works for the table's own dirs
            # AND a clone's source-absolute directories
            pvals = _file_pvals(os.path.join(dirpath, "_"))
            if set(pvals) != set(pcols):
                raise DeltaProtocolError(
                    f"partition directory {dirpath!r} does not match "
                    f"partition columns {pcols}"
                )
            groups.append((sorted(files), pvals))
    else:
        groups.append((snap["files"], {}))

    if where:
        if _mapping_mode(snap) != "none":
            # predicate keys arrive LOGICAL; directories and pcols are
            # physical (partition columns always bind via metadata
            # physicalName — their values never live in a footer)
            _wmap = {l: p for p, l in _physical_renames(snap["schema"])}
            where = {_wmap.get(k, k): v for k, v in where.items()}
        if not set(where) <= set(pcols):
            raise DeltaProtocolError(
                f"OPTIMIZE WHERE keys {sorted(where)} must be partition "
                f"columns {pcols}"
            )
        groups = [
            (files, pvals)
            for files, pvals in groups
            if all(pvals.get(k) == v for k, v in where.items())
        ]
        if not groups:
            return snap["version"]  # no matching partition: no-op

    # Explicit scan schema for the raw-file rewrite: log schema minus
    # partition columns, under PHYSICAL names when mapped (id mode
    # resolves + validates the names from the live files' footers, the
    # binding the mode trusts over metadata). Never infer from footers —
    # an evolved table's older files lack the newer columns and
    # inference from one would silently drop their data.
    _mode = _mapping_mode(snap)
    _phys_of = (
        (
            _mapped_part_binding(snap)
            if pcols
            else _id_physical_names(snap["schema"], snap["files"])
        )
        if _mode == "id"
        else {l: p for p, l in _physical_renames(snap["schema"])}
        if _mode != "none"
        else {}
    )
    # partition columns are excluded by PHYSICAL name — pcols are
    # physical under mapping, and a renamed partition column's logical
    # name must not leak a phantom field into the rewrite scan
    read_schema = T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                dict(f, name=_phys_of.get(f["name"], f["name"]),
                     metadata={})
                for f in json.loads(snap["schema"])["fields"]
                if _phys_of.get(f["name"], f["name"]) not in pcols
            ],
        }
    )

    _mk_mapped_override = None
    _attach_ids = None
    if _mode != "none":
        # a plain staging rewrite would strip the parquet field ids the
        # mapped files carry (and id-mode resolution depends on): re-read
        # under the physical schema and re-attach each column's mapping
        # id via alias metadata, so compacted files stay resolvable in
        # BOTH modes. Built per file group — a hive-partitioned table
        # compacts one directory at a time (the DV branch rebuilds the
        # frame through the subtracting scan instead).
        import pyspark.sql.functions as F

        _id_of = {
            f["name"]: int(
                (f.get("metadata") or {})["delta.columnMapping.id"]
            )
            for f in json.loads(snap["schema"])["fields"]
        }
        _log_of = {p: l for l, p in _phys_of.items()}

        def _attach_ids(df):
            return df.select(
                [
                    F.col(p).alias(
                        p,
                        metadata={"parquet.field.id": _id_of[_log_of[p]]},
                    )
                    for p in read_schema.names
                ]
            )

        def _mk_mapped_override(group_files):
            return _attach_ids(
                spark.read.schema(read_schema).parquet(*group_files)
            )

    cluster = None
    if zorder_by:
        # OPTIMIZE ZORDER BY: same commit shape, but the rewrite lays
        # rows out along the interleaved-bit z-curve (``_zorder`` — an
        # engine-agnostic DataFrame → DataFrame transform), so the
        # footer stats each compacted add records are tight on EVERY
        # clustered dimension and read_delta(skip=...) prunes on any of
        # them.
        #
        # clustering keys arrive as LOGICAL names; a mapped table's
        # rewrite frame carries PHYSICAL ones — translate through the
        # same binding the rewrite read itself uses (id mode: the live
        # footers), so rename-then-recluster works like any other verb
        zcols = [_phys_of.get(c, c) for c in zorder_by]
        cluster = lambda df: _zorder(spark, df, zcols, target_partitions)  # noqa: E731

    removes: list[dict] = []
    adds: list[dict] = []
    for files, pvals in groups:
        df_override = (
            _mk_mapped_override(files) if _mk_mapped_override else None
        )
        group_dvs = {f: d for f, d in live_dvs.items() if f in set(files)}
        if rt_enabled:
            # stable-id rewrite: resolve each surviving row's id
            # (baseRowId + index, or an earlier rewrite's materialized
            # value) and WRITE it into the compacted files under the
            # declared materialized column names; DV rows drop in the
            # same scan (the purge contract). The compacted adds then
            # take fresh baseRowIds from the stamping below — readers
            # prefer the materialized values, so ids never move.
            import pyspark.sql.functions as F

            _mat_id, _mat_cv = _materialized_row_cols(snap)
            _scan = _row_id_scan(spark, table, snap, files)
            # exclude partition columns by PHYSICAL name (a renamed
            # mapped partition column's logical name differs)
            _data_names = [
                f["name"]
                for f in json.loads(snap["schema"])["fields"]
                if _phys_of.get(f["name"], f["name"]) not in pcols
            ]
            if _mode != "none":
                # the scan returns LOGICAL names; the compacted files
                # must carry physical names + field ids like any other
                # mapped rewrite (the materialized pair is not a schema
                # column — no mapping, literal name)
                _sel = [
                    F.col(c).alias(
                        _phys_of[c],
                        metadata={"parquet.field.id": _id_of[c]},
                    )
                    for c in _data_names
                ]
            else:
                _sel = [F.col(c) for c in _data_names]
            df_override = _scan.select(
                *_sel,
                F.col("_rid").alias(_mat_id),
                F.col("_rcv").alias(_mat_cv),
            )
        elif group_dvs:
            # OPTIMIZE doubles as REORG/PURGE: compact through the
            # DV-filtered view, so the rewrite physically drops the
            # deleted rows and the compacted adds carry no descriptor —
            # the vectors are applied exactly once, here, where the
            # rewrite price is amortized across every delete since the
            # last compaction. Logical content is unchanged, so
            # dataChange stays false. On a partitioned table the
            # partition columns come back out of the projection: the
            # compacted file's CONTENTS must stay layout-identical
            # (values live in the directory name, not the file).
            if _mode != "none":
                # mapped + DV: subtract under the PHYSICAL schema and
                # re-attach the field ids (unpartitioned scope)
                df_override = _attach_ids(
                    _read_with_dvs(
                        spark, table, files, group_dvs, read_schema, []
                    )
                )
            else:
                full = T.StructType.fromJson(json.loads(snap["schema"]))
                df_override = _read_with_dvs(
                    spark, table, files, group_dvs, full, pcols
                ).select(
                    [f.name for f in full.fields if f.name not in pcols]
                )
        r, a = _compact_files(
            spark, table, version, files, pvals, target_partitions, cluster,
            df_override, read_schema,
        )
        removes.extend(r)
        adds.extend(a)
    return _commit(
        table, version, _stamp_row_tracking(snap, version, removes + adds),
        "OPTIMIZE",
        {
            "targetSize": str(target_partitions),
            "zOrderBy": json.dumps([] if cluster_by else (zorder_by or [])),
            # delta-spark records clustering-driven layout under
            # clusterBy, not zOrderBy
            "clusterBy": json.dumps(cluster_by),
            "predicate": json.dumps(
                [f"{k} = {v!r}" for k, v in sorted((where or {}).items())]
            ),
        },
    )


def merge_delta(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
    change_data: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Copy-on-write MERGE (upsert) into a real-format Delta table:
    source rows REPLACE same-key target rows, unmatched source rows
    INSERT — the semantics of ``MERGE ... WHEN MATCHED THEN UPDATE
    SET * WHEN NOT MATCHED THEN INSERT *``, published as one remove+add
    commit delta-rs/delta-spark can read back.

    File-level copy-on-write, delta-spark's low-shuffle-merge contract:
    only data files that actually CONTAIN a matched key are rewritten
    (surviving rows carried over + the whole source); untouched files
    stay in place. The touched-file discovery is a broadcast semi-join
    on ``input_file_name()`` whose distinct-file result is METADATA
    (one row per touched file) — the only driver materialization, same
    altitude as the commit log itself. Hive-partitioned tables work the
    same way: survivors + source rewrite through a ``partitionBy``
    staging write, removes carry each touched file's partition values
    from its directory name, and a matched row whose source carries new
    partition values simply lands in the new directory (partition-key
    change is a remove+add like any other row move).

    ``txn=(app_id, epoch)`` is ``append_delta``'s exactly-once key: a
    replayed epoch returns -1 without merging, otherwise the ``txn``
    action rides in the MERGE commit (the streaming CDC sink,
    ``streaming.ingest.cdc_upsert_writer``)."""
    import pyspark.sql.functions as F

    snap = snapshot(table)
    txn_actions = _txn_actions(snap, txn)
    if txn_actions is None:
        return -1
    # identity_ok: MERGE maintains identity columns correctly below —
    # matched rows KEEP the target's minted value, unmatched rows take
    # the next contiguous range and the high-water mark advances in
    # this commit's metaData (delta-spark's MERGE-on-identity contract)
    _check_writer_protocol(snap, "MERGE", removes_data=True,
                           identity_ok=True)
    change_data = change_data or _cdf_obligated(snap)
    _refuse_cow_unsupported(snap, "merge_delta")
    rt_enabled = _rt_rewrite_gate(snap, "MERGE")
    pcols = snap["partition_cols"]
    version = snap["version"] + 1
    if rt_enabled:
        # stable-id COW: the rewrite scan resolves each row's id so
        # survivors carry theirs into the new files (materialized),
        # updated rows KEEP their id with this commit as their row
        # commit version, and inserts fall through to fresh assignment
        tagged = _row_id_scan(
            spark, table, snap, snap["files"]
        ).withColumnRenamed("_dv_file", "_src_file")
    else:
        tagged = _cow_scan(spark, table, snap)
    cur_cols = [
        c for c in tagged.columns
        if c not in ("_src_file", "_rid", "_rcv")
    ]
    idents = table_identity_columns(snap["schema"])
    id_missing = sorted(set(idents) - set(source.columns))
    if set(source.columns) != set(cur_cols) - set(id_missing):
        raise DeltaProtocolError(
            f"merge source columns {sorted(source.columns)} do not match "
            f"table columns {sorted(cur_cols)}"
        )
    evolved_schema_json: str | None = None
    if idents:
        source, evolved_schema_json = _identity_merge_source(
            source, tagged, idents, id_missing, key_cols, snap
        )
    # MERGE introduces the source's rows: they must satisfy CHECK
    # constraints and generated-column expressions like any append
    # (survivors re-written unchanged satisfy both trivially)
    _enforce_constraints(source, _row_write_checks(snap))
    _enforce_generated(source, table_generated_columns(snap))
    keys = source.select(*key_cols).distinct()
    touched_uris = [
        r["_src_file"]
        for r in tagged.join(F.broadcast(keys), key_cols, "leftsemi")
        .select("_src_file")
        .distinct()
        .collect()  # METADATA only: one row per touched data file
    ]
    from urllib.parse import urlparse

    touched_abs = {
        os.path.abspath(unquote(urlparse(u).path)) for u in touched_uris
    }
    survivors = (
        tagged.filter(F.col("_src_file").isin(touched_uris))
        .join(F.broadcast(keys), key_cols, "left_anti")
        .drop("_src_file")
    )
    if rt_enabled:
        upd_ids = (
            tagged.join(F.broadcast(keys), key_cols, "leftsemi")
            .groupBy(*key_cols)
            .agg(F.min("_rid").alias("_rid"))
        )
        src_ids = (
            source.select(*cur_cols)
            .join(upd_ids, key_cols, "left")
            .withColumn(
                "_rcv",
                F.when(
                    F.col("_rid").isNotNull(), F.lit(version)
                ).cast("long"),
            )
        )
        new_data = survivors.select(
            *cur_cols, "_rid", "_rcv"
        ).unionByName(src_ids.select(*cur_cols, "_rid", "_rcv"))
    else:
        new_data = survivors.select(*cur_cols).unionByName(
            source.select(*cur_cols)
        )

    cdc_actions: list[dict] = []
    if change_data:
        # Protocol-shaped CDC capture (`cdc` actions + `_change_data/`
        # files, dataChange:false so log replay ignores them for table
        # state — exactly how delta-spark publishes CDF). Partitioned
        # tables write the change files into hive dirs mirroring the
        # table layout (_write_change_data), partition-key moves emit
        # preimage and postimage in their respective directories.
        preimage = (
            tagged.filter(F.col("_src_file").isin(touched_uris))
            .join(F.broadcast(keys), key_cols, "leftsemi")
            .select(*cur_cols)  # drop the tag and any row-id columns
        )
        old_keys = preimage.select(*key_cols).distinct()
        changes = (
            preimage.withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                source.select(*cur_cols)
                .join(F.broadcast(old_keys), key_cols, "leftsemi")
                .withColumn("_change_type", F.lit("update_postimage"))
            )
            .unionByName(
                source.select(*cur_cols)
                .join(F.broadcast(old_keys), key_cols, "leftanti")
                .withColumn("_change_type", F.lit("insert"))
            )
        )
        cdc_actions = _write_change_data(table, snap, changes, version)

    out_data, extra = new_data, ()
    if rt_enabled:
        # the materialized pair rides along by its literal (non-schema)
        # name, also on a mapped table
        extra = _materialized_row_cols(snap)
        out_data = new_data.select(
            *cur_cols,
            F.col("_rid").alias(extra[0]),
            F.col("_rcv").alias(extra[1]),
        )
    adds = _write_staged(
        table, _physical_for(snap, out_data, extra=extra), version, pcols
    )
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(
        table,
        [f for f in snap["files"] if os.path.abspath(f) in touched_abs],
        pcols, now_ms,
    )
    meta_actions: list[dict] = []
    if evolved_schema_json is not None:
        # an advanced identity high-water mark rides this commit's
        # metaData (same-commit atomicity: a lost race re-mints);
        # table id, configuration and partitioning are untouched
        meta_actions = [
            _metadata_action(snap, now_ms, schema=evolved_schema_json)
        ]
    actions = cdc_actions + meta_actions + txn_actions + removes + adds
    return _commit(
        table, version, _stamp_row_tracking(snap, version, actions),
        "MERGE",
        {"predicate": " AND ".join(
            f"target.{k} = source.{k}" for k in key_cols
        )},
        now_ms,
    )


class DeltaConstraintViolation(RuntimeError):
    """An append contained rows violating a table CHECK constraint."""


_CONSTRAINT_PREFIX = "delta.constraints."


def table_constraints(snap: dict) -> dict[str, str]:
    """name → SQL predicate for every CHECK constraint in the table
    configuration (Delta's ``ALTER TABLE ADD CONSTRAINT`` stores them
    as ``delta.constraints.<name>`` properties — the shape delta-spark
    writes and enforces)."""
    return {
        k[len(_CONSTRAINT_PREFIX):]: v
        for k, v in (snap.get("configuration") or {}).items()
        if k.startswith(_CONSTRAINT_PREFIX)
    }


def table_invariants(snap: dict) -> dict[str, str]:
    """column-scoped legacy invariants (writer v2's ``delta.invariants``
    field metadata, JSON ``{"expression": {"expression": <sql>}}``) as
    name → predicate. Enforced on every row-introducing write exactly
    like CHECK constraints — the protocol obligation of a writer that
    claims minWriterVersion >= 2 (refusing was the conservative
    pre-enforcement behavior)."""
    out: dict[str, str] = {}
    for f in json.loads(snap["schema"])["fields"]:
        raw = (f.get("metadata") or {}).get("delta.invariants")
        if raw:
            try:
                out[f"invariant__{f['name']}"] = json.loads(raw)[
                    "expression"
                ]["expression"]
            except (ValueError, KeyError, TypeError) as exc:
                raise DeltaProtocolError(
                    f"unparseable delta.invariants on column "
                    f"{f['name']!r}: {raw!r}"
                ) from exc
    return out


def _row_write_checks(snap: dict) -> dict[str, str]:
    """Every predicate a row-introducing write must satisfy: CHECK
    constraints (table configuration) plus legacy column invariants
    (schema metadata). overwriteSchema deliberately enforces only the
    configuration constraints — invariants live in the schema being
    REPLACED and die with it."""
    checks = table_constraints(snap)
    checks.update(table_invariants(snap))
    return checks


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Refuse the write if any row violates any constraint — one scan
    evaluating every predicate at once (a constraint is NULL-tolerant,
    like Delta's: NULL predicate result does not violate)."""
    if not constraints:
        return
    import pyspark.sql.functions as F

    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(pred), F.lit(True)), 1).otherwise(0)
        ).alias(name)
        for name, pred in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]  # METADATA-altitude: one row of counts
    bad = {name: int(row[name] or 0) for name in constraints}
    bad = {k: v for k, v in bad.items() if v > 0}
    if bad:
        raise DeltaConstraintViolation(
            "append violates CHECK constraint(s): "
            + ", ".join(
                f"{k} ({v} row(s), predicate {constraints[k]!r})"
                for k, v in sorted(bad.items())
            )
        )


def table_generated_columns(snap: dict) -> dict[str, str]:
    """column → generation expression for every generated column in the
    table schema (delta-spark stores the Spark-SQL expression in each
    field's ``delta.generationExpression`` metadata)."""
    out: dict[str, str] = {}
    for f in json.loads(snap["schema"])["fields"]:
        meta = f.get("metadata") or {}
        expr = meta.get("delta.generationExpression")
        if expr is not None:
            out[f["name"]] = expr
    return out


def _enforce_generated(df: DataFrame, gencols: dict[str, str]) -> None:
    """Generated-column enforcement for writes that introduce NEW rows:
    the protocol requires every written value to equal its generation
    expression (our appends carry every column, so this is validation,
    not computation — delta-spark enforces the same equality when a
    generated column is explicitly provided). One scan evaluating every
    column at once; null-safe equality so a NULL source producing a
    NULL value satisfies."""
    if not gencols:
        return
    import pyspark.sql.functions as F

    aggs = [
        F.sum(
            F.when(~F.col(name).eqNullSafe(F.expr(expr)), 1).otherwise(0)
        ).alias(name)
        for name, expr in gencols.items()
    ]
    row = df.agg(*aggs).collect()[0]  # METADATA-altitude: one count row
    bad = {k: int(row[k] or 0) for k in gencols if int(row[k] or 0) > 0}
    if bad:
        raise DeltaConstraintViolation(
            "write violates generated column(s): "
            + ", ".join(
                f"{k} ({v} row(s) != {gencols[k]!r})"
                for k, v in sorted(bad.items())
            )
        )


def add_constraint(
    spark: SparkSession, table: str, name: str, predicate: str
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT name CHECK (predicate)``: verify
    the EXISTING data satisfies the predicate (one scan — exactly what
    delta-spark does, and why adding a constraint to a 100 TB table is
    a full-scan operation), then publish a metaData action whose
    configuration carries ``delta.constraints.<name>``. Every later
    append re-validates against it. Refuses if the name exists or
    current rows violate."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "ALTER TABLE ADD CONSTRAINT",
                            identity_ok=True)
    if name in table_constraints(snap):
        raise DeltaProtocolError(f"constraint {name!r} already exists")
    _enforce_constraints(
        read_delta(spark, table), {name: predicate}
    )
    cfg = dict(snap.get("configuration") or {})
    cfg[_CONSTRAINT_PREFIX + name] = predicate
    now_ms = int(time.time() * 1000)
    return _commit(
        table, snap["version"] + 1,
        [_metadata_action(snap, now_ms, configuration=cfg)],
        "ADD CONSTRAINT", {"name": name, "expr": predicate}, now_ms,
    )


def set_domain_metadata(
    table: str, domain: str, configuration: dict | str
) -> int:
    """SET a user-controlled ``domainMetadata`` entry — the protocol's
    named key-value channel that travels WITH the table through
    commits, checkpoints (all three forms) and time travel, which
    table properties cannot do per-domain and external metastores
    cannot do atomically-with-the-data. delta-spark uses it internally
    (clustering state, rowTracking's high-water mark — both already
    honored here); this verb exposes the same channel for application
    domains: pipeline watermarks, ownership, retention contracts.

    One commit: the ``domainMetadata`` action (configuration
    normalized to a sorted-key JSON string when a dict is passed) plus
    a protocol upgrade to writer 7 + the ``domainMetadata`` feature
    when the table doesn't carry it yet (legacy implied features ride
    along, the enable_row_tracking pattern — existing versions never
    lowered). Setting an existing domain REPLACES its configuration
    (latest action wins in replay, the spec's rule). ``delta.``-prefixed
    domains refuse — those belong to their owning table features, and
    writing them from user code would desynchronize feature state."""
    if domain.startswith("delta."):
        raise DeltaProtocolError(
            f"domain {domain!r} is system-controlled (delta.* domains "
            "belong to their owning table feature)"
        )
    snap = snapshot(table)
    _check_writer_protocol(snap, "SET DOMAIN METADATA", identity_ok=True)
    cfg = (
        configuration
        if isinstance(configuration, str)
        else json.dumps(configuration, sort_keys=True)
    )
    feats = set((snap.get("protocol") or {}).get("writerFeatures") or [])
    actions: list[dict] = []
    if "domainMetadata" not in feats:
        actions.append(_protocol_with(snap, writer={"domainMetadata"}))
    actions.append(
        {
            "domainMetadata": {
                "domain": domain,
                "configuration": cfg,
                "removed": False,
            }
        }
    )
    return _commit(
        table, snap["version"] + 1, actions, "SET DOMAIN METADATA",
        {"domain": domain},
    )


_CLUSTERING_DOMAIN = "delta.clustering"
_CLUSTERING_MAX_COLS = 4  # delta-spark's CLUSTER BY limit


def _clustering_columns(snap: dict) -> list[str]:
    """LOGICAL clustering column names from the live
    ``delta.clustering`` domain (empty when the table is not
    clustered). The domain stores PHYSICAL names (the
    partitionColumns rule under column mapping) — translate back
    through the current schema binding."""
    cfg = (snap.get("domain_metadata") or {}).get(_CLUSTERING_DOMAIN)
    if not cfg:
        return []
    try:
        paths = json.loads(cfg).get("clusteringColumns") or []
    except (ValueError, AttributeError):
        return []
    phys = [p[0] for p in paths if p]
    log_of = {p: l for p, l in _physical_renames(snap["schema"])}
    return [log_of.get(p, p) for p in phys]


def enable_clustering(table: str, columns: list[str]) -> int:
    """``ALTER TABLE ... CLUSTER BY (cols)`` — delta-spark 3.x liquid
    clustering: mint the ``clustering`` (+ ``domainMetadata``) writer
    features and record the clustering columns in the
    ``delta.clustering`` domain (configuration
    ``{"clusteringColumns": [["col"], ...]}``, PHYSICAL names under
    column mapping — the partitionColumns rule). From then on
    ``optimize_delta`` with no explicit ``zorder_by`` reclusters on
    these columns (incremental clustering is OPTIMIZE's job in the
    spec; appends stay cheap and unclustered until then), and the
    domain travels through commits, checkpoints and time travel like
    all domain metadata. Re-running replaces the column set (latest
    action wins — delta-spark's ALTER ... CLUSTER BY semantics).

    Refusals: unknown columns; more than ``_CLUSTERING_MAX_COLS``
    (delta-spark's limit); hive-partitioned tables (the spec makes
    clustering and partitioning mutually exclusive)."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "CLUSTER BY", identity_ok=True)
    if snap["partition_cols"]:
        raise DeltaProtocolError(
            "CLUSTER BY: table is hive-partitioned; clustering and "
            "partitioning are mutually exclusive"
        )
    if not columns:
        raise DeltaProtocolError("CLUSTER BY: empty column list")
    if len(columns) > _CLUSTERING_MAX_COLS:
        raise DeltaProtocolError(
            f"CLUSTER BY: at most {_CLUSTERING_MAX_COLS} clustering "
            f"columns (got {len(columns)})"
        )
    logical = {f["name"] for f in json.loads(snap["schema"])["fields"]}
    unknown = set(columns) - logical
    if unknown:
        raise DeltaProtocolError(
            f"CLUSTER BY: {sorted(unknown)} are not columns of the "
            "table schema"
        )
    phys_of = {l: p for p, l in _physical_renames(snap["schema"])}
    cfg = json.dumps(
        {"clusteringColumns": [[phys_of.get(c, c)] for c in columns]}
    )
    feats = set((snap.get("protocol") or {}).get("writerFeatures") or [])
    actions: list[dict] = []
    if {"clustering", "domainMetadata"} - feats:
        actions.append(
            _protocol_with(snap, writer={"clustering", "domainMetadata"})
        )
    actions.append(
        {
            "domainMetadata": {
                "domain": _CLUSTERING_DOMAIN,
                "configuration": cfg,
                "removed": False,
            }
        }
    )
    return _commit(
        table, snap["version"] + 1, actions, "CLUSTER BY",
        {"clusterBy": json.dumps(columns)},
    )


def add_column_default(table: str, column: str, default_sql: str) -> int:
    """``ALTER TABLE ... ALTER COLUMN col SET DEFAULT expr`` — the
    delta-spark 3.x ``allowColumnDefaults`` feature: record the
    expression in the column's ``CURRENT_DEFAULT`` field metadata (one
    metadata commit; zero files touched) and upgrade the protocol to
    writer 7 + the feature when absent (versions never lowered). From
    then on an append whose batch OMITS the column fills it from the
    default; full-schema appends are untouched. Refuses unknown
    columns, identity columns (they mint, not default) and generated
    columns (their expression already owns the value)."""
    snap = snapshot(table)
    _check_writer_protocol(
        snap, "ALTER COLUMN SET DEFAULT", identity_ok=True
    )
    sch = json.loads(snap["schema"])
    fld = next(
        (f for f in sch["fields"] if f["name"] == column), None
    )
    if fld is None:
        raise DeltaProtocolError(
            f"SET DEFAULT: column {column!r} does not exist"
        )
    if column in table_identity_columns(snap["schema"]):
        raise DeltaProtocolError(
            f"SET DEFAULT: {column!r} is an identity column"
        )
    if (fld.get("metadata") or {}).get("delta.generationExpression"):
        raise DeltaProtocolError(
            f"SET DEFAULT: {column!r} is a generated column"
        )
    md = dict(fld.get("metadata") or {})
    md["CURRENT_DEFAULT"] = default_sql
    fld["metadata"] = md
    feats = set((snap.get("protocol") or {}).get("writerFeatures") or [])
    actions: list[dict] = []
    if "allowColumnDefaults" not in feats:
        actions.append(_protocol_with(snap, writer={"allowColumnDefaults"}))
    now_ms = int(time.time() * 1000)
    actions.append(_metadata_action(snap, now_ms, schema=json.dumps(sch)))
    return _commit(
        table, snap["version"] + 1, actions, "ALTER COLUMN SET DEFAULT",
        {"column": column, "default": default_sql}, now_ms,
    )


def remove_domain_metadata(table: str, domain: str) -> int:
    """Tombstone a user domain: one commit with ``removed: true``.
    Replay drops the domain; checkpoints carry live domains only, so
    the tombstone needs no retention bookkeeping. Refuses ``delta.*``
    (system-owned) and domains the table doesn't carry (delta-spark's
    rule — a silent no-op would mask a caller bug)."""
    if domain.startswith("delta."):
        raise DeltaProtocolError(
            f"domain {domain!r} is system-controlled"
        )
    snap = snapshot(table)
    _check_writer_protocol(
        snap, "REMOVE DOMAIN METADATA", identity_ok=True
    )
    if domain not in (snap.get("domain_metadata") or {}):
        raise DeltaProtocolError(
            f"domain {domain!r} does not exist on this table"
        )
    tombstone = {
        "domainMetadata": {
            "domain": domain,
            "configuration": "{}",
            "removed": True,
        }
    }
    return _commit(
        table, snap["version"] + 1, [tombstone], "REMOVE DOMAIN METADATA",
        {"domain": domain},
    )


def enable_column_mapping(table: str, mode: str = "name") -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.columnMapping.mode' = 'name')`` — upgrade a table to
    column mapping IN PLACE with one metadata-only commit, delta-spark's
    only supported upgrade path. ``mode="id"`` additionally marks the
    table id-resolved — delta-spark only produces id mode at table
    creation, but the resulting state is identical: every field carries
    a mapping id, resolution prefers parquet footer field ids and falls
    back to ``physicalName`` metadata for the pre-upgrade files (which
    carry no ids; later OPTIMIZE rewrites attach them).

    Every existing field gets ``delta.columnMapping.id`` (1..n, recorded
    as ``delta.columnMapping.maxColumnId`` in the configuration) and
    ``delta.columnMapping.physicalName`` = its CURRENT name — the
    pre-upgrade data files were written under logical names, and pinning
    physical = logical is exactly how delta-spark keeps them readable
    without rewriting a byte (on a 100 TB table the upgrade stays
    O(|schema|) metadata). Columns added or renamed afterwards get
    ``col-<uuid>`` physical names, so future parquet files never collide
    with a reused logical name.

    The protocol is raised to what mapping demands: legacy tables move
    to (minReader 2, minWriter 5); table-features protocols add the
    ``columnMapping`` feature to both lists. Hive-partitioned tables
    upgrade in place too: ``partitionColumns`` and the existing
    ``col=value/`` directories are keyed by PHYSICAL names under
    mapping, and pinning physical = logical at upgrade makes both
    valid as-is (renaming a partition column afterwards is
    metadata-only — the directories keep the physical name); live
    deletion vectors compose (the mapped scan subtracts under the
    physical schema)."""
    if mode not in ("name", "id"):
        raise DeltaProtocolError(
            f"column mapping mode {mode!r} is not supported"
        )
    snap = snapshot(table)
    _check_writer_protocol(snap, "enable_column_mapping")
    if _mapping_mode(snap) != "none":
        raise DeltaProtocolError(
            "column mapping is already enabled on this table"
        )
    if mode == "id" and _schema_has_variant(snap["schema"]):
        raise DeltaProtocolError(
            "id-mode column mapping on a table with VARIANT columns "
            "is not supported (field-id resolution reads parquet "
            "footers, which variant logical types make unreadable); "
            "name mode works"
        )
    sch = json.loads(snap["schema"])
    fields = []
    for i, f in enumerate(sch["fields"], start=1):
        nf = dict(f)
        meta = dict(nf.get("metadata") or {})
        meta["delta.columnMapping.id"] = i
        meta["delta.columnMapping.physicalName"] = f["name"]
        nf["metadata"] = meta
        fields.append(nf)
    cfg = dict(snap.get("configuration") or {})
    cfg["delta.columnMapping.mode"] = mode
    cfg["delta.columnMapping.maxColumnId"] = str(len(fields))
    p = snap.get("protocol") or {}
    r = p.get("minReaderVersion", 1)
    w = p.get("minWriterVersion", 2)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if w == 7 or r == 3:
        actions.append(
            _protocol_with(
                snap, writer={"columnMapping"}, reader={"columnMapping"}
            )
        )
    elif r < 2 or w < 5:
        # never DOWNGRADE a foreign table's protocol: a legacy table at
        # (1, 6) must move to (2, 6), not (2, 5) — the spec forbids
        # writers lowering either version, and a later replay would take
        # the lowered protocol as latest
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": max(r, 2),
                    "minWriterVersion": max(w, 5),
                }
            }
        )
    actions.append(
        _metadata_action(
            snap, now_ms,
            schema=json.dumps({"type": "struct", "fields": fields}),
            configuration=cfg,
        )
    )
    return _commit(
        table, snap["version"] + 1, actions, "SET TBLPROPERTIES",
        {"properties": json.dumps({"delta.columnMapping.mode": mode})},
        now_ms,
    )


def widen_column_type(table: str, col: str, new_type: str) -> int:
    """``ALTER TABLE ... ALTER COLUMN col TYPE new_type`` under the
    ``typeWidening`` table feature: ONE metadata commit flips the log
    schema to the wider type and appends a ``delta.typeChanges`` record
    ({fromType, toType, tableVersion}) to the field — zero data files
    rewritten; existing files keep the narrower physical type and every
    scan upcasts through the authoritative log schema (on a 100 TB
    table this is what makes an int→long migration O(|schema|) instead
    of a full rewrite). Only the widenings this module's scans perform
    natively are accepted (``_WIDENING_OK``); the protocol moves to the
    table-features form with ``typeWidening`` in both lists."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "ALTER COLUMN TYPE")
    sch = json.loads(snap["schema"])
    field = next((f for f in sch["fields"] if f["name"] == col), None)
    if field is None:
        raise DeltaProtocolError(f"no column {col!r} to widen")
    old_type = field["type"]
    if (old_type, new_type) not in _WIDENING_OK:
        raise DeltaProtocolError(
            f"type widening {old_type!r} -> {new_type!r} is not "
            "supported (integer-family and float->double widenings are)"
        )
    version = snap["version"] + 1
    meta = dict(field.get("metadata") or {})
    meta["delta.typeChanges"] = list(meta.get("delta.typeChanges") or []) + [
        {"fromType": old_type, "toType": new_type,
         "tableVersion": version}
    ]
    fields = [
        dict(f, type=new_type, metadata=meta) if f["name"] == col else f
        for f in sch["fields"]
    ]
    now_ms = int(time.time() * 1000)
    actions = [
        _protocol_with(snap, writer={"typeWidening"}, reader={"typeWidening"}),
        _metadata_action(
            snap, now_ms,
            schema=json.dumps({"type": "struct", "fields": fields}),
        ),
    ]
    return _commit(
        table, version, actions, "CHANGE COLUMN",
        {"column": col, "fromType": old_type, "toType": new_type}, now_ms,
    )


def rename_column(table: str, old: str, new: str) -> int:
    """``ALTER TABLE ... RENAME COLUMN old TO new`` — the operation
    column mapping exists for: one metadata-only commit changes the
    LOGICAL name while ``delta.columnMapping.physicalName`` (what the
    parquet files actually store) and the field id stay fixed, so zero
    data files rewrite and every earlier version still time-travels
    under its old schema. O(|schema|) driver metadata at any table size.

    Refuses on unmapped tables (without mapping, a rename would orphan
    every file's columns — delta-spark refuses identically), on logical
    name collisions, and when the old name is referenced by stored SQL
    text the engine enforces (CHECK constraints, generation
    expressions) — delta-spark's dependency rule, since the stored
    expression text would silently stop matching rows."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "rename_column")
    if _mapping_mode(snap) == "none":
        raise DeltaProtocolError(
            "rename_column requires column mapping; run "
            "enable_column_mapping first"
        )
    sch = json.loads(snap["schema"])
    names = [f["name"] for f in sch["fields"]]
    if old not in names:
        raise DeltaProtocolError(f"no such column {old!r}")
    if new in names:
        raise DeltaProtocolError(f"column {new!r} already exists")
    # renaming a PARTITION column is fine under mapping: metaData's
    # partitionColumns, every add's partitionValues and the hive
    # col=value/ directories are all keyed by the PHYSICAL name, which
    # this commit does not touch — only the logical surface moves
    import re as _re

    ref = _re.compile(rf"\b{_re.escape(old)}\b", _re.IGNORECASE)
    for cname, expr in {**table_constraints(snap),
                        **table_invariants(snap)}.items():
        if ref.search(expr):
            raise DeltaProtocolError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r}; drop the constraint first"
            )
    for col, expr in table_generated_columns(snap).items():
        if col == old or ref.search(expr):
            raise DeltaProtocolError(
                f"column {old!r} participates in the generation "
                f"expression of {col!r}"
            )
    fields = [
        dict(f, name=new) if f["name"] == old else f for f in sch["fields"]
    ]
    now_ms = int(time.time() * 1000)
    schema = json.dumps({"type": "struct", "fields": fields})
    return _commit(
        table, snap["version"] + 1,
        [_metadata_action(snap, now_ms, schema=schema)],
        "RENAME COLUMN", {"from": old, "to": new}, now_ms,
    )


def drop_column(table: str, col: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` — metadata-only, like rename
    (and like rename it REQUIRES column mapping: without it the scan
    schema is the parquet footer schema and a drop would need a data
    rewrite). The field leaves the logical schema in one commit; its
    physical column stays in every data file, invisible to readers
    (this module's mapped scan projects exactly the log schema's
    fields), and time travel before the drop still serves it.

    Because ``delta.columnMapping.maxColumnId`` never decrements, a
    column later re-added under the SAME logical name gets a fresh id
    and a ``col-<uuid>`` physical name — the old values do NOT
    resurrect. That non-resurrection rule is the whole reason dropped
    physical names are never reused, and it is what the s20b oracle
    certifies. Refuses on the last remaining column, partition columns,
    and names referenced by CHECK constraints or generation
    expressions (delta-spark's dependency rule)."""
    snap = snapshot(table)
    _check_writer_protocol(snap, "drop_column")
    if _mapping_mode(snap) == "none":
        raise DeltaProtocolError(
            "drop_column requires column mapping; run "
            "enable_column_mapping first"
        )
    sch = json.loads(snap["schema"])
    names = [f["name"] for f in sch["fields"]]
    if col not in names:
        raise DeltaProtocolError(f"no such column {col!r}")
    if len(names) == 1:
        raise DeltaProtocolError("cannot drop the last column")
    # partitionColumns are PHYSICAL names — compare through the binding
    # so a renamed partition column still refuses to drop
    _phys = {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in sch["fields"]
    }
    if _phys[col] in (snap["partition_cols"] or []):
        raise DeltaProtocolError(f"cannot drop partition column {col!r}")
    import re as _re

    ref = _re.compile(rf"\b{_re.escape(col)}\b", _re.IGNORECASE)
    for cname, expr in {**table_constraints(snap),
                        **table_invariants(snap)}.items():
        if ref.search(expr):
            raise DeltaProtocolError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{cname!r}; drop the constraint first"
            )
    for gcol, expr in table_generated_columns(snap).items():
        if gcol == col or ref.search(expr):
            raise DeltaProtocolError(
                f"column {col!r} participates in the generation "
                f"expression of {gcol!r}"
            )
    fields = [f for f in sch["fields"] if f["name"] != col]
    now_ms = int(time.time() * 1000)
    schema = json.dumps({"type": "struct", "fields": fields})
    return _commit(
        table, snap["version"] + 1,
        [_metadata_action(snap, now_ms, schema=schema)],
        "DROP COLUMNS", {"columns": json.dumps([col])}, now_ms,
    )


def _refuse_cow_unsupported(snap: dict, op: str) -> None:
    """Scope gate for the COW rewrite verbs (merge/delete). Since
    round 7 every supported table shape rewrites: mapped tables (name
    AND id mode), live deletion vectors, their COMBINATION
    (``_cow_scan`` subtracts under the physical schema then renames),
    and shallow clones (removes key the original absolute paths via
    ``_log_path``; rewritten files land under the clone root). Only an
    unknown mapping mode refuses."""
    mode = _mapping_mode(snap)
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"{op} on a column mapping mode {mode!r} table is not "
            "supported"
        )


def _cow_scan(spark: SparkSession, table: str, snap: dict) -> DataFrame:
    """The snapshot scan the COW rewrite verbs share: logical columns
    plus ``_src_file``, a per-row data-file URI that stays reliable in
    every supported table shape. Plain tables tag with
    ``input_file_name()``; name-mapped tables tag on top of the
    physical→logical projection (still a pure scan, so the tag holds);
    live-DV tables ride ``_read_with_dvs`` keeping its own file column,
    which both subtracts the deleted rows BEFORE key matching (a
    DV-deleted row must neither match a merge key nor count as a
    survivor) and sidesteps ``input_file_name()``'s undefined value
    after the anti-join."""
    import pyspark.sql.functions as F

    full = T.StructType.fromJson(json.loads(snap["schema"]))
    live_dvs = {
        f: d for f, d in snap["file_dvs"].items() if f in set(snap["files"])
    }
    mode = _mapping_mode(snap)
    if not snap["files"]:
        return spark.createDataFrame([], full).withColumn(
            "_src_file", F.lit(None).cast("string")
        )
    if mode != "none" and snap["partition_cols"]:
        # mapped + hive-partitioned (± DVs): basePath-recover the
        # physically-named partition columns, subtract any live DVs
        # under the physical schema, rename, keep the file tag
        return _read_mapped_partitioned(
            spark, table, snap,
            {l: p for p, l in _physical_renames(snap["schema"])},
            keep_file_col="_src_file",
        )
    if live_dvs and mode != "none":
        # mapped + merge-on-read: subtract under the PHYSICAL schema,
        # rename, keep the scan's own file tag
        phys_of = (
            _id_physical_names(snap["schema"], snap["files"])
            if mode == "id"
            else {l: p for p, l in _physical_renames(snap["schema"])}
        )
        return _read_with_dvs(
            spark, table, snap["files"], live_dvs,
            _phys_struct(snap["schema"], phys_of), [],
            keep_file_col="_src_file",
        ).select(
            _logical_cols(snap["schema"], phys_of) + [F.col("_src_file")]
        )
    if live_dvs:
        return _read_with_dvs(
            spark, table, snap["files"], live_dvs, full,
            snap["partition_cols"], keep_file_col="_src_file",
        )
    if mode != "none":
        phys_of = (
            _id_physical_names(snap["schema"], snap["files"])
            if mode == "id"
            else None
        )
        return _read_with_mapping(
            spark, snap["files"], snap["schema"], phys_of
        ).withColumn("_src_file", F.input_file_name())
    return read_delta(spark, table, version=snap["version"]).withColumn(
        "_src_file", F.input_file_name()
    )


def delete_delta(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    change_data: bool = False,
) -> int:
    """Row-level DELETE on a real-format Delta table (``MERGE ... WHEN
    MATCHED THEN DELETE`` / GDPR erasure): rows whose ``key_cols`` match
    ``keys`` are removed, copy-on-write at file granularity — only data
    files that actually CONTAIN a matched key are rewritten minus their
    matched rows; untouched files stay in place. Publishes one
    remove+add commit delta-rs/delta-spark read back, identical
    mechanics to :func:`merge_delta` minus the source union.

    ``change_data=True`` additionally publishes the deleted rows as
    ``delete``-typed preimages via ``cdc`` actions + ``_change_data/``
    files (dataChange:false), Delta's CDF shape for erasure — the thing
    that lets a downstream consumer propagate the deletion instead of
    re-scanning. Unpartitioned tables only for capture, as in
    merge_delta."""
    import pyspark.sql.functions as F

    snap = snapshot(table)
    _check_writer_protocol(snap, "DELETE", removes_data=True,
                            identity_ok=True)
    change_data = change_data or _cdf_obligated(snap)
    _refuse_cow_unsupported(snap, "delete_delta")
    rt_enabled = _rt_rewrite_gate(snap, "DELETE (copy-on-write)")
    pcols = snap["partition_cols"]
    version = snap["version"] + 1
    key_df = keys.select(*key_cols).distinct()
    if rt_enabled:
        tagged = _row_id_scan(
            spark, table, snap, snap["files"]
        ).withColumnRenamed("_dv_file", "_src_file")
    else:
        tagged = _cow_scan(spark, table, snap)
    cur_cols = [
        c for c in tagged.columns
        if c not in ("_src_file", "_rid", "_rcv")
    ]
    touched_uris = [
        r["_src_file"]
        for r in tagged.join(F.broadcast(key_df), key_cols, "leftsemi")
        .select("_src_file")
        .distinct()
        .collect()  # METADATA only: one row per touched data file
    ]
    from urllib.parse import urlparse

    touched_abs = {
        os.path.abspath(unquote(urlparse(u).path)) for u in touched_uris
    }
    survivors = (
        tagged.filter(F.col("_src_file").isin(touched_uris))
        .join(F.broadcast(key_df), key_cols, "left_anti")
        .drop("_src_file")
        .select(
            *cur_cols, *(["_rid", "_rcv"] if rt_enabled else [])
        )
    )

    cdc_actions: list[dict] = []
    if change_data:
        deleted = (
            tagged.filter(F.col("_src_file").isin(touched_uris))
            .join(F.broadcast(key_df), key_cols, "leftsemi")
            .drop("_src_file")
            .select(*cur_cols)
            .withColumn("_change_type", F.lit("delete"))
        )
        cdc_actions = _write_change_data(table, snap, deleted, version)

    adds: list[dict] = []
    if touched_abs:
        out_rows, extra = survivors, ()
        if rt_enabled:
            extra = _materialized_row_cols(snap)
            out_rows = survivors.select(
                *cur_cols,
                F.col("_rid").alias(extra[0]),
                F.col("_rcv").alias(extra[1]),
            )
        adds = _write_staged(
            table, _physical_for(snap, out_rows, extra=extra), version, pcols
        )
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(
        table,
        [f for f in snap["files"] if os.path.abspath(f) in touched_abs],
        pcols, now_ms,
    )
    return _commit(
        table, version,
        _stamp_row_tracking(snap, version, cdc_actions + removes + adds),
        "DELETE",
        {"predicate": " AND ".join(
            f"target.{k} = source.{k}" for k in key_cols
        )},
        now_ms,
    )


def overwrite_delta(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    change_data: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Atomic FULL-TABLE overwrite — delta-spark's plain
    ``write.mode("overwrite")`` (the re-materialize-the-gold-table
    verb): every live file removes and the new batch's files add in
    ONE ``dataChange:true`` commit, so a reader sees the old table or
    the new one, never a mix, and time travel to the pre-overwrite
    version still resolves the old files. Schema and partitioning are
    FIXED (delta-spark requires ``overwriteSchema`` to change either —
    out of scope here; silent type drift refuses through the same
    merge check as append). Composes with every table shape the other
    verbs support: hive partitioning (the batch re-partitions through
    the staging write), column mapping incl. renamed partition columns
    (the batch arrives LOGICAL and lands physical + field ids), live
    DVs (replaced wholesale — the masked rows were already logically
    gone), and clones (removes key the external absolute paths).

    ``change_data=True`` captures the overwrite for the CDF: the old
    LIVE rows (via the ordinary snapshot scan — DV-subtracted, mapped,
    partition-recovered as appropriate) as ``delete`` preimages and
    the batch as ``insert`` rows.

    ``txn=(app_id, epoch)`` is ``append_delta``'s exactly-once key: a
    replayed epoch returns -1 without writing, otherwise the ``txn``
    action rides in the overwrite commit (the complete-mode streaming
    sink, ``streaming.ingest.run_windowed_stream``)."""
    import pyspark.sql.functions as F

    snap = snapshot(table)
    txn_actions = _txn_actions(snap, txn)
    if txn_actions is None:
        return -1
    _check_writer_protocol(snap, "WRITE (overwrite)", removes_data=True)
    change_data = change_data or _cdf_obligated(snap)
    # rowTracking: an overwrite REPLACES rows — replaced partitions'/
    # table's rows are logically NEW rows, so fresh baseRowIds from the
    # stamping are the spec-correct assignment (no materialization
    # needed; delta-spark allows the same write).
    pcols = snap["partition_cols"]
    _mode = _mapping_mode(snap)
    if _mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"overwrite on a column mapping mode {_mode!r} table is "
            "not supported"
        )
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    table_cols = {f.name for f in full.fields}
    if set(df.columns) != table_cols:
        raise DeltaProtocolError(
            f"overwrite batch schema {sorted(df.columns)} does not "
            f"match table schema {sorted(table_cols)} (schema change "
            "on overwrite requires overwrite_schema_delta)"
        )
    merge_schemas(full, df.schema)  # refuse silent type drift
    _enforce_constraints(df, _row_write_checks(snap))
    _enforce_generated(df, table_generated_columns(snap))
    version = snap["version"] + 1

    cdc_actions: list[dict] = []
    if change_data:
        old_rows = read_delta(spark, table, version=snap["version"])
        changes = old_rows.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(df.withColumn("_change_type", F.lit("insert")))
        cdc_actions = _write_change_data(table, snap, changes, version)

    adds = _write_staged(table, _physical_for(snap, df), version, pcols)
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(table, snap["files"], pcols, now_ms)
    actions = cdc_actions + txn_actions + removes + adds
    return _commit(
        table, version, _stamp_row_tracking(snap, version, actions),
        "WRITE", {"mode": "Overwrite"}, now_ms,
    )


def replace_where_delta(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    where: dict[str, str],
    change_data: bool = False,
) -> int:
    """Atomic partition overwrite — delta-spark's
    ``write.mode("overwrite").option("replaceWhere", ...)`` restricted
    to partition-column equality predicates, the only form that stays
    O(|replaced partitions|) at any table size: the nightly
    reprocess-yesterday shape on a 100 TB date-partitioned table swaps
    ONE directory's files and touches nothing else (the reference's
    collector rewrites its whole table on re-ingest,
    collector.py:219-226; this is the predicate-scoped rendering of
    that overwrite).

    Every row of ``df`` must satisfy the predicate — delta-spark's
    "data written out does not match replaceWhere" check — enforced
    with one narrow aggregate on the BATCH before anything stages.
    Matching files remove and the new files add in ONE
    ``dataChange:true`` commit: a reader sees the old partition state
    or the new one, never a mix, and time travel to the pre-overwrite
    version still resolves the old files. A matching file with a live
    deletion vector is replaced wholesale (its DV dies with it — the
    DV-masked rows were already logically gone). An EMPTY ``df``
    legitimately deletes the partition's content.

    ``change_data=True`` captures the overwrite for the CDF: replaced
    rows (DV-subtracted — an already-erased row must not resurface as
    a preimage) publish as ``delete`` preimages and the new batch as
    ``insert`` rows in the partition-mirroring ``_change_data/``
    layout, keeping ``read_delta_changes`` consumers O(changed rows)
    across the overwrite instead of hitting the uncaptured-overwrite
    refusal."""
    import pyspark.sql.functions as F

    snap = snapshot(table)
    _check_writer_protocol(snap, "WRITE (replaceWhere)", removes_data=True)
    change_data = change_data or _cdf_obligated(snap)
    # rowTracking: an overwrite REPLACES rows — replaced partitions'/
    # table's rows are logically NEW rows, so fresh baseRowIds from the
    # stamping are the spec-correct assignment (no materialization
    # needed; delta-spark allows the same write).
    pcols = snap["partition_cols"]
    if not pcols:
        raise DeltaProtocolError(
            "replaceWhere requires a partitioned table (the predicate "
            "must prune at the metadata layer, or the overwrite is a "
            "full-table rewrite in disguise)"
        )
    if not where:
        raise DeltaProtocolError("replaceWhere predicate must be non-empty")
    _mode = _mapping_mode(snap)
    phys_where = dict(where)
    if _mode != "none":
        # predicate keys arrive LOGICAL (they also filter the batch,
        # whose columns are logical); the directories, pcols and remove
        # partitionValues are keyed physically
        _wmap = {l: p for p, l in _physical_renames(snap["schema"])}
        phys_where = {_wmap.get(k, k): v for k, v in where.items()}
    bad = set(phys_where) - set(pcols)
    if bad:
        raise DeltaProtocolError(
            "replaceWhere supports partition-column equality only; "
            f"{sorted(bad)} are not partition columns of {pcols}"
        )
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    table_cols = {f.name for f in full.fields}
    if set(df.columns) != table_cols:
        raise DeltaProtocolError(
            f"replaceWhere batch schema {sorted(df.columns)} does not "
            f"match table schema {sorted(table_cols)}"
        )
    merge_schemas(full, df.schema)  # refuse silent type drift
    _enforce_constraints(df, _row_write_checks(snap))
    _enforce_generated(df, table_generated_columns(snap))
    pred = None
    for k, v in sorted(where.items()):
        clause = F.col(k).cast("string").eqNullSafe(F.lit(str(v)))
        pred = clause if pred is None else pred & clause
    if df.filter(~pred).limit(1).count():
        raise DeltaProtocolError(
            f"replaceWhere: batch contains rows outside the predicate "
            f"{where} (delta-spark refuses the same write)"
        )
    version = snap["version"] + 1

    def _pvals(f: str) -> dict[str, str]:
        return _file_pvals(f)  # root-agnostic (clone external refs too)

    matching = [
        f
        for f in snap["files"]
        if all(_pvals(f).get(k) == str(v) for k, v in phys_where.items())
    ]

    cdc_actions: list[dict] = []
    if change_data:
        live_dvs = {
            f: d for f, d in snap["file_dvs"].items() if f in set(matching)
        }
        if not matching:
            old_rows = spark.createDataFrame([], full)
        elif _mode != "none":
            # preimages read through the mapped partitioned scan
            # (logical names out; DVs subtracted so an already-erased
            # row cannot resurface as a preimage)
            old_rows = _read_mapped_partitioned(
                spark, table, dict(snap, files=matching), {}
            )
        else:
            old_rows = _read_with_dvs(
                spark, table, matching, live_dvs, full, pcols
            )
        changes = old_rows.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(df.withColumn("_change_type", F.lit("insert")))
        cdc_actions = _write_change_data(table, snap, changes, version)

    adds = _write_staged(table, _physical_for(snap, df), version, pcols)
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(table, matching, pcols, now_ms)
    return _commit(
        table, version,
        _stamp_row_tracking(snap, version, cdc_actions + removes + adds),
        "WRITE",
        {
            "mode": "Overwrite",
            "predicate": " AND ".join(
                f"{k} = '{v}'" for k, v in sorted(where.items())
            ),
        },
        now_ms,
    )


def overwrite_schema_delta(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
) -> int:
    """Schema-REPLACING overwrite — delta-spark's
    ``write.mode("overwrite").option("overwriteSchema", "true")``: the
    table's schema, data, AND partitioning all swap to the batch's in
    ONE commit (new ``metaData`` + every live file removed + staged
    adds), the migration verb behind re-materializing a table in a new
    shape. The table id (``metaData.id``) and configuration survive —
    only schemaString and partitionColumns change — so history,
    time travel to pre-migration versions (old files resolve with the
    OLD schema via the log-anchored metaData at that version), and
    table properties are intact.

    COLUMN-MAPPED tables work since late round 8: retained logical
    names KEEP their mapping id + physical name (old-version time
    travel resolves through the same binding), new columns take fresh
    ids from ``maxColumnId`` with ``col-<uuid>`` physical names
    (non-resurrection — a dropped-then-readded name never reads old
    bytes), and the staged files land physical names + field ids;
    ``partition_by`` arrives logical and translates once.

    Boundaries, each a loud refusal: CHECK constraints that reference
    columns absent from the NEW schema (delta-spark refuses the same
    write; constraints whose columns survive are enforced against the
    batch). CDF capture is deliberately NOT offered: preimage and
    postimage schemas differ, and a change feed cannot span a schema
    replacement — consumers re-snapshot (delta-spark errors the
    cross-boundary CDF read the same way)."""
    snap = snapshot(table)
    _check_writer_protocol(
        snap, "WRITE (overwriteSchema)", removes_data=True
    )
    # NOT gated on _cdf_obligated: overwriteSchema offers no CDF capture
    # by design (pre/postimage schemas differ; a change feed cannot span
    # a schema replacement — the cross-boundary CDF read refuses and
    # consumers re-snapshot, exactly delta-spark's semantics).
    # rowTracking: an overwrite REPLACES rows — replaced partitions'/
    # table's rows are logically NEW rows, so fresh baseRowIds from the
    # stamping are the spec-correct assignment (no materialization
    # needed; delta-spark allows the same write).
    mode = _mapping_mode(snap)
    new_schema_json = df.schema.json()
    new_cfg = dict(snap.get("configuration") or {})
    if mode != "none":
        # fresh binding under the SAME mode: retained names keep id +
        # physicalName, new names mint from maxColumnId (all old files
        # are removed in this commit, so attaching field ids can never
        # create a with/without mix)
        old_meta = {
            f["name"]: (f.get("metadata") or {})
            for f in json.loads(snap["schema"])["fields"]
        }
        sch = json.loads(new_schema_json)
        for f in sch["fields"]:
            om = old_meta.get(f["name"])
            if om and "delta.columnMapping.id" in om:
                m = dict(f.get("metadata") or {})
                m["delta.columnMapping.id"] = om[
                    "delta.columnMapping.id"
                ]
                m["delta.columnMapping.physicalName"] = om[
                    "delta.columnMapping.physicalName"
                ]
                f["metadata"] = m
        new_schema_json, new_cfg = _assign_mapping_ids(
            json.dumps(sch), new_cfg
        )
    partition_by = list(partition_by or [])
    missing = set(partition_by) - set(df.columns)
    if missing:
        raise DeltaProtocolError(
            f"overwriteSchema partition columns {sorted(missing)} are "
            "not in the batch schema"
        )
    cons = table_constraints(snap)
    if cons:
        try:
            _enforce_constraints(df, cons)
        except DeltaProtocolError:
            raise
        except Exception as exc:  # constraint references a dropped column
            raise DeltaProtocolError(
                "overwriteSchema: existing CHECK constraints reference "
                f"columns absent from the new schema ({exc}); DROP the "
                "constraint first (delta-spark refuses identically)"
            ) from exc
    version = snap["version"] + 1
    out_df = df
    if mode != "none":
        # physical names + field ids under the NEW binding; hive dirs
        # and partitionColumns key physically per the protocol
        out_df = _to_physical(df, new_schema_json)
        _npof = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in json.loads(new_schema_json)["fields"]
        }
        partition_by = [_npof.get(c, c) for c in partition_by]
    adds = _write_staged(table, out_df, version, partition_by)
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(
        table, snap["files"], snap["partition_cols"], now_ms
    )
    meta = _metadata_action(
        dict(snap, partition_cols=partition_by), now_ms,
        schema=new_schema_json, configuration=new_cfg,
    )
    return _commit(
        table, version,
        _stamp_row_tracking(snap, version, [meta] + removes + adds),
        "WRITE", {"mode": "Overwrite", "overwriteSchema": "true"}, now_ms,
    )


def dynamic_overwrite_delta(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    change_data: bool = False,
) -> int:
    """Dynamic partition overwrite — delta-spark's
    ``write.mode("overwrite").option("partitionOverwriteMode",
    "dynamic")``: replace EXACTLY the partitions PRESENT IN THE BATCH
    and leave every other partition untouched. The verb between
    :func:`replace_where_delta` (caller declares the predicate) and
    :func:`overwrite_delta` (whole table): the nightly backfill that
    recomputes "whatever days the upstream delivered" without knowing
    them up front. The touched-partition set derives from one distinct
    over the batch's partition columns (bounded by |touched
    partitions| — metadata-scale at any table size); matching files
    remove and the staged files add in ONE ``dataChange:true`` commit,
    so readers see old-or-new per partition, never a mix, and time
    travel still resolves the old files. A touched file's live DV dies
    with it (the masked rows were already logically gone). Composes
    with column mapping (batch arrives LOGICAL, lands physical + field
    ids; the touched-set keys translate logical→physical exactly once
    here, the partitioned-mapping rule) and clones (removes key the
    external absolute paths). On an UNPARTITIONED table delta-spark
    silently degenerates to a full overwrite — this writer refuses and
    points at :func:`overwrite_delta` instead (the degenerate path
    should be asked for by name).

    ``change_data=True`` captures the overwrite for the CDF exactly
    like replaceWhere: the touched partitions' live rows (DV-
    subtracted) as ``delete`` preimages, the batch as ``insert``."""
    import pyspark.sql.functions as F

    snap = snapshot(table)
    _check_writer_protocol(
        snap, "WRITE (dynamic overwrite)", removes_data=True
    )
    change_data = change_data or _cdf_obligated(snap)
    # rowTracking: an overwrite REPLACES rows — replaced partitions'/
    # table's rows are logically NEW rows, so fresh baseRowIds from the
    # stamping are the spec-correct assignment (no materialization
    # needed; delta-spark allows the same write).
    pcols = snap["partition_cols"]
    if not pcols:
        raise DeltaProtocolError(
            "dynamic partition overwrite on an unpartitioned table "
            "degenerates to a full-table overwrite — call "
            "overwrite_delta explicitly"
        )
    _mode = _mapping_mode(snap)
    if _mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"dynamic overwrite on a column mapping mode {_mode!r} "
            "table is not supported"
        )
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    table_cols = {f.name for f in full.fields}
    if set(df.columns) != table_cols:
        raise DeltaProtocolError(
            f"dynamic overwrite batch schema {sorted(df.columns)} does "
            f"not match table schema {sorted(table_cols)}"
        )
    merge_schemas(full, df.schema)  # refuse silent type drift
    _enforce_constraints(df, _row_write_checks(snap))
    _enforce_generated(df, table_generated_columns(snap))
    # logical partition columns (the batch's column names); pcols are
    # the physical binding used by dirs/partitionValues
    l_of = {p: l for p, l in _physical_renames(snap["schema"])}
    lcols = [l_of.get(p, p) for p in pcols]
    null_pred = None
    for c in lcols:
        clause = F.col(c).isNull()
        null_pred = clause if null_pred is None else null_pred | clause
    if df.filter(null_pred).limit(1).count():
        raise DeltaProtocolError(
            "dynamic overwrite batch has NULL partition values "
            "(__HIVE_DEFAULT_PARTITION__ handling out of scope)"
        )
    touched = {
        tuple(str(r[c]) for c in lcols)
        # METADATA collect: one row per TOUCHED PARTITION (bounded by
        # the batch's partition spread, never by row count) — the same
        # commit-planner discovery any Delta client performs
        for r in df.select(*lcols).distinct().collect()  # METADATA
    }
    version = snap["version"] + 1
    matching = [
        f
        for f in snap["files"]
        if tuple(_file_pvals(f).get(p) for p in pcols) in touched
    ]

    cdc_actions: list[dict] = []
    if change_data:
        live_dvs = {
            f: d for f, d in snap["file_dvs"].items() if f in set(matching)
        }
        if not matching:
            old_rows = spark.createDataFrame([], full)
        elif _mode != "none":
            old_rows = _read_mapped_partitioned(
                spark, table, dict(snap, files=matching), {}
            )
        else:
            old_rows = _read_with_dvs(
                spark, table, matching, live_dvs, full, pcols
            )
        changes = old_rows.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(df.withColumn("_change_type", F.lit("insert")))
        cdc_actions = _write_change_data(table, snap, changes, version)

    adds = _write_staged(table, _physical_for(snap, df), version, pcols)
    now_ms = int(time.time() * 1000)
    removes = _remove_actions(table, matching, pcols, now_ms)
    return _commit(
        table, version,
        _stamp_row_tracking(snap, version, cdc_actions + removes + adds),
        "WRITE",
        {"mode": "Overwrite", "partitionOverwriteMode": "DYNAMIC"},
        now_ms,
    )


def delete_delta_dv(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    change_data: bool = False,
) -> int:
    """Row-level DELETE via deletion vectors — Delta's MERGE-ON-READ
    erasure (``delta.enableDeletionVectors``): instead of rewriting the
    files that contain matched rows (:func:`delete_delta`'s
    copy-on-write), publish a bitmap of deleted row indexes per touched
    file and re-add the SAME data file with a ``deletionVector``
    descriptor. Zero data files are read-modified-written; the commit
    writes O(|deleted rows|) bitmap bytes no matter how large the files
    are — at 100 TB, erasing one user costs KBs instead of re-writing
    every multi-GB file that holds one of their rows. Readers subtract
    the positions during the scan (``_read_with_dvs``); OPTIMIZE later
    applies + purges the vectors (compaction is when the rewrite price
    is paid, amortized across all deletes since the last one).

    A second delete on an already-vectorized file unions the new
    positions into a fresh DV (descriptors are replaced whole, the
    protocol's semantics). The commit upgrades the table protocol to
    the ``deletionVectors`` reader/writer feature. Hive-partitioned
    tables work the same way — the partition-pruned scan means a
    partition-scoped predicate touches only that directory's files,
    and each DV add/remove carries the file's ``partitionValues`` —
    which is the production GDPR shape: erase one user from a 100 TB
    date-partitioned table for KBs of bitmap, no file rewrites.

    ``change_data=True`` captures the deleted rows as ``delete``-typed
    CDF preimages exactly like the COW path, so downstream consumers
    cannot tell which deletion strategy produced the feed — that
    equivalence is pinned by the s17 oracle."""
    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.storage import dvcodec

    snap = snapshot(table)
    _check_writer_protocol(snap, "DELETE (deletion vectors)", identity_ok=True,
                           removes_data=True)
    change_data = change_data or _cdf_obligated(snap)
    version = snap["version"] + 1
    full = T.StructType.fromJson(json.loads(snap["schema"]))
    files = snap["files"]
    if not files:
        return snap["version"]  # empty table: nothing to delete
    pcols = snap["partition_cols"]
    if pcols:
        for p in pcols:
            seg = f"{p}="
            if not all(seg in f for f in files):
                raise DeltaProtocolError(
                    "partitioned table without hive directory layout: "
                    "delete_delta_dv cannot derive partitionValues"
                )
    dvs_uri = {
        _file_uri(f): d
        for f, d in snap["file_dvs"].items()
        if f in set(files)
    }
    existing = {
        f: dvcodec.read_dv(table, d) for f, d in dvs_uri.items()
    }
    mode = _mapping_mode(snap)
    _meta_cols = [
        F.expr(
            "regexp_replace(_metadata.file_path, '^file:/+', 'file:/')"
        ).alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    ]
    if mode != "none":
        # mapped data files carry PHYSICAL names; the key matching
        # below runs on logical names, so scan physical and rename.
        # Hive-partitioned: basePath-recover the physically-named
        # partition columns (root-grouped, so a clone's
        # source-absolute references read) and cast to the log types
        if pcols:
            phys_of = _mapped_part_binding(snap, files)
            data_schema = T.StructType.fromJson(
                {
                    "type": "struct",
                    "fields": [
                        dict(f, name=phys_of[f["name"]], metadata={})
                        for f in json.loads(snap["schema"])["fields"]
                        if phys_of[f["name"]] not in set(pcols)
                    ],
                }
            )
            out_cols = _mapped_logical_cols(snap, phys_of)
            base = _grouped_part_read(
                spark, table, files, data_schema,
                project=lambda d: d.select(out_cols + _meta_cols),
            )
        else:
            phys_of = (
                _id_physical_names(snap["schema"], files)
                if mode == "id"
                else {l: p for p, l in _physical_renames(snap["schema"])}
            )
            out_cols = _logical_cols(snap["schema"], phys_of)
            base = spark.read.schema(
                _phys_struct(snap["schema"], phys_of)
            ).parquet(*files).select(out_cols + _meta_cols)
    else:
        if pcols:
            # hive layout: partition columns recovered from directory
            # names (keys on them then match like any other column)
            data_schema = T.StructType(
                [f for f in full.fields if f.name not in pcols]
            )
            base = _grouped_part_read(
                spark, table, files, data_schema,
                project=lambda d: d.select(*(["*"] + _meta_cols)),
            )
        else:
            base = spark.read.schema(full).parquet(*files).select(
                *(["*"] + _meta_cols)
            )
    if existing:
        # already-deleted rows are invisible: they must not re-match
        old_pairs = [
            (f, int(p)) for f, ps in existing.items() for p in ps
        ]
        base = base.join(
            F.broadcast(
                spark.createDataFrame(
                    old_pairs, "`_dv_file` STRING, `_dv_pos` BIGINT"
                )
            ),
            ["_dv_file", "_dv_pos"],
            "left_anti",
        )
    key_df = keys.select(*key_cols).distinct()
    matched = base.join(F.broadcast(key_df), key_cols, "leftsemi")
    per_file = (
        matched.groupBy("_dv_file")
        .agg(F.sort_array(F.collect_list("_dv_pos")).alias("positions"))
        .collect()  # METADATA-altitude: one row per touched file; the
        # positions payload is O(|deleted rows|), the exact bytes any
        # Delta DV writer materializes driver-side to build the bitmaps
    )
    if not per_file:
        return snap["version"]  # no key matched: nothing to commit
    new_positions = {
        r["_dv_file"]: sorted(
            set(existing.get(r["_dv_file"], ())) | set(r["positions"])
        )
        for r in per_file
    }
    # the log-path string for each file: relative under the table root,
    # the clone's absolute reference otherwise (must match the original
    # add's string exactly, or the remove cannot net it out). The DV
    # BIN file itself always lands under THIS table's root — erasing
    # from a clone never writes a byte into the source.
    root = os.path.abspath(table) + os.sep
    def _lp(f: str) -> str:
        a = os.path.abspath(f)
        return os.path.relpath(f, table) if a.startswith(root) else a
    by_uri = {
        _file_uri(f): (os.path.abspath(f), _lp(f)) for f in files
    }
    _, descriptors = dvcodec.write_dv_file(
        table, {by_uri[f][1]: ps for f, ps in new_positions.items()}
    )

    cdc_actions: list[dict] = []
    if change_data:
        deleted = matched.select(
            *_pcol_cast_cols(full, pcols)
        ).withColumn("_change_type", F.lit("delete"))
        cdc_actions = _write_change_data(table, snap, deleted, version)

    now_ms = int(time.time() * 1000)
    stats_uri = {
        _file_uri(f): s for f, s in snap["file_stats"].items()
    }
    rowmeta_uri = {
        _file_uri(f): m for f, m in snap["file_row_meta"].items()
    }
    def _pvals(rel: str) -> dict[str, str]:
        # trailing-segment parse resolves table-local relative paths
        # AND a clone's source-absolute references identically
        return _file_pvals(rel) if pcols else {}

    removes = _remove_actions(
        table,
        [by_uri[uri][0] for uri in sorted(new_positions)],
        pcols, now_ms,
        dvs={os.path.abspath(f): d for f, d in snap["file_dvs"].items()},
    )
    adds: list[dict] = []
    for uri in sorted(new_positions):
        abs_f, rel = by_uri[uri]
        add = {
            "path": quote(rel),
            "partitionValues": _pvals(rel),
            "size": os.path.getsize(abs_f),
            "modificationTime": now_ms,
            "dataChange": True,
            "deletionVector": descriptors[rel],
        }
        if stats_uri.get(uri):
            # min/max/nullCount stay valid (DVs only hide rows —
            # skipping is a superset guarantee); numRecords becomes an
            # upper bound, which the protocol accepts alongside a DV
            add["stats"] = stats_uri[uri]
        rm = rowmeta_uri.get(uri)
        if rm and rm.get("baseRowId") is not None:
            # the SAME physical file re-enters the snapshot: its row
            # ids survive (the rowTracking preservation rule) — only
            # never-stamped files fall through to fresh assignment
            add["baseRowId"] = rm["baseRowId"]
            add["defaultRowCommitVersion"] = rm.get(
                "defaultRowCommitVersion"
            )
        adds.append({"add": add})
    actions = (
        [_protocol_with(
            snap, writer={"deletionVectors"}, reader={"deletionVectors"}
        )]
        + cdc_actions
        + removes
        + _stamp_row_tracking(snap, version, adds)
    )
    return _commit(
        table, version, actions, "DELETE",
        {
            "predicate": " AND ".join(
                f"target.{k} = source.{k}" for k in key_cols
            ),
            "mode": "merge-on-read",
        },
        now_ms,
    )


def restore_delta(
    spark: SparkSession,
    table: str,
    to_version: int,
    change_data: bool = False,
) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` on a real-format Delta
    table: publish ONE commit whose net effect makes the latest
    snapshot's file set equal ``to_version``'s — ``add`` actions for
    files live then but not now, ``remove`` actions for files live now
    but not then. Pure metadata: no data file is read or written (the
    restored files are the originals still on disk), which is why Delta
    RESTORE is O(|file-set diff|) regardless of table size. History is
    preserved — RESTORE is a new commit on top, never a log rewind, so
    time travel to the pre-restore state keeps working (the reference's
    delta-rs tables get this contract from the same protocol,
    collector.py:219-226 via ``deltalake~=0.13``).

    Restored files that were VACUUMed away in the meantime cannot come
    back; that is detected up front and refused loudly
    (``DeltaProtocolError``), matching delta-spark's
    ``missing files`` RESTORE error rather than publishing a commit
    that can never be scanned.

    ``change_data=True`` additionally captures the restore's CDF at
    Delta's file granularity: rows of re-added files as ``insert``
    change rows and rows of dropped files as ``delete`` preimages
    (delta-spark computes RESTORE CDF from exactly this file diff).
    O(|changed files|), not O(table).
    """
    cur = snapshot(table)
    _check_writer_protocol(cur, "RESTORE", removes_data=True,
                            identity_ok=True)
    change_data = change_data or _cdf_obligated(cur)
    target = snapshot(table, to_version)
    if target["schema"] != cur["schema"]:
        raise DeltaProtocolError(
            "RESTORE across a schema change is not supported: version "
            f"{to_version} schema differs from latest"
        )
    version = cur["version"] + 1

    def _file_map(snap: dict) -> dict[str, dict | None]:
        """log path → deletionVector descriptor (None when the file has
        no DV). The DV is part of file identity for the restore diff: a
        file whose path survived but whose DV changed must be
        remove+re-added with the TARGET's descriptor, or the restored
        snapshot silently keeps the wrong deletion state. Keys are the
        LOG path strings (relative under the root, a clone's absolute
        references verbatim), so the diff nets correctly on clones and
        ``os.path.join(table, key)`` resolves either form."""
        root = os.path.abspath(table) + os.sep
        dvs = {os.path.abspath(f): d for f, d in snap["file_dvs"].items()}
        return {
            (
                os.path.relpath(f, table)
                if os.path.abspath(f).startswith(root)
                else os.path.abspath(f)
            ): dvs.get(os.path.abspath(f))
            for f in snap["files"]
        }

    cur_map = _file_map(cur)
    target_map = _file_map(target)
    _SENTINEL = object()
    to_add = sorted(
        p for p, dv in target_map.items() if cur_map.get(p, _SENTINEL) != dv
    )
    to_remove = sorted(
        p
        for p, dv in cur_map.items()
        if target_map.get(p, _SENTINEL) != dv
    )
    dv_involved = any(target_map[p] for p in to_add) or any(
        cur_map[p] for p in to_remove
    )
    missing = [p for p in to_add if not os.path.exists(os.path.join(table, p))]
    if not missing:
        # the target's DV files must also still exist (VACUUM ages them
        # out with their versions)
        from acero_delta_lake_streaming_spark.storage import dvcodec

        for p in to_add:
            if target_map[p]:
                rel = dvcodec.dv_relative_path(target_map[p])
                if rel and not os.path.exists(os.path.join(table, rel)):
                    missing.append(rel)
    if missing:
        raise DeltaProtocolError(
            f"RESTORE to version {to_version} needs {len(missing)} data "
            f"file(s) already removed by VACUUM (e.g. {missing[0]!r}); "
            "the snapshot is unrecoverable"
        )

    pcols = cur["partition_cols"]

    def _pvals(rel: str) -> dict[str, str]:
        # trailing-segment parse resolves table-local relative paths
        # AND a clone's source-absolute references identically
        return _file_pvals(rel) if pcols else {}

    cdc_actions: list[dict] = []
    if change_data and (to_add or to_remove):
        if dv_involved:
            raise DeltaProtocolError(
                "RESTORE change-data capture across deletion-vector "
                "commits is not supported (the file-granular CDF would "
                "ignore the vectors); restore without capture instead"
            )
        full = T.StructType.fromJson(json.loads(cur["schema"]))
        import pyspark.sql.functions as F

        mode = _mapping_mode(cur)

        def _cdf_read(paths: list[str]) -> DataFrame:
            # the same scan shapes every verb uses: mapped files carry
            # physical names, partitioned files recover their values
            # from the hive dirs (root-grouped for clone references)
            files = [os.path.join(table, p) for p in paths]
            if mode != "none":
                if pcols:
                    return _read_mapped_partitioned(
                        spark, table, dict(cur, files=files, file_dvs={}),
                        {},
                    )
                return _read_with_mapping(
                    spark, files, cur["schema"],
                    _id_physical_names(cur["schema"], files)
                    if mode == "id"
                    else None,
                )
            if pcols:
                data_schema = T.StructType(
                    [f for f in full.fields if f.name not in pcols]
                )
                return _grouped_part_read(
                    spark, table, files, data_schema
                ).select(_pcol_cast_cols(full, pcols))
            return spark.read.schema(full).parquet(*files)

        frames = []
        if to_add:
            frames.append(
                _cdf_read(to_add).withColumn("_change_type",
                                             F.lit("insert"))
            )
        if to_remove:
            frames.append(
                _cdf_read(to_remove).withColumn("_change_type",
                                                F.lit("delete"))
            )
        changes = frames[0]
        for fr in frames[1:]:
            changes = changes.unionByName(fr)
        cdc_actions = _write_change_data(table, cur, changes, version)

    now_ms = int(time.time() * 1000)

    def _restore_add(p: str) -> dict:
        abs_p = os.path.join(table, p)
        add = {
            "path": quote(p),
            "partitionValues": _pvals(p),
            "size": os.path.getsize(abs_p),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        stats = target["file_stats"].get(abs_p)
        if stats:
            add["stats"] = stats
        if target_map[p]:
            add["deletionVector"] = target_map[p]
        rm = (target.get("file_row_meta") or {}).get(abs_p)
        if rm and rm.get("baseRowId") is not None:
            # a restored file is the SAME bytes coming back: its row
            # ids come back with it (never re-assigned)
            add["baseRowId"] = rm["baseRowId"]
            add["defaultRowCommitVersion"] = rm.get(
                "defaultRowCommitVersion"
            )
        return add

    # removes BEFORE adds: a path whose DV changed appears in both
    # lists, and replay must net to the re-added (target) entry
    actions = (
        cdc_actions
        + _remove_actions(
            table, [os.path.join(table, p) for p in to_remove], pcols,
            now_ms,
        )
        + _stamp_row_tracking(
            cur, version, [{"add": _restore_add(p)} for p in to_add]
        )
    )
    return _commit(
        table, version, actions, "RESTORE", {"version": to_version}, now_ms
    )


def _has_external_files(snap: dict, table: str) -> bool:
    """True if any live file lives OUTSIDE the table root — the shallow
    clone case, where adds carry absolute paths into the source table."""
    root = os.path.abspath(table) + os.sep
    return any(not os.path.abspath(f).startswith(root) for f in snap["files"])


def _log_path(table: str, f: str) -> str:
    """The quoted ``path`` string an add/remove action must carry for
    file ``f`` of ``table``: relative for files under the table root,
    the ABSOLUTE path for a shallow clone's external references (Delta
    allows absolute paths; a remove only nets out the clone's add if it
    keys EXACTLY the string the add used — clone_delta writes
    quote(abspath), so this does too)."""
    a = os.path.abspath(f)
    root = os.path.abspath(table) + os.sep
    if a.startswith(root):
        return quote(os.path.relpath(f, table))
    return quote(a)


def clone_delta(table: str, target: str) -> int:
    """Shallow CLONE (``CREATE TABLE ... SHALLOW CLONE src``): create a
    NEW Delta table whose version-0 log references the source's live
    data files by ABSOLUTE path — zero data copied, O(|files|) metadata,
    which is how a 100 TB table forks for an experiment in seconds. The
    clone gets its own table id and its own history: appends land in the
    clone's directory and diverge it; the source never sees them. VACUUM
    on the clone walks only the clone's root, so source files are safe
    by construction. Deletion vectors carry over as ``storageType "p"``
    (absolute-path) descriptors pointing at the source's DV files.

    delta-spark semantics notes: later changes to the SOURCE (vacuum
    included) can break a shallow clone — same here, and exactly why
    ``vacuum_delta`` on the source doesn't know about clones.
    Hive-partitioned sources clone too: the external adds carry their
    ``partitionValues`` (parsed from the source's hive segments) and
    every partition-recovering scan groups its basePath by root, so
    the source's absolute layout and the clone's own appends read in
    one plan (one extra union branch per ROOT, never per file)."""
    snap = snapshot(table)
    if snap["partition_cols"]:
        for p in snap["partition_cols"]:
            seg = f"{p}="
            if not all(seg in f for f in snap["files"]):
                raise DeltaProtocolError(
                    "shallow clone of a partitioned table requires the "
                    "hive directory layout (col=value/ segments)"
                )
    # cloning a clone is fine: external references are ALREADY
    # absolute (they copy through verbatim), local files absolutize
    # against this root, and the root-grouped reads union one branch
    # per distinct ancestor — a depth-k clone chain costs k scan
    # branches, not k data copies
    if os.path.exists(_log_dir(target)):
        raise DeltaProtocolError(f"clone target {target} already exists")
    os.makedirs(_log_dir(target), exist_ok=True)
    now_ms = int(time.time() * 1000)
    dvs_abs = {os.path.abspath(f): d for f, d in snap["file_dvs"].items()}
    has_dv = any(os.path.abspath(f) in dvs_abs for f in snap["files"])
    # The clone CARRIES the source protocol — feature-bound
    # configuration (delta.checkpointPolicy=v2, in-commit timestamps,
    # column mapping) copied without its features would produce a
    # self-inconsistent table whose guarantees silently die. A
    # DV-bearing file set additionally forces the feature form.
    src_proto = snap.get("protocol") or {}
    r = src_proto.get("minReaderVersion", 1)
    w = src_proto.get("minWriterVersion", 2)
    if has_dv or w == 7 or r == 3:
        # table-features form; the reader moves to 3 only when a reader
        # feature is actually demanded (DVs, or legacy reader 2's column
        # mapping made explicit) — a writer-features-only source, e.g.
        # an ICT table, must stay readable at its legacy reader level
        dv_feat = {"deletionVectors"} if has_dv else set()
        protocol = _protocol_with(
            snap, writer=dv_feat,
            reader=dv_feat | ({"columnMapping"} if r == 2 else set()),
        )
    else:
        protocol = {
            "protocol": dict(src_proto)
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        }
    cfg = dict(snap["configuration"])
    ict = None
    if cfg.get("delta.enableInCommitTimestamps", "").lower() == "true":
        # the clone is a NEW table: its timestamp chain anchors HERE,
        # and the enablement bookkeeping re-points at the clone's own
        # version 0 (source-relative versions would be meaningless)
        ict = max(now_ms, _commit_timestamp_ms(table, snap["version"]) + 1)
        cfg["delta.inCommitTimestampEnablementVersion"] = "0"
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
    actions: list[dict] = [
        protocol,
        # a clone is a NEW table: a fresh table id
        _metadata_action(dict(snap, meta_id=None), now_ms, configuration=cfg),
    ]
    from acero_delta_lake_streaming_spark.storage import dvcodec

    for f in sorted(snap["files"]):
        abs_f = os.path.abspath(f)
        add = {
            "path": quote(abs_f),
            "partitionValues": (
                _file_pvals(abs_f) if snap["partition_cols"] else {}
            ),
            "size": os.path.getsize(abs_f),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        stats = snap["file_stats"].get(f)
        if stats:
            add["stats"] = stats
        rm = snap["file_row_meta"].get(f)
        if rm:
            # the same bytes under a new table id: their row ids (and
            # row commit versions) come with them, never re-assigned
            add["baseRowId"] = rm["baseRowId"]
            add["defaultRowCommitVersion"] = rm["defaultRowCommitVersion"]
        dv = dvs_abs.get(abs_f)
        if dv:
            rel = dvcodec.dv_relative_path(dv)
            if rel is None:
                # inline descriptor (storageType 'i'): the bitmap lives
                # in the descriptor itself, nothing to re-path — copy
                # through unchanged
                add["deletionVector"] = dict(dv)
            else:
                add["deletionVector"] = dict(
                    dv,
                    storageType="p",
                    pathOrInlineDv=os.path.abspath(os.path.join(table, rel)),
                )
        actions.append({"add": add})
    # live domains describe the carried files and features (the
    # row-id high-water mark keeps the carried ids reserved, the
    # clustering columns keep OPTIMIZE reclustering), so they come too
    for domain, conf in sorted(snap["domain_metadata"].items()):
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": conf,
                    "removed": False,
                }
            }
        )
    return _commit(
        target, 0, actions, "CLONE", {"source": os.path.abspath(table)},
        now_ms, ict=ict,
    )


def read_delta_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read over a real-format Delta log: row-level
    changes for every data-changing commit in ``[from_version,
    to_version]`` with ``_change_type`` and ``_commit_version`` columns
    (delta-spark's ``table_changes`` shape).

    Per version: published ``cdc`` actions are read directly; an
    append-style commit (adds with ``dataChange:true``, no data-changing
    removes) synthesizes inserts from its data files; a commit that
    removed data without captured change files raises
    :class:`ChangeDataUnavailableError`. Commits whose actions
    are all ``dataChange:false`` (OPTIMIZE) contribute nothing, exactly
    like Delta's CDF."""
    import pyspark.sql.functions as F

    if not is_delta_table(table):
        raise DeltaCorruptLogError(f"{table} has no {_LOG_DIR} directory")
    versions = [
        v
        for v in _list_commit_versions(table)
        if v >= from_version and (to_version is None or v <= to_version)
    ]
    parts: list[DataFrame] = []
    for v in versions:
        cdc_paths: list[str] = []
        add_paths: list[str] = []
        data_removes = False
        for action in _log_actions(_commit_path(table, v)):
            if "cdc" in action:
                cdc_paths.append(unquote(action["cdc"]["path"]))
            elif "add" in action and action["add"].get("dataChange", True):
                add_paths.append(unquote(action["add"]["path"]))
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                data_removes = True
        if cdc_paths:
            # Change files of a partitioned table live in hive dirs
            # under _change_data/ and carry only the non-partition
            # columns; recover partition columns via basePath exactly
            # like the table read does.
            snap_v = snapshot(table, v)
            full = T.StructType.fromJson(json.loads(snap_v["schema"]))
            pcols = snap_v["partition_cols"]
            files = [os.path.join(table, p) for p in cdc_paths]
            ct_field = T.StructField("_change_type", T.StringType())
            if _mapping_mode(snap_v) != "none":
                # mapped change files carry PHYSICAL data columns plus
                # a literal _change_type; project back to logical names
                # exactly like the table scan. id mode resolves from
                # the change files' own footers — they were written
                # with the table's footer-resolved names, which may
                # legitimately differ from the metadata physicalName.
                # Partitioned: the change files mirror the table's hive
                # layout under _change_data/ with PHYSICAL dir names
                if pcols:
                    phys_of = _mapped_part_binding(snap_v, files)
                    data_fields = [
                        dict(f, name=phys_of[f["name"]], metadata={})
                        for f in json.loads(snap_v["schema"])["fields"]
                        if phys_of[f["name"]] not in set(pcols)
                    ]
                    cdc_schema = T.StructType.fromJson(
                        {"type": "struct", "fields": data_fields}
                    ).add(ct_field)
                    part = (
                        spark.read.option(
                            "basePath",
                            os.path.join(table, "_change_data"),
                        )
                        .schema(cdc_schema)
                        .parquet(*files)
                        .select(
                            _mapped_logical_cols(snap_v, phys_of)
                            + [F.col("_change_type")]
                        )
                    )
                else:
                    phys_of = (
                        _id_physical_names(snap_v["schema"], files)
                        if _mapping_mode(snap_v) == "id"
                        else {
                            l: p
                            for p, l in _physical_renames(snap_v["schema"])
                        }
                    )
                    phys_fields = [
                        dict(f, name=phys_of[f["name"]], metadata={})
                        for f in json.loads(snap_v["schema"])["fields"]
                    ]
                    cdc_schema = T.StructType.fromJson(
                        {"type": "struct", "fields": phys_fields}
                    ).add(ct_field)
                    part = (
                        spark.read.schema(cdc_schema)
                        .parquet(*files)
                        .select(
                            [
                                F.col(phys_of[f.name]).alias(f.name)
                                for f in full.fields
                            ]
                            + [F.col("_change_type")]
                        )
                    )
            elif pcols:
                cdc_schema = T.StructType(
                    [f for f in full.fields if f.name not in pcols]
                    + [ct_field]
                )
                part = (
                    spark.read.option(
                        "basePath", os.path.join(table, "_change_data")
                    )
                    .schema(cdc_schema)
                    .parquet(*files)
                    .select(
                        [f.name for f in full.fields] + ["_change_type"]
                    )
                )
            else:
                part = spark.read.schema(
                    T.StructType(list(full.fields) + [ct_field])
                ).parquet(*files)
        elif data_removes:
            raise ChangeDataUnavailableError(
                f"{table} version {v}: data-changing commit without "
                "captured change files (merge_delta(change_data=True))"
            )
        elif add_paths:
            # Synthesized inserts must carry the FULL log schema. On a
            # hive-partitioned table the data files hold only the
            # non-partition columns — reading them bare would silently
            # drop the partition columns from the change rows, so
            # recover them via basePath exactly as read_delta does.
            snap_v = snapshot(table, v)
            full = T.StructType.fromJson(json.loads(snap_v["schema"]))
            pcols = snap_v["partition_cols"]
            files = [os.path.join(table, p) for p in add_paths]
            if _mapping_mode(snap_v) != "none":
                # mapped appends wrote physical names; synthesize the
                # inserts through the same physical→logical projection
                # (partitioned: basePath-recover the physical dirs)
                if pcols:
                    part = _read_mapped_partitioned(
                        spark, table, dict(snap_v, files=files), {}
                    )
                else:
                    part = _read_with_mapping(
                        spark, files, snap_v["schema"],
                        _id_physical_names(snap_v["schema"], files)
                        if _mapping_mode(snap_v) == "id"
                        else None,
                    )
            elif pcols:
                data_schema = T.StructType(
                    [f for f in full.fields if f.name not in pcols]
                )
                part = (
                    spark.read.option("basePath", table)
                    .schema(data_schema)
                    .parquet(*files)
                    .select([f.name for f in full.fields])
                )
            else:
                part = spark.read.schema(full).parquet(*files)
            part = part.withColumn("_change_type", F.lit("insert"))
        else:
            continue  # metadata-only or dataChange:false (OPTIMIZE)
        parts.append(
            part.withColumn("_commit_version", F.lit(v).cast("bigint"))
        )
    if not parts:
        raise ChangeDataUnavailableError(
            f"{table}: no data-changing commits in "
            f"[{from_version}, {to_version}]"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def follow_delta_changes(
    spark: SparkSession,
    table: str,
    apply_fn,
    *,
    start_version: int = 0,
    max_cycles: int | None = None,
    interval_s: float = 30.0,
    sleep_fn=None,
) -> int:
    """CDC follower over a Delta log: poll the commit log, hand
    each batch of newly committed versions to ``apply_fn(changes_df,
    from_v, to_v)`` exactly once in commit order, return the cursor
    (next unapplied version). Ranges holding only metadata /
    dataChange:false commits (OPTIMIZE, ADD CONSTRAINT) advance the
    cursor without an apply — a follower must skip those, not error,
    or it wedges behind every compaction."""
    import time as _time

    sleep_fn = sleep_fn or _time.sleep
    cursor = start_version
    cycle = 0
    while True:
        versions = _list_commit_versions(table)
        latest = versions[-1] if versions else -1
        if latest >= cursor:
            try:
                changes = read_delta_changes(spark, table, cursor, latest)
                apply_fn(changes, cursor, latest)
            except ChangeDataUnavailableError as exc:
                if "no data-changing commits" not in str(exc):
                    raise  # uncaptured data change: surface, don't skip
            cursor = latest + 1
        cycle += 1
        if max_cycles is not None and cycle >= max_cycles:
            return cursor
        sleep_fn(interval_s)


def follow_delta_appends(
    spark: SparkSession,
    table: str,
    apply_fn,
    *,
    start_version: int = 0,
    start_epoch: int = 0,
    max_files_per_trigger: int = 1000,
    max_bytes_per_trigger: int | None = None,
    on_data_change: str = "error",
    max_cycles: int | None = None,
    interval_s: float = 30.0,
    sleep_fn=None,
) -> tuple[int, int]:
    """Tail a REAL Delta log as a rate-limited APPEND stream — the
    plain-add half of the follower pair (``follow_delta_changes`` is
    the CDC half): delta-spark's ``readStream.format("delta")`` with
    ``maxFilesPerTrigger`` semantics re-expressed over the protocol
    log. Per cycle, the newly committed versions' ``add`` actions are
    consumed IN VERSION ORDER (path-sorted within a version — the
    deterministic admission order), chunked into micro-batches of at
    most ``max_files_per_trigger`` files and — when
    ``max_bytes_per_trigger`` is set — roughly that many bytes per
    epoch (soft max from the adds' recorded sizes: the file that
    crosses the limit is still admitted, and every epoch admits at
    least one file — delta-spark's semantics for the option pair).
    A large commit spans several epochs; a batch may also span
    commits, exactly delta-spark's admission control. Each chunk is
    handed to
    ``apply_fn(batch_df, epoch_id)`` with a monotonically increasing
    epoch. Pair it with :func:`streaming_sink` and the ``txn`` ledger
    makes the whole pipe exactly-once: a crash-replayed epoch no-ops
    at the sink instead of double-appending.

    ``dataChange: false`` commits (OPTIMIZE, clustering) are invisible
    — their adds are re-arranged state, not news, so a mid-stream
    compaction must not re-emit rows. A ``dataChange: true`` REMOVE
    (MERGE/DELETE/overwrite rewrote data) is not an append:
    ``on_data_change='error'`` (default) raises — delta-spark's
    streaming-source contract — while ``'skip'`` drops that ENTIRE
    commit, adds included (``skipChangeCommits``; the rewritten adds
    carry pre-existing rows, so admitting them would re-emit).

    Partitioned sources admit through the same queue — each chunk
    reads via the partition-recovering grouped scan (hive ``col=value``
    directories, values cast back to the LOG schema's types), so a
    partitioned bronze table tails exactly like a flat one. Column-
    mapped sources (name and id mode) scan each chunk under the
    PHYSICAL schema and project back to logical names — id mode
    resolves parquet footer field ids over exactly the chunk's files;
    batches always arrive under logical names. Mapped × partitioned
    composes too: the chunk reads through the mapped-partitioned scan
    (physical ``col=value/`` dirs, values cast to the LOG types,
    renamed to logical). Epochs read under the LOG schema at the
    cycle's head — authoritative, no footer inference. Returns
    ``(next_version, next_epoch)`` so a restart resumes both cursors.

    Reference anchor: the incremental feed→table tail loop in
    collector.py:40-74 (poll, consume only the new slice, append
    downstream), upgraded to version-ordered log admission."""
    import time as _time

    sleep_fn = sleep_fn or _time.sleep
    if max_files_per_trigger < 1:
        raise ValueError("max_files_per_trigger must be >= 1")
    if on_data_change not in ("error", "skip"):
        raise ValueError("on_data_change must be 'error' or 'skip'")
    cursor = start_version
    epoch = start_epoch
    cycle = 0
    while True:
        all_versions = _list_commit_versions(table)
        versions = [v for v in all_versions if v >= cursor]
        if versions:
            if versions[0] > cursor and all_versions and (
                all_versions[0] > cursor
            ):
                # the cursor points below the retained log: the
                # commits between it and the retention floor were
                # cleaned (cleanup_log / logRetentionDuration), so
                # their add-action feed is unrecoverable — failing
                # loudly beats silently skipping shipped data
                raise DeltaProtocolError(
                    f"follow_delta_appends: versions [{cursor}, "
                    f"{versions[0]}) of {table} were cleaned from the "
                    "log; the tail cannot resume exactly-once — "
                    "restart from a full snapshot"
                )
            snap = snapshot(table)  # protocol gate + authoritative schema
            mode = _mapping_mode(snap)
            full = T.StructType.fromJson(json.loads(snap["schema"]))
            pcols = snap["partition_cols"]
            queue: list[tuple[str, int]] = []
            for v in versions:
                adds: list[tuple[str, int]] = []
                changed_removes = False
                for action in _log_actions(_commit_path(table, v)):
                    if "add" in action and action["add"].get(
                        "dataChange", True
                    ):
                        # paths are URL-encoded in the log (spec); hive
                        # dirs live decoded on disk
                        adds.append(
                            (
                                unquote(action["add"]["path"]),
                                int(action["add"].get("size", 0)),
                            )
                        )
                    if "remove" in action and action["remove"].get(
                        "dataChange", True
                    ):
                        changed_removes = True
                if changed_removes:
                    if on_data_change == "error":
                        raise DeltaProtocolError(
                            f"follow_delta_appends: version {v} of "
                            f"{table} rewrote existing data "
                            "(dataChange remove); this source is "
                            "append-only — use follow_delta_changes "
                            "or on_data_change='skip'"
                        )
                    continue  # skipChangeCommits: whole commit invisible
                queue.extend(
                    (os.path.join(table, p), sz)
                    for p, sz in sorted(adds)
                )
            data_schema = T.StructType(
                [f for f in full.fields if f.name not in pcols]
            )
            # admission: up to max_files files AND, when set, stop
            # admitting once cumulative bytes have reached max_bytes —
            # the file that crosses the limit is still admitted, and
            # every epoch admits at least one file (delta-spark's
            # maxBytesPerTrigger soft-max semantics)
            chunks: list[list[str]] = []
            cur_chunk: list[str] = []
            cur_bytes = 0
            for path, sz in queue:
                if cur_chunk and (
                    len(cur_chunk) >= max_files_per_trigger
                    or (
                        max_bytes_per_trigger is not None
                        and cur_bytes >= max_bytes_per_trigger
                    )
                ):
                    chunks.append(cur_chunk)
                    cur_chunk, cur_bytes = [], 0
                cur_chunk.append(path)
                cur_bytes += sz
            if cur_chunk:
                chunks.append(cur_chunk)
            for chunk in chunks:
                if pcols and mode != "none":
                    # the protocol keys partition dirs by PHYSICAL
                    # names under mapping; the mapped-partitioned scan
                    # owns that composition — bind over the chunk
                    batch = _read_mapped_partitioned(
                        spark, table, dict(snap, files=chunk), {}
                    )
                elif pcols:
                    for p in pcols:
                        if not all(f"{p}=" in f for f in chunk):
                            raise DeltaProtocolError(
                                "follow_delta_appends: partitioned "
                                "table without hive directory layout"
                            )
                    batch = _grouped_part_read(
                        spark, table, chunk, data_schema
                    ).select(_pcol_cast_cols(full, pcols))
                elif mode != "none":
                    phys_of = None
                    if mode == "id":
                        # footer field ids over exactly this chunk
                        phys_of = _id_physical_names(
                            snap["schema"], chunk
                        )
                    batch = _read_with_mapping(
                        spark, chunk, snap["schema"], phys_of
                    )
                else:
                    batch = spark.read.schema(full).parquet(*chunk)
                apply_fn(batch, epoch)
                epoch += 1
            cursor = versions[-1] + 1
        cycle += 1
        if max_cycles is not None and cycle >= max_cycles:
            return cursor, epoch
        sleep_fn(interval_s)


def vacuum_delta(
    table: str,
    keep_versions: int = 0,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM for a real-format Delta table: delete data files that are
    referenced ONLY by snapshots older than ``latest - keep_versions``
    (plus uncommitted orphans from crashed writers). Time travel to
    vacuumed versions stops working — exactly Delta's retention trade.
    ``min_age_s`` is the safety window for concurrent writers whose
    data files land before their commit file does.

    Returns deleted paths relative to the table root. The log itself is
    never touched (Delta keeps history metadata; only data files age
    out). Change-data files follow the same retention as snapshots:
    ``cdc`` files of commits within the retention window stay readable
    (``read_delta_changes`` keeps working for retained versions), while
    change files of vacuumed-away versions age out with their data —
    Delta's CDF retention contract."""
    # the vacuumProtocolCheck feature's exact obligation: VACUUM must
    # run the full reader+writer protocol gate before deleting a byte
    # (a vacuum that ignores an unknown feature could delete files the
    # feature makes load-bearing); running it unconditionally is
    # correct for non-feature tables too
    head = snapshot(table)
    _check_writer_protocol(head, "VACUUM", identity_ok=True)
    latest = head["version"]
    referenced: set[str] = set()
    retained_from = max(0, latest - keep_versions)
    from acero_delta_lake_streaming_spark.storage import dvcodec

    for v in range(retained_from, latest + 1):
        try:
            snap_v = snapshot(table, v)
            referenced.update(os.path.abspath(f) for f in snap_v["files"])
            # deletion-vector files of retained snapshots must survive:
            # deleting one would resurrect rows on the next read
            for desc in snap_v["file_dvs"].values():
                rel = dvcodec.dv_relative_path(desc)
                if rel:
                    referenced.add(os.path.abspath(os.path.join(table, rel)))
        except DeltaCorruptLogError:
            continue  # pre-checkpoint version no longer reconstructable
        # cdc change files are never in any snapshot's file list
        # (dataChange:false, state-invisible) — reference them explicitly
        # for retained versions or this walk would delete the CDF of
        # fully-retained merge commits.
        try:
            for action in _log_actions(_commit_path(table, v)):
                if "cdc" in action:
                    referenced.add(
                        os.path.abspath(
                            os.path.join(table, unquote(action["cdc"]["path"]))
                        )
                    )
        except FileNotFoundError:
            continue
    now = time.time()
    deleted = []
    for dirpath, dirs, names in os.walk(table):
        # never touch the transaction log or in-flight staging dirs
        dirs[:] = [
            d for d in dirs
            if d != "_delta_log" and not d.startswith("_staging_")
        ]
        for name in names:
            is_dv = name.startswith("deletion_vector_") and name.endswith(
                ".bin"
            )
            if not (name.endswith(".parquet") or is_dv):
                continue
            path = os.path.join(dirpath, name)
            if os.path.abspath(path) in referenced:
                continue
            if now - os.path.getmtime(path) < min_age_s:
                continue
            if not dry_run:
                os.remove(path)
            deleted.append(os.path.relpath(path, table))
    return sorted(deleted)


def cleanup_log(table: str, keep_versions: int = 0) -> list[str]:
    """Delta's metadata-retention twin of VACUUM
    (``delta.logRetentionDuration``): delete JSON commit files OLDER
    than the newest checkpoint that still covers the retained window —
    the checkpoint replaces them for replay, so snapshot reconstruction
    of every retained version keeps working while the log directory
    stops growing without bound (at one commit per minute a year is
    ~500k JSON files; the checkpoint + a bounded tail is the steady
    state delta-spark maintains).

    ``keep_versions`` retains time travel to ``latest - keep_versions``
    (a commit is deletable only if some checkpoint at or before the
    retention floor supersedes it). Never deletes checkpoints, the
    ``_last_checkpoint`` pointer, or any commit at/after the floor, and
    refuses nothing: with no qualifying checkpoint it is a no-op.
    Returns the deleted file names.

    Honors the ``checkpointProtection`` table feature: when the table
    sets ``delta.requireCheckpointProtectionBeforeVersion = N``, log
    entries below N may only disappear in a sweep whose superseding
    checkpoint is at or past N — a cleanup that would leave replay of
    some version < N depending on an unprotected reconstruction is
    skipped entirely (no-op, never a partial delete)."""
    snap = snapshot(table)
    latest = snap["version"]
    floor = max(0, latest - keep_versions)
    protect_before = int(
        snap["configuration"].get(
            "delta.requireCheckpointProtectionBeforeVersion", 0
        )
    )
    # newest usable checkpoint at or below the retention floor:
    # versions < it are reconstructable from it, so their JSON may go
    ckpt = _checkpoint_version(table, floor)
    if ckpt is None:
        return []
    if ckpt < protect_before:
        # checkpointProtection: removing commits < N is only legal when
        # the checkpoint that supersedes them is itself at/past N
        return []
    deleted = []
    for v in _list_commit_versions(table):
        if v < ckpt:
            os.remove(_commit_path(table, v))
            deleted.append(f"{v:020d}.json")
            # the per-commit checksum ages with its commit (delta-spark
            # metadata cleanup removes both together); the return stays
            # commit-file names only (the documented contract)
            try:
                os.remove(_crc_path(table, v))
            except FileNotFoundError:
                pass
    return deleted


def compact_log_range(table: str, start: int, end: int) -> str:
    """Write a LOG COMPACTION FILE (the Delta spec's
    ``<x>.<y>.compacted.json``): one JSON holding the reconciled state
    change of commits ``start..end``, which replay may substitute for
    reading the range's individual commit files. Reconciliation is the
    replay identity — applying the compacted file to any state equals
    applying the commits in order: the LAST file action per path (an
    add later removed in-range compacts to the remove tombstone; a
    re-add keeps its final descriptor, DVs and rowTracking columns
    included), the latest protocol/metaData if any appeared, the
    latest ``txn`` per appId, the latest ``domainMetadata`` per
    domain. ``commitInfo`` and ``cdc`` actions are NOT carried — they
    are per-commit history (CDF readers and timestamp resolution read
    the real commits, which compaction never deletes; only
    checkpoint-based ``cleanup_log`` removes commits).

    At 100 TB-table commit rates this is the mid-ground between raw
    JSON replay (O(commits) small reads at every snapshot) and a full
    checkpoint (O(live files) to write): a compaction over the tail
    costs O(tail commits) to produce and collapses every subsequent
    replay's tail to one read. Refuses when any commit in the range is
    missing (an unreconstructable range must not be papered over) or
    when the range is empty/inverted. Returns the file name."""
    if start > end:
        raise ValueError(f"compact_log_range: {start} > {end}")
    existing = set(_list_commit_versions(table))
    missing = [v for v in range(start, end + 1) if v not in existing]
    if missing:
        raise DeltaProtocolError(
            f"compact_log_range: commits missing from log: {missing}"
        )
    proto = None
    meta = None
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    last_file: dict[str, dict] = {}
    for v in range(start, end + 1):
        for action in _log_actions(_commit_path(table, v)):
            if "protocol" in action:
                proto = action
            elif "metaData" in action:
                meta = action
            elif "add" in action:
                last_file[unquote(action["add"]["path"])] = action
            elif "remove" in action:
                last_file[unquote(action["remove"]["path"])] = action
            elif "txn" in action:
                txns[action["txn"].get("appId", "")] = action
            elif "domainMetadata" in action:
                domains[action["domainMetadata"].get("domain", "")] = action
            # commitInfo / cdc: per-commit history, never compacted
    actions = (
        ([proto] if proto else [])
        + ([meta] if meta else [])
        + [txns[k] for k in sorted(txns)]
        + [domains[k] for k in sorted(domains)]
        + [last_file[k] for k in sorted(last_file)]
    )
    name = f"{start:020d}.{end:020d}.compacted.json"
    path = os.path.join(_log_dir(table), name)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ConcurrentDeltaCommitError(
            f"compaction {name} already exists"
        ) from None
    finally:
        os.unlink(tmp)
    return name
