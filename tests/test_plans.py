"""Plan-quality regression guards (SURVEY.md §4, SCALING.md).

The oracle gate proves results; these tests pin the *physical plans* the
scale story depends on. If a refactor reintroduces a cast-wrapped date
predicate, un-broadcasts a dimension, or turns top-k into a global sort,
correctness stays green while 100 TB behavior regresses — this file is
what catches that.
"""

from __future__ import annotations

import pytest

from acero_delta_lake_streaming_spark.operators.dedup import x2_minhash_near_dup
from acero_delta_lake_streaming_spark.operators.relational import (
    flagship_breakdown,
    p1_project,
    t1_topk,
)
from acero_delta_lake_streaming_spark.operators.tpch import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_date_bound_pushed_to_scan(spark, sf_dir):
    plan = _physical(q1_pricing_summary(spark, sf_dir))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and any("l_shipdate" in ln and "PushedFilters: [" in ln for ln in scan)
    # the raw column is compared, not a to_date()-wrapped copy
    assert "cast(l_shipdate" not in plan.lower().replace(" ", "")


def test_q3_q5_broadcast_dimensions(spark, sf_dir):
    for q in (q3_shipping_priority, q5_region_revenue):
        plan = _physical(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q.__name__
        # the fact-fact orderkey join may be sort-merge or shuffled-hash;
        # what must never appear is a cartesian product
        assert "CartesianProduct" not in plan, q.__name__


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _physical(t1_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_projection_prunes_scan(spark, sf_dir):
    plan = _physical(p1_project(spark, sf_dir))
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "l_extendedprice" not in scan and "l_shipdate" not in scan


def test_flagship_semi_joins_broadcast(spark, sf_dir):
    plan = _physical(flagship_breakdown(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_minhash_no_cartesian(spark, sf_dir):
    """The 100 TB trap from VERDICT r1: near-dup candidates must come
    from equi-joins on band keys, never a cross join."""
    plan = _physical(x2_minhash_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_plan_shapes(spark, sf_dir):
    """x11 chunking is a pure map (zero shuffles); x10 contamination
    probes via a BROADCAST of the benchmark gram set (the small side by
    construction — eval sets vs a 100 TB corpus), never a shuffled or
    nested-loop join."""
    from acero_delta_lake_streaming_spark.operators.curation import (
        x10_contamination_check,
        x11_context_chunks,
    )

    plan = _physical(x11_context_chunks(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    plan = _physical(x10_contamination_check(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ud3_single_python_stage(spark, sf_dir):
    """The extraction (= LLM calls in production) must run once: all four
    aggregates come from one mapInPandas stage (VERDICT r2)."""
    from acero_delta_lake_streaming_spark.functions.extract import (
        ud3_quarantine_stats,
    )

    plan = _physical(ud3_quarantine_stats(spark, sf_dir))
    assert plan.count("MapInPandas") == 1


def test_t2_reuses_cached_counts(spark, sf_dir):
    """t2 must derive top-k and breakdown from ONE persisted two-key agg,
    not re-run the fact aggregation (VERDICT r2)."""
    from acero_delta_lake_streaming_spark.operators.relational import (
        t2_topk_breakdown,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    plan = _physical(t2_topk_breakdown(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2
    release_scoped()


def test_scoped_caches_released(spark, sf_dir):
    """The entry wrapper frees the previous query's persisted subplans:
    after release, no scoped DataFrame stays registered and the executor
    storage it held is dropped."""
    import __spark_entry__ as ep

    from acero_delta_lake_streaming_spark.plans import cache

    ep.queries()["x2_minhash_near_dup"](spark, sf_dir).collect()
    assert cache._SCOPED, "x2 should register its shingle cache"
    stored_before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert stored_before >= 1
    n = cache.release_scoped(blocking=True)
    assert n >= 1 and not cache._SCOPED
    stored_after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert stored_after < stored_before


def test_no_collect_in_query_paths():
    """Static guard: no module reachable from queries() materializes
    data to the driver (collect/toPandas) — the s1 feed build, formerly
    the one sanctioned exception, is now a distributed applyInPandas
    write. The storage engine (delta_compat) holds metadata-only
    collects — touched-file discovery for copy-on-write MERGE/DELETE,
    one row per data file, what any Delta client's commit planner
    does — and those are allowlisted line-by-line: every
    ``.collect()`` there must carry a METADATA marker comment; any new
    unmarked collect fails the guard. The medallion's driver route
    (``streaming/ingest.py``) collects an epoch its plan sizes at one
    file split at most, as Arrow: each ``.toArrow()`` line must carry a
    ONE SPLIT marker comment."""
    import inspect

    from acero_delta_lake_streaming_spark.functions import extract
    from acero_delta_lake_streaming_spark.operators import (
        asof,
        curation,
        dedup,
        multimodal,
        relational,
        scrub,
        sessionize,
        similarity,
        sketch,
        text,
        tpch,
        windows,
    )
    from acero_delta_lake_streaming_spark.storage import (
        queries as storage_queries,
    )
    from acero_delta_lake_streaming_spark.streaming import feeds, ingest
    from acero_delta_lake_streaming_spark.streaming import (
        queries as streaming_queries,
    )

    for mod in (relational, tpch, windows, dedup, similarity, text,
                sessionize, multimodal, asof, curation, sketch, scrub,
                extract, storage_queries, streaming_queries, feeds, ingest):
        src = inspect.getsource(mod)
        assert ".collect()" not in src, mod.__name__
        assert ".toPandas()" not in src, mod.__name__
        for ln, line in enumerate(src.splitlines(), 1):
            if ".toArrow()" in line:
                assert "ONE SPLIT" in line, f"{mod.__name__}:{ln}: {line}"

    from acero_delta_lake_streaming_spark.storage import delta_compat

    for ln, line in enumerate(inspect.getsource(delta_compat).splitlines(), 1):
        if ".collect()" in line:
            assert "METADATA" in line, f"delta_compat:{ln}: {line}"
        assert ".toPandas()" not in line, f"delta_compat:{ln}"


def test_commit_layout_has_one_builder():
    """Static guard: delta_compat lays out a commit in ONE place. A
    ``commitInfo``, ``metaData`` or ``remove`` action dict is built only
    by the commit builders (plus ``_write_checkpoint``'s checkpoint rows,
    which serialise a snapshot rather than a commit); only
    ``_protocol_with`` applies the legacy-writer-features upgrade rule;
    only ``_commit`` publishes. A verb that hand-builds any of these
    fails here — new commit fields go into the builders."""
    import ast
    import inspect

    from acero_delta_lake_streaming_spark.storage import delta_compat

    allowed = {
        "commitInfo": {"_commit"},
        "metaData": {"_metadata_action", "_write_checkpoint"},
        "remove": {"_remove_actions"},
        "_legacy_writer_features": {"_protocol_with"},
        "_publish_commit": {"_commit"},
    }
    tree = ast.parse(inspect.getsource(delta_compat))
    found: list[tuple[str, str]] = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Dict):
                for key in node.keys:
                    if isinstance(key, ast.Constant) and key.value in (
                        "commitInfo", "metaData", "remove"
                    ):
                        found.append((key.value, owner))
            elif isinstance(node, ast.Call) and isinstance(
                node.func, ast.Name
            ) and node.func.id in ("_legacy_writer_features",
                                   "_publish_commit"):
                found.append((node.func.id, owner))
    bad = [(what, owner) for what, owner in found
           if owner not in allowed[what]]
    assert not bad, f"commit layout built outside the builders: {bad}"
    assert {o for w, o in found if w == "_publish_commit"} == {"_commit"}


def test_streaming_appends_through_the_module_attribute():
    """Static guard: streaming modules call ``delta_compat.append_delta``
    through the module attribute. ``from ...delta_compat import
    append_delta`` binds the function at import time, so a tracer or a
    test that wraps the attribute silently misses those writes."""
    import ast
    import pathlib

    from acero_delta_lake_streaming_spark import streaming

    bad = []
    for path in sorted(pathlib.Path(streaming.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and any(
                alias.name == "append_delta" for alias in node.names
            ):
                bad.append(f"{path.name}:{node.lineno}")
    assert not bad, f"append_delta imported by name: {bad}"


def test_medallion_epoch_counts_through_materialize_once():
    """Static guard on ``streaming/ingest.py::medallion_writer``: the
    epoch's empty check is the row count of the one run of the dedup
    state (the driver route's Arrow collect, the executor route's count
    in ``_materialize``), never an ``isEmpty()`` job that runs the
    dedup state a second time, and ``_materialize`` is called once. A second call (say, sizing the
    extraction) puts a count job in front of the sinks that share it
    on every host, not only across executors."""
    import ast
    import pathlib

    from acero_delta_lake_streaming_spark.streaming import ingest

    tree = ast.parse(pathlib.Path(ingest.__file__).read_text())
    (writer,) = [
        node for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name == "medallion_writer"
    ]
    calls = [node for node in ast.walk(writer) if isinstance(node, ast.Call)]
    empty_checks = [
        node.lineno for node in calls
        if isinstance(node.func, ast.Attribute) and node.func.attr == "isEmpty"
    ]
    assert not empty_checks, f"isEmpty() in medallion_writer at {empty_checks}"
    materializes = [
        node.lineno for node in calls
        if isinstance(node.func, ast.Name) and node.func.id == "_materialize"
    ]
    assert len(materializes) == 1, (
        f"medallion_writer calls _materialize at lines {materializes}"
    )


def test_scd2_single_exchange(spark, sf_dir):
    """w7's three windows and the island group-by must all reuse ONE
    user_id exchange — the property that makes the history build a
    single-shuffle pass at any fact scale."""
    from acero_delta_lake_streaming_spark.operators.windows import (
        w7_scd2_user_state,
    )

    plan = _physical(w7_scd2_user_state(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q16_q21_broadcast_no_cartesian(spark, sf_dir):
    """q16: the fact collapses to distinct associations FIRST, then both
    dimension probes broadcast. q21: the decorrelated NOT-EXISTS must
    stay equi-join-only."""
    from acero_delta_lake_streaming_spark.operators.tpch import (
        q16_supplier_variety,
        q21_sole_supplier_orders,
    )

    plan = _physical(q16_supplier_variety(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    plan = _physical(q21_sole_supplier_orders(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_no_cartesian_and_profile_one_scan(spark, sf_dir):
    """x13's est/exact join is a tiny equi-join (never nested-loop);
    dq1 must read orders exactly once (one FileScan — the whole point
    of the multi-aggregate profile)."""
    from acero_delta_lake_streaming_spark.operators.sketch import (
        dq1_column_profile,
        x13_kmv_distinct,
    )

    plan = _physical(x13_kmv_distinct(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The k-th order statistic is a salted two-stage agg; a Window here
    # would mean one reducer ranks a group's ENTIRE distinct-hash set.
    assert "Window" not in plan, plan
    # x19 line dedup: count-join-filter on md5(line) hash keys — no
    # window, no cartesian, no nested-loop join anywhere.
    from acero_delta_lake_streaming_spark.operators.dedup import (
        x19_line_dedup,
    )

    plan = _physical(x19_line_dedup(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _physical(dq1_column_profile(spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    # dq1b is the scale twin: the KMV path must not pay dq1's 4× Expand
    # (multi-countDistinct rewrite) anywhere in its plan.
    from acero_delta_lake_streaming_spark.operators.sketch import (
        dq1b_approx_profile,
    )

    plan = _physical(dq1b_approx_profile(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "Window" not in plan, plan


def test_semdedup_funnel_dq2_shapes(spark, sf_dir):
    """x14: candidates via (tbl, bucket) equi-joins only; w8: stage
    joins are equi-joins on user_id; dq2: one orders scan + one
    customer scan, FK folded into the same aggregate (no third scan)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x14_semdedup,
    )
    from acero_delta_lake_streaming_spark.operators.sketch import (
        dq2_expectations,
    )
    from acero_delta_lake_streaming_spark.operators.windows import w8_funnel

    plan = _physical(x14_semdedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    plan = _physical(w8_funnel(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _physical(dq2_expectations(spark, sf_dir))
    assert plan.count("FileScan") == 2, plan
    assert "BroadcastHashJoin" in plan


def test_round8_late_ops_plan_shapes(spark, sf_dir):
    """x46: the flagged boilerplate-gram set joins back via BROADCAST
    (threshold-bounded small side) and candidates never go cartesian;
    x48: cross-set decontamination candidates come from (tbl, bucket)
    equi-joins only (x14's rule applied cross-set); x51: the
    sequential three-pass sweep keeps the near-dup stage cartesian-free
    too; x5d: the multimodal packer's plan touches metadata arithmetic
    only — no unhex/payload derivation survives pruning."""
    from acero_delta_lake_streaming_spark.operators.dedup import (
        x46_boilerplate_grams,
        x51_dedup_roi,
    )
    from acero_delta_lake_streaming_spark.operators.multimodal import (
        x5d_multimodal_pack,
    )
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x48_semantic_decontam,
    )

    plan = _physical(x46_boilerplate_grams(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    plan = _physical(x48_semantic_decontam(spark, sf_dir))
    assert "CartesianProduct" not in plan
    plan = _physical(x51_dedup_roi(spark, sf_dir))
    assert "CartesianProduct" not in plan
    plan = _physical(x5d_multimodal_pack(spark, sf_dir))
    assert "unhex" not in plan  # payload bytes pruned out entirely
    assert "CartesianProduct" not in plan


def test_phrase_search_zero_exchange_single_scan(spark, sf_dir):
    """x53's scale contract: the multi-phrase adjacency match is
    MAP-SIDE — one corpus scan, zero exchanges (a positional-postings
    join formulation would shuffle every occurrence of every needle
    token; a per-phrase union would re-scan the corpus per phrase)."""
    from acero_delta_lake_streaming_spark.operators.retrieval import (
        x53_phrase_search,
    )

    plan = _physical(x53_phrase_search(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ivf_seed_selection_distributed(spark, sf_dir):
    """x3d's k-means seeds are a distributed top-8 (TakeOrderedAndProject:
    per-partition partial top-k, driver merges 8-row heads), NOT a
    partition-less row_number window — which would global-sort the whole
    embeddings corpus into one task just to keep 8 rows (the r4 VERDICT's
    one scale-killer). Every remaining Window in the plan must be
    partitioned (vec_id / query_id) and every Sort local."""
    import re

    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3d_ivf_topk,
    )

    plan = _physical(x3d_ivf_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # Physical Sort prints `Sort [keys], <global>, 0` — a global sort
    # (the footprint of an unpartitioned window over the corpus) is the
    # regression this guard exists to catch.
    assert not re.search(r"Sort \[[^\]]*\], true, 0", plan), plan
    # Each windowspecdefinition leads with its partition column.
    for m in re.finditer(r"windowspecdefinition\((\w+)#", plan):
        assert m.group(1) in ("vec_id", "query_id"), m.group(0)


def test_quantized_ann_no_array_shuffle_joins(spark, sf_dir):
    """x3e's scale contract: float embeddings only stream, never
    shuffle. Every join against the corpus (candidate probe, coarse
    scoring, float re-rank) must be broadcast-on-the-small-side — an
    un-broadcast would plan SortMergeJoin/ShuffledHashJoin and move an
    array payload through an exchange."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3e_quantized_ann,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x3e_quantized_ann(spark, sf_dir))
    finally:
        release_scoped()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_bloom_prefilter_plan_shape(spark, sf_dir):
    """j4: the one-row bloom rides a broadcast (nested-loop on a 1-row
    side is fine — it IS the broadcast pattern for a scalar payload),
    and nothing in the plan is an unbroadcast cartesian product. The
    bloom membership filters must sit in the scan stage, BEFORE the
    exact join's exchange."""
    from acero_delta_lake_streaming_spark.operators.relational import (
        j4_bloom_prefilter_join,
    )

    plan = _physical(j4_bloom_prefilter_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the O(1) bitmap probes survived into the plan (map lookup + AND,
    # never an O(m) array scan)
    assert "element_at" in plan and "array_contains" not in plan


def test_pagerank_no_cartesian_and_bounded_shuffles(spark, sf_dir):
    """x28: plane fan-outs are broadcasts; the iteration is equi-joins +
    hash aggregates — a cartesian anywhere means the similarity graph
    degenerated to all-pairs."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x28_graph_pagerank,
    )

    plan = _physical(x28_graph_pagerank(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_incremental_agg_mart_reads_changes_not_source(spark, sf_dir):
    """st12's refresh math: the incremental plan folds the change feed
    onto the v0 base — the FINAL source version is never re-scanned.
    Pinned behaviorally: the mart result equals the oracle (parity
    gate) while read_changes is the only post-base input, which this
    asserts by checking the physical scan set contains the CDF folder
    files."""
    from acero_delta_lake_streaming_spark.storage.queries import (
        st12_incremental_agg_mart,
    )

    plan = _physical(st12_incremental_agg_mart(spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # v0 base + the captured change feed; the post-change source
    # snapshot appears nowhere
    assert any("_change_type" in ln for ln in scans)
    base = [ln for ln in scans if "_change_type" not in ln]
    assert base and all(
        "o_orderkey" not in ln for ln in base
    )  # base aggregate pruned to (status, price) only


def test_stickiness_rolling_join_is_hash_not_bnlj(spark, sf_dir):
    """w13: the trailing-window day-grid join carries a 30-day-bucket
    equi-prekey, so Spark plans a hash join with the range predicate as
    a post-filter — NOT a BroadcastNestedLoopJoin where every user-day
    row scans the whole broadcast day grid (the r5 VERDICT's last
    comparison-constant nit)."""
    from acero_delta_lake_streaming_spark.operators.windows import (
        w13_stickiness,
    )

    plan = _physical(w13_stickiness(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def _shuffle_exchange_outputs(df):
    """(partitioning, [attribute type strings]) for every
    ShuffleExchangeExec in the physical plan — the real check behind
    "no array crosses an exchange" claims (plan text doesn't print
    attribute types). Descends through AQE wrappers."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        if cls.startswith("ShuffleExchange"):
            attrs = node.output()
            types = [
                attrs.apply(i).dataType().simpleString()
                for i in range(attrs.size())
            ]
            out.append((node.outputPartitioning().toString(), types))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_ivf_sq_no_array_crosses_hash_exchange(spark, sf_dir):
    """x3f's scale contract: every hash-partitioned shuffle in the plan
    moves SCALARS only — training (scalar-exploded Lloyd update),
    candidate generation, int8 scoring, and the float re-rank all keep
    array payloads out of exchanges (broadcasts and the 8-row
    SinglePartition centroid merge are the allowed array carriers).
    Candidate volume is bounded by the probed cells (nprobe/k of the
    corpus), pinned separately below."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3f_ivf_sq_ann,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        df = x3f_ivf_sq_ann(spark, sf_dir)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan  # distributed seed top-k
        for partitioning, types in _shuffle_exchange_outputs(df):
            if "SinglePartition" in partitioning:
                continue  # 8-row centroid merge, bounded by the seed LIMIT
            assert not any("array" in t for t in types), (partitioning, types)
    finally:
        release_scoped()


def test_ivf_sq_candidates_bounded_by_probes(spark, sf_dir):
    """x3f stage-1 scores ONLY probed-cell members: candidate volume
    <= nprobe/k of the corpus per query (+ slack for uneven cells),
    and every candidate's cell is one of its query's probed cells."""
    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.operators import similarity as sim
    from acero_delta_lake_streaming_spark.catalog import load_table
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        n = load_table(spark, sf_dir, "embeddings").count()
        out = sim.x3f_ivf_sq_ann(spark, sf_dir)
        assert out.count() == 5 * sim._N_QUERIES
        # re-derive the candidate list the operator's stage-1 used
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{sf_dir}/embeddings.parquet'"
        )
        ctes, _ = sim._ivf_base_ctes()
        cand = con.execute(
            "WITH " + ", ".join(ctes) +
            " SELECT p.query_id, count(*) AS n FROM fa "
            "JOIN probes p ON p.cid = fa.cid "
            "WHERE fa.vec_id <> p.query_id GROUP BY 1"
        ).df()
        frac = sim._IVF_NPROBE / sim._IVF_K
        for _, row in cand.iterrows():
            assert row["n"] <= n * frac * 3.0, (row["query_id"], row["n"], n)
    finally:
        release_scoped()


def test_round6_addition_plan_shapes(spark, sf_dir):
    """x32 is a pure TakeOrderedAndProject over one scan (zero
    shuffles); x3g and w14 are broadcast/hash shapes with no cartesian
    products and no nested-loop joins."""
    from acero_delta_lake_streaming_spark.operators.curation import (
        x32_weighted_sample,
    )
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3g_filtered_ann,
    )
    from acero_delta_lake_streaming_spark.operators.windows import (
        w14_rfm_segments,
    )

    plan = _physical(x32_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan  # no shuffle at all

    # x3g: the only nested-loop is the 12-row broadcast-planes fan-out
    # (x3b's accepted pattern); candidate and re-rank joins hash
    plan = _physical(x3g_filtered_ann(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    plan = _physical(w14_rfm_segments(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the scalar reference day rides a broadcast (1-row side)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_x35_corpus_never_shuffles(spark, sf_dir):
    """x35's assignment is a map-side fold against ONE broadcast
    centroid row: the partial confusion count happens BEFORE the only
    corpus-derived exchange, so no exchange in the plan ever carries
    per-vector rows — the hash exchanges move (label, dim) centroid
    keys and |labels|² confusion cells only. The corpus scan must also
    prune to exactly (embedding, label)."""
    import re

    from acero_delta_lake_streaming_spark.operators.similarity import (
        x35_domain_centroids,
    )

    plan = _physical(x35_domain_centroids(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # assignment side: broadcast 1-row build (IdentityBroadcastMode),
    # never a shuffled join of the corpus against centroids
    assert "IdentityBroadcastMode" in plan
    # the embeddings scan feeding the fold reads only the two columns
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "embeddings.parquet" in ln]
    assert scans
    assert any(
        "ReadSchema: struct<embedding:array<float>,label:int>" in ln
        for ln in scans
    )
    # no exchange carries vec_id (a per-vector shuffle would name it in
    # its partitioning or child output); bounded-key exchanges only
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "vec_id" not in m.group(1), m.group(0)


def test_trim_operators_never_shuffle_words(spark, sf_dir):
    """x34b/x10b's scale shape, plan-pinned: the retained-text rebuild
    is a map-side ``filter(w, (x, i) -> ...)`` over each doc's own word
    array — corpus WORD rows never cross an exchange. Only md5 window
    keys and (doc_id, covered-position) pairs shuffle; a regression to
    the explode-words + per-doc sort-aggregate shape would name `word`
    or `pos`+`word` in an exchange's partitioning or output."""
    import re

    from acero_delta_lake_streaming_spark.operators.curation import (
        x10b_decontaminate_trim,
    )
    from acero_delta_lake_streaming_spark.operators.dedup import (
        x34b_substring_trim,
    )

    for fn in (x34b_substring_trim, x10b_decontaminate_trim):
        plan = _physical(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        for m in re.finditer(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            keys = m.group(1)
            assert "word" not in keys, (fn.__name__, m.group(0))


def test_partitioned_dv_read_partition_prunes(spark, tmp_path):
    """s17b's scale claim, plan-pinned: a partition predicate over the
    DV-subtracting read reaches the parquet scan as a PartitionFilter —
    merge-on-read must not cost the partition pruning that makes a
    scoped read on a 100 TB table cheap."""
    import os

    import pyspark.sql.functions as F

    from acero_delta_lake_streaming_spark.storage import delta_compat as dc

    table = str(tmp_path / "dv_prune")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), (F.col("id") % 4)).alias("p"),
    )
    dc.append_delta(df, table, partition_by=["p"])
    dc.delete_delta_dv(
        spark, table,
        spark.range(0, 200, 10).select(F.col("id").alias("k")), ["k"],
    )
    out = dc.read_delta(spark, table).filter("p = 'p1'")
    plan = _physical(out)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and any(
        "PartitionFilters" in ln and "p1" in ln for ln in scan
    ), plan
    assert out.count() == 50  # deleted keys are even; p1 holds odd k


def test_session2_addition_plan_shapes(spark, sf_dir):
    """w15: user-keyed hash join (never a nested loop over events) and
    the final rollup is the only post-window aggregate; x36: one corpus
    scan feeding both the counts branch and the join (persisted reuse),
    no cartesian products anywhere."""
    from acero_delta_lake_streaming_spark.operators.retrieval import (
        x36_bigram_surprise,
    )
    from acero_delta_lake_streaming_spark.operators.windows import (
        w15_attribution,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(w15_attribution(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "row_number" in plan  # the per-purchase bookend window

        plan = _physical(x36_bigram_surprise(spark, sf_dir))
        assert "CartesianProduct" not in plan
        # per_db is persisted and read twice (counts branch + join back)
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        release_scoped()


def test_pq_ann_no_array_crosses_hash_exchange(spark, sf_dir):
    """x3h's scale contract (the x3f guard applied to PQ): every
    hash-partitioned exchange moves scalars only — the Lloyd update is
    scalar-exploded before its join, encoding is a map-side broadcast
    fold, ADC scoring joins scalar code rows to broadcast distance
    tables, and the float re-rank streams through broadcasts. The
    8-row seed top-k stays a distributed TakeOrderedAndProject."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3h_pq_ann,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        df = x3h_pq_ann(spark, sf_dir)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        # (the seed top-k's TakeOrderedAndProject lives behind the
        # codebook's localCheckpoint and is invisible here; the shared
        # construction is pinned by test_ivf_seed_selection_distributed)
        for partitioning, types in _shuffle_exchange_outputs(df):
            if "SinglePartition" in partitioning:
                continue  # bounded codebook merges (<= M*K rows)
            assert not any("array" in t for t in types), (partitioning, types)
    finally:
        release_scoped()


def test_x42_stats_broadcast_corpus_pure_map(spark, sf_dir):
    """x42: the language stats join back into the corpus is a
    BROADCAST (an O(|langs|) build side must never shuffle the corpus
    to meet it), the doc payload never crosses a hash exchange (only
    lang-keyed aggregate rows do), and the documents scan prunes to
    exactly (doc_id, lang)."""
    import re

    from acero_delta_lake_streaming_spark.operators.curation import (
        x42_temperature_mix,
    )

    plan = _physical(x42_temperature_mix(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in m.group(1), m.group(0)
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "documents.parquet" in ln]
    assert scans
    assert any(
        "ReadSchema: struct<doc_id:" in ln and "text" not in ln
        for ln in scans
    )


def test_round8_closing_plan_shapes(spark, sf_dir):
    """x56: pure map + ONE hash-agg, the documents scan prunes to
    (lang, text); x57: the carrier-set fold is the only wide shuffle —
    no self-join on shingle rows survives (no SortMergeJoin), the
    Jaccard closes through BROADCAST joins; x59: no cartesian below
    the audited IVF assignment; dq8: one orders scan pruned to
    o_totalprice, every join a broadcast of the 1-row total."""
    from acero_delta_lake_streaming_spark.operators.dedup import (
        x57_source_overlap,
    )
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x59_cluster_purity,
    )
    from acero_delta_lake_streaming_spark.operators.sketch import (
        dq8_benford_audit,
    )
    from acero_delta_lake_streaming_spark.operators.text import (
        x56_readability,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x56_readability(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "Join" not in plan  # map + agg only
        scans = [ln for ln in plan.splitlines()
                 if "FileScan" in ln and "documents.parquet" in ln]
        assert scans
        assert all("doc_id" not in ln for ln in scans)  # pruned

        plan = _physical(x57_source_overlap(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan  # no shingle self-join
        assert "BroadcastHashJoin" in plan  # sizes close via broadcast

        plan = _physical(x59_cluster_purity(spark, sf_dir))
        assert "CartesianProduct" not in plan

        from acero_delta_lake_streaming_spark.operators.dedup import (
            x60_containment_pairs,
        )

        plan = _physical(x60_containment_pairs(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan  # equi-join only

        from acero_delta_lake_streaming_spark.operators.retrieval import (
            x62_hybrid_rrf,
        )

        plan = _physical(x62_hybrid_rrf(spark, sf_dir))
        assert "CartesianProduct" not in plan
        # both rankers' top-k are distributed TakeOrderedAndProject;
        # rank assignment windows run over the limited frames only
        assert plan.count("TakeOrderedAndProject") >= 2

        from acero_delta_lake_streaming_spark.operators.multimodal import (
            x5e_audio_vad,
        )

        plan = _physical(x5e_audio_vad(spark, sf_dir))
        # VAD runs in ONE Arrow stage; segments, not frames, leave it —
        # no exchange at all below the decode
        assert plan.count("MapInPandas") == 1
        assert "Exchange hashpartitioning" not in plan

        plan = _physical(dq8_benford_audit(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        scans = [ln for ln in plan.splitlines()
                 if "FileScan" in ln and "orders.parquet" in ln]
        assert scans
        assert any("ReadSchema: struct<o_totalprice:" in ln
                   for ln in scans)
    finally:
        release_scoped()


def test_closing_session_ranker_sketch_plan_shapes(spark, sf_dir):
    """x61: the QL ranker keeps x21b's inverted-index probe geometry —
    collection stats broadcast back, top-k via TakeOrderedAndProject,
    no cartesian; x63: sketch pairing and theta rides are equi/broadcast
    joins only; x65: ONE keyed self-join carries all three banding
    configs (no per-config join fan-out); dq9: detail agg + header
    join, no nested loop."""
    from acero_delta_lake_streaming_spark.operators.dedup import (
        x65_lsh_sweep,
    )
    from acero_delta_lake_streaming_spark.operators.retrieval import (
        x61_ql_topk,
    )
    from acero_delta_lake_streaming_spark.operators.sketch import (
        dq9_reconciliation,
        x63_sketch_overlap,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x61_ql_topk(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan  # cf/total stats broadcast

        plan = _physical(x63_sketch_overlap(spark, sf_dir))
        assert "CartesianProduct" not in plan

        plan = _physical(x65_lsh_sweep(spark, sf_dir))
        assert "CartesianProduct" not in plan
        # the only nested loop is the 1-row n_truth constant broadcast;
        # the band self-join itself must be keyed
        assert plan.count("BroadcastNestedLoopJoin") <= 1

        plan = _physical(dq9_reconciliation(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        release_scoped()


def test_x60b_plan_never_exceeds_bucket_cooccupancy(spark, sf_dir):
    """x60b (VERDICT r8 item 2): corpus-wide containment must generate
    candidate pairs ONLY inside df-capped shingle carrier sets — the
    shingle stream never self-joins (pairs expand map-side inside the
    collect_set array — no join may key on the raw shingle), nothing
    is ever a cross join, and the denominator joins carry NO forced
    broadcast of the O(corpus) count frame (round-10 verdict item 3:
    AQE picks the strategy; at fixture scale the initial plan may be
    sort-merge). Exactly one exchange keys on the raw shingle (the
    carrier fold); every other hash exchange keys on doc ids."""
    import re

    from acero_delta_lake_streaming_spark.operators.dedup import (
        x60b_corpus_containment,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x60b_corpus_containment(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # no join keyed on the shingle itself (self-join regression)
        for m in re.finditer(r"SortMergeJoin \[([^\]]*)\]", plan):
            assert not re.search(r"\bsh#\d+", m.group(1)), m.group(0)
        sh_exchanges = {
            m.group(0)
            for m in re.finditer(
                r"Exchange hashpartitioning\(([^)]*)\)", plan
            )
            if re.search(r"\bsh#\d+", m.group(1))
        }
        # the persisted carrier fold reprints under each consumer, so
        # count DISTINCT exchanges (expr ids disambiguate), not lines
        assert len(sh_exchanges) <= 1, sh_exchanges
    finally:
        release_scoped()


def test_x5f_payload_never_crosses_exchange(spark, sf_dir):
    """x5f: exactly ONE Arrow stage (the fingerprint seam) — payload
    bytes reduce to 8-byte ints before anything wide; no hash exchange
    carries the binary content; candidate pairs come from the carrier
    fold (no join keys on a fingerprint); the Hamming verify carries
    NO forced broadcast of the O(corpus) fingerprint frame (round-10
    verdict item 3 — AQE picks; the initial plan may be sort-merge);
    the only nested loop is the 1-row adaptive-wbits broadcast."""
    import re

    from acero_delta_lake_streaming_spark.operators.multimodal import (
        x5f_media_phash_neardup,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x5f_media_phash_neardup(spark, sf_dir))
        # the fingerprint frame is scoped-persisted and consumed four
        # times (wbits count + bands + both verify sides): the ONE
        # Arrow stage reprints under each InMemoryTableScan consumer —
        # the cache is what proves it executes once
        assert "InMemoryTableScan" in plan
        assert plan.count("MapInPandas") <= 4
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        # joins key on media ids / band keys, never the fingerprint
        for m in re.finditer(r"SortMergeJoin \[([^\]]*)\]", plan):
            assert not re.search(r"\bfp#\d+", m.group(1)), m.group(0)
        for m in re.finditer(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            assert "content" not in m.group(1), m.group(0)
            assert not re.search(r"\bfp#\d+", m.group(1)), m.group(0)
    finally:
        release_scoped()


def test_s41_bucketed_join_no_exchange(spark, sf_dir):
    """s41: the orderkey join over two bucketed tables must be a
    SortMergeJoin with ZERO exchanges below it — no Exchange in the
    plan keys on an orderkey, and no broadcast fallback hides the
    co-location (the cluster-plan property bucketing buys)."""
    import re

    from acero_delta_lake_streaming_spark.storage.queries import (
        s41_bucketed_colocated_join,
    )

    plan = _physical(s41_bucketed_colocated_join(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "orderkey" not in m.group(1), m.group(0)


def test_x68_single_corpus_shuffle_on_shard_key(spark, sf_dir):
    """x68 (VERDICT r9 item 5): the shard-writer plan must carry exactly
    TWO exchanges — the packing window's partition on ``source`` (shared
    by the per-pack aggregate: hash-partitioning on source satisfies the
    (source, pack_id) clustering, so the groupBy adds no shuffle) and
    the REPARTITION_BY_NUM on ``shard_id`` that IS the one corpus
    shuffle the manifest costs. No global sort, no Arrow stage, no
    cartesian product."""
    import re

    from acero_delta_lake_streaming_spark.operators.curation import (
        _N_SHARDS,
        shard_samples,
    )

    pre = shard_samples(spark, sf_dir).repartition(_N_SHARDS, "shard_id")
    plan = _physical(pre)
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 2, exchanges
    assert any("source" in e for e in exchanges)
    assert any("shard_id" in e for e in exchanges)


def test_x69_bitext_candidates_bucketed(spark, sf_dir):
    """x69's candidate generation is (tbl, bucket) equi-joins only —
    the cross-lingual pair volume is bounded by bucket co-occupancy,
    never an all-pairs product; the planted union is persisted (one
    evaluation feeds bucketing, the lang join and the verify), and the
    only nested-loop joins are the broadcast 1-row plane-count frame
    plus the broadcast plane set inside the single bucketing pass."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x69_bitext_mining,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    import re

    try:
        plan = _physical(x69_bitext_mining(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan  # the persisted frames
        # cached subtrees REPRINT under each InMemoryTableScan
        # consumer (the x5f lesson) — count DISTINCT plane-count expr
        # ids, not lines: the bucketing fold must evaluate ONCE
        ppt_ids = {
            m.group(0) for m in re.finditer(r"\bppt#\d+", plan)
        }
        assert len(ppt_ids) <= 1, ppt_ids
        # candidate pairs come from (tbl, bucket) equi-joins — no hash
        # exchange ships an embedding array
        for m in re.finditer(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            assert "embedding" not in m.group(1), m.group(0)
        # JVM walk (the x3f guard, r10 verdict item 7): no exchange is
        # KEYED on an array, and arrays ride as payload on exactly
        # THREE id-keyed exchanges — the source side once, the target
        # side twice (the top-2 verify fetch and the en_doc resolve).
        # A fourth array-carrying exchange is a regression; so is an
        # array key anywhere.
        df = x69_bitext_mining(spark, sf_dir)
        carrying = 0
        for part, types in _shuffle_exchange_outputs(df):
            assert "embedding" not in part and "array" not in part, part
            if any("array" in t for t in types):
                carrying += 1
        assert carrying == 3, carrying
    finally:
        release_scoped()


def test_x70_hard_negatives_bounded_pool(spark, sf_dir):
    """x70's candidate pool is a TakeOrdered top-25, never a global
    sort over the scored frame; the positive's gram set rides a ONE-ROW
    broadcast (the sanctioned constant-frame crossJoin) — no cartesian
    product, and every window below the pool runs over <=25 rows (the
    pool is the persisted frame the windows consume)."""
    from acero_delta_lake_streaming_spark.operators.retrieval import (
        x70_hard_negatives,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        plan = _physical(x70_hard_negatives(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "Exchange rangepartitioning" not in plan  # no global sort
    finally:
        release_scoped()


def test_x3i_graph_ann_plan_shape(spark, sf_dir):
    """x3i's final search segment (post graph-build checkpoints): no
    cartesian product, no global sort, and no exchange KEYED on an
    embedding array — embeddings ride id-keyed joins only. The walk's
    bounded candidate volume (entries + beam x degree x hops per
    query) is structural: every frontier passes a row_number <= BEAM
    window and the graph a row_number <= DEG window, both pinned by
    the oracle hash gate; the recall contract lives in
    tests/test_similarity.py."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        x3i_graph_ann,
    )
    from acero_delta_lake_streaming_spark.plans.cache import release_scoped

    try:
        df = x3i_graph_ann(spark, sf_dir)
        plan = _physical(df)
        assert "CartesianProduct" not in plan
        assert "Exchange rangepartitioning" not in plan
        for part, _types in _shuffle_exchange_outputs(df):
            assert "embedding" not in part and "array" not in part, part
    finally:
        release_scoped()
