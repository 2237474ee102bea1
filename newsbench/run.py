#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 newsbench/run.py --workload news_ingest --seed 1 --seconds 6 --trace 0
    python3 newsbench/run.py --workload dashboard_mix --seed 1 --seconds 6 --trace 1
    python3 newsbench/run.py --all --seed 1 --seconds 6

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that records spans and Spark's
counters and reports the per-layer metrics. The metric names and units
come from ``BENCHMARK.json``; the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. A detail artifact
(host, configuration, every operation, spans, streaming progress) is
written to ``.newsbench/out/``. ``--all`` runs every workload
untraced, one process each, and prints every end-to-end metric per
workload. See ``newsbench/METRICS.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("news_ingest", "dashboard_mix", "tpch_mix", "corpus_curation")
SETUP_REPS = 3
WALL_CAP_S = 130  # stop starting operations past this, to end within 180 s


def _worker_import_probe(batches):
    # Defined in __main__, so it ships to Python workers by value and
    # tests exactly one thing there: that the engine package imports.
    import acero_delta_lake_streaming_spark  # noqa: F401

    yield from batches


def _preflight() -> dict:
    """The benchmark needs the engine next to it; refuse to run without."""
    missing = [
        p for p in ("acero_delta_lake_streaming_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        raise SystemExit(f"newsbench: not a repository checkout, missing {missing}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _environment(work: str) -> None:
    """Python workers inherit the JVM's environment and working directory:
    put the checkout on their import path, and keep temp files inside."""
    os.chdir(ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit starts first; no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # The engine sizes its shuffle (and so the dedup state store) from this
    # at import; the workloads are defined on one core per partition.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _end_to_end(ops: list, setup: list, first_op_s: float, rss_mb: float) -> tuple[dict, dict]:
    import harness

    ok = [o for o in ops if not o.get("error")]
    lat = [o["latency_s"] for o in ok] or [o["latency_s"] for o in ops]
    busy = sum(o["latency_s"] for o in ops)
    tail_v, tail_rule = harness.tail(lat)
    metrics = {
        # Set-up before timing starts: the median of the repeated part plus
        # the warm-up, so work moved into either shows here.
        "setup_s": statistics.median(s["total_s"] for s in setup) + first_op_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(ops) / busy,
        "peak_rss_mb": rss_mb,
    }
    return metrics, {"op_tail_rule": tail_rule, "ops": len(ops), "busy_s": busy}


def _per_layer(wl, ops: list, setup: list, tracer) -> tuple[dict, dict]:
    import harness

    ok = [o for o in ops if not o.get("error")]
    m = {
        "setup.session_s": statistics.median(s["session_s"] for s in setup),
        "setup.inputs_s": statistics.median(s["inputs_s"] for s in setup),
        "setup.warmup_s": statistics.median(s["warmup_s"] for s in setup),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = harness.mean(o.get(k, 0) for o in ok)
    busy = sum(o["latency_s"] for o in ok)
    m["spark.busy_share"] = sum(o.get("executor_run_s", 0) for o in ok) / (busy * harness.NPROC)
    m["extract.py_worker_s"] = harness.mean(o.get("py_worker_s", 0) for o in ok)
    m["cache.persisted_rdds"] = harness.mean(o.get("persisted_rdds", 0) for o in ok)
    m["cache.mem_bytes"] = harness.mean(o.get("cache_mem_bytes", 0) for o in ok)
    m.update(wl.layer_metrics(ok, tracer))
    m["trace.overhead_share"] = tracer.overhead_s / busy
    return m, {"collector_s": tracer.overhead_s}


ABSENT = {
    "news_ingest": {
        "query.": "no registry query runs; the ingest's plans execute inside foreachBatch",
        "catalyst.": "the ingest's plans execute inside foreachBatch, out of the benchmark's reach",
        "plan.": "the ingest's plans execute inside foreachBatch, out of the benchmark's reach",
    },
    "dashboard_mix": {
        "feeds.": "workload does not poll feeds",
        "ingest.": "workload runs no stream",
        "storage.": "workload reads fixture parquet, no table format",
        "extract.": "no query in the mix calls the extraction operator",
    },
    "tpch_mix": {
        "feeds.": "workload does not poll feeds",
        "ingest.": "workload runs no stream",
        "storage.": "workload reads fixture parquet, no table format",
        "extract.": "no query in the mix calls the extraction operator",
    },
    "corpus_curation": {
        "feeds.": "workload does not poll feeds",
        "ingest.": "workload runs no stream",
        "storage.": "workload reads fixture parquet, no table format",
    },
}


def _run(args, spec: dict) -> int:
    work = os.path.join(ROOT, ".newsbench", "work", args.workload)
    out_dir = os.path.join(ROOT, ".newsbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    import harness
    import workloads
    from tracing import NullTracer, Tracer, write_artifact

    wall0 = time.perf_counter()
    host = harness.host_record()
    wl = workloads.make(args.workload, args.seed, work)
    spark = tracer = None
    phases = {}
    try:
        t = time.perf_counter()
        spark = harness.start_session(work)
        jvm_launch_s = time.perf_counter() - t
        setup = []
        for rep in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_session(work)
            t1 = time.perf_counter()
            wl.prepare(spark, rep)
            t2 = time.perf_counter()
            spark.range(1 << 16).selectExpr("sum(id)").collect()  # first job of the session
            t3 = time.perf_counter()
            setup.append(
                {"session_s": t1 - t0, "inputs_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}
            )
        # Python workers inherit the JVM's environment: prove they import the
        # engine package before anything is timed.
        rows = spark.range(2).mapInPandas(_worker_import_probe, "id long").collect()
        if len(rows) != 2:
            raise RuntimeError("Python workers cannot run the engine package")
        t = time.perf_counter()
        wl.warm_up()
        first_op_s = time.perf_counter() - t
        cal_spark = harness.cal_spark_ms(spark)
        phases["setup_done"] = time.perf_counter() - wall0
        conf = {
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "master": spark.sparkContext.master,
            "jvm_launch_s": jvm_launch_s,
            "setup_reps": setup,
            "first_op_s": first_op_s,
        }
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            wl.instrument(tracer)

        ops: list = []
        busy = 0.0
        ticks0 = harness.cpu_ticks()
        while not (busy >= args.seconds and wl.enough(ops)):
            if time.perf_counter() - wall0 > WALL_CAP_S:
                if not ops:
                    raise RuntimeError("wall cap reached before the first operation")
                # a truncated measurement never passes as a clean one
                ops[-1]["error"] = ops[-1].get("error") or (
                    f"wall cap {WALL_CAP_S} s: incomplete run after {len(ops)} operations"
                )
                break
            op = wl.op(len(ops), tracer)
            ops.append(op)
            busy += op["latency_s"]
        phases["measure_done"] = time.perf_counter() - wall0
        host["steal_share_measured"] = harness.steal_share(ticks0)
        # before the oracle check, whose DuckDB and pandas memory is the benchmark's
        rss = {"driver_mb": harness.vm_hwm_mb(), "jvm_mb": harness.vm_hwm_mb(harness.jvm_pid())}
        wl.final_check(ops)
        phases["check_done"] = time.perf_counter() - wall0
        e2e, e2e_notes = _end_to_end(ops, setup, first_op_s, sum(rss.values()))
        e2e_notes["peak_rss"] = rss
        layer, overhead = _per_layer(wl, ops, setup, tracer) if args.trace else ({}, {})
        if args.trace:
            layer["setup.first_op_s"] = first_op_s
        conf.update(wl.config())
    finally:
        if tracer is not None:
            tracer.close()
        harness.shutdown(spark)
    phases["shutdown_done"] = time.perf_counter() - wall0

    failed = sum(1 for o in ops if o.get("error"))
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    undeclared = sorted(set(values) - {m["name"] for m in declared})
    if undeclared:
        raise SystemExit(f"newsbench: metrics missing from BENCHMARK.json: {undeclared}")
    absent = {
        m["name"]: why
        for m in declared
        for prefix, why in ABSENT[args.workload].items()
        if m["name"].startswith(prefix) and m["name"] not in values
    }
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    missing = sorted(m for m in metrics if m not in values and m not in absent)
    if missing:
        raise SystemExit(f"newsbench: no value for {missing}")
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": dict(host, cal_spark_ms=cal_spark),
        "config": conf,
        "wall_phases_s": phases,
        "end_to_end": e2e,
        "end_to_end_notes": e2e_notes,
        "per_layer": layer,
        "absent_per_layer": absent if args.trace else {},
        "ops": ops,
    }
    if args.trace:
        artifact.update(
            spans=tracer.spans,
            streaming_progress=tracer.progress,
            trace_overhead=dict(overhead, vs_untraced=_vs_untraced(out_dir, args, e2e)),
        )
        if args.workload == "news_ingest":
            artifact["dedup_drop_ratio_expected"] = wl.expected_drop_ratio
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    write_artifact(path, artifact)
    shutil.rmtree(work, ignore_errors=True)
    for o in ops:
        if o.get("error"):
            print(f"newsbench: {o['name']} failed: {o['error']}", file=sys.stderr)
    print(f"newsbench: artifact {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _vs_untraced(out_dir: str, args, traced: dict) -> dict:
    """Traced end-to-end numbers against the newest untraced artifact of
    the same workload (same seed first): the tracing overhead."""
    paths = sorted(
        glob.glob(os.path.join(out_dir, f"{args.workload}-seed*-trace0.json")),
        key=lambda p: (not p.endswith(f"-seed{args.seed}-trace0.json"), -os.path.getmtime(p)),
    )
    if not paths:
        return {"note": "no untraced artifact to compare with; run --trace 0 first"}
    with open(paths[0]) as fh:
        base = json.load(fh)["end_to_end"]
    return {
        "untraced_artifact": os.path.basename(paths[0]),
        **{k: {"untraced": base[k], "traced": traced[k], "share": traced[k] / base[k] - 1}
           for k in ("op_p50_s", "ops_per_s") if base.get(k)},
    }


def _run_all(args) -> int:
    """Every workload untraced, one process each; a table per workload."""
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if res.returncode:
            print(f"{name}: exit code {res.returncode}")
            code = res.returncode
            continue
        line = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']} failed_share={line['failed'] / line['attempted']:.3f}")
        for k, v in line["metrics"].items():
            print(f"  {k:<14} {v['value']:>12.4f} {v['unit']}")
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload untraced")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _preflight()
    if args.all:
        return _run_all(args)
    if args.workload is None:
        ap.error("--workload or --all is required")
    return _run(args, spec)


if __name__ == "__main__":
    sys.exit(main())
