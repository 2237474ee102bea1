"""The four workloads: closed loops with one client, driving the engine
only through the functions a user calls.

* ``news_ingest`` — the paper's pipeline, one RSS poll cycle per operation:
  ``streaming.feeds.drop_feed_batch`` → ``streaming.ingest.run_news_ingest``
  (mock extraction provider) → a dashboard refresh read of the curated
  category counts.
* ``dashboard_mix`` — the reference dashboard's query shapes from
  ``operators/relational.py`` in a seeded order over a generated sf0.01
  fixture; ``tpch_mix`` — the TPC-H shapes of ``operators/tpch.py`` over
  the same fixture.
* ``corpus_curation`` — LLM-data curation operators (dedup, similarity,
  retrieval, text, scrub, extraction) over a generated replicated corpus.

A registry operation is timed from the callable's start to the end of an
Arrow collect of its result, so the clock covers fixture loads and eager
jobs in the callable as well as the action, and the collected result is
the one checked against the DuckDB oracle afterwards.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import time

import pyarrow.parquet as pq

import gen
from check import Oracle
from harness import mean
from tracing import NullTracer

_TABLE_FORMATS = {
    # log dir on disk → (module, write fn, log-replay fns, snapshot fn, reader)
    "_delta_log": (
        "delta_compat", "append_delta",
        ("_list_commit_versions", "last_txn_version"), "snapshot", "read_delta",
    ),
    "_log": ("deltalite", "write", ("_read_log",), "snapshot_files", "read"),
}
MEDALLION = ("raw", "curated", "quarantine", "actors")


def _storage_module(name: str):
    return importlib.import_module(f"acero_delta_lake_streaming_spark.storage.{name}")


class NewsIngest:
    name = "news_ingest"
    NEW_PER_FEED = 30      # fresh items per feed per poll
    REPLAY_PER_FEED = 10   # items re-served from the previous two polls
    MIN_CYCLES = 10  # the measured polls; the warm-up poll comes before them

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self._traced = 0

    # -- set-up -------------------------------------------------------------

    def prepare(self, spark, rep: int) -> None:
        """Fresh pipeline directories and feed generator."""
        self.spark = spark
        base = os.path.join(self.work, f"rep{rep}")
        self.drop = os.path.join(base, "drop")
        self.tables = os.path.join(base, "tables")
        self.cp = os.path.join(base, "checkpoint")
        self.gen = gen.FeedGenerator(self.seed, self.NEW_PER_FEED, self.REPLAY_PER_FEED)
        self.format = None

    def warm_up(self) -> None:
        """One untimed poll; the measured polls continue this pipeline."""
        warm = self.op(-1, NullTracer(), check=False)
        if warm.get("raised"):  # a wrong answer is counted later; a crash stops the run
            raise RuntimeError(f"warm-up cycle failed: {warm['error']}")

    def _detect_format(self) -> None:
        """Pick the reader and storage wrappers from the log directory the
        ingest wrote: deltalite keeps ``_log/``, Delta ``_delta_log/``."""
        curated = os.path.join(self.tables, "curated")
        for log_dir, spec in _TABLE_FORMATS.items():
            if os.path.isdir(os.path.join(curated, log_dir)):
                self.format = (log_dir, spec)
                return
        raise RuntimeError(f"no table log under {curated}")

    def _read(self, table: str):
        log_dir, (mod, _, _, _, reader) = self.format
        path = os.path.join(self.tables, table)
        if not os.path.isdir(os.path.join(path, log_dir)):
            return None
        return getattr(_storage_module(mod), reader)(self.spark, path)

    def instrument(self, tracer) -> None:
        log_dir, (mod_name, write, meta, snap, _) = self.format
        mod = _storage_module(mod_name)
        tracer.wrap(mod, write, lambda df, table, *a, **k: f"storage.write.{os.path.basename(table)}")
        for fn in meta:
            tracer.wrap(mod, fn, "storage.meta")
        tracer.wrap(mod, snap, "storage.snapshot")
        tracer.listen_streams()
        self.tracer = tracer
        self._traced = 0
        self._served0, self._replayed0 = self.gen.served_rows, self.gen.replayed_rows
        self.layout_start = self._layout()

    # -- one poll cycle -----------------------------------------------------

    def op(self, i: int, tracer, check: bool = True) -> dict:
        from acero_delta_lake_streaming_spark.streaming import feeds, ingest

        tr = tracer
        docs = self.gen.next_cycle()
        rec = dict(name=f"cycle{self.gen.cycle - 1}", op_id=i)
        tr.begin_op(i)
        t0 = time.perf_counter()
        try:
            with tr.span("cycle"):
                with tr.span("feeds.drop"):
                    feeds.drop_feed_batch(
                        self.spark, docs, self.drop, f"poll_{self.gen.cycle:06d}"
                    )
                t1 = time.perf_counter()
                if tr.enabled:
                    rec["feeds_jobs"] = tr.jobs_since_mark()
                    t1b = time.perf_counter()
                else:
                    t1b = t1
                with tr.span("ingest.run"):
                    ingest.run_news_ingest(self.spark, self.drop, self.tables, self.cp)
                t2 = time.perf_counter()
                if self.format is None:
                    self._detect_format()
                with tr.span("storage.refresh"):
                    rows = self._read("curated").groupBy("category").count().collect()
                t3 = time.perf_counter()
        except Exception as exc:  # one failed cycle is counted, not fatal
            rec.update(raised=True, error=f"{type(exc).__name__}: {exc}"[:500])
            rec["latency_s"] = time.perf_counter() - t0
            tr.end_op()
            return rec
        rec.update(
            latency_s=(t1 - t0) + (t3 - t1b),
            drop_s=t1 - t0,
            ingest_s=t2 - t1b,
            refresh_s=t3 - t2,
        )
        if tr.enabled:
            self._traced += 1
            tr.wait_terminated(self._traced)
            rec.update(tr.end_op())
        if check:
            rec["error"] = self._check({r["category"]: r["count"] for r in rows})
        return rec

    def _check(self, curated: dict) -> str | None:
        """Medallion invariants against the generator's own answer."""
        g = self.gen
        raw, quarantine = (
            df.count() if df is not None else 0
            for df in (self._read("raw"), self._read("quarantine"))
        )
        errs = []
        if raw != len(g.seen):
            errs.append(f"raw rows {raw} != unique guids {len(g.seen)}")
        if sum(curated.values()) + quarantine != raw:
            errs.append(f"curated+quarantine {sum(curated.values())}+{quarantine} != raw {raw}")
        if quarantine != g.expected_quarantine:
            errs.append(f"quarantine {quarantine} != expected {g.expected_quarantine}")
        if curated != g.expected_categories:
            errs.append(f"curated categories {curated} != expected {g.expected_categories}")
        self.ok_ratio = sum(curated.values()) / raw if raw else 0.0
        return "; ".join(errs) or None

    def enough(self, ops: list) -> bool:
        return len(ops) >= self.MIN_CYCLES

    def final_check(self, ops: list) -> None:
        """Traced runs also see the dedup operator's own count: the rows
        it dropped must be exactly the rows the feeds re-served."""
        if not self._traced or not ops:
            return
        progress = self.tracer.progress
        inputs = sum(p["numInputRows"] for p in progress)
        dropped = sum(
            p["stateOperators"][0]["customMetrics"]["numDroppedDuplicateRows"]
            for p in progress if p["stateOperators"]
        )
        self.dedup_drop_ratio = dropped / inputs if inputs else 0.0
        g = self.gen
        self.expected_drop_ratio = (g.replayed_rows - self._replayed0) / (g.served_rows - self._served0)
        if dropped * (g.served_rows - self._served0) != inputs * (g.replayed_rows - self._replayed0):
            ops[-1]["error"] = ops[-1].get("error") or (
                f"dedup dropped {dropped}/{inputs} rows, feeds re-served "
                f"{g.replayed_rows - self._replayed0}/{g.served_rows - self._served0}"
            )

    # -- layer metrics ------------------------------------------------------

    def _layout(self) -> dict:
        """Files, bytes and log versions per medallion table on disk."""
        log_dir = self.format[0]
        out = {}
        for t in MEDALLION:
            path = os.path.join(self.tables, t)
            files = nbytes = 0
            for dp, dirs, names in os.walk(path):
                dirs[:] = [d for d in dirs if d != log_dir]
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dp, n))
            logs = os.path.join(path, log_dir)
            versions = (
                sum(1 for n in os.listdir(logs) if n.endswith(".json") and n[:-5].isdigit())
                if os.path.isdir(logs) else 0
            )
            out[t] = {"files": files, "bytes": nbytes, "versions": versions}
        return out

    def layer_metrics(self, ops: list, tracer) -> dict:
        ok = [o for o in ops if not o.get("error")]
        by_op = _span_sums(tracer, ok)
        prog: dict[int, list] = {}
        for p in tracer.progress:
            prog.setdefault(p["op"], []).append(p)
        dur = lambda o, k: sum(p["durationMs"].get(k, 0) for p in prog.get(o["op_id"], []))
        end = self._layout()
        start = self.layout_start
        commits = sum(end[t]["versions"] - start[t]["versions"] for t in MEDALLION)
        files = sum(end[t]["files"] - start[t]["files"] for t in MEDALLION)
        last = tracer.progress[-1]["stateOperators"][0] if tracer.progress else {}
        snapshot_files = self._snapshot_file_count()
        m = {
            "feeds.drop_s": mean(o["drop_s"] for o in ok),
            "feeds.jobs": mean(o.get("feeds_jobs", 0) for o in ok),
            "ingest.run_s": mean(o["ingest_s"] for o in ok),
            "ingest.start_stop_s": mean(o["ingest_s"] - dur(o, "triggerExecution") / 1000 for o in ok),
            "ingest.add_batch_ms": mean(dur(o, "addBatch") for o in ok),
            "ingest.query_planning_ms": mean(dur(o, "queryPlanning") for o in ok),
            "ingest.wal_commit_ms": mean(dur(o, "walCommit") for o in ok),
            "ingest.commit_offsets_ms": mean(dur(o, "commitOffsets") for o in ok),
            "ingest.latest_offset_ms": mean(dur(o, "latestOffset") for o in ok),
            "ingest.trigger_ms": mean(dur(o, "triggerExecution") for o in ok),
            "ingest.state_rows": last.get("numRowsTotal", 0),
            "ingest.state_mem_bytes": last.get("memoryUsedBytes", 0),
            "ingest.state_partitions": last.get("numShufflePartitions", 0),
            "ingest.dedup_drop_ratio": self.dedup_drop_ratio,
            "extract.ok_ratio": self.ok_ratio,
            "storage.meta_s": mean(by_op[o["op_id"]].get("storage.meta", 0.0) for o in ok),
            "storage.snapshot_s": mean(by_op[o["op_id"]].get("storage.snapshot", 0.0) for o in ok),
            "storage.log_versions": end["curated"]["versions"],
            "storage.commits": commits,
            "storage.files_per_commit": files / commits if commits else 0.0,
            "storage.bytes_per_article": sum(end[t]["bytes"] for t in MEDALLION) / max(len(self.gen.seen), 1),
            "storage.refresh_files": snapshot_files,
            "storage.refresh_s": mean(o["refresh_s"] for o in ok),
        }
        for t in MEDALLION:
            m[f"storage.write_s.{t}"] = mean(by_op[o["op_id"]].get(f"storage.write.{t}", 0.0) for o in ok)
        return m

    def _snapshot_file_count(self) -> int:
        log_dir, (mod, _, _, snap, _) = self.format
        res = getattr(_storage_module(mod), snap)(os.path.join(self.tables, "curated"))
        return len(res["files"] if isinstance(res, dict) else res[0])

    def config(self) -> dict:
        """The dedup state partition count fixed at the checkpoint's first
        run (the offset log's recorded ``spark.sql.shuffle.partitions``)."""
        path = os.path.join(self.cp, "offsets", "0")
        with open(path) as fh:
            lines = fh.read().splitlines()
        conf = json.loads(lines[1]).get("conf", {})
        return {
            "state_partitions": conf.get("spark.sql.shuffle.partitions"),
            "table_format": self.format[0],
            "new_per_feed": self.NEW_PER_FEED,
            "replay_per_feed": self.REPLAY_PER_FEED,
            "feeds": len(gen.FEEDS),
        }


class RegistryMix:
    """A seeded permutation of registry queries, one query per operation;
    the loop runs whole passes so every run measures the same set."""

    MIN_PASSES = 2

    def __init__(self, name: str, seed: int, work: str, names: list, make_inputs):
        self.name, self.seed, self.work = name, seed, work
        self.names = names
        self.make_inputs = make_inputs
        self.results: dict = {}

    def prepare(self, spark, rep: int) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.data = os.path.join(self.work, f"rep{rep}", "data")
        gen.write_tables(self.make_inputs(self.seed), self.data)

    def warm_up(self) -> None:
        """One untimed pass: each query shape's first run in a session pays
        for code generation and JIT compilation of its own operators."""
        for name in self.names:
            try:
                self.queries[name](self.spark, self.data).toArrow()
            except Exception:  # the measured pass records the failure
                pass

    def instrument(self, tracer) -> None:
        pass

    def _order(self, k: int) -> list:
        return random.Random(f"{self.seed}/{k}").sample(self.names, len(self.names))

    def op(self, i: int, tracer) -> dict:
        n = len(self.names)
        name = self._order(i // n)[i % n]
        rec = dict(name=name, op_id=i)
        tracer.begin_op(i)
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query.{name}"):
                with tracer.span("query.build"):
                    df = self.queries[name](self.spark, self.data)
                t1 = time.perf_counter()
                if tracer.enabled:
                    rec["build_jobs"] = tracer.jobs_since_mark()
                    t1b = time.perf_counter()
                else:
                    t1b = t1
                with tracer.span("query.action"):
                    table = df.toArrow()
                t2 = time.perf_counter()
        except Exception as exc:  # a failing query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["latency_s"] = time.perf_counter() - t0
            tracer.end_op()
            return rec
        rec.update(latency_s=(t1 - t0) + (t2 - t1b), build_s=t1 - t0, action_s=t2 - t1b)
        if tracer.enabled:
            rec.update(tracer.end_op(df))
        self.results.setdefault(name, table)
        return rec

    def enough(self, ops: list) -> bool:
        n = len(self.names)
        return len(ops) >= self.MIN_PASSES * n and len(ops) % n == 0

    def final_check(self, ops: list) -> None:
        """Compare each query's first result with its DuckDB oracle; a
        mismatch marks every operation of that query failed."""
        oracle = Oracle(self.data, self.oracles)
        try:
            verdict = {
                name: oracle.check(name, table.to_pandas())
                for name, table in self.results.items()
            }
        finally:
            oracle.close()
        for o in ops:
            if not o.get("error") and verdict.get(o["name"]):
                o["error"] = f"oracle mismatch: {verdict[o['name']]}"

    def layer_metrics(self, ops: list, tracer) -> dict:
        ok = [o for o in ops if not o.get("error")]
        m = {
            "query.build_s": mean(o["build_s"] for o in ok),
            "query.build_jobs": mean(o.get("build_jobs", 0) for o in ok),
            "query.action_s": mean(o["action_s"] for o in ok),
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = mean(o.get(f"{phase}_ms", 0.0) for o in ok)
        for k in ("exchanges", "smj", "bhj", "cached_scans"):
            m[f"plan.{k}"] = mean(o.get(k, 0) for o in ok)
        ud1 = self.results.get("ud1_extract_categories")
        if ud1 is not None:
            cats = dict(zip(ud1.column("category").to_pylist(), ud1.column("n").to_pylist()))
            total = sum(cats.values())
            m["extract.ok_ratio"] = (total - cats.get("(quarantined)", 0)) / total
        return m

    def config(self) -> dict:
        rows = {
            t: pq.ParquetFile(os.path.join(self.data, f"{t}.parquet")).metadata.num_rows
            for t in gen.TABLES
        }
        return {"queries": self.names, "table_rows": rows}


def _span_sums(tracer, ops) -> dict:
    out = {o["op_id"]: {} for o in ops}
    for s in tracer.spans:
        if s["op"] in out and s["end"] is not None:
            d = out[s["op"]]
            d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


# -- the mixes -----------------------------------------------------------

DASHBOARD_SF = 0.01
CORPUS = {"base_docs": 4000, "base_vecs": 1500, "replicas": 2, "dup_share": 0.02}
#: one query per curation family: exact and MinHash dedup, semantic dedup,
#: IVF nearest neighbours, BM25 retrieval, line dedup, PII scrub, LLM extraction
CORPUS_QUERIES = ("x1", "x2", "x14", "x3d", "x21", "x19", "x16", "ud1")


def _dashboard_names() -> list:
    """The reference dashboard's own query shapes: the relational queries
    whose docstring cites ``visualizer.py``. The TPC-H shapes are a mix of
    their own: they cost 2-3x as much, and with both groups in one mix the
    median falls in the gap between them and jumps from run to run."""
    from acero_delta_lake_streaming_spark.operators import relational

    return [n for n, fn in relational.QUERIES.items() if "visualizer.py" in (fn.__doc__ or "")]


def _tpch_names() -> list:
    from acero_delta_lake_streaming_spark.operators import tpch

    return list(tpch.QUERIES)


def _corpus_names() -> list:
    from acero_delta_lake_streaming_spark.queries import all_queries

    return [n for n in all_queries() if n.split("_")[0] in CORPUS_QUERIES]


def _corpus_inputs(seed: int) -> dict:
    tables = gen.fixture_tables(seed, DASHBOARD_SF)
    tables.update(gen.corpus_tables(seed, **CORPUS))
    return tables


def make(name: str, seed: int, work: str):
    if name == "news_ingest":
        return NewsIngest(seed, work)
    if name in ("dashboard_mix", "tpch_mix"):
        names = _dashboard_names() if name == "dashboard_mix" else _tpch_names()
        return RegistryMix(name, seed, work, names, lambda s: gen.fixture_tables(s, DASHBOARD_SF))
    if name == "corpus_curation":
        return RegistryMix(name, seed, work, _corpus_names(), _corpus_inputs)
    raise ValueError(name)
