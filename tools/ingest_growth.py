"""Per-poll cost of the news ingest as its drop directory and tables grow.

Usage:
    python tools/ingest_growth.py [--polls 36] [--seed 903] [--work DIR]

Drives ``--polls`` seeded RSS poll cycles (``newsbench/gen.py``'s
``FeedGenerator``: 5 feeds, 30 new + 10 re-served items each) through
the user entry points ``streaming.feeds.drop_feed_batch`` and
``streaming.ingest.run_news_ingest``, then reads the curated table back
the way a dashboard refresh does (``delta_compat.read_delta`` +
category counts). One line per poll: the drop-file count, the ingest
and refresh seconds, the Spark jobs each launched, and how many of
those were Spark's parallel file-listing jobs ("Listing leaf files and
directories ...", launched once a listing covers more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths).
Each ingest line also gives the poll's ``addBatch``, ``walCommit``,
``commitOffsets`` and ``latestOffset`` milliseconds, summed over its
micro-batches' ``StreamingQueryProgress.durationMs`` (read through a
Python ``StreamingQueryListener``), so a change to the poll shows which
part of the trigger moved.

The session is the engine's ``session.get_spark`` on ``local[nproc]``
with the UI off and, as in newsbench, one dedup state partition per
core (``SPARK_GRAFT_CPUS``, unless already set). ``--work`` keeps the
drop directory, checkpoint and tables (a fresh temporary directory,
removed at exit, by default). Run from the repository root.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = len(os.sched_getaffinity(0))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "newsbench"))
# As newsbench runs it: one dedup state partition per core (the engine
# reads this at import), and the checkout on the Python workers' path.
os.environ.setdefault("SPARK_GRAFT_CPUS", str(NPROC))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

_LISTING = "Listing leaf files and directories"

#: the trigger phases printed per poll, from ``durationMs``
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset")


class JobCounter:
    """Spark jobs started since the last ``take()``, read from the
    status store (works with the UI off)."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.last = -1
        self.take()

    def take(self) -> tuple[int, int]:
        """(jobs, listing jobs) since the previous call."""
        self.jsc.listenerBus().waitUntilEmpty()  # job events post async
        jobs = listing = 0
        it = self.jsc.statusStore().jobsList(None).iterator()
        newest = self.last
        while it.hasNext():
            job = it.next()
            if job.jobId() <= self.last:
                continue
            newest = max(newest, job.jobId())
            jobs += 1
            desc = job.description()
            if desc.isDefined() and desc.get().startswith(_LISTING):
                listing += 1
        self.last = newest
        return jobs, listing


def phase_listener():
    """A ``StreamingQueryListener`` summing each :data:`PHASES` entry of
    every progress event into its ``ms`` dict (read, then clear it)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Phases(StreamingQueryListener):
        def __init__(self):
            self.ms = dict.fromkeys(PHASES, 0)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            for phase in PHASES:
                self.ms[phase] += event.progress.durationMs.get(phase, 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Phases()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--polls", type=int, default=36)
    ap.add_argument("--seed", type=int, default=903)
    ap.add_argument("--work", help="keep inputs and tables here")
    args = ap.parse_args()

    import gen

    from acero_delta_lake_streaming_spark.session import get_spark
    from acero_delta_lake_streaming_spark.storage import delta_compat
    from acero_delta_lake_streaming_spark.streaming import feeds, ingest

    work = args.work or tempfile.mkdtemp(prefix="ingest_growth_")
    drop, tables, cp = (os.path.join(work, d) for d in ("drop", "tables", "cp"))
    os.makedirs(drop, exist_ok=True)
    spark = get_spark(
        app_name="ingest_growth",
        master=f"local[{NPROC}]",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    feed_gen = gen.FeedGenerator(args.seed, 30, 10)
    counter = JobCounter(spark)
    phases = phase_listener()
    spark.streams.addListener(phases)
    print("poll files ingest_s ingest_jobs ingest_listing "
          "refresh_s refresh_jobs refresh_listing "
          + " ".join(f"{p}_ms" for p in PHASES))
    try:
        for poll in range(args.polls):
            docs = feed_gen.next_cycle()
            feeds.drop_feed_batch(spark, docs, drop, f"poll_{feed_gen.cycle:06d}")
            n_files = sum(n.endswith(".parquet") for n in os.listdir(drop))
            counter.take()
            t0 = time.perf_counter()
            ingest.run_news_ingest(spark, drop, tables, cp)
            t1 = time.perf_counter()
            ingest_jobs = counter.take()  # also flushes the progress events
            ms = " ".join(f"{phases.ms[p]:{len(p) + 3}d}" for p in PHASES)
            phases.ms = dict.fromkeys(PHASES, 0)
            t2 = time.perf_counter()
            delta_compat.read_delta(
                spark, os.path.join(tables, "curated")
            ).groupBy("category").count().collect()
            t3 = time.perf_counter()
            refresh_jobs = counter.take()
            print(f"{poll:4d} {n_files:5d} {t1 - t0:8.3f} {ingest_jobs[0]:11d} "
                  f"{ingest_jobs[1]:14d} {t3 - t2:9.3f} {refresh_jobs[0]:12d} "
                  f"{refresh_jobs[1]:15d} {ms}", flush=True)
    finally:
        spark.stop()
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
