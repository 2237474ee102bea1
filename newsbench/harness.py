"""Process plumbing: the Spark session's life, host witnesses, statistics.

The session is the engine's own ``session.get_spark`` on ``local[nproc]``
with the UI off. Every file Spark, the JVM or Python writes goes under the
benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import math
import os
import platform
import signal
import statistics
import time

NPROC = len(os.sched_getaffinity(0))


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Only where files go and what the console shows: every engine setting,
    # shuffle partitions and heap size included, is the engine's own default.
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(work: str):
    from acero_delta_lake_streaming_spark.session import get_spark

    spark = get_spark(
        app_name="newsbench", master=f"local[{NPROC}]", extra_conf=session_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, end the JVM and every process below it, and wait
    for each to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    pids = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --------------------------------------------------------------------------
# host witnesses
# --------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, summed over cores."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_share(since: tuple[int, int] | None = None) -> float:
    """Share of CPU time stolen by the hypervisor since ``since``, or over
    a short window from now."""
    if since is None:
        since = cpu_ticks()
        time.sleep(0.2)
    t1, s1 = cpu_ticks()
    return (s1 - since[1]) / max(t1 - since[0], 1)


def cal_py_ms() -> float:
    """Median of three fixed single-thread spins: an absolute clock for
    comparing runs across time on a host whose speed drifts."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


def cal_spark_ms(spark) -> float:
    """Median of three fixed parallel JVM jobs, the multi-core twin."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1 << 21).selectExpr("count(if((id * id) % 7 = 0, 1, NULL))").collect()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


def cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.lower().startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def host_record() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_1m_pre": os.getloadavg()[0],
        "steal_share_pre": steal_share(),
        "cal_py_ms": cal_py_ms(),
    }


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p whose nearest-rank value has at least
    ten samples above it: rank ceil(p*n/100) <= n - 10. None if n < 11."""
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    while p > 0 and math.ceil(p * n / 100) > n - 10:
        p -= 1
    return p


def tail(values: list[float]) -> tuple[float, str]:
    """(value, rule) for the tail metric. When no percentile above the
    median has ten samples beyond it (n < 21), the tail is the maximum."""
    xs = sorted(values)
    p = tail_percentile(len(xs))
    if p is None or p <= 50:
        return xs[-1], f"max (n={len(xs)} < 21)"
    return xs[math.ceil(p * len(xs) / 100) - 1], f"p{p} (n={len(xs)})"


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0
