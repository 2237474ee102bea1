"""bench.py's protected emitted set is read from the newest round
record at run time, not kept as a hand-copied list."""

from __future__ import annotations

import json
import os

import bench

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _record(path, queries):
    parsed = None if queries is None else {"queries": queries}
    with open(path, "w") as fh:
        json.dump({"parsed": parsed}, fh)


def test_prev_emitted_reads_highest_numbered_record(tmp_path):
    """Numeric N (r14 beats r9), ``_c8`` variants and other files are
    not round records, and an unparsed record protects nothing."""
    _record(tmp_path / "BENCH_r9.json", {"old": 1.0})
    _record(tmp_path / "BENCH_r14.json", {"a": 1.0, "b": -1.0})
    _record(tmp_path / "BENCH_r15_c8.json", {"c8": 1.0})
    _record(tmp_path / "BENCH_FREEZE_r16.json", {"freeze": 1.0})
    assert bench._prev_emitted(str(tmp_path)) == {"a", "b"}
    _record(tmp_path / "BENCH_r15.json", None)
    assert bench._prev_emitted(str(tmp_path)) == set()


def test_prev_emitted_matches_newest_repo_record():
    """The newest record in the repo is BENCH_r14.json; its 66 emitted
    names are the protected set (the list bench.py used to carry)."""
    with open(os.path.join(_ROOT, "BENCH_r14.json")) as fh:
        r14 = set(json.load(fh)["parsed"]["queries"])
    got = bench._prev_emitted()
    assert got == r14 and len(got) == 66
    assert {"st27_streaming_graph_ann", "x65_lsh_sweep"} <= got
