"""Self-tests for the benchmark's own logic; no Spark needed.

    python3 -m pytest newsbench/test_newsbench.py -q
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from check import compare  # noqa: E402
from harness import tail, tail_percentile  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _rss(seed: int, cycles: int = 3) -> list:
    g = gen.FeedGenerator(seed, new_per_feed=5, replay_per_feed=2)
    return [g.next_cycle() for _ in range(cycles)]


def _corpus(seed: int, out: str) -> dict[str, str]:
    tables = gen.fixture_tables(seed, 0.001)
    tables.update(gen.corpus_tables(seed, base_docs=200, base_vecs=100, replicas=2, dup_share=0.05))
    gen.write_tables(tables, out)
    return _digest(out)


def test_same_seed_same_bytes(tmp_path):
    assert _rss(7) == _rss(7)
    assert _corpus(7, str(tmp_path / "a")) == _corpus(7, str(tmp_path / "b"))


def test_other_seed_other_bytes(tmp_path):
    assert _rss(7) != _rss(8)
    a, b = _corpus(7, str(tmp_path / "a")), _corpus(8, str(tmp_path / "b"))
    for table in ("orders.parquet", "lineitem.parquet", "documents.parquet", "embeddings.parquet"):
        assert a[table] != b[table]


def test_feed_generator_answer_matches_its_documents():
    """The generator's expected answer follows from the documents it
    emitted: every guid counted once, replays dropped, mock rule applied."""
    from xml.etree import ElementTree as ET

    g = gen.FeedGenerator(3, new_per_feed=6, replay_per_feed=3)
    seen, served, categories, quarantined = set(), 0, {}, 0
    for _ in range(4):
        for _feed, xml in g.next_cycle():
            for item in ET.fromstring(xml).iter("item"):
                served += 1
                guid = item.findtext("guid")
                if guid in seen:
                    continue
                seen.add(guid)
                h = hashlib.md5(f"{item.findtext('title')}\n{item.findtext('description')}".encode()).hexdigest()
                if h[0] == "f":
                    quarantined += 1
                else:
                    c = gen.EVENT_CATEGORIES[int(h[1], 16) % 5]
                    categories[c] = categories.get(c, 0) + 1
    assert seen == g.seen and served == g.served_rows
    assert g.replayed_rows == served - len(seen) > 0
    assert categories == g.expected_categories and quarantined == g.expected_quarantine


@pytest.mark.parametrize("n", [11, 12, 20, 21, 40, 65, 100, 101, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    p = tail_percentile(n)
    rank = math.ceil(p * n / 100)
    assert n - rank >= 10
    # one percent higher would leave fewer than ten beyond
    assert p == 100 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_value_and_small_sample_fallback():
    xs = [float(i) for i in range(1, 66)]  # 65 samples: p84 is the 55th value
    value, rule = tail(xs)
    assert rule == "p84 (n=65)" and value == 55.0
    assert sum(x > value for x in xs) == 10
    value, rule = tail([3.0, 1.0, 2.0])
    assert value == 3.0 and rule.startswith("max")
    assert tail_percentile(10) is None


def test_checker_flags_planted_wrong_answer():
    want = pd.DataFrame({"category": ["a", "b", "c"], "n": [3, 2, 1]})
    same = pd.DataFrame({"n": [1, 3, 2], "category": ["c", "a", "b"]})  # reordered
    assert compare(same, want) is None
    wrong_value = same.assign(n=[1, 3, 9])
    assert compare(wrong_value, want) == "value hash differs"
    assert compare(same.iloc[:2], want).startswith("rows")
    assert compare(same.rename(columns={"n": "count"}), want).startswith("columns")
    # floats compare exactly after the parity gate's normalization
    assert compare(pd.DataFrame({"x": [1.0, 2.5]}), pd.DataFrame({"x": [1, 2.5]})) is None
    assert compare(pd.DataFrame({"x": [2.5000001]}), pd.DataFrame({"x": [2.5]})) is not None
