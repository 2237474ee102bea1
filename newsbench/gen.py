"""Seeded input generators: RSS poll cycles, the fixture tables, the corpus.

Everything here is pure Python/NumPy/PyArrow and touches no Spark, so the
engine only ever receives the files and strings produced below. The same
seed gives byte-identical outputs (the self-tests pin this).

The fixture tables mimic the shapes and value domains of the repository's
TPC-H-style fixtures (``FIXTURES.md``: independent uniform columns, sorted
event timestamps, 31-word document vocabulary with planted " dup"
near-duplicates, unit-norm 64-d embeddings), so every registry query and
its DuckDB oracle run on them exactly as on those fixtures.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta, timezone
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: the reference's five BBC feeds (collector.py:28-34), as feed ids
FEEDS = ("business", "health", "politics", "science_and_environment", "technology")

#: the mock extraction provider's category list (schemas.EVENT_CATEGORIES);
#: duplicated here so the expected answer is computed independently.
EVENT_CATEGORIES = (
    "Political Turmoil",
    "New Product Announced",
    "Leadership Change",
    "Housing Issues",
    "Others",
)

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_NEWS_VOCAB = (
    "minister bank market court storm vaccine election strike budget "
    "council river climate rocket chip startup hospital union tariff "
    "energy drought satellite museum treaty police school harbour "
    "reactor glacier festival parliament"
).split()
_ADJ = ("small", "red", "blue", "large", "new", "old", "hot", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_ROT = "etaoinshrd"  # scale_probe.py's replica letter rotation
_REPLICA_ID_STRIDE = 10_000_000


def _rng(seed: int, *stream: int | str) -> np.random.Generator:
    """Independent stream per (seed, purpose), stable across NumPy runs."""
    words = [seed] + [
        s if isinstance(s, int) else int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        for s in stream
    ]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(words)))


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    idx = rng.choice(len(values), size=n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    d = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(seed: int, n: int) -> dict[str, list]:
    """Word-salad docs; ~5% are " dup"-suffixed copies of another doc and
    ~0.2% exact copies, the planted duplicates the dedup operators find."""
    rng = _rng(seed, "documents")
    lens = rng.integers(8, 101, n)
    words = rng.integers(0, len(_DOC_VOCAB), int(lens.sum()))
    vocab = np.asarray(_DOC_VOCAB, dtype=object)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(n):
        if kind[i] < 0.05 and src[i] != i:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] > 0.998 and src[i] != i:
            texts[i] = texts[src[i]]
    langs = np.asarray(_LANGS, dtype=object)[rng.choice(5, n, p=_LANG_P)]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _embeddings(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x, rng.integers(0, 10, n).astype(np.int32)


def _docs_table(d: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(d["doc_id"], pa.int64()),
            "text": pa.array(d["text"], pa.string()),
            "lang": pa.array(d["lang"], pa.string()),
            "source": pa.array(d["source"], pa.string()),
            "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
        }
    )


def _emb_table(ids, x: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` (sf0.01: 60k lineitem)."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(r, _SEGMENTS, n_cust),
        }
    )
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _choice(r, names, n_part),
            "p_brand": _choice(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(r, _PTYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    r = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(r, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(r, _PRIORITIES, n_ord),
        }
    )
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
            "l_discount": np.round(r.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _choice(r, ("A", "N", "R"), n_li),
            "l_linestatus": _choice(r, ("F", "O"), n_li),
            "l_shipdate": _days(r, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    r = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + r.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev)),
            "event_type": _choice(r, _EVENT_TYPES, n_ev),
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out["documents"] = _docs_table(_documents(seed, n_docs))
    x, labels = _embeddings(seed, n_emb)
    out["embeddings"] = _emb_table(range(n_emb), x, labels)
    return out


def corpus_tables(
    seed: int, base_docs: int, base_vecs: int, replicas: int, dup_share: float
) -> dict[str, pa.Table]:
    """The scale_probe recipe, materialized: ``replicas`` copies of a
    seeded base corpus with ids shifted by 10M per replica and a
    per-replica letter rotation (replica shingles do not collide with the
    base), a seeded ``dup_share`` of each later replica replaced by a
    " dup"-suffixed copy of its base document (planted cross-replica
    near-duplicates), and embeddings replicated with seeded noise. Vector
    ids follow document ids, so doc/vector joins stay consistent."""
    base = _documents(seed, base_docs)
    bx, blabels = _embeddings(seed, base_vecs)
    rng = _rng(seed, "corpus")
    docs = {k: [] for k in base}
    ids, xs = [], []
    for i in range(replicas):
        rot = _ROT[i:] + _ROT[:i]
        table = str.maketrans(_ROT, rot)
        planted = rng.random(base_docs) < dup_share if i else np.zeros(base_docs, bool)
        for j in range(base_docs):
            text = base["text"][j]
            docs["text"].append(text + " dup" if planted[j] else text.translate(table))
            docs["doc_id"].append(base["doc_id"][j] + i * _REPLICA_ID_STRIDE)
            docs["lang"].append(base["lang"][j])
            docs["source"].append(base["source"][j])
        noisy = bx if i == 0 else bx + rng.normal(0, 0.01, bx.shape).astype(np.float32)
        xs.append(noisy / np.linalg.norm(noisy, axis=1, keepdims=True))
        ids.extend(np.arange(base_vecs, dtype=np.int64) + i * _REPLICA_ID_STRIDE)
    return {
        "documents": _docs_table(docs),
        "embeddings": _emb_table(ids, np.vstack(xs), np.tile(blabels, replicas)),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# RSS poll cycles
# --------------------------------------------------------------------------

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


class FeedGenerator:
    """Seeded RSS 2.0 documents for the five feeds, one poll cycle at a
    time. Each feed serves ``new_per_feed`` fresh items per cycle plus
    ``replay_per_feed`` items it already served in the previous two
    cycles, re-served byte-identically as real feeds do. The generator
    keeps its own expected answer: the guids served so far and, for each,
    where the mock extraction rule sends it."""

    def __init__(self, seed: int, new_per_feed: int, replay_per_feed: int):
        self.seed = seed
        self.new_per_feed = new_per_feed
        self.replay_per_feed = replay_per_feed
        self.cycle = 0
        self._recent: dict[str, list[list[dict]]] = {f: [] for f in FEEDS}
        self.seen: set[str] = set()
        self.expected_categories: dict[str, int] = {}
        self.expected_quarantine = 0
        self.served_rows = 0
        self.replayed_rows = 0

    def _item(self, rng, feed: str, n: int) -> dict:
        title = " ".join(rng.choice(_NEWS_VOCAB, rng.integers(4, 9))).capitalize()
        desc = " ".join(rng.choice(_NEWS_VOCAB, rng.integers(12, 30)))
        guid = f"https://news.example.org/{feed}/{self.seed}-{self.cycle}-{n}"
        when = _EPOCH + timedelta(seconds=300 * self.cycle + int(rng.integers(0, 300)))
        item = {
            "title": title,
            "description": desc,
            "guid": guid,
            "link": guid + "?at_medium=RSS",
            "pubDate": when.strftime("%a, %d %b %Y %H:%M:%S GMT"),
        }
        if rng.random() < 0.8:
            item["thumb"] = f"https://img.example.org/{feed}/{self.cycle}-{n}.jpg"
        return item

    def next_cycle(self) -> list[tuple[str, str]]:
        """(feed_id, xml) documents of the next poll; updates the answer."""
        docs = []
        for feed in FEEDS:
            rng = _rng(self.seed, "rss", feed, self.cycle)
            fresh = [self._item(rng, feed, n) for n in range(self.new_per_feed)]
            pool = [it for batch in self._recent[feed][-2:] for it in batch]
            k = min(self.replay_per_feed, len(pool))
            replay = [pool[i] for i in sorted(rng.choice(len(pool), k, replace=False))] if k else []
            items = fresh + replay
            docs.append((feed, _rss_xml(feed, items)))
            self._recent[feed].append(fresh)
            self.served_rows += len(items)
            for it in items:
                if it["guid"] in self.seen:
                    self.replayed_rows += 1
                    continue
                self.seen.add(it["guid"])
                h = hashlib.md5(f"{it['title']}\n{it['description']}".encode()).hexdigest()
                if h[0] == "f":
                    self.expected_quarantine += 1
                else:
                    cat = EVENT_CATEGORIES[int(h[1], 16) % 5]
                    self.expected_categories[cat] = self.expected_categories.get(cat, 0) + 1
        self.cycle += 1
        return docs


def _rss_xml(feed: str, items: list[dict]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">'
        f"<channel><title>News - {escape(feed)}</title>"
        f"<link>https://news.example.org/{feed}</link>"
    ]
    for it in items:
        thumb = (
            f'<media:thumbnail width="240" height="135" url="{escape(it["thumb"])}"/>'
            if "thumb" in it else ""
        )
        parts.append(
            f"<item><title>{escape(it['title'])}</title>"
            f"<description>{escape(it['description'])}</description>"
            f"<link>{escape(it['link'])}</link>"
            f'<guid isPermaLink="false">{escape(it["guid"])}</guid>'
            f"<pubDate>{it['pubDate']}</pubDate>{thumb}</item>"
        )
    parts.append("</channel></rss>")
    return "".join(parts)
