"""Corpus search & record linkage — the retrieval layer of a
training-data pipeline: BM25 keyword scoring over ``documents`` and
edit-distance record linkage over ``part`` names.

The reference has no retrieval layer (its search surface is the
Streamlit keyword filter over collected articles, visualizer.py:62-74,
which is a plain substring match); these operators give the engine the
two retrieval shapes a 100 TB curation stack actually runs:

* **x21_bm25_topk** — BM25 keyword ranking expressed as the
  inverted-index *probe* plan: explode tokens, keep only query terms
  (the filter lands before any shuffle, so the corpus-wide explode
  never materializes non-matching terms), aggregate per-(doc, term)
  tf, broadcast the tiny per-term df table and the one-row corpus
  stats row back onto the candidates, and TakeOrdered the final
  scores. No inverted index is materialized — at 100 TB the index IS
  the probe-side shuffle, keyed by doc, sized by matching docs only.

  Parity: classic BM25 is ``idf(t) * tf*(k1+1) / (tf + k1*(1-b +
  b*dl/avgdl))`` with a log idf. ``ln`` is the one primitive Spark's
  JVM (1-ulp Math.log) and DuckDB's libm do not promise to round
  identically, so the hash gate can't use it: this implementation
  keeps Robertson tf-saturation and length normalization bit-exact in
  scaled integers (k1=1.2, b=0.75 — the standard constants — as the
  rationals 12/10 and 7500/10000) and swaps the log idf for the
  monotone rational ``1e6 DIV df`` (harmonic idf). Ranking is
  preserved for any monotone idf; production would use ln.

* **x23_fuzzy_linkage** — entity resolution over part names:
  Levenshtein distance (identical DP definition in Spark and DuckDB,
  integer-exact) between names sharing a blocking key. The scale move
  is **distinct-first**: names collapse to the distinct-string level
  (with support counts) *before* the quadratic compare, so the pair
  space is |vocab|² — constant under corpus growth — instead of N².
  Blocking on the name's noun token then bounds each compare block to
  the adjectives sharing that noun. A 100× corpus changes only the
  support counts, never the pair count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from acero_delta_lake_streaming_spark.catalog import load_table
from acero_delta_lake_streaming_spark.operators.dedup import (
    _WORDS_DUCK,
    _WORDS_SPARK,
)
from acero_delta_lake_streaming_spark.plans.cache import scoped_persist

# --------------------------------------------------------------------------
# x21 — BM25 top-k keyword retrieval
# --------------------------------------------------------------------------

_QUERY_TERMS = ("spark", "vector", "merge", "stream")
_TOPK = 25

# Robertson/BM25 constants as exact rationals (k1 = 1.2, b = 0.75).
# lennorm_bp = 1e4 * (1 - b + b * dl/avgdl); saturation in ppm:
#   sat_ppm = 1e6 * tf*(k1+1) / (tf + k1*lennorm/1e4)
#           = 1e6 * 220000*tf DIV (100000*tf + 12*lennorm_bp)
# idf_ppm  = 1e6 DIV df  (monotone rational idf — see module docstring).
# contribution = idf_ppm * sat_ppm DIV 1e6, summed per doc. All integer.


def bm25_scores(
    docs: DataFrame,
    terms: tuple[str, ...] = _QUERY_TERMS,
    topk: int = _TOPK,
) -> DataFrame:
    """Library form: rank ``(doc_id, text)`` rows for ``terms`` under
    integer-exact BM25 (see module docstring). The registry query wraps
    the documents table; tests drive controlled corpora through the
    same plan and check against an independent Python fold."""
    docs = docs.select(
        "doc_id", F.expr(_WORDS_SPARK).alias("w")
    ).withColumn("dl", F.size("w"))

    # One-row corpus stats (N, floor-avg doc length), broadcast back on
    # a literal key — a BroadcastHashJoin, not a cartesian.
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(dl) DIV count(*)").alias("avgdl"),
    ).withColumn("k", F.lit(1))

    # Persisted: both the df table and the scoring pass consume the
    # matched-term aggregate — without the cache the corpus-wide explode
    # would run twice (the expensive stage at 100 TB).
    matched = scoped_persist(
        docs.select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = (
        matched.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        matched.join(F.broadcast(df_tbl), "term")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .withColumn(
            "lennorm_bp", F.expr("2500 + (7500 * dl) DIV avgdl")
        )
        .withColumn(
            # 220000 * tf first: tf is BIGINT (count), so the product
            # promotes before the 1e6 scale-up — two int literals
            # multiplied first would overflow Spark's INT silently.
            "sat_ppm",
            F.expr(
                "(220000 * tf * 1000000) DIV "
                "(100000 * tf + 12 * lennorm_bp)"
            ),
        )
        .withColumn("idf_ppm", F.expr("1000000 DIV df"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum(F.expr("idf_ppm * sat_ppm DIV 1000000"))
            .cast("bigint")
            .alias("score_ppm"),
        )
    )
    return (
        scored.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(topk)
    )


def x21_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 documents for a 4-term keyword query under integer-exact
    BM25 (k1=1.2, b=0.75, harmonic idf). Columns: doc_id, n_terms_hit,
    score_ppm."""
    return bm25_scores(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

_X21_SQL = (
    "WITH d AS (SELECT doc_id, "
    f"len({_WORDS_DUCK}) AS dl, {_WORDS_DUCK} AS w FROM documents), "
    "stats AS (SELECT count(*) AS n_docs, "
    "CAST(sum(dl) AS BIGINT) // count(*) AS avgdl FROM d), "
    "t AS (SELECT doc_id, dl, term, count(*) AS tf FROM ("
    "SELECT doc_id, dl, unnest(w) AS term FROM d) "
    f"WHERE term IN ({_TERMS_SQL}) GROUP BY 1, 2, 3), "
    "dfs AS (SELECT term, count(*) AS df FROM t GROUP BY 1), "
    "c AS (SELECT t.doc_id, "
    "2500 + (7500 * t.dl) // s.avgdl AS lennorm_bp, t.tf, dfs.df "
    "FROM t JOIN dfs ON t.term = dfs.term CROSS JOIN stats s), "
    "scored AS (SELECT doc_id, "
    "CAST(count(*) AS BIGINT) AS n_terms_hit, "
    "CAST(sum((1000000 // df) * "
    "((220000 * tf * 1000000) // (100000 * tf + 12 * lennorm_bp)) "
    "// 1000000) AS BIGINT) AS score_ppm "
    "FROM c GROUP BY 1) "
    "SELECT doc_id, n_terms_hit, score_ppm FROM scored "
    f"ORDER BY score_ppm DESC, doc_id ASC LIMIT {_TOPK}"
)


# --------------------------------------------------------------------------
# x21b — BM25 with the PRODUCTION log idf (tolerance-verified twin)
# --------------------------------------------------------------------------

# Classic Robertson idf ln(1 + (N - df + 0.5)/(df + 0.5)), computed by
# a PORTABLE ln: the builtin `ln` is the one primitive whose result is
# NOT identical across engines (measured here: JVM Math.log and DuckDB's
# libm disagree by 1 ulp on real df inputs of this very corpus — both
# only promise ≤1 ulp), so x21b evaluates ln as a fixed sequence of
# IEEE exact-or-correctly-rounded operations that both engines must
# round identically:
#   1. range-reduce x = m · 2^k with INTEGER-EXACT steps: k from the
#      bit length of floor(x) (x > 1 always here), m = x / 2^k — the
#      divisor is an exact power of two, so the division is exact;
#      one conditional halving centers m in [1/√2·√2) ≈ [1, 1.415).
#   2. ln(m) = 2·atanh(z), z = (m-1)/(m+1), |z| ≤ 0.172, via an
#      11-term Horner polynomial in z² (truncation < 3e-18, far below
#      double roundoff).
#   3. ln(x) = k·ln2 + 2·z·poly with ln2 as a literal.
# Every +,-,*,/ and comparison is deterministic IEEE double math, the
# literals parse to identical doubles, so Spark ≡ DuckDB bit-for-bit —
# by construction, not by libm luck. Accuracy vs math.log is pinned
# < 1e-13 relative in tests/test_retrieval.py.
_SQRT2 = "1.4142135623730951"
_LN2 = "0.6931471805599453"
_ATANH_POLY = (
    "(1.0 + ls * (0.3333333333333333 + ls * (0.2 + ls * "
    "(0.14285714285714285 + ls * (0.1111111111111111 + ls * "
    "(0.09090909090909091 + ls * (0.07692307692307693 + ls * "
    "(0.06666666666666667 + ls * (0.058823529411764705 + ls * "
    "(0.05263157894736842 + ls * 0.047619047619047616))))))))))"
)


def _portable_ln(df: DataFrame, out: str) -> DataFrame:
    """Append ``out`` = ln(lx) via the cross-engine-stable construction
    (CLAUDE.md invariant; builtin ln differs by 1 ulp between JVM and
    DuckDB libm — measured round 5): integer-exact range reduction
    (floor/bin/shiftleft), sqrt2 fold, then the atanh Horner series —
    an identical IEEE op sequence in both engines, <1e-12 vs math.log.
    Expects a DOUBLE column ``lx`` >= 1. This helper is the SINGLE
    source of the Spark-side sequence; ``_portable_ln_ctes`` is its SQL
    twin — a change to one without the other diverges every hash that
    rides a logarithm. Intermediates (k0..ls) stay for the caller's
    next projection to drop."""
    return (
        df.withColumn(
            "k0", F.expr("length(bin(CAST(floor(lx) AS BIGINT))) - 1")
        )
        .withColumn(
            "m0",
            F.expr(
                "lx / CAST(shiftleft(CAST(1 AS BIGINT), k0) AS DOUBLE)"
            ),
        )
        .withColumn(
            "lnk",
            F.expr(f"k0 + (CASE WHEN m0 > {_SQRT2} THEN 1 ELSE 0 END)"),
        )
        .withColumn(
            "lm",
            F.expr(f"CASE WHEN m0 > {_SQRT2} THEN m0 * 0.5 ELSE m0 END"),
        )
        .withColumn("lz", F.expr("(lm - 1.0) / (lm + 1.0)"))
        .withColumn("ls", F.expr("lz * lz"))
        .withColumn(
            out,
            F.expr(
                f"CAST(lnk AS DOUBLE) * {_LN2} "
                f"+ 2.0 * lz * {_ATANH_POLY}"
            ),
        )
    )


def _portable_ln_ctes(src: str, prefix: str, final_select: str,
                      out: str) -> str:
    """The DuckDB twin of :func:`_portable_ln`: a CTE chain
    ``{prefix}1..{prefix}6`` computing ``out`` = ln(lx) over CTE
    ``src``; ``{prefix}6`` projects ``final_select`` plus ``out``."""
    return (
        f"{prefix}1 AS (SELECT *, "
        f"length(bin(CAST(floor(lx) AS BIGINT))) - 1 AS k0 FROM {src}), "
        f"{prefix}2 AS (SELECT *, "
        f"lx / CAST((CAST(1 AS BIGINT) << k0) AS DOUBLE) AS m0 "
        f"FROM {prefix}1), "
        f"{prefix}3 AS (SELECT *, "
        f"k0 + (CASE WHEN m0 > {_SQRT2} THEN 1 ELSE 0 END) AS lnk, "
        f"CASE WHEN m0 > {_SQRT2} THEN m0 * 0.5 ELSE m0 END AS lm "
        f"FROM {prefix}2), "
        f"{prefix}4 AS (SELECT *, (lm - 1.0) / (lm + 1.0) AS lz "
        f"FROM {prefix}3), "
        f"{prefix}5 AS (SELECT *, lz * lz AS ls FROM {prefix}4), "
        f"{prefix}6 AS (SELECT {final_select}, "
        f"CAST(lnk AS DOUBLE) * {_LN2} + 2.0 * lz * {_ATANH_POLY} "
        f"AS {out} FROM {prefix}5)"
    )

_LN_SAT = (
    "(CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) "
    "+ 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
)


def x21b_bm25_ln_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x21's production twin (VERDICT r4 item 6): the SAME inverted-
    index probe plan, scored with the real logarithmic Robertson idf
    instead of x21's harmonic rational. Columns: doc_id, n_terms_hit,
    score_e9.

    ``ln`` is evaluated by the portable construction above (see
    ``_ATANH_POLY``) because the builtin differs by 1 ulp between JVM
    and libm on real inputs — measured, then designed around. The
    per-(doc, term) contribution quantizes to e9 integers BEFORE the
    per-doc sum, so the aggregate is order-independent (partial-agg
    ordering cannot flip a hash — the CLAUDE.md decimal-accumulation
    rule applied to irrational addends). Production ranking semantics,
    fully hash-gated — no tolerance needed at the gate; the tolerance
    check in tests pins the approximation against math.log instead."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
    )


def _lex_base(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared lexical-ranker inputs: the per-doc lengths
    ``(doc_id, dl)`` and the persisted matched postings
    ``(doc_id, dl, term, tf)``. The fusion queries (x62/x74/x76) run
    BOTH rankers; built separately each ranker re-tokenized the corpus
    for its own postings AND re-scanned it for its corpus statistic —
    four full text scans per query. Sharing one base makes it two
    (guide §2.4: one pass over the data; §5: persist only what is
    reused). BM25's (n_docs, avgdl) and QL's total-token count are
    exact aggregates of the dl frame, same rows as before.

    One-scan fusion (r14, guide §2.4 one pass over the data): the r13
    shape materialized dl and the matched postings from TWO separate
    corpus scans, each re-running the word split — the split is the
    dominant per-task cost of every lexical ranker (profile: the two
    tokenize stages carried ~5 s CPU each at sf0.1 in x76). Now ONE
    persisted narrow base carries both: the words array is filtered to
    the query terms MAP-SIDE (the explode shrinks from corpus×words to
    corpus×matches) and a leading NULL sentinel per document keeps
    every doc's (doc_id, dl) row alive — ``dln`` is the sentinel
    slice, ``matched`` aggregates the rest. explode_outer preserves
    the degenerate NULL-text document exactly like the old
    ``docs.select(doc_id, dl)`` did (w NULL → one NULL-term row with
    dl NULL). Row sets of both returned frames are IDENTICAL to r13's.
    Both frames share the single persisted base — the dl frame itself
    is never separately materialized."""
    terms_in = "x IN (" + ", ".join(f"'{t}'" for t in _QUERY_TERMS) + ")"
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_WORDS_SPARK).alias("w"))
        .withColumn("dl", F.size("w"))
    )
    base = scoped_persist(
        docs.select(
            "doc_id",
            "dl",
            F.explode_outer(
                F.expr(
                    "concat(array(CAST(NULL AS STRING)), "
                    f"filter(w, x -> {terms_in}))"
                )
            ).alias("term"),
        )
    )
    dln = base.filter("term IS NULL").select("doc_id", "dl")
    matched = scoped_persist(
        base.filter("term IS NOT NULL")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return dln, matched


def _bm25_scored(
    spark: SparkSession,
    sf_dir: str,
    base: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """x21b's pre-limit scored frame (doc_id, n_terms_hit, score_e9) —
    factored so the RRF fusion (x62) ranks the SAME scoring the
    standalone BM25 query ships; its SQL twin is ``_bm25_ctes``.
    ``base`` lets fusion queries share one ``_lex_base`` with QL."""
    dln, matched = base if base is not None else _lex_base(spark, sf_dir)
    stats = dln.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(sum(dl) AS DOUBLE) / count(*)").alias("avgdl"),
    ).withColumn("k", F.lit(1))
    df_tbl = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        matched.join(F.broadcast(df_tbl), "term")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .withColumn(
            "lx",
            F.expr(
                "1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) "
                "/ (CAST(df AS DOUBLE) + 0.5)"
            ),
        )
        .transform(_portable_ln, "idf")
        .withColumn(
            "contrib_e9",
            F.expr(
                f"CAST(floor(idf * {_LN_SAT} * 1000000000.0) AS BIGINT)"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum("contrib_e9").cast("bigint").alias("score_e9"),
        )
    )
    return scored.orderBy(F.desc("score_e9"), F.asc("doc_id")).limit(_TOPK)


def _bm25_ctes(p: str) -> str:
    """x21b's scored-frame CTE chain, every name ``p``-prefixed so two
    ranker chains can coexist in one statement (x62); ends in
    ``{p}scored`` (doc_id, n_terms_hit, score_e9). Single source with
    ``_bm25_scored`` — the Spark and SQL formulas must not drift."""
    return (
        f"{p}d AS (SELECT doc_id, "
        f"len({_WORDS_DUCK}) AS dl, {_WORDS_DUCK} AS w FROM documents), "
        f"{p}stats AS (SELECT count(*) AS n_docs, "
        f"CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM {p}d), "
        f"{p}t AS (SELECT doc_id, dl, term, count(*) AS tf FROM ("
        f"SELECT doc_id, dl, unnest(w) AS term FROM {p}d) "
        f"WHERE term IN ({_TERMS_SQL}) GROUP BY 1, 2, 3), "
        f"{p}dfs AS (SELECT term, count(*) AS df FROM {p}t GROUP BY 1), "
        f"{p}c0 AS (SELECT t.doc_id, t.tf, t.dl, s.avgdl, "
        "1.0 + (CAST(s.n_docs - dfs.df AS DOUBLE) + 0.5) "
        "/ (CAST(dfs.df AS DOUBLE) + 0.5) AS lx "
        f"FROM {p}t t JOIN {p}dfs dfs ON t.term = dfs.term "
        f"CROSS JOIN {p}stats s), "
        + _portable_ln_ctes(
            f"{p}c0", f"{p}c", "doc_id, tf, dl, avgdl", "idf"
        )
        + ", "
        f"{p}cx AS (SELECT doc_id, CAST(floor("
        f"idf * {_LN_SAT} * 1000000000.0) AS BIGINT) AS contrib_e9 "
        f"FROM {p}c6), "
        f"{p}scored AS (SELECT doc_id, "
        "CAST(count(*) AS BIGINT) AS n_terms_hit, "
        f"CAST(sum(contrib_e9) AS BIGINT) AS score_e9 FROM {p}cx "
        "GROUP BY 1)"
    )


_X21B_SQL = (
    "WITH "
    + _bm25_ctes("")
    + " SELECT doc_id, n_terms_hit, score_e9 FROM scored "
    f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK}"
)


# --------------------------------------------------------------------------
# X61 — Dirichlet query-likelihood ranking; X62 — hybrid RRF fusion
# --------------------------------------------------------------------------

_QL_MU = 2000  # Dirichlet smoothing mass (the standard default)
_RRF_K = 60  # reciprocal-rank damping (Cormack et al.'s constant)
_RRF_TOP = 15


def _ql_scored(
    spark: SparkSession,
    sf_dir: str,
    base: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Dirichlet-smoothed QUERY-LIKELIHOOD scored frame over the x21b
    candidate set: score(d) = Σ_hit ln(1 + tf·T/(μ·cf)) − |q|·ln((dl+μ)/μ)
    (the rank-equivalent decomposition of Σ_q ln((tf+μ·cf/T)/(dl+μ)),
    dropping the doc-independent Σ ln(μ·cf/T) term). Both logarithm
    arguments are ≥ 1 rationals of BIGINTs, evaluated by the portable
    ln and e9-quantized per contribution BEFORE any cross-row sum. SQL
    twin: ``_ql_ctes``. ``base`` lets fusion queries share one
    ``_lex_base`` with BM25."""
    dln, matched = base if base is not None else _lex_base(spark, sf_dir)
    tot = dln.agg(F.sum("dl").cast("bigint").alias("tot")).withColumn(
        "k", F.lit(1)
    )
    cfs = matched.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("cf")
    )
    hits = (
        matched.join(F.broadcast(cfs), "term")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .withColumn(
            "lx",
            F.expr(
                "1.0 + CAST(tf * tot AS DOUBLE) "
                f"/ CAST({_QL_MU} * cf AS DOUBLE)"
            ),
        )
        .transform(_portable_ln, "lnh")
        .withColumn(
            "contrib_e9",
            F.expr("CAST(floor(lnh * 1000000000.0) AS BIGINT)"),
        )
        .groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum("contrib_e9").cast("bigint").alias("hit_e9"),
        )
    )
    return (
        hits.withColumn(
            "lx",
            F.expr(
                f"CAST(dl + {_QL_MU} AS DOUBLE) "
                f"/ CAST({_QL_MU} AS DOUBLE)"
            ),
        )
        .transform(_portable_ln, "lnd")
        .withColumn(
            "base_e9",
            F.expr("CAST(floor(lnd * 1000000000.0) AS BIGINT)"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            F.expr(f"hit_e9 - {len(_QUERY_TERMS)} * base_e9")
            .cast("bigint")
            .alias("score_e9"),
        )
    )


def _ql_ctes(p: str) -> str:
    """SQL twin of :func:`_ql_scored`, ``p``-prefixed; ends in
    ``{p}scored`` (doc_id, n_terms_hit, score_e9)."""
    return (
        f"{p}d AS (SELECT doc_id, "
        f"len({_WORDS_DUCK}) AS dl, {_WORDS_DUCK} AS w FROM documents), "
        f"{p}tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tot FROM {p}d), "
        f"{p}t AS (SELECT doc_id, dl, term, count(*) AS tf FROM ("
        f"SELECT doc_id, dl, unnest(w) AS term FROM {p}d) "
        f"WHERE term IN ({_TERMS_SQL}) GROUP BY 1, 2, 3), "
        f"{p}cfs AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf "
        f"FROM {p}t GROUP BY 1), "
        f"{p}h0 AS (SELECT t.doc_id, t.dl, "
        "1.0 + CAST(t.tf * s.tot AS DOUBLE) "
        f"/ CAST({_QL_MU} * cfs.cf AS DOUBLE) AS lx "
        f"FROM {p}t t JOIN {p}cfs cfs ON t.term = cfs.term "
        f"CROSS JOIN {p}tot s), "
        + _portable_ln_ctes(f"{p}h0", f"{p}h", "doc_id, dl", "lnh")
        + ", "
        f"{p}hx AS (SELECT doc_id, dl, "
        "CAST(floor(lnh * 1000000000.0) AS BIGINT) AS contrib_e9 "
        f"FROM {p}h6), "
        f"{p}hits AS (SELECT doc_id, dl, "
        "CAST(count(*) AS BIGINT) AS n_terms_hit, "
        f"CAST(sum(contrib_e9) AS BIGINT) AS hit_e9 FROM {p}hx "
        "GROUP BY 1, 2), "
        f"{p}b0 AS (SELECT doc_id, n_terms_hit, hit_e9, "
        f"CAST(dl + {_QL_MU} AS DOUBLE) / CAST({_QL_MU} AS DOUBLE) AS lx "
        f"FROM {p}hits), "
        + _portable_ln_ctes(
            f"{p}b0", f"{p}b", "doc_id, n_terms_hit, hit_e9", "lnd"
        )
        + ", "
        f"{p}scored AS (SELECT doc_id, n_terms_hit, "
        f"CAST(hit_e9 - {len(_QUERY_TERMS)} * "
        "CAST(floor(lnd * 1000000000.0) AS BIGINT) AS BIGINT) "
        f"AS score_e9 FROM {p}b6)"
    )


def x61_ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 — Dirichlet-smoothed QUERY-LIKELIHOOD ranking (Zhai &
    Lafferty's language-model retrieval, μ = 2000): the second classic
    lexical ranking family beside BM25, scoring documents by the
    likelihood their smoothed unigram LM generates the query. Same
    inverted-index probe plan as x21b (explode → filter to query terms
    → per-(doc, term) tf; collection stats broadcast back), so the
    corpus pays ONE vocabulary-filtered shuffle; rank-equivalent
    decomposition keeps both ln arguments ≥ 1 rationals of BIGINTs
    (portable ln, e9-quantized per contribution before the
    order-independent per-doc sum). Scores are negative (log
    likelihoods) — exact BIGINT e9, fully hash-gated."""
    return (
        _ql_scored(spark, sf_dir)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
    )


_X61_SQL = (
    "WITH "
    + _ql_ctes("")
    + " SELECT doc_id, n_terms_hit, score_e9 FROM scored "
    f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK}"
)


def x62_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 — RECIPROCAL-RANK FUSION of the two lexical rankers (BM25 ×
    query likelihood): rrf(d) = Σ_lists 1/(k + rank_d), k = 60 — the
    standard hybrid-retrieval combiner (RAG stacks fuse lexical ×
    dense exactly this way; the two production lexical families stand
    in here so the certificate stays hash-exact end to end). Each
    ranker's top-k materializes via TakeOrderedAndProject (the
    scale-safe top-k — the row_number that ASSIGNS ranks runs over the
    already-limited 25-row frame, never the corpus), the fusion is a
    full-outer join of two 25-row frames, and the RRF terms are exact
    integer e6 (1000000 DIV (60 + rank)) — no float ever enters.
    Docs ranked by only one list keep rank 0 in the other column and
    contribute a single term, the standard union semantics."""
    base = _lex_base(spark, sf_dir)  # one tokenization, both arms
    rank_w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    bm = (
        _bm25_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_bm25", F.row_number().over(rank_w))
        .select("doc_id", "rank_bm25")
    )
    ql = (
        _ql_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_ql", F.row_number().over(rank_w))
        .select("doc_id", "rank_ql")
    )
    return (
        bm.join(ql, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_bm25", F.lit(0))
            .cast("bigint")
            .alias("rank_bm25"),
            F.coalesce("rank_ql", F.lit(0))
            .cast("bigint")
            .alias("rank_ql"),
        )
        .withColumn(
            "rrf_e6",
            F.expr(
                f"CASE WHEN rank_bm25 > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_bm25) ELSE 0 END "
                f"+ CASE WHEN rank_ql > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_ql) ELSE 0 END"
            ).cast("bigint"),
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


_X62_SQL = (
    "WITH "
    + _bm25_ctes("b_")
    + ", "
    + _ql_ctes("q_")
    + ", "
    "bm AS (SELECT doc_id, CAST(row_number() OVER ("
    "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_bm25 "
    "FROM (SELECT * FROM b_scored "
    f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
    "qlr AS (SELECT doc_id, CAST(row_number() OVER ("
    "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_ql "
    "FROM (SELECT * FROM q_scored "
    f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
    "f AS (SELECT COALESCE(bm.doc_id, qlr.doc_id) AS doc_id, "
    "COALESCE(bm.rank_bm25, 0) AS rank_bm25, "
    "COALESCE(qlr.rank_ql, 0) AS rank_ql "
    "FROM bm FULL OUTER JOIN qlr ON bm.doc_id = qlr.doc_id) "
    "SELECT doc_id, rank_bm25, rank_ql, "
    f"CAST(CASE WHEN rank_bm25 > 0 THEN "
    f"1000000 // ({_RRF_K} + rank_bm25) ELSE 0 END "
    f"+ CASE WHEN rank_ql > 0 THEN "
    f"1000000 // ({_RRF_K} + rank_ql) ELSE 0 END AS BIGINT) AS rrf_e6 "
    f"FROM f ORDER BY rrf_e6 DESC, doc_id ASC LIMIT {_RRF_TOP}"
)


# --------------------------------------------------------------------------
# x74 — late-interaction (ColBERT-style maxsim) dense arm fused into RRF
# --------------------------------------------------------------------------

_X74_T = 4          # pseudo-token slices per stored vector
_X74_D = 16         # dims per slice (4 x 16 = the stored 64)
_X74_PRF = 3        # pseudo-relevance-feedback docs forming the query
_X74_MISS = -(5 * 10**9)  # below any real maxsim (min = T * -1e9)


def _x74_li_spark(qv: str, de: str) -> str:
    """Spark maxsim: Σ_t max_j floor(1e9·cos(q_t, d_j)) over the T×T
    slice grid — per-pair e9 quantization BEFORE the max/sum keeps the
    certificate integer end-to-end; zero-norm slices yield NULL cosines
    that max skips (nullif per CLAUDE's div-by-zero rule)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _dot_spark,
        _norm_spark,
    )

    d = _X74_D

    def sl(col: str, var: str) -> str:
        return f"slice({col}, {d} * ({var} - 1) + 1, {d})"

    cos = (
        f"{_dot_spark(sl(qv, 't'), sl(de, 'j'))} / "
        f"nullif({_norm_spark(sl(qv, 't'))} * {_norm_spark(sl(de, 'j'))}, "
        "CAST(0.0 AS DOUBLE))"
    )
    return (
        f"aggregate(transform(sequence(1, {_X74_T}), t -> "
        f"coalesce(array_max(transform(sequence(1, {_X74_T}), j -> "
        f"CAST(floor(1e9 * ({cos})) AS BIGINT))), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def _x74_li_duck(qv: str, de: str) -> str:
    """DuckDB twin of ``_x74_li_spark`` (list_slice is end-INCLUSIVE;
    list_reduce's first-element seed absorbs exactly for + folds)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _dot_duck,
        _norm_duck,
    )

    d = _X74_D

    def sl(col: str, var: str) -> str:
        return f"list_slice({col}, {d} * ({var} - 1) + 1, {d} * {var})"

    cos = (
        f"{_dot_duck(sl(qv, 't'), sl(de, 'j'))} / "
        f"nullif({_norm_duck(sl(qv, 't'))} * {_norm_duck(sl(de, 'j'))}, "
        "CAST(0.0 AS DOUBLE))"
    )
    return (
        f"list_reduce(list_transform(range(1, {_X74_T + 1}), t -> "
        f"coalesce(list_aggregate(list_transform(range(1, {_X74_T + 1}), "
        f"j -> CAST(floor(1e9 * ({cos})) AS BIGINT)), 'max'), "
        "CAST(0 AS BIGINT))), (a, x) -> a + x)"
    )


def x74_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74 — LATE-INTERACTION dense re-rank fused into the hybrid RRF
    (VERDICT r11 item 7): x62's reciprocal-rank fusion gains the dense
    arm production hybrid retrieval runs — a ColBERT-style maxsim
    (Khattab & Zaharia 2020) where each stored 64-dim vector is read
    as ``_X74_T`` per-token embedding prefixes of ``_X74_D`` dims
    (x64's Matryoshka slicing — at 100 TB the narrow slices are byte
    ranges of the same column, no second index), and score(q, d) =
    Σ_t max_j cos(q_t, d_j). The query vector comes from
    pseudo-relevance feedback (Rocchio): the elementwise SUM of the
    BM25 top-``_X74_PRF`` docs' embeddings (sum, not mean — cosine is
    scale-invariant, so the /3 never has to cross engines), folded in
    doc_id order so both engines add in the same sequence.

    Pool-bounded like x72: the corpus is touched only by the two
    lexical rankers' inverted-index probes; the dense arm re-ranks the
    ≤2·TOPK fused pool via id-keyed embedding fetches, a 1-row query
    broadcast, and a T×T integer maxsim per candidate. Per-pair
    cosines quantize to e9 integers BEFORE max/sum; ranks fuse as
    exact integer rrf terms (1000000 DIV (k + rank)) — no float in
    the certificate. A pool doc missing its embeddings row keeps its
    lexical ranks and takes the ``_X74_MISS`` dense sentinel (the x72
    advice lesson: anchor every arm to the same pool)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _DIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = _lex_base(spark, sf_dir)  # one tokenization, both arms
    rank_w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    bm_top = scoped_persist(
        _bm25_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_bm25", F.row_number().over(rank_w))
        .select("doc_id", "rank_bm25")
    )
    ql_top = (
        _ql_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_ql", F.row_number().over(rank_w))
        .select("doc_id", "rank_ql")
    )
    # persisted: the pool feeds BOTH the semi-filter below and the
    # dense left join — unpersisted, the QL ranker chain would
    # re-evaluate once per consumer (r14; ≤2·TOPK rows)
    pool = scoped_persist(
        bm_top.join(ql_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_bm25", F.lit(0)).cast("bigint")
            .alias("rank_bm25"),
            F.coalesce("rank_ql", F.lit(0)).cast("bigint")
            .alias("rank_ql"),
        )
    )
    prf = (
        bm_top.filter(F.col("rank_bm25") <= _X74_PRF)
        .join(emb, bm_top.doc_id == emb.vec_id)
        .select(
            "doc_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .alias("de"),
        )
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(doc_id, de))), s -> s.de), "
                f"transform(sequence(1, {_DIM}), "
                "x -> CAST(0.0 AS DOUBLE)), "
                "(a, x) -> zip_with(a, x, (p, q) -> p + q))"
            ).alias("qv")
        )
    )
    # id-keyed embedding fetch (r14, guide §3.1): LEFT-outer can only
    # broadcast its RIGHT side, so the old pool LEFT JOIN emb either
    # broadcast the ENTIRE embeddings table (fixture scale) or shuffled
    # the corpus arrays on vec_id (100 TB). Pre-filtering emb to the
    # ≤2·TOPK pool ids with a broadcast left-semi join keeps the fetch
    # id-keyed: the corpus streams map-side, only survivors build. The
    # ≤2·TOPK survivors are then the broadcast (right) side of the pool
    # LEFT join — hinted, since no size statistic bounds them.
    emb_pool = emb.join(
        F.broadcast(pool.select("doc_id")),
        emb.vec_id == F.col("doc_id"),
        "left_semi",
    )
    dense = (
        pool.join(
            F.broadcast(emb_pool), pool.doc_id == emb_pool.vec_id, "left"
        )
        .crossJoin(F.broadcast(prf))
        .select(
            "doc_id",
            "rank_bm25",
            "rank_ql",
            F.coalesce(
                F.expr(
                    _x74_li_spark(
                        "qv",
                        "transform(embedding, x -> CAST(x AS DOUBLE))",
                    )
                ),
                F.lit(_X74_MISS),
            ).cast("bigint").alias("li_e9"),
        )
    )
    li_w = Window.orderBy(F.desc("li_e9"), F.asc("doc_id"))
    return (
        dense.withColumn(
            "rank_li", F.row_number().over(li_w).cast("bigint")
        )
        .withColumn(
            "rrf_e6",
            F.expr(
                f"CASE WHEN rank_bm25 > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_bm25) ELSE 0 END "
                f"+ CASE WHEN rank_ql > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_ql) ELSE 0 END "
                f"+ 1000000 DIV ({_RRF_K} + rank_li)"
            ).cast("bigint"),
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


def _x74_sql() -> str:
    li = _x74_li_duck(
        "qv.qv", "list_transform(e.embedding, x -> CAST(x AS DOUBLE))"
    )
    return (
        "WITH "
        + _bm25_ctes("b_")
        + ", "
        + _ql_ctes("q_")
        + ", "
        "bm AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_bm25 "
        "FROM (SELECT * FROM b_scored "
        f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
        "qlr AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_ql "
        "FROM (SELECT * FROM q_scored "
        f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
        "pool AS (SELECT COALESCE(bm.doc_id, qlr.doc_id) AS doc_id, "
        "COALESCE(bm.rank_bm25, 0) AS rank_bm25, "
        "COALESCE(qlr.rank_ql, 0) AS rank_ql "
        "FROM bm FULL OUTER JOIN qlr ON bm.doc_id = qlr.doc_id), "
        "qv AS (SELECT list_reduce(list(de ORDER BY doc_id), "
        "(a, x) -> list_transform(list_zip(a, x), p -> p[1] + p[2])) "
        "AS qv FROM (SELECT b.doc_id, "
        "list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS de "
        f"FROM bm b JOIN embeddings e ON e.vec_id = b.doc_id "
        f"WHERE b.rank_bm25 <= {_X74_PRF})), "
        "dense AS (SELECT p.doc_id, p.rank_bm25, p.rank_ql, "
        f"CAST(coalesce({li}, {_X74_MISS}) AS BIGINT) AS li_e9 "
        "FROM pool p LEFT JOIN embeddings e ON e.vec_id = p.doc_id "
        "CROSS JOIN qv), "
        "rnk AS (SELECT *, CAST(row_number() OVER ("
        "ORDER BY li_e9 DESC, doc_id ASC) AS BIGINT) AS rank_li "
        "FROM dense) "
        "SELECT doc_id, rank_bm25, rank_ql, rank_li, li_e9, "
        f"CAST(CASE WHEN rank_bm25 > 0 THEN "
        f"1000000 // ({_RRF_K} + rank_bm25) ELSE 0 END "
        f"+ CASE WHEN rank_ql > 0 THEN "
        f"1000000 // ({_RRF_K} + rank_ql) ELSE 0 END "
        f"+ 1000000 // ({_RRF_K} + rank_li) AS BIGINT) AS rrf_e6 "
        f"FROM rnk ORDER BY rrf_e6 DESC, doc_id ASC LIMIT {_RRF_TOP}"
    )


# --------------------------------------------------------------------------
# x76 — cross-encoder re-rank fused into the hybrid RRF
# --------------------------------------------------------------------------

_X76_QUERY = " ".join(_QUERY_TERMS)


def cross_encoder_scores(
    pool_txt: DataFrame, query: str, provider=None
) -> DataFrame:
    """Library form: score ``(doc_id, rank_bm25, rank_ql, text)`` pool
    rows with a :class:`CrossEncoderProvider` inside ONE ``mapInPandas``
    stage, parse JVM-side, and rank. The provider call happens on the
    executor per Arrow batch (texts never round-trip through the
    driver); the raw payload parses with PERMISSIVE ``from_json`` so a
    provider failure string degrades to a quarantined row
    (``ce_failed = 1``, ``rank_ce = 0`` — no dense contribution, the
    x74 missing-embedding convention) instead of crashing the stage.
    Tests drive planted-failure corpora through this exact plan."""
    from acero_delta_lake_streaming_spark.functions.extract import (
        MockCrossEncoderProvider,
    )

    provider = provider or MockCrossEncoderProvider()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "rank_bm25": pdf["rank_bm25"],
                    "rank_ql": pdf["rank_ql"],
                    "raw": provider.score_batch(query, pdf["text"]),
                }
            )

    scored = pool_txt.mapInPandas(
        run,
        "doc_id bigint, rank_bm25 bigint, rank_ql bigint, raw string",
    )
    ce_w = Window.orderBy(
        F.asc("ce_failed"), F.desc("ce_ppm"), F.asc("doc_id")
    )
    return (
        scored.withColumn(
            "ce_raw",
            F.from_json("raw", "score_ppm BIGINT").getField("score_ppm"),
        )
        .withColumn(
            "ce_failed",
            F.when(F.col("ce_raw").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .withColumn(
            "ce_ppm", F.coalesce("ce_raw", F.lit(-1)).cast("bigint")
        )
        .withColumn("rn", F.row_number().over(ce_w))
        .withColumn(
            "rank_ce",
            F.expr(
                "CAST(CASE WHEN ce_failed = 1 THEN 0 ELSE rn END "
                "AS BIGINT)"
            ),
        )
        .drop("raw", "ce_raw", "rn")
    )


def x76_cross_encoder_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X76 — CROSS-ENCODER re-rank fused into the hybrid RRF (VERDICT
    r12 item 3): the production retrieval stack's last arm after
    lexical (x21b/x61), late-interaction dense (x74) and diversity
    (x72) — a (query, doc)-PAIR scorer over the fused lexical pool,
    ud1's provider-seam pattern (functions/extract.py) applied to
    reranking. The pool is the bm25 ∪ QL top-``_TOPK`` full-outer
    fusion (≤2·TOPK docs); each pool doc's text is fetched by an
    id-keyed join (the corpus is touched only by the lexical rankers'
    inverted-index probes — pool-bounded like x72/x74), and ONE
    Arrow-batched ``mapInPandas`` stage sends (query, text) pairs to
    the :class:`CrossEncoderProvider`. The deterministic mock's score
    is a pure md5 function of the pair, so the DuckDB oracle replays
    the provider in SQL and the hash gate certifies the full
    score → parse → quarantine → fuse pipeline; the wire seam
    (``HttpCrossEncoderProvider``) swaps in per-batch rerank-API
    calls with the UD4 transient/final taxonomy. Provider failures
    (md5-gated 1/16 slice) quarantine: the row keeps its lexical
    ranks, takes ``ce_failed = 1`` and contributes no cross-encoder
    term — never crashes the stage (UD3). Ranks fuse as exact integer
    rrf terms; no float ever enters the certificate. At 100 TB the
    expensive model call touches ≤50 rows per query regardless of
    corpus size — the reason cross-encoders are re-rankers, not
    retrievers."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = _lex_base(spark, sf_dir)  # one tokenization, both arms
    rank_w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    bm_top = (
        _bm25_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_bm25", F.row_number().over(rank_w))
        .select("doc_id", "rank_bm25")
    )
    ql_top = (
        _ql_scored(spark, sf_dir, base)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .withColumn("rank_ql", F.row_number().over(rank_w))
        .select("doc_id", "rank_ql")
    )
    pool = (
        bm_top.join(ql_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_bm25", F.lit(0)).cast("bigint")
            .alias("rank_bm25"),
            F.coalesce("rank_ql", F.lit(0)).cast("bigint")
            .alias("rank_ql"),
        )
    )
    # id-keyed text fetch: broadcast the ≤2·TOPK pool into the corpus
    # scan — the probe side must never shuffle corpus-wide text
    pool_txt = docs.join(F.broadcast(pool), "doc_id")
    ce = cross_encoder_scores(pool_txt, _X76_QUERY)
    return (
        ce.withColumn(
            "rrf_e6",
            F.expr(
                f"CASE WHEN rank_bm25 > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_bm25) ELSE 0 END "
                f"+ CASE WHEN rank_ql > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_ql) ELSE 0 END "
                f"+ CASE WHEN rank_ce > 0 THEN "
                f"1000000 DIV ({_RRF_K} + rank_ce) ELSE 0 END"
            ).cast("bigint"),
        )
        .select(
            "doc_id", "rank_bm25", "rank_ql", "ce_ppm", "ce_failed",
            "rank_ce", "rrf_e6",
        )
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


def _x76_sql() -> str:
    def dig(p: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"

    score = (
        f"(4096 * {dig(2)} + 256 * {dig(3)} + 16 * {dig(4)} + {dig(5)})"
    )
    return (
        "WITH "
        + _bm25_ctes("b_")
        + ", "
        + _ql_ctes("q_")
        + ", "
        "bm AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_bm25 "
        "FROM (SELECT * FROM b_scored "
        f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
        "qlr AS (SELECT doc_id, CAST(row_number() OVER ("
        "ORDER BY score_e9 DESC, doc_id ASC) AS BIGINT) AS rank_ql "
        "FROM (SELECT * FROM q_scored "
        f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})), "
        "pool AS (SELECT COALESCE(bm.doc_id, qlr.doc_id) AS doc_id, "
        "COALESCE(bm.rank_bm25, 0) AS rank_bm25, "
        "COALESCE(qlr.rank_ql, 0) AS rank_ql "
        "FROM bm FULL OUTER JOIN qlr ON bm.doc_id = qlr.doc_id), "
        "ce AS (SELECT p.doc_id, p.rank_bm25, p.rank_ql, "
        f"md5(concat('{_X76_QUERY}', '|', d.text)) AS h "
        "FROM pool p JOIN documents d ON d.doc_id = p.doc_id), "
        "sc AS (SELECT doc_id, rank_bm25, rank_ql, "
        "CAST(CASE WHEN substr(h, 1, 1) = 'f' THEN 1 ELSE 0 END "
        "AS BIGINT) AS ce_failed, "
        "CAST(CASE WHEN substr(h, 1, 1) = 'f' THEN -1 "
        f"ELSE {score} END AS BIGINT) AS ce_ppm FROM ce), "
        "rnk AS (SELECT *, row_number() OVER (ORDER BY ce_failed ASC, "
        "ce_ppm DESC, doc_id ASC) AS rn FROM sc) "
        "SELECT doc_id, rank_bm25, rank_ql, ce_ppm, ce_failed, "
        "CAST(CASE WHEN ce_failed = 1 THEN 0 ELSE rn END AS BIGINT) "
        "AS rank_ce, "
        f"CAST(CASE WHEN rank_bm25 > 0 THEN "
        f"1000000 // ({_RRF_K} + rank_bm25) ELSE 0 END "
        f"+ CASE WHEN rank_ql > 0 THEN "
        f"1000000 // ({_RRF_K} + rank_ql) ELSE 0 END "
        f"+ CASE WHEN ce_failed = 0 THEN "
        f"1000000 // ({_RRF_K} + rn) ELSE 0 END AS BIGINT) AS rrf_e6 "
        f"FROM rnk ORDER BY rrf_e6 DESC, doc_id ASC LIMIT {_RRF_TOP}"
    )


# --------------------------------------------------------------------------
# x77 — learned-sparse (SPLADE-family) expansion retrieval
# --------------------------------------------------------------------------

_X77_TOP = 25
# doc-side "learned" term importance + expansion gate (md5 mock rules,
# mirrored verbatim in the oracle): wt(term) = 1 + hex digit 1 of
# md5(term) (= strpos/instr over the hex alphabet, 1..16); a term
# EXPANDS to reverse(term) at ceil(wt / 2) iff md5(term)[0] < '8'
# (ceil keeps weight-1 terms' expansions alive — 'merge' is the
# fixture channel that fires on BOTH sides)
_X77_WT_SPARK = "instr('0123456789abcdef', substr(md5(term), 2, 1))"
_X77_WT_DUCK = "strpos('0123456789abcdef', substr(md5(term), 2, 1))"
_X77_EXP_PRED = "substr(md5(term), 1, 1) < '8'"


def _x77_qvec() -> dict[str, int]:
    """The query's sparse vector, encoded ONCE driver-side (exactly
    where a real system runs the query encoder — never per row): term
    weights from the 'q|'-salted md5 rule, plus reversed expansion
    terms at half weight under the same gate. Inlined as literals in
    BOTH engines, so parity is by construction."""
    import hashlib

    q: dict[str, int] = {}
    for t in _QUERY_TERMS:
        h = hashlib.md5(f"q|{t}".encode()).hexdigest()
        wq = int(h[1], 16) + 1
        q[t] = q.get(t, 0) + wq
        if h[0] < "8":
            r = t[::-1]
            q[r] = q.get(r, 0) + (wq + 1) // 2
    return q


def x77_learned_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 — LEARNED-SPARSE retrieval (SPLADE/uniCOIL family, Formal et
    al. 2021): the retrieval stack's expansion-index arm. Each document
    token carries a "learned" importance weight, and gated tokens ALSO
    index under an expansion key they don't literally contain — the
    property that lets a sparse index match semantically without
    lexical overlap, which neither BM25 (x21b) nor QL (x61) can do.
    Both the weight and the expansion gate are deterministic md5 mocks
    (the ud1/x76 convention: the oracle replays them in SQL, the hash
    gate certifies the full expansion-index plan; a real checkpoint
    swaps in via the same seam).

    score(d) = Σ_{k ∈ keys(q) ∩ keys(d)} w_d(k)·w_q(k), exact integers
    end to end. Scale shape — the reason learned-sparse serves from
    inverted indexes at 100 TB: the query vector is encoded ONCE
    driver-side (≤ 2·|q| keys) and broadcast; the corpus explode is
    filtered by that literal key set (direct keys ∪ reversed keys)
    BEFORE the one doc-keyed shuffle, so only matching postings ever
    move — x21's probe plan with the expansion arm unioned in
    map-side. Per-occurrence weights sum to tf·wt under the grouped
    aggregate (weights are per-term constants), and a key hit by both
    arms (a literal term AND someone's expansion) accumulates once per
    the sparse-dot semantics."""
    qvec = _x77_qvec()
    keys = sorted(qvec)
    rkeys = [k[::-1] for k in keys]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_WORDS_SPARK).alias("w")
    )
    toks = docs.select("doc_id", F.explode("w").alias("term"))
    direct = toks.filter(F.col("term").isin(*keys)).select(
        "doc_id",
        F.col("term").alias("key"),
        F.expr(_X77_WT_SPARK).cast("bigint").alias("wt"),
    )
    exp = (
        toks.filter(F.col("term").isin(*rkeys))
        .filter(F.expr(_X77_EXP_PRED))
        .select(
            "doc_id",
            F.expr("reverse(term)").alias("key"),
            F.expr(f"({_X77_WT_SPARK} + 1) DIV 2").cast("bigint")
            .alias("wt"),
        )
    )
    qdf = spark.createDataFrame(
        [(k, qvec[k]) for k in keys], "key string, wq long"
    )
    return (
        direct.unionByName(exp)
        .groupBy("doc_id", "key")
        .agg(F.sum("wt").cast("bigint").alias("wd"))
        .join(F.broadcast(qdf), "key")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys_hit"),
            F.sum(F.col("wd") * F.col("wq")).cast("bigint").alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_X77_TOP)
    )


def _x77_sql() -> str:
    qvec = _x77_qvec()
    keys = sorted(qvec)
    keys_sql = ", ".join(f"'{k}'" for k in keys)
    rkeys_sql = ", ".join(f"'{k[::-1]}'" for k in keys)
    vals = ", ".join(f"('{k}', {qvec[k]})" for k in keys)
    return (
        f"WITH d AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents), "
        "t AS (SELECT doc_id, unnest(w) AS term FROM d), "
        "direct AS (SELECT doc_id, term AS key, "
        f"CAST({_X77_WT_DUCK} AS BIGINT) AS wt "
        f"FROM t WHERE term IN ({keys_sql})), "
        "exp AS (SELECT doc_id, reverse(term) AS key, "
        f"CAST(({_X77_WT_DUCK} + 1) // 2 AS BIGINT) AS wt "
        f"FROM t WHERE term IN ({rkeys_sql}) AND {_X77_EXP_PRED}), "
        "ent AS (SELECT doc_id, key, CAST(sum(wt) AS BIGINT) AS wd "
        "FROM (SELECT * FROM direct "
        "UNION ALL SELECT * FROM exp) GROUP BY 1, 2), "
        f"qv(key, wq) AS (SELECT * FROM (VALUES {vals})) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_keys_hit, "
        "CAST(sum(wd * wq) AS BIGINT) AS score "
        "FROM ent JOIN qv USING (key) GROUP BY 1 "
        f"ORDER BY score DESC, doc_id ASC LIMIT {_X77_TOP}"
    )


# --------------------------------------------------------------------------
# x23 — edit-distance record linkage (distinct-first + blocking)
# --------------------------------------------------------------------------

_LINK_MAX_DIST = 3  # adjacent part names differ in the adjective token


def link_names(
    parts: DataFrame, max_dist: int = _LINK_MAX_DIST
) -> DataFrame:
    """Library form: near-identical name pairs over ``(p_name,)`` rows —
    distinct-first + noun-token blocking + Levenshtein. The registry
    query wraps the part table; tests drive planted-typo corpora."""
    # Persisted: the self-join consumes the distinct-name aggregate on
    # both sides — one corpus scan, not two.
    names = scoped_persist(
        parts.groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .withColumn("noun", F.expr("split(name, ' ')[1]"))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(F.broadcast(b), on=[F.col("a.noun") == F.col("b.noun"),
                                   F.col("a.name") < F.col("b.name")])
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.alias("dist"),
            F.col("a.support").alias("support_a"),
            F.col("b.support").alias("support_b"),
        )
        .filter((F.col("dist") > 0) & (F.col("dist") <= max_dist))
    )


def x23_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part-name pairs: collapse parts to distinct names
    with support counts, block on the noun token, Levenshtein within
    the block, keep 0 < dist <= 3. Ordered pairs (name_a < name_b)
    with both supports — the review queue of an entity-resolution
    pass."""
    return link_names(load_table(spark, sf_dir, "part"))


_X23_SQL = (
    "WITH names AS (SELECT p_name AS name, "
    "CAST(count(*) AS BIGINT) AS support, "
    "split_part(p_name, ' ', 2) AS noun FROM part GROUP BY 1), "
    "pairs AS (SELECT a.name AS name_a, b.name AS name_b, "
    "levenshtein(a.name, b.name) AS dist, "
    "a.support AS support_a, b.support AS support_b "
    "FROM names a JOIN names b "
    "ON a.noun = b.noun AND a.name < b.name) "
    "SELECT name_a, name_b, dist, support_a, support_b FROM pairs "
    f"WHERE dist > 0 AND dist <= {_LINK_MAX_DIST}"
)


# --------------------------------------------------------------------------
# x26 — unigram-surprise quality scoring (LM-perplexity proxy)
# --------------------------------------------------------------------------


def x26_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality filtering by language-model perplexity, with
    the corpus itself as the unigram LM: per-token surprise is
    ``ln(N_tokens / count(token))`` nats (the token's information
    content under the corpus unigram distribution), a document's score
    is its mean per-token surprise, and documents histogram into
    0.5-nat bands — low bands are boilerplate/repetitive text, high
    bands are rare-token noise; production keeps the middle, exactly
    the CCNet head/middle/tail split.

    Plan: explode → per-(doc, term) tf (map-side combinable), term
    counts via ONE shuffle keyed by term (vocab-sized output,
    |vocab| ≪ corpus by Heaps' law), join back on term, one-row corpus
    total broadcast. ``ln`` is the portable range-reduction + atanh
    construction shared with x21b (builtin ln differs by 1 ulp between
    JVM and libm — measured), and each per-(doc, term) contribution
    quantizes to e6 integers BEFORE any cross-row sum, so every
    aggregate is order-independent integer math — fully hash-gated
    production semantics."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_WORDS_SPARK).alias("w")
    )
    per_dt = scoped_persist(
        docs.select("doc_id", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )  # reused by the cnts branch and the join — one explode, not two
    cnts = per_dt.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("cnt")
    )
    total = (
        cnts.agg(F.sum("cnt").cast("bigint").alias("n_tok"))
        .withColumn("k", F.lit(1))
    )
    # srp depends only on (cnt, n_tok) — i.e. on the TERM — so the
    # portable-ln Horner chain (a ~60-op expression) evaluates on the
    # |vocab|-sized cnts frame and the quantized integer joins back to
    # the (doc, term) pairs, instead of re-running the chain per pair
    # (guide §1.2 per-task work; Heaps' law makes |vocab| ≪ |pairs|).
    # floor(srp*1e6) is per-term either way — bit-identical contribs.
    srp_t = (
        cnts.withColumn("k", F.lit(1))
        .join(F.broadcast(total), "k")
        .withColumn(
            "lx", F.expr("CAST(n_tok AS DOUBLE) / CAST(cnt AS DOUBLE)")
        )
        .transform(_portable_ln, "srp")
        .select(
            "term",
            F.expr("CAST(floor(srp * 1000000.0) AS BIGINT)").alias(
                "srp_e6"
            ),
        )
    )
    per_doc = (
        per_dt.join(srp_t, "term")
        .withColumn("contrib_e6", F.expr("srp_e6 * tf"))
        .groupBy("doc_id")
        .agg(
            F.sum("contrib_e6").cast("bigint").alias("bits_e6"),
            F.sum("tf").cast("bigint").alias("n_tok_doc"),
        )
        .withColumn("avg_e6", F.expr("bits_e6 DIV n_tok_doc"))
        .withColumn("band", F.expr("avg_e6 DIV 500000"))
    )
    return per_doc.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok_doc").cast("bigint").alias("tok_sum"),
        F.sum("doc_id").cast("bigint").alias("ids_sum"),
    )


_X26_SQL = (
    "WITH toks AS (SELECT doc_id, unnest(w) AS term FROM ("
    f"SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)), "
    "per_dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM toks GROUP BY 1, 2), "
    "cnts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt "
    "FROM per_dt GROUP BY 1), "
    "total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM cnts), "
    "c0 AS (SELECT p.doc_id, p.tf, "
    "CAST(t.n_tok AS DOUBLE) / CAST(c.cnt AS DOUBLE) AS lx "
    "FROM per_dt p JOIN cnts c ON p.term = c.term CROSS JOIN total t), "
    + _portable_ln_ctes("c0", "c", "doc_id, tf", "srp")
    + ", "
    "contrib AS (SELECT doc_id, "
    "CAST(floor(srp * 1000000.0) AS BIGINT) * tf AS contrib_e6, tf "
    "FROM c6), "
    "per_doc AS (SELECT doc_id, "
    "CAST(sum(contrib_e6) AS BIGINT) AS bits_e6, "
    "CAST(sum(tf) AS BIGINT) AS n_tok_doc FROM contrib GROUP BY 1), "
    "banded AS (SELECT doc_id, n_tok_doc, "
    "(bits_e6 // n_tok_doc) // 500000 AS band FROM per_doc) "
    "SELECT band, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tok_doc) AS BIGINT) AS tok_sum, "
    "CAST(sum(doc_id) AS BIGINT) AS ids_sum FROM banded GROUP BY 1"
)


# --------------------------------------------------------------------------
# x31 — per-source TF-IDF keyword extraction (source fingerprinting)
# --------------------------------------------------------------------------


def x31_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per SOURCE by TF-IDF — the corpus
    fingerprint ("what vocabulary distinguishes src3 from src7?") a
    curation team reads before weighting a mixture. BM25 (x21) scores
    DOCS against a QUERY; this scores TERMS against a SOURCE, the other
    diagonal of the same term-statistics matrix, and reuses its integer
    discipline: idf_ppm = (N·1e6) DIV (1+df) — rational idf, ranking-
    preserving (the ln-based twin would follow x21b's portable ln) —
    and score = tf·idf_ppm in exact BIGINTs with (term asc) tie-breaks.

    Scale shape: one (source, term) aggregate and one per-term df
    aggregate — both shuffle O(|vocab|)-keyed rows (Heaps' law keeps
    vocab sublinear in the corpus); the ranking window partitions by
    source, so no global sort; the corpus count rides a one-row
    broadcast."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    words = docs.select(
        "doc_id",
        "source",
        F.explode(F.expr(_WORDS_SPARK)).alias("term"),
    )
    tf_src = words.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_t = (
        words.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    ndocs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf_src.join(df_t, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("idf_ppm", F.expr("(n_docs * 1000000) DIV (1 + df)"))
        .withColumn("score", F.expr("tf * idf_ppm"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            "tf",
            "df",
            F.col("score").cast("bigint").alias("score"),
        )
    )


_X31_SQL = (
    "WITH words AS (SELECT doc_id, source, "
    f"unnest({_WORDS_DUCK}) AS term "
    "FROM documents), "
    "tf_src AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf "
    "FROM words GROUP BY 1, 2), "
    "df_t AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM "
    "(SELECT DISTINCT term, doc_id FROM words) GROUP BY 1), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), "
    "scored AS (SELECT s.source, s.term, s.tf, d.df, "
    "s.tf * ((n.n_docs * 1000000) // (1 + d.df)) AS score "
    "FROM tf_src s JOIN df_t d ON d.term = s.term CROSS JOIN n), "
    "ranked AS (SELECT *, row_number() OVER "
    "(PARTITION BY source ORDER BY score DESC, term ASC) AS rk "
    "FROM scored) "
    "SELECT source, CAST(rk AS BIGINT) AS rk, term, tf, df, "
    "CAST(score AS BIGINT) AS score FROM ranked WHERE rk <= 5"
)


def x39_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per EMBEDDING CLUSTER — "what is each
    k-means cell about?", the label a curation team reads before
    deciding which clusters to upsample, drop, or route (x37 balances
    cluster SIZES; this names their CONTENT). Documents join their
    vectors' IVF cell assignment (the SHARED coarse quantizer of
    x3d/x3f/x35/x37 — search, curation and topics agree on partition
    geometry), then x31's integer TF-IDF discipline runs keyed by cid
    instead of source: idf_ppm = (N·1e6) DIV (1+df), score = tf·idf_ppm
    in exact BIGINTs, (term asc) tie-breaks.

    Scale shape: the assignment is a broadcast fold (corpus never
    reshuffles for it; at production it is ingest-time state — st18),
    then one (cid, term) aggregate and one per-term df aggregate, both
    O(|vocab|)-keyed; the ranking window partitions by cid (k groups,
    never global)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _ivf_assign,
        _ivf_centroids,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    assign = _ivf_assign(emb, _ivf_centroids(emb)).withColumnRenamed(
        "vec_id", "doc_id"
    )
    words = (
        docs.join(assign, "doc_id")
        .select("doc_id", "cid", F.explode(F.expr(_WORDS_SPARK)).alias("term"))
    )
    tf_c = words.groupBy("cid", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_t = (
        words.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    ndocs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf_c.join(df_t, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("idf_ppm", F.expr("(n_docs * 1000000) DIV (1 + df)"))
        .withColumn("score", F.expr("tf * idf_ppm"))
    )
    w = Window.partitionBy("cid").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("cid").cast("int").alias("cid"),
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            "tf",
            "df",
            F.col("score").cast("bigint").alias("score"),
        )
    )


def _x39_sql() -> str:
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _ivf_base_ctes,
    )

    ctes, _cent = _ivf_base_ctes()
    ctes.append(
        "dwords AS (SELECT d.doc_id, fa.cid, "
        f"unnest({_WORDS_DUCK}) AS term "
        "FROM documents d JOIN fa ON fa.vec_id = d.doc_id)"
    )
    ctes.append(
        "tf_c AS (SELECT cid, term, CAST(count(*) AS BIGINT) AS tf "
        "FROM dwords GROUP BY 1, 2)"
    )
    ctes.append(
        "df_t AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM "
        "(SELECT DISTINCT term, doc_id FROM dwords) GROUP BY 1)"
    )
    ctes.append(
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)"
    )
    ctes.append(
        "cscored AS (SELECT s.cid, s.term, s.tf, d.df, "
        "s.tf * ((n.n_docs * 1000000) // (1 + d.df)) AS score "
        "FROM tf_c s JOIN df_t d ON d.term = s.term CROSS JOIN n)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT CAST(cid AS INT) AS cid, CAST(rk AS BIGINT) AS rk, "
        "term, tf, df, CAST(score AS BIGINT) AS score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY cid "
        "ORDER BY score DESC, term ASC) AS rk FROM cscored) "
        "WHERE rk <= 5"
    )


# --------------------------------------------------------------------------
# x36 — bigram surprise (the next rung of LM-based quality above x26)
# --------------------------------------------------------------------------


def x36_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring: per-bigram surprise is
    ``ln(c1(w1) / c(w1 w2))`` nats — the information content of seeing
    ``w2`` after ``w1`` under the corpus bigram model (the conditional
    twin of x26's unigram score; CCNet's actual filter is a 5-gram LM,
    and the unigram→bigram step is where word-ORDER quality signal
    first appears: shuffled boilerplate scores low on x26 but high
    here). Documents band into 0.5-nat bins exactly like x26, so the
    two histograms are directly comparable.

    Plan: bigrams build INSIDE the token array (a per-row transform —
    adjacency never needs a shuffle or a self-join), then the same
    funnel as x26: per-(doc, bigram) tf, bigram counts via ONE
    vocab-keyed shuffle, left-context counts derived from the bigram
    counts (a second, smaller agg — never a corpus re-scan), join
    back, portable-ln, e6 integer quantization BEFORE every cross-row
    sum. lx = c1/cbg >= 1 by construction, the portable ln's domain.
    Docs with fewer than two tokens have no bigrams and drop out in
    both engines (Spark ``sequence(1, 0)`` would DESCEND — the filter
    guards it; DuckDB ``range(1, 1)`` is empty)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_WORDS_SPARK).alias("w"))
        .filter(F.expr("size(w) >= 2"))
    )
    per_db = scoped_persist(
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> "
                    "struct(w[i - 1] AS w1, "
                    "concat(w[i - 1], ' ', w[i]) AS bg))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.bg")
        .groupBy("doc_id", "w1", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cnts = scoped_persist(
        per_db.groupBy("w1", "bg").agg(
            F.sum("tf").cast("bigint").alias("cbg")
        )
    )
    lefts = cnts.groupBy("w1").agg(
        F.sum("cbg").cast("bigint").alias("c1")
    )
    # srp depends only on (w1, bg) — the bigram — so the portable-ln
    # Horner chain and the lefts join run on the |bigram-vocab| cnts
    # frame, and only the quantized integer joins back to the
    # (doc, bigram) pairs (the x26 move; guide §1.2 per-task work).
    # floor(srp*1e6) is per-bigram either way — bit-identical.
    srp_bg = (
        cnts.join(lefts, "w1")
        .withColumn(
            "lx", F.expr("CAST(c1 AS DOUBLE) / CAST(cbg AS DOUBLE)")
        )
        .transform(_portable_ln, "srp")
        .select(
            "w1",
            "bg",
            F.expr("CAST(floor(srp * 1000000.0) AS BIGINT)").alias(
                "srp_e6"
            ),
        )
    )
    per_doc = (
        per_db.join(srp_bg, ["w1", "bg"])
        .withColumn("contrib_e6", F.expr("srp_e6 * tf"))
        .groupBy("doc_id")
        .agg(
            F.sum("contrib_e6").cast("bigint").alias("bits_e6"),
            F.sum("tf").cast("bigint").alias("n_bg_doc"),
        )
        .withColumn("avg_e6", F.expr("bits_e6 DIV n_bg_doc"))
        .withColumn("band", F.expr("avg_e6 DIV 500000"))
    )
    return per_doc.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bg_doc").cast("bigint").alias("bg_sum"),
        F.sum("doc_id").cast("bigint").alias("ids_sum"),
    )


_X36_SQL = (
    "WITH docs AS (SELECT doc_id, w FROM ("
    f"SELECT doc_id, {_WORDS_DUCK} AS w FROM documents) "
    "WHERE len(w) >= 2), "
    "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), "
    "i -> struct_pack(w1 := w[i], bg := w[i] || ' ' || w[i + 1]))) AS b "
    "FROM docs), "
    "per_db AS (SELECT doc_id, b.w1 AS w1, b.bg AS bg, "
    "CAST(count(*) AS BIGINT) AS tf FROM bgs GROUP BY 1, 2, 3), "
    "cnts AS (SELECT w1, bg, CAST(sum(tf) AS BIGINT) AS cbg "
    "FROM per_db GROUP BY 1, 2), "
    "lefts AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS c1 "
    "FROM cnts GROUP BY 1), "
    "c0 AS (SELECT p.doc_id, p.tf, "
    "CAST(l.c1 AS DOUBLE) / CAST(c.cbg AS DOUBLE) AS lx "
    "FROM per_db p JOIN cnts c ON p.w1 = c.w1 AND p.bg = c.bg "
    "JOIN lefts l ON p.w1 = l.w1), "
    + _portable_ln_ctes("c0", "b", "doc_id, tf", "srp")
    + ", "
    "contrib AS (SELECT doc_id, "
    "CAST(floor(srp * 1000000.0) AS BIGINT) * tf AS contrib_e6, tf "
    "FROM b6), "
    "per_doc AS (SELECT doc_id, "
    "CAST(sum(contrib_e6) AS BIGINT) AS bits_e6, "
    "CAST(sum(tf) AS BIGINT) AS n_bg_doc FROM contrib GROUP BY 1), "
    "banded AS (SELECT doc_id, n_bg_doc, "
    "(bits_e6 // n_bg_doc) // 500000 AS band FROM per_doc) "
    "SELECT band, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_bg_doc) AS BIGINT) AS bg_sum, "
    "CAST(sum(doc_id) AS BIGINT) AS ids_sum FROM banded GROUP BY 1"
)


# --------------------------------------------------------------------------
# x38 — DSIR-style importance scoring (target-vs-source likelihood ratio)
# --------------------------------------------------------------------------


def x38_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023),
    unigram form: score every document by the log-likelihood ratio of
    its tokens under the TARGET language model (here the ``lang='en'``
    slice — the distribution you want more of) vs the SOURCE model
    (everything else), with add-1 smoothing over the joint vocabulary.
    High scores = raw docs that look like the target — the selection
    signal behind targeted pretraining mixes; the per-class band
    histogram certifies the separation (target docs must mass in the
    high bands for the method to mean anything).

    Plan: ONE corpus tokenization feeds everything (persisted per-doc
    tf), the two LMs are one |vocab|-keyed aggregate with conditional
    sums, totals ride a one-row broadcast, and both logarithms are the
    portable-ln on ratios >= 1 by construction (ln p = −ln((N+V)/(c+1))
    — smoothing guarantees the domain). Per-(doc, term) contributions
    quantize to e6 integers BEFORE any cross-row sum; the per-token
    mean shifts by +1000 nats before its integer divisions so every
    DIV sees non-negative operands — Spark DIV truncates while DuckDB
    ``//`` floors, and they only agree above zero (CLAUDE.md's
    negative-division trap, dodged structurally)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CAST(lang = 'en' AS INT)").alias("is_t"),
        F.expr(_WORDS_SPARK).alias("w"),
    )
    per_dt = scoped_persist(
        docs.select("doc_id", "is_t", F.explode("w").alias("term"))
        .groupBy("doc_id", "is_t", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cnts = per_dt.groupBy("term").agg(
        F.sum(F.expr("CASE WHEN is_t = 1 THEN tf ELSE 0 END"))
        .cast("bigint").alias("ct"),
        F.sum(F.expr("CASE WHEN is_t = 0 THEN tf ELSE 0 END"))
        .cast("bigint").alias("cs"),
    )
    stats = (
        cnts.agg(
            F.sum("ct").cast("bigint").alias("nt"),
            F.sum("cs").cast("bigint").alias("ns"),
            F.count(F.lit(1)).cast("bigint").alias("v"),
        )
        .withColumn("k", F.lit(1))
    )
    # Both log-likelihood terms depend only on the TERM's counts, so
    # the two portable-ln Horner chains run once per vocab entry and
    # only the quantized integer ratio joins back to the (doc, term)
    # pairs (the x26/x36 move; guide §1.2). floor((ln_s-ln_t)*1e6) is
    # per-term either way — bit-identical contribs.
    llr_t = (
        cnts.withColumn("k", F.lit(1))
        .join(F.broadcast(stats), "k")
        .withColumn(
            "lx",
            F.expr("CAST(nt + v AS DOUBLE) / CAST(ct + 1 AS DOUBLE)"),
        )
        .withColumn(
            "ls_lx",
            F.expr("CAST(ns + v AS DOUBLE) / CAST(cs + 1 AS DOUBLE)"),
        )
        .transform(_portable_ln, "ln_t")
        .withColumn("lx", F.col("ls_lx"))
        .transform(_portable_ln, "ln_s")
        .select(
            "term",
            F.expr(
                "CAST(floor((ln_s - ln_t) * 1000000.0) AS BIGINT)"
            ).alias("llr_e6"),
        )
    )
    per_doc = (
        per_dt.join(llr_t, "term")
        .withColumn("contrib_e6", F.expr("llr_e6 * tf"))
        .groupBy("doc_id", "is_t")
        .agg(
            F.sum("contrib_e6").cast("bigint").alias("bits_e6"),
            F.sum("tf").cast("bigint").alias("n_tok"),
        )
        .withColumn(
            "band",
            F.expr(
                "((bits_e6 + n_tok * 1000000000) DIV n_tok) DIV 100000"
            ),
        )
    )
    return per_doc.groupBy(
        F.col("is_t").alias("is_target"), "band"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("ids_sum"),
    )


def _x38_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS is_t, "
        f"{_WORDS_DUCK} AS w FROM documents), "
        "toks AS (SELECT doc_id, is_t, unnest(w) AS term FROM d), "
        "per_dt AS (SELECT doc_id, is_t, term, "
        "CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2, 3), "
        "cnts AS (SELECT term, "
        "CAST(sum(CASE WHEN is_t = 1 THEN tf ELSE 0 END) AS BIGINT) "
        "AS ct, "
        "CAST(sum(CASE WHEN is_t = 0 THEN tf ELSE 0 END) AS BIGINT) "
        "AS cs FROM per_dt GROUP BY 1), "
        "stats AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, "
        "CAST(sum(cs) AS BIGINT) AS ns, "
        "CAST(count(*) AS BIGINT) AS v FROM cnts), "
        "c0 AS (SELECT p.doc_id, p.is_t, p.tf, "
        "CAST(s.nt + s.v AS DOUBLE) / CAST(c.ct + 1 AS DOUBLE) AS lx, "
        "CAST(s.ns + s.v AS DOUBLE) / CAST(c.cs + 1 AS DOUBLE) AS ls_lx "
        "FROM per_dt p JOIN cnts c ON p.term = c.term "
        "CROSS JOIN stats s), "
        + _portable_ln_ctes("c0", "t", "doc_id, is_t, tf, ls_lx", "ln_t")
        + ", "
        "u0 AS (SELECT doc_id, is_t, tf, ln_t, ls_lx AS lx FROM t6), "
        + _portable_ln_ctes("u0", "u", "doc_id, is_t, tf, ln_t", "ln_s")
        + ", "
        "contrib AS (SELECT doc_id, is_t, "
        "CAST(floor((ln_s - ln_t) * 1000000.0) AS BIGINT) * tf AS c6, "
        "tf FROM u6), "
        "per_doc AS (SELECT doc_id, is_t, "
        "CAST(sum(c6) AS BIGINT) AS bits_e6, "
        "CAST(sum(tf) AS BIGINT) AS n_tok FROM contrib GROUP BY 1, 2), "
        "banded AS (SELECT doc_id, is_t, "
        "((bits_e6 + n_tok * 1000000000) // n_tok) // 100000 AS band "
        "FROM per_doc) "
        "SELECT is_t AS is_target, band, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS ids_sum FROM banded GROUP BY 1, 2"
    )


# --------------------------------------------------------------------------
# X53 — exact multi-phrase search (positional adjacency, map-side)
# --------------------------------------------------------------------------

#: needle set scanned in ONE pass: (label, token list). Distinct first
#: and last tokens per phrase ⇒ occurrences cannot self-overlap, so the
#: adjacency count is well-defined without an overlap policy.
_X53_PHRASES = [
    ("batch_stream", ["batch", "stream"]),
    ("merge_data_line", ["merge", "data", "line"]),
    ("the_fast_key", ["the", "fast", "key"]),
]


def x53_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 — exact PHRASE search over the corpus (the contamination /
    blocklist / quote-detection primitive BM25's bag-of-words probe
    cannot express: term ADJACENCY matters). Every phrase in the
    needle set is matched in one pass; per (phrase, doc): occurrence
    count and the first match position.

    Spark-first formulation: a positional inverted index
    (posexplode → (token, doc, pos) postings → k-way self-join on
    pos+i) is the textbook shape, but its postings shuffle moves
    EVERY occurrence of every needle token — and common tokens
    ('the') make that the corpus itself. The higher-order-function
    form does the adjacency test MAP-SIDE instead:
    ``filter(sequence(0, len-k), i -> toks[i]=t0 AND toks[i+1]=t1
    ...)`` per phrase, one pass over ``split(text)`` with ZERO
    exchanges in the whole plan — each doc is matched where it
    already lives, the classic scan-beats-index regime for needle
    sets small enough to inline (the r3/x34b lesson: array rebuilds
    win exactly when the explode output would BE the shuffle
    payload). 100 TB: embarrassingly parallel, no skew surface at
    all; output is |hits| rows.

    Reference parity: no retrieval surface in the reference
    (collector.py stores raw text); this is the Spark-native phrase
    operator a curation pipeline needs for exact-quote dedup and
    benchmark-string contamination sweeps (cf. x10/x48)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    needles = []
    for label, toks in _X53_PHRASES:
        k = len(toks)
        cond = " AND ".join(
            f"toks[i + {j}] = '{t}'" for j, t in enumerate(toks)
        )
        # sequence() DESCENDS when its end < start (implicit -1 step),
        # so clamp with greatest() and re-exclude via the predicate —
        # keeps both CASE branches' types out of the plan entirely
        needles.append(
            f"named_struct('phrase', '{label}', 'pos', "
            f"filter(sequence(0, greatest(size(toks) - {k}, 0)), "
            f"i -> i <= size(toks) - {k} AND {cond}))"
        )
    # ONE corpus scan matches every needle: the per-phrase position
    # arrays ride a struct array exploded map-side (a per-branch union
    # would re-scan the corpus once per phrase)
    return (
        docs.select(
            "doc_id",
            F.explode(F.expr(f"array({', '.join(needles)})")).alias("m"),
        )
        .filter(F.size("m.pos") > 0)
        .select(
            F.col("m.phrase").alias("phrase"),
            "doc_id",
            F.size("m.pos").cast("bigint").alias("n_occ"),
            F.element_at("m.pos", 1).cast("bigint").alias("first_pos"),
        )
    )


def _x53_sql() -> str:
    # DuckDB lists are 1-based: valid phrase starts are 1..len-k+1
    # (generate_series(1, n<=0) is already empty — no guard clause)
    parts = []
    for label, toks in _X53_PHRASES:
        k = len(toks)
        cond = " AND ".join(
            f"toks[i + {j}] = '{t}'" for j, t in enumerate(toks)
        )
        parts.append(
            f"SELECT '{label}' AS phrase, doc_id, "
            "CAST(len(pos) AS BIGINT) AS n_occ, "
            "CAST(pos[1] - 1 AS BIGINT) AS first_pos FROM ("
            "SELECT doc_id, list_filter("
            f"generate_series(1, greatest(len(toks) - {k} + 1, 0)), "
            f"i -> {cond}) AS pos FROM d) WHERE len(pos) > 0"
        )
    return (
        "WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents) "
        + " UNION ALL ".join(parts)
    )


# --------------------------------------------------------------------------
# x70 — hard-negative mining for retrieval training
# --------------------------------------------------------------------------

_X70_NEG_K = 5          # negatives emitted per query
_X70_OVERLAP_BP = 5000  # candidate sharing >= half the positive's grams
#                         is a probable unlabeled positive, not a negative

# distinct 5-gram set over the shared word split (curation.py's x10
# derivation, inlined over the column name `w`; Spark sequence()
# DESCENDS below its start, hence the size guard)
_X70_G5_SPARK = (
    "CASE WHEN size(w) >= 5 THEN array_distinct("
    "transform(sequence(0, size(w)-5), "
    "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) "
    "ELSE array() END"
)
_X70_G5_DUCK = (
    "CASE WHEN len(w) >= 5 THEN list_distinct("
    "list_transform(range(1, len(w)-3), "
    "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) "
    "ELSE [] END"
)


def x70_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 — HARD-NEGATIVE MINING, the contrastive-training data step
    (DPR/ANCE recipe): take the ranker's own top results, call the
    best one the positive, and mine the next-ranked documents as
    negatives — EXCEPT candidates lexically near the positive, which
    are probable unlabeled positives (the false-negative trap that
    poisons contrastive training). Ranking is x21b's shipped BM25
    (same `_bm25_scored` frame, so the miner mines EXACTLY the ranker
    it trains against); the false-negative filter is 5-gram
    containment vs the positive in integer basis points. Emits per
    negative: its rank among kept negatives, BM25 rank, score, and the
    measured overlap — the triple (query terms, positive, negatives)
    a biencoder trains on.

    Scale shape: the candidate pool is a TakeOrdered top-25 (never a
    global sort); every window below runs over ≤25 rows; the
    positive's gram set rides a one-row broadcast crossJoin (the
    sanctioned constant-frame pattern). At 100 TB with a query LOG
    instead of one query, the same plan shards per query id — pool
    windows stay bounded, the corpus is touched only by the inverted-
    index probe."""
    top = scoped_persist(
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
    )
    # Tokenize AFTER the pool join: the split()/5-gram projection sat
    # below the join and ran corpus-wide for 25 surviving rows
    # (guide §2.3 — project after the join when the projection is the
    # expensive part; the join itself needs only doc_id).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    ranked = (
        top.withColumn("rk", F.row_number().over(w))
        .join(docs, "doc_id")
        .withColumn("w", F.expr(_WORDS_SPARK))
        .withColumn("g", F.expr(_X70_G5_SPARK))
        .drop("w", "text")
    )
    pos = ranked.filter("rk = 1").select(
        F.col("doc_id").alias("pos_doc"), F.col("g").alias("pos_g")
    )
    cands = (
        ranked.filter("rk > 1")
        .crossJoin(F.broadcast(pos))
        .withColumn(
            "overlap_bp",
            F.expr(
                "CAST(10000 * size(array_intersect(g, pos_g)) "
                "DIV nullif(size(g), 0) AS BIGINT)"
            ),
        )
        .filter(
            F.coalesce(F.col("overlap_bp"), F.lit(0))
            < F.lit(_X70_OVERLAP_BP)
        )
    )
    wneg = Window.orderBy(F.asc("rk"))
    return (
        cands.withColumn("neg_rank", F.row_number().over(wneg))
        .filter(F.col("neg_rank") <= _X70_NEG_K)
        .select(
            F.col("neg_rank").cast("bigint").alias("neg_rank"),
            "pos_doc",
            F.col("doc_id").alias("neg_doc"),
            F.col("rk").cast("bigint").alias("bm25_rank"),
            "score_e9",
            F.coalesce(F.col("overlap_bp"), F.lit(0))
            .cast("bigint")
            .alias("overlap_bp"),
        )
    )


_X70_SQL = (
    "WITH "
    + _bm25_ctes("")
    + ", top_ AS (SELECT doc_id, n_terms_hit, score_e9 FROM scored "
    f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK}), "
    "rkd AS (SELECT t.*, row_number() OVER "
    "(ORDER BY score_e9 DESC, doc_id ASC) AS rk FROM top_ t), "
    "withg AS (SELECT r.*, g.g FROM rkd r JOIN ("
    f"SELECT doc_id, {_X70_G5_DUCK} AS g FROM ("
    f"SELECT doc_id, {_WORDS_DUCK} AS w FROM documents) dd) g "
    "ON g.doc_id = r.doc_id), "
    "pos AS (SELECT doc_id AS pos_doc, g AS pos_g FROM withg "
    "WHERE rk = 1), "
    "cands AS (SELECT w2.rk, w2.doc_id, w2.score_e9, p.pos_doc, "
    "CAST(10000 * len(list_intersect(w2.g, p.pos_g)) "
    "// nullif(len(w2.g), 0) AS BIGINT) AS overlap_bp "
    "FROM withg w2 CROSS JOIN pos p WHERE w2.rk > 1), "
    "kept AS (SELECT *, row_number() OVER (ORDER BY rk ASC) AS neg_rank "
    "FROM cands "
    f"WHERE COALESCE(overlap_bp, 0) < {_X70_OVERLAP_BP}) "
    "SELECT CAST(neg_rank AS BIGINT) AS neg_rank, pos_doc, "
    "doc_id AS neg_doc, CAST(rk AS BIGINT) AS bm25_rank, score_e9, "
    "CAST(COALESCE(overlap_bp, 0) AS BIGINT) AS overlap_bp "
    f"FROM kept WHERE neg_rank <= {_X70_NEG_K}"
)


# --------------------------------------------------------------------------
# x72 — MMR diversity re-rank (maximal marginal relevance)
# --------------------------------------------------------------------------

_X72_K = 5            # final diversified result size
_X72_DBL = "CAST(0.5 AS DOUBLE)"  # lambda (and 1-lambda) — portable literal


def x72_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 — MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell &
    Goldstein 1998), the diversity pass RAG context assembly runs so
    five retrieved passages aren't five paraphrases of one document:
    greedily select k results maximizing ``λ·relevance − (1−λ)·max
    cosine to anything already selected``. Relevance is x21b's
    shipped BM25 (the same ``_bm25_scored`` frame the standalone
    query, the RRF fusion, and the hard-negative miner consume —
    FOUR consumers of one ranker now), min-max-free normalized as
    score/max-score over the pool; similarity is exact cosine over
    the pool's embeddings. The greedy argmax is unrolled ``_X72_K``
    times with deterministic ties (mmr DESC, doc_id ASC), so the
    DuckDB oracle replays the exact selection walk; pick 1 is the
    pure-relevance top hit by construction (its mmr column carries
    the unpenalized normalized relevance).

    Scale shape: the pool is a TakeOrdered top-25 — every frame below
    it is ≤ pool-sized (the 25x25 similarity matrix included), and
    each greedy step is an argmax over ≤25 rows; at 100 TB with a
    query log the same plan shards per query id (x70's note) and the
    corpus is touched only by the inverted-index probe. Per-step
    frames localCheckpoint (1-row picks — the plan-doubling
    invariant)."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _dot_spark,
        _norm_spark,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    wall = Window.partitionBy()
    # Normalize rel over the PRE-join top-25 (max(score_e9) computed
    # before the embeddings join): the DuckDB oracle and the Python
    # replay test both take the max over the pre-join pool, so if a
    # top-25 doc ever lacked an embeddings row the frames would diverge
    # silently (ADVICE r11) — anchor all three to the same frame.
    top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_e9"), F.asc("doc_id"))
        .limit(_TOPK)
        .select(
            "doc_id",
            (
                F.col("score_e9").cast("double")
                / F.max("score_e9").over(wall).cast("double")
            ).alias("rel"),
        )
    )
    pool = scoped_persist(
        top.join(emb.select("vec_id", "embedding"),
                 top.doc_id == emb.vec_id)
        .select(
            "doc_id",
            "rel",
            "embedding",
            F.expr(_norm_spark("embedding")).alias("nrm"),
        )
    )
    sims = scoped_persist(
        pool.select(
            F.col("doc_id").alias("da"),
            F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
        )
        .join(
            F.broadcast(
                pool.select(
                    F.col("doc_id").alias("db"),
                    F.col("embedding").alias("eb"),
                    F.col("nrm").alias("nb"),
                )
            )
        )
        .filter(F.col("da") != F.col("db"))
        .select(
            "da",
            "db",
            (
                F.expr(_dot_spark("ea", "eb")) / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    sel = (
        pool.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(1)
        .select(
            "doc_id", F.lit(1).alias("pick"), F.col("rel").alias("mmr")
        )
        .localCheckpoint(eager=True)
    )
    for t in range(2, _X72_K + 1):
        maxsim = (
            sims.join(
                F.broadcast(sel.select(F.col("doc_id").alias("db"))), "db"
            )
            .groupBy("da")
            .agg(F.max("cos").alias("maxsim"))
        )
        pick = (
            pool.join(sel.select("doc_id"), "doc_id", "left_anti")
            .join(maxsim, pool.doc_id == maxsim.da)
            .select(
                "doc_id",
                F.lit(t).alias("pick"),
                F.expr(
                    f"{_X72_DBL} * rel - {_X72_DBL} * maxsim"
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("doc_id"))
            .limit(1)
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        F.col("pick").cast("bigint").alias("pick"),
        "doc_id",
        F.expr("CAST(floor(mmr * 1e9) AS BIGINT)").alias("mmr_e9"),
    )


def _x72_sql() -> str:
    """DuckDB replay of the exact greedy walk, unrolled."""
    from acero_delta_lake_streaming_spark.operators.similarity import (
        _dot_duck,
        _norm_duck,
    )

    ctes = [
        (
            f"mtop AS (SELECT doc_id, score_e9 FROM scored "
            f"ORDER BY score_e9 DESC, doc_id ASC LIMIT {_TOPK})"
        ),
        "mmx AS (SELECT max(score_e9) AS m FROM mtop)",
        (
            "mpool AS (SELECT t.doc_id, "
            "CAST(t.score_e9 AS DOUBLE) / CAST(x.m AS DOUBLE) AS rel, "
            f"e.embedding, {_norm_duck('e.embedding')} AS nrm "
            "FROM mtop t CROSS JOIN mmx x "
            "JOIN embeddings e ON e.vec_id = t.doc_id)"
        ),
        (
            "msims AS (SELECT a.doc_id AS da, b.doc_id AS db, "
            f"{_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
            "AS cos FROM mpool a CROSS JOIN mpool b "
            "WHERE a.doc_id <> b.doc_id)"
        ),
        (
            "msel1 AS (SELECT doc_id, 1 AS pick, rel AS mmr FROM mpool "
            "ORDER BY rel DESC, doc_id ASC LIMIT 1)"
        ),
    ]
    for t in range(2, _X72_K + 1):
        ctes += [
            (
                f"mms{t} AS (SELECT s.da, max(s.cos) AS maxsim "
                f"FROM msims s JOIN msel{t - 1} x ON x.doc_id = s.db "
                "GROUP BY 1)"
            ),
            (
                f"mpick{t} AS (SELECT p.doc_id, {t} AS pick, "
                f"{_X72_DBL} * p.rel - {_X72_DBL} * m.maxsim AS mmr "
                f"FROM mpool p JOIN mms{t} m ON m.da = p.doc_id "
                f"WHERE p.doc_id NOT IN (SELECT doc_id FROM msel{t - 1}) "
                "ORDER BY mmr DESC, p.doc_id ASC LIMIT 1)"
            ),
            (
                f"msel{t} AS (SELECT * FROM msel{t - 1} "
                f"UNION ALL SELECT * FROM mpick{t})"
            ),
        ]
    return (
        "WITH " + _bm25_ctes("") + ", " + ", ".join(ctes)
        + " SELECT CAST(pick AS BIGINT) AS pick, doc_id, "
        "CAST(floor(mmr * 1e9) AS BIGINT) AS mmr_e9 "
        f"FROM msel{_X72_K}"
    )


# --------------------------------------------------------------------------
# x71 — SymSpell deletion-neighborhood edit-distance join (typo mining)
# --------------------------------------------------------------------------

_X71_MIN_LEN = 4   # short tokens flood ed-1 space with false kin
_X71_MIN_N = 2     # both sides must occur at least twice

# word + its 1-deletion neighborhood; two words at edit distance 1
# ALWAYS share an entry (substitution at i -> both delete i;
# insert/delete -> one's deletion IS the other), so the variant
# equi-join is a COMPLETE ed<=1 candidate generator — unlike x23's
# noun blocking, which misses pairs whose block token differs.
_X71_VARS_SPARK = (
    "array_union(array(w), "
    "transform(sequence(0, length(w) - 1), "
    "i -> concat(substring(w, 1, i), substring(w, i + 2))))"
)
_X71_VARS_DUCK = (
    "list_distinct(list_append("
    "list_transform(range(1, len(w) + 1), "
    "i -> substr(w, 1, i - 1) || substr(w, i + 1)), w))"
)


def x71_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 — vocabulary typo mining via the SYMSPELL deletion-
    neighborhood join: every distinct corpus word emits itself plus its
    |w| one-deletion variants; an equi-join on the variant key yields
    EVERY word pair within edit distance 1 (guaranteed — substitution
    collapses to a shared deletion, insert/delete to the shorter word
    itself), then one Levenshtein call per CANDIDATE verifies. This is
    the tokenizer-hygiene pass a corpus runs before BPE training
    (x41): systematic misspellings fragment the learned vocabulary,
    and the frequency asymmetry in each pair points at the typo (the
    rarer side). x23 does blocked fuzzy linkage — fast but incomplete
    when the block token itself is the typo; the deletion neighborhood
    trades ~|w| key rows per word for completeness.

    The fixture corpus draws from a ~31-word vocabulary with no
    natural edit-distance-1 kin, so the operator PLANTS typos (the
    x69/x48 planted-certificate pattern): every doc with
    ``doc_id % 13 == 7`` contributes one token that is its first
    ≥5-letter word with the 2nd character deleted — a deterministic,
    SQL-replayable misspelling the join must recover (each planted
    pair is ed-1 by construction and shares a deletion variant by the
    SymSpell identity, so recall is 1.0 by construction). Each typo is
    planted TWICE so it clears the ``n >= _X71_MIN_N`` vocabulary gate
    by construction, not by fixture luck (ADVICE r11: a regenerated
    fixture with a singleton qualifying first word must not silently
    drop its plant).

    Scale shape: the vocabulary is Heaps-sublinear in corpus tokens;
    variants multiply it by ~avg word length; the ONE shuffle keys on
    the variant string, and candidate volume per key is bounded by
    bucket co-occupancy (no all-pairs anywhere). Levenshtein runs on
    candidates only — never the vocab cross product."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_WORDS_SPARK)).alias("w"))
    typo_src = F.expr(
        f"filter({_WORDS_SPARK}, "
        "x -> length(x) >= 5 AND x rlike '^[a-z]+$')[0]"
    )
    typos = (
        docs.filter("doc_id % 13 = 7")
        .select(typo_src.alias("fw"))
        .filter(F.col("fw").isNotNull())
        .select(
            F.expr("concat(substring(fw, 1, 1), substring(fw, 3))")
            .alias("w")
        )
        # plant twice: the n >= _X71_MIN_N gate passes by construction
        .select(F.explode(F.array("w", "w")).alias("w"))
    )
    vocab = (
        toks.unionByName(typos)
        .filter(
            (F.length("w") >= _X71_MIN_LEN)
            & F.col("w").rlike("^[a-z]+$")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= _X71_MIN_N)
    )
    vars_ = vocab.select(
        "w", "n", F.explode(F.expr(_X71_VARS_SPARK)).alias("v")
    )
    a = vars_.select(
        F.col("w").alias("word_a"), F.col("n").alias("n_a"), "v"
    )
    b = vars_.select(
        F.col("w").alias("word_b"), F.col("n").alias("n_b"), "v"
    )
    return (
        a.join(b, "v")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "n_a", "n_b")
        .distinct()
        .filter(F.expr("levenshtein(word_a, word_b) = 1"))
        .withColumn(
            "probable_typo",
            F.when(F.col("n_a") < F.col("n_b"), F.col("word_a"))
            .when(F.col("n_b") < F.col("n_a"), F.col("word_b"))
            .otherwise(F.lit(None).cast("string")),
        )
    )


_X71B_MIN_LEN = 5  # ed-2 space floods below this; SymSpell's usual gate

# word + its FULL <=2-deletion neighborhood (self, |w| single
# deletions, C(|w|,2) double deletions). SymSpell's radius-2 identity:
# any two words within Levenshtein distance 2 share a member of their
# <=2-deletion neighborhoods (each edit op resolves to deletions on
# one or both sides), so the variant equi-join is a COMPLETE ed<=2
# candidate generator; sharing a variant does NOT imply ed<=2 (two
# deletions each side can span distance 4), which is exactly why the
# Levenshtein verify on candidates stays in the plan.
_X71B_VARS_SPARK = (
    "array_distinct(concat(array(w), "
    "transform(sequence(0, length(w) - 1), "
    "i -> concat(substring(w, 1, i), substring(w, i + 2))), "
    "flatten(transform(sequence(0, length(w) - 2), "
    "i -> transform(sequence(i + 1, length(w) - 1), "
    "j -> concat(substring(w, 1, i), substring(w, i + 2, j - i - 1), "
    "substring(w, j + 2)))))))"
)
_X71B_VARS_DUCK = (
    "list_distinct(flatten([[w], "
    "list_transform(range(1, len(w) + 1), "
    "i -> substr(w, 1, i - 1) || substr(w, i + 1)), "
    "flatten(list_transform(range(1, len(w)), "
    "p -> list_transform(range(p + 1, len(w) + 1), "
    "q -> substr(w, 1, p - 1) || substr(w, p + 1, q - p - 1) "
    "|| substr(w, q + 1))))]))"
)


def x71b_typo_pairs_ed2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71b — SYMSPELL at radius 2 (VERDICT r10 item 5), the edit
    distance real typo mining runs at: every vocabulary word emits its
    full ≤2-deletion neighborhood and the variant equi-join yields
    every word pair within Levenshtein distance 2 — COMPLETE by the
    SymSpell radius-2 identity (each of the ≤2 edit ops resolves to
    deletions on one or both sides; see ``_X71B_VARS_SPARK``) — then
    one Levenshtein call per DISTINCT candidate verifies and keeps
    d ≤ 2. Same plan as x71, more key rows: ~L²/2 variants per word
    instead of L (SCALING.md's "same plan, more key rows" spec, now
    shipped).

    Planted certificate (the x69/x48 pattern): every doc with
    ``doc_id % 17 == 11`` contributes one token built from its first
    ≥6-letter word (whose 2nd character is not already 'q' — else the
    substitution is a no-op and the plant collapses to ed 1) by
    SUBSTITUTING the 2nd character with 'q' and DELETING the 4th —
    exactly distance 2, and the pair shares a 2-deletion variant by
    construction (delete chars 2 and 4 of the original ≡ delete 'q' +
    char 3 of the typo), so recall on the plants is 1.0 by the
    identity, not by luck. Each typo is planted TWICE so it clears the
    ``n >= _X71_MIN_N`` vocabulary gate by construction (ADVICE r11:
    a regenerated fixture with a singleton qualifying first word must
    not silently drop its plant). The ``ed`` column keeps radius-1
    kin distinguishable.

    Scale shape: vocabulary is Heaps-sublinear in corpus tokens;
    variants multiply it by ~L²/2 (~20x at L=9 — linear in vocab,
    NOT in corpus); the ONE shuffle keys on the variant string;
    Levenshtein runs on distinct candidates only, never the vocab
    cross product."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_WORDS_SPARK)).alias("w"))
    # get() not [0]: docs with NO qualifying word yield NULL (ANSI mode
    # throws on [0] over an empty array; DuckDB's [1] is already NULL)
    typo_src = F.expr(
        f"get(filter({_WORDS_SPARK}, "
        "x -> length(x) >= 6 AND x rlike '^[a-z]+$' "
        "AND substring(x, 2, 1) <> 'q'), 0)"
    )
    typos = (
        docs.filter("doc_id % 17 = 11")
        .select(typo_src.alias("fw"))
        .filter(F.col("fw").isNotNull())
        .select(
            F.expr(
                "concat(substring(fw, 1, 1), 'q', substring(fw, 3, 1), "
                "substring(fw, 5))"
            ).alias("w")
        )
        # plant twice: the n >= _X71_MIN_N gate passes by construction
        .select(F.explode(F.array("w", "w")).alias("w"))
    )
    vocab = (
        toks.unionByName(typos)
        .filter(
            (F.length("w") >= _X71B_MIN_LEN)
            & F.col("w").rlike("^[a-z]+$")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= _X71_MIN_N)
    )
    vars_ = vocab.select(
        "w", "n", F.explode(F.expr(_X71B_VARS_SPARK)).alias("v")
    )
    a = vars_.select(
        F.col("w").alias("word_a"), F.col("n").alias("n_a"), "v"
    )
    b = vars_.select(
        F.col("w").alias("word_b"), F.col("n").alias("n_b"), "v"
    )
    return (
        a.join(b, "v")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "n_a", "n_b")
        .distinct()
        .withColumn(
            "ed", F.expr("levenshtein(word_a, word_b)").cast("bigint")
        )
        .filter(F.col("ed") <= 2)
        .withColumn(
            "probable_typo",
            F.when(F.col("n_a") < F.col("n_b"), F.col("word_a"))
            .when(F.col("n_b") < F.col("n_a"), F.col("word_b"))
            .otherwise(F.lit(None).cast("string")),
        )
    )


_X71B_SQL = (
    "WITH toks AS (SELECT unnest("
    f"{_WORDS_DUCK}) AS w FROM documents "
    "UNION ALL "
    "SELECT substr(fw, 1, 1) || 'q' || substr(fw, 3, 1) || substr(fw, 5) "
    "AS w FROM ("
    f"SELECT list_filter({_WORDS_DUCK}, "
    "x -> len(x) >= 6 AND regexp_full_match(x, '[a-z]+') "
    "AND substr(x, 2, 1) <> 'q')[1] AS fw "
    "FROM documents WHERE doc_id % 17 = 11) t "
    "CROSS JOIN range(0, 2) dup WHERE fw IS NOT NULL), "
    "vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks "
    f"WHERE len(w) >= {_X71B_MIN_LEN} AND regexp_full_match(w, '[a-z]+') "
    f"GROUP BY 1 HAVING count(*) >= {_X71_MIN_N}), "
    f"vars AS (SELECT w, n, unnest({_X71B_VARS_DUCK}) AS v FROM vocab), "
    "cand AS (SELECT DISTINCT a.w AS word_a, b.w AS word_b, "
    "a.n AS n_a, b.n AS n_b "
    "FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w) "
    "SELECT word_a, word_b, n_a, n_b, "
    "CAST(levenshtein(word_a, word_b) AS BIGINT) AS ed, "
    "CASE WHEN n_a < n_b THEN word_a WHEN n_b < n_a THEN word_b "
    "ELSE NULL END AS probable_typo "
    "FROM cand WHERE levenshtein(word_a, word_b) <= 2"
)


_X71_SQL = (
    "WITH toks AS (SELECT unnest("
    f"{_WORDS_DUCK}) AS w FROM documents "
    "UNION ALL "
    "SELECT substr(fw, 1, 1) || substr(fw, 3) AS w FROM ("
    f"SELECT list_filter({_WORDS_DUCK}, "
    "x -> len(x) >= 5 AND regexp_full_match(x, '[a-z]+'))[1] AS fw "
    "FROM documents WHERE doc_id % 13 = 7) t "
    "CROSS JOIN range(0, 2) dup WHERE fw IS NOT NULL), "
    "vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks "
    f"WHERE len(w) >= {_X71_MIN_LEN} AND regexp_full_match(w, '[a-z]+') "
    f"GROUP BY 1 HAVING count(*) >= {_X71_MIN_N}), "
    f"vars AS (SELECT w, n, unnest({_X71_VARS_DUCK}) AS v FROM vocab), "
    "cand AS (SELECT DISTINCT a.w AS word_a, b.w AS word_b, "
    "a.n AS n_a, b.n AS n_b "
    "FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w) "
    "SELECT word_a, word_b, n_a, n_b, "
    "CASE WHEN n_a < n_b THEN word_a WHEN n_b < n_a THEN word_b "
    "ELSE NULL END AS probable_typo "
    "FROM cand WHERE levenshtein(word_a, word_b) = 1"
)


QUERIES = {
    "x21_bm25_topk": x21_bm25_topk,
    "x21b_bm25_ln_topk": x21b_bm25_ln_topk,
    "x23_fuzzy_linkage": x23_fuzzy_linkage,
    "x26_unigram_surprise": x26_unigram_surprise,
    "x31_source_keywords": x31_source_keywords,
    "x39_cluster_topics": x39_cluster_topics,
    "x36_bigram_surprise": x36_bigram_surprise,
    "x38_dsir_importance": x38_dsir_importance,
    "x53_phrase_search": x53_phrase_search,
    "x61_ql_topk": x61_ql_topk,
    "x62_hybrid_rrf": x62_hybrid_rrf,
    "x70_hard_negatives": x70_hard_negatives,
    "x71_typo_pairs": x71_typo_pairs,
    "x71b_typo_pairs_ed2": x71b_typo_pairs_ed2,
    "x72_mmr_rerank": x72_mmr_rerank,
    "x74_late_interaction": x74_late_interaction,
    "x76_cross_encoder_rerank": x76_cross_encoder_rerank,
    "x77_learned_sparse": x77_learned_sparse,
}

ORACLES = {
    "x21_bm25_topk": _X21_SQL,
    "x21b_bm25_ln_topk": _X21B_SQL,
    "x23_fuzzy_linkage": _X23_SQL,
    "x26_unigram_surprise": _X26_SQL,
    "x31_source_keywords": _X31_SQL,
    "x39_cluster_topics": _x39_sql(),
    "x36_bigram_surprise": _X36_SQL,
    "x38_dsir_importance": _x38_sql(),
    "x53_phrase_search": _x53_sql(),
    "x61_ql_topk": _X61_SQL,
    "x62_hybrid_rrf": _X62_SQL,
    "x70_hard_negatives": _X70_SQL,
    "x71_typo_pairs": _X71_SQL,
    "x71b_typo_pairs_ed2": _X71B_SQL,
    "x72_mmr_rerank": _x72_sql(),
    "x74_late_interaction": _x74_sql(),
    "x76_cross_encoder_rerank": _x76_sql(),
    "x77_learned_sparse": _x77_sql(),
}
