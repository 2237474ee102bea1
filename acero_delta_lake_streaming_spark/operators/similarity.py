"""Similarity search over the ``embeddings`` fixture (SURVEY.md §2.10 X3).

Three operators, all pure JVM expressions (array fold via ``aggregate`` /
``zip_with`` — no Python in the scoring path):

* **x3_cosine_topk** — brute-force top-k cosine for a small query set:
  queries broadcast, corpus scanned once, per-query ranking. This is the
  exact baseline; at 100 TB it is still the right shape for few queries
  (one scan, no shuffle of the corpus — ranking shuffles only the scored
  pairs of the broadcast queries).
* **x3b_ann_lsh** — random-hyperplane (sign) LSH: 4 md5-derived
  hyperplanes → 16 buckets → candidates are bucket-mates only → cosine
  rank within bucket. The candidate join is an equi-join on the bucket
  id; corpus never self-joins all-pairs. The hyperplane weights are
  derived from md5 digits, so the DuckDB oracle reproduces them exactly
  (unlike ``BucketedRandomProjectionLSH``'s JVM-seeded planes).
* **x3c_cosine_neardup** — embedding-cosine near-duplicate pairs on an
  id-bounded block, with planted duplicate-direction vectors (scaled
  copies → cosine exactly 1.0). The id bound is the blocking key; the
  full-corpus path goes through x3b's buckets.

Determinism: every dot/norm is a sequential left fold over the array in
doubles (Spark ``aggregate`` with 0.0 seed ≡ DuckDB ``list_reduce``; the
0.0 seed is absorbed exactly), so both engines produce bit-identical
values — verified, not assumed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from acero_delta_lake_streaming_spark.catalog import load_table
from acero_delta_lake_streaming_spark.plans.cache import scoped_persist

# --- portable cosine fragments (Spark SQL / DuckDB) ------------------------


def _dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_spark(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        f"(acc, v) -> acc + v)"
    )


def _norm_duck(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
    )


_N_QUERIES = 5
_TOPK = 10


# --------------------------------------------------------------------------
# X3 — brute-force cosine top-k (exact baseline / oracle of the LSH path)
# --------------------------------------------------------------------------


def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for query vectors vec_id < 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored_corpus = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    queries = scored_corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    pairs = (
        scored_corpus.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


_X3_SQL = (
    "WITH scored AS (SELECT vec_id, embedding, "
    f"{_norm_duck('embedding')} AS nrm FROM embeddings), "
    f"queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
    f"nrm AS q_nrm FROM scored WHERE vec_id < {_N_QUERIES}), "
    "pairs AS (SELECT q.query_id, c.vec_id, "
    f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) AS cos "
    "FROM scored c CROSS JOIN queries q WHERE c.vec_id <> q.query_id), "
    "ranked AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk FROM pairs) "
    f"SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ranked "
    f"WHERE rk <= {_TOPK}"
)


# --------------------------------------------------------------------------
# X3b — sign-LSH bucketed approximate nearest neighbors (the scale path)
# --------------------------------------------------------------------------

_N_TABLES = 4  # OR-amplification: candidate if bucket-mates in ANY table
_PLANES_PER_TABLE = 3  # AND-amplification within a table: 8 buckets/table
_DIM = 64

# Hyperplane weight j of plane p (p globally numbered across tables):
# uniform-ish in [-15/16, 15/16] from the first hex digit of md5("p:j").
# Same string → same digit in both engines.
_W_SPARK = (
    "transform(sequence(0, {dim_m1}), j -> "
    "(instr('0123456789abcdef', substr(md5(concat(p, ':', j)), 1, 1)) - 8.5) / 8.0)"
).format(dim_m1=_DIM - 1)
_W_DUCK = (
    "list_transform(range(0, {dim}), j -> "
    "(strpos('0123456789abcdef', substr(md5(p || ':' || j), 1, 1)) - 8.5) / 8.0)"
).format(dim=_DIM)


def _sign_buckets(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket): sign-LSH bucket of every vector in each of
    the 4 tables — a per-row fold against 12 broadcast hyperplanes, no
    shuffle of the corpus beyond the tiny (vec_id, tbl) re-group."""
    n_planes = _N_TABLES * _PLANES_PER_TABLE
    planes = (
        spark.range(n_planes)
        .withColumnRenamed("id", "p")
        .select(
            "p",
            F.expr(f"CAST(p DIV {_PLANES_PER_TABLE} AS INT)").alias("tbl"),
            (F.col("p") % _PLANES_PER_TABLE).cast("int").alias("bit"),
            F.expr(_W_SPARK).alias("warr"),
        )
    )
    return (
        emb.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "tbl",
            "bit",
            F.expr(_dot_spark("embedding", "warr")).alias("proj"),
        )
        .groupBy("vec_id", "tbl")
        .agg(
            F.sum(
                F.when(F.col("proj") > 0, F.expr("shiftleft(1, bit)")).otherwise(0)
            ).alias("bucket")
        )
    )


def _lsh_candidate_ids(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(query_id, vec_id) sign-LSH candidate pairs: bucket every vector
    in each of the 4 tables, equi-join on (table, bucket) against the
    query vectors' buckets. Split out so the scale tests can measure
    |candidates| growth directly (tests/test_scale_growth.py)."""
    buckets = _sign_buckets(spark, emb)
    q_buckets = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    return (
        buckets.join(
            F.broadcast(q_buckets),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()
    )


def x3b_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via multi-table sign-LSH.

    4 hash tables × 3 hyperplanes: a corpus vector is a candidate for a
    query iff they share a bucket in at least one table (standard
    OR-amplified LSH — single-table recall on weakly-clustered data is
    poor). Bucket assignment is a per-row fold against 12 broadcast
    hyperplanes; the candidate join is an equi-join on (table, bucket) —
    the corpus never self-joins all-pairs. At larger scale raise
    planes-per-table to keep |bucket| ≈ constant; recall floor vs
    x3_cosine_topk is pinned in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cand_ids = _lsh_candidate_ids(emb.sparkSession, emb)
    scored = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    queries = scored.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    cand = (
        cand_ids.join(scored, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


_X3B_SQL = (
    "WITH planes AS (SELECT p, "
    f"CAST(p // {_PLANES_PER_TABLE} AS INT) AS tbl, "
    f"CAST(p % {_PLANES_PER_TABLE} AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * _PLANES_PER_TABLE}) t(p)), "
    "buckets AS (SELECT e.vec_id, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl), "
    "scored AS (SELECT vec_id, embedding, "
    f"{_norm_duck('embedding')} AS nrm FROM embeddings), "
    f"q_buckets AS (SELECT vec_id AS query_id, tbl AS q_tbl, "
    f"bucket AS q_bucket FROM buckets WHERE vec_id < {_N_QUERIES}), "
    "cand_ids AS (SELECT DISTINCT q.query_id, b.vec_id "
    "FROM buckets b JOIN q_buckets q "
    "ON b.tbl = q.q_tbl AND b.bucket = q.q_bucket AND b.vec_id <> q.query_id), "
    f"queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
    f"nrm AS q_nrm FROM scored WHERE vec_id < {_N_QUERIES}), "
    "cand AS (SELECT ci.query_id, ci.vec_id, "
    f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) AS cos "
    "FROM cand_ids ci "
    "JOIN scored c ON c.vec_id = ci.vec_id "
    "JOIN queries q ON q.query_id = ci.query_id), "
    "ranked AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk FROM cand) "
    "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ranked WHERE rk <= 5"
)


def x3g_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the constraint every production
    retrieval system carries: top-k nearest neighbors WITHIN a metadata
    slice (tenant, language, domain — here each query's own ``label``).
    The filter is pushed INTO the LSH bucket key: candidate generation
    equi-joins on (table, bucket, label), so a query probes only its
    slice's buckets instead of post-filtering a global candidate list
    (post-filtering k·C candidates to find k in-slice survivors is the
    classic filtered-ANN recall trap). The label ride-along is a scalar
    join on vec_id — no array moves for it — and the exact cosine
    re-rank is x3b's. At 100 TB the slice column doubles as the table's
    partition key, so the probe reads only the slice's partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    buckets = _sign_buckets(spark, emb).join(labels, "vec_id")
    q_buckets = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
        F.col("label").alias("q_label"),
    )
    cand_ids = (
        buckets.join(
            F.broadcast(q_buckets),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    queries = scored.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    cand = (
        cand_ids.join(scored, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


_X3G_SQL = (
    "WITH planes AS (SELECT p, "
    f"CAST(p // {_PLANES_PER_TABLE} AS INT) AS tbl, "
    f"CAST(p % {_PLANES_PER_TABLE} AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * _PLANES_PER_TABLE}) t(p)), "
    "buckets AS (SELECT e.vec_id, e.label, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM embeddings e CROSS JOIN planes pl "
    "GROUP BY e.vec_id, e.label, pl.tbl), "
    "scored AS (SELECT vec_id, embedding, "
    f"{_norm_duck('embedding')} AS nrm FROM embeddings), "
    "q_buckets AS (SELECT vec_id AS query_id, tbl AS q_tbl, "
    "bucket AS q_bucket, label AS q_label FROM buckets "
    f"WHERE vec_id < {_N_QUERIES}), "
    "cand_ids AS (SELECT DISTINCT q.query_id, b.vec_id "
    "FROM buckets b JOIN q_buckets q "
    "ON b.tbl = q.q_tbl AND b.bucket = q.q_bucket "
    "AND b.label = q.q_label AND b.vec_id <> q.query_id), "
    "queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
    f"nrm AS q_nrm FROM scored WHERE vec_id < {_N_QUERIES}), "
    "cand AS (SELECT ci.query_id, ci.vec_id, "
    f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) AS cos "
    "FROM cand_ids ci "
    "JOIN scored c ON c.vec_id = ci.vec_id "
    "JOIN queries q ON q.query_id = ci.query_id), "
    "ranked AS (SELECT query_id, vec_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk FROM cand) "
    "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ranked WHERE rk <= 5"
)


# --------------------------------------------------------------------------
# X3c — embedding-cosine near-duplicate pairs (blocked exact)
# --------------------------------------------------------------------------

_BLOCK = 150
_NEAR_DUP_COS = 0.35


def x3c_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level near-dup pairs: planted duplicate-direction vectors
    (×2-scaled copies, cosine exactly 1.0) plus natural high-cosine pairs
    over an id-bounded block. Float ×2 is exact, so the planted copies are
    bit-reproducible in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x * CAST(2.0 AS FLOAT))"
        ).alias("embedding"),
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(planted)
        .filter((F.col("vec_id") % 1000000) < _BLOCK)
        .select("vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm"))
    )
    a = corpus.alias("a")
    b = corpus.alias("b")
    cos = (
        F.expr(_dot_spark("a.embedding", "b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm"))
    ).alias("cos")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos,
        )
        .filter(F.col("cos") >= _NEAR_DUP_COS)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


_X3C_SQL = (
    "WITH corpus0 AS ("
    "  SELECT vec_id, embedding FROM embeddings "
    "  UNION ALL "
    "  SELECT vec_id + 1000000, "
    "  list_transform(embedding, x -> x * CAST(2.0 AS REAL)) "
    "  FROM embeddings WHERE vec_id % 10 = 0), "
    f"corpus AS (SELECT vec_id, embedding, {_norm_duck('embedding')} AS nrm "
    f"FROM corpus0 WHERE vec_id % 1000000 < {_BLOCK}) "
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    f"round({_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) "
    "AS cosine "
    "FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id "
    f"WHERE {_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
    f">= {_NEAR_DUP_COS}"
)


# --------------------------------------------------------------------------
# X3d — IVF (inverted-file) ANN: k-means coarse quantizer + probed search
# --------------------------------------------------------------------------

_IVF_K = 8
_IVF_ITERS = 2
_IVF_NPROBE = 2


def _sqdist_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - "
        f"CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _sqdist_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _refuse_cid(vectors: DataFrame) -> None:
    if "cid" in vectors.columns:
        raise ValueError(
            "IVF assignment emits its own cid column; drop or rename "
            "the input's cid first"
        )


def _ivf_coarse(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(final_assign, probes): the deterministic k-means coarse
    quantizer SHARED by x3d and x3f — the Spark twin of the oracle's
    ``_ivf_base_ctes``, factored for the same reason (the two
    operators' quantizers must not drift; a tweak to one that missed
    the other would fail the hash gate for a non-obvious reason).

    Seed selection must be a distributed top-k, not a global window:
    orderBy().limit() plans TakeOrderedAndProject (per-partition
    partial top-8 then a driver-side merge of 8-row heads), while
    row_number().over(Window.orderBy(...)) would sort the WHOLE corpus
    into one task to keep 8 rows — the one plan shape that cannot
    survive 100 TB. cid assignment over the 8 survivors is a windowless
    array_sort(collect_list) fold (struct sort key = (md5, vec_id),
    identical ordering semantics to the oracle's row_number). The
    Lloyd update explodes the corpus to scalar (vec_id, dim, x) rows
    BEFORE joining the scalar assignment, so no array crosses a
    hash-partitioned exchange even in training (x3f's plan guard
    walks every ShuffleExchange to pin this). ``corpus`` must carry
    (vec_id, embedding, ...) and no ``cid`` column (ValueError, as in
    :func:`_ivf_assign`)."""
    # final_assign carries every corpus column next to cid (r14 join
    # elimination — see _ivf_assign's ``keep``): x3d/x59 consumed the
    # narrow (vec_id, cid) frame by joining it straight back to the
    # corpus on vec_id; consumers that only need (vec_id, cid) — x3f's
    # candidate list, x37's ranking — prune the payload columns out.
    _refuse_cid(corpus)  # before training, not after it
    centroids = _ivf_centroids(corpus)
    final_assign = _ivf_assign(
        corpus,
        centroids,
        keep=tuple(c for c in corpus.columns if c != "vec_id"),
    )
    q_probe_w = Window.partitionBy("query_id").orderBy(
        F.asc("d"), F.asc("cid")
    )
    probes = (
        corpus.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
        )
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "cid", F.expr(_sqdist_spark("qe", "carr")).alias("d")
        )
        .withColumn("rk", F.row_number().over(q_probe_w))
        .filter(F.col("rk") <= _IVF_NPROBE)
        .select("query_id", "cid")
    )
    return final_assign, probes


def _ivf_assign(
    vectors: DataFrame, centroids: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-centroid assignment of ``vectors`` (vec_id, embedding)
    against a small ``centroids`` frame (cid, carr): a broadcast fold —
    the vectors NEVER shuffle: the k centroids collapse to ONE
    broadcast row and the argmin is a per-row ``array_min`` over
    (distance, cid) structs — the x35 fold shape, which replaced the
    original per-vec_id row_number window (that window hash-partitioned
    k·N scored rows on vec_id, a full corpus shuffle that existed only
    to pick a minimum each row can pick locally). Struct ordering
    compares field-by-field, so ties still break (distance, cid) — the
    oracle's row_number order, hash-identical.

    ``keep`` (r14, guide §2.4 join elimination): consumers that need
    corpus payload columns NEXT TO the cid used to join the narrow
    (vec_id, cid) frame back on vec_id — a SortMergeJoin of two
    corpus-sized streams that re-shuffled the payload (embedding
    arrays included) for a 1:1 re-attach. The assignment is a pure map
    stage, so passing the columns THROUGH it is free and the join
    disappears; unused kept columns prune out of downstream plans.
    Default () keeps the narrow contract (st18 writes it to a table).
    A ``vectors`` frame that already has a ``cid`` column is refused:
    the output would carry two ``cid`` columns and every later
    reference to it would be ambiguous."""
    _refuse_cid(vectors)
    cents_row = centroids.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cid", "carr"))).alias(
            "cents"
        )
    )
    pick = (
        "array_min(transform(cents, c -> struct("
        + _sqdist_spark("embedding", "c.carr")
        + " AS d, c.cid AS cid))).cid"
    )
    return vectors.crossJoin(F.broadcast(cents_row)).select(
        "vec_id", F.expr(pick).alias("cid"), *keep
    )


def _ivf_centroids(corpus: DataFrame) -> DataFrame:
    """The trained coarse-quantizer centroids (cid, carr) — md5-seeded,
    ``_IVF_ITERS`` Lloyd rounds, decimal-exact coordinate sums. Split
    from :func:`_ivf_coarse` so streaming ingest (st18) can TRAIN ONCE,
    store this frame, and assign micro-batches against it without
    retraining — the production shape SCALING.md argues for."""
    seeds8 = (
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("sk"),
            "vec_id",
            "embedding",
        )
        .orderBy("sk", "vec_id")
        .limit(_IVF_K)
    )
    centroids = (
        seeds8.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sk", "vec_id", "embedding"))
            ).alias("ss")
        )
        .select(F.posexplode("ss").alias("cid", "s"))
        .select(
            "cid",
            F.expr(
                "transform(s.embedding, x -> CAST(x AS DOUBLE))"
            ).alias("carr"),
        )
    )

    for _ in range(_IVF_ITERS):
        # Lloyd update fused with the assignment (r14, guide §2.4): cid
        # is computed INLINE on the corpus row and the explode follows
        # in the same map stage — the old shape exploded the corpus to
        # (vec_id, dim, x) rows and SortMergeJoined them back to the
        # narrow assignment on vec_id, shuffling corpus×dim scalar rows
        # PER ROUND just to re-attach a value each row can compute
        # locally. Same (cid, dim, x) multiset (the join was 1:1 on a
        # unique key), and the decimal sums are order-independent, so
        # the centroids are bit-identical; two exchanges + two sorts per
        # round disappear. First exchange is now the partial-agged
        # (cid, dim) aggregate — scalar rows only, k·dim groups.
        members = _ivf_assign(corpus, centroids, keep=("embedding",))
        # Centroid coordinates accumulate in decimal(18,6): exact and
        # order-independent, so the downstream argmin cell assignment
        # cannot flip on partial-agg ordering (double-sum ULP drift
        # across partitionings/engines is the failure mode; CLAUDE.md's
        # decimal-accumulation invariant). Cast back to double only for
        # the final per-cell mean.
        centroids = (
            members.select("cid", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum(
                        F.col("x").cast("double").cast("decimal(18,6)")
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("v")
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, v))), "
                    "s -> s.v)"
                ).alias("carr")
            )
        )

    return centroids


def x3d_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: a deterministic k-means coarse quantizer (8 centroids,
    2 Lloyd iterations, seeds = the 8 vectors with smallest
    md5(vec_id)), then probed search over the 2 nearest cells per query.

    Everything is DataFrame ops (``_ivf_coarse``): assignment is a fold
    against 8 broadcast centroids (no shuffle of the corpus), the
    centroid update is one posexplode + two hash aggs per iteration,
    and search scores only the probed cells' members. At 100 TB the
    cell assignment is computed once at ingest and stored as a
    partition column — the query path then reads nprobe/k of the
    corpus. Iterative refinement happens entirely in the engine, which
    is the point: k-means is a join+agg loop, not a special system."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    final_assign, probes = _ivf_coarse(corpus)
    # final_assign already carries (embedding, nrm) next to cid — the
    # old corpus.join(final_assign, "vec_id") SortMergeJoined two
    # corpus-sized streams (embedding arrays crossing the exchange)
    # for a 1:1 re-attach (r14, guide §2.4).
    scored = final_assign

    queries = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    cand = (
        scored.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


def _ivf_base_ctes(corpus_where: str = "") -> tuple[list[str], str]:
    """The IVF oracle's shared CTE chain — corpus, md5-ordered seeds,
    ``_IVF_ITERS`` Lloyd rounds (decimal-exact centroid sums), the final
    assignment ``fa`` and per-query ``probes`` — reused verbatim by the
    float search (x3d), the IVF-SQ8 composition (x3f) and the drift
    audit (x52, which trains on a filtered ``corpus_where`` slice), so
    the oracles cannot drift on the coarse quantizer. Returns (ctes,
    final-centroid CTE name)."""
    corpus = (
        "corpus AS (SELECT vec_id, embedding, "
        f"{_norm_duck('embedding')} AS nrm FROM embeddings"
        + (f" WHERE {corpus_where}" if corpus_where else "")
        + ")"
    )
    seeds = (
        "c0 AS (SELECT CAST(rk - 1 AS INT) AS cid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS carr FROM ("
        "SELECT vec_id, embedding, row_number() OVER "
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM corpus) "
        f"WHERE rk <= {_IVF_K})"
    )

    def assign(cent):
        return (
            f"(SELECT vec_id, cid FROM ("
            f"SELECT c.vec_id, ct.cid, row_number() OVER ("
            f"PARTITION BY c.vec_id ORDER BY "
            f"{_sqdist_duck('c.embedding', 'ct.carr')} ASC, ct.cid ASC) AS rk "
            f"FROM corpus c CROSS JOIN {cent} ct) WHERE rk = 1)"
        )

    def update(prev_assign):
        return (
            f"(SELECT cid, list(v ORDER BY dim) AS carr FROM ("
            f"SELECT a.cid, t.dim, "
            f"CAST(sum(CAST(CAST(e.embedding[t.dim + 1] AS DOUBLE) "
            f"AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v "
            f"FROM {prev_assign} a "
            f"JOIN embeddings e ON e.vec_id = a.vec_id "
            f"CROSS JOIN (SELECT unnest(range(0, {_DIM})) AS dim) t "
            f"GROUP BY a.cid, t.dim) GROUP BY cid)"
        )

    cent = "c0"
    ctes = [corpus, seeds]
    for i in range(_IVF_ITERS):
        ctes.append(f"a{i} AS {assign(cent)}")
        ctes.append(f"c{i + 1} AS {update(f'a{i}')}")
        cent = f"c{i + 1}"
    ctes.append(f"fa AS {assign(cent)}")
    ctes.append(
        "probes AS (SELECT query_id, cid FROM ("
        "SELECT q.vec_id AS query_id, ct.cid, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{_sqdist_duck('q.embedding', 'ct.carr')} ASC, ct.cid ASC) AS rk "
        f"FROM corpus q CROSS JOIN {cent} ct WHERE q.vec_id < {_N_QUERIES}) "
        f"WHERE rk <= {_IVF_NPROBE})"
    )
    return ctes, cent


def _ivf_sql() -> str:
    ctes, _cent = _ivf_base_ctes()
    ctes.append(
        "queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
        f"nrm AS q_nrm FROM corpus WHERE vec_id < {_N_QUERIES})"
    )
    ctes.append(
        "cand AS (SELECT p.query_id, c.vec_id, "
        f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) AS cos "
        "FROM corpus c JOIN fa ON fa.vec_id = c.vec_id "
        "JOIN probes p ON p.cid = fa.cid "
        "JOIN queries q ON q.query_id = p.query_id "
        "WHERE c.vec_id <> p.query_id)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ("
        "SELECT query_id, vec_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
        "FROM cand) WHERE rk <= 5"
    )


_SEMDEDUP_COS = 0.9

# Adaptive plane count for the corpus-scale LSH (x14). A fixed
# planes-per-table means E[bucket] = N / 2^planes grows with the corpus
# and within-bucket candidate pairs grow ~N² — quadratic, the one shape
# that cannot ship at 100 TB. Deriving planes from the corpus count
# pins E[bucket] ≈ B instead, making candidate volume ~2·N·B — linear.
# The derivation is INTEGER-ONLY (no float log2: libm rounding at a
# power-of-two boundary could flip the plane count between engines):
# planes = max(3, smallest p with 2^p >= ceil(N / B)).
_SEM_TARGET_BUCKET = 16  # target expected bucket occupancy B
_SEM_MAX_PLANES = 16  # supports corpora up to B * 2^16 per table

_PPT_SPARK = (
    "GREATEST(3, array_min(filter(transform(sequence(0, {mx}), q -> "
    "IF(shiftleft(1, q) >= (cnt + {bm1}) DIV {b}, q, CAST(NULL AS INT))), "
    "x -> x IS NOT NULL)))"
).format(mx=_SEM_MAX_PLANES, b=_SEM_TARGET_BUCKET, bm1=_SEM_TARGET_BUCKET - 1)
_PPT_DUCK = (
    "GREATEST(3, list_min(list_filter(list_transform(range(0, {mxe}), q -> "
    "CASE WHEN (1 << q) >= (cnt + {bm1}) // {b} THEN CAST(q AS INT) END), "
    "x -> x IS NOT NULL)))"
).format(
    mxe=_SEM_MAX_PLANES + 1, b=_SEM_TARGET_BUCKET, bm1=_SEM_TARGET_BUCKET - 1
)


def planes_for_occupancy(n: int, target_occupancy: int = _SEM_TARGET_BUCKET) -> int:
    """Driver-side twin of ``_PPT_SPARK``: the planes-per-table that
    holds E[bucket] ≈ ``target_occupancy`` for an ``n``-vector corpus —
    max(3, smallest p with 2^p >= ceil(n / B)). Use this to size a
    fixed-plane LSH (x3b's 3-planes default is this formula at the
    fixture scale); x14 computes the same number in-plan so the oracle
    can replay it."""
    q = max(1, (n + target_occupancy - 1) // target_occupancy)
    return max(3, (q - 1).bit_length())


def _adaptive_sign_buckets(
    spark: SparkSession, corpus: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, tbl, bucket) like ``_sign_buckets``, but planes-per-table
    scales with the corpus count. The count feeds the plane set through a
    broadcast of a one-row aggregate — declarative, no driver collect.
    ``keep`` threads extra corpus columns through the fold (see
    ``_sign_buckets_ppt``)."""
    ppt = corpus.agg(F.count(F.lit(1)).alias("cnt")).select(
        F.expr(_PPT_SPARK).alias("ppt")
    )
    return _sign_buckets_ppt(spark, corpus, ppt, keep)


def _sign_buckets_ppt(
    spark: SparkSession,
    corpus: DataFrame,
    ppt: DataFrame,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``_adaptive_sign_buckets`` with the plane count supplied as a
    one-row ``(ppt,)`` frame instead of derived from ``corpus`` — the
    stored-geometry path: st27 buckets each micro-batch against the
    ppt its SEED corpus minted (bucketing state, like st18's stored
    centroids), so incremental bucket keys stay comparable across
    epochs.

    ``keep`` (r14, guide §2.4 join elimination): columns functionally
    dependent on vec_id (e.g. x69's lang tag) ride the fold as extra
    group keys — same groups, same buckets — instead of a corpus-sized
    re-attach join on vec_id downstream."""
    planes = (
        spark.range(_N_TABLES * (_SEM_MAX_PLANES + 1))
        .withColumnRenamed("id", "p")
        .crossJoin(F.broadcast(ppt))
        .filter(F.col("p") < F.col("ppt") * _N_TABLES)
        .select(
            "p",
            F.expr("CAST(p DIV ppt AS INT)").alias("tbl"),
            F.expr("CAST(p % ppt AS INT)").alias("bit"),
            F.expr(_W_SPARK).alias("warr"),
        )
    )
    return (
        corpus.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            *keep,
            "tbl",
            "bit",
            F.expr(_dot_spark("embedding", "warr")).alias("proj"),
        )
        .groupBy("vec_id", *keep, "tbl")
        .agg(
            F.sum(
                F.when(F.col("proj") > 0, F.expr("shiftleft(1, bit)")).otherwise(0)
            ).alias("bucket")
        )
    )


def _semdedup_corpus(emb: DataFrame) -> DataFrame:
    """Originals + planted duplicate-direction copies (scaled ×2 → cosine
    exactly 1.0 with their source; every 10th vector)."""
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x * CAST(2.0 AS FLOAT))"
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(planted)


def _semdedup_pair_ids(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Within-bucket candidate pairs under the adaptive plane count.
    Split out so tests/test_scale_growth.py can pin |candidates| ~ N."""
    buckets = _adaptive_sign_buckets(spark, corpus)
    ba = buckets.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    bb = buckets.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    return (
        ba.join(bb, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def x14_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped corpus-level embedding dedup (Abbas et al. 2023):
    bucket the WHOLE corpus (originals + planted duplicate-direction
    copies) with the 4-table sign-LSH, generate within-bucket candidate
    pairs, verify by exact cosine ≥ 0.9, and apply the keep-min-id
    policy — each dropped vector reports its kept representative.

    This is the corpus-wide scale path x3c deliberately isn't: no
    all-pairs join anywhere — candidates come only from (table, bucket)
    equi-joins, and planes-per-table is derived from the corpus count
    (``_PPT_SPARK``) so expected bucket occupancy stays ≈ constant:
    candidate volume is ~2·N·B — linear in N, measured across a real
    ×4 corpus step in tests/test_scale_growth.py. Duplicate copies
    share every bucket at any plane count (scaling preserves projection
    signs), so recall on true duplicates is 1.0 by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _semdedup_corpus(emb)
    pair_ids = _semdedup_pair_ids(spark, corpus)
    scored = corpus.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    sa = scored.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    sb = scored.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = (F.expr(_dot_spark("ea", "eb")) / (F.col("na") * F.col("nb"))).alias(
        "cos"
    )
    dups = (
        pair_ids.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select("vec_a", "vec_b", cos)
        .filter(F.col("cos") >= _SEMDEDUP_COS)
    )
    w = Window.partitionBy("vec_b").orderBy("vec_a")
    return (
        dups.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("vec_b").alias("dropped_id"),
            F.col("vec_a").alias("kept_id"),
            F.round("cos", 6).alias("cosine"),
        )
    )


_X14_SQL = (
    "WITH corpus AS ("
    "  SELECT vec_id, embedding FROM embeddings "
    "  UNION ALL "
    "  SELECT vec_id + 1000000, "
    "  list_transform(embedding, x -> x * CAST(2.0 AS REAL)) "
    "  FROM embeddings WHERE vec_id % 10 = 0), "
    "cnt AS (SELECT count(*) AS cnt FROM corpus), "
    f"pp AS (SELECT {_PPT_DUCK} AS ppt FROM cnt), "
    "planes AS (SELECT p, "
    "CAST(p // ppt AS INT) AS tbl, "
    "CAST(p % ppt AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * (_SEM_MAX_PLANES + 1)}) t(p) "
    f"CROSS JOIN pp WHERE p < ppt * {_N_TABLES}), "
    "buckets AS (SELECT e.vec_id, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM corpus e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl), "
    "pair_ids AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
    "FROM buckets a JOIN buckets b "
    "ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id), "
    f"scored AS (SELECT vec_id, embedding, {_norm_duck('embedding')} AS nrm "
    "FROM corpus), "
    "dups AS (SELECT p.vec_a, p.vec_b, "
    f"{_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos "
    "FROM pair_ids p "
    "JOIN scored a ON a.vec_id = p.vec_a "
    "JOIN scored b ON b.vec_id = p.vec_b), "
    f"f AS (SELECT * FROM dups WHERE cos >= {_SEMDEDUP_COS}), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY vec_b ORDER BY vec_a) AS rk FROM f) "
    "SELECT vec_b AS dropped_id, vec_a AS kept_id, round(cos, 6) AS cosine "
    "FROM r WHERE rk = 1"
)


# --------------------------------------------------------------------------
# X22 — int8 scalar quantization + reconstruction-error audit
# --------------------------------------------------------------------------


def x22_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of every embedding (per-vector
    scale = max|v|/127, the faiss/SQ8 convention) and the per-label
    reconstruction-error audit that decides whether the quantized
    index is usable.

    This is the 100 TB enabler for the ANN family: int8 vectors shuffle
    and cache at a quarter of float32, so x3b/x3d candidate stages run
    on quantized vectors and only the final re-rank touches floats.
    The whole operator is one map over the corpus plus a |labels|-row
    aggregate — no shuffle of embeddings, no Python.

    Parity: quantize/dequantize stay in IEEE doubles with an identical
    op sequence in both engines (same multiply/divide order), the
    per-vector squared error folds sequentially like the cosine dot
    products (CLAUDE.md), and the only cross-row aggregation happens on
    integers: err_e9 = floor(err * 1e9) per vector, summed exactly.
    ``floor`` sidesteps the HALF_UP-vs-half-even rounding split."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = emb.selectExpr(
        "label",
        "nullif(array_max(transform(embedding, "
        "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma",
        "embedding",
    ).selectExpr(
        "label",
        # int8 code array: floor(v * 127 / ma + 0.5) in [-127, 127]
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 "
        "/ ma + 0.5) AS BIGINT)) AS qv",
        "ma",
        "embedding",
    ).selectExpr(
        "label",
        "CAST(floor(aggregate(zip_with(embedding, qv, (v, q) -> "
        "(CAST(v AS DOUBLE) - (CAST(q AS DOUBLE) * ma) / 127.0) * "
        "(CAST(v AS DOUBLE) - (CAST(q AS DOUBLE) * ma) / 127.0)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
        "* 1000000000.0) AS BIGINT) AS err_e9",
    )
    return (
        out.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("err_e9").cast("bigint").alias("total_err_e9"),
        )
        .withColumn("mse_e9", F.expr("total_err_e9 DIV n_vecs"))
    )


_X22_SQL = (
    "WITH e AS (SELECT label, embedding, "
    "nullif(list_max(list_transform(embedding, "
    "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma "
    "FROM embeddings), "
    "q AS (SELECT label, ma, embedding, "
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 "
    "/ ma + 0.5) AS BIGINT)) AS qv FROM e), "
    "err AS (SELECT label, CAST(floor(list_reduce(list_transform("
    "list_zip(embedding, qv), p -> "
    "(CAST(p[1] AS DOUBLE) - (CAST(p[2] AS DOUBLE) * ma) / 127.0) * "
    "(CAST(p[1] AS DOUBLE) - (CAST(p[2] AS DOUBLE) * ma) / 127.0)), "
    "(acc, v) -> acc + v) * 1000000000.0) AS BIGINT) AS err_e9 FROM q) "
    "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
    "CAST(sum(err_e9) AS BIGINT) AS total_err_e9, "
    "CAST(sum(err_e9) AS BIGINT) // count(*) AS mse_e9 "
    "FROM err GROUP BY 1"
)


# --------------------------------------------------------------------------
# X3e — quantized two-stage ANN (SQ8 candidates, exact float re-rank)
# --------------------------------------------------------------------------

_SQ8_RERANK = 32  # stage-1 survivors per query handed to the float re-rank


def x3e_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard SQ8 two-stage ANN search (VERDICT r4 item 5): x22's
    int8 quantization feeds x3b's sign-LSH bucket probe for candidate
    generation, the float vectors are touched only for the final exact
    re-rank of ≤``_SQ8_RERANK`` survivors per query.

    This realizes the 4×-smaller-shuffle promise x22's docstring makes:
    after the initial scan the float arrays NEVER cross an exchange —
    bucket assignment folds the dequantized vectors to scalars before
    its aggregate, the candidate set is (query_id, vec_id) pairs, the
    coarse scoring and the float re-rank both stream the corpus through
    BroadcastHashJoins on the (small by construction) candidate list.
    Pinned in tests/test_plans.py: no SortMergeJoin/ShuffledHashJoin
    anywhere in the plan — un-broadcasting any of these joins would
    shuffle an array payload and fail the guard.

    Hash-exact despite approximation: the int8 codes are deterministic
    (floor(x·127/ma + 0.5) in IEEE doubles, identical in DuckDB), so
    the dequantized coarse scores are bit-identical across engines, the
    stage-1 survivor SET matches exactly, and the exact re-rank is the
    same sequential-fold cosine as x3/x3b."""
    emb = load_table(spark, sf_dir, "embeddings")
    # int8 codes (x22's SQ8 convention); the float array is dropped here
    # and only reappears in the final re-rank
    deq = scoped_persist(
        emb.selectExpr(
            "vec_id",
            "nullif(array_max(transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma",
            "embedding",
        )
        .filter("ma IS NOT NULL")
        .selectExpr(
            "vec_id",
            "ma",
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
            "127.0 / ma + 0.5) AS BIGINT)) AS qv",
        )
        .selectExpr(
            "vec_id",
            "transform(qv, q -> CAST(q AS DOUBLE) * ma / 127.0) AS demb",
        )
        .withColumn("dnrm", F.expr(_norm_spark("demb")))
    )
    n_planes = _N_TABLES * _PLANES_PER_TABLE
    planes = (
        spark.range(n_planes)
        .withColumnRenamed("id", "p")
        .select(
            "p",
            F.expr(f"CAST(p DIV {_PLANES_PER_TABLE} AS INT)").alias("tbl"),
            (F.col("p") % _PLANES_PER_TABLE).cast("int").alias("bit"),
            F.expr(_W_SPARK).alias("warr"),
        )
    )
    # bucket assignment on the QUANTIZED representation: per-row fold to
    # a scalar projection, then a (vec_id, tbl) aggregate — the shuffle
    # payload is three scalars, never an array
    buckets = (
        deq.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "tbl",
            "bit",
            F.expr(_dot_spark("demb", "warr")).alias("proj"),
        )
        .groupBy("vec_id", "tbl")
        .agg(
            F.sum(
                F.when(
                    F.col("proj") > 0, F.expr("shiftleft(1, bit)")
                ).otherwise(0)
            ).alias("bucket")
        )
    )
    q_buckets = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cand_ids = (
        buckets.join(
            F.broadcast(q_buckets),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()
    )
    # coarse scoring on dequantized int8: candidates broadcast, corpus
    # codes stream through the join — no array shuffle
    qd = deq.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("demb").alias("q_demb"),
        F.col("dnrm").alias("q_dnrm"),
    )
    ccos = (
        F.expr(_dot_spark("demb", "q_demb"))
        / (F.col("dnrm") * F.col("q_dnrm"))
    ).alias("ccos")
    coarse = (
        deq.join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(qd), "query_id")
        .select("query_id", "vec_id", ccos)
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("vec_id")
    )
    survivors = (
        coarse.withColumn("rk", F.row_number().over(cw))
        .filter(F.col("rk") <= _SQ8_RERANK)
        .select("query_id", "vec_id")
    )
    # exact float re-rank: the ONLY stage that touches the float arrays,
    # and they stream (broadcast survivor list), never shuffle
    scored = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    queries = scored.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    exact = (
        scored.join(F.broadcast(survivors), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


_X3E_SQL = (
    "WITH quant AS (SELECT vec_id, ma, "
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 "
    "/ ma + 0.5) AS BIGINT)) AS qv FROM ("
    "SELECT vec_id, embedding, "
    "nullif(list_max(list_transform(embedding, "
    "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma "
    "FROM embeddings) WHERE ma IS NOT NULL), "
    "deq AS (SELECT vec_id, "
    "list_transform(qv, q -> CAST(q AS DOUBLE) * ma / 127.0) AS demb "
    "FROM quant), "
    "dn AS (SELECT vec_id, demb, "
    f"{_norm_duck('demb')} AS dnrm FROM deq), "
    "planes AS (SELECT p, "
    f"CAST(p // {_PLANES_PER_TABLE} AS INT) AS tbl, "
    f"CAST(p % {_PLANES_PER_TABLE} AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * _PLANES_PER_TABLE}) t(p)), "
    "buckets AS (SELECT d.vec_id, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('d.demb', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM deq d CROSS JOIN planes pl GROUP BY d.vec_id, pl.tbl), "
    "q_buckets AS (SELECT vec_id AS query_id, tbl AS q_tbl, "
    f"bucket AS q_bucket FROM buckets WHERE vec_id < {_N_QUERIES}), "
    "cand_ids AS (SELECT DISTINCT q.query_id, b.vec_id "
    "FROM buckets b JOIN q_buckets q "
    "ON b.tbl = q.q_tbl AND b.bucket = q.q_bucket "
    "AND b.vec_id <> q.query_id), "
    "qd AS (SELECT vec_id AS query_id, demb AS q_demb, dnrm AS q_dnrm "
    f"FROM dn WHERE vec_id < {_N_QUERIES}), "
    "coarse AS (SELECT ci.query_id, ci.vec_id, "
    f"{_dot_duck('c.demb', 'q.q_demb')} / (c.dnrm * q.q_dnrm) AS ccos "
    "FROM cand_ids ci "
    "JOIN dn c ON c.vec_id = ci.vec_id "
    "JOIN qd q ON q.query_id = ci.query_id), "
    "survivors AS (SELECT query_id, vec_id FROM ("
    "SELECT query_id, vec_id, row_number() OVER ("
    "PARTITION BY query_id ORDER BY ccos DESC, vec_id ASC) AS rk "
    f"FROM coarse) WHERE rk <= {_SQ8_RERANK}), "
    "scored AS (SELECT vec_id, embedding, "
    f"{_norm_duck('embedding')} AS nrm FROM embeddings), "
    "queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
    f"nrm AS q_nrm FROM scored WHERE vec_id < {_N_QUERIES}), "
    "exact AS (SELECT s.query_id, s.vec_id, "
    f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) AS cos "
    "FROM survivors s "
    "JOIN scored c ON c.vec_id = s.vec_id "
    "JOIN queries q ON q.query_id = s.query_id) "
    "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ("
    "SELECT query_id, vec_id, cos, row_number() OVER ("
    "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
    "FROM exact) WHERE rk <= 5"
)


def x3f_ivf_sq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 combined search — faiss's ``IndexIVFScalarQuantizer``
    production composition (VERDICT r5 item 6): x3d's coarse quantizer
    restricts the search to the probed cells' members, x3e's int8
    scoring ranks ONLY those members, and the exact float re-rank
    touches ≤``_SQ8_RERANK`` survivors per query. Candidate volume is
    nprobe/k of the corpus (the IVF bound) scored at int8 cost (the SQ
    bound) — the two levers multiply.

    Plan contract (pinned in tests/test_plans.py): NO float/double
    array ever crosses a hash-partitioned exchange — ``_ivf_coarse``
    (shared with x3d, so the two quantizers cannot drift) keeps even
    the training stage scalar-shuffled, and the int8 stage and the
    float re-rank stream the corpus through BroadcastHashJoins on
    (small by construction) candidate/survivor lists. At 100 TB the
    assignment is a partition column written at ingest and K grows
    ~√N, so the per-query-batch candidate list stays broadcastable —
    exactly this plan's shape.

    Hash-exact despite two approximation stages: the coarse quantizer
    is deterministic decimal-exact k-means, the int8 codes are IEEE
    doubles identical in DuckDB, so the survivor SET matches exactly
    and the final cosine is the sequential-fold construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = scoped_persist(
        emb.select(
            "vec_id",
            "embedding",
            F.expr(_norm_spark("embedding")).alias("nrm"),
        )
    )
    final_assign, probes = _ivf_coarse(corpus)

    # ---- stage 1: int8 scoring restricted to the probed cells ----
    cand_ids = (
        final_assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    deq = scoped_persist(
        corpus.selectExpr(
            "vec_id",
            "nullif(array_max(transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma",
            "embedding",
        )
        .filter("ma IS NOT NULL")
        .selectExpr(
            "vec_id",
            "ma",
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
            "127.0 / ma + 0.5) AS BIGINT)) AS qv",
        )
        .selectExpr(
            "vec_id",
            "transform(qv, q -> CAST(q AS DOUBLE) * ma / 127.0) AS demb",
        )
        .withColumn("dnrm", F.expr(_norm_spark("demb")))
    )
    qd = deq.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("demb").alias("q_demb"),
        F.col("dnrm").alias("q_dnrm"),
    )
    ccos = (
        F.expr(_dot_spark("demb", "q_demb"))
        / (F.col("dnrm") * F.col("q_dnrm"))
    ).alias("ccos")
    coarse = (
        deq.join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(qd), "query_id")
        .select("query_id", "vec_id", ccos)
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("vec_id")
    )
    survivors = (
        coarse.withColumn("rk", F.row_number().over(cw))
        .filter(F.col("rk") <= _SQ8_RERANK)
        .select("query_id", "vec_id")
    )

    # ---- stage 2: exact float re-rank of the survivors ----
    queries = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    exact = (
        corpus.join(F.broadcast(survivors), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


def _ivf_sq_sql() -> str:
    """x3f oracle: the shared IVF CTE chain (coarse quantizer + probes,
    byte-identical to x3d's via ``_ivf_base_ctes``), then x3e's SQ8
    stage-1 restricted to probed-cell members and the exact float
    re-rank."""
    ctes, _cent = _ivf_base_ctes()
    ctes.append(
        "quant AS (SELECT vec_id, ma, "
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
        "127.0 / ma + 0.5) AS BIGINT)) AS qv FROM ("
        "SELECT vec_id, embedding, "
        "nullif(list_max(list_transform(embedding, "
        "x -> abs(CAST(x AS DOUBLE)))), CAST(0.0 AS DOUBLE)) AS ma "
        "FROM corpus) WHERE ma IS NOT NULL)"
    )
    ctes.append(
        "dn AS (SELECT vec_id, demb, "
        f"{_norm_duck('demb')} AS dnrm FROM ("
        "SELECT vec_id, "
        "list_transform(qv, q -> CAST(q AS DOUBLE) * ma / 127.0) AS demb "
        "FROM quant))"
    )
    ctes.append(
        "cand_ids AS (SELECT p.query_id, fa.vec_id "
        "FROM fa JOIN probes p ON p.cid = fa.cid "
        "WHERE fa.vec_id <> p.query_id)"
    )
    ctes.append(
        "qd AS (SELECT vec_id AS query_id, demb AS q_demb, dnrm AS q_dnrm "
        f"FROM dn WHERE vec_id < {_N_QUERIES})"
    )
    ctes.append(
        "coarse AS (SELECT ci.query_id, ci.vec_id, "
        f"{_dot_duck('c.demb', 'q.q_demb')} / (c.dnrm * q.q_dnrm) AS ccos "
        "FROM cand_ids ci "
        "JOIN dn c ON c.vec_id = ci.vec_id "
        "JOIN qd q ON q.query_id = ci.query_id)"
    )
    ctes.append(
        "survivors AS (SELECT query_id, vec_id FROM ("
        "SELECT query_id, vec_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY ccos DESC, vec_id ASC) AS rk "
        f"FROM coarse) WHERE rk <= {_SQ8_RERANK})"
    )
    ctes.append(
        "queries AS (SELECT vec_id AS query_id, embedding AS q_embedding, "
        f"nrm AS q_nrm FROM corpus WHERE vec_id < {_N_QUERIES})"
    )
    ctes.append(
        "exact AS (SELECT s.query_id, s.vec_id, "
        f"{_dot_duck('c.embedding', 'q.q_embedding')} / (c.nrm * q.q_nrm) "
        "AS cos FROM survivors s "
        "JOIN corpus c ON c.vec_id = s.vec_id "
        "JOIN queries q ON q.query_id = s.query_id)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ("
        "SELECT query_id, vec_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
        "FROM exact) WHERE rk <= 5"
    )


# --------------------------------------------------------------------------
# X3h — product quantization (PQ) ANN with ADC scoring
# --------------------------------------------------------------------------

_PQ_M = 8  # subspaces: 64 dims -> 8 sub-vectors of 8
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 8  # codes per subspace (3-bit codes; faiss would use 256)
_PQ_RERANK = 32  # ADC survivors per query handed to the float re-rank


def _pq_subvec(arr: str, m: str) -> str:
    """The ``m``-th 8-dim sub-vector of ``arr`` as doubles (Spark)."""
    return (
        f"transform(slice({arr}, {m} * {_PQ_SUB} + 1, {_PQ_SUB}), "
        "x -> CAST(x AS DOUBLE))"
    )


def _pq_subvec_duck(arr: str, m: str) -> str:
    return (
        f"list_transform(list_slice({arr}, {m} * {_PQ_SUB} + 1, "
        f"{m} * {_PQ_SUB} + {_PQ_SUB}), x -> CAST(x AS DOUBLE))"
    )


def _pq_codes(vectors: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ encoding as a broadcast fold: the whole codebook (≤ M·K = 64
    rows of 8 doubles) collapses to ONE broadcast row and every vector
    picks its per-subspace nearest code with a map-side ``array_min``
    struct fold — the ``_ivf_assign`` shape, so the corpus never
    shuffles an array to get encoded. Ties break (distance, code),
    identical to the oracle's row_number order."""
    cb_row = (
        cb.groupBy("m")
        .agg(
            F.array_sort(F.collect_list(F.struct("code", "carr"))).alias(
                "cs"
            )
        )
        .groupBy()
        .agg(
            # nested array indexed BY subspace: element_at(cbm, m + 1)
            # replaces a per-m filter over the flat codebook (measured
            # ~30% off the encode stage; ordering semantics unchanged)
            F.expr(
                "transform(array_sort(collect_list(struct(m, cs))), "
                "s -> s.cs)"
            ).alias("cbm")
        )
    )
    pick = (
        f"transform(sequence(0, {_PQ_M - 1}), m -> "
        "array_min(transform(element_at(cbm, m + 1), c -> struct("
        + _sqdist_spark(_pq_subvec("embedding", "m"), "c.carr")
        + " AS d, c.code AS code))).code)"
    )
    return vectors.crossJoin(F.broadcast(cb_row)).select(
        "vec_id", F.expr(pick).alias("codes")
    )


def x3h_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3h — product-quantization ANN (Jégou et al. 2011), the third
    faiss compression pillar next to SQ8 (x3e) and IVF-SQ (x3f): the
    64-dim vectors are cut into ``_PQ_M`` = 8 sub-vectors, each
    subspace trains its own tiny k-means codebook (md5-seeded, one
    Lloyd round, decimal-exact coordinate means — the x3d discipline
    per subspace), and every vector compresses to 8 code ids. Search
    is asymmetric distance computation (ADC): each query precomputes a
    64-entry distance table (query sub-vector → every centroid of
    every subspace), the approximate distance of a corpus vector is
    then Σ_m table[m][code_m] — table LOOKUPS, the float arrays are
    never touched until the exact re-rank of ≤``_PQ_RERANK``
    survivors.

    Plan shape at 100 TB: training explodes the corpus to SCALAR
    (vec_id, subspace, dim, x) rows before any join (no array crosses
    a hash exchange — the x3f guard walks this plan too); encoding is
    a map-side broadcast fold; ADC scoring joins the scalar code rows
    to the BROADCAST distance tables and partial-aggregates to one
    (query, vec) scalar row per pair before the shuffle. The per-pair
    ADC contributions are e6-quantized BIGINTs (floor on a
    sequential-fold double — bit-identical both engines), so the
    cross-subspace sum is order-independent and the survivor SET is
    exact — which is what lets the hash gate certify an approximate
    index."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    seeds = (
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("sk"),
            "vec_id",
            "embedding",
        )
        .orderBy("sk", "vec_id")
        .limit(_PQ_K)
    )
    cb0 = (
        seeds.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sk", "vec_id", "embedding"))
            ).alias("ss")
        )
        .select(F.posexplode("ss").alias("code", "s"))
        .select(
            "code",
            F.explode(
                F.array(*[F.lit(m) for m in range(_PQ_M)])
            ).alias("m"),
            "s",
        )
        .select(
            "m",
            "code",
            F.expr(_pq_subvec("s.embedding", "m")).alias("carr"),
        )
    )
    # one Lloyd round per subspace: scalar explode BEFORE the join, so
    # only (vec_id, m, sd, x) scalars shuffle; decimal-exact means
    elems = corpus.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        F.expr(f"CAST(dim DIV {_PQ_SUB} AS INT)").alias("m"),
        F.expr(f"CAST(dim % {_PQ_SUB} AS INT)").alias("sd"),
        "x",
    )
    members0 = _pq_codes(corpus, cb0).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    cb1 = (
        elems.join(members0, ["vec_id", "m"])
        .groupBy("m", "code", "sd")
        .agg(
            (
                F.sum(
                    F.col("x").cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .groupBy("m", "code")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(sd, v))), "
                "s -> s.v)"
            ).alias("carr")
        )
        # ≤64 rows; BOTH the encoding branch and the ADC-table branch
        # consume it, and without materialization each would replay the
        # full Lloyd lineage (x41's broadcast-race lesson)
        .localCheckpoint(eager=True)
    )
    codes = _pq_codes(corpus, cb1).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    # ADC distance tables: 5 queries x 64 codebook rows, broadcast
    dq = (
        "CAST(floor("
        + _sqdist_spark(_pq_subvec("qe", "m"), "carr")
        + " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    )
    dt = (
        corpus.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
        )
        .crossJoin(F.broadcast(cb1))
        .select("query_id", "m", "code", F.expr(dq).alias("dq"))
    )
    approx = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dq").cast("bigint").alias("approx"))
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.asc("approx"), F.asc("vec_id")
    )
    survivors = (
        approx.withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") <= _PQ_RERANK)
        .select("query_id", "vec_id")
    )
    scored = emb.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    queries = scored.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    exact = (
        scored.join(F.broadcast(survivors), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


def _pq_sql() -> str:
    """x3h oracle: the same construction as DuckDB CTEs — md5-ordered
    seeds sliced per subspace, one decimal-exact Lloyd round, code
    assignment and ADC tables via row_number argmins, e6-quantized
    integer ADC sums, float re-rank."""
    sub_c = _pq_subvec_duck("c.embedding", "cb.m")
    sub_q = _pq_subvec_duck("q.qe", "cb.m")
    assign = (
        "(SELECT vec_id, m, code FROM ("
        "SELECT c.vec_id, cb.m, cb.code, row_number() OVER ("
        "PARTITION BY c.vec_id, cb.m ORDER BY "
        + _sqdist_duck(sub_c, "cb.carr")
        + " ASC, cb.code ASC) AS rk "
        "FROM corpus c CROSS JOIN {cb} cb) WHERE rk = 1)"
    )
    ctes = [
        "corpus AS (SELECT vec_id, embedding FROM embeddings)",
        (
            "seeds AS (SELECT CAST(rk - 1 AS INT) AS code, embedding "
            "FROM (SELECT vec_id, embedding, row_number() OVER ("
            "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk "
            f"FROM corpus) WHERE rk <= {_PQ_K})"
        ),
        (
            "ms AS (SELECT CAST(unnest(range(0, "
            f"{_PQ_M})) AS INT) AS m)"
        ),
        (
            "cb0 AS (SELECT ms.m, s.code, "
            + _pq_subvec_duck("s.embedding", "ms.m")
            + " AS carr FROM seeds s CROSS JOIN ms)"
        ),
        "a0 AS " + assign.format(cb="cb0"),
        (
            "cb1 AS (SELECT m, code, list(v ORDER BY sd) AS carr FROM ("
            "SELECT a.m, a.code, t.sd, "
            "CAST(sum(CAST(CAST(list_extract(e.embedding, "
            f"a.m * {_PQ_SUB} + t.sd + 1) AS DOUBLE) AS DECIMAL(18,6))) "
            "AS DOUBLE) / count(*) AS v "
            "FROM a0 a JOIN corpus e ON e.vec_id = a.vec_id "
            f"CROSS JOIN (SELECT CAST(unnest(range(0, {_PQ_SUB})) AS INT) "
            "AS sd) t "
            "GROUP BY a.m, a.code, t.sd) GROUP BY m, code)"
        ),
        "codes AS " + assign.format(cb="cb1"),
        (
            "qs AS (SELECT vec_id AS query_id, embedding AS qe "
            f"FROM corpus WHERE vec_id < {_N_QUERIES})"
        ),
        (
            "dt AS (SELECT q.query_id, cb.m, cb.code, "
            "CAST(floor("
            + _sqdist_duck(sub_q, "cb.carr")
            + " * CAST(1000000 AS DOUBLE)) AS BIGINT) AS dq "
            "FROM qs q CROSS JOIN cb1 cb)"
        ),
        (
            "approx AS (SELECT d.query_id, c.vec_id, "
            "CAST(sum(d.dq) AS BIGINT) AS approx "
            "FROM codes c JOIN dt d ON d.m = c.m AND d.code = c.code "
            "WHERE c.vec_id <> d.query_id GROUP BY 1, 2)"
        ),
        (
            "survivors AS (SELECT query_id, vec_id FROM ("
            "SELECT query_id, vec_id, row_number() OVER ("
            "PARTITION BY query_id ORDER BY approx ASC, vec_id ASC) AS rk "
            f"FROM approx) WHERE rk <= {_PQ_RERANK})"
        ),
        (
            "scored AS (SELECT vec_id, embedding, "
            + _norm_duck("embedding")
            + " AS nrm FROM corpus)"
        ),
        (
            "queries AS (SELECT vec_id AS query_id, "
            "embedding AS q_embedding, nrm AS q_nrm FROM scored "
            f"WHERE vec_id < {_N_QUERIES})"
        ),
        (
            "exact AS (SELECT s.query_id, s.vec_id, "
            + _dot_duck("c.embedding", "q.q_embedding")
            + " / (c.nrm * q.q_nrm) AS cos FROM survivors s "
            "JOIN scored c ON c.vec_id = s.vec_id "
            "JOIN queries q ON q.query_id = s.query_id)"
        ),
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT query_id, vec_id, round(cos, 6) AS cosine FROM ("
        "SELECT query_id, vec_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
        "FROM exact) WHERE rk <= 5"
    )


# --------------------------------------------------------------------------
# X24 — random-projection (JL) dimensionality reduction + energy audit
# --------------------------------------------------------------------------

_JL_DIMS = 8  # 64 -> 8: the cheap-ANN / pre-cluster representation
_JL_P0 = 100  # plane ids offset so the weights are independent of x3b's


def x24_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss-style random projection of every embedding
    (64 → 8 dims, md5-derived hyperplane weights — x3b's construction,
    offset plane ids) with the per-label energy audit: input vs
    projected squared-norm sums and the retained-energy ratio. This is
    the third lever of the embedding-scale toolkit: x22 shrinks
    bytes/dim, x24 shrinks dims, x3b/x3d bucket — together they set the
    shuffle and cache budget of ANN at 100 TB.

    One map over the corpus (the 8 projection vectors ride in a one-row
    broadcast of packed structs; no per-row md5), then a |labels|-row
    aggregate of exact integers. Each y_j is the canonical sequential
    dot fold; norms floor to e9 ints per vector before any cross-row
    sum, and the ratio divides BIGINTs DIV-first
    (``proj DIV (input DIV 1e6)``) so neither engine's wider
    intermediate types change the result."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = (
        spark.range(_JL_P0, _JL_P0 + _JL_DIMS)
        .withColumnRenamed("id", "p")
        .select("p", F.expr(_W_SPARK).alias("warr"))
    )
    packed = planes.agg(
        F.expr("sort_array(collect_list(struct(p, warr)))").alias("ps")
    ).withColumn("k", F.lit(1))
    return (
        emb.withColumn("k", F.lit(1))
        .join(F.broadcast(packed), "k")
        .selectExpr(
            "label",
            "embedding",
            "transform(ps, s -> aggregate(zip_with(embedding, s.warr, "
            "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v)) AS y",
        )
        .selectExpr(
            "label",
            "CAST(floor(aggregate(transform(embedding, x -> "
            "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v) * 1000000000.0) AS BIGINT) AS nx2_e9",
            "CAST(floor(aggregate(transform(y, v -> v * v), "
            "CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v) * 1000000000.0) AS BIGINT) AS ny2_e9",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("nx2_e9").cast("bigint").alias("input_e9"),
            F.sum("ny2_e9").cast("bigint").alias("projected_e9"),
        )
        .withColumn(
            "ratio_ppm",
            F.expr("projected_e9 DIV (input_e9 DIV 1000000)"),
        )
    )


_X24_SQL = (
    "WITH planes AS (SELECT p, "
    f"{_W_DUCK} AS warr "
    f"FROM (SELECT unnest(range({_JL_P0}, {_JL_P0 + _JL_DIMS})) AS p)), "
    "packed AS (SELECT list(struct_pack(p := p, warr := warr) "
    "ORDER BY p) AS ps FROM planes), "
    "v AS (SELECT label, embedding, ps FROM embeddings CROSS JOIN packed), "
    "yy AS (SELECT label, embedding, "
    "list_transform(ps, s -> list_reduce(list_transform("
    "list_zip(embedding, s.warr), pr -> CAST(pr[1] AS DOUBLE) * pr[2]), "
    "(acc, v) -> acc + v)) AS y FROM v), "
    "e AS (SELECT label, "
    "CAST(floor(list_reduce(list_transform(embedding, x -> "
    "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, v) -> acc + v) * 1000000000.0) AS BIGINT) AS nx2_e9, "
    "CAST(floor(list_reduce(list_transform(y, x -> x * x), "
    "(acc, v) -> acc + v) * 1000000000.0) AS BIGINT) AS ny2_e9 FROM yy) "
    "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
    "CAST(sum(nx2_e9) AS BIGINT) AS input_e9, "
    "CAST(sum(ny2_e9) AS BIGINT) AS projected_e9, "
    "CAST(sum(ny2_e9) AS BIGINT) // "
    "(CAST(sum(nx2_e9) AS BIGINT) // 1000000) AS ratio_ppm "
    "FROM e GROUP BY 1"
)


# --------------------------------------------------------------------------
# X28 — PageRank centrality over the similarity graph
# --------------------------------------------------------------------------

_PR_ITERS = 3
_PR_SCALE = 1_000_000_000


def x28_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding-similarity graph: nodes = vectors,
    edges = within-bucket pairs of the ADAPTIVE sign-LSH (x14's bucket
    machinery — plane count derives from corpus size, so |edges| grows
    ~linearly with N, measured in tests/test_scale_growth.py). A
    corpus-centrality score like this ranks documents by how many
    near-neighbors they have — the representativeness signal SemDeDup-
    style curation uses to pick which duplicate cluster member to keep.

    INTEGER PageRank: ranks live in parts-per-1e9 BIGINTs and every
    step is integer arithmetic — contribution = rank DIV degree, damping
    = (85·Σ) DIV 100 + (15·(1e9 DIV N)) DIV 100 — so the per-node sums
    are order-independent (no float accumulation ordering) and the
    DuckDB oracle, which unrolls the same three iterations as CTEs,
    hash-matches exactly. Truncation loses <1e-9·deg of mass per node
    per round (dangling/rounding leak — documented, identical both
    engines; production PageRank redistributes it).

    Scale shape: each iteration is one equi-join of edges against the
    |N|-row rank vector plus one groupBy(dst) — the classic distributed
    PageRank step; no all-pairs anywhere, the edge list reuses the
    bucket equi-join, and three fixed iterations keep the lineage
    shallow (unbounded iteration would localCheckpoint per round, the
    x2d pattern)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    buckets = _adaptive_sign_buckets(spark, emb)
    ba = buckets.select(F.col("vec_id").alias("src"), "tbl", "bucket")
    bb = buckets.select(F.col("vec_id").alias("dst"), "tbl", "bucket")
    pairs = (
        ba.join(bb, ["tbl", "bucket"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    raw_edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = raw_edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    # deg rides ON each edge (the normalized-adjacency form): the
    # loop-invariant edges-deg join is paid once here instead of once
    # per iteration (guide §2.4), so the body is exactly one equi-join
    # + one hash agg + one left join per round.
    # NOT checkpointed/persisted: a localCheckpoint was measured to cut
    # the ACTION to 0.5 s but only by moving ~1.3-2 s of bucket build +
    # AQE stage finalization into (untimed) query construction — a
    # measurement shift, not a win; and scoped_persist was measured
    # slower outright (2.3 -> 3.0 s, plan-walk cost with no recompute
    # to save). ReusedExchange already serves the edge subtree's
    # shuffles across the three iterations within the single action.
    edges = raw_edges.join(deg, "src")
    ncnt = emb.agg(F.count(F.lit(1)).alias("n"))
    nodes = emb.select("vec_id").crossJoin(F.broadcast(ncnt))
    ranks = nodes.select(
        "vec_id", F.expr(f"CAST({_PR_SCALE} DIV n AS BIGINT)").alias("rank")
    )
    # The per-round state covers only nodes that RECEIVE contributions.
    # Edges are symmetric here, so that set is exactly the nodes with
    # >=1 edge, every round (each such node has a neighbor whose rank
    # always exists); an isolated node receives s=0 every round and its
    # rank is the base constant after every iteration — so the old
    # per-iteration nodes LEFT JOIN (3 joins) collapses to ONE final
    # left join that fills isolated nodes with the base rank
    # (guide §2.4: remove shuffles outright). The groupBy(vec_id)
    # output is already hash-partitioned on the next round's join key,
    # so each round is one equi-join + one hash agg.
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("vec_id").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("vec_id"),
                F.expr("rank DIV deg").alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("vec_id")
            .agg(F.sum("c").cast("bigint").alias("s"))
            .crossJoin(F.broadcast(ncnt))
            .select(
                "vec_id",
                F.expr(
                    f"CAST((15 * ({_PR_SCALE} DIV n)) DIV 100 "
                    "+ (85 * s) DIV 100 AS BIGINT)"
                ).alias("rank"),
            )
        )
    final = nodes.join(ranks, "vec_id", "left").select(
        "vec_id",
        F.coalesce(
            F.col("rank"),
            F.expr(f"CAST((15 * ({_PR_SCALE} DIV n)) DIV 100 AS BIGINT)"),
        ).alias("rank"),
    )
    return (
        final.orderBy(F.desc("rank"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", F.col("rank").alias("rank_e9"))
    )


def _x28_sql() -> str:
    head = (
        "WITH cnt AS (SELECT count(*) AS cnt FROM embeddings), "
        f"pp AS (SELECT {_PPT_DUCK} AS ppt FROM cnt), "
        "planes AS (SELECT p, "
        "CAST(p // ppt AS INT) AS tbl, "
        "CAST(p % ppt AS INT) AS bit, "
        f"{_W_DUCK} AS warr "
        f"FROM range(0, {_N_TABLES * (_SEM_MAX_PLANES + 1)}) t(p) "
        f"CROSS JOIN pp WHERE p < ppt * {_N_TABLES}), "
        "buckets AS (SELECT e.vec_id, pl.tbl, "
        "sum(CASE WHEN "
        f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
        "ELSE 0 END) AS bucket "
        "FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl), "
        "pairs AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst "
        "FROM buckets a JOIN buckets b "
        "ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id), "
        "edges AS (SELECT src, dst FROM pairs "
        "UNION ALL SELECT dst, src FROM pairs), "
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY 1), "
        "n AS (SELECT count(*) AS n FROM embeddings), "
        f"r0 AS (SELECT vec_id, CAST({_PR_SCALE} // n AS BIGINT) AS rank "
        "FROM embeddings CROSS JOIN n)"
    )
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f", r{i} AS (SELECT e0.vec_id, "
            f"CAST((15 * ({_PR_SCALE} // n)) // 100 "
            "+ (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS rank "
            "FROM embeddings e0 CROSS JOIN n LEFT JOIN "
            "(SELECT e.dst AS vec_id, SUM(r.rank // d.deg) AS s "
            f"FROM edges e JOIN deg d ON d.src = e.src "
            f"JOIN r{i - 1} r ON r.vec_id = e.src GROUP BY 1) agg "
            "USING (vec_id))"
        )
    tail = (
        f" SELECT vec_id, rank AS rank_e9 FROM r{_PR_ITERS} "
        "ORDER BY rank DESC, vec_id ASC LIMIT 20"
    )
    return head + "".join(steps) + tail


_X28_SQL = _x28_sql()


# --------------------------------------------------------------------------
# X37 — cluster-balanced subsampling (diversity-preserving downsample)
# --------------------------------------------------------------------------

_X37_QUOTA = 40


def x37_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus downsampling: assign every embedding to
    a k-means cell via the SHARED IVF coarse quantizer (``_ivf_coarse``
    — x3d/x3f's, so the partition geometry cannot drift between
    search and curation), then keep at most ``_X37_QUOTA`` vectors per
    cell by deterministic md5 rank. This is the coverage-preserving
    step of a training-mix pipeline — uniform sampling lets the
    dominant mode flood the budget, per-cluster quotas keep the tail
    modes represented (the cluster-balancing idea behind SemDeDup-style
    diversity curation and DoReMi-ish domain capping, applied at
    embedding granularity).

    Scale shape: the quantizer is the audited x3d plan (broadcast
    centroids, decimal-exact Lloyd updates, TakeOrderedAndProject
    seeds); ranking is one row_number window PARTITIONED BY CELL —
    with K ≈ √N cells a partition sorts ~√N rows (3M at 100 TB-scale
    counts, inside one executor's sort budget), and the md5 rank makes
    re-runs and both engines pick the SAME survivors, so the sample is
    reproducible by construction. Output certifies assignment AND
    quota: per-cell totals, kept counts, and the kept-id checksum."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    final_assign, _probes = _ivf_coarse(corpus)
    w = Window.partitionBy("cid").orderBy(F.asc("sk"), F.asc("vec_id"))
    ranked = (
        final_assign.withColumn(
            "sk", F.md5(F.col("vec_id").cast("string"))
        )
        .withColumn("rk", F.row_number().over(w))
    )
    return ranked.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            F.when(F.col("rk") <= _X37_QUOTA, 1).otherwise(0)
        ).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(F.col("rk") <= _X37_QUOTA, F.col("vec_id"))
        ).cast("bigint").alias("kept_id_sum"),
    )


def _x37_sql() -> str:
    ctes, _cent = _ivf_base_ctes()
    return (
        "WITH " + ", ".join(ctes) + ", "
        "ranked AS (SELECT cid, vec_id, row_number() OVER ("
        "PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), "
        "vec_id) AS rk FROM fa) "
        "SELECT cid, CAST(count(*) AS BIGINT) AS n_total, "
        f"CAST(sum(CASE WHEN rk <= {_X37_QUOTA} THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_kept, "
        f"CAST(sum(CASE WHEN rk <= {_X37_QUOTA} THEN vec_id END) "
        "AS BIGINT) AS kept_id_sum FROM ranked GROUP BY 1"
    )


# --------------------------------------------------------------------------
# X35 — domain-centroid assignment (mixture routing / separability audit)
# --------------------------------------------------------------------------


def x35_domain_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised domain-centroid classifier over the embedding corpus —
    the mixture-routing primitive of a training-data pipeline: each
    domain (``label``) gets a centroid (per-dimension mean), every
    vector routes to its nearest centroid, and the (true, assigned)
    confusion matrix is the separability audit that tells you whether
    domain labels carry geometric signal before you reweight a mixture
    by them (the DoReMi-style domain-balancing setup; the reference has
    no embedding ops — this extends visualizer.py:116-188's per-feed
    counting to embedding space).

    100 TB shape: centroid build is ONE bounded-key shuffle
    (|labels|·64 keys) with decimal(18,6) accumulation (order-
    independent — double partial-agg ULP drift is the cross-engine
    failure mode); assignment is a per-row fold against ONE broadcast
    row carrying all centroids — ``array_min`` over (distance, cid)
    structs gives the argmin with the cid tie-break for free, and the
    corpus NEVER shuffles (tighter than x3d's windowed assign, which
    re-keys N·K rows by vec_id); the confusion aggregate is |labels|²
    rows. Total: one metadata-sized shuffle + one map-side fold + one
    tiny agg, at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cents = (
        elems.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.col("x").cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, v))), "
                "s -> s.v)"
            ).alias("carr")
        )
        .select(F.col("label").cast("int").alias("cid"), "carr")
    )
    cent_row = cents.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cid", "carr"))).alias("cents")
    )
    pick = F.expr(
        "array_min(transform(cents, c -> struct("
        + _sqdist_spark("embedding", "c.carr")
        + " AS d, c.cid AS cid)))"
    ).alias("pick")
    assigned = emb.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", "label", pick
    )
    return (
        assigned.groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("pick.cid").alias("assigned_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_X35_SQL = (
    "WITH cents AS ("
    "SELECT CAST(label AS INT) AS cid, list(v ORDER BY dim) AS carr FROM ("
    "SELECT e.label, t.dim, "
    "CAST(sum(CAST(CAST(e.embedding[t.dim + 1] AS DOUBLE) "
    "AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v "
    "FROM embeddings e "
    f"CROSS JOIN (SELECT unnest(range(0, {_DIM})) AS dim) t "
    "GROUP BY e.label, t.dim) GROUP BY label), "
    "assigned AS (SELECT vec_id, label, cid FROM ("
    "SELECT e.vec_id, e.label, c.cid, row_number() OVER ("
    "PARTITION BY e.vec_id ORDER BY "
    f"{_sqdist_duck('e.embedding', 'c.carr')} ASC, c.cid ASC) AS rk "
    "FROM embeddings e CROSS JOIN cents c) WHERE rk = 1) "
    "SELECT CAST(label AS INT) AS true_label, cid AS assigned_label, "
    "CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1, 2"
)




def x45_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection — the cleaning pass an
    embedding store runs before the vectors feed dedup/ANN/mixture
    decisions: a vector whose distance to its OWN label centroid is
    more than two standard deviations above the label mean is flagged
    (mislabeled, corrupted, or genuinely off-distribution — all three
    should leave the training mix).

    Cross-engine exactness without a single float comparison: the
    per-row distance quantizes to integer milli-units IMMEDIATELY
    (d_q = floor(sqrt(sqdist) * 1000) — sqrt is correctly rounded
    IEEE in both engines, and the quantization happens BEFORE any
    cross-row sum, the CLAUDE.md order-independence rule), and the
    z > 2 test clears denominators: (n*d_q - S)^2 > 4*(n*Q - S^2)
    with S = sum d_q, Q = sum d_q^2 — pure BIGINT (bounded ~1e17 per
    label out to sf10 at these value ranges). 100 TB shape: centroid
    build is the x35 bounded-key shuffle (|labels|*64 keys,
    decimal-exact means); distances are a map-side fold against a
    broadcast |labels|-row frame; the stats join back is another
    broadcast — the corpus never shuffles, and the distance frame is
    scope-persisted so the two passes (stats, flag) share one scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cents = (
        elems.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.col("x").cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, v))), "
                "s -> s.v)"
            ).alias("carr")
        )
    )
    dq = scoped_persist(
        emb.join(F.broadcast(cents), "label").select(
            F.col("label").cast("int").alias("label"),
            F.expr(
                "CAST(floor(sqrt("
                + _sqdist_spark("embedding", "carr")
                + ") * 1000) AS BIGINT)"
            ).alias("dq"),
        )
    )
    stats = dq.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dq").cast("bigint").alias("s"),
        F.sum(F.expr("dq * dq")).cast("bigint").alias("q"),
    )
    return (
        dq.join(F.broadcast(stats), "label")
        .select(
            "label", "n", "s",
            F.expr(
                "CAST(CASE WHEN n * dq - s > 0 AND "
                "(n * dq - s) * (n * dq - s) > 4 * (n * q - s * s) "
                "THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("o"),
        )
        .groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.sum("o").cast("bigint").alias("n_outliers"),
            F.max("s").alias("sum_dq"),
        )
        .withColumn(
            "outlier_bp",
            F.expr("10000 * n_outliers DIV n").cast("bigint"),
        )
    )


_X45_SQL = (
    "WITH cents AS ("
    "SELECT label, list(v ORDER BY dim) AS carr FROM ("
    "SELECT e.label, t.dim, "
    "CAST(sum(CAST(CAST(e.embedding[t.dim + 1] AS DOUBLE) "
    "AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v "
    "FROM embeddings e "
    f"CROSS JOIN (SELECT unnest(range(0, {_DIM})) AS dim) t "
    "GROUP BY e.label, t.dim) GROUP BY label), "
    "d AS (SELECT CAST(e.label AS INT) AS label, "
    "CAST(floor(sqrt("
    + _sqdist_duck("e.embedding", "c.carr")
    + ") * 1000) AS BIGINT) AS dq "
    "FROM embeddings e JOIN cents c ON e.label = c.label), "
    "st AS (SELECT label, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(dq) AS BIGINT) AS s, "
    "CAST(sum(dq * dq) AS BIGINT) AS q FROM d GROUP BY 1), "
    "f AS (SELECT d.label, st.n, st.s, "
    "CASE WHEN st.n * d.dq - st.s > 0 AND "
    "(st.n * d.dq - st.s) * (st.n * d.dq - st.s) > "
    "4 * (st.n * st.q - st.s * st.s) THEN 1 ELSE 0 END AS o "
    "FROM d JOIN st ON d.label = st.label) "
    "SELECT label, CAST(max(n) AS BIGINT) AS n, "
    "CAST(sum(o) AS BIGINT) AS n_outliers, "
    "CAST(max(s) AS BIGINT) AS sum_dq, "
    "CAST(10000 * sum(o) // max(n) AS BIGINT) AS outlier_bp "
    "FROM f GROUP BY 1"
)


# --------------------------------------------------------------------------
# X52 — quantizer drift audit (when to retrain the ANN index)
# --------------------------------------------------------------------------


def x52_quantizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 — QUANTIZER DRIFT audit: the retrain trigger for a stored
    ANN index. st18 made "train rarely, assign per-batch" real; this
    is the monitoring half — the quantizer was trained on YESTERDAY'S
    corpus (the even-id half), today's full corpus assigns against it,
    and per cell the audit reports how far the CURRENT member mean has
    drifted from the STORED centroid (L1 distance, micro-quantized).
    A drifting cell means the stored partition geometry no longer
    matches the data — recall decays silently (x47 measures the
    symptom; this measures the cause) — and the drift threshold is
    the production retrain trigger.

    Cross-engine exactness: the stored centroid is the md5-seeded
    Lloyd construction (decimal-exact sums, the x3d quantizer
    verbatim, trained on the filtered slice); the current means use
    x35's decimal(18,6) accumulation; the L1 fold is the established
    sequential zip_with/list_reduce idiom; the only emitted float is
    floor(drift·1e6) — a BIGINT.

    Scale shape: assignment is the x35 broadcast fold (corpus never
    shuffles), the mean is one (cid, dim)-keyed aggregate (k·64
    keys), and the drift compare joins two k-row frames."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    stored = _ivf_centroids(emb.filter("vec_id % 2 = 0"))
    # keep=("embedding",) replaces the old .join(emb, "vec_id") 1:1
    # re-attach (r14 join elimination — see _ivf_assign). Persisted:
    # the frame feeds TWO consumers (cur + counts) and the broadcast
    # assignment fold would otherwise re-evaluate per consumer — the
    # old SMJ shape shared its work through ReusedExchange, a map-side
    # fold has no exchange to reuse (measured: unpersisted fold read
    # ~0.35 s slower than the join it replaced).
    asg = scoped_persist(_ivf_assign(emb, stored, keep=("embedding",)))
    cur = (
        asg.select("cid", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(
            (
                F.sum(
                    F.col("x").cast("double").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, v))), "
                "s -> s.v)"
            ).alias("cur_arr")
        )
    )
    counts = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned")
    )
    drift = (
        "aggregate(zip_with(carr, cur_arr, (x, y) -> abs(CAST(x AS "
        "DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )
    return (
        stored.join(cur, "cid")
        .join(counts, "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_assigned",
            F.expr(f"CAST(floor({drift} * 1000000.0) AS BIGINT)").alias(
                "drift_micro"
            ),
        )
    )


def _x52_sql() -> str:
    ctes, cent = _ivf_base_ctes("vec_id % 2 = 0")
    # drop the probe/query CTEs the drift audit does not use: keep up
    # to the final centroid CTE
    keep = []
    for c in ctes:
        keep.append(c)
        if c.startswith(f"{cent} AS") or c.startswith(f"{cent} AS".lower()):
            break
    # fall back to keeping everything if the name scan missed (CTE
    # text layout change) — unused CTEs are harmless in DuckDB
    ctes_sql = ", ".join(keep if keep[-1].startswith(f"{cent} AS") else ctes)
    drift = (
        "list_reduce(list_transform(list_zip(ct.carr, cu.cur_arr), "
        "p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
        "(acc, v) -> acc + v)"
    )
    return (
        "WITH " + ctes_sql + ", "
        "allv AS (SELECT vec_id, embedding FROM embeddings), "
        "asg AS (SELECT vec_id, cid, embedding FROM ("
        "SELECT v.vec_id, v.embedding, ct.cid, row_number() OVER ("
        "PARTITION BY v.vec_id ORDER BY "
        f"{_sqdist_duck('v.embedding', 'ct.carr')} ASC, ct.cid ASC) AS rk "
        f"FROM allv v CROSS JOIN {cent} ct) WHERE rk = 1), "
        "cur AS (SELECT cid, list(v ORDER BY dim) AS cur_arr FROM ("
        "SELECT a.cid, t.dim, "
        "CAST(sum(CAST(CAST(a.embedding[t.dim + 1] AS DOUBLE) "
        "AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS v "
        "FROM asg a "
        f"CROSS JOIN (SELECT unnest(range(0, {_DIM})) AS dim) t "
        "GROUP BY a.cid, t.dim) GROUP BY cid), "
        "cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned "
        "FROM asg GROUP BY 1) "
        "SELECT CAST(ct.cid AS INT) AS cid, cnt.n_assigned, "
        f"CAST(floor({drift} * 1000000.0) AS BIGINT) AS drift_micro "
        f"FROM {cent} ct "
        "JOIN cur cu ON cu.cid = ct.cid "
        "JOIN cnt ON cnt.cid = ct.cid"
    )


# --------------------------------------------------------------------------
# X48 — semantic benchmark decontamination (cross-set SemDeDup)
# --------------------------------------------------------------------------

_X48_BOFF = 2000000  # bench ids live above this offset in the union
_X48_COS = 0.95


def _x48_union(emb: DataFrame) -> DataFrame:
    """Corpus ∪ synthetic benchmark: every 13th-mod-5 vector's scaled
    copy (×1.5 — sign-preserving, cosine exactly 1.0 with its corpus
    source) plays the leaked eval item; ids offset by ``_X48_BOFF``."""
    bench = emb.filter(F.col("vec_id") % 13 == 5).select(
        (F.col("vec_id") + F.lit(_X48_BOFF)).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x * CAST(1.5 AS FLOAT))"
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(bench)


def x48_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48 — SEMANTIC decontamination: flag corpus vectors whose
    embedding is near-identical (cos ≥ 0.95) to ANY benchmark vector —
    the embedding-level sweep run after n-gram decontamination (x10
    catches verbatim leaks; paraphrased eval items only surface here,
    the SemDeDup/Phi-style cross-set check). x14 dedups WITHIN the
    corpus; this compares corpus AGAINST an eval set: both sets bucket
    under the SAME adaptive sign-LSH planes (plane count derived from
    the union size, integer-only), candidates are corpus×bench
    bucket-mates ONLY — never all-pairs — and exact cosine verifies.
    Planted recall is 1.0 by construction (scaling preserves every
    projection sign, so each leaked item shares all its source's
    buckets). Per flagged corpus vector: the best-matching benchmark
    item (cos DESC, id ASC — deterministic) and the rounded cosine.

    Scale shape: x14's linear-candidate geometry applied cross-set —
    candidate volume ~|bench|·occupancy, the bench side is tiny by
    nature (an eval suite), and at 100 TB the bench buckets broadcast
    while the corpus streams through map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    union = _x48_union(emb)
    buckets = _adaptive_sign_buckets(spark, union)
    ca = buckets.filter(F.col("vec_id") < _X48_BOFF).select(
        F.col("vec_id").alias("cid_"), "tbl", "bucket"
    )
    cb = buckets.filter(F.col("vec_id") >= _X48_BOFF).select(
        F.col("vec_id").alias("bid_"), "tbl", "bucket"
    )
    cand = (
        ca.join(cb, ["tbl", "bucket"])
        .select("cid_", "bid_")
        .distinct()
    )
    scored = union.select(
        "vec_id", "embedding", F.expr(_norm_spark("embedding")).alias("nrm")
    )
    sa = scored.select(
        F.col("vec_id").alias("cid_"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    sb = scored.select(
        F.col("vec_id").alias("bid_"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = (
        F.expr(_dot_spark("ea", "eb")) / (F.col("na") * F.col("nb"))
    ).alias("cos")
    hits = (
        cand.join(sa, "cid_")
        .join(sb, "bid_")
        .select("cid_", "bid_", cos)
        .filter(F.col("cos") >= _X48_COS)
    )
    w = Window.partitionBy("cid_").orderBy(F.desc("cos"), F.asc("bid_"))
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("cid_").alias("vec_id"),
            (F.col("bid_") - F.lit(_X48_BOFF)).alias("bench_id"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# X69 — bitext mining (cross-lingual parallel-pair mining)
# --------------------------------------------------------------------------

# planted "translation" ids live above this offset; the de-offset test is
# `>= _X69_POFF`, so natural ids must never reach it — pinned with 10x
# headroom by tests/test_similarity.py::test_planted_id_offsets_clear_corpus
_X69_POFF = 3000000
_X69_COS = "CAST(0.9 AS DOUBLE)"     # match threshold (portable literal)
_X69_MARGIN = "CAST(0.1 AS DOUBLE)"  # best-vs-runner-up margin


def _x69_corpus(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Language-tagged embedding corpus + planted translations: every
    non-en doc with id % 7 == 3 gets a scaled-copy embedding registered
    as an 'en' document (ids offset by ``_X69_POFF``) — the stand-in
    for a true translation pair, cosine exactly 1.0 with its source.
    Positive scaling preserves every hyperplane projection sign, so a
    plant shares ALL of its source's LSH buckets: mining recall on the
    planted pairs is 1.0 by construction (the x48 planted-leak
    design, applied cross-lingually)."""
    base = (
        docs.select("doc_id", "lang")
        .join(
            emb.select("vec_id", "embedding"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .select("vec_id", "lang", "embedding")
    )
    plants = base.filter(
        (F.col("lang") != "en") & (F.col("vec_id") % 7 == 3)
    ).select(
        (F.col("vec_id") + F.lit(_X69_POFF)).alias("vec_id"),
        F.lit("en").alias("lang"),
        F.expr(
            "transform(embedding, x -> x * CAST(1.5 AS FLOAT))"
        ).alias("embedding"),
    )
    return base.unionByName(plants)


def x69_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 — BITEXT MINING, the LASER/CCMatrix step that builds
    parallel corpora for multilingual training: for every non-English
    document, find its best English counterpart in embedding space and
    keep the pair only when the match is strong (cos ≥ 0.9) AND
    unambiguous (margin ≥ 0.1 over the runner-up — the margin
    criterion that kills hubness false positives). Candidates come
    from the SAME adaptive sign-LSH both dedup and decontamination use
    (one bucketing construction, four consumers): non-en × en
    bucket-mates only, never all-pairs. Planted translation pairs
    (scaled copies — see ``_x69_corpus``) are mined with recall 1.0 by
    construction; natural cross-set cosines in the fixture top out
    ≈0.5, so the certificate is exactly the planted-pair set plus the
    thresholds doing their job.

    Scale shape: candidate volume is Σ per-bucket |src|·|tgt| with the
    adaptive plane count holding occupancy flat across decades (x3b's
    rule); the margin needs only the top-2 per source doc — a bounded
    window over candidate groups, no global sort; at 100 TB both
    language sides stream through the same bucketed exchange."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # the planted union is consumed three times (bucketing, the lang
    # tag join, the cosine verify) and the bucket frame twice (source
    # and target sides) — persist both once, scope-released by the
    # entry wrapper; the bucket cache holds (id, tbl, bucket, lang)
    # rows only, no embedding arrays
    corpus = scoped_persist(_x69_corpus(docs, emb))
    # lang rides the bucket fold as an extra group key (functionally
    # dependent on vec_id — same groups, same buckets), replacing the
    # old corpus-sized buckets ⋈ (vec_id, lang) re-attach join (r14).
    lb = scoped_persist(
        _adaptive_sign_buckets(
            spark,
            corpus.select("vec_id", "embedding", "lang"),
            keep=("lang",),
        )
    )
    src_b = lb.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("sid_"), "tbl", "bucket"
    )
    tgt_b = lb.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("tid_"), "tbl", "bucket"
    )
    cand = src_b.join(tgt_b, ["tbl", "bucket"]).select(
        "sid_", "tid_"
    ).distinct()
    scored = corpus.select(
        "vec_id", "lang", "embedding",
        F.expr(_norm_spark("embedding")).alias("nrm"),
    )
    sa = scored.select(
        F.col("vec_id").alias("sid_"),
        F.col("lang").alias("src_lang"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    sb = scored.select(
        F.col("vec_id").alias("tid_"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = (
        F.expr(_dot_spark("ea", "eb")) / (F.col("na") * F.col("nb"))
    ).alias("cos")
    pairs = cand.join(sa, "sid_").join(sb, "tid_").select(
        "sid_", "src_lang", "tid_", cos
    )
    w = Window.partitionBy("sid_").orderBy(F.desc("cos"), F.asc("tid_"))
    ranked = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    agg = ranked.groupBy("sid_", "src_lang").agg(
        F.max(F.when(F.col("rk") == 1, F.col("cos"))).alias("cos1"),
        F.max(F.when(F.col("rk") == 1, F.col("tid_"))).alias("tid1"),
        F.max(F.when(F.col("rk") == 2, F.col("cos"))).alias("cos2"),
    )
    return (
        agg.filter(
            (F.col("cos1") >= F.expr(_X69_COS))
            & (
                F.coalesce(
                    F.col("cos1") - F.col("cos2"),
                    F.expr("CAST(1.0 AS DOUBLE)"),
                )
                >= F.expr(_X69_MARGIN)
            )
        )
        .select(
            F.col("sid_").alias("src_doc"),
            F.col("src_lang").alias("lang"),
            F.expr(
                f"CASE WHEN tid1 >= {_X69_POFF} "
                f"THEN tid1 - {_X69_POFF} ELSE tid1 END"
            ).alias("en_doc"),
            (F.col("tid1") >= F.lit(_X69_POFF)).alias("planted"),
            F.round("cos1", 6).alias("cosine"),
        )
    )


_X69_SQL = (
    "WITH base AS (SELECT e.vec_id AS vec_id, d.lang, e.embedding "
    "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), "
    "u AS (SELECT * FROM base UNION ALL "
    f"SELECT vec_id + {_X69_POFF}, 'en', "
    "list_transform(embedding, x -> x * CAST(1.5 AS REAL)) "
    "FROM base WHERE lang <> 'en' AND vec_id % 7 = 3), "
    "cnt AS (SELECT count(*) AS cnt FROM u), "
    f"pp AS (SELECT {_PPT_DUCK} AS ppt FROM cnt), "
    "planes AS (SELECT p, "
    "CAST(p // ppt AS INT) AS tbl, "
    "CAST(p % ppt AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * (_SEM_MAX_PLANES + 1)}) t(p) "
    f"CROSS JOIN pp WHERE p < ppt * {_N_TABLES}), "
    "buckets AS (SELECT e.vec_id, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM u e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl), "
    "lb AS (SELECT b.vec_id, b.tbl, b.bucket, u.lang FROM buckets b "
    "JOIN u ON u.vec_id = b.vec_id), "
    "cand AS (SELECT DISTINCT s.vec_id AS sid_, t.vec_id AS tid_ "
    "FROM lb s JOIN lb t ON s.tbl = t.tbl AND s.bucket = t.bucket "
    "AND s.lang <> 'en' AND t.lang = 'en'), "
    "scored AS (SELECT vec_id, lang, embedding, "
    f"{_norm_duck('embedding')} AS nrm FROM u), "
    "pairs AS (SELECT c.sid_, a.lang AS src_lang, c.tid_, "
    f"{_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos "
    "FROM cand c "
    "JOIN scored a ON a.vec_id = c.sid_ "
    "JOIN scored b ON b.vec_id = c.tid_), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY sid_ ORDER BY cos DESC, tid_ ASC) AS rk FROM pairs), "
    "a2 AS (SELECT sid_, src_lang, "
    "max(CASE WHEN rk = 1 THEN cos END) AS cos1, "
    "max(CASE WHEN rk = 1 THEN tid_ END) AS tid1, "
    "max(CASE WHEN rk = 2 THEN cos END) AS cos2 "
    "FROM r WHERE rk <= 2 GROUP BY 1, 2) "
    "SELECT sid_ AS src_doc, src_lang AS lang, "
    f"CASE WHEN tid1 >= {_X69_POFF} THEN tid1 - {_X69_POFF} "
    "ELSE tid1 END AS en_doc, "
    f"tid1 >= {_X69_POFF} AS planted, "
    "round(cos1, 6) AS cosine "
    f"FROM a2 WHERE cos1 >= {_X69_COS} "
    f"AND COALESCE(cos1 - cos2, CAST(1.0 AS DOUBLE)) >= {_X69_MARGIN}"
)


_X48_SQL = (
    "WITH u AS ("
    "  SELECT vec_id, embedding FROM embeddings "
    "  UNION ALL "
    f"  SELECT vec_id + {_X48_BOFF}, "
    "  list_transform(embedding, x -> x * CAST(1.5 AS REAL)) "
    "  FROM embeddings WHERE vec_id % 13 = 5), "
    "cnt AS (SELECT count(*) AS cnt FROM u), "
    f"pp AS (SELECT {_PPT_DUCK} AS ppt FROM cnt), "
    "planes AS (SELECT p, "
    "CAST(p // ppt AS INT) AS tbl, "
    "CAST(p % ppt AS INT) AS bit, "
    f"{_W_DUCK} AS warr "
    f"FROM range(0, {_N_TABLES * (_SEM_MAX_PLANES + 1)}) t(p) "
    f"CROSS JOIN pp WHERE p < ppt * {_N_TABLES}), "
    "buckets AS (SELECT e.vec_id, pl.tbl, "
    "sum(CASE WHEN "
    f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
    "ELSE 0 END) AS bucket "
    "FROM u e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl), "
    "cand AS (SELECT DISTINCT a.vec_id AS cid_, b.vec_id AS bid_ "
    "FROM buckets a JOIN buckets b "
    "ON a.tbl = b.tbl AND a.bucket = b.bucket "
    f"AND a.vec_id < {_X48_BOFF} AND b.vec_id >= {_X48_BOFF}), "
    f"scored AS (SELECT vec_id, embedding, {_norm_duck('embedding')} "
    "AS nrm FROM u), "
    "hits AS (SELECT c.cid_, c.bid_, "
    f"{_dot_duck('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos "
    "FROM cand c "
    "JOIN scored a ON a.vec_id = c.cid_ "
    "JOIN scored b ON b.vec_id = c.bid_), "
    f"f AS (SELECT * FROM hits WHERE cos >= {_X48_COS}), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY cid_ ORDER BY cos DESC, bid_ ASC) AS rk FROM f) "
    f"SELECT cid_ AS vec_id, bid_ - {_X48_BOFF} AS bench_id, "
    "round(cos, 6) AS cosine FROM r WHERE rk = 1"
)


# --------------------------------------------------------------------------
# X47 — ANN recall audit (approximate vs exact ground truth)
# --------------------------------------------------------------------------


def x47_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 — recall@5 of the IVF ANN (x3d) against the exact
    brute-force ground truth (x3): the acceptance gate every
    production ANN deployment runs before (and continuously after)
    swapping approximate search in — "how many of the true top-5 does
    the probed search return?" Per query: ground-truth size, hits, and
    recall in basis points. Composes the two existing operators
    verbatim (not re-derived), so the audit measures EXACTLY the
    shipped search paths; both sides re-rank x3's rounded top-10 to
    top-5 with the same (cosine DESC, vec_id ASC) tie-break, so the
    truth set is engine-identical.

    Scale shape: the exact arm is the brute-force scan over the
    corpus with broadcast queries (linear, one pass — affordable for
    an AUDIT SAMPLE of queries, which is how recall is measured at
    100 TB: sample, not census); the IVF arm is x3d's probed plan;
    the comparison itself joins two ≤(queries×k)-row frames —
    negligible. Integer-only output."""
    exact = x3_cosine_topk(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    exact5 = (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id")
    )
    approx = x3d_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact5.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        exact5.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr("(10000 * coalesce(n_hits, 0)) DIV n_exact")
            .cast("bigint")
            .alias("recall_bp"),
        )
    )


def _x47_sql() -> str:
    return (
        f"WITH exact10 AS ({_X3_SQL}), "
        f"approx AS ({_ivf_sql()}), "
        "exact5 AS (SELECT query_id, vec_id FROM ("
        "SELECT query_id, vec_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rk "
        "FROM exact10) WHERE rk <= 5), "
        "hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits "
        "FROM exact5 e JOIN approx a "
        "ON a.query_id = e.query_id AND a.vec_id = e.vec_id GROUP BY 1), "
        "base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact "
        "FROM exact5 GROUP BY 1) "
        "SELECT b.query_id, b.n_exact, "
        "CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, "
        "CAST((10000 * coalesce(h.n_hits, 0)) // b.n_exact AS BIGINT) "
        "AS recall_bp "
        "FROM base b LEFT JOIN hits h ON h.query_id = b.query_id"
    )


# --------------------------------------------------------------------------
# X59 — quantizer-cell LABEL PURITY (supervised clustering-quality audit)
# --------------------------------------------------------------------------


def x59_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 — label PURITY of the shared IVF coarse quantizer's cells:
    per cell, the majority ``label``'s share in basis points, plus a
    corpus row (cid = -1) with the weighted overall purity — the
    standard external clustering-quality metric, and the audit that
    decides whether x37's cluster-balanced sampling and x35's
    centroids are stratifying on REAL structure or on quantizer noise
    (a purity near 1/|labels| means the cells are meaningless for
    curation). Rides the SAME ``_ivf_coarse`` quantizer as
    x3d/x3f/x37/x52 — one trained binding, audited here, so a
    quantizer change re-certifies every consumer through one oracle.

    Scale shape: training/assignment is the audited x3d geometry (no
    float array ever crosses a hash exchange); the purity math runs on
    the (cid, label) contingency table — ≤ k·|labels| rows at ANY
    corpus size — so every window/join below the assignment is
    effectively free. Certificate: the full contingency-derived table
    (cell sizes, label diversity, majority labels, purity) in exact
    integer basis points."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign, _probes = _ivf_coarse(emb)
    # assign carries label inline (r14 join elimination — the old
    # .join(emb, "vec_id") re-shuffled the corpus for a 1:1 re-attach).
    jl = assign.select("cid", F.col("label").cast("int").alias("label"))
    cl = scoped_persist(
        jl.groupBy("cid", "label").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    w = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    top = (
        cl.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cid",
            F.col("label").alias("top_label"),
            F.col("n").alias("top_cnt"),
        )
    )
    percell = cl.groupBy("cid").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
    )
    cells = (
        percell.join(top, "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_vecs",
            "n_labels",
            "top_label",
            "top_cnt",
            F.expr("(10000 * top_cnt) DIV n_vecs")
            .cast("bigint")
            .alias("purity_bp"),
        )
    )
    lab = cl.select("label").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_labels")
    )
    overall = (
        cells.agg(
            F.sum("n_vecs").cast("bigint").alias("n_vecs"),
            F.sum("top_cnt").cast("bigint").alias("top_cnt"),
        )
        .crossJoin(F.broadcast(lab))
        .select(
            F.lit(-1).cast("int").alias("cid"),
            "n_vecs",
            "n_labels",
            F.lit(-1).cast("int").alias("top_label"),
            "top_cnt",
            F.expr("(10000 * top_cnt) DIV n_vecs")
            .cast("bigint")
            .alias("purity_bp"),
        )
    )
    return cells.unionByName(overall)


def _x59_sql() -> str:
    ctes, _cent = _ivf_base_ctes()
    ctes.extend(
        [
            "jl AS (SELECT fa.cid, CAST(e.label AS INT) AS label "
            "FROM fa JOIN embeddings e ON e.vec_id = fa.vec_id)",
            "cl AS (SELECT cid, label, CAST(count(*) AS BIGINT) AS n "
            "FROM jl GROUP BY 1, 2)",
            "topc AS (SELECT cid, label AS top_label, n AS top_cnt FROM ("
            "SELECT cid, label, n, row_number() OVER (PARTITION BY cid "
            "ORDER BY n DESC, label ASC) AS rk FROM cl) WHERE rk = 1)",
            "percell AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_vecs, "
            "CAST(count(*) AS BIGINT) AS n_labels FROM cl GROUP BY 1)",
            "cells AS (SELECT CAST(p.cid AS INT) AS cid, p.n_vecs, "
            "p.n_labels, t.top_label, t.top_cnt, "
            "CAST((10000 * t.top_cnt) // p.n_vecs AS BIGINT) AS purity_bp "
            "FROM percell p JOIN topc t ON t.cid = p.cid)",
            "lab AS (SELECT CAST(count(DISTINCT label) AS BIGINT) "
            "AS n_labels FROM cl)",
            "ov AS (SELECT CAST(-1 AS INT) AS cid, "
            "CAST(sum(n_vecs) AS BIGINT) AS n_vecs, "
            "(SELECT n_labels FROM lab) AS n_labels, "
            "CAST(-1 AS INT) AS top_label, "
            "CAST(sum(top_cnt) AS BIGINT) AS top_cnt, "
            "CAST((10000 * sum(top_cnt)) // sum(n_vecs) AS BIGINT) "
            "AS purity_bp FROM cells)",
        ]
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + " SELECT * FROM cells UNION ALL SELECT * FROM ov"
    )


# --------------------------------------------------------------------------
# X64 — Matryoshka truncation recall audit
# --------------------------------------------------------------------------

_MRL_DIMS = (16, 4)  # prefix truncations audited against the full 64


def x64_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 — MATRYOSHKA truncation audit: recall@10 of prefix-truncated
    embeddings (dims 16 and 4 of the stored 64) against the full-dim
    exact top-10 — the measurement behind MRL-style "store wide, serve
    narrow" deployments (truncate to d/4 for the candidate pass, spend
    full dims only on the short re-rank list; this audit is the
    decision input for how far you can cut). Truncation is a per-row
    ``slice`` (free at scan time — at 100 TB the narrow pass reads 4/64
    of the vector bytes), cosines reuse the sequential-fold dot (a
    prefix of the same fold, so both engines stay bit-identical), and
    the certificate is PURE INTEGERS: per (query, dim) the overlap
    count of the truncated top-10 with the full top-10 — no float ever
    emitted. Exact top-k per dim is x3's audited brute-force geometry
    (5-row query broadcast; the documented exact baseline, not the
    scale path — x3d/x3f are); the full-dim list scope-persists and
    every truncated list probes it."""
    emb = load_table(spark, sf_dir, "embeddings")

    def topk(d: int | None) -> DataFrame:
        col = (
            "embedding" if d is None else f"slice(embedding, 1, {d})"
        )
        corpus = emb.select(
            "vec_id",
            F.expr(col).alias("e"),
            F.expr(_norm_spark(col)).alias("nrm"),
        )
        queries = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
        cos = (
            F.expr(_dot_spark("e", "qe"))
            / (F.col("nrm") * F.col("qnrm"))
        ).alias("cos")
        pairs = (
            corpus.join(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", cos)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("vec_id")
        )
        return (
            pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _TOPK)
            .select("query_id", "vec_id")
        )

    full = scoped_persist(topk(None))
    anchors = full.select("query_id").distinct()
    out = None
    for d in _MRL_DIMS:
        hits = (
            topk(d)
            .join(full, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        rows = (
            anchors.join(hits, "query_id", "left")
            .select(
                "query_id",
                F.lit(d).cast("int").alias("dim"),
                F.coalesce("n_hits", F.lit(0)).cast("bigint").alias(
                    "n_hits"
                ),
            )
        )
        out = rows if out is None else out.unionByName(rows)
    return out.withColumn(
        "recall_bp",
        F.expr(f"(10000 * n_hits) DIV {_TOPK}").cast("bigint"),
    )


def _x64_sql() -> str:
    def topk_cte(name: str, col: str) -> str:
        return (
            f"{name} AS (SELECT query_id, vec_id FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            f"{_dot_duck(col('c'), col('q'))} "
            f"/ ({_norm_duck(col('c'))} * {_norm_duck(col('q'))}) DESC, "
            "c.vec_id ASC) AS rk "
            "FROM embeddings c CROSS JOIN embeddings q "
            f"WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id) "
            f"WHERE rk <= {_TOPK})"
        )

    ctes = [
        topk_cte("tk_full", lambda t: f"{t}.embedding"),
    ]
    parts = []
    for d in _MRL_DIMS:
        ctes.append(
            topk_cte(
                f"tk_{d}",
                lambda t, d=d: f"list_slice({t}.embedding, 1, {d})",
            )
        )
        ctes.append(
            f"h_{d} AS (SELECT t.query_id, "
            "CAST(count(*) AS BIGINT) AS n_hits "
            f"FROM tk_{d} t JOIN tk_full f "
            "ON f.query_id = t.query_id AND f.vec_id = t.vec_id "
            "GROUP BY 1)"
        )
        parts.append(
            f"SELECT a.query_id, CAST({d} AS INT) AS dim, "
            "CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, "
            "CAST((10000 * COALESCE(h.n_hits, 0)) "
            f"// {_TOPK} AS BIGINT) AS recall_bp "
            f"FROM (SELECT DISTINCT query_id FROM tk_full) a "
            f"LEFT JOIN h_{d} h ON h.query_id = a.query_id"
        )
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(parts)


# --------------------------------------------------------------------------
# X3i — graph-based ANN (HNSW-class best-first search, bounded/unrolled)
# --------------------------------------------------------------------------

_X3I_DEG = 8       # k-NN graph out-degree per node
_X3I_BEAM = 12     # best-first beam width (ef in HNSW terms)
_X3I_HOPS = 4      # unrolled expansion rounds
_X3I_ENTRIES = 10  # walk starts: top-E of the scored hub set per query
_X3I_HUBS = 48     # global entry-point pool: top in-degree graph nodes


def x3i_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3i — GRAPH-traversal ANN, the HNSW-class family member
    (VERDICT r10 item 8; geometry + entry points reworked per VERDICT
    r11 item 1): build a k-NN graph once (top-``_X3I_DEG`` neighbors
    per node among its sign-LSH bucket-mates under the ADAPTIVE plane
    count — the linear-candidate-growth bucketing x14/x48/x69/x5f
    ship, measured 4.3x vs the fixed geometry's 16.1x pair growth
    over the 4x embedding decade, SCALE_PROBE_r11), then answer each
    query with a bounded best-first walk: start at the best
    ``_X3I_ENTRIES`` of the graph's ``_X3I_HUBS`` highest-in-degree
    nodes (HNSW's upper-layer role: entry points are GRAPH-derived
    ingest-time state, not a corpus scan), expand the frontier's
    graph neighbors for ``_X3I_HOPS`` unrolled rounds, keep a
    ``_X3I_BEAM``-wide beam over everything visited (greedy
    best-first with a fixed horizon — x28's fixed-iteration PageRank
    pattern applied to search), and emit the visited top-5. Fully
    deterministic (cos DESC, vec_id ASC ties; hubs by in-degree DESC,
    id ASC), so the DuckDB oracle replays the exact walk; the recall
    floor vs the x3 exact truth is pinned in tests/test_similarity.py
    with the x47 audit's composition.

    Scale shape: the graph build is the one corpus-scale pass —
    bucket-mate pairs under the adaptive planes (bounded by constant
    expected bucket occupancy, never all-pairs, LINEAR in corpus —
    the shipped path `scale_probe.py` measures) topped to a constant
    out-degree, and at 100 TB it is ingest-time state exactly like
    the IVF centroids (st18's pattern), amortized over every query.
    The hub set is part of that state (a TakeOrdered over the graph's
    in-degree — no global window, no corpus scan at query time); per
    query the search scores ``_X3I_HUBS`` entries plus
    O(beam x degree x hops) walked rows — independent of corpus
    size, the property that makes graph-traversal ANN the latency
    king; embeddings ride id-keyed joins only."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = scoped_persist(
        emb.select(
            "vec_id", "embedding",
            F.expr(_norm_spark("embedding")).alias("nrm"),
        )
    )
    buckets = _adaptive_sign_buckets(
        spark, emb.select("vec_id", "embedding")
    )
    # UNORDERED bucket-mate pairs (src < dst): the 64-dim cosine fold —
    # the graph build's dominant cost — runs once per pair; the edge
    # set mirrors afterward for the per-source degree window.
    pairs = (
        buckets.select(F.col("vec_id").alias("src"), "tbl", "bucket")
        .join(
            buckets.select(F.col("vec_id").alias("dst"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    ecos = (
        F.expr(_dot_spark("s_emb", "d_emb"))
        / (F.col("s_nrm") * F.col("d_nrm"))
    ).alias("cos")
    und = scoped_persist(
        pairs.join(
            scored.select(
                F.col("vec_id").alias("src"),
                F.col("embedding").alias("s_emb"),
                F.col("nrm").alias("s_nrm"),
            ),
            "src",
        )
        .join(
            scored.select(
                F.col("vec_id").alias("dst"),
                F.col("embedding").alias("d_emb"),
                F.col("nrm").alias("d_nrm"),
            ),
            "dst",
        )
        .select("src", "dst", ecos)
    )
    wg = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    graph = scoped_persist(
        und.unionByName(
            und.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cos"
            )
        )
        .withColumn("rk", F.row_number().over(wg))
        .filter(F.col("rk") <= _X3I_DEG)
        .select("src", "dst")
    )
    # Entry points from GRAPH state: the _X3I_HUBS highest-in-degree
    # nodes (TakeOrdered — distributed, no global window), scored
    # against every query. H x Q cosine folds per batch — corpus-
    # independent, unlike the r11 %53 corpus sample this replaces.
    hubs = (
        graph.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("indeg"))
        .orderBy(F.desc("indeg"), F.asc("dst"))
        .limit(_X3I_HUBS)
        .select(F.col("dst").alias("vec_id"))
    )
    return _x3i_walk(scored, graph, hubs)


def _x3i_walk(
    scored: DataFrame, graph: DataFrame, hubs: DataFrame
) -> DataFrame:
    """The bounded best-first walk shared by x3i (batch-built graph)
    and st27 (incrementally-maintained graph state): score the
    ``hubs`` entry set against every query (= ``scored`` rows with
    vec_id < ``_N_QUERIES``), keep the best ``_X3I_ENTRIES`` starts,
    expand ``_X3I_HOPS`` unrolled beam rounds over ``graph``, and emit
    the visited top-5 per query. ``scored`` must carry
    (vec_id, embedding, nrm)."""
    queries = scored.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    qcos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    entries = (
        hubs.join(scored, "vec_id")
        .join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", qcos)
    )
    visited = (
        entries.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _X3I_ENTRIES)
        .drop("rk")
    )
    frontier = visited.select("query_id", "vec_id")
    for _hop in range(_X3I_HOPS):
        new_ids = (
            frontier.select("query_id", F.col("vec_id").alias("src"))
            .join(graph, "src")
            .select("query_id", F.col("dst").alias("vec_id"))
            .filter(F.col("vec_id") != F.col("query_id"))
            .distinct()
        )
        new_scored = (
            new_ids.join(scored, "vec_id")
            .join(F.broadcast(queries), "query_id")
            .select("query_id", "vec_id", qcos)
        )
        # each round references the previous visited TWICE (the union
        # and the beam window) — localCheckpoint per round or the
        # logical plan doubles per hop (the x28/x50 invariant)
        visited = (
            visited.unionByName(new_scored)
            .dropDuplicates(["query_id", "vec_id"])
            .localCheckpoint(eager=True)
        )
        frontier = (
            visited.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= _X3I_BEAM)
            .select("query_id", "vec_id")
        )
    return (
        visited.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"))
    )


def _x3i_sql(
    corpus: str = "embeddings",
    geom_src: str | None = None,
    pre: list[str] | None = None,
) -> str:
    """DuckDB replay of the exact walk: same adaptive-plane graph,
    same hub-derived entry choice, same unrolled beam rounds, same
    tie-breaks. ``corpus`` names the vector relation (st27 passes an
    extended-corpus CTE); ``geom_src`` the relation whose COUNT sizes
    the adaptive planes (st27: the seed — stored-geometry semantics;
    default: the corpus itself); ``pre`` prepends the CTEs defining
    those relations."""
    dot_sq = _dot_duck("s.embedding", "q.q_embedding")
    ctes = list(pre or []) + [
        f"cnt AS (SELECT count(*) AS cnt FROM {geom_src or corpus})",
        f"pp AS (SELECT {_PPT_DUCK} AS ppt FROM cnt)",
        (
            "planes AS (SELECT p, "
            "CAST(p // ppt AS INT) AS tbl, "
            "CAST(p % ppt AS INT) AS bit, "
            f"{_W_DUCK} AS warr "
            f"FROM range(0, {_N_TABLES * (_SEM_MAX_PLANES + 1)}) t(p) "
            f"CROSS JOIN pp WHERE p < ppt * {_N_TABLES})"
        ),
        (
            "buckets AS (SELECT e.vec_id, pl.tbl, "
            "sum(CASE WHEN "
            f"{_dot_duck('e.embedding', 'pl.warr')} > 0 THEN (1 << pl.bit) "
            "ELSE 0 END) AS bucket "
            f"FROM {corpus} e CROSS JOIN planes pl "
            "GROUP BY e.vec_id, pl.tbl)"
        ),
        (
            "scored AS (SELECT vec_id, embedding, "
            f"{_norm_duck('embedding')} AS nrm FROM {corpus})"
        ),
        (
            "gpairs AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst "
            "FROM buckets a JOIN buckets b ON a.tbl = b.tbl "
            "AND a.bucket = b.bucket AND a.vec_id < b.vec_id)"
        ),
        (
            "gsc AS (SELECT p.src, p.dst, "
            f"{_dot_duck('s.embedding', 'd.embedding')} / (s.nrm * d.nrm) "
            "AS cos FROM gpairs p "
            "JOIN scored s ON s.vec_id = p.src "
            "JOIN scored d ON d.vec_id = p.dst)"
        ),
        (
            "gedges AS (SELECT src, dst, cos FROM gsc "
            "UNION ALL SELECT dst AS src, src AS dst, cos FROM gsc)"
        ),
        (
            "graph AS (SELECT src, dst FROM (SELECT src, dst, "
            "row_number() OVER (PARTITION BY src ORDER BY cos DESC, "
            "dst ASC) AS rk FROM gedges) "
            f"WHERE rk <= {_X3I_DEG})"
        ),
        (
            "queries AS (SELECT vec_id AS query_id, "
            "embedding AS q_embedding, nrm AS q_nrm FROM scored "
            f"WHERE vec_id < {_N_QUERIES})"
        ),
        (
            "hubs AS (SELECT dst AS vec_id FROM graph "
            "GROUP BY dst ORDER BY count(*) DESC, dst ASC "
            f"LIMIT {_X3I_HUBS})"
        ),
        (
            "ent AS (SELECT q.query_id, s.vec_id, "
            f"{dot_sq} / (s.nrm * q.q_nrm) AS cos "
            "FROM hubs h JOIN scored s ON s.vec_id = h.vec_id "
            "CROSS JOIN queries q "
            "WHERE s.vec_id <> q.query_id)"
        ),
        (
            "v0 AS (SELECT query_id, vec_id, cos FROM (SELECT query_id, "
            "vec_id, cos, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, vec_id ASC) AS rk FROM ent) "
            f"WHERE rk <= {_X3I_ENTRIES})"
        ),
        "f0 AS (SELECT query_id, vec_id FROM v0)",
    ]
    for h in range(1, _X3I_HOPS + 1):
        ctes += [
            (
                f"n{h} AS (SELECT DISTINCT f.query_id, g.dst AS vec_id "
                f"FROM f{h - 1} f JOIN graph g ON g.src = f.vec_id "
                "WHERE g.dst <> f.query_id)"
            ),
            (
                f"s{h} AS (SELECT n.query_id, n.vec_id, "
                f"{dot_sq} / (s.nrm * q.q_nrm) AS cos "
                f"FROM n{h} n JOIN scored s ON s.vec_id = n.vec_id "
                "JOIN queries q ON q.query_id = n.query_id)"
            ),
            (
                f"v{h} AS (SELECT * FROM v{h - 1} "
                f"UNION SELECT * FROM s{h})"
            ),
            (
                f"f{h} AS (SELECT query_id, vec_id FROM (SELECT query_id, "
                "vec_id, row_number() OVER (PARTITION BY query_id "
                "ORDER BY cos DESC, vec_id ASC) AS rk "
                f"FROM v{h}) WHERE rk <= {_X3I_BEAM})"
            ),
        ]
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT query_id, vec_id, round(cos, 6) AS cosine "
        "FROM (SELECT query_id, vec_id, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk "
        f"FROM v{_X3I_HOPS}) WHERE rk <= 5"
    )


# --------------------------------------------------------------------------
# X75 — two-stage Matryoshka ANN: narrow-prefix candidates, full re-rank
# --------------------------------------------------------------------------

_X75_DIM = 16   # candidate-stage prefix (16 of the stored 64 dims)
_X75_C = 50     # candidates the narrow pass hands to the re-rank


def x75_two_stage_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75 — the "store wide, serve narrow" SERVING path x64 only
    audits (round 12): stage 1 scores every corpus vector on the
    16-dim Matryoshka PREFIX (a per-row ``slice`` — at 100 TB the
    narrow pass reads 1/4 of the vector bytes, and composes with
    x3d's IVF for the indexed variant) and keeps the top-``_X75_C``
    candidates per query; stage 2 fetches ONLY those candidates'
    full 64-dim vectors by id and re-ranks exactly. Final emit is the
    re-ranked top-``_TOPK`` with FULL-dim cosines — the production
    two-stage retrieval stack (coarse cheap pass over everything,
    exact pass over a bounded shortlist). Both stages use the
    sequential-fold cosine (the prefix fold is a prefix of the same
    op sequence, so both engines stay bit-identical); ranks break
    ties (cos DESC, vec_id ASC).

    Scale shape: one narrow corpus scan (broadcast 5-row query set,
    no corpus shuffle), a per-query top-C TakeOrdered-equivalent
    window over scored pairs, then an id-keyed join for C·Q full
    vectors — the re-rank never touches the corpus. Recall vs the
    exact full-dim top-k is whatever the prefix earns (x64 measures
    it); the certificate here is the exact two-stage semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    pre = f"slice(embedding, 1, {_X75_DIM})"
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.expr(pre).alias("pe"),
        F.expr(_norm_spark(pre)).alias("pnrm"),
        F.expr(_norm_spark("embedding")).alias("nrm"),
    )
    queries = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("pe").alias("qpe"),
        F.col("pnrm").alias("qpnrm"),
        F.col("embedding").alias("q_embedding"),
        F.col("nrm").alias("q_nrm"),
    )
    pcos = (
        F.expr(_dot_spark("pe", "qpe"))
        / F.expr("nullif(pnrm * qpnrm, CAST(0.0 AS DOUBLE))")
    ).alias("pcos")
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("pcos"), F.asc("vec_id")
    )
    cands = (
        corpus.select("vec_id", "pe", "pnrm")
        .join(F.broadcast(
            queries.select("query_id", "qpe", "qpnrm")
        ))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", pcos)
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _X75_C)
        .select("query_id", "vec_id")
    )
    fcos = (
        F.expr(_dot_spark("embedding", "q_embedding"))
        / (F.col("nrm") * F.col("q_nrm"))
    ).alias("cos")
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        cands.join(corpus.select("vec_id", "embedding", "nrm"), "vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", "q_embedding", "q_nrm")
            ),
            "query_id",
        )
        .select("query_id", "vec_id", fcos)
        .withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select(
            "query_id", "vec_id", "rank",
            F.round("cos", 6).alias("cosine"),
        )
    )


def _x75_sql() -> str:
    pre_c = f"list_slice(c.embedding, 1, {_X75_DIM})"
    pre_q = f"list_slice(q.embedding, 1, {_X75_DIM})"
    return (
        "WITH scored AS (SELECT vec_id, embedding, "
        f"{_norm_duck('embedding')} AS nrm FROM embeddings), "
        "cand AS (SELECT query_id, vec_id FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{_dot_duck(pre_c, pre_q)} / "
        f"nullif({_norm_duck(pre_c)} * {_norm_duck(pre_q)}, "
        "CAST(0.0 AS DOUBLE)) DESC, c.vec_id ASC) AS rk "
        "FROM embeddings c CROSS JOIN embeddings q "
        f"WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id) "
        f"WHERE rk <= {_X75_C}), "
        "rr AS (SELECT k.query_id, k.vec_id, "
        f"{_dot_duck('c.embedding', 'q.embedding')} / (c.nrm * q.nrm) "
        "AS cos FROM cand k "
        "JOIN scored c ON c.vec_id = k.vec_id "
        "JOIN scored q ON q.vec_id = k.query_id) "
        "SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, "
        "round(cos, 6) AS cosine FROM ("
        "SELECT query_id, vec_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank "
        f"FROM rr) WHERE rank <= {_TOPK}"
    )


QUERIES = {
    "x3_cosine_topk": x3_cosine_topk,
    "x3b_ann_lsh": x3b_ann_lsh,
    "x3c_cosine_neardup": x3c_cosine_neardup,
    "x3d_ivf_topk": x3d_ivf_topk,
    "x3e_quantized_ann": x3e_quantized_ann,
    "x3f_ivf_sq_ann": x3f_ivf_sq_ann,
    "x3g_filtered_ann": x3g_filtered_ann,
    "x3h_pq_ann": x3h_pq_ann,
    "x3i_graph_ann": x3i_graph_ann,
    "x14_semdedup": x14_semdedup,
    "x22_quantize_error": x22_quantize_error,
    "x24_jl_projection": x24_jl_projection,
    "x28_graph_pagerank": x28_graph_pagerank,
    "x35_domain_centroids": x35_domain_centroids,
    "x37_cluster_balanced_sample": x37_cluster_balanced_sample,
    "x45_embedding_outliers": x45_embedding_outliers,
    "x47_ann_recall_audit": x47_ann_recall_audit,
    "x48_semantic_decontam": x48_semantic_decontam,
    "x69_bitext_mining": x69_bitext_mining,
    "x52_quantizer_drift": x52_quantizer_drift,
    "x59_cluster_purity": x59_cluster_purity,
    "x64_matryoshka_recall": x64_matryoshka_recall,
    "x75_two_stage_ann": x75_two_stage_ann,
}

ORACLES = {
    "x3_cosine_topk": _X3_SQL,
    "x3b_ann_lsh": _X3B_SQL,
    "x3c_cosine_neardup": _X3C_SQL,
    "x3d_ivf_topk": _ivf_sql(),
    "x3e_quantized_ann": _X3E_SQL,
    "x3f_ivf_sq_ann": _ivf_sq_sql(),
    "x3g_filtered_ann": _X3G_SQL,
    "x3h_pq_ann": _pq_sql(),
    "x3i_graph_ann": _x3i_sql(),
    "x14_semdedup": _X14_SQL,
    "x22_quantize_error": _X22_SQL,
    "x24_jl_projection": _X24_SQL,
    "x28_graph_pagerank": _X28_SQL,
    "x35_domain_centroids": _X35_SQL,
    "x37_cluster_balanced_sample": _x37_sql(),
    "x45_embedding_outliers": _X45_SQL,
    "x47_ann_recall_audit": _x47_sql(),
    "x48_semantic_decontam": _X48_SQL,
    "x69_bitext_mining": _X69_SQL,
    "x52_quantizer_drift": _x52_sql(),
    "x59_cluster_purity": _x59_sql(),
    "x64_matryoshka_recall": _x64_sql(),
    "x75_two_stage_ann": _x75_sql(),
}
