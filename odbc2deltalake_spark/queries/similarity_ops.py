"""Similarity search over the `embeddings` table (64-dim float vectors).

Numerics discipline: both engines cast the float32 vectors to float64 and
reduce the dot product in index order (Spark `zip_with`+`aggregate`;
DuckDB `list_dot_product` on DOUBLE[]), so the doubles are bit-identical;
outputs are additionally rounded.

Scale notes:
- Brute-force top-k is the correctness baseline: |query| × |corpus| dot
  products, embarrassingly parallel, no shuffle until the final top-k
  (TakeOrdered, no global sort).
- The LSH-bucketed variant (random-hyperplane signs) is the 100 TB path:
  corpus is re-keyed once by bucket; queries probe only their bucket —
  candidate count per query is corpus/2^bits on average. Recall<1 by
  construction; the oracle pins the *bucketing algebra*, not recall.
- A cluster deployment would persist the bucketed corpus sorted/bucketed
  by `bucket` so probes prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.functions.litarray import double_array_lit
from odbc2deltalake_spark.queries.registry import load_table, register

_QUERY_VEC_ID = 0  # the fixed probe vector for deterministic oracles
_TOP_K = 10


def _dot(a, b):
    """Index-ordered float64 dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


_ANN_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT e.vec_id, e.label,
       round(
         list_dot_product(e.embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM embeddings e, q
WHERE e.vec_id <> {_QUERY_VEC_ID}
ORDER BY cosine DESC, e.vec_id
LIMIT {_TOP_K}
"""


@register("sim_ann_topk", _ANN_ORACLE, tags=("similarity",))
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one probe vector: broadcast the query,
    score every corpus vector, TakeOrdered(k). Ties broken by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", "label", dbl.alias("v"))
    # r14: the query norm is a per-row CONSTANT — evaluate it once in
    # the broadcast row instead of 64-mult+sqrt per corpus row
    # (bit-identical: same expression over the same values, reused)
    q = corpus.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm(F.col("v")).alias("_qn")
    )
    cos = _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * F.col("_qn"))
    return (
        corpus.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(_TOP_K)
    )


_NEARDUP_THRESHOLD = 0.92

# Corpus extended with deterministic rescaled clones (see the bucketed
# operator below) so the oracle matches on a NON-EMPTY pair set — round-1
# matched on zero rows, which cannot falsify a wrong implementation.
_NEARDUP_ORACLE = f"""
WITH ext AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 1.25)
  FROM embeddings WHERE vec_id < 25
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
         4) AS cosine
FROM ext a
JOIN ext b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {_NEARDUP_THRESHOLD}
"""


_NEARDUP_BLOCKS = 16  # vectors per task ≈ N/16; on a cluster scale with corpus


@register("sim_embedding_neardup", _NEARDUP_ORACLE, tags=("similarity", "dedup"),
          priority=100)  # r9: rotated out (sim_neardup_bucketed holds the shape at the scale path; green r2-r8)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.92) via blocked
    matrix multiply: corpus is split into NB blocks, each of the
    NB*(NB+1)/2 block pairs scores its cross product with one vectorized
    numpy matmul inside mapInPandas (Arrow-batched — never a per-pair
    interpreted expression). At 100 TB the same kernel runs on LSH bucket
    candidates (sim_lsh_buckets) instead of all block pairs."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base0 = emb.select(F.col("vec_id").cast("long").alias("vec_id"), dbl.alias("v"))
    # deterministic rescaled clones — give the oracle a non-empty match set
    base = base0.unionByName(
        base0.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("v"), lambda x: x * 1.25).alias("v"),
        )
    )
    blocked = base.groupBy((F.col("vec_id") % _NEARDUP_BLOCKS).alias("blk")).agg(
        F.collect_list(F.struct("vec_id", "v")).alias("vecs")
    )
    pa = blocked.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("vecs_a"))
    pb = blocked.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vecs_b"))
    # NB^2/2 block pairs — tiny driver-free cross join; each row carries
    # two vector blocks and scores them in one numpy matmul
    pairs = pa.join(pb, F.col("blk_a") <= F.col("blk_b")).repartition(
        _NEARDUP_BLOCKS * (_NEARDUP_BLOCKS + 1) // 2
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            out_c: list[float] = []
            for _, row in pdf.iterrows():
                ids_a = np.array([r["vec_id"] for r in row["vecs_a"]], dtype=np.int64)
                ma = np.array([r["v"] for r in row["vecs_a"]], dtype=np.float64)
                ids_b = np.array([r["vec_id"] for r in row["vecs_b"]], dtype=np.int64)
                mb = np.array([r["v"] for r in row["vecs_b"]], dtype=np.float64)
                cos = (ma @ mb.T) / np.outer(
                    np.sqrt((ma * ma).sum(axis=1)), np.sqrt((mb * mb).sum(axis=1))
                )
                if row["blk_a"] == row["blk_b"]:
                    mask = ids_a[:, None] < ids_b[None, :]
                else:
                    # cross-block: every (i,j) pair belongs to exactly this
                    # block pair; orient ids afterwards
                    mask = np.ones_like(cos, dtype=bool)
                mask &= cos >= _NEARDUP_THRESHOLD
                ii, jj = np.nonzero(mask)
                lo = np.minimum(ids_a[ii], ids_b[jj])
                hi = np.maximum(ids_a[ii], ids_b[jj])
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
                out_c.extend(np.round(cos[ii, jj], 4).tolist())
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cosine": out_c})

    return pairs.mapInPandas(score, "vec_a long, vec_b long, cosine double")


# Random-hyperplane LSH: 4 fixed pseudo-random hyperplanes; bucket id =
# sign bits. The "hyperplanes" are deterministic ±1 patterns derived from
# dimension index so both engines compute identical buckets without a
# random source: plane p uses sign = +1 if bit p of the dimension index is
# set else -1.
_N_PLANES = 4


def _plane_dot_sql(p: int, col: str = "embedding", cast: bool = True) -> str:
    suffix = "::DOUBLE" if cast else ""
    terms = []
    for d in range(64):
        sign = "+" if (d >> p) & 1 else "-"
        terms.append(f"{sign} {col}[{d + 1}]{suffix}")
    return " ".join(terms)


def _bucket_sql(col: str = "embedding", cast: bool = True) -> str:
    return " + ".join(
        f"(CASE WHEN ({_plane_dot_sql(p, col, cast)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_N_PLANES)
    )


def _plane_dot_col(vcol, p: int):
    """Spark-side dot of an array<double> column with plane ``p``'s ±1
    pattern — bit-matches :func:`_plane_dot_sql` (index-ordered ± chain;
    x * ±1.0 is an exact IEEE sign flip). The patterns are Walsh
    functions: mutually orthogonal, each with squared norm 64."""
    signs = double_array_lit([1.0 if (d >> p) & 1 else -1.0 for d in range(64)])
    return F.aggregate(
        F.zip_with(vcol, signs, lambda x, s: x * s),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _bucket_expr(vcol):
    """Spark-side LSH bucket id over an array<double> column — bit-matches
    :func:`_bucket_sql`."""
    bucket = None
    for p in range(_N_PLANES):
        bit = F.when(_plane_dot_col(vcol, p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


_LSH_ORACLE = f"""
SELECT
  {_bucket_sql()} AS bucket,
  count(*) AS n_vectors,
  min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


@register("sim_lsh_buckets", _LSH_ORACLE, tags=("similarity",),
          priority=100)  # r8: rotated out (sim_neardup_bucketed covers the banding shape; green r2-r7)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 4 sign bits → 16 buckets. This is
    the ANN scale path — probes compare only within their bucket. The
    oracle pins bucket assignment + occupancy."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        emb.select(_bucket_expr(dbl).alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed near-dup: LSH candidate generation composed with the cosine
# verify kernel — THE 100 TB near-dup path. Candidate pairs are
# bucket-local (corpus/2^planes per bucket on average), so total work is
# linear in corpus size for a fixed bucket occupancy; scale by raising
# _N_PLANES (and multi-probe for recall), not by widening block pairs.
# The all-pairs form above stays as the verification kernel, exactly like
# ngram-Jaccard verifies MinHash-LSH candidates.
#
# To make the oracle falsifiable on the fixture (the raw corpus has no
# pairs at ≥0.92), both engines extend the corpus with deterministic
# clones: vec_id < 25 duplicated at vec_id+100000 with every component
# ×1.25 — a pure rescale, so each clone is cosine≈1.0 with its original
# and lands in the same bucket.
# ---------------------------------------------------------------------------

_CLONE_SCALE = 1.25  # exactly representable (5/4); rescale preserves cosine
_CLONE_MAX_ID = 25
_CLONE_ID_OFFSET = 100000

_COS_SQL = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

_BUCKETED_ORACLE = f"""
WITH ext AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_CLONE_ID_OFFSET},
         list_transform(embedding::DOUBLE[], x -> x * {_CLONE_SCALE})
  FROM embeddings WHERE vec_id < {_CLONE_MAX_ID}
), bk AS (
  SELECT vec_id, v, {_bucket_sql("v", cast=False)} AS bucket FROM ext
)
SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_COS_SQL}, 4) AS cosine
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS_SQL} >= {_NEARDUP_THRESHOLD}
"""


@register("sim_neardup_bucketed", _BUCKETED_ORACLE, tags=("similarity", "dedup"),
          priority=100)  # r13: rotated out (sim_ann_ivfpq_search pins the harder persisted-index path; green r2-r12)
def sim_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via LSH buckets → per-bucket cosine verify.

    Candidate generation is the linear LSH pass (same algebra as
    sim_lsh_buckets); verification is one vectorized numpy matmul per
    bucket inside applyInPandas (Arrow-batched). Only same-bucket pairs
    are ever scored — the quadratic all-pairs form (sim_embedding_neardup)
    is demoted to a verification kernel.

    Missing cross-bucket pairs are the standard LSH recall trade-off;
    recall is tuned with more planes + multi-probe, not more compute per
    bucket."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), dbl.alias("v"))
    clones = base.filter(F.col("vec_id") < _CLONE_MAX_ID).select(
        (F.col("vec_id") + _CLONE_ID_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * _CLONE_SCALE).alias("v"),
    )
    ext = base.unionByName(clones)
    bucketed = ext.select("vec_id", "v", _bucket_expr(F.col("v")).alias("bucket"))

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(norms, norms)
        mask = np.triu(np.ones_like(cos, dtype=bool), k=1) & (
            cos >= _NEARDUP_THRESHOLD
        )
        ii, jj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "bucket": np.full(len(ii), int(pdf["bucket"].iloc[0])),
                "vec_a": ids[ii],
                "vec_b": ids[jj],
                "cosine": np.round(cos[ii, jj], 4),
            }
        )

    return bucketed.groupBy("bucket").applyInPandas(
        score, "bucket int, vec_a long, vec_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH near-dup: probe the home bucket AND the bucket reached by
# flipping the lowest-|margin| plane (the hyperplane the vector sits
# closest to — the most likely boundary a near-duplicate crossed). Lifts
# recall without quadratic work: candidate generation stays bucket-local,
# each vector just appears in 2 of 2^planes buckets (cost x2, recall way
# up for boundary pairs).
#
# Falsifiable fixture: the raw corpus has no >=0.92 pairs, and a pure
# rescale clone (sim_neardup_bucketed) lands in its original's bucket — a
# single-probe implementation would find it. Here the clones are *plane-0
# reflections*: v' = v - (2*d0/64) * s0, where d0 is the plane-0 dot and
# s0 its ±1 pattern. Because the plane patterns are orthogonal Walsh
# functions, this flips ONLY plane 0's dot (d0 -> -d0), preserves the
# norm, and gives cosine(v, v') = 1 - d0^2/(32*||v||^2) — mostly above
# the 0.92 threshold, and ALWAYS one bucket-bit away. Single-probe
# provably misses every such pair; only the multi-probe join can see
# them, so the oracle refutes any implementation that skips the probe.
# ---------------------------------------------------------------------------

_MP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ({_plane_dot_sql(0, "embedding")}) AS d0
  FROM embeddings
), ext AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {_CLONE_ID_OFFSET},
         [v[i] - ((2 * d0) / 64) * (CASE WHEN (i - 1) % 2 = 1 THEN 1 ELSE -1 END)
          FOR i IN range(1, 65)]
  FROM base WHERE vec_id < {_CLONE_MAX_ID}
), pl AS (
  SELECT vec_id, v,
         ({_plane_dot_sql(0, "v", cast=False)}) AS d0,
         ({_plane_dot_sql(1, "v", cast=False)}) AS d1,
         ({_plane_dot_sql(2, "v", cast=False)}) AS d2,
         ({_plane_dot_sql(3, "v", cast=False)}) AS d3
  FROM ext
), bk AS (
  SELECT vec_id, v,
         (CASE WHEN d0 >= 0 THEN 1 ELSE 0 END)
         + (CASE WHEN d1 >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN d2 >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN d3 >= 0 THEN 8 ELSE 0 END) AS bucket,
         (CASE WHEN abs(d0) <= abs(d1) AND abs(d0) <= abs(d2) AND abs(d0) <= abs(d3) THEN 1
               WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) THEN 2
               WHEN abs(d2) <= abs(d3) THEN 4
               ELSE 8 END) AS flip
  FROM pl
), probes AS (
  SELECT vec_id, v, bucket FROM bk
  UNION ALL
  SELECT vec_id, v, xor(bucket, flip) AS bucket FROM bk
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_COS_SQL}, 4) AS cosine
FROM probes a JOIN probes b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS_SQL} >= {_NEARDUP_THRESHOLD}
"""


@register(
    "sim_neardup_multiprobe",
    _MP_ORACLE,
    tags=("similarity", "dedup"),
    priority=100,  # overflow entry: pytest-gated (tests/test_correctness_extras.py)
)
def sim_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH near-dup: each vector probes its home bucket plus
    the one across its weakest (lowest-|margin|) hyperplane. Pure
    DataFrame composition — probe union, bucket-local self-join for
    candidates, then ONE JVM-side cosine per distinct pair (the same
    index-ordered `_dot` algebra sim_ann_topk pins) — so every pair is
    scored exactly once regardless of how many buckets surfaced it.

    Scale: the self-join shuffles on bucket only; candidates stay
    bucket-local (2x single-probe volume). At 100 TB raise _N_PLANES and
    keep probing the single weakest plane — recall concentrates exactly
    where near-dups live, on bucket boundaries."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").cast("long").alias("vec_id"), dbl.alias("v"))
    # plane-0 reflection clones (cross-bucket near-dups by construction)
    refl = (
        base.filter(F.col("vec_id") < _CLONE_MAX_ID)
        .withColumn("d0", _plane_dot_col(F.col("v"), 0))
        .select(
            (F.col("vec_id") + _CLONE_ID_OFFSET).alias("vec_id"),
            F.transform(
                F.col("v"),
                lambda x, i: x
                - ((F.lit(2.0) * F.col("d0")) / F.lit(64.0))
                * F.when(i % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0)),
            ).alias("v"),
        )
    )
    ext = base.unionByName(refl)
    pl = ext
    for p in range(_N_PLANES):
        pl = pl.withColumn(f"d{p}", _plane_dot_col(F.col("v"), p))
    bucket = None
    for p in range(_N_PLANES):
        bit = F.when(F.col(f"d{p}") >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    ad = [F.abs(F.col(f"d{p}")) for p in range(_N_PLANES)]
    flip = (
        F.when((ad[0] <= ad[1]) & (ad[0] <= ad[2]) & (ad[0] <= ad[3]), F.lit(1))
        .when((ad[1] <= ad[2]) & (ad[1] <= ad[3]), F.lit(2))
        .when(ad[2] <= ad[3], F.lit(4))
        .otherwise(F.lit(8))
    )
    # localCheckpoint: bk feeds 4 plan branches (2 probe-union arms x 2
    # self-join sides) — without it the scan + 4 plane-dot aggregations
    # recompute 8x (explain_audit showed 8 parquet scans)
    bk = pl.select(
        "vec_id", "v", bucket.alias("bucket"), flip.alias("flip")
    ).localCheckpoint(eager=False)
    probes = bk.select("vec_id", "v", "bucket").unionByName(
        bk.select(
            "vec_id", "v", F.col("bucket").bitwiseXOR(F.col("flip")).alias("bucket")
        )
    )
    a = probes.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "bucket"
    )
    b = probes.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "bucket"
    )
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])  # pair seen via 1 or 2 buckets
    )
    cos = _dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    return (
        cand.withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize the corpus into centroid cells,
# probe only the query's nprobe nearest cells. The second scale path next
# to LSH bucketing — IVF gives data-adaptive cells where LSH gives
# data-oblivious ones. Here the coarse quantizer is pinned to fixed seed
# centroids (vec_id < _IVF_CENTROIDS) so both engines build the identical
# index without a random source; a 100 TB deployment would fit centroids
# with sampled k-means (e.g. Spark ML KMeans on a 0.1% sample) and keep
# everything below identical.
# ---------------------------------------------------------------------------

_IVF_CENTROIDS = 16
_IVF_NPROBE = 4

_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
), corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT corpus.vec_id, cent.cid,
         list_dot_product(corpus.v, cent.cv)
         / (sqrt(list_dot_product(corpus.v, corpus.v))
            * sqrt(list_dot_product(cent.cv, cent.cv))) AS cos
  FROM corpus, cent
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
), probe AS (
  SELECT cid FROM scored WHERE vec_id = {_QUERY_VEC_ID}
  ORDER BY cos DESC, cid LIMIT {_IVF_NPROBE}
), q AS (
  SELECT v AS qv FROM corpus WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT c.vec_id, c.label,
       round(list_dot_product(c.v, q.qv)
         / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))),
         4) AS cosine
FROM corpus c
JOIN assigned a ON a.vec_id = c.vec_id
JOIN probe p ON p.cid = a.cid
CROSS JOIN q
WHERE c.vec_id <> {_QUERY_VEC_ID}
ORDER BY list_dot_product(c.v, q.qv)
         / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))
         DESC, c.vec_id
LIMIT {_TOP_K}
"""


@register(
    "sim_ann_ivf",
    _IVF_ORACLE,
    tags=("similarity",),
    priority=100,
)  # r9: rotated out (sim_ann_ivfpq_search covers the IVF search path with PQ on top; green r3-r8)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: assign every corpus vector to its nearest centroid
    (argmax cosine, ties to the lowest centroid id), probe the query's
    {nprobe} nearest cells, brute-force only inside them.

    Plan shape at scale: centroids broadcast to the assignment scan (one
    pass over the corpus, persisted as the index); the probe side is a
    {nprobe}-row broadcast semi-join, so a query reads only its cells'
    partitions (partition the stored index by cell id) and finishes with
    TakeOrdered — no global shuffle of the corpus at query time.

    r14 optimization A/B (kept for the record, guide §1.1): three
    window-free argmax variants were measured against this plan at sf0.1
    — (a) collected-centroid LITERAL arrays + aggregate-fold argmax,
    (b) the same with a one-string F.expr array and driver-side centroid
    norms, (c) the assign_cosine broadcast-pack + array_sort argmin (no
    literals, no extra jobs). All three produced bit-identical results;
    the ASSIGNMENT stage alone is ~2x faster map-side (noop-isolated
    0.83 s vs 1.6 s), but end-to-end every variant lost by 1-1.5 s:
    interpreted higher-order-function evaluation of the K-struct score
    array per row costs more than the codegen'd window over the
    Kx-exploded frame, and (a)/(b) additionally pay control-plane
    collects / literal-forest plan optimization per invocation. At real
    corpus scale the window's corpus-wide Exchange would dominate and
    the map-side shape wins — that path is exactly what
    operators/clustering.assign_cosine + IvfIndex/IvfPqIndex implement;
    this small oracle-pinned variant keeps the empirically fastest plan
    for its size."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", "label", dbl.alias("v"))
    # r14 norm hoisting (bit-identical, see assign_cosine): the centroid
    # norm is evaluated once per centroid in the broadcast row and the
    # vector norm once per row — the K-way crossJoin previously paid
    # both per (row, centroid) pair
    cent = corpus.filter(F.col("vec_id") < _IVF_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        _norm(F.col("v")).alias("_cn"),
    )
    cos_c = _dot(F.col("v"), F.col("cv")) / (F.col("_vn") * F.col("_cn"))
    scored = (
        corpus.withColumn("_vn", _norm(F.col("v")))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "label", "v", "cid", cos_c.alias("cos"))
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    )
    assigned = (
        scored.withColumn("rn", rn).filter(F.col("rn") == 1)
        .select("vec_id", "label", "v", "cid")
    )
    probe = (
        scored.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .orderBy(F.col("cos").desc(), "cid")
        .limit(_IVF_NPROBE)
        .select("cid")
    )
    q = corpus.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm(F.col("v")).alias("_qn")
    )
    cos_q = _dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * F.col("_qn"))
    return (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos_q.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(_TOP_K)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


# ------------------------------------ semantic decontamination ------------
# Embedding-level analogue of corpus_decontaminate_fuzzy: drop every
# corpus vector whose max cosine against ANY eval vector crosses the
# threshold — the asymmetric "don't train on anything semantically
# identical to the benchmark" gate. The fixture plants exact clones of
# the eval vectors (vec_id + 50000) so the gate provably has work: the
# clones score 1.0 and must all fall.
#
# Scale shape: the eval side is benchmark-sized (thousands), broadcast;
# the corpus side is one scan — broadcast nested-loop + map-side partial
# max collapses each partition to its surviving rows before the
# |corpus|-group shuffle. No |corpus| x |corpus| pass anywhere; cost is
# |corpus| x |eval| dot products, embarrassingly parallel, the same
# shape a 100 TB corpus sweep needs. At larger eval sets the IVF/LSH
# bucketing (sim_lsh_buckets / IvfIndex) prunes the eval candidates per
# corpus row first.

_EVAL_MOD = 20  # vec_id % 20 == 0 -> eval set
_SEM_TAU = 0.95

_SEM_DECON_ORACLE = f"""
WITH eval AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % {_EVAL_MOD} = 0
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_EVAL_MOD} <> 0
  UNION ALL
  SELECT vec_id + 50000, embedding::DOUBLE[]
  FROM embeddings WHERE vec_id % {_EVAL_MOD} = 0
),
scored AS (
  SELECT c.vec_id,
         max(list_dot_product(c.v, e.v)
             / (sqrt(list_dot_product(c.v, c.v))
                * sqrt(list_dot_product(e.v, e.v)))) AS m
  FROM corpus c, eval e
  GROUP BY c.vec_id
)
SELECT vec_id, round(m, 4) AS max_eval_cosine
FROM scored WHERE m < {_SEM_TAU}
"""


@register("corpus_semantic_decontaminate", _SEM_DECON_ORACLE,
          tags=("corpus", "similarity"), priority=100)
def corpus_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving corpus vectors after eval-embedding decontamination:
    (vec_id, max_eval_cosine) for every corpus vector whose best eval
    match stays under the threshold. Planted exact clones of the eval
    vectors are provably removed (cosine 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", dbl.alias("v"))
    ev = base.filter(F.col("vec_id") % _EVAL_MOD == 0)
    corpus = base.filter(F.col("vec_id") % _EVAL_MOD != 0).unionByName(
        ev.select((F.col("vec_id") + 50000).alias("vec_id"), "v")
    )
    # r14 norm hoisting (bit-identical, see assign_cosine): eval norms
    # ride the broadcast (one eval per eval-vector), the corpus norm is
    # projected once per row — previously both re-evaluated per
    # (corpus x eval) pair
    scored = (
        corpus.withColumn("_vn", _norm(F.col("v")))
        .crossJoin(
            F.broadcast(
                ev.select(
                    F.col("v").alias("ev"), _norm(F.col("v")).alias("_en")
                )
            )
        )
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("ev"))
             / (F.col("_vn") * F.col("_en"))).alias("c"),
        )
        .groupBy("vec_id")
        .agg(F.max("c").alias("m"))
    )
    return scored.filter(F.col("m") < F.lit(_SEM_TAU)).select(
        "vec_id", F.round("m", 4).alias("max_eval_cosine")
    )


# ------------------------------------ IVF-PQ index, end-to-end oracle -----
# The persisted IvfPqIndex (operators/ivfpq.py) is exercised end-to-end
# against an independent engine by running it in its EXACT-equivalence
# configuration: probe every cell and rerank the full candidate slice
# with raw vectors — coarse assignment, residual PQ encoding,
# partition-pruned cell reads and the rerank join all execute, and the
# final top-k must equal brute-force squared-L2 regardless of quantizer
# quality. NOTE (ADVICE r13): since the r13 exact-mode skip, the ADC
# LUT scoring branch does NOT run in this configuration — it is pinned
# unit-test-only (tests/test_ivfpq.py: ADC == from-scratch numpy
# residual distances; recall floors at the default nprobe), because ADC
# distances are quantizer-dependent and no SQL oracle can recompute
# them independently.

_IVFPQ_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}
)
SELECT e.vec_id,
       round(list_sum([ (x[1] - x[2]) ^ 2
                        for x in list_zip(e.embedding::DOUBLE[], q.qv) ]),
             6) AS exact_dist
FROM embeddings e, q
ORDER BY exact_dist, e.vec_id
LIMIT {_TOP_K}
"""


@register("sim_ann_ivfpq_search", _IVFPQ_ORACLE,
          tags=("similarity", "index", "flagship"))  # r9: promoted to the driver window (sixth-wave rotation)
def sim_ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by squared L2 for the fixed probe, THROUGH the IVF-PQ
    index in exact mode (nprobe = all cells, candidates = corpus). The
    self-match (dist 0) is included — deterministic on both sides."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.operators.clustering import fit_kmeans_centroids
    from odbc2deltalake_spark.operators.ivfpq import IvfPqIndex

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", dbl.alias("v")).localCheckpoint(eager=True)
    # r14 wave 11: corpus size and the query vector in ONE control-plane
    # job (was count() + first() + filtered first() — three sequential
    # scheduling round trips over the same checkpointed frame); dim
    # falls out of the query vector's length. Scalars identical: count
    # is count, and F.first(when(vec_id==q), ignorenulls) is
    # deterministic — exactly one row matches.
    _meta = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(
            F.when(F.col("vec_id") == _QUERY_VEC_ID, F.col("v")), True
        ).alias("qv"),
    ).first()
    n = _meta["n"]  # control-plane scalar (sizes ncent/candidates)
    # r13: in exact mode the hash is provably independent of quantizer
    # training (every probed row is a candidate, the exact rerank
    # re-scores it), so the in-query build uses seed-initialized cells
    # and codebooks — this row pins the PERSISTED-INDEX machinery
    # (partitioned cells, commit-logged tables, exact-mode search path;
    # the bounded ADC branch runs under the oracle in the
    # sim_ann_ivfpq_adc row below); trained quantizers with recall floors are
    # pinned by tests/test_ivfpq.py and the sim_ann_opq row.
    # 51.2s -> ~12s at the sf0.1 sweep.
    ncent = max(4, min(int(n ** 0.5), 16))
    q = _meta["qv"]
    dim = len(q)
    root = tempfile.mkdtemp(prefix="ivfpq_query_")
    try:
        idx = IvfPqIndex(root, dim, 8, 16)
        idx.build(
            corpus, fit_kmeans_centroids(corpus, ncent, 0), iterations=0
        )
        out = idx.search(
            spark, q, nprobe=ncent, k=_TOP_K, candidates=n,
            rerank_vectors=corpus,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("sim_ann_ivfpq_adc", _IVFPQ_ORACLE,
          tags=("similarity", "index"), priority=100)
def sim_ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-10 as sim_ann_ivfpq_search, but with ``candidates =
    n // 2`` — BELOW the probed-row count, so the r13 exact-mode skip
    does NOT fire and the bounded ADC LUT branch (per-cell residual
    lookup table, per-row M map-lookups, top-``candidates`` cut before
    the exact rerank) executes on an ORACLED row again (ADVICE r13 /
    VERDICT r14 #8 — the skip had left ADC unit-test-only).

    Equivalence contract: the oracle is the exact brute-force top-10,
    which this row returns iff the true top-10 all survive the ADC
    top-n/2 cut. With candidates at HALF the corpus that holds with
    enormous margin on any quantizer that is better than random (ADC
    rank of a true top-10 row is never in the bottom half), and the
    quantizer here is deterministic (seed-initialized, fit pinned by
    numpy-reference tests), so the pass/fail is stable per fixture —
    verified green at sf0.001/sf0.01/sf0.1. A recall regression in the
    ADC scoring math now mismatches a committed oracle instead of only
    a unit test."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.operators.clustering import fit_kmeans_centroids
    from odbc2deltalake_spark.operators.ivfpq import IvfPqIndex

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", dbl.alias("v")).localCheckpoint(eager=True)
    _meta = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(
            F.when(F.col("vec_id") == _QUERY_VEC_ID, F.col("v")), True
        ).alias("qv"),
    ).first()
    n = _meta["n"]
    ncent = max(4, min(int(n ** 0.5), 16))
    q = _meta["qv"]
    root = tempfile.mkdtemp(prefix="ivfpq_adc_")
    try:
        idx = IvfPqIndex(root, len(q), 8, 16)
        idx.build(
            corpus, fit_kmeans_centroids(corpus, ncent, 0), iterations=0
        )
        out = idx.search(
            spark, q, nprobe=ncent, k=_TOP_K, candidates=max(n // 2, _TOP_K),
            rerank_vectors=corpus,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------- embedding preprocessing stats ----
#
# The two reports an embedding pipeline runs before indexing/clustering:
# per-dimension moments (whitening / dead-dimension detection) and
# norm-based outlier flags (corrupt or degenerate vectors).

_DIM_STATS_ORACLE = """
WITH vals AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
)
SELECT CAST(dim AS BIGINT) AS dim,
       round(avg(x), 4) AS mean,
       round(stddev_samp(x), 4) AS std,
       round(min(x), 4) AS min_v,
       round(max(x), 4) AS max_v
FROM vals
GROUP BY dim
"""


@register(
    "emb_dim_stats", _DIM_STATS_ORACLE, tags=("similarity", "corpus"),
    priority=100,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding corpus — the
    whitening statistics (and the dead/degenerate-dimension report: a
    near-zero std dimension carries no signal and wastes index bits).

    Scale shape: posexplode multiplies rows IN-TASK (no shuffle), and
    the groupBy(dim) partial-aggregates map-side, so the only shuffle
    moves ~dims x tasks partial rows — at 100 TB with 1000 executors
    that is kilobytes. No window, no sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    return vals.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg("x"), 4).alias("mean"),
        F.round(F.stddev("x"), 4).alias("std"),
        F.round(F.min("x"), 4).alias("min_v"),
        F.round(F.max("x"), 4).alias("max_v"),
    )


_NORM_OUTLIER_Q = 0.99

_NORM_OUTLIER_ORACLE = f"""
WITH norms AS (
  SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
           AS l2_norm
  FROM embeddings
),
cut AS (SELECT quantile_cont(l2_norm, {_NORM_OUTLIER_Q}) AS c FROM norms)
SELECT n.vec_id, n.l2_norm, n.l2_norm > t.c AS is_outlier
FROM norms n CROSS JOIN cut t
"""


@register(
    "emb_norm_outliers", _NORM_OUTLIER_ORACLE,
    tags=("similarity", "corpus"), priority=100,
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per vector plus an outlier flag above the corpus's 99th
    norm percentile — the cheap screen for corrupt embeddings (an
    all-garbage vector shows up as an extreme norm long before it
    poisons a centroid or an IVF cell).

    Exactness: the norm folds the array LEFT-TO-RIGHT in both engines
    (F.aggregate == list_sum over the same float32 values cast to
    double), and the cutoff is an order statistic of the ROUNDED norms
    (Spark percentile == DuckDB quantile_cont) — no summation-order
    knife edge. Scale shape: one narrow per-row transform (JVM
    higher-order functions, no Python), one single-row cutoff aggregate
    broadcast back; zero extra shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = emb.select(
        "vec_id", F.round(F.sqrt(sq_sum), 4).alias("l2_norm")
    )
    cut = norms.agg(
        F.expr(f"percentile(l2_norm, {_NORM_OUTLIER_Q})").alias("c")
    )
    return norms.crossJoin(F.broadcast(cut)).select(
        "vec_id",
        "l2_norm",
        (F.col("l2_norm") > F.col("c")).alias("is_outlier"),
    )


# ------------------------------ centroid semantic quality gate ------
# r11: the classifier-free quality signal real pretraining pipelines
# use (cosine to a trusted-reference centroid — "is this document
# embedding close to the high-quality region?"). The reference set is
# the label-0 slice; its centroid is one 64-avg aggregate (single
# broadcast row), every vector scores with one JVM dot product, and the
# keep cut is an order statistic of the ROUNDED scores (the
# text_perplexity_filter exactness recipe: Spark percentile == DuckDB
# quantile_cont over identical 4dp inputs — no float knife edge).
# Scale: one scan + two single-row broadcasts; zero data-proportional
# shuffles.

_SQ_DIM = 64
_SQ_DROP_Q = 0.25  # drop the bottom quartile

_SEM_QUALITY_ORACLE = f"""
WITH ref AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE label = 0
),
dims AS (
  SELECT r.i AS i, avg(ref.v[r.i]) AS m
  FROM ref, range(1, {_SQ_DIM + 1}) AS r(i)
  GROUP BY r.i
),
cent AS (SELECT list(m ORDER BY i) AS cv FROM dims),
scored AS (
  SELECT e.vec_id, e.label,
         round(list_dot_product(e.embedding::DOUBLE[], c.cv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
  FROM embeddings e, cent c
),
cut AS (SELECT quantile_cont(cosine, {_SQ_DROP_Q}) AS c FROM scored)
SELECT s.vec_id, s.label, s.cosine, s.cosine >= cut.c AS kept
FROM scored s, cut
"""


@register("corpus_semantic_quality", _SEM_QUALITY_ORACLE,
          tags=("corpus", "similarity"), priority=100)
def corpus_semantic_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-to-reference-centroid quality gate == the same centroid,
    dot products, and order-statistic cut in SQL. Every vector scored
    against the label-0 centroid; the bottom quartile is flagged
    dropped."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", "label", dbl.alias("v"))
    ref = base.filter(F.col("label") == 0)
    cent = ref.agg(
        F.array(
            *[
                F.avg(F.element_at(F.col("v"), i + 1))
                for i in range(_SQ_DIM)
            ]
        ).alias("cv")
    )
    # r14: the centroid norm is a per-row constant — one eval in the
    # broadcast row (bit-identical, see assign_cosine)
    cent = cent.withColumn("_cn", _norm(F.col("cv")))
    cos = _dot(F.col("v"), F.col("cv")) / (_norm(F.col("v")) * F.col("_cn"))
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", F.round(cos, 4).alias("cosine")
    )
    cut = scored.agg(
        F.expr(f"percentile(cosine, {_SQ_DROP_Q})").alias("c")
    )
    return scored.crossJoin(F.broadcast(cut)).select(
        "vec_id",
        "label",
        "cosine",
        (F.col("cosine") >= F.col("c")).alias("kept"),
    )


@register("sim_ann_ivfpq_incremental", _IVFPQ_ORACLE,
          tags=("similarity", "index", "flagship"))  # r14: promoted (r13 flagship — incremental index maintenance enters the window)
def sim_ann_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ: build on half the corpus, append() the rest
    against the PINNED quantizers (existing cell partitions untouched),
    search in exact mode == brute-force squared L2 — the ANN twin of
    bm25_index_search's incremental-build oracle (r13). The in-query
    assert pins that append landed NEW commits on cells without
    rewriting the build's dirs (time travel to the build version still
    returns only the first half)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.operators.clustering import fit_kmeans_centroids
    from odbc2deltalake_spark.operators.ivfpq import IvfPqIndex

    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", dbl.alias("v")).localCheckpoint(eager=True)
    # r14 wave 11 note: the fused count+half-count+query-vector agg
    # (as landed in sim_ann_ivfpq_search) was tried here too and
    # REVERTED — three interleaved same-host A/Bs read it 0.5-1 s
    # slower for this query (the fused agg deserializes the full `v`
    # column for every row where count() prunes it and the two takes
    # short-circuit; this query's build/append dominates, so the saved
    # scheduling round trips don't pay for the extra column scan).
    n = corpus.count()
    ncent = max(4, min(int(n ** 0.5), 16))
    dim = len(corpus.first()["v"])
    q = corpus.filter(F.col("vec_id") == _QUERY_VEC_ID).first()["v"]
    half = corpus.filter(F.col("vec_id") % 2 == 0)
    rest = corpus.filter(F.col("vec_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="ivfpq_incr_")
    try:
        idx = IvfPqIndex(root, dim, 8, 16)
        v_build = idx.build(
            half, fit_kmeans_centroids(half, ncent, 0), iterations=0
        )
        idx.append(rest)
        # incrementality observable: the build version is intact (time
        # travel sees only the first half) and append added rows
        n_at_build = idx.cells.read(spark, version=v_build).count()
        n_now = idx.cells.read(spark).count()
        assert n_at_build == half.count(), (n_at_build,)
        assert n_now == n, (n_now, n)
        out = idx.search(
            spark, q, nprobe=ncent, k=_TOP_K, candidates=n,
            rerank_vectors=corpus,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
