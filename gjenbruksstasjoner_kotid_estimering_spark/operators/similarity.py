"""Similarity search over embedding vectors (driver-mandated extension).

Generalizes the reference's feature-vector space (flattened VGG16
activations, preprocess_image.py:195; 58368-float32 arrays) to ANN-style
retrieval over the ``embeddings`` table (64-dim here; the operators are
dimension-agnostic).

- ``similarity_topk``        : exact brute-force cosine top-k against a
                               query vector — the correctness baseline.
                               Broadcast the single query row; dot/norms are
                               ordered folds in double so Spark and DuckDB
                               agree bit-exactly.
- ``dedup_embedding_cosine`` : all-pairs cosine dedup over pivot-sign LSH
                               candidates.
- ``similarity_knn_join``    : top-k neighbors for many queries at once over
                               the same pivot-sign candidates.

At 100 TB brute force against one query is still a single pass (fine);
the all-pairs and many-query workloads, where O(n²) is impossible, share
one candidate family: pivot-sign LSH bands (``_pivot_bands``), which DuckDB
derives identically, so the candidate sets are part of the oracle contract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from .dedup import band_pairs

QUERY_VEC_ID = 0
TOP_K = 10
# Synthetic embeddings are near-orthogonal (max in-label cosine ~0.47 at
# sf0.01); 0.25 marks the top ~1% most-similar pairs as near-dups.
COSINE_DUP_THRESHOLD = 0.25


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _fold_dot(a: Column, b: Column) -> Column:
    """Ordered-fold dot product of double arrays (bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_col(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return _fold_dot(a, b) / (F.sqrt(_fold_dot(a, a)) * F.sqrt(_fold_dot(b, b)))


@register(
    "similarity_topk",
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
          SELECT e.vec_id, e.label,
                 list_aggregate(list_transform(e.embedding,
                     (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                     'sum')
                 / (sqrt(list_aggregate(list_transform(e.embedding,
                        (x, i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                        'sum'))
                    * sqrt(list_aggregate(list_transform(q.qv,
                        (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                        'sum'))) AS cosine
          FROM embeddings e CROSS JOIN q
        )
        SELECT vec_id, label, cosine
        FROM scored
        ORDER BY cosine DESC, vec_id
        LIMIT {TOP_K}
    """,
    doc=f"Exact brute-force cosine top-{TOP_K} against the vec_id="
    f"{QUERY_VEC_ID} query vector: broadcast 1-row build side, ordered-fold "
    "dot/norms in double, deterministic tie-break on vec_id. "
    "TakeOrderedAndProject — no global sort materialization.",
    tags=("similarity", "topk"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.where(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qv")
        )
    )
    scored = e.crossJoin(q).select(
        "vec_id",
        "label",
        cosine_col(F.col("embedding"), F.col("qv")).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)


# Pivot-sign LSH for the oracle-checked cosine-dedup stage: the hyperplanes
# are the N_PIVOTS lowest-vec_id embedding rows themselves (deterministic,
# data-derived, and — unlike xxhash64-seeded planes — computable by DuckDB).
# Each vector's bucket bits are sign(dot(v, pivot_j)); bits split into
# PV_BANDS bands of PV_BAND_BITS, candidates share any band. Because both
# engines evaluate the dot as the same ordered left-fold in double, the
# sign bits — and therefore the candidate pair set — are bit-identical.
N_PIVOTS = 40
PV_BANDS = 5
PV_BAND_BITS = 8


_PV_BAND_SELECTS = "\n          UNION ALL ".join(
    f"SELECT vec_id, {b} AS band_id, "
    f"substring(bits, {b * PV_BAND_BITS + 1}, {PV_BAND_BITS}) AS band_val "
    f"FROM bucketed"
    for b in range(PV_BANDS)
)

# Shared oracle CTE prefix: base vectors → pivots → sign-bit buckets →
# banded rows. dedup_embedding_cosine and similarity_knn_join both build
# their candidate sets from these EXACT frames, so the LSH stage is part
# of the cross-engine contract for both.
PIVOT_BANDS_ORACLE_CTES = f"""base AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        pv AS (
          SELECT list(v ORDER BY vec_id) AS pivots
          FROM base WHERE vec_id < {N_PIVOTS}
        ),
        bucketed AS (
          SELECT vec_id,
                 array_to_string(list_transform(pivots,
                   p -> CASE WHEN list_aggregate(
                                list_transform(v, (x, i) -> x * p[i]),
                                'sum') >= 0
                        THEN '1' ELSE '0' END), '') AS bits
          FROM base CROSS JOIN pv
        ),
        bands AS ({_PV_BAND_SELECTS}),
        normed AS (
          SELECT vec_id, v,
                 sqrt(list_aggregate(list_transform(v, (x, i) -> x * v[i]),
                      'sum')) AS norm
          FROM base
        )"""


def pivot_bits(emb, pivots: list) -> np.ndarray:
    """(rows, pivots) sign bits of ``_fold_dot(v, p) >= 0``, for a pyarrow
    list array of vectors and a list of pivot vectors (float64 arrays, or
    None for a NULL pivot).

    The dot is the same left fold as ``_fold_dot``, starting from 0.0 and
    adding one product at a time, vectorized across rows and pivots, so
    every bit matches the Spark fold's IEEE result. As in Spark, a NULL
    vector, a NULL element or a length mismatch makes the dot NULL (bit
    0), and NaN counts as >= 0 because Spark orders NaN above every number.
    """
    offs = emb.offsets.to_numpy()
    lens = np.diff(offs)
    vals = emb.values
    flat = vals.to_numpy(zero_copy_only=False).astype(np.float64)
    nulls = np.concatenate([[0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False))])
    ok = emb.is_valid().to_numpy(zero_copy_only=False) & (nulls[offs[1:]] == nulls[offs[:-1]])
    bits = np.zeros((len(emb), len(pivots)), dtype=bool)
    for n in np.unique(lens[ok]):
        cols = [j for j, p in enumerate(pivots) if p is not None and len(p) == n]
        if not cols:
            continue
        rows = np.flatnonzero(ok & (lens == n))
        v = flat[offs[rows][:, None] + np.arange(n)]
        p = np.stack([pivots[j] for j in cols]).reshape(len(cols), n)
        acc = np.zeros((len(rows), len(cols)))
        for j in range(n):
            acc = acc + v[:, j, None] * p[None, :, j]
        bits[np.ix_(rows, cols)] = (acc >= 0) | np.isnan(acc)
    return bits


def _pivot_band_batches(pivots: list):
    """mapInArrow body: (vec_id, embedding) → one (vec_id, band_id,
    band_val) row per band, band_val being that band's slice of the
    vector's pivot-sign bit string."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            bits = pivot_bits(batch.column("embedding"), pivots)
            rows = pa.array(np.repeat(np.arange(len(bits)), PV_BANDS))
            chars = np.where(bits, "1", "0")
            vals = [
                "".join(chars[i, b * PV_BAND_BITS : (b + 1) * PV_BAND_BITS])
                for i in range(len(bits))
                for b in range(PV_BANDS)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(rows).cast(pa.int64()),
                    pa.array(np.tile(np.arange(PV_BANDS, dtype=np.int32), len(bits))),
                    pa.array(vals, pa.string()),
                ],
                names=["vec_id", "band_id", "band_val"],
            )

    return run


def _pivot_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band_id, band_val) pivot-sign LSH bands (Spark twin of
    PIVOT_BANDS_ORACLE_CTES's ``bands``), materialized once.

    The N_PIVOTS pivots are collected once, in (vec_id, vector) order as
    the oracle's ``list(v ORDER BY vec_id)``; one Arrow pass over the
    embeddings scan computes every vector's bits against them."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pivots = [
        None if r.embedding is None or None in r.embedding
        else np.array(r.embedding, dtype=np.float64)
        for r in e.where(F.col("vec_id") < N_PIVOTS).orderBy("vec_id", "embedding").collect()
    ]
    bands = e.mapInArrow(
        _pivot_band_batches(pivots), "vec_id long, band_id int, band_val string"
    )
    return bands.localCheckpoint(eager=False)


def _pivot_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, norm): each vector in double with its ordered-fold norm."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    return v.select("vec_id", "v", F.sqrt(_fold_dot(F.col("v"), F.col("v"))).alias("norm"))


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH {PIVOT_BANDS_ORACLE_CTES},
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
               AND a.vec_id < b.vec_id
        ),
        scored AS (
          SELECT c.vec_a, c.vec_b,
                 list_aggregate(list_transform(a.v, (x, i) -> x * b.v[i]),
                     'sum') / (a.norm * b.norm) AS cosine
          FROM cand c
          JOIN normed a ON a.vec_id = c.vec_a
          JOIN normed b ON b.vec_id = c.vec_b
        )
        SELECT vec_a, vec_b, cosine FROM scored
        WHERE cosine > {COSINE_DUP_THRESHOLD!r}
    """,
    doc="Candidate-driven embedding-cosine dedup: pivot-sign LSH (bucket "
    "bits = sign of dot with the 40 lowest-vec_id vectors, 5 bands × 8 "
    "bits; the pivots are collected once and one Arrow pass computes "
    "every vector's bits, materialized once for both join sides) "
    "proposes pairs; exact ordered-fold cosine is computed ONLY for "
    "bucket-mates and thresholded. The pivots are data-derived and both "
    "engines fold the dot identically, so the candidate set itself is part "
    "of the oracle contract. No block-quadratic self-join — candidates "
    "replace the old label-blocked all-pairs.",
    tags=("dedup", "similarity", "cosine", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = band_pairs(_pivot_bands(spark, sf_dir), "vec_id", "vec_a", "vec_b")
    normed = _pivot_normed(spark, sf_dir)
    na, nb = normed.alias("na"), normed.alias("nb")
    scored = (
        cand.join(na, F.col("vec_a") == F.col("na.vec_id"))
        .join(nb, F.col("vec_b") == F.col("nb.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            (
                _fold_dot(F.col("na.v"), F.col("nb.v"))
                / (F.col("na.norm") * F.col("nb.norm"))
            ).alias("cosine"),
        )
    )
    return scored.where(F.col("cosine") > COSINE_DUP_THRESHOLD)


# knn-join: every 50th vector plays the query set (retrieval / RAG-index
# evaluation / dedup-against-seed workloads all have this many-queries
# shape, vs similarity_topk's single query).
KNN_QUERY_MOD = 50
KNN_K = 5


@register(
    "similarity_knn_join",
    oracle=f"""
        WITH {PIVOT_BANDS_ORACLE_CTES},
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
          FROM bands q JOIN bands c
            ON q.band_id = c.band_id AND q.band_val = c.band_val
          WHERE q.vec_id % {KNN_QUERY_MOD} = 0
            AND c.vec_id % {KNN_QUERY_MOD} <> 0
        ),
        scored AS (
          SELECT cand.qid, cand.nid,
                 list_aggregate(list_transform(a.v, (x, i) -> x * b.v[i]),
                     'sum') / (a.norm * b.norm) AS cosine
          FROM cand
          JOIN normed a ON a.vec_id = cand.qid
          JOIN normed b ON b.vec_id = cand.nid
        ),
        ranked AS (
          SELECT qid, nid, cosine,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, nid) AS rk
          FROM scored
        )
        SELECT qid AS query_id, nid AS neighbor_id,
               CAST(rk AS INT) AS rank, cosine
        FROM ranked WHERE rk <= {KNN_K}
    """,
    doc=f"Batch ANN join: top-{KNN_K} cosine neighbors for EVERY query "
    f"vector (vec_id % {KNN_QUERY_MOD} == 0) at once — the many-query "
    "retrieval shape (RAG index eval, dedup-against-seed-set), vs "
    "similarity_topk's single probe. Pivot-sign LSH proposes bucket-mate "
    "candidates (one Arrow pass against the 40 collected pivots, "
    "materialized once and read by both the broadcast query side and the "
    "corpus side; the same engine-portable contract as "
    "dedup_embedding_cosine, so the candidate set itself is oracle-"
    "checked); exact ordered-fold cosine scores only candidates; per-query "
    "row_number (cosine desc, id tiebreak) keeps k. Scale shape: no "
    "corpus×query cross join anywhere — band hash-join, candidate-sized "
    "scoring, and a per-query WindowGroupLimit.",
    tags=("similarity", "knn", "lsh", "join"),
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    bands = _pivot_bands(spark, sf_dir)
    is_query = F.col("vec_id") % KNN_QUERY_MOD == 0
    qb = bands.where(is_query).select(
        F.col("vec_id").alias("qid"), "band_id", "band_val"
    )
    cb = bands.where(~is_query)
    # the query set is the small side by definition (eval suites / probe
    # batches vs the full corpus): broadcast it so the corpus bands never
    # shuffle, at any corpus size
    cand = (
        F.broadcast(qb)
        .join(cb, ["band_id", "band_val"])
        .select("qid", F.col("vec_id").alias("nid"))
        .distinct()
    )
    normed = _pivot_normed(spark, sf_dir)
    na, nb = normed.alias("na"), normed.alias("nb")
    scored = (
        cand.join(na, F.col("qid") == F.col("na.vec_id"))
        .join(nb, F.col("nid") == F.col("nb.vec_id"))
        .select(
            "qid",
            "nid",
            (
                _fold_dot(F.col("na.v"), F.col("nb.v"))
                / (F.col("na.norm") * F.col("nb.norm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "cosine",
        )
    )
