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
                               the same pivot-sign candidates, scored in one
                               Arrow pass against the collected query set.

At 100 TB brute force against one query is still a single pass (fine);
the all-pairs and many-query workloads, where O(n²) is impossible, share
one candidate family: pivot-sign LSH band keys (``_band_keys``, behind
both ``_pivot_bands`` and the kNN pass), which DuckDB derives identically,
so the candidate sets are part of the oracle contract. Every cosine is the same ordered
fold in double on every path: the Spark expression (``cosine_col``), its
numpy twin (``cosine``) and the oracles' DuckDB fold (``_duck_dot``); a
zero denominator, a NULL element or a length mismatch gives a NULL cosine
on all three.
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


def _duck_dot(a: str, b: str) -> str:
    """DuckDB SQL for ``_fold_dot`` of two list expressions: the same left
    fold from 0.0 in double, NULL on a NULL vector, a NULL element or a
    length mismatch, and 0.0 for two empty vectors. (``list_aggregate(...,
    'sum')`` skips NULL products and reads an out-of-range ``b[i]`` as
    NULL, so it gives a real dot for all three.)"""
    return (
        f"CASE WHEN len({a}) = len({b}) THEN list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x) END"
    )


def cosine_col(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    # try_divide: a zero vector gives a NULL cosine, as in DuckDB, where
    # ANSI `/` would fail the query
    return F.try_divide(_fold_dot(a, b), F.sqrt(_fold_dot(a, a)) * F.sqrt(_fold_dot(b, b)))


@register(
    "similarity_topk",
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings
                   WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
          SELECT e.vec_id, e.label,
                 {_duck_dot("e.embedding", "q.qv")}
                 / (sqrt({_duck_dot("e.embedding", "e.embedding")})
                    * sqrt({_duck_dot("q.qv", "q.qv")})) AS cosine
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
                   p -> CASE WHEN {_duck_dot("v", "p")} >= 0
                        THEN '1' ELSE '0' END), '') AS bits
          FROM base CROSS JOIN pv
        ),
        bands AS ({_PV_BAND_SELECTS}),
        normed AS (
          SELECT vec_id, v,
                 sqrt({_duck_dot("v", "v")}) AS norm
          FROM base
        )"""


def _vectors(emb):
    """(starts, lengths, float64 values, ok) of a pyarrow list array of
    vectors; ``ok`` marks the rows that are non-NULL and hold no NULL
    element, the only rows whose ``_fold_dot`` can be non-NULL.

    The starts index the values array, which a sliced list array does
    not slice."""
    offs = emb.offsets.to_numpy()
    vals = emb.values
    flat = vals.to_numpy(zero_copy_only=False).astype(np.float64)
    nulls = np.concatenate([[0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False))])
    ok = emb.is_valid().to_numpy(zero_copy_only=False) & (nulls[offs[1:]] == nulls[offs[:-1]])
    return offs[:-1], np.diff(offs), flat, ok


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``_fold_dot`` over the last axis of two broadcastable float64 arrays:
    a left fold from 0.0, adding one product at a time, so every partial
    sum rounds as the Spark fold's does."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    with np.errstate(all="ignore"):  # NaN and inf are results, as in IEEE
        for j in range(a.shape[-1]):
            acc = acc + a[..., j] * b[..., j]
    return acc


def pivot_bits(emb, pivots: list) -> np.ndarray:
    """(rows, pivots) sign bits of ``_fold_dot(v, p) >= 0``, for a pyarrow
    list array of vectors and a list of pivot vectors (float64 arrays, or
    None for a NULL pivot).

    The dot is ``_fold``, vectorized across rows and pivots, so every bit
    matches the Spark fold's IEEE result. As in Spark, a NULL vector, a
    NULL element or a length mismatch makes the dot NULL (bit 0), and NaN
    counts as >= 0 because Spark orders NaN above every number.
    """
    starts, lens, flat, ok = _vectors(emb)
    bits = np.zeros((len(emb), len(pivots)), dtype=bool)
    for n in np.unique(lens[ok]):
        cols = [j for j, p in enumerate(pivots) if p is not None and len(p) == n]
        if not cols:
            continue
        rows = np.flatnonzero(ok & (lens == n))
        v = flat[starts[rows][:, None] + np.arange(n)]
        p = np.stack([pivots[j] for j in cols]).reshape(len(cols), n)
        acc = _fold(v[:, None, :], p[None, :, :])
        bits[np.ix_(rows, cols)] = (acc >= 0) | np.isnan(acc)
    return bits


def cosine(a, b):
    """Row-wise ``cosine_col(a, b)`` of two equal-length pyarrow list
    arrays, as a pyarrow double array.

    The dot and both norms are ``_fold``s and the divide is IEEE, so every
    double is bit-identical to Spark's; the cosine is NULL where Spark's
    is: a NULL vector or element, a length mismatch, or a zero
    denominator."""
    import pyarrow as pa

    sa, la, fa, ok_a = _vectors(a)
    sb, lb, fb, ok_b = _vectors(b)
    ok = ok_a & ok_b & (la == lb)
    dot, den = np.zeros(len(a)), np.zeros(len(a))
    with np.errstate(all="ignore"):
        for n in np.unique(la[ok]):
            rows = np.flatnonzero(ok & (la == n))
            va = fa[sa[rows][:, None] + np.arange(n)]
            vb = fb[sb[rows][:, None] + np.arange(n)]
            dot[rows] = _fold(va, vb)
            den[rows] = np.sqrt(_fold(va, va)) * np.sqrt(_fold(vb, vb))
        ok &= den != 0
        cos = np.divide(dot, den, out=np.zeros(len(a)), where=ok)
    return pa.array(cos, mask=~ok)


def _order_key(row):
    """Spark's ascending ``orderBy("vec_id", "embedding")`` as a sort key:
    on a vec_id tie a NULL vector first, then element by element (a NULL
    element first, NaN after every number, -0.0 equal to 0.0), a vector
    before its extensions."""

    def elem(x):
        return (0, 0.0) if x is None else (2, 0.0) if x != x else (1, x)

    emb = row.embedding
    return row.vec_id, (emb is not None, [elem(x) for x in emb or ()])


def _pivots(rows) -> list:
    """The pivot vectors among collected (vec_id, embedding) rows: those
    with vec_id < N_PIVOTS, in the oracle's ``list(v ORDER BY vec_id)``
    order (ties as Spark orders them), each a float64 array, or None for a
    NULL vector or one with a NULL element."""
    return [
        None if r.embedding is None or None in r.embedding
        else np.array(r.embedding, dtype=np.float64)
        for r in sorted((r for r in rows if r.vec_id < N_PIVOTS), key=_order_key)
    ]


def _band_keys(bits: np.ndarray) -> np.ndarray:
    """(rows, PV_BANDS) band keys of (rows, pivots) sign bits: band b's
    bits read as a binary number, plus b << PV_BAND_BITS, so two rows
    share a key exactly when the oracle's ``bands`` gives them one
    (band_id, band_val). Bits past the last pivot read as 0, which keeps
    the keys one-to-one with band_val's shorter substrings when there
    are fewer than PV_BANDS × PV_BAND_BITS pivots."""
    width = PV_BANDS * PV_BAND_BITS
    padded = np.zeros((len(bits), width), dtype=np.int64)
    k = min(width, bits.shape[1])
    padded[:, :k] = bits[:, :k]
    weights = 1 << np.arange(PV_BAND_BITS - 1, -1, -1)
    codes = padded.reshape(len(bits), PV_BANDS, PV_BAND_BITS) @ weights
    return codes + (np.arange(PV_BANDS) << PV_BAND_BITS)


def _pivot_band_batches(pivots: list):
    """mapInArrow body: (vec_id, embedding) → one (vec_id, band_id,
    band_val) row per band, band_val being that band's ``_band_keys``
    key."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            keys = _band_keys(pivot_bits(batch.column("embedding"), pivots))
            rows = pa.array(np.repeat(np.arange(len(keys)), PV_BANDS))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id").take(rows).cast(pa.int64()),
                    pa.array(np.tile(np.arange(PV_BANDS, dtype=np.int32), len(keys))),
                    pa.array(keys.ravel()),
                ],
                names=["vec_id", "band_id", "band_val"],
            )

    return run


def _pivot_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band_id, band_val) pivot-sign LSH bands (Spark twin of
    PIVOT_BANDS_ORACLE_CTES's ``bands``), materialized once.

    The N_PIVOTS pivots are collected once (``_pivots``); one Arrow pass
    over the embeddings scan computes every vector's bits against them."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pivots = _pivots(e.where(F.col("vec_id") < N_PIVOTS).collect())
    bands = e.mapInArrow(
        _pivot_band_batches(pivots), "vec_id long, band_id int, band_val long"
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
                 {_duck_dot("a.v", "b.v")} / (a.norm * b.norm) AS cosine
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
            F.try_divide(
                _fold_dot(F.col("na.v"), F.col("nb.v")),
                F.col("na.norm") * F.col("nb.norm"),
            ).alias("cosine"),
        )
    )
    return scored.where(F.col("cosine") > COSINE_DUP_THRESHOLD)


# knn-join: every 50th vector plays the query set (retrieval / RAG-index
# evaluation / dedup-against-seed workloads all have this many-queries
# shape, vs similarity_topk's single query).
KNN_QUERY_MOD = 50
KNN_K = 5


def _knn_batches(pivots: list, qids: np.ndarray, qemb):
    """mapInArrow body: (vec_id, embedding) → one (qid, nid, cosine) row
    per (query, non-query row) pair that shares a pivot-sign band.

    The query band keys are sorted once; each row's PV_BANDS keys are
    looked up in them by binary search, so a batch costs O(rows × bands)
    lookups plus its candidate pairs, not O(rows × queries)."""
    flat = _band_keys(pivot_bits(qemb, pivots)).ravel()
    order = np.argsort(flat, kind="stable")
    qkeys, qrow = flat[order], order // PV_BANDS

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            vid = batch.column("vec_id").cast(pa.int64())
            ids = vid.fill_null(0).to_numpy()
            valid = vid.is_valid().to_numpy(zero_copy_only=False)
            corpus = np.flatnonzero(valid & (ids % KNN_QUERY_MOD != 0))
            emb = batch.column("embedding").take(corpus)
            keys = _band_keys(pivot_bits(emb, pivots)).ravel()
            lo = np.searchsorted(qkeys, keys)
            hits = np.searchsorted(qkeys, keys, side="right") - lo
            at = np.repeat(lo - np.cumsum(hits) + hits, hits) + np.arange(hits.sum())
            row = np.repeat(np.arange(keys.size) // PV_BANDS, hits)
            pair = np.unique(row * len(qids) + qrow[at])
            row, q = pair // len(qids), pair % len(qids)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[q]),
                    pa.array(ids[corpus[row]]),
                    cosine(qemb.take(q), emb.take(row)),
                ],
                names=["qid", "nid", "cosine"],
            )

    return run


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
                 {_duck_dot("a.v", "b.v")} / (a.norm * b.norm) AS cosine
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
    "similarity_topk's single probe. The query set is small by definition, "
    "so the 40 pivots and the queries are collected once and shipped to "
    "every partition (REPOSE-style); one Arrow pass straight on the "
    "embeddings scan takes each vector's pivot-sign bits, looks its 5 band "
    "keys up in the sorted query keys (rows × bands lookups, not rows × "
    "queries) and scores each band-sharing (query, non-query row) pair "
    "with the exact ordered-fold cosine, bit-identical to the Spark and "
    "DuckDB folds. The candidate set is the same engine-portable contract "
    "as dedup_embedding_cosine, so it is oracle-checked; per-query "
    "row_number (cosine desc, id tiebreak) keeps k. Scale shape: no join "
    "and no exchange before the pass, one shuffle of candidate-sized rows "
    "into a per-query WindowGroupLimit. Each row is scored on its own: "
    "for a duplicated vec_id only the copies sharing a band are scored "
    "(the oracle's join on vec_id scores every copy).",
    tags=("similarity", "knn", "lsh", "join"),
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_query = F.col("vec_id") % KNN_QUERY_MOD == 0
    rows = e.where((F.col("vec_id") < N_PIVOTS) | is_query).collect()
    queries = [r for r in rows if r.vec_id % KNN_QUERY_MOD == 0]
    scored = e.mapInArrow(
        _knn_batches(
            _pivots(rows),
            np.array([r.vec_id for r in queries], dtype=np.int64),
            pa.array([r.embedding for r in queries], pa.list_(pa.float64())),
        ),
        "qid long, nid long, cosine double",
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
