"""Pivot-sign LSH: the Arrow pass of similarity._pivot_bands against the
``_fold_dot`` sign it replaced, on edge rows and on random vectors."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.operators.similarity import (
    _fold_dot,
    pivot_bits,
)

NAN, INF = float("nan"), float("inf")

PIVOTS = [
    [1.0, 1.0, 0.0],
    [1.0, -2.0, 0.5],
    [-0.25, 0.0, 4.0],
    None,  # a NULL pivot: every bit against it is '0'
    [1.0, 1.0],  # length 2: only 2-element vectors can get a '1'
    [1.0, 1.0, 1.0, 1.0],
]

VECTORS = [
    [1.0, -1.0, 0.0],  # exact 0.0 dot with pivot 0 → '1'
    [-1.0, -1.0, -1.0],
    [2.0, 1.0, -0.5],
    [NAN, 1.0, 1.0],  # NaN dot → '1' (Spark orders NaN above every number)
    [INF, 0.0, 1.0],  # inf·0 = NaN with pivot 2
    [-0.0, -0.0, -0.0],  # -0.0 + … = 0.0 → '1'
    [1.0, None, 1.0],  # a NULL element → '0' everywhere
    None,  # a NULL vector → '0' everywhere
    [1.0, 2.0],  # length mismatch → '0' except against the 2-element pivot
    [-3.0, 1.0],
    [],  # empty: dot with an empty pivot would be 0.0; none here → '0'
    # the left fold gives ((2^53 + 1) - 2^53) - 0.5 = -0.5 → '0'; the exact
    # sum, a reversed fold and a pairwise sum all give +0.5 → '1'
    [2.0**53, 1.0, -(2.0**53), -0.5],
]


def _spark_bits(spark, vectors, pivots):
    """The replaced Spark expression: per pivot, _fold_dot(v, p) >= 0."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)],
        schema="i int, e array<float>",
    ).crossJoin(
        spark.createDataFrame([(pivots,)], schema="pivots array<array<double>>")
    )
    v = F.transform("e", lambda x: x.cast("double"))
    bits = F.array_join(
        F.transform(
            "pivots",
            lambda p: F.when(_fold_dot(v, p) >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )
    return [r.bits for r in df.select("i", bits.alias("bits")).orderBy("i").collect()]


def _arrow_bits(vectors, pivots):
    emb = pa.array(vectors, pa.list_(pa.float32()))
    piv = [None if p is None else np.array(p, dtype=np.float64) for p in pivots]
    return ["".join("1" if b else "0" for b in row) for row in pivot_bits(emb, piv)]


def test_pivot_bits_match_fold_dot_sign_on_edge_rows(spark):
    want = _spark_bits(spark, VECTORS, PIVOTS)
    assert _arrow_bits(VECTORS, PIVOTS) == want
    assert want[0][0] == "1" and want[3][:3] == "111"
    assert want[6] == want[7] == "000000"
    assert want[8] == "000010"
    assert want[11] == "000000"


def test_pivot_bits_match_fold_dot_sign_on_random_vectors(spark):
    """64-dim float32 vectors, as the embeddings table stores them, with
    some dots pushed close to 0.0 where the fold order decides the sign."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 64)).astype(np.float32)
    pivots = [rng.normal(size=64) for _ in range(8)]
    for i in range(0, 60, 3):  # v ⟂ pivot 0 up to float32 rounding
        p = pivots[0]
        vecs[i] = (vecs[i] - (vecs[i] @ p) / (p @ p) * p).astype(np.float32)
    pivots = [np.asarray(p, dtype=np.float32).astype(np.float64).tolist() for p in pivots]
    vectors = vecs.tolist()
    assert _arrow_bits(vectors, pivots) == _spark_bits(spark, vectors, pivots)


def test_pivot_bits_sliced_batch():
    """Offsets of a sliced Arrow list array point into the unsliced values."""
    emb = pa.array(VECTORS, pa.list_(pa.float32()))
    piv = [None if p is None else np.array(p) for p in PIVOTS]
    full = pivot_bits(emb, piv)
    assert (pivot_bits(emb.slice(2, 6), piv) == full[2:8]).all()
