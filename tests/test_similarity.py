"""The Arrow passes of the pivot-sign LSH and the kNN join against the
Spark expressions they replaced (the ``_fold_dot`` sign, ``cosine_col``,
``orderBy``), on edge rows and on random vectors."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.operators import similarity
from gjenbruksstasjoner_kotid_estimering_spark.operators.similarity import (
    _fold_dot,
    _order_key,
    _pivots,
    cosine,
    cosine_col,
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


def test_cosine_matches_cosine_col_on_edge_rows(spark):
    """The kNN pass's Arrow cosine against Spark's ``cosine_col`` on every
    ordered pair of the edge vectors plus a zero vector: doubles bit-equal
    (NaN as NaN), NULLs in the same places. The rank window stays
    Spark's, so NaN (first under ``cosine desc``) and NULL (last) rank as
    they did."""
    vectors = VECTORS + [[0.0, 0.0, 0.0]]
    pairs = [(i, j) for i in range(len(vectors)) for j in range(len(vectors))]
    df = spark.createDataFrame(
        [(i, j, vectors[i], vectors[j]) for i, j in pairs],
        schema="i int, j int, a array<float>, b array<float>",
    )
    want = [
        r.c
        for r in df.select("i", "j", cosine_col(F.col("a"), F.col("b")).alias("c"))
        .orderBy("i", "j")
        .collect()
    ]
    emb = pa.array(vectors, pa.list_(pa.float32()))
    i, j = np.array(pairs).T
    got = cosine(emb.take(i), emb.take(j)).to_pylist()
    assert [None if x is None else x.hex() for x in got] == [
        None if x is None else x.hex() for x in want
    ]
    nulls = {p for p, x in zip(pairs, got) if x is None}
    assert {(6, 0), (7, 0), (8, 0), (0, 8), (12, 12), (12, 0)} <= nulls
    assert got[pairs.index((3, 0))] != got[pairs.index((3, 0))]  # NaN
    assert got[pairs.index((11, 11))] is not None


TIE_ROWS = [
    (3, [1.0, 2.0]),
    (3, None),
    (3, [1.0, None]),
    (3, [1.0]),
    (3, [1.0, NAN]),
    (3, [NAN]),
    (3, [-1.0, 5.0]),
    (3, [1.0, 2.0, 0.0]),
    (3, []),
    (3, [None]),
    (2, [9.0]),
    (45, [0.0]),  # not a pivot: vec_id >= N_PIVOTS
]


def test_pivots_order_ties_as_spark_does(spark):
    """The order ``_pivots`` sorts to in Python against Spark's
    ``orderBy("vec_id", "embedding")`` on vec_id ties: a NULL vector
    first, then element by element with a NULL element first and NaN
    last, a prefix first."""
    df = spark.createDataFrame(TIE_ROWS, schema="vec_id long, embedding array<float>")
    ordered = df.orderBy("vec_id", "embedding").collect()
    rows = df.collect()  # in TIE_ROWS order
    assert [(r.vec_id, repr(r.embedding)) for r in sorted(rows, key=_order_key)] == [
        (r.vec_id, repr(r.embedding)) for r in ordered
    ]
    assert [None if p is None else repr(p.tolist()) for p in _pivots(rows)] == [
        None if r.embedding is None or None in r.embedding else repr(r.embedding)
        for r in ordered
        if r.vec_id < similarity.N_PIVOTS
    ]


def test_knn_join_scores_each_row_of_a_duplicated_id(spark, tmp_path):
    """vec_id is unique in the lane's corpus and the testdata; the pass
    still runs when it is not, and then scores each row on its own. A
    copy of an id that shares no band with a query is no candidate of it,
    where a join back on vec_id (the DuckDB oracle's) scores every copy
    of a candidate id."""
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(60, 16)).astype(np.float32)
    emb[41] = 2 * emb[0]  # every band of query 0
    emb = np.vstack([emb, -emb[0]])  # a second vec_id 41: no band of query 0
    ids = np.append(np.arange(60), 41)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(np.zeros(len(ids), dtype=np.int32)),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = similarity.similarity_knn_join(spark, str(tmp_path)).collect()
    dup = [r for r in rows if r.query_id == 0 and r.neighbor_id == 41]
    assert len(dup) == 1
    assert dup[0].rank == 1 and dup[0].cosine == pytest.approx(1.0)
