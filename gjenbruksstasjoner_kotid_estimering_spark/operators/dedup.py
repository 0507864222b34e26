"""Deduplication operators (driver-mandated LLM-data-pipeline extension).

Exact dedup grounds in the reference's idempotency (Luigi skips work whose
output exists, tasks.py:19-29 — i.e. the pipeline never produces two rows
for the same (station, ts) input). Near-dup text search has one candidate
family, md5 MinHash over word bigrams, the scale path for ~100 TB corpora
where O(n²) comparison is impossible: shingle → hash → band → bucket-join.
``dedup_ngram_jaccard`` derives each document's bigrams and band keys in
one Arrow pass (``mapInArrow``) straight off the scan; the candidate join
(``band_pairs``) and the exact scoring stay in the JVM.

- ``dedup_exact``        : representative row per duplicate key (oracle-checked)
- ``dedup_fingerprint``  : exact-text dedup via 64-bit rolling fingerprint —
                           the hash-first pattern that avoids shuffling full
                           text payloads at scale (rows-only: xxhash64)
- ``dedup_ngram_jaccard``: md5-MinHash candidates → exact bigram Jaccard
                           (oracle-checked, banding included)
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col, tokens_col
from ..io import load_table
from ..registry import register

SHINGLE_K = 3


def shingles_col(text: Column, k: int = SHINGLE_K) -> Column:
    """Word k-shingles as strings ('w1 w2 w3'); distinct per document.

    Total over short docs: fewer than k tokens → empty array. The guard
    matters because Spark's sequence(1, 0) counts DOWN to [1, 0] and
    slice(…, 0, k) then throws INVALID_PARAMETER_VALUE.START — so the
    sequence only exists under a when() proving n >= k.
    """
    toks = tokens_col(text)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# Note: an element_at-based "hash token triples directly" variant was
# measured 2.4× SLOWER than slice+concat_ws at sf0.1 (element_at inside
# higher-order lambdas doesn't codegen as tightly as the single-pass
# slice/concat) — keep the string-shingle form.


@register(
    "dedup_exact",
    oracle="""
        SELECT l_orderkey,
               min(l_linenumber) AS first_line,
               count(*) AS n_dups,
               min(l_partkey) AS any_part
        FROM lineitem
        GROUP BY l_orderkey
    """,
    doc="Exact dedup: one representative row per duplicate key "
    "(deterministic min-pick), dup count retained — the set form of "
    "Luigi's skip-existing idempotency (tasks.py:19-29).",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.min("l_linenumber").alias("first_line"),
        F.count(F.lit(1)).alias("n_dups"),
        F.min("l_partkey").alias("any_part"),
    )


@register(
    "dedup_fingerprint",
    oracle=None,  # xxhash64 is Spark-specific → rows-only; invariants pytest-checked
    doc="Exact-text dedup via 64-bit rolling token fingerprint "
    "(functions/text.fingerprint_col): group by fingerprint, keep min "
    "doc_id. At 100 TB the 8-byte key shuffles instead of the text payload.",
    tags=("dedup", "fingerprint"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("fingerprint", fingerprint_col(F.col("text")))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# Candidate generation for the oracle-checked exact-Jaccard stage uses
# md5-based MinHash: md5 is the one hash both Spark (F.md5) and DuckDB
# (md5()) compute bit-identically, so the LSH banding itself is part of the
# oracle contract — the two engines derive the SAME candidate pair set.
# 15 hashes × 5 bands of 3 → P(candidate) = 1-(1-J³)⁵: ≥ 0.88 at J=0.7,
# ~1.4e-4 at the J≈0.03 noise floor of the synthetic corpus.
MH_SEEDS = 15
MH_BANDS = 5
MH_BAND_SIZE = 3
JACCARD_DUP_THRESHOLD = 0.5


# Java's \s, which Spark's split(text, '\s+') splits on: ASCII whitespace
# only (Python's \s would also match Unicode spaces).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_MH_I = np.arange(MH_SEEDS, dtype=np.int64)
_BYTE_SHIFTS = 8 * np.arange(6, -1, -1, dtype=np.int64)


def bigrams(text: str | None) -> list[str]:
    """``shingles_col(text, k=2)`` for one document.

    Tokens split as Spark's ``split(text, '\\s+')`` does (a leading or
    trailing separator gives an empty token; '' and NULL give none), and
    each distinct bigram is kept at its first occurrence, as
    ``array_distinct`` does.
    """
    if not text:
        return []
    toks = _JAVA_WS.split(text)
    return list(dict.fromkeys(map(" ".join, zip(toks, toks[1:]))))


def band_keys(grams: list[list[str]]) -> list[list[str]]:
    """Per document, the MH_BANDS md5 band keys of its engine-portable
    MinHash signature (the ``sigs``/``bands`` CTEs of JACCARD_ORACLE_CTES).

    ONE md5 per bigram; the hex digest splits into two 56-bit ints (hex
    chars 1-14 and 17-30) and the per-seed hash family is h_i = h1 + i·h2
    (Kirsch-Mitzenmacher double hashing — the standard derivation of k
    hash functions from one). 56-bit halves keep h1 + 14·h2 < 2^60, so
    int64 cannot overflow. Band b's key is md5 of its MH_BAND_SIZE
    minima joined by ','. Every document needs at least one bigram.
    """
    if not grams:
        return []
    flat = [g for doc in grams for g in doc]
    digests = b"".join(hashlib.md5(g.encode()).digest() for g in flat)
    d = np.frombuffer(digests, np.uint8).reshape(-1, 16).astype(np.int64)
    h1 = (d[:, 0:7] << _BYTE_SHIFTS).sum(axis=1)
    h2 = (d[:, 8:15] << _BYTE_SHIFTS).sum(axis=1)
    starts = np.cumsum([0] + [len(doc) for doc in grams[:-1]])
    sigs = np.minimum.reduceat(h1[:, None] + _MH_I * h2[:, None], starts, axis=0)
    return [
        [
            hashlib.md5(
                ",".join(map(str, sig[b * MH_BAND_SIZE : (b + 1) * MH_BAND_SIZE])).encode()
            ).hexdigest()
            for b in range(MH_BANDS)
        ]
        for sig in sigs.tolist()
    ]


def _doc_key_batches(batches):
    """mapInArrow body: (doc_id, text) → (doc_id, bigrams, keys) for every
    document with at least one bigram."""
    import pyarrow as pa

    strings = pa.list_(pa.string())
    for batch in batches:
        grams = [bigrams(t) for t in batch.column("text").to_pylist()]
        keep = [i for i, g in enumerate(grams) if g]
        grams = [grams[i] for i in keep]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id").take(pa.array(keep, pa.int64())).cast(pa.int64()),
                pa.array(grams, strings),
                pa.array(band_keys(grams), strings),
            ],
            names=["doc_id", "bigrams", "keys"],
        )


def doc_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, bigrams, keys): one Arrow pass.

    No ``fan_out`` in front: the pass runs on the scan's own splits, so
    one Python worker serves a one-split corpus and many splits give the
    parallelism at scale."""
    return docs.select("doc_id", "text").mapInArrow(
        _doc_key_batches, "doc_id long, bigrams array<string>, keys array<string>"
    )


def band_pairs(bands: DataFrame, id_col: str, a: str, b: str) -> DataFrame:
    """LSH candidate pairs: (id_col, band_id, band_val) rows → distinct
    (a, b) id pairs, a < b, that share at least one band.

    An equi-join on (band_id, band_val), so the work is bucket-local and
    no pair outside a shared bucket is ever formed. Both the text bands
    (``doc_keys``) and the vector bands (``similarity._pivot_bands``)
    feed it; the ``cand`` CTEs of their oracles are the same join."""
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias(a), F.col(f"r.{id_col}").alias(b))
        .distinct()
    )


_MH_MIN_EXPRS = ",\n                 ".join(
    f"min(h1 + {i} * h2) AS h{i}" for i in range(MH_SEEDS)
)
_MH_BAND_SELECTS = "\n          UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"md5(concat_ws(',', "
    + ", ".join(f"h{b * MH_BAND_SIZE + j}" for j in range(MH_BAND_SIZE))
    + ")) AS band_val FROM sigs"
    for b in range(MH_BANDS)
)


# The full candidate-generation + exact-scoring chain as a reusable CTE
# body: dedup_ngram_jaccard's oracle selects from it directly, and
# operators/clusters.py extends it with a recursive-CTE connected
# components so the cluster assignment is oracle-checked end-to-end.
# Tokens split on Java's \s set, as the operator's split(text, '\s+') does;
# RE2's \s lacks \x0B, so the class is spelled out.
JACCARD_ORACLE_CTES = f"""toks AS (
          SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS t
          FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   list_transform(t,
                     (x, i) -> CASE WHEN i < len(t)
                               THEN x || ' ' || t[i + 1] END),
                   y -> y IS NOT NULL)) AS bigrams
          FROM toks
        ),
        g AS (SELECT * FROM grams WHERE len(bigrams) > 0),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substring(md5(s), 1, 14))::BIGINT AS h1,
                 ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2
          FROM (SELECT doc_id, unnest(bigrams) AS s FROM g)
        ),
        sigs AS (
          SELECT doc_id,
                 {_MH_MIN_EXPRS}
          FROM hashed GROUP BY doc_id
        ),
        bands AS ({_MH_BAND_SELECTS}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
        ),
        scored AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(len(list_filter(ga.bigrams,
                          x -> list_contains(gb.bigrams, x))) AS DOUBLE)
                 / CAST(len(ga.bigrams) + len(gb.bigrams)
                        - len(list_filter(ga.bigrams,
                              x -> list_contains(gb.bigrams, x))) AS DOUBLE)
                   AS jaccard
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b
        )"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {JACCARD_ORACLE_CTES}
        SELECT doc_a, doc_b, jaccard FROM scored
        WHERE jaccard >= {JACCARD_DUP_THRESHOLD}
    """,
    doc="Candidate-driven exact n-gram Jaccard dedup: one Arrow pass "
    "(mapInArrow) straight off the documents scan derives each document's "
    "bigrams and md5-MinHash band keys (engine-portable, so DuckDB derives "
    "the identical candidate set), materialized once; the band self-join "
    "proposes pairs and exact bigram-set Jaccard is computed ONLY for "
    "candidates and thresholded at 0.5. No quadratic self-join anywhere — "
    "the scale shape is a per-split Arrow pass + bucket-local join + "
    "candidate-sized scoring joins.",
    tags=("dedup", "jaccard", "minhash", "lsh"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One Arrow pass derives every document's bigrams and band keys; the
    # candidate self-join and both scoring joins read that one
    # materialized frame instead of re-deriving it per join side.
    grams = doc_keys(load_table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    bands = grams.select("doc_id", F.posexplode("keys").alias("band_id", "band_val"))
    cand = band_pairs(bands, "doc_id", "doc_a", "doc_b")
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = F.size(F.array_intersect(F.col("ga.bigrams"), F.col("gb.bigrams")))
    union = F.size(F.col("ga.bigrams")) + F.size(F.col("gb.bigrams")) - inter
    scored = (
        cand.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )
    return scored.where(F.col("jaccard") >= JACCARD_DUP_THRESHOLD)
