"""Dedup-operator invariants: fingerprint exactness, md5-MinHash band
quality (identical docs share every band; unrelated docs none; a
one-word edit keeps most), the Arrow pass of dedup_ngram_jaccard against
the Spark expressions it replaced, and the operator against its DuckDB
oracle on whitespace edge rows."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.functions.text import fingerprint_col, tokens_col
from gjenbruksstasjoner_kotid_estimering_spark.operators.dedup import (
    JACCARD_DUP_THRESHOLD,
    JACCARD_ORACLE_CTES,
    MH_BAND_SIZE,
    MH_BANDS,
    MH_SEEDS,
    band_keys,
    bigrams,
    dedup_ngram_jaccard,
    doc_keys,
    shingles_col,
)


def test_fingerprint_exact_and_order_sensitive(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "dog lazy the over jumps fox brown quick the"),
            (4, "an entirely different sentence altogether here"),
        ],
        schema="doc_id long, text string",
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", fingerprint_col(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2]          # identical text → identical fingerprint
    assert fps[1] != fps[3]          # reorder → different (order-sensitive)
    assert fps[1] != fps[4]


def _shared_bands(x: list[str], y: list[str]) -> int:
    return sum(a == b for a, b in zip(x, y))


def test_minhash_identical_docs_share_signature():
    text = "spark window merge join batch stream column row value table " * 5
    other = "completely unrelated words apple banana cherry durian elderberry fig grape"
    keys = band_keys([bigrams(text), bigrams(text), bigrams(other)])
    assert keys[0] == keys[1] and len(keys[0]) == MH_BANDS
    # disjoint bigram sets: a shared band needs an md5 collision
    assert _shared_bands(keys[0], keys[2]) == 0


def test_near_dup_docs_mostly_agree():
    """One word changed (bigram Jaccard 0.91) → most bands agree: each
    band matches with probability J**MH_BAND_SIZE ≈ 0.75."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon " * 3).split()
    variant = list(base)
    variant[5] = "CHANGED"
    keys = band_keys([bigrams(" ".join(base)), bigrams(" ".join(variant))])
    assert _shared_bands(*keys) >= 3


# --- the Arrow pass of dedup_ngram_jaccard vs the Spark expressions -------

# Java's \s set in every position: tabs, \x0b, \f, CR/LF; leading, trailing
# and repeated separators; repeated bigrams; 1-token, empty and NULL text.
# NBSP, EM SPACE and \x1c match Python's \s but not Java's, so they stay
# inside a token.
EDGE_TEXTS = [
    "a\tb c",
    "a\x0bb\fc",
    "a\r\nb\rc\nd",
    "  leading space",
    "trailing space  ",
    " \t both \r\n sides \x0b",
    "rep  rep   rep\t\trep",
    "x y x y x y z",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "a b c d",
    "nbsp\u00a0inside em\u2003space file\x1cseparator",
    "one",
    "",
    " ",
    "\t\n",
    None,
]


def _edge_docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), schema="doc_id long, text string"
    )


def test_bigrams_match_shingles_col(spark):
    want = {
        r.doc_id: r.g
        for r in _edge_docs(spark)
        .select("doc_id", shingles_col(F.col("text"), k=2).alias("g"))
        .collect()
    }
    got = {i: bigrams(t) for i, t in enumerate(EDGE_TEXTS)}
    assert got == want


def test_band_keys_match_md5_column_expressions(spark):
    """The Arrow pass's rows equal the md5 column expressions it replaced:
    explode → md5 halves → min(h1 + i·h2) per seed → md5 per band."""
    grams = (
        _edge_docs(spark)
        .where(F.size(tokens_col(F.col("text"))) >= 2)
        .select("doc_id", shingles_col(F.col("text"), k=2).alias("bigrams"))
    )
    digest = F.md5(F.col("s"))
    hashed = grams.select("doc_id", F.explode("bigrams").alias("s")).select(
        "doc_id",
        F.conv(F.substring(digest, 1, 14), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(digest, 17, 14), 16, 10).cast("long").alias("h2"),
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"h{i}") for i in range(MH_SEEDS)]
    )
    keys = sigs.select(
        "doc_id",
        F.array(
            *[
                F.md5(F.concat_ws(",", *[F.col(f"h{b * MH_BAND_SIZE + j}") for j in range(MH_BAND_SIZE)]))
                for b in range(MH_BANDS)
            ]
        ).alias("keys"),
    )
    want = {r.doc_id: (r.bigrams, r.keys) for r in grams.join(keys, "doc_id").collect()}
    got = {r.doc_id: (r.bigrams, r.keys) for r in doc_keys(_edge_docs(spark)).collect()}
    assert got == want
    # whitespace-only text splits into two empty tokens: one bigram " "
    assert sorted(got) == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 13, 14]


def test_ngram_jaccard_matches_oracle_on_whitespace_variants(spark, tmp_path):
    """The DuckDB oracle tokenizes as the operator does: texts that differ
    only in tabs, newlines, \\x0b, or repeated, leading or trailing
    separators pair up with the same Jaccard in both engines."""
    base = "the quick brown fox jumps over the lazy dog"
    texts = [
        base,
        "the\tquick  brown\nfox jumps over the lazy dog",
        " the quick brown fox jumps over the lazy dog ",
        "the\r\nquick brown fox\x0bjumps over the\f lazy dog",
        "rep rep rep rep",
        "rep  rep   rep\t\trep",
        "a b c d e f g h",
        "a\r\nb c d e f g h\x0b",
        *EDGE_TEXTS,
    ]
    sf_dir = str(tmp_path)
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        f"{sf_dir}/documents.parquet"
    )
    got = sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted(
        con.execute(
            f"WITH {JACCARD_ORACLE_CTES} SELECT doc_a, doc_b, jaccard FROM scored "
            f"WHERE jaccard >= {JACCARD_DUP_THRESHOLD}"
        ).fetchall()
    )
    assert got == want
    assert {(0, 1, 1.0), (0, 3, 1.0), (1, 3, 1.0), (4, 5, 1.0)} <= set(got)
