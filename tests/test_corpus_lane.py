"""The corpus lane end to end on a seeded corpus with planted truth:
fingerprint → n-gram Jaccard → connected components → kNN join, each
stage checked with the benchmark's own checks (planted pairs, components,
kNN against brute force, recall floors)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import scripts.compare as cmp
from gjenbruksstasjoner_kotid_estimering_spark import registry
from gjenbruksstasjoner_kotid_estimering_spark.operators import clusters, dedup, similarity
from perfbench import checks, gen

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    data = gen.corpus(1, N_DOCS)
    sf_dir = str(tmp_path_factory.mktemp("corpus"))
    gen.write_corpus(sf_dir, data)
    return sf_dir, data


def _bigram_jaccard(a: str, b: str) -> float:
    ga = {" ".join(p) for p in zip(a.split(" "), a.split(" ")[1:])}
    gb = {" ".join(p) for p in zip(b.split(" "), b.split(" ")[1:])}
    return len(ga & gb) / len(ga | gb)


def test_corpus_lane_matches_planted_truth(spark, corpus):
    sf_dir, data = corpus
    truth = data["truth"]

    groups = dedup.dedup_fingerprint(spark, sf_dir).count()
    assert checks.check_fingerprint_groups(groups, truth["unique_texts"]) == []

    pairs_df = dedup.dedup_ngram_jaccard(spark, sf_dir).localCheckpoint(eager=True)
    scored = [(r.doc_a, r.doc_b, r.jaccard) for r in pairs_df.collect()]
    pairs = [(a, b) for a, b, _ in scored]
    assert len(set(pairs)) == len(pairs)
    assert checks.check_pairs(set(pairs), truth) == []
    texts = data["documents"]["text"]
    for a, b, jac in scored:  # every verified pair carries its exact Jaccard
        assert a < b
        assert jac == pytest.approx(_bigram_jaccard(texts[a], texts[b]), abs=1e-12)
        assert jac >= dedup.JACCARD_DUP_THRESHOLD

    labels = {
        r.node: r.component
        for r in clusters.connected_components(pairs_df).select("node", "component").collect()
    }
    assert checks.check_components(labels, pairs) == []

    got: dict[int, list] = {}
    rows = similarity.similarity_knn_join(spark, sf_dir).collect()
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    emb = data["embeddings"]["embedding"]
    k = similarity.KNN_K
    assert checks.check_knn(got, emb, truth["twins"], gen.KNN_QUERY_MOD, k) == []
    assert set(got) == set(range(0, N_DOCS, gen.KNN_QUERY_MOD))
    assert all(len(nn) == k for nn in got.values())


def _oracle_problems(spark, sf_dir: str, name: str) -> list[str]:
    """Spark rows of a registered operator vs its DuckDB oracle over the
    corpus's own two tables (``cmp.duck_con`` expects every TPC-H table)."""
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        spec = registry.all_specs()[name]
        want = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    return cmp.compare(name, spec.builder(spark, sf_dir).toPandas(), want)


def test_knn_join_matches_oracle_on_corpus(spark, corpus):
    sf_dir, _ = corpus
    assert _oracle_problems(spark, sf_dir, "similarity_knn_join") == []


def test_zero_embedding_gives_null_cosine(spark, tmp_path):
    """An all-zero vector has norm 0.0. With ANSI on, a plain `/` fails
    the whole query with DIVIDE_BY_ZERO; DuckDB's oracles give a NULL
    cosine, and so must every cosine operator."""
    data = gen.corpus(1, 1000)
    data["embeddings"]["embedding"][50] = 0.0  # a query vector
    sf_dir = str(tmp_path / "zero")
    gen.write_corpus(sf_dir, data)
    for name in ("similarity_knn_join", "similarity_topk", "dedup_embedding_cosine"):
        assert _oracle_problems(spark, sf_dir, name) == [], name
    rows = similarity.similarity_knn_join(spark, sf_dir).where("query_id = 50").collect()
    assert len(rows) == similarity.KNN_K
    assert all(r.cosine is None for r in rows)


def test_malformed_embeddings_match_oracle(spark, tmp_path):
    """A NULL element, a length mismatch, an empty or a NULL vector makes
    Spark's ``_fold_dot`` (and the Arrow passes) NULL: a '0' pivot bit and
    a NULL cosine. The oracles' DuckDB fold must agree, among the pivots,
    the kNN queries and the rest; two empty vectors fold to 0.0 in both."""
    rng = np.random.default_rng(11)
    emb = [[float(x) for x in v] for v in rng.normal(size=(160, 16)).astype(np.float32)]
    q0, q50 = emb[0], emb[50]
    emb[3] = q0[:5] + [None] + q0[6:]  # a pivot with a NULL element
    emb[7] = [2 * x for x in q0[:9]] + [None] + [2 * x for x in q0[10:]]
    emb[11] = q0[:15]  # shorter than the query
    emb[13] = q0 + [1.0]  # longer than the query
    emb[17] = emb[19] = emb[61] = []
    emb[23] = None
    emb[60] = q50[:-1] + [None]  # next to query 50
    emb[100] = q0[:4] + [None] + q0[5:]  # a kNN query with a NULL element
    emb[150] = []  # an empty kNN query: its candidates are its band-mates
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(emb)), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array(np.zeros(len(emb), dtype=np.int32)),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf_dir = str(tmp_path)
    for name in ("similarity_topk", "dedup_embedding_cosine", "similarity_knn_join"):
        assert _oracle_problems(spark, sf_dir, name) == [], name
    topk = similarity.similarity_topk(spark, sf_dir).collect()
    assert not {7, 11, 13} & {r.vec_id for r in topk if r.cosine is not None}
    knn = similarity.similarity_knn_join(spark, sf_dir).collect()
    assert all(r.cosine is None for r in knn if r.query_id in (100, 150))
    assert len([r for r in knn if r.query_id == 150]) == similarity.KNN_K
