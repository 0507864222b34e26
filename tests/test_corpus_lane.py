"""The corpus lane end to end on a seeded corpus with planted truth:
fingerprint → n-gram Jaccard → connected components → kNN join, each
stage checked with the benchmark's own checks (planted pairs, components,
kNN against brute force, recall floors)."""

from __future__ import annotations

import pytest

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
