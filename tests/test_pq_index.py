"""Persistent IVF-PQ index: the codec-shared index cases
(tests/ivf_codec_cases.py) on the PQ codec, plus the PQ-specific
exact-limit equivalence and recall with the source and stored rerank
modes."""

import pytest

from spatialpandas_spark.operators.similarity import brute_force_topk
from spatialpandas_spark.operators.similarity_index import (
    build_ivfpq_index,
    query_ivfpq_index,
)
from tests.ivf_codec_cases import *  # noqa: F403 - the shared cases
from tests.ivf_codec_cases import _emb, _qs


@pytest.fixture(scope="module")
def kind():
    return "ivfpq"


def test_probe_rerank_source_recall(spark, emb, index_path):
    # rerank_factor=8: the candidate budget is EXACTLY k*factor per
    # query since the one-file-per-bucket layout (the old many-sliver
    # layout accidentally inflated candidates via per-sliver top-c,
    # which silently flattered recall — this pins the honest setting)
    k = 5
    got = query_ivfpq_index(
        spark, index_path, _qs(emb), k=k, n_probe=4, rerank=emb,
        rerank_factor=8,
    )
    exact = brute_force_topk(_qs(emb), emb, k=k)
    a = {(r["qid"], r["vec_id"]) for r in got.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.8, f"recall@{k} = {recall}"


def test_probe_rerank_stored_matches_source(spark, emb, index_path):
    a = query_ivfpq_index(
        spark, index_path, _qs(emb), k=5, n_probe=4, rerank="stored"
    ).collect()
    b = query_ivfpq_index(
        spark, index_path, _qs(emb), k=5, n_probe=4, rerank=emb
    ).collect()
    assert {(r["qid"], r["vec_id"], r["rank"]) for r in a} == {
        (r["qid"], r["vec_id"], r["rank"]) for r in b
    }


def test_exact_limit_full_probe(spark, tmp_path):
    # n_codes >= corpus and n_probe = n_centroids: the index is lossless
    # and the probe is exhaustive -> identical to brute force
    emb = _emb(spark, n=14, dim=8, labels=14, noise=0.0, seed=2)
    path = str(tmp_path / "exact")
    build_ivfpq_index(
        emb, path, n_centroids=4, m_sub=2, n_codes=14, store_vectors=True
    )
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in query_ivfpq_index(
            spark, path, _qs(emb, 4), k=3, n_probe=4, rerank="stored"
        ).collect()
    }
    want = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(_qs(emb, 4), emb, k=3).collect()
    }
    assert got == want
