"""SQ8 scalar quantization (operators/sq.py) vs numpy replay twins.

train/encode are pinned EXACTLY against the closed-form numpy replay;
the ADC top-k sims are pinned EXACTLY against a sequential-fold twin
(the operator folds dims left-to-right, similarity.py _seq_dot
discipline, so sims are batch-shape-independent and replayable). Plus the dequantization error bound, recall@k against
exact brute force on clustered data, and null-vector pass-through.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.sq import _seq_normalize
from spatialpandas_spark.operators.sq import (
    _scales,
    sq8_encode,
    sq8_topk,
    train_sq8,
)

D, N = 12, 400


def _vectors(seed=3, n=N):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (8, D))
    X = centers[rng.integers(0, 8, n)] + rng.normal(0, 0.05, (n, D))
    return X


@pytest.fixture(scope="module")
def corpus(spark):
    X = _vectors()
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(5).cache()
    df.count()
    yield X, df
    df.unpersist()


def test_train_matches_numpy(corpus):
    X, df = corpus
    params = train_sq8(df)
    Xn = _seq_normalize(X)
    assert params["dim"] == D
    assert np.array_equal(params["lo"], Xn.min(0))
    assert np.array_equal(params["hi"], Xn.max(0))


def test_encode_matches_numpy_and_error_bound(corpus):
    X, df = corpus
    params = train_sq8(df)
    lo, scale = _scales(params)
    got = {
        r["vec_id"]: np.frombuffer(r["code"], np.uint8)
        for r in sq8_encode(df, params).collect()
    }
    Xn = _seq_normalize(X)
    want = np.clip(
        np.floor((Xn - lo[None, :]) / scale[None, :] + 0.5), 0, 255
    ).astype(np.uint8)
    assert all(np.array_equal(got[i], want[i]) for i in range(N))
    # dequantization error <= scale/2 per dim (round-to-nearest, and
    # every in-corpus value lies inside [lo, hi] by construction)
    deq = lo[None, :] + want.astype(np.float64) * scale[None, :]
    assert (np.abs(deq - Xn) <= scale[None, :] / 2 + 1e-12).all()


def test_topk_matches_numpy_adc_replay(spark, corpus):
    X, df = corpus
    params = train_sq8(df)
    lo, scale = _scales(params)
    codes = sq8_encode(df, params).cache()
    codes.count()
    Qraw = _vectors(seed=99, n=7)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(Qraw)],
        "qid long, qvec array<double>",
    )
    k = 10
    got = {
        (r["qid"], r["rank"]): (r["vec_id"], r["sim"])
        for r in sq8_topk(queries, codes, params, k=k).collect()
    }
    codes.unpersist()

    Xn = _seq_normalize(X)
    C = np.clip(
        np.floor((Xn - lo[None, :]) / scale[None, :] + 0.5), 0, 255
    ).astype(np.uint8)
    Xhat = lo[None, :] + C.astype(np.float64) * scale[None, :]
    Qn = _seq_normalize(Qraw)
    S = np.zeros((N, 7))
    for j in range(D):
        S = S + Xhat[:, j : j + 1] * Qn[None, :, j]
    assert len(got) == 7 * k
    for qi in range(7):
        order = np.lexsort((np.arange(N), -S[:, qi]))[:k]
        for rank, vid in enumerate(order, start=1):
            gvid, gsim = got[(qi, rank)]
            assert gvid == vid, (qi, rank)
            assert gsim == S[vid, qi]  # bit-exact: same sequential fold


def test_recall_vs_exact_brute_force(spark, corpus):
    from spatialpandas_spark.operators.similarity import brute_force_topk

    X, df = corpus
    params = train_sq8(df)
    codes = sq8_encode(df, params)
    Qraw = _vectors(seed=7, n=5)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(Qraw)],
        "qid long, qvec array<double>",
    )
    k = 10
    approx = {
        (r["qid"], r["vec_id"])
        for r in sq8_topk(queries, codes, params, k=k).collect()
    }
    exact = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(queries, df, k=k).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_null_vectors_pass_through(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    params = train_sq8(df)
    rows = {r["vec_id"]: r["code"] for r in sq8_encode(df, params).collect()}
    assert rows[1] is None and rows[0] is not None
    q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, qvec array<double>")
    out = sq8_topk(q, sq8_encode(df, params), params, k=5).collect()
    assert sorted(r["vec_id"] for r in out) == [0, 2]  # null row skipped


def test_oversized_query_fallback_row_identity(spark, corpus):
    # above max_collected_queries the operator must switch to the
    # distributed pair-join formulation with IDENTICAL rows (the
    # brute_force_topk fallback discipline), not raise
    X, df = corpus
    params = train_sq8(df)
    codes = sq8_encode(df, params).cache()
    codes.count()
    Qraw = _vectors(seed=7, n=9)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(Qraw)],
        "qid long, qvec array<double>",
    )
    collected = sq8_topk(queries, codes, params, k=4)
    fallback = sq8_topk(
        queries, codes, params, k=4, max_collected_queries=3
    )
    key = lambda r: (r["qid"], r["rank"])
    a = sorted(map(tuple, collected.collect()), key=lambda t: (t[0], t[3]))
    b = sorted(map(tuple, fallback.collect()), key=lambda t: (t[0], t[3]))
    assert a == b
    codes.unpersist()


@pytest.mark.parametrize("path", ["collected", "distributed"])
@pytest.mark.parametrize("codec", ["sq8", "pq"])
def test_query_dim_mismatch_raises(spark, corpus, codec, path):
    """One dim check for both codecs on both paths. A 2*D-dim query is a
    multiple of PQ's m_sub, so PQ once scored its first D dims and
    returned rows."""
    from spatialpandas_spark.operators.pq import pq_encode, pq_topk, train_pq

    X, df = corpus
    if codec == "sq8":
        params = train_sq8(df)
        codes = sq8_encode(df, params)
        topk = lambda q, **kw: sq8_topk(q, codes, params, k=3, **kw)
    else:
        books = train_pq(df, m_sub=4, n_codes=16, iters=2)
        codes = pq_encode(df, books)
        topk = lambda q, **kw: pq_topk(q, codes, books, k=3, **kw)
    kw = {"max_collected_queries": 0} if path == "distributed" else {}
    wide = spark.createDataFrame(
        [(0, [0.1] * (2 * D))], "qid long, qvec array<double>"
    )
    # raises driver-side, on the collected (or sampled) query rows
    with pytest.raises(ValueError, match=f"query vector dim {2 * D} != index dim {D}"):
        topk(wide, **kw)
    if path == "distributed":
        # a wide row past the sampled one: the executor's pair scan raises
        ragged = spark.createDataFrame(
            [(0, [0.1] * D), (1, [0.1] * (2 * D))],
            "qid long, qvec array<double>",
        )
        with pytest.raises(Exception, match=f"query vector dim {2 * D} != index dim {D}"):
            topk(ragged, **kw).collect()


def test_empty_query_side_returns_empty_frame(spark, corpus):
    X, df = corpus
    params = train_sq8(df)
    codes = sq8_encode(df, params)
    none = spark.createDataFrame(
        [(1, None)], "qid long, qvec array<double>"
    )
    out = sq8_topk(none, codes, params, k=3)
    assert out.columns == ["qid", "vec_id", "sim", "rank"]
    assert out.count() == 0
