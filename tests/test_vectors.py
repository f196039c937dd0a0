"""VectorFrame facade delegation + SQ8 sidecar round trip.

The facade has no logic of its own; the tests pin every method to the
corresponding operator call on small fixture data (the CorpusFrame
test discipline)."""

import numpy as np
import pytest

from spatialpandas_spark.vectors import VectorFrame


def _vecs(n=60, d=8, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (4, d))
    return centers[rng.integers(0, 4, n)] + rng.normal(0, 0.03, (n, d))


@pytest.fixture(scope="module")
def vf(spark):
    X = _vecs()
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    yield VectorFrame(df)
    df.unpersist()


@pytest.fixture(scope="module")
def queries(spark):
    Q = _vecs(n=4, seed=5)
    return spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(Q)],
        "qid long, qvec array<double>",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_topk_and_ivf_delegate(vf, queries):
    from spatialpandas_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    assert _rows(vf.topk(queries, k=5)) == _rows(
        brute_force_topk(queries, vf.df, k=5)
    )
    kw = dict(k=5, n_centroids=4, n_probe=2, kmeans_iters=0)
    assert _rows(vf.ivf_topk(queries, **kw)) == _rows(
        ivf_topk(queries, vf.df, **kw)
    )


def test_sq8_flow_and_sidecar(vf, queries, tmp_path):
    from spatialpandas_spark.operators.sq import (
        load_sq8,
        save_sq8,
        sq8_topk,
        train_sq8,
    )

    params = vf.train_sq8()
    assert params == train_sq8(vf.df)
    # sidecar round trip is EXACT (repr round trip of doubles)
    p = str(tmp_path / "sq8.json")
    save_sq8(params, p)
    assert load_sq8(p) == params
    with pytest.raises(ValueError):
        from spatialpandas_spark.operators.bpe import save_bpe

        save_bpe([("a", "b")], str(tmp_path / "b.json"))
        load_sq8(str(tmp_path / "b.json"))

    codes = vf.sq8_encode(params)
    assert _rows(vf.sq8_topk(queries, params, k=5)) == _rows(
        sq8_topk(queries, codes, params, k=5)
    )


def test_dedup_delegates(vf):
    from spatialpandas_spark.operators.semantic import semantic_dedup
    from spatialpandas_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    kw = dict(threshold=0.98, dim=8, bits=8, bands=2)
    assert _rows(vf.near_dup_pairs(**kw)) == _rows(
        embedding_near_dup_pairs(vf.df, **kw)
    )
    got = vf.semantic_dedup(threshold=0.98, n_clusters=4)
    want = semantic_dedup(vf.df, threshold=0.98, n_clusters=4)
    assert isinstance(got, VectorFrame)
    assert sorted(r["vec_id"] for r in got.df.collect()) == sorted(
        r["vec_id"] for r in want.collect()
    )
    # clustered fixture -> dedup actually removed rows
    assert got.count() < vf.count()


def test_package_export():
    import spatialpandas_spark as sp

    assert sp.VectorFrame is VectorFrame


def test_persistent_index_delegation(spark, tmp_path):
    """build_index/query_index == the direct operator calls, for each
    index kind; unknown kinds refused."""
    import numpy as np

    from spatialpandas_spark.operators.similarity_index import (
        build_ivfsq8_index,
        query_ivfsq8_index,
    )

    rng = np.random.default_rng(5)
    protos = rng.standard_normal((4, 8))
    lab = rng.integers(0, 4, 120)
    X = protos[lab] + 0.1 * rng.standard_normal((120, 8))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    from pyspark.sql import functions as F

    v = VectorFrame(df)
    qs = df.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    p1 = str(tmp_path / "facade")
    p2 = str(tmp_path / "direct")
    v.build_index(p1, kind="ivfsq8", n_centroids=4)
    build_ivfsq8_index(df, p2, n_centroids=4)
    a = sorted(
        map(tuple, v.query_index(p1, qs, kind="ivfsq8", k=3).collect())
    )
    b = sorted(map(tuple, query_ivfsq8_index(spark, p2, qs, k=3).collect()))
    assert a == b and len(a) == 9
    with pytest.raises(ValueError, match="kind"):
        v.build_index(str(tmp_path / "x"), kind="hnsw")
    with pytest.raises(ValueError, match="kind"):
        v.query_index(p1, qs, kind="hnsw")


def test_build_index_rejects_foreign_options(spark, tmp_path, monkeypatch):
    """Options the index kind does not take raise TypeError before any
    scan; the flat kind returns its centroid table."""
    import os

    from spatialpandas_spark.operators import similarity_index as si

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    v = VectorFrame(df)
    cents = v.build_index(str(tmp_path / "flat"), kind="ivf", n_centroids=2)
    assert isinstance(cents, list) and len(cents) == 2

    def no_scan(*a, **kw):
        raise AssertionError("scanned before the option check")

    monkeypatch.setattr(si, "_centroids", no_scan)
    for kind, kw in [
        ("ivf", {"store_vectors": True}),
        ("ivf", {"m_sub": 4}),
        ("ivfsq8", {"m_sub": 4}),
        ("ivfpq", {"bits": 4}),
    ]:
        path = str(tmp_path / f"bad_{kind}")
        with pytest.raises(TypeError):
            v.build_index(path, kind=kind, **kw)
        assert not os.path.exists(path)
