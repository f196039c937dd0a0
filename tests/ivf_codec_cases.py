"""Index tests shared by the SQ8 and PQ codecs of the IVF index
(operators/similarity_index.py): sidecar + layout, static partition
pruning in the probe plan, the ``vec`` column pruned from the ADC scan,
the ranking window over survivors only, ``rerank='stored'`` requiring
stored vectors, empty/dim/rerank-mode validation, the distributed
fallback's row identity and static pruning, and append + compaction
(including a failed sidecar copy leaving the live index intact).

Not collected on its own: ``tests/test_sq_index.py`` and
``tests/test_pq_index.py`` import every case and bind the codec with a
module-level ``kind`` fixture, so each case runs once per codec under
that module's node ids.
"""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators import similarity_index as si

__all__ = [
    "emb",
    "index_path",
    "test_sidecar_and_layout",
    "test_probe_static_partition_pruning",
    "test_adc_probe_prunes_vec_column",
    "test_probe_window_over_survivors_only",
    "test_stored_rerank_requires_vectors",
    "test_empty_and_dim_validation",
    "test_query_fallback_row_identical",
    "test_query_fallback_keeps_static_pruning",
    "test_compact_after_appends",
    "test_compact_sidecar_failure_keeps_live_index",
]

#: small-model build options per codec (PQ: 4 sub-spaces of 4 dims)
_CODEC_KW = {"ivfpq": {"m_sub": 4, "n_codes": 32}, "ivfsq8": {}}


def _emb(spark, n=240, dim=16, labels=6, noise=0.15, seed=9):
    rng = np.random.default_rng(seed)
    protos = rng.standard_normal((labels, dim))
    lab = rng.integers(0, labels, n)
    X = protos[lab] + noise * rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def _qs(emb, n=6):
    return emb.limit(n).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _rows(df):
    return sorted(
        (r["qid"], r["rank"], r["vec_id"], r["sim"]) for r in df.collect()
    )


def build(kind, corpus, path, **kw):
    fn = getattr(si, f"build_{kind}_index")
    return fn(corpus, path, **{**_CODEC_KW[kind], **kw})


def query(kind, spark, path, queries, **kw):
    return getattr(si, f"query_{kind}_index")(spark, path, queries, **kw)


def load_meta(kind, path):
    return getattr(si, f"load_{kind}_meta")(path)


@pytest.fixture(scope="module")
def emb(spark):
    df = _emb(spark)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def index_path(spark, kind, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp(kind) / "index")
    build(kind, emb, path, n_centroids=8, store_vectors=True)
    return path


def test_sidecar_and_layout(kind, index_path):
    assert os.path.exists(f"{index_path}/_{kind}.json")
    meta = load_meta(kind, index_path)
    assert meta["store_vectors"] is True
    assert len(meta["centroids"]) == 8
    if kind == "ivfpq":
        assert meta["m_sub"] == 4
        assert np.asarray(meta["codebooks"]).shape == (4, 32, 4)
    else:
        assert meta["sq8"]["dim"] == 16
        assert len(meta["sq8"]["lo"]) == len(meta["sq8"]["hi"]) == 16
    dirs = [d for d in os.listdir(index_path) if d.startswith("bucket=")]
    assert len(dirs) >= 2


def test_probe_static_partition_pruning(spark, kind, emb, index_path):
    from spatialpandas_spark.plans.inspect import physical_plan

    out = query(kind, spark, index_path, _qs(emb), k=5, n_probe=2)
    plan = physical_plan(out)
    # the probe set is computed driver-side, so the filter is STATIC —
    # a planning-time bucket IN-list on the index scan
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan


def test_adc_probe_prunes_vec_column(spark, kind, emb, index_path):
    """With rerank=None the probe must not read the stored float
    vectors: the index scan's ReadSchema carries only vec_id + code —
    the codec's byte win is visible in the plan, not just the
    docstring."""
    from spatialpandas_spark.plans.inspect import physical_plan

    out = query(kind, spark, index_path, _qs(emb), k=5, n_probe=2)
    plan = physical_plan(out)
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan, plan
    assert "vec_id" in scan[0] and "code" in scan[0], scan[0]
    assert not re.search(r"ReadSchema:[^\n]*\bvec\b[^_]", scan[0]), scan[0]


def test_probe_window_over_survivors_only(spark, kind, emb, index_path):
    """The final ranking window must sit ABOVE the Arrow partial-top-k
    (MapInPandas), never over the raw candidate volume."""
    from spatialpandas_spark.plans.inspect import physical_plan

    out = query(kind, spark, index_path, _qs(emb), k=5, n_probe=2)
    plan = physical_plan(out)
    assert plan.index("Window") < plan.index("MapInPandas"), plan


def test_stored_rerank_requires_vectors(spark, kind, emb, tmp_path):
    path = str(tmp_path / "novec")
    build(kind, emb, path, n_centroids=4,
          **({"n_codes": 16} if kind == "ivfpq" else {}))
    with pytest.raises(ValueError, match="store_vectors"):
        query(kind, spark, path, _qs(emb), rerank="stored")


def test_empty_and_dim_validation(spark, kind, emb, index_path):
    none = spark.createDataFrame([(1, None)], "qid long, qvec array<double>")
    out = query(kind, spark, index_path, none, k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "vec_id", "sim", "rank"]
    # 32 dims: a multiple of PQ's m_sub, which once scored only a prefix
    wide = spark.createDataFrame(
        [(0, [0.1] * 32)], "qid long, qvec array<double>"
    )
    for mc in (10_000, 0):  # collected and distributed paths
        with pytest.raises(ValueError, match="query vector dim 32 != index dim 16"):
            query(kind, spark, index_path, wide, k=3, max_collected_queries=mc)
    with pytest.raises(ValueError, match="rerank"):
        query(kind, spark, index_path, _qs(emb), k=3, rerank="nope")


def test_query_fallback_row_identical(spark, kind, emb, index_path):
    """Above max_collected_queries the probe must DEGRADE to the
    distributed formulation (probe-assignment Arrow pass + bucket
    equi-join), not raise — identical rows on both sides of the
    boundary for ADC-only, source-rerank and stored-rerank modes. SQ8
    sims are bit-identical; PQ's LUT is a per-batch matmul, so its ADC
    sims may differ in the last ulp."""
    k = 4 if kind == "ivfpq" else 5
    for rr in (None, emb, "stored"):
        fast = _rows(query(kind, spark, index_path, _qs(emb), k=k, n_probe=3,
                           rerank=rr))
        dist = _rows(query(kind, spark, index_path, _qs(emb), k=k, n_probe=3,
                           rerank=rr, max_collected_queries=2))
        assert [r[:3] for r in fast] == [r[:3] for r in dist], rr
        if kind == "ivfsq8":
            assert fast == dist, rr
        for a, b in zip(fast, dist):
            assert a[3] == pytest.approx(b[3], abs=1e-12)


def test_query_fallback_keeps_static_pruning(spark, kind, emb, index_path):
    """The distributed fallback still pushes the probed-bucket set as a
    static partition filter (the <=n_centroids distinct-bucket collect)."""
    from spatialpandas_spark.plans.inspect import physical_plan

    out = query(kind, spark, index_path, _qs(emb, 6), k=4, n_probe=2,
                max_collected_queries=2)
    plan = physical_plan(out)
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan


#: each codec keeps the append scenario of its former own test: the base
#: corpus (None = the module corpus, else (rows, seed)); the appended
#: batches as (seed, rows, vec_id offset), whose seeds draw other
#: prototypes, i.e. drifted data; whether the probe queries are appended
#: rows (then checked for a rank-1 self-match) or base rows; and k
_CHURN = {
    "ivfsq8": (None, [(77, 40, 1000)], True, 3),
    "ivfpq": ((80, 21), [(s, 20, 1000 * s) for s in (31, 32, 33)], False, 5),
}


def test_compact_after_appends(spark, kind, emb, tmp_path):
    """Drifted appends under the pinned model, then compaction, with the
    default candidate pool: appended rows are probeable (SQ8: exact
    rank-1 self-match after the stored rerank), and the stored-rerank
    rows, the row count and the sidecar survive the repack."""
    from spatialpandas_spark.sources import fs as _fs

    path = str(tmp_path / "churn")
    base_spec, batches, probe_appended, k = _CHURN[kind]
    base = emb if base_spec is None else _emb(spark, n=base_spec[0],
                                              seed=base_spec[1])
    build(kind, base, path, n_centroids=4, store_vectors=True,
          **({"n_codes": 16} if kind == "ivfpq" else {}))
    for seed, n, off in batches:
        extra = _emb(spark, n=n, seed=seed).select(
            (F.col("vec_id") + off).alias("vec_id"), "embedding"
        )
        getattr(si, f"append_to_{kind}_index")(extra, path)
    n_rows = spark.read.parquet(path).count()
    assert n_rows == base.count() + sum(n for _, n, _ in batches)
    assert len(_fs.list_files(path, ".parquet", recursive=True)) > 4
    qs = _qs(extra, 2) if probe_appended else _qs(base, 4)
    kw = dict(k=k, n_probe=4, rerank="stored")
    before = _rows(query(kind, spark, path, qs, **kw))
    if probe_appended:
        top = {(q, r): v for q, r, v, _ in before}
        first = batches[-1][2]
        for qid in (first, first + 1):
            assert top[(qid, 1)] == qid  # exact self-match after rerank
    meta = load_meta(kind, path)

    n_files = si.compact_vector_index(spark, path)
    assert n_files is not None and n_files <= 4
    assert spark.read.parquet(path).count() == n_rows
    assert load_meta(kind, path) == meta  # sidecar survived the swap
    assert _rows(query(kind, spark, path, qs, **kw)) == before
    # already compact -> no-op
    assert si.compact_vector_index(spark, path) is None


def test_compact_sidecar_failure_keeps_live_index(spark, kind, tmp_path,
                                                  monkeypatch):
    """A failed sidecar copy must abort compaction BEFORE the swap: the
    staged directory has no model, so moving it over the live index
    would leave that index unreadable."""
    from spatialpandas_spark.sources import fs as _fs

    path = str(tmp_path / "idx")
    emb = _emb(spark, n=80, seed=21)
    build(kind, emb, path, n_centroids=4)
    before = _rows(query(kind, spark, path, _qs(emb, 3), k=3, n_probe=4))
    write_text = _fs.write_text

    def failing(p, *a, **kw):
        if p.endswith(f"_{kind}.json") and ".compact.tmp" in p:
            raise OSError("disk full")
        return write_text(p, *a, **kw)

    monkeypatch.setattr(_fs, "write_text", failing)
    with pytest.raises(OSError, match="disk full"):
        si.compact_vector_index(spark, path, min_files=0)
    monkeypatch.undo()
    after = _rows(query(kind, spark, path, _qs(emb, 3), k=3, n_probe=4))
    assert after == before
