"""Persistent IVF-SQ8 index: the codec-shared index cases
(tests/ivf_codec_cases.py) on the SQ8 codec, plus the SQ8-specific
sidecar exact round-trip, full-probe equivalence to the one-shot SQ8
operator, recall with the three rerank modes and the probe tie-break
contract."""

import numpy as np
import pytest

from spatialpandas_spark.operators.similarity import brute_force_topk
from spatialpandas_spark.operators.similarity_index import (
    _rank_probes_seq,
    load_ivfsq8_meta,
    query_ivfsq8_index,
)
from spatialpandas_spark.operators.sq import sq8_encode, sq8_topk, train_sq8
from tests.ivf_codec_cases import *  # noqa: F403 - the shared cases
from tests.ivf_codec_cases import _qs, _rows


@pytest.fixture(scope="module")
def kind():
    return "ivfsq8"


def test_sidecar_params_exact_roundtrip(spark, emb, index_path):
    # repr round-trip: the sidecar params ARE the trained params bit
    # for bit — re-probing loads the exact quantizer
    params = train_sq8(emb)
    meta = load_ivfsq8_meta(index_path)
    assert meta["sq8"]["lo"] == params["lo"]
    assert meta["sq8"]["hi"] == params["hi"]


def test_full_probe_equals_one_shot_sq8(spark, emb, index_path):
    """n_probe = n_centroids (scan everything): the index probe must be
    ROW-IDENTICAL to the one-shot sq8 operator over the same corpus —
    the composition adds pruning, never different arithmetic."""
    params = train_sq8(emb)
    codes = sq8_encode(emb, params)
    want = _rows(sq8_topk(_qs(emb), codes, params, k=5))
    got = _rows(
        query_ivfsq8_index(spark, index_path, _qs(emb), k=5, n_probe=8)
    )
    assert got == want and len(got) == 30


def test_rerank_modes_and_recall(spark, emb, index_path):
    bf = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(_qs(emb), emb, k=5).collect()
    }

    def recall(df):
        got = {(r["qid"], r["vec_id"]) for r in df.collect()}
        return len(got & bf) / len(bf)

    adc = query_ivfsq8_index(spark, index_path, _qs(emb), k=5, n_probe=4)
    src = query_ivfsq8_index(
        spark, index_path, _qs(emb), k=5, n_probe=4, rerank=emb
    )
    sto = query_ivfsq8_index(
        spark, index_path, _qs(emb), k=5, n_probe=4, rerank="stored"
    )
    # clustered data at n_probe=4/8: the pruning caps recall (probe
    # covers half the buckets); SQ8's int8 ADC should cost little on
    # top, and the exact rerank should recover ties the codes blur
    r_adc, r_src = recall(adc), recall(src)
    assert r_adc >= 0.8, f"ADC recall {r_adc}"
    assert r_src >= r_adc >= 0.8, f"rerank recall {r_src}"
    assert _rows(sto) == _rows(src)


def test_probe_tiebreak_prefers_higher_index():
    """Duplicate centroids tie exactly: the probe order must pick the
    HIGHER centroid index first (sort_array desc struct semantics — the
    contract the SQL oracle replays as ORDER BY cos DESC, ci DESC)."""
    C = np.asarray(
        [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.5, 0.5]], dtype=np.float64
    )
    Q = np.asarray([[2.0, 0.0]], dtype=np.float64)
    order = _rank_probes_seq(Q, C, 3)[0].tolist()
    assert order[:2] == [2, 0]  # the tied pair, higher index first
