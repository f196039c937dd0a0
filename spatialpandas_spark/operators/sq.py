"""SQ8 scalar quantization for embedding columns — the standard 4x
memory point on the ANN curve between raw floats and PQ's 32x
(operators/pq.py). No reference analog: spatialpandas has no vector
surface; this is LLM-pipeline extension surface beside
operators/similarity.py.

Per-dimension affine quantization of the UNIT-NORMALIZED corpus:
``code_j = clip(floor((x_j - lo_j) / scale_j + 0.5), 0, 255)``
(round-half-up — the one-op SQL-replayable form) with
``scale_j = (hi_j - lo_j) / 255`` from a one-scan per-dimension
min/max. Asymmetric distance (ADC): queries stay float, corpus rows
dequantize to ``lo_j + code_j * scale_j`` inside the scan — recall is
far higher than symmetric code-vs-code comparison for the same bytes,
the same reason the PQ module scans ADC.

Spark shapes, all previously proven in this repo:

- **train**: one Arrow pass emits per-PARTITION min/max arrays (one
  row per partition), a dim-exploded groupBy reduces them — the
  collected state is 2·dim floats, never corpus rows;
- **encode**: Arrow-batched linear scan -> ``(vec_id, code binary)``
  (dim bytes per row) — the column a 100 TB deployment persists;
- **topk**: ``SQ8`` is the codec of the IVF-SQ8 index
  (operators/similarity_index.py) and ``sq8_topk`` that index's probe
  over a single bucket: collected queries, per-partition ADC scan +
  local top-k (the two-phase reducer shared with similarity.py via
  ``_group_topk`` — tie-break semantics cannot diverge), final window
  over the tiny survivor set only. No query x corpus pair table.

Correctness evidence (tests/test_sq.py): numpy replay twins for train/
encode/ADC (bit-identical sims — both sides run the same numpy ops in
the same order), dequantization error bound scale/2 per dim, recall@k
vs exact brute force on clustered data, null-vector pass-through.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from spatialpandas_spark.operators.similarity import (
    _encode_frame,
    _seq_pair_dot,
    _stack,
)


def _seq_normalize(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows with the norm computed as a SEQUENTIAL
    left-to-right fold (similarity.py ``_seq_dot`` discipline) — bit-
    identical to ``x / sqrt(list_dot_product(v, v))`` in the SQL
    oracle, where numpy's pairwise ``(X*X).sum`` would drift ~1 ulp.
    Zero rows stay zero."""
    n = np.sqrt(_seq_pair_dot(X, X))[:, None]
    return np.divide(X, n, out=np.zeros_like(X), where=n > 0)


def train_sq8(
    corpus: DataFrame, corpus_vec: str = "embedding"
) -> dict:
    """Per-dimension (lo, hi) over the unit-normalized corpus in one
    scan. Returns ``{"lo": [..], "hi": [..], "dim": d}`` — 2·dim
    floats, broadcast-sized by construction."""
    from collections.abc import Iterator

    import pandas as pd

    part_schema = StructType(
        [
            StructField("dim", IntegerType()),
            StructField("lo", DoubleType()),
            StructField("hi", DoubleType()),
        ]
    )
    c = corpus.select(
        F.col(corpus_vec).cast("array<double>").alias("__cv")
    ).filter(F.col("__cv").isNotNull())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo = hi = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _seq_normalize(_stack(pdf["__cv"]))
            bl, bh = X.min(0), X.max(0)
            lo = bl if lo is None else np.minimum(lo, bl)
            hi = bh if hi is None else np.maximum(hi, bh)
        if lo is not None:
            yield pd.DataFrame(
                {"dim": np.arange(len(lo)), "lo": lo, "hi": hi}
            )

    rows = (
        c.mapInPandas(run, part_schema)
        .groupBy("dim")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    return {
        "lo": [r["lo"] for r in rows],
        "hi": [r["hi"] for r in rows],
        "dim": len(rows),
    }


def _scales(params: dict) -> tuple[np.ndarray, np.ndarray]:
    lo = np.asarray(params["lo"], np.float64)
    hi = np.asarray(params["hi"], np.float64)
    scale = (hi - lo) / 255.0
    scale[scale == 0.0] = 1.0  # constant dim: every code is 0
    return lo, scale


def sq8_encode(
    corpus: DataFrame,
    params: dict,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Encode to ``(vec_id, code binary)`` — dim bytes per row (4x
    smaller than float32, 8x than the float64 transfer form). Null
    vectors get null codes."""
    lo, scale = _scales(params)
    dim = int(params["dim"])

    def encode(X):
        X = _seq_normalize(X)
        if X.shape[1] != dim:
            raise ValueError(f"vector dim {X.shape[1]} != params dim {dim}")
        # floor(x + 0.5) = round-half-UP: the form SQL replays exactly
        # (np.rint is half-even, which DuckDB cannot express as one op)
        return np.clip(
            np.floor((X - lo[None, :]) / scale[None, :] + 0.5), 0, 255
        ).astype(np.uint8)

    return _encode_frame(corpus, corpus_id, corpus_vec, encode)


def _params_json(params: dict) -> dict:
    """SQ8 params as JSON fields; floats round-trip via repr (exact for
    IEEE doubles), so a reload yields the EXACT quantizer."""
    return {
        "dim": int(params["dim"]),
        "lo": [repr(float(x)) for x in params["lo"]],
        "hi": [repr(float(x)) for x in params["hi"]],
    }


def _params_from_json(d: dict) -> dict:
    return {
        "dim": int(d["dim"]),
        "lo": [float(x) for x in d["lo"]],
        "hi": [float(x) for x in d["hi"]],
    }


def save_sq8(params: dict, path: str, filesystem=None) -> None:
    """Persist trained SQ8 params as a JSON sidecar via the object-store
    fs layer (same convention as the tokenizer/index sidecars): the
    reproducibility anchor — re-encoding and probing load the EXACT
    quantizer."""
    import json

    from spatialpandas_spark.sources import fs as _fs

    _fs.write_text(
        path,
        json.dumps({"format": "sq8", **_params_json(params)}),
        filesystem=filesystem,
    )


def load_sq8(path: str, filesystem=None) -> dict:
    """Params from :func:`save_sq8` output; rejects non-SQ8 sidecars
    loudly."""
    import json

    from spatialpandas_spark.sources import fs as _fs

    d = json.loads(_fs.read_text(path, filesystem=filesystem))
    if d.get("format") != "sq8":
        raise ValueError(f"not an SQ8 sidecar: {path}")
    return _params_from_json(d)


def sq8_topk(
    queries: DataFrame,
    codes: DataFrame,
    params: dict,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    max_collected_queries: int = 65536,
) -> DataFrame:
    """Approximate top-k by cosine against the SQ8 codes (ADC:
    dequantized corpus x float query): the IVF probe
    (``similarity_index._probe``) over a single bucket — per-partition
    scan + local top-k, final window over survivors. Above
    ``max_collected_queries`` queries it switches to the distributed
    pair-join formulation with the same dequantize + sequential-fold
    arithmetic per (query, code) pair. Query dims are validated against
    ``params['dim']``; an empty/all-null query side returns an empty
    frame with the declared schema. Columns out: (qid, vec_id, sim,
    rank)."""
    from spatialpandas_spark.operators.similarity_index import _probe

    return _probe(
        SQ8, params, queries, codes, k, query_id=query_id,
        query_vec=query_vec, max_collected_queries=max_collected_queries,
    )


class _SQ8Codec:
    """The SQ8 codec of the IVF index (operators/similarity_index.py owns
    build, probe, append and compaction). Model: the params dict
    ``{"dim", "lo", "hi"}``. Queries are sequential-fold normalized; rows
    dequantize to ``lo + code * scale``; a sim folds dims left to right
    (similarity.py ``_seq_dot`` discipline) — batch-shape-independent
    and bit-identical to a SQL fold, where np.dot's BLAS blocking would
    make sims depend on Arrow batch size."""

    kind = "ivfsq8"
    sidecar = "_ivfsq8.json"

    def train(self, corpus, corpus_id, corpus_vec):
        return train_sq8(corpus, corpus_vec=corpus_vec)

    def encode(self, corpus, params, corpus_id, corpus_vec):
        return sq8_encode(corpus, params, corpus_id, corpus_vec)

    def dump(self, params: dict) -> dict:
        return {"sq8": _params_json(params)}

    def load(self, meta: dict) -> dict:
        return {**meta, "sq8": _params_from_json(meta["sq8"])}

    def model(self, meta: dict) -> dict:
        return meta["sq8"]

    def dim(self, params: dict) -> int:
        return int(params["dim"])

    def queries(self, params: dict, Q: np.ndarray) -> np.ndarray:
        return _seq_normalize(Q)

    def rows(self, params: dict, C: np.ndarray) -> np.ndarray:
        if C.shape[1] != self.dim(params):
            raise ValueError(
                f"code width {C.shape[1]} != index dim {self.dim(params)}"
            )
        lo, scale = _scales(params)
        return lo[None, :] + C.astype(np.float64) * scale[None, :]

    def block(self, Qn: np.ndarray, X: np.ndarray) -> np.ndarray:
        """(queries x rows) ADC sims."""
        S = np.zeros((X.shape[0], Qn.shape[0]), dtype=np.float64)
        for j in range(X.shape[1]):
            S = S + X[:, j : j + 1] * Qn[None, :, j]
        return S.T

    def pair(self, Qn: np.ndarray, inv: np.ndarray, X: np.ndarray) -> np.ndarray:
        """ADC sim of row i against query ``inv[i]`` — the block scorer's
        fold, so a pair scores bit-identically on either path."""
        return _seq_pair_dot(X, Qn[inv])


SQ8 = _SQ8Codec()
