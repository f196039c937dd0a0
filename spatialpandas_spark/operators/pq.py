"""Product-quantization (PQ) approximate nearest neighbor — the memory
tier of the ANN stack (ref analog: spatialpandas has no vector surface;
this follows the published IVFADC design of Jégou, Douze & Schmid,
"Product quantization for nearest neighbor search", IEEE TPAMI 2011).

Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code is ``m_sub`` bytes (8 by default — 32x compression). The ADC
(asymmetric distance computation) scan reads ONLY the code column: each
query builds one small lookup table of size ``m_sub x n_codes`` on the
fly, and the approximate similarity of a corpus vector is a sum of
``m_sub`` table entries — pure memory-bandwidth-bound fancy indexing,
no float vector ever touched until the optional exact rerank of the
tiny candidate set.

Division of labor with the rest of the stack:
- ``train_pq``: bounded deterministic sample -> per-subspace k-means
  codebooks on the driver (the sample is a few MB regardless of corpus
  size; one TakeOrdered job, same shape as ``similarity._centroids``).
- ``pq_encode``: one Arrow-batched linear scan, corpus-side, fully
  distributed; emits a ``binary`` code column (m_sub bytes/row).
- ``PQ``: the codec of the IVF-PQ index (operators/similarity_index.py)
  — the per-query LUT and the block / pair ADC scorers. ``pq_topk`` is
  that index's probe over a single bucket: the two-phase partial-top-k
  shape of ``brute_force_topk`` plus an optional exact-cosine rerank of
  ``k * rerank_factor`` candidates per query.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from spatialpandas_spark.operators.similarity import (
    _encode_frame,
    _topk_rerank,
)

__all__ = ["train_pq", "pq_encode", "pq_topk", "pq_reconstruct_error"]


def _l2_normalize(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows; zero rows stay zero. PQ approximates the
    inner product, so normalizing corpus and queries makes ADC scores
    approximate cosine directly."""
    n = np.sqrt((X * X).sum(axis=1, keepdims=True))
    return np.divide(X, n, out=np.zeros_like(X), where=n > 0)


def train_pq(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 256,
    sample_n: int = 4096,
    iters: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: one k-means per subspace over a bounded,
    deterministic corpus sample.

    The sample is the ``sample_n`` rows with smallest md5(id) — the same
    reproducible TakeOrdered sample ``similarity._centroids`` uses, so
    training is a single tiny job no matter the corpus size, and two
    runs on the same data give identical codebooks (k-means init is the
    first ``n_codes`` sample rows in that order; Lloyd iterations are
    deterministic numpy). Empty clusters keep their previous codeword.

    Returns nested lists shaped (m_sub, n_codes_eff, dim // m_sub) —
    plain JSON-serializable floats so codebooks can live in an index
    sidecar. ``n_codes`` is capped at the sample size."""
    rows = (
        corpus.select(
            F.col(corpus_id).alias("i"),
            F.col(corpus_vec).cast("array<double>").alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq: corpus has no non-null vectors")
    X = _l2_normalize(np.asarray([list(r["v"]) for r in rows], dtype=np.float64))
    if X.shape[1] % m_sub != 0:
        raise ValueError(f"vector dim {X.shape[1]} not divisible by m_sub={m_sub}")
    sub = X.shape[1] // m_sub
    n_codes = min(n_codes, X.shape[0])
    books = []
    for j in range(m_sub):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[:n_codes].copy()
        for _ in range(iters):
            # (n, k) squared distances via expansion; argmin assignment
            d2 = (
                (S * S).sum(1)[:, None]
                - 2.0 * S @ C.T
                + (C * C).sum(1)[None, :]
            )
            assign = d2.argmin(1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(0)
        books.append(C.tolist())
    return books


def _books_array(codebooks) -> np.ndarray:
    B = np.asarray(codebooks, dtype=np.float64)
    if B.ndim != 3:
        raise ValueError("codebooks must be (m_sub, n_codes, sub_dim)")
    return B


def pq_encode(
    corpus: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Encode corpus vectors to PQ codes: one Arrow-batched linear scan,
    per subspace nearest codeword by L2 over the unit-normalized vector.

    Output: (vec_id, code binary) — ``m_sub`` bytes per row. This is the
    column a 100 TB deployment persists and scans; the float vectors are
    only re-read by the exact rerank. Null vectors get null codes."""
    B = _books_array(codebooks)
    m_sub, n_codes, sub = B.shape
    if n_codes > 256:
        raise ValueError("n_codes > 256 does not fit uint8 codes")
    cc2 = [(B[j] * B[j]).sum(1) for j in range(m_sub)]

    def encode(X):
        X = _l2_normalize(X)
        if X.shape[1] != m_sub * sub:
            raise ValueError(f"vector dim {X.shape[1]} != codebook dim {m_sub * sub}")
        out = np.empty((X.shape[0], m_sub), dtype=np.uint8)
        for j in range(m_sub):
            S = X[:, j * sub : (j + 1) * sub]
            out[:, j] = (-2.0 * S @ B[j].T + cc2[j][None, :]).argmin(1)
        return out

    return _encode_frame(corpus, corpus_id, corpus_vec, encode)


#: forced candidate-broadcast budget for the exact-rerank joins (guide
#: §3.1: a few hundred MB broadcast is fine, multiple GB is a driver
#: hazard, 8 GB is the hard cap)
_CAND_BROADCAST_CAP = 256 << 20


def _rerank_pairs(
    cand: DataFrame,
    qv: DataFrame,
    cv: DataFrame,
    n_cand: int,
    n_parts: int = 0,
    n_queries: int | None = None,
    dim: int = 0,
) -> DataFrame:
    """Attach query and corpus vectors to the ADC candidate set for the
    exact rerank, with a partition-safe join strategy (round-15 advice
    fix). The candidate set out of the Arrow scan is top-``n_cand`` per
    query PER PARTITION, so its true bound is ``n_parts x n_queries x
    n_cand`` — the explicit ``F.broadcast`` hint the round-14 fix added
    bypasses the planner's size checks, which at corpus scale (many scan
    partitions) would blow the 8 GB broadcast cap / driver memory. All
    three factors are KNOWN at query-construction time, so:

    - bound fits the budget (every bench/fixture scale): broadcast the
      per-partition candidate pool directly — plan and results identical
      to round 14 (the richer pool feeds the rerank, which is the
      documented approximate-candidate semantics the recall tests pin);
    - bound too big: reduce to the global per-query top-``n_cand`` first
      (``similarity._topk_rerank``: the same (sim desc, vec_id asc) order
      across partitions; ADC sims of a (query, code) pair do not depend
      on the partition that scored it, so the surviving set is
      deterministic) and broadcast that — now provably ``n_queries x
      n_cand`` rows;
    - even that exceeds the budget (huge collected query sets x wide
      vectors): leave the join strategy to the planner, which sees a
      small exchange it can size at runtime (AQE);
    - ``n_queries=None`` (the distributed fallback's oversized, uncounted
      query side): the plain planner join, never a broadcast.
    """
    plain = n_queries is None
    per_row = dim * 8 + 48  # query vector + ids/struct overhead
    if not plain and n_parts * n_queries * n_cand * per_row > _CAND_BROADCAST_CAP:
        cand = _topk_rerank(cand, n_cand)
        plain = n_queries * n_cand * per_row > _CAND_BROADCAST_CAP
    if plain:
        return (
            cand.select("qid", "vec_id")
            .join(qv, "qid")
            .join(cv, "vec_id")
            .select("qid", "vec_id", "__qv", "__cv")
        )
    return (
        F.broadcast(cand.select("qid", "vec_id").join(F.broadcast(qv), "qid"))
        .join(cv, "vec_id")
        .select("qid", "vec_id", "__qv", "__cv")
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    k: int = 10,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """ADC approximate top-k over a PQ code column: the IVF probe
    (``similarity_index._probe``) over a single bucket. Per partition,
    one fancy-indexing pass scores every (query, row) pair from the
    per-query ``m_sub x n_codes`` lookup tables and keeps the local top-c
    (``c = k * rerank_factor`` with ``rerank``, else ``k``); the final
    window ranks survivors only. With ``rerank`` the candidates are
    re-scored with exact cosine against the float vectors, so ``sim`` is
    exact and only the candidate CHOICE is approximate (the IVFADC
    refinement step). Above ``max_collected_queries`` the operator
    degrades to the distributed pair formulation instead of raising.
    Columns out: (qid, vec_id, sim, rank)."""
    from spatialpandas_spark.operators.similarity_index import _probe

    return _probe(
        PQ, _books_array(codebooks), queries, codes, k, rerank,
        rerank_factor, query_id, query_vec, corpus_id, corpus_vec,
        max_collected_queries,
    )


def pq_reconstruct_error(
    corpus: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Diagnostic: mean squared reconstruction error of the PQ codes over
    the (normalized) corpus — ONE row out. The number that tells an
    operator whether ``m_sub``/``n_codes`` are adequate before shipping
    an index build at scale."""
    from collections.abc import Iterator

    import pandas as pd

    B = _books_array(codebooks)
    m_sub, n_codes, sub = B.shape
    c = corpus.select(F.col(corpus_vec).cast("array<double>").alias("__cv"))
    cc2 = [(B[j] * B[j]).sum(1) for j in range(m_sub)]

    schema = StructType(
        [StructField("sse", DoubleType()), StructField("n", DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sse, n = 0.0, 0
        for pdf in batches:
            vals = pdf["__cv"].dropna()
            if len(vals) == 0:
                continue
            X = _l2_normalize(
                np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
            )
            for j in range(m_sub):
                S = X[:, j * sub : (j + 1) * sub]
                d2 = (S * S).sum(1)[:, None] - 2.0 * S @ B[j].T + cc2[j][None, :]
                sse += d2.min(1).clip(0).sum()
            n += X.shape[0]
        yield pd.DataFrame({"sse": [sse], "n": [float(n)]})

    parts = c.mapInPandas(run, schema)
    return parts.agg(
        (F.sum("sse") / F.sum("n")).alias("mse"),
        F.sum("n").cast("long").alias("n_vectors"),
    )


class _PQCodec:
    """The PQ codec of the IVF index (operators/similarity_index.py owns
    build, probe, append and compaction). Model: the codebook array
    ``B`` (m_sub, n_codes, sub_dim). Queries become per-query LUTs
    ``lut[q, j, c] = dot(Q[q] subspace j, codeword c)``; a row's ADC
    score is the sum of its ``m_sub`` table entries."""

    kind = "ivfpq"
    sidecar = "_ivfpq.json"

    def train(self, corpus, corpus_id, corpus_vec, m_sub=8, n_codes=256,
              sample_n=4096, pq_iters=8):
        return train_pq(corpus, m_sub, n_codes, sample_n, pq_iters,
                        corpus_id, corpus_vec)

    def encode(self, corpus, books, corpus_id, corpus_vec):
        return pq_encode(corpus, books, corpus_id, corpus_vec)

    def dump(self, books) -> dict:
        return {"codebooks": books, "m_sub": len(books)}

    def load(self, meta: dict) -> dict:
        return meta

    def model(self, meta: dict) -> np.ndarray:
        return _books_array(meta["codebooks"])

    def dim(self, B: np.ndarray) -> int:
        return B.shape[0] * B.shape[2]

    def queries(self, B: np.ndarray, Q: np.ndarray) -> np.ndarray:
        m_sub, _, sub = B.shape
        Qn = _l2_normalize(Q)
        return np.stack(
            [Qn[:, j * sub : (j + 1) * sub] @ B[j].T for j in range(m_sub)],
            axis=1,
        )

    def rows(self, B: np.ndarray, C: np.ndarray) -> np.ndarray:
        if C.shape[1] != B.shape[0]:
            raise ValueError(f"code width {C.shape[1]} != m_sub {B.shape[0]}")
        return C

    def block(self, lut: np.ndarray, C: np.ndarray) -> np.ndarray:
        """(queries x rows) ADC sims."""
        scores = np.zeros((lut.shape[0], C.shape[0]))
        for j in range(C.shape[1]):
            scores += lut[:, j, :][:, C[:, j]]
        return scores

    def pair(self, lut: np.ndarray, inv: np.ndarray, C: np.ndarray) -> np.ndarray:
        """ADC sim of row i against query ``inv[i]`` — the block scorer's
        additions in the same order, so a pair scores bit-identically."""
        scores = np.zeros(C.shape[0])
        for j in range(C.shape[1]):
            scores += lut[inv, j, C[:, j]]
        return scores


PQ = _PQCodec()
