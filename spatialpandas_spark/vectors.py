"""VectorFrame: the embedding-side facade, completing the trio beside
``SpatialFrame`` (geometry) and ``CorpusFrame`` (text).

One object wraps (DataFrame, id column, vector column) and exposes the
similarity/dedup surface as chainable methods. Every method delegates
to the corresponding operator (each independently oracle-tested); the
facade adds no logic beyond column-name plumbing. ``df`` stays
accessible as ``.df`` at every step.

Typical flow::

    v = VectorFrame(spark.read.parquet(".../embeddings.parquet"))
    v.topk(queries, k=10)                      # exact brute force
    v.ivf_topk(queries, k=10, n_probe=4)       # bucketed scale path
    params = v.train_sq8()                     # 4x int8 codes
    codes = v.sq8_encode(params)
    v.build_index(path, kind="ivfsq8")         # persistent IVF index
    v.query_index(path, queries, kind="ivfsq8", rerank=v.df)
    clean = v.semantic_dedup(threshold=0.97)   # SemDeDup, chainable

The persistent index is one IVF index (operators/similarity_index.py)
whose bucket rows are flat float vectors (``kind='ivf'``) or codes of
the SQ8 (``'ivfsq8'``) or PQ (``'ivfpq'``) codec; ``build_index`` and
``query_index`` look the codec up in that module's kind table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class VectorFrame:
    """A DataFrame + (id column, vector column) pair with the
    similarity-search and embedding-dedup method surface."""

    def __init__(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.df = df
        self.id_col = id_col
        self.vec_col = vec_col

    def _wrap(self, df: DataFrame) -> "VectorFrame":
        return VectorFrame(df, self.id_col, self.vec_col)

    def count(self) -> int:
        return self.df.count()

    # ----------------------------------------------------------- search
    def topk(self, queries: DataFrame, k: int = 10, **kw) -> DataFrame:
        """Exact cosine top-k (two-phase brute force)."""
        from spatialpandas_spark.operators.similarity import brute_force_topk

        return brute_force_topk(
            queries, self.df, k=k,
            corpus_id=self.id_col, corpus_vec=self.vec_col, **kw
        )

    def ivf_topk(self, queries: DataFrame, k: int = 10, **kw) -> DataFrame:
        """IVF bucketed approximate top-k (probe-pruned scale path)."""
        from spatialpandas_spark.operators.similarity import ivf_topk

        return ivf_topk(
            queries, self.df, k=k,
            corpus_id=self.id_col, corpus_vec=self.vec_col, **kw
        )

    # ----------------------------------------------- quantization (SQ8)
    def train_sq8(self) -> dict:
        from spatialpandas_spark.operators.sq import train_sq8

        return train_sq8(self.df, corpus_vec=self.vec_col)

    def sq8_encode(self, params: dict) -> DataFrame:
        from spatialpandas_spark.operators.sq import sq8_encode

        return sq8_encode(
            self.df, params, corpus_id=self.id_col, corpus_vec=self.vec_col
        )

    def sq8_topk(
        self, queries: DataFrame, params: dict, codes: DataFrame | None = None,
        k: int = 10, **kw,
    ) -> DataFrame:
        """ADC top-k over SQ8 codes (encoded inline when ``codes`` is
        not supplied — pass pre-encoded codes in production)."""
        from spatialpandas_spark.operators.sq import sq8_topk

        if codes is None:
            codes = self.sq8_encode(params)
        return sq8_topk(queries, codes, params, k=k, **kw)

    # ------------------------------------------- persistent indexes
    def build_index(self, path: str, kind: str = "ivfsq8", **kw):
        """Build a persistent bucket-partitioned IVF index at ``path``.
        ``kind`` picks the codec of the bucket rows, i.e. the point on
        the bytes/recall curve: 'ivf' (flat float vectors, exact
        scores), 'ivfsq8' (int8 codes, 4-8x fewer probe bytes,
        near-float recall — the production default), 'ivfpq' (m_sub
        bytes, coarsest). Options the kind does not take raise TypeError
        before any scan. Returns the sidecar dict (centroids and codec
        params), or the centroid table for 'ivf'."""
        from spatialpandas_spark.operators import similarity_index as si

        return si._build(
            self.df, path, si._codec(kind), corpus_id=self.id_col,
            corpus_vec=self.vec_col, **kw
        )

    def query_index(
        self, path: str, queries: DataFrame, kind: str = "ivfsq8",
        k: int = 10, **kw,
    ) -> DataFrame:
        """Probe a persistent index built by :meth:`build_index` (the
        probed buckets become a static planning-time partition
        filter). Pass ``rerank=self.df`` for exact-cosine rerank
        against this frame (codec kinds)."""
        from spatialpandas_spark.operators import similarity_index as si

        codec = si._codec(kind)
        spark = self.df.sparkSession
        if codec is None:
            return si.query_ivf_index(spark, path, queries, k=k, **kw)
        return si._query(spark, path, codec, queries, k=k, **kw)

    # ------------------------------------------------------------ dedup
    def near_dup_pairs(self, threshold: float = 0.95, **kw) -> DataFrame:
        """RP-banded cosine near-duplicate candidate pairs."""
        from spatialpandas_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        return embedding_near_dup_pairs(
            self.df, threshold=threshold,
            id_col=self.id_col, vec_col=self.vec_col, **kw
        )

    def semantic_dedup(self, threshold: float = 0.95, **kw) -> "VectorFrame":
        """SemDeDup: keep one row per semantic-duplicate cluster
        (smallest id — the dedup family's survivor rule). Chainable."""
        from spatialpandas_spark.operators.semantic import semantic_dedup

        return self._wrap(
            semantic_dedup(
                self.df, threshold=threshold,
                id_col=self.id_col, vec_col=self.vec_col, **kw
            )
        )
