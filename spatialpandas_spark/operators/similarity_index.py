"""Persistent IVF index: build once, query many — the production ANN shape.

``ivf_topk`` (operators/similarity.py) recomputes centroid assignments on
every call; real serving workloads amortize that: ``build_ivf_index``
writes the corpus parquet **partitioned by bucket id** (one directory per
IVF bucket) with the centroid table as a JSON sidecar, and
``query_ivf_index`` probes only the n_probe bucket directories its
queries need — Spark's partition pruning turns the probe into a scan of
n_probe/n_centroids of the data, verifiable in the plan's
``PartitionFilters``. This is the same stats-driven-pruning philosophy as
the spatial manifest (SURVEY §2.9): the "index" is layout + metadata, not
a server-side structure.

One index, three encodings of the bucket rows. The flat index stores the
float vectors and probes with exact SQL cosines. The SQ8 and PQ codecs
(``SQ8`` in operators/sq.py, ``PQ`` in operators/pq.py) store a ``code``
column and score it by ADC — the IVFADC design of Jégou, Douze & Schmid
(TPAMI 2011), minus the residual encoding, so codes are shared with the
one-shot ``sq8_topk``/``pq_topk``. IVF pruning bounds WHICH bytes a probe
reads (n_probe/n_centroids of the corpus); the codec bounds HOW MANY
bytes per row (dim int8 codes for SQ8, m_sub bytes for PQ). A codec owns
only what differs — train, encode, its sidecar fields, its dim and a
block and a pair scorer — and build, append, probe, the distributed
fallback, rerank and compaction below are written once, parameterized by
it. ``sq8_topk`` and ``pq_topk`` are the single-bucket case of the probe.
"""

from __future__ import annotations

import inspect
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from spatialpandas_spark.operators.pq import PQ, _rerank_pairs
from spatialpandas_spark.operators.similarity import (
    _centroid_sims,
    _centroids,
    _group_topk,
    _seq_dot,
    _seq_pair_dot,
    _stack,
    _topk_rerank,
    _with_centroids,
    bucket_assign_arrow,
    kmeans_refine,
    pair_cosine_arrow,
)
from spatialpandas_spark.operators.sq import SQ8
from spatialpandas_spark.sources import fs as _fs

_SIDECAR = "_ivf_centroids.json"

#: index kind -> codec; the flat float index has none
_CODECS = {"ivf": None, "ivfsq8": SQ8, "ivfpq": PQ}


def _codec(kind: str):
    if kind not in _CODECS:
        raise ValueError(f"unknown index kind {kind!r}")
    return _CODECS[kind]


# ------------------------------------------------------ build / append / meta


def _sidecar_path(path: str, codec) -> str:
    return f"{path.rstrip('/')}/{codec.sidecar if codec else _SIDECAR}"


def _load_meta(path: str, codec, filesystem=None) -> dict:
    meta = json.loads(
        _fs.read_text(_sidecar_path(path, codec), filesystem=filesystem)
    )
    return codec.load(meta) if codec else meta


def _write(corpus, path, cents, codec, model, store_vectors, corpus_id,
           corpus_vec, mode) -> None:
    """Bucket-assign (max-cosine centroid) and, with a codec, encode the
    corpus, then write it partitioned by ``bucket``."""
    # null vectors are unindexable — drop at the boundary (documented)
    rows = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        cents,
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    if codec:
        codes = codec.encode(corpus, model, corpus_id, corpus_vec)
        rows = rows.join(codes, "vec_id").select(
            "vec_id", "bucket", "code", *(["vec"] if store_vectors else [])
        )
    # one file per bucket dir (same small-files lesson as the dedup
    # index): without this, every writing task emits a sliver into every
    # bucket dir and the probe pays per-file open cost 32x over. Row
    # groups keep single files splittable for big buckets at scale. An
    # append adds one file per touched bucket; compact_vector_index
    # repacks the churn.
    rows.repartition("bucket").write.mode(mode).partitionBy("bucket").parquet(
        path
    )


def _check_options(codec, store_vectors, train_kw: dict) -> None:
    """Reject build options the index kind does not take, before any
    scan: the flat index has no codec options and always stores its
    vectors; a codec takes the keywords of its ``train``."""
    if codec is None:
        given = sorted(train_kw)
        if store_vectors is not None:
            given.append("store_vectors")
        if given:
            raise TypeError(f"the flat index takes no codec options: {given}")
        return
    try:
        inspect.signature(codec.train).bind(None, None, None, **train_kw)
    except TypeError as e:
        raise TypeError(f"build_{codec.kind}_index: {e}") from None


def _build(corpus, path, codec, n_centroids=16, kmeans_iters=2,
           store_vectors=None, corpus_id="vec_id", corpus_vec="embedding",
           **train_kw):
    """Centroids (+ codec model) -> partitioned write -> sidecar. Returns
    the sidecar dict, or the flat index's centroid table."""
    _check_options(codec, store_vectors, train_kw)
    cents = _centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if kmeans_iters > 0:
        cents = kmeans_refine(corpus, cents, kmeans_iters, corpus_id, corpus_vec)
    meta, model = {"centroids": cents}, None
    if codec:
        model = codec.train(corpus, corpus_id, corpus_vec, **train_kw)
        meta.update(codec.dump(model), store_vectors=bool(store_vectors))
    _write(corpus, path, cents, codec, model, store_vectors, corpus_id,
           corpus_vec, "overwrite")
    # sidecar AFTER the data write so a readable index is always complete;
    # pyarrow-fs layer so object-store index paths work (S6)
    _fs.write_text(_sidecar_path(path, codec), json.dumps(meta))
    return codec.load(meta) if codec else cents


def _append(corpus, path, codec, corpus_id, corpus_vec) -> None:
    """Append under the index's PINNED centroids and codec model (one
    scan + one partitioned append; the sidecar is untouched, so readers
    never see a half-updated model)."""
    meta = _load_meta(path, codec)
    _write(corpus, path, meta["centroids"], codec, codec.model(meta),
           meta.get("store_vectors"), corpus_id, corpus_vec, "append")


# ------------------------------------------------------------- flat index


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[float]]:
    """Assign every corpus vector to its max-cosine centroid and write
    ``path`` partitioned by ``bucket``; centroids go to a JSON sidecar.
    Returns the centroid table. One corpus scan + one partitioned write.
    ``kmeans_iters=2`` (default) spends two extra build-time scans on
    spherical-k-means centroid refinement — the quality default; pass 0
    for the deterministic md5-sample path (exact SQL twin, used by the
    correctness gate). See ``ivf_topk`` for measured recall expectations
    on clustered vs isotropic data."""
    return _build(corpus, path, None, n_centroids, kmeans_iters,
                  corpus_id=corpus_id, corpus_vec=corpus_vec)


def load_ivf_centroids(path: str, filesystem=None) -> list[list[float]]:
    return _load_meta(path, None, filesystem)["centroids"]


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
) -> DataFrame:
    """Top-k by cosine over the union of each query's ``n_probe`` closest
    buckets. The bucket filter is a plain equality on the partition
    column, so Spark prunes unprobed directories at planning time.
    Scores are exact float cosines (the SQL-probe twin of the gate).
    Columns out: (qid, vec_id, sim, rank)."""
    cents = load_ivf_centroids(path)
    q = _with_centroids(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        ).filter(F.col("__qv").isNotNull()),
        cents,
    )
    sims = _centroid_sims(F.col("__qv"))
    ranked = F.sort_array(
        F.zip_with(
            sims,
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        ),
        asc=False,
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    q = q.withColumn("bucket", F.explode(probes)).drop("__cents")

    idx = spark.read.parquet(path)
    # pairs unique by construction (one bucket per indexed vector,
    # distinct probe buckets per query) — no dedup shuffle; Arrow pair
    # cosine + two-phase partial-top-k rerank
    cand = F.broadcast(q).join(idx, "bucket").select(
        "qid", "vec_id", "__qv", F.col("vec").alias("__cv")
    )
    return _topk_rerank(pair_cosine_arrow(cand), k)


# ---------------------------------------------------------- the codec probe


def _check_dim(q_dims, dim: int) -> None:
    """THE query-dim check of every codec probe: a longer query would
    otherwise score a truncated prefix (PQ's LUT reads only the first
    m_sub * sub_dim dims), a shorter one fail deep inside numpy."""
    bad = sorted(set(q_dims) - {dim})
    if bad:
        raise ValueError(f"query vector dim {bad[0]} != index dim {dim}")


def _codes(col) -> np.ndarray:
    """A binary code column as a (rows, code width) uint8 matrix."""
    return np.frombuffer(
        b"".join(bytes(b) for b in col), dtype=np.uint8
    ).reshape(len(col), -1)


def _rank_probes_seq(Q, C, n_probe: int):
    """(n_queries, n_probe) centroid indices by raw cosine DESC with
    ties to the HIGHER index — the probe contract of
    ``query_ivf_index``'s ``sort_array(desc)`` over (sim, index)
    structs and of the gate's ``ORDER BY cos DESC, ci DESC`` replay.
    Cosines use the sequential-fold dot and the
    ``dot / (sqrt(qq) * sqrt(cc))`` op order of the SQL ``cos()`` macro
    — bit-identical, so probe sets can't diverge on near-ties."""
    qn = np.sqrt(_seq_pair_dot(Q, Q))
    cn = np.sqrt(_seq_pair_dot(C, C))
    sims = np.empty((Q.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[0]):
        ok = (qn > 0) & (cn[j] > 0)
        sims[:, j] = np.where(ok, _seq_dot(Q, C[j]) / (qn * cn[j]), 0.0)
    # stable argsort over the column-REVERSED matrix: ties keep the
    # lower reversed index = the HIGHER original index first
    order_rev = np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, :n_probe]
    return (C.shape[0] - 1) - order_rev


def _scan(frame, codec, model, score, n_cand, schema, qids=None) -> DataFrame:
    """The Arrow pass of both probe paths: decode each batch's codes with
    the codec, score them (``score(pdf, rows)`` yields (query, vec_id,
    sim) arrays) and keep each query's top-``n_cand`` per partition —
    the first phase of the two-phase top-k. ``qids`` maps query indices
    back to ids."""

    def run(batches):
        acc: list = []
        for pdf in batches:
            pdf = pdf[pdf["code"].notna()]
            if len(pdf):
                rows = codec.rows(model, _codes(pdf["code"]))
                acc += [_group_topk(*t, n_cand) for t in score(pdf, rows)]
        if acc:
            q, v, s = _group_topk(
                *(np.concatenate([a[i] for a in acc]) for i in range(3)), n_cand
            )
            yield pd.DataFrame(
                {"qid": q if qids is None else qids[q], "vec_id": v, "sim": s}
            )

    return frame.mapInPandas(run, schema)


def _block_scorer(codec, qstate, groups):
    """Collected path: score each bucket's rows against the queries
    probing it (``groups``: bucket -> query indices; None = every query,
    every row) with the codec's block scorer, so each query's scores stay
    within its own probed buckets."""
    every = np.arange(len(qstate))

    def score(pdf, rows):
        vid = pdf["vec_id"].to_numpy()
        if groups is None:
            parts = [(every, slice(None))]
        else:
            bk = pdf["bucket"].to_numpy()
            parts = [
                (groups[int(b)], bk == b) for b in np.unique(bk)
                if int(b) in groups
            ]
        for qs, r in parts:
            # every query: pass the state itself, not a per-batch copy
            S = codec.block(qstate if qs is every else qstate[qs], rows[r])
            yield np.repeat(qs, S.shape[1]), np.tile(vid[r], len(qs)), S.ravel()

    return score


def _pair_scorer(codec, model):
    """Distributed path, over a (qid, __qv, vec_id, code) pair frame: each
    batch prepares its distinct queries once and scores every pair with
    the codec's pair scorer — the block scorer's arithmetic per (query,
    code) pair, which the fallback row-identity tests pin."""
    dim = codec.dim(model)

    def score(pdf, rows):
        inv, _ = pd.factorize(pdf["qid"], sort=False)
        # labels appear in first-seen order: return_index gives the
        # first row of each distinct query
        _, first = np.unique(inv, return_index=True)
        qv = pdf["__qv"].iloc[first]
        _check_dim((len(v) for v in qv), dim)
        sims = codec.pair(codec.queries(model, _stack(qv)), inv, rows)
        yield pdf["qid"].to_numpy(), pdf["vec_id"].to_numpy(), sims

    return score


def _assign_probes(q_sel: DataFrame, cents, n_probe: int) -> DataFrame:
    """Probe assignment as an Arrow pass over the query frame: the
    collected path's :func:`_rank_probes_seq`, exploded to (qid, __qv,
    bucket) rows."""
    schema = StructType(
        list(q_sel.schema.fields) + [StructField("bucket", IntegerType())]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _check_dim((len(v) for v in pdf["__qv"]), cents.shape[1])
            order = _rank_probes_seq(_stack(pdf["__qv"]), cents, n_probe)
            yield pd.DataFrame({
                "qid": pdf["qid"].to_numpy().repeat(order.shape[1]),
                "__qv": pdf["__qv"].to_numpy().repeat(order.shape[1]),
                "bucket": order.ravel().astype("int32"),
            })

    # checkpoint: the probe frame feeds BOTH the distinct-bucket collect
    # and the bucket equi-join — without it the Arrow assignment pass
    # over the (by definition oversized) query frame runs twice
    return q_sel.mapInPandas(run, schema).localCheckpoint(eager=True)


def _probe(codec, model, queries, codes, k=10, rerank=None, rerank_factor=4,
           query_id="qid", query_vec="qvec", corpus_id="vec_id",
           corpus_vec="embedding", max_collected_queries=10_000,
           cents=None, n_probe=1, store_vectors=False) -> DataFrame:
    """Top-k of ``queries`` by codec ADC over ``codes`` (vec_id, code
    [, bucket, vec]).

    With ``cents`` each query ranks the centroids driver-side and scores
    only the rows of its ``n_probe`` closest buckets; the union of probed
    buckets is a STATIC planning-time partition filter (the dedup-index
    discipline, no reliance on DPP). Without, every query scores every
    row — one bucket. ``rerank`` is None (ADC sims out), a corpus frame
    (exact-cosine rerank of ``k * rerank_factor`` candidates per query
    against the source table — the at-scale shape), or ``"stored"``
    (vectors persisted with ``store_vectors=True``). Above
    ``max_collected_queries`` the probe degrades to the distributed pair
    formulation instead of raising: Arrow probe assignment, a bounded
    distinct-bucket collect (<= n_centroids rows) that keeps the static
    filter, a bucket equi-join and the codec's pair scorer. Columns out:
    (qid, vec_id, sim, rank)."""
    if isinstance(rerank, str):
        if rerank != "stored":
            raise ValueError(f"unknown rerank mode {rerank!r}")
        if not store_vectors:
            raise ValueError(
                f"rerank='stored' requires build_{codec.kind}_index"
                "(store_vectors=True)"
            )
    q_sel = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    schema = StructType([
        StructField("qid", q_sel.schema["qid"].dataType),
        StructField("vec_id", codes.schema["vec_id"].dataType),
        StructField("sim", DoubleType()),
    ])
    n_cand = k * rerank_factor if rerank is not None else k
    qrows = q_sel.limit(max_collected_queries + 1).collect()
    _check_dim((len(r["__qv"]) for r in qrows), codec.dim(model))
    collected = len(qrows) <= max_collected_queries
    if not qrows:
        return codes.sparkSession.createDataFrame(
            [], StructType(schema.fields + [StructField("rank", IntegerType())])
        )
    if collected:
        qids = np.asarray([r["qid"] for r in qrows])
        Q = _stack([r["__qv"] for r in qrows])
        groups = None
        if cents is not None:
            order = _rank_probes_seq(Q, cents, n_probe)
            groups = {
                int(b): np.flatnonzero((order == b).any(axis=1))
                for b in np.unique(order)
            }
            codes = codes.filter(F.col("bucket").isin(sorted(groups)))
        cds = codes.select(
            *(["bucket"] if groups is not None else []), "vec_id", "code"
        )
        score = _block_scorer(codec, codec.queries(model, Q), groups)
        cand = _scan(cds, codec, model, score, n_cand, schema, qids)
    else:
        if cents is None:
            pairs = codes.crossJoin(q_sel)
        else:
            probes = _assign_probes(q_sel, cents, n_probe)
            # distinct probed buckets: bounded by n_centroids — tiny collect
            buckets = sorted(
                r["bucket"] for r in probes.select("bucket").distinct().collect()
            )
            codes = codes.filter(F.col("bucket").isin(buckets))
            pairs = codes.select("bucket", "vec_id", "code").join(probes, "bucket")
        cand = _scan(
            pairs.select("qid", "__qv", "vec_id", "code"), codec, model,
            _pair_scorer(codec, model), n_cand, schema,
        )
    if rerank is None:
        return _topk_rerank(cand, k)
    if isinstance(rerank, str):
        cv = codes.select("vec_id", F.col("vec").alias("__cv"))
    else:
        cv = rerank.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        )
    # collected: broadcast the candidate side so the stored/pruned vector
    # partitions stream through a broadcast hash join instead of being
    # shuffled, the fork chosen by the construction-time bound so the
    # forced hint never exceeds the broadcast cap; distributed: never
    # broadcast the (by definition oversized) query side
    bound = dict(
        n_parts=cds.rdd.getNumPartitions(), n_queries=len(qids), dim=Q.shape[1]
    ) if collected else {}
    pairs = _rerank_pairs(cand, q_sel, cv, n_cand, **bound)
    return _topk_rerank(pair_cosine_arrow(pairs), k)


def _query(spark, path, codec, queries, k=10, n_probe=4, rerank=None,
           rerank_factor=4, query_id="qid", query_vec="qvec",
           corpus_id="vec_id", corpus_vec="embedding",
           max_collected_queries=10_000) -> DataFrame:
    meta = _load_meta(path, codec)
    return _probe(
        codec, codec.model(meta), queries, spark.read.parquet(path), k,
        rerank, rerank_factor, query_id, query_vec, corpus_id, corpus_vec,
        max_collected_queries,
        cents=np.asarray(meta["centroids"], dtype=np.float64),
        n_probe=n_probe, store_vectors=meta.get("store_vectors"),
    )


# ------------------------------------------------------------ IVF-PQ index


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    m_sub: int = 8,
    n_codes: int = 256,
    sample_n: int = 4096,
    pq_iters: int = 8,
    store_vectors: bool = False,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> dict:
    """Build a persistent IVF-PQ index: bucket assignment (spherical
    k-means centroids) + PQ codes (``m_sub`` bytes per row), written
    partitioned by ``bucket``; centroids AND codebooks go to one JSON
    sidecar (written after the data so a readable index is always
    complete). A probe of a 100 TB corpus at defaults reads 25% of 1/32
    of the data: ~0.8% of the raw bytes, before any rerank.
    ``store_vectors=True`` also persists the float vectors for
    self-contained exact rerank — at scale leave it False and rerank
    against the source table. Returns the sidecar dict."""
    return _build(
        corpus, path, PQ, n_centroids, kmeans_iters, store_vectors,
        corpus_id, corpus_vec, m_sub=m_sub, n_codes=n_codes,
        sample_n=sample_n, pq_iters=pq_iters,
    )


def load_ivfpq_meta(path: str, filesystem=None) -> dict:
    return _load_meta(path, PQ, filesystem)


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank=None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """Probe an IVF-PQ index: rank centroids per query, STATICALLY filter
    the scan to the union of probe buckets, ADC-score only the m_sub-byte
    codes in those buckets, two-phase top-k; ``rerank`` as in
    :func:`_probe` (None, a corpus frame, or ``"stored"``).
    Columns out: (qid, vec_id, sim, rank)."""
    return _query(
        spark, path, PQ, queries, k, n_probe, rerank, rerank_factor,
        query_id, query_vec, corpus_id, corpus_vec, max_collected_queries,
    )


def append_to_ivfpq_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Append new vectors under the index's PINNED centroids and
    codebooks. Quantization quality for appended data follows the
    training-time distribution — under real drift, rebuild to re-train;
    the ``pq_reconstruct_error`` diagnostic over the appended slice is
    the cheap drift check."""
    _append(corpus, path, PQ, corpus_id, corpus_vec)


# ----------------------------------------------------------- IVF-SQ8 index


def build_ivfsq8_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    store_vectors: bool = False,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> dict:
    """Build a persistent IVF-SQ8 index — the production middle ground on
    the quantized-index curve: spherical-k-means bucket assignment +
    per-dimension int8 scalar quantization (GLOBAL lo/hi — one corpus
    scan, 2·dim floats of model state; dim bytes per row instead of
    8·dim float64, near-float recall because ADC dequantizes against the
    full-precision query), written partitioned by ``bucket``.
    ``kmeans_iters=0`` pins the deterministic md5-sample centroids (the
    exact SQL twin the correctness gate replays). ``store_vectors=True``
    also persists the float vectors for self-contained exact rerank — at
    scale leave False and rerank against the source table. Returns the
    sidecar dict (params as floats; the sidecar stores their exact
    repr)."""
    return _build(
        corpus, path, SQ8, n_centroids, kmeans_iters, store_vectors,
        corpus_id, corpus_vec,
    )


def load_ivfsq8_meta(path: str, filesystem=None) -> dict:
    return _load_meta(path, SQ8, filesystem)


def query_ivfsq8_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank=None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """Probe an IVF-SQ8 index: rank centroids per query (driver-side —
    the probed-bucket union becomes a STATIC planning-time partition
    filter), dequantize-and-score only the int8 codes in those buckets
    (ADC, sequential dim fold — the exact arithmetic of ``sq8_topk``),
    two-phase top-k; ``rerank`` as in :func:`_probe`.
    Columns out: (qid, vec_id, sim, rank)."""
    return _query(
        spark, path, SQ8, queries, k, n_probe, rerank, rerank_factor,
        query_id, query_vec, corpus_id, corpus_vec, max_collected_queries,
    )


def append_to_ivfsq8_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Append new vectors under the index's PINNED centroids and SQ8
    params. Under real distribution drift the dequantization error of
    appended rows grows — rebuild to retrain, as with the PQ index."""
    _append(corpus, path, SQ8, corpus_id, corpus_vec)


# -------------------------------------------------------------- compaction


def compact_vector_index(
    spark: SparkSession, path: str, min_files: int | None = None
) -> int | None:
    """Repack an append-churned vector index (flat, SQ8 or PQ) back to
    one file per bucket directory — every append adds one file per
    touched bucket, and probe cost grows with file count (the
    small-files note on ``_write``).

    Same safe-swap discipline as ``compact_spatial_parquet``: write the
    repacked layout NEXT TO the live one, copy the index's model sidecar
    so the staged directory is complete, verify row-count equality, then
    move it over the old directory. Any failure before the swap raises
    and leaves the live index untouched. Returns the new data-file
    count, or None when the index already has <= ``min_files`` files
    (default: one per existing bucket, i.e. already compact)."""
    base = path.rstrip("/")
    sidecars = [
        p for p in {_sidecar_path(base, c) for c in _CODECS.values()}
        if _fs.exists(p)
    ]
    if len(sidecars) != 1:
        raise ValueError(f"{base}: expected one index sidecar, found {sidecars}")
    files = _fs.list_files(base, ".parquet", recursive=True)
    df = spark.read.parquet(base)
    buckets = df.select("bucket").distinct().count()
    if min_files is None:
        min_files = buckets
    if len(files) <= min_files:
        return None
    n_before = df.count()
    tmp = f"{base}.compact.tmp"
    df.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(tmp)
    name = sidecars[0].rsplit("/", 1)[1]
    _fs.write_text(f"{tmp}/{name}", _fs.read_text(sidecars[0]))
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        raise RuntimeError(
            f"index compaction row-count mismatch ({n_before} -> {n_after});"
            f" repacked copy left at {tmp}, live index untouched"
        )
    _fs.replace_dir(tmp, base)
    return len(_fs.list_files(base, ".parquet", recursive=True))
