"""The closed-loop workloads.

Each workload has three phases:

- ``generate``: the benchmark's own work. Seeded inputs are written to
  parquet with pyarrow and the numpy ground truth is computed. Not timed.
- ``setup_steps``: the library's set-up through public calls (packing,
  ingest, index builds, tokenizer training). Timed as part of ``setup_s``.
- ``execute``: one operation of the loop, timed; ``check`` then compares
  its answer with the oracle, untimed.

Operation kinds cycle in a fixed order, so every run sees the same mix.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import group_id


def dataset_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def dataset_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in dataset_files(path))


def layout_stats(path: str) -> dict:
    """Pack quality of a spatial dataset, from its manifest and footers:
    summed file bbox area over the extent area, and max/median rows per
    file."""
    with open(os.path.join(path, "_spatial_manifest.json")) as f:
        files = json.load(f)["files"]
    x0, y0, x1, y1 = gen.EXTENT
    area = sum((b[2] - b[0]) * (b[3] - b[1]) for b in files.values())
    rows = [pq.read_metadata(p).num_rows for p in dataset_files(path)]
    return {
        "pack.file_bbox_overlap": area / ((x1 - x0) * (y1 - y0)),
        "pack.rows_skew": max(rows) / float(np.median(rows)),
    }


def _hist_query(df, x, y, rect):
    """Row count per cell of a 16x16 grid over ``rect``: the viewport's
    small aggregate, collected to the driver. Same float ops as
    ``gen.hist_oracle``."""
    x0, y0, x1, y1 = rect
    n = float(gen.HIST_BINS)

    def cell(v, lo, width):
        b = F.floor((v - F.lit(lo)) / F.lit(width) * F.lit(n))
        return F.least(F.greatest(b, F.lit(0)), F.lit(gen.HIST_BINS - 1))

    key = cell(x, x0, x1 - x0) * gen.HIST_BINS + cell(y, y0, y1 - y0)
    return {r["k"]: r["n"] for r in df.groupBy(key.alias("k")).agg(F.count("*").alias("n")).collect()}


class Workload:
    name = ""
    kinds: list[str] = []
    # kinds whose CPU counts toward join_cpu_s; the rest count toward
    # scan_cpu_s
    join_kinds: set[str] = set()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.raw = os.path.join(work, "raw")
        self.lib = os.path.join(work, "lib")

    def setup_rows(self, kind) -> int:
        return 0

    def verify_setup(self, spark) -> bool:
        return True

    def trace_attrs(self, spark, tr, res) -> dict:
        """Extra per-operation readings for the traced run."""
        return {}

    def layout(self) -> dict:
        return {}

    def bytes_per_row(self) -> float:
        raise NotImplementedError


# ----------------------------------------------------------------- spatial


class Spatial(Workload):
    """A pan/zoom session over Hilbert-packed points and heavy-tailed
    diamonds, with point x polygon joins of the same points in between.

    Each pan/zoom step renders both layers: a point query and then a
    polygon query over the same box, so the two viewport kinds are an even
    split. Boxes are centred on the clusters, so successive queries
    overlap. After every step comes one join, in a fixed mix of thirds:
    broadcast against a few hundred large regions, ``strategy="auto"``
    (planned as the grid join) against many small heavy-tailed diamonds,
    and nearest neighbour.

    The diamond layer is built the way a lake grows: raw batches go
    through ``with_measures`` and ``append_spatial_parquet``, then one
    ``compact_spatial_parquet`` restores a single Hilbert order. That
    ingest path is part of set-up, so ``setup_s`` covers it and the traced
    run reports its layers. The join's polygon sides are raw files, so
    ``sjoin`` computes their bounds."""

    name = "spatial"
    kinds = ["cx.point", "cx.polygon", "sjoin.broadcast",
             "cx.point", "cx.polygon", "sjoin.grid",
             "cx.point", "cx.polygon", "sjoin.nearest"]
    join_kinds = {"sjoin.broadcast", "sjoin.grid", "sjoin.nearest"}

    N_POINTS = 50_000
    BATCH = 20_000
    N_BATCHES = 2
    N_REGIONS = 200
    # enough that the planner's size estimate for the diamonds (file size
    # scaled up by the bounds column sjoin adds) exceeds the default 10 MB
    # broadcast threshold, so strategy="auto" plans the grid join
    N_DIAMONDS = 90_000
    N_QUERIES = 500
    MAX_DISTANCE = 10.0

    def generate(self):
        self.cl = cl = gen.clusters(gen.rng_for(self.seed, "clusters"))
        rng = gen.rng_for(self.seed, "viewport-data")
        self.xy = gen.clustered_xy(rng, self.N_POINTS, cl)
        pid = np.arange(self.N_POINTS)
        gen.write_parquet(f"{self.raw}/points.parquet", {"pid": pid, "geom": gen.point_column(self.xy)})
        n = self.BATCH * self.N_BATCHES
        self.dxy = gen.clustered_xy(rng, n, cl)
        self.r = gen.heavy_radii(rng, n, 0.2, 30.0)
        for b in range(self.N_BATCHES):
            sl = slice(b * self.BATCH, (b + 1) * self.BATCH)
            gen.write_parquet(f"{self.raw}/diamonds-{b}.parquet", {
                "did": np.arange(n)[sl],
                "geom": gen.diamond_column(self.dxy[sl, 0], self.dxy[sl, 1], self.r[sl])})
        self.rects = gen.viewport_rects(self.seed, cl, 5000)

        rng = gen.rng_for(self.seed, "join-data")
        reg = gen.clustered_xy(rng, self.N_REGIONS, cl)
        reg_r = rng.uniform(5.0, 15.0, size=self.N_REGIONS)
        jxy = gen.clustered_xy(rng, self.N_DIAMONDS, cl)
        jr = gen.heavy_radii(rng, self.N_DIAMONDS, 0.1, 0.6)
        self.qxy = gen.clustered_xy(rng, self.N_QUERIES, cl)
        gen.write_parquet(f"{self.raw}/regions.parquet", {
            "rid": np.arange(self.N_REGIONS), "geom": gen.diamond_column(reg[:, 0], reg[:, 1], reg_r)})
        gen.write_parquet(f"{self.raw}/join-diamonds.parquet", {
            "did": np.arange(self.N_DIAMONDS), "geom": gen.diamond_column(jxy[:, 0], jxy[:, 1], jr)})
        gen.write_parquet(f"{self.raw}/queries.parquet", {
            "qid": np.arange(self.N_QUERIES), "geom": gen.point_column(self.qxy)})
        px, py = self.xy[:, 0], self.xy[:, 1]
        self.want = {
            "sjoin.broadcast": gen.diamond_join_oracle(
                px, py, pid, reg[:, 0], reg[:, 1], reg_r, np.arange(self.N_REGIONS)),
            "sjoin.grid": gen.diamond_join_oracle(
                px, py, pid, jxy[:, 0], jxy[:, 1], jr, np.arange(self.N_DIAMONDS)),
        }
        self.nn_id, self.nn_d = gen.nearest_oracle(self.qxy[:, 0], self.qxy[:, 1], px, py, pid)

    def setup_steps(self, spark):
        """Pack the points; ingest the diamond batches, then compact."""
        from spatialpandas_spark import with_bounds
        from spatialpandas_spark.functions.arrow_kernels import with_measures
        from spatialpandas_spark.sources.spatial_parquet import (
            append_spatial_parquet,
            compact_spatial_parquet,
            write_spatial_parquet,
        )

        def diamonds(b):
            return with_measures(spark.read.parquet(f"{self.raw}/diamonds-{b}.parquet"),
                                 "geom", "polygon", area="area", bounds="bounds")

        steps = [("setup.pack.point", write_spatial_parquet, lambda: write_spatial_parquet(
            with_bounds(spark.read.parquet(f"{self.raw}/points.parquet"), "geom", "point"),
            f"{self.lib}/P", npartitions=16, total_bounds=gen.EXTENT))]
        for b in range(self.N_BATCHES):
            fn = write_spatial_parquet if b == 0 else append_spatial_parquet
            steps.append((f"setup.{'pack' if b == 0 else 'append'}.polygon", fn,
                          lambda b=b, fn=fn: fn(diamonds(b), f"{self.lib}/D", npartitions=4,
                                                total_bounds=gen.EXTENT)))
        steps.append(("setup.compact.polygon", compact_spatial_parquet,
                      lambda: compact_spatial_parquet(spark, f"{self.lib}/D", npartitions=8,
                                                      total_bounds=gen.EXTENT)))
        return steps

    def setup_rows(self, kind):
        return 0 if "compact" in kind else (self.N_POINTS if kind.endswith("point") else self.BATCH)

    def verify_setup(self, spark) -> bool:
        """Row count, area sum and extent of the ingested layer against the
        generator's values (a diamond of radius r has area 2 r^2)."""
        r = spark.read.parquet(f"{self.lib}/D").agg(
            F.count("*").alias("n"), F.sum("area").alias("a"),
            F.min("bounds.x0").alias("x0"), F.min("bounds.y0").alias("y0"),
            F.max("bounds.x1").alias("x1"), F.max("bounds.y1").alias("y1")).first()
        want_a = float((2.0 * self.r * self.r).sum())
        lo = (self.dxy - self.r[:, None]).min(axis=0)
        hi = (self.dxy + self.r[:, None]).max(axis=0)
        return (r["n"] == len(self.r)
                and abs(r["a"] - want_a) <= 1e-9 * want_a
                and [r["x0"], r["y0"], r["x1"], r["y1"]] == [*lo.tolist(), *hi.tolist()])

    def execute(self, spark, tr, i, kind):
        if kind.startswith("cx."):
            return self._viewport(spark, tr, i, kind)
        return self._join(spark, tr, kind)

    def _viewport(self, spark, tr, i, kind):
        from spatialpandas_spark.sources.spatial_parquet import read_spatial_parquet_cx

        gtype = kind.split(".")[1]
        # the polygon query renders the box of the point query before it
        rect = self.rects[i - 1 if gtype == "polygon" else i]
        path = f"{self.lib}/{'P' if gtype == 'point' else 'D'}"
        with tr.span("call:read_spatial_parquet_cx"):
            df = read_spatial_parquet_cx(spark, path, "geom", gtype, rect)
        if gtype == "point":
            x, y = F.col("geom.x"), F.col("geom.y")
        else:
            x = (F.col("bounds.x0") + F.col("bounds.x1")) / 2
            y = (F.col("bounds.y0") + F.col("bounds.y1")) / 2
        with tr.span("action:collect"):
            hist = _hist_query(df, x, y, rect)
        return {"kind": kind, "rect": rect, "gtype": gtype, "hist": hist, "df": df, "path": path}

    def _join_inputs(self, spark, kind):
        """(points, polygons, polygon id column, strategy) of a polygon join."""
        pts = spark.read.parquet(f"{self.lib}/P").select("pid", "geom", "bounds")
        right, rid, strategy = (("regions", "rid", "broadcast") if kind == "sjoin.broadcast"
                                else ("join-diamonds", "did", "auto"))
        return pts, spark.read.parquet(f"{self.raw}/{right}.parquet"), rid, strategy

    def _join(self, spark, tr, kind):
        from spatialpandas_spark import sjoin
        from spatialpandas_spark.operators.knn import sjoin_nearest

        if kind == "sjoin.nearest":
            pts = spark.read.parquet(f"{self.lib}/P").select("pid", "geom")
            qs = spark.read.parquet(f"{self.raw}/queries.parquet")
            with tr.span("call:sjoin_nearest"):
                j = sjoin_nearest(qs, pts, max_distance=self.MAX_DISTANCE,
                                  left_id="qid", right_id="pid")
            with tr.span("action:collect"):
                rows = j.select("qid", "pid", "dist").collect()
            return {"kind": kind, "rows": rows, "df": j}
        pts, polys, rid, strategy = self._join_inputs(spark, kind)
        with tr.span("call:sjoin"):
            j = sjoin(pts, polys, left_type="point", right_type="polygon", strategy=strategy)
        with tr.span("action:collect"):
            rows = j.groupBy(rid).agg(F.count("*").alias("n"), F.sum("pid").alias("s")).collect()
        return {"kind": kind, "rows": rows, "df": j, "rid": rid}

    def check(self, res):
        kind = res["kind"]
        if kind.startswith("cx."):
            x0, y0, x1, y1 = rect = res["rect"]
            if res["gtype"] == "point":
                px, py = self.xy[:, 0], self.xy[:, 1]
                m = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
                want = gen.hist_oracle(px[m], py[m], rect)
            else:
                m = gen.l1_to_rect(self.dxy[:, 0], self.dxy[:, 1], rect) <= self.r
                cx, cy, r = self.dxy[m, 0], self.dxy[m, 1], self.r[m]
                want = gen.hist_oracle(((cx - r) + (cx + r)) / 2, ((cy - r) + (cy + r)) / 2, rect)
            return res["hist"] == want, sum(want.values())
        if kind == "sjoin.nearest":
            got = sorted((r["qid"], r["pid"], r["dist"]) for r in res["rows"])
            want = np.flatnonzero(self.nn_d <= self.MAX_DISTANCE)
            ok = ([q for q, _, _ in got] == want.tolist()
                  and all(p == self.nn_id[q] and abs(d - self.nn_d[q]) <= 1e-9 * max(1.0, d)
                          for q, p, d in got))
            return ok, len(got)
        got = {r[res["rid"]]: (r["n"], r["s"]) for r in res["rows"]}
        want = self.want[kind]
        return got == want, sum(n for n, _ in want.values())

    def trace_attrs(self, spark, tr, res):
        kind = res["kind"]
        if kind.startswith("cx."):
            with open(os.path.join(res["path"], "_spatial_manifest.json")) as f:
                n_files = len(json.load(f)["files"])
            return {"sources.files_read_frac": len(res["df"].inputFiles()) / n_files}
        plan = res["df"]._jdf.queryExecution().executedPlan().toString()
        out = {"sjoin.strategy": next((label for name, label in (
            ("BroadcastNestedLoopJoin", "broadcast-nested-loop"),
            ("BroadcastHashJoin", "broadcast-hash"),
            ("SortMergeJoin", "shuffle"), ("ShuffledHashJoin", "shuffle")) if name in plan), "other")}
        if kind != "sjoin.nearest":
            out["sjoin.probe_group"] = self._candidate_probe(spark, tr, kind)
        return out

    def _candidate_probe(self, spark, tr, kind) -> str:
        """An extra job, traced runs only: the same join with
        ``refine="arrow"``, which joins on the bbox conjunct alone, so the
        join operator's output rows in the event log are the library's
        bbox candidate pairs. Returns the probe's job group."""
        from spatialpandas_spark import sjoin

        with tr.op(f"probe.{kind}") as span:
            pts, polys, _, strategy = self._join_inputs(spark, kind)
            sjoin(pts, polys, left_type="point", right_type="polygon", strategy=strategy,
                  refine="arrow").count()
        return group_id(span.id)

    def layout(self):
        p, d = layout_stats(f"{self.lib}/P"), layout_stats(f"{self.lib}/D")
        return {k: (p[k] + d[k]) / 2 for k in p}

    def bytes_per_row(self):
        return (dataset_bytes(f"{self.lib}/P") + dataset_bytes(f"{self.lib}/D")) / (
            len(self.xy) + len(self.r))

    def ingest_bytes_per_row(self):
        return dataset_bytes(f"{self.lib}/D") / len(self.r)


# ------------------------------------------------------------------ corpus


class Corpus(Workload):
    """Training-data operators: MinHash dedup, BPE and Unigram encode,
    IVF-PQ and IVF-SQ8 probes, language ID."""

    name = "corpus"
    # tokenize and langid run twice per pass: one of each is too few
    # operations for a steady scan_cpu_s, and as the two groups are gated
    # apart, this does not weigh them against the join kinds
    kinds = ["dedup", "tokenize", "langid", "ann.ivfpq", "tokenize", "langid", "ann.ivfsq8"]
    # the LSH band self-join and the query x bucket probes
    join_kinds = {"dedup", "ann.ivfpq", "ann.ivfsq8"}
    N_DOCS = 2_000
    DUP_RATE = 0.05
    LANGS = ["en", "de", "fr", "es", "it", "nl", "pl", "fi", "tr", "sv"]
    N_VECS = 10_000
    DIM = 32
    N_QUERIES = 16
    RECALL_FLOOR = 0.9
    LANGID_FLOOR = 0.98

    def generate(self):
        from spatialpandas_spark.operators.langid import VOCAB

        ids, texts, labels, self.pairs = gen.make_docs(
            self.seed, VOCAB, self.LANGS, self.N_DOCS, self.DUP_RATE)
        self.labels = labels
        gen.write_parquet(f"{self.raw}/docs.parquet", {"doc_id": ids, "text": texts, "lang": labels})
        self.crc_bpe = gen.token_crc_sum(texts, "</w>")
        self.crc_uni = gen.token_crc_sum(texts, None)
        vecs, self.q = gen.make_embeddings(self.seed, self.N_VECS, self.DIM, self.N_QUERIES)
        import pyarrow as pa

        gen.write_parquet(f"{self.raw}/emb.parquet", {
            "vec_id": np.arange(self.N_VECS),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), self.DIM).cast(
                pa.list_(pa.float32()))})
        gen.write_parquet(f"{self.raw}/queries.parquet", {
            "qid": np.arange(self.N_QUERIES),
            "qvec": pa.FixedSizeListArray.from_arrays(pa.array(self.q.ravel()), self.DIM).cast(
                pa.list_(pa.float32()))})
        self.top10 = gen.topk_oracle(vecs, self.q, 10)

    def setup_steps(self, spark):
        from spatialpandas_spark.operators.bpe import train_bpe
        from spatialpandas_spark.operators.similarity_index import (
            build_ivfpq_index,
            build_ivfsq8_index,
        )
        from spatialpandas_spark.operators.unigram import train_unigram

        docs = spark.read.parquet(f"{self.raw}/docs.parquet")
        emb = spark.read.parquet(f"{self.raw}/emb.parquet")

        def bpe():
            self.merges = train_bpe(docs, n_merges=300)

        def unigram():
            self.unigram = train_unigram(docs, vocab_size=300, seed_size=2000, prune_frac=0.5)

        return [
            ("setup.train.bpe", train_bpe, bpe),
            ("setup.train.unigram", train_unigram, unigram),
            ("setup.index.ivfpq", build_ivfpq_index, lambda: build_ivfpq_index(
                emb, f"{self.lib}/ivfpq", n_centroids=16, kmeans_iters=1, m_sub=8, n_codes=16,
                pq_iters=1, sample_n=1024, store_vectors=True)),
            ("setup.index.ivfsq8", build_ivfsq8_index, lambda: build_ivfsq8_index(
                emb, f"{self.lib}/ivfsq8", n_centroids=16, kmeans_iters=1, store_vectors=True)),
        ]

    def execute(self, spark, tr, i, kind):
        docs = spark.read.parquet(f"{self.raw}/docs.parquet")
        if kind == "dedup":
            from spatialpandas_spark.operators.dedup import minhash_lsh_pairs

            with tr.span("call:minhash_lsh_pairs"):
                df = minhash_lsh_pairs(docs, threshold=0.5)
            with tr.span("action:collect"):
                rows = df.select("id_a", "id_b").collect()
            return {"kind": kind, "pairs": {(r[0], r[1]) for r in rows}}
        if kind == "tokenize":
            from spatialpandas_spark.operators.bpe import bpe_encode
            from spatialpandas_spark.operators.unigram import unigram_encode

            out = {"kind": kind}
            for name, fn, model in (("bpe", bpe_encode, self.merges),
                                    ("unigram", unigram_encode, self.unigram)):
                with tr.span(f"call:{fn.__name__}"):
                    df = fn(docs, model)
                with tr.span("action:collect"):
                    out[name] = df.agg(
                        F.sum(F.crc32(F.concat_ws("", "tokens").cast("binary"))).alias("c"),
                        F.count("*").alias("n")).first()
            return out
        if kind.startswith("ann."):
            from spatialpandas_spark.operators import similarity_index

            name = kind.split(".")[1]
            fn = getattr(similarity_index, f"query_{name}_index")
            qs = spark.read.parquet(f"{self.raw}/queries.parquet")
            with tr.span(f"call:{fn.__name__}"):
                df = fn(spark, f"{self.lib}/{name}", qs, k=10, n_probe=4, rerank="stored")
            with tr.span("action:collect"):
                rows = df.select("qid", "vec_id").collect()
            return {"kind": kind, "rows": rows}
        from spatialpandas_spark.operators.langid import classify_language

        with tr.span("call:classify_language"):
            df = classify_language(docs.filter(F.col("doc_id") % 3 == 0), "text", "lang_pred")
        with tr.span("action:collect"):
            rows = df.groupBy("lang", "lang_pred").count().collect()
        return {"kind": kind, "confusion": [(r[0], r[1], r[2]) for r in rows]}

    def recall(self, rows) -> float:
        got: dict[int, set] = {}
        for q, v in rows:
            got.setdefault(q, set()).add(v)
        hits = sum(len(got.get(q, set()) & set(self.top10[q].tolist())) for q in range(self.N_QUERIES))
        return hits / (10 * self.N_QUERIES)

    def check(self, res):
        kind = res["kind"]
        if kind == "dedup":
            return res["pairs"] == self.pairs, len(res["pairs"])
        if kind == "tokenize":
            ok = (res["bpe"]["n"] == self.N_DOCS and res["unigram"]["n"] == self.N_DOCS
                  and res["bpe"]["c"] == self.crc_bpe and res["unigram"]["c"] == self.crc_uni)
            return ok, 2 * self.N_DOCS
        if kind.startswith("ann."):
            res["recall"] = self.recall(res["rows"])
            return res["recall"] >= self.RECALL_FLOOR, 10 * self.N_QUERIES
        right = sum(n for lang, pred, n in res["confusion"] if lang == pred)
        total = sum(n for _, _, n in res["confusion"])
        return total == len(range(0, self.N_DOCS, 3)) and right >= self.LANGID_FLOOR * total, total

    def trace_attrs(self, spark, tr, res):
        kind = res["kind"]
        if kind == "dedup":
            return {"dedup.dup_pairs": len(self.pairs)}
        if kind.startswith("ann."):
            return {"ann.recall_at_10": res["recall"], "ann.index_rows": self.N_VECS}
        return {}

    def bytes_per_row(self):
        total = sum(os.path.getsize(f) for f in glob.glob(f"{self.lib}/ivf*/**/*.parquet", recursive=True))
        return total / (2 * self.N_VECS)


WORKLOADS = {w.name: w for w in (Spatial, Corpus)}
