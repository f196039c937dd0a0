"""Seeded input generators and numpy oracles.

Every input the library sees is a parquet file written here with pyarrow;
the library never sees the generator's arrays. The oracles below work on
those arrays only and share no code with the library, so a wrong answer
from the library cannot be matched by a wrong oracle.

Geometry encodings follow the library's parquet layout: points are
``struct<x: double, y: double>``, polygons ``list<list<double>>`` (rings of
interleaved x, y), lines ``list<double>``.
"""

from __future__ import annotations

import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = (0.0, 0.0, 1000.0, 1000.0)
HIST_BINS = 16


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def write_parquet(path: str, columns: dict) -> None:
    """Row groups of 16k rows, so Spark can split one file across cores."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy", row_group_size=16_384)


# ---------------------------------------------------------------- geometry


def clusters(rng: np.random.Generator, k: int = 16):
    """Cluster centres, spreads and Zipf-like weights. Only the centres
    depend on the seed: spreads (40 down to 5) and weights are fixed and
    paired heaviest-widest, so point density, and with it the work of a
    join, varies little from seed to seed."""
    centres = rng.uniform(100.0, 900.0, size=(k, 2))
    sigma = np.geomspace(40.0, 5.0, k)
    w = 1.0 / np.arange(1, k + 1)
    return centres, sigma, w / w.sum()


def clustered_xy(rng, n: int, cl, background: float = 0.1) -> np.ndarray:
    centres, sigma, w = cl
    c = rng.choice(len(w), size=n, p=w)
    xy = centres[c] + rng.normal(size=(n, 2)) * sigma[c, None]
    uni = rng.random(n) < background
    xy[uni] = rng.uniform(0.0, 1000.0, size=(int(uni.sum()), 2))
    return np.clip(xy, 0.0, 1000.0)


def heavy_radii(rng, n: int, r_min: float, r_max: float, alpha: float = 1.5):
    """Pareto-tailed radii in [r_min, r_max]."""
    return np.minimum(r_min * (1.0 + rng.pareto(alpha, size=n)), r_max)


def point_column(xy: np.ndarray) -> pa.Array:
    return pa.StructArray.from_arrays(
        [pa.array(xy[:, 0]), pa.array(xy[:, 1])], names=["x", "y"]
    )


def diamond_column(cx, cy, r) -> pa.Array:
    """Closed 5-vertex rings, the same vertex order as ``st_make_diamond``."""
    ring = np.stack(
        [cx + r, cy, cx, cy + r, cx - r, cy, cx, cy - r, cx + r, cy], axis=1
    )
    n = len(cx)
    rings = pa.ListArray.from_arrays(
        np.arange(0, 10 * n + 1, 10, dtype=np.int32), pa.array(ring.ravel())
    )
    return pa.ListArray.from_arrays(np.arange(n + 1, dtype=np.int32), rings)


def line_column(xy0: np.ndarray, xy1: np.ndarray) -> pa.Array:
    flat = np.concatenate([xy0, xy1], axis=1)
    n = len(flat)
    return pa.ListArray.from_arrays(
        np.arange(0, 4 * n + 1, 4, dtype=np.int32), pa.array(flat.ravel())
    )


def l1_to_rect(cx, cy, rect) -> np.ndarray:
    """L1 distance from each centre to the closed rectangle: a diamond of
    radius r meets the rectangle exactly when this is <= r."""
    x0, y0, x1, y1 = rect
    dx = np.maximum(np.maximum(x0 - cx, cx - x1), 0.0)
    dy = np.maximum(np.maximum(y0 - cy, cy - y1), 0.0)
    return dx + dy


def hist_oracle(x: np.ndarray, y: np.ndarray, rect) -> dict:
    """Exact 16x16 histogram of (x, y) over ``rect`` with the same float
    operations the benchmark's Spark query uses."""
    x0, y0, x1, y1 = rect
    bx = np.clip(np.floor((x - x0) / (x1 - x0) * HIST_BINS), 0, HIST_BINS - 1)
    by = np.clip(np.floor((y - y0) / (y1 - y0) * HIST_BINS), 0, HIST_BINS - 1)
    keys, counts = np.unique(
        bx.astype(np.int64) * HIST_BINS + by.astype(np.int64), return_counts=True
    )
    return dict(zip(keys.tolist(), counts.tolist()))


def viewport_rects(seed: int, cl, n: int):
    """A closed-loop pan/zoom session. The box zooms in from 200 wide to 2
    in eleven steps and back out, panning up to a tenth of its width per
    step, so successive boxes overlap; each full zoom cycle starts at
    the next cluster centre, heaviest first. Box sides follow this fixed
    schedule, so every seed queries the same mix of sizes over clusters of
    the same shapes; the positions depend on the seed."""
    rng = rng_for(seed, "viewport-session")
    centres = cl[0]
    levels = np.geomspace(200.0, 2.0, 12)
    schedule = np.concatenate([levels, levels[-2:0:-1]])
    out = []
    for i in range(n):
        step = i % len(schedule)
        if step == 0:
            cx, cy = centres[(i // len(schedule)) % len(centres)]
        side = float(schedule[step])
        cx += rng.uniform(-0.1, 0.1) * side
        cy += rng.uniform(-0.1, 0.1) * side
        h = side * float(np.exp(rng.uniform(-0.3, 0.3)))
        out.append((float(cx - side / 2), float(cy - h / 2),
                    float(cx + side / 2), float(cy + h / 2)))
    return out


def diamond_join_oracle(px, py, pid, cx, cy, r, rid) -> dict:
    """{rid: (match count, sum of matching pid)} for point-in-diamond,
    through the L1 test; each diamond scans only its x-slab of points."""
    out = {}
    order = np.argsort(px, kind="stable")
    sx, sy, sid = px[order], py[order], pid[order]
    lo = np.searchsorted(sx, cx - r, side="left")
    hi = np.searchsorted(sx, cx + r, side="right")
    for j in range(len(cx)):
        a, b = lo[j], hi[j]
        if a == b:
            continue
        m = np.abs(sx[a:b] - cx[j]) + np.abs(sy[a:b] - cy[j]) <= r[j]
        k = int(m.sum())
        if k:
            out[int(rid[j])] = (k, int(sid[a:b][m].sum()))
    return out


def nearest_oracle(qx, qy, px, py, pid, chunk: int = 32):
    """Chunked brute-force nearest corpus point per query: (pid, dist)."""
    best_id = np.empty(len(qx), dtype=np.int64)
    best_d = np.empty(len(qx))
    for s in range(0, len(qx), chunk):
        dx = qx[s:s + chunk, None] - px[None, :]
        dy = qy[s:s + chunk, None] - py[None, :]
        d2 = dx * dx + dy * dy
        j = np.argmin(d2, axis=1)
        best_id[s:s + chunk] = pid[j]
        best_d[s:s + chunk] = np.sqrt(d2[np.arange(len(j)), j])
    return best_id, best_d


# ------------------------------------------------------------------ corpus


def ascii_words(text: str) -> list[str]:
    """The library's ascii-mode pre-tokenization rule, restated."""
    return [w for w in re.split("[^a-z0-9]+", text.lower()) if w]


def make_docs(seed: int, vocab: dict, langs: list[str], n_docs: int,
              dup_rate: float):
    """Documents of 40-80 words drawn Zipf-wise from one language's
    vocabulary each. ``dup_rate`` of the originals get one near-duplicate
    with one word replaced (word 3-shingle Jaccard >= 0.86, well above the
    LSH threshold); returns (ids, texts, langs, dup pairs)."""
    rng = rng_for(seed, "docs")
    texts, labels = [], []
    n_orig = int(round(n_docs / (1 + dup_rate)))
    for _ in range(n_orig):
        lang = langs[rng.integers(len(langs))]
        words = vocab[lang]
        p = 1.0 / np.arange(1, len(words) + 1) ** 0.8
        idx = rng.choice(len(words), size=int(rng.integers(40, 81)), p=p / p.sum())
        texts.append(" ".join(words[i] for i in idx))
        labels.append(lang)
    ids = list(range(n_orig))
    pairs = set()
    for src in rng.choice(n_orig, size=n_docs - n_orig, replace=False):
        words = texts[src].split(" ")
        vocab_l = vocab[labels[src]]
        words[rng.integers(len(words))] = vocab_l[rng.integers(len(vocab_l))]
        pairs.add((int(src), len(texts)))
        ids.append(len(texts))
        texts.append(" ".join(words))
        labels.append(labels[src])
    return ids, texts, labels, pairs


def token_crc_sum(texts, end_marker: str | None) -> int:
    """Sum over docs of crc32 of the concatenated word pieces a lossless
    tokenizer must reproduce: words each followed by ``end_marker`` (BPE),
    or simply concatenated (Unigram)."""
    tail = end_marker or ""
    return sum(
        zlib.crc32("".join(w + tail for w in ascii_words(t)).encode())
        for t in texts
    )


def make_embeddings(seed: int, n: int, dim: int, n_queries: int, per_group: int = 20):
    """Unit vectors in tight groups of about ``per_group`` around random
    directions, so each query's top-10 is well separated from the rest;
    queries are perturbed copies of corpus rows."""
    rng = rng_for(seed, "embeddings")
    centres = rng.normal(size=(n // per_group, dim))
    v = centres[rng.integers(len(centres), size=n)] + 0.15 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    q = v[rng.choice(n, size=n_queries, replace=False)].astype(np.float64)
    q += 0.05 * rng.normal(size=q.shape)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return v, q.astype(np.float32)


def topk_oracle(corpus: np.ndarray, queries: np.ndarray, k: int = 10):
    """Brute-force cosine top-k ids per query (rows are unit vectors)."""
    sims = queries.astype(np.float64) @ corpus.astype(np.float64).T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
