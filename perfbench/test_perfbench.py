"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "tiny_eventlog.json")


class SmallSpatial(workloads.Spatial):
    N_POINTS = 2_000
    BATCH = 500
    N_BATCHES = 2
    N_REGIONS = 5
    N_DIAMONDS = 300
    N_QUERIES = 50


class SmallCorpus(workloads.Corpus):
    N_DOCS = 200
    N_VECS = 400
    N_QUERIES = 4


def _files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


@pytest.mark.parametrize("cls", [SmallSpatial, SmallCorpus])
def test_same_seed_gives_byte_identical_inputs(cls, tmp_path):
    a, b, c = (cls(seed, str(tmp_path / name)) for seed, name in ((3, "a"), (3, "b"), (4, "c")))
    for w in (a, b, c):
        w.generate()
    names = _files(a.raw)
    assert names and names == _files(b.raw) == _files(c.raw)
    _, mismatch, errors = filecmp.cmpfiles(a.raw, b.raw, names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a.raw, c.raw, names, shallow=False)
    assert mismatch, "another seed must give other inputs"


class Replay:
    """Stands in for a workload: answers each operation with ``answer``."""

    def __init__(self, inner, answer):
        self.inner, self.answer = inner, answer

    def execute(self, spark, tr, i, kind):
        return self.answer

    def check(self, res):
        return self.inner.check(res)

    def trace_attrs(self, spark, tr, res):
        return {}


def _viewport_answer(w, i):
    x0, y0, x1, y1 = rect = w.rects[i]
    px, py = w.xy[:, 0], w.xy[:, 1]
    m = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    return {"kind": "cx.point", "rect": rect, "gtype": "point",
            "hist": gen.hist_oracle(px[m], py[m], rect)}


def test_corrupted_answer_counts_as_failed(tmp_path):
    w = SmallSpatial(5, str(tmp_path))
    w.generate()
    i = next(i for i, r in enumerate(w.rects) if _viewport_answer(w, i)["hist"])
    good = _viewport_answer(w, i)
    bad = _viewport_answer(w, i)
    key = next(iter(bad["hist"]))
    bad["hist"][key] += 1
    recs = [run.one_op(None, Replay(w, ans), tracing.Tracer(), i, "cx.point")
            for ans in (good, bad)]
    assert [r["ok"] for r in recs] == [True, False]


def test_corrupted_join_and_corpus_answers_fail(tmp_path):
    j = SmallSpatial(6, str(tmp_path / "s"))
    j.generate()
    rows = [{"qid": q, "pid": int(p), "dist": float(d)}
            for q, (p, d) in enumerate(zip(j.nn_id, j.nn_d)) if d <= j.MAX_DISTANCE]
    assert j.check({"kind": "sjoin.nearest", "rows": rows})[0]
    rows[0] = dict(rows[0], pid=rows[0]["pid"] + 1)
    assert not j.check({"kind": "sjoin.nearest", "rows": rows})[0]

    c = SmallCorpus(6, str(tmp_path / "c"))
    c.generate()
    assert c.check({"kind": "dedup", "pairs": set(c.pairs)})[0]
    assert not c.check({"kind": "dedup", "pairs": set(list(c.pairs)[1:])})[0]


def test_parser_gives_expected_layer_table():
    groups = tracing.parse_event_log([FIXTURE])
    g = groups["perfbench-op-0"]
    assert (g["jobs"], g["tasks"], len(g["stage_spans"])) == (1, 4, 2)
    assert g["shuffle.write_bytes"] == 364 and g["shuffle.read_bytes"] == 364
    assert g["sources.rows_read"] == 1000
    assert g["exec.run_s"] == pytest.approx(1.021)
    assert g["exec.gc_s"] == pytest.approx(0.098)
    p = groups["perfbench-op-1"]
    assert (p["jobs"], p["tasks"]) == (1, 2)
    assert (p["python.bytes_in"], p["python.bytes_out"]) == (8608, 8352)
    assert p["python.boot_s"] == pytest.approx(2.703)
    assert p["python.init_s"] == pytest.approx(0.807)
    assert p["python.run_s"] == pytest.approx(4.399)
    assert groups[None]["tasks"] == 1 and groups[None]["python.run_s"] == 0
    assert groups["perfbench-op-2"]["sources.bytes_written"] == 1778

    # executed plans: two parquet scans of one file each, one under a row
    # filter; the range join's operator emitted 34 rows
    s = groups["perfbench-op-3"]
    assert (s["plan.files_read"], s["plan.files_read_filtered"]) == (2, 1)
    assert s["plan.join_rows_max"] == 0
    assert groups["perfbench-op-4"]["plan.join_rows_max"] == 34

    # an operation span around op 0's stages, 0.5 s longer than their extent
    t0 = min(s for s, _ in g["stage_spans"])
    t1 = max(e for _, e in g["stage_spans"])
    union = tracing.union_length(g["stage_spans"])
    tr = tracing.Tracer()
    op = tracing.Span(0, None, "demo", t0 - 0.25, t1 + 0.25, {"op": True})
    call = tracing.Span(1, 0, "call:demo", t0 - 0.25, t0 - 0.05)
    tr.spans = [op, call]
    row = tracing.join_layers(tr, op, groups)
    assert row["driver.jobs"] == 1 and row["driver.tasks"] == 4
    assert row["driver.call_s"] == pytest.approx(0.2)
    assert row["driver.gap_s"] == pytest.approx(t1 - t0 + 0.5 - union)
    assert row["self_s"]["demo"] == pytest.approx(t1 - t0 + 0.5 - 0.2)


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_plan_readings_become_layer_metrics():
    """Straddle share, dedup candidates and sjoin candidates come from the
    executed plans' SQL metrics of the operation (or of its probe job)."""
    Span = tracing.Span
    tr = tracing.Tracer()
    tr.spans = [
        Span(0, None, "cx.point", 0.0, 1.0, {"op": True, "rows_out": 10}),
        Span(1, None, "dedup", 1.0, 2.0, {"op": True, "rows_out": 5, "dedup.dup_pairs": 4}),
        Span(2, None, "sjoin.grid", 2.0, 3.0,
             {"op": True, "rows_out": 50, "sjoin.probe_group": tracing.group_id(3)}),
        Span(3, None, "probe.sjoin.grid", 3.0, 4.0, {"op": True}),
    ]
    groups = {}
    for sid, vals in ((0, {"plan.files_read": 8, "plan.files_read_filtered": 6}),
                      (1, {"plan.join_rows_max": 40}), (3, {"plan.join_rows_max": 120})):
        groups[tracing.group_id(sid)] = {**tracing._empty_group(), **vals}
    rows = run.layer_rows(tr, [{"span": s} for s in tr.spans[:3]], groups)
    assert rows[0]["cx.straddle_files_frac"] == 0.75
    assert rows[1]["dedup.candidate_pairs_per_dup"] == 10
    assert rows[2]["sjoin.candidates_per_match"] == 2.4
