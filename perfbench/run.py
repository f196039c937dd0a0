"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

One client runs a closed loop of operations on ``local[<cores>]`` in this
process, in whole passes for at least ``--seconds``, and checks every
answer against the numpy oracle. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
Spark event log is on, spans are recorded, and the metrics are the
per-layer ones. The line before it carries the per-operation detail, the
session conf and the ``SPARK_GRAFT_*`` variables. See README.md in this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "scan_cpu_s": "s",
    "join_cpu_s": "s",
    "bytes_per_row": "bytes",
}

PER_LAYER = {
    "session.start_s": "s",
    "driver.call_s": "s",
    "driver.gap_s": "s",
    "driver.jobs": "count",
    "driver.tasks": "count",
    "sources.files_read_frac": "fraction",
    "sources.rows_read_per_row_out": "ratio",
    "sources.bytes_read": "bytes",
    "sources.bytes_written": "bytes",
    "cx.straddle_files_frac": "fraction",
    "pack.file_bbox_overlap": "ratio",
    "pack.rows_skew": "ratio",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_in": "bytes",
    "python.bytes_out": "bytes",
    "sjoin.candidates_per_match": "ratio",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "dedup.candidate_pairs_per_dup": "ratio",
    "ann.rows_scanned_frac": "fraction",
    "ann.recall_at_10": "fraction",
    "setup.write_step_p50_s": "s",
    "proc.peak_rss_mb": "MB",
    "proc.python_workers": "count",
    "trace.op_p50_s": "s",
}

# per-kind medians under the names the workload descriptions use
KIND_NAMES = {
    "sjoin.broadcast": "sjoin_broadcast_s",
    "sjoin.grid": "sjoin_grid_s",
    "sjoin.nearest": "sjoin_nearest_s",
    "dedup": "dedup_s",
    "tokenize": "tokenize_s",
    "ann.ivfpq": "ann_probe_ivfpq_s",
    "ann.ivfsq8": "ann_probe_ivfsq8_s",
    "langid": "langid_s",
}


# operation index of the warm-up calls: past any index a timed loop reaches,
# so warm-up inputs (viewport boxes) never repeat timed ones
WARM_UP_INDEX = 4000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace_dir: str | None) -> None:
    """Environment for the session and its Python workers. Must run
    before the JVM starts: workers inherit it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def start_session():
    from spatialpandas_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]", shuffle_partitions=cores())
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def record(kind, seconds, ok, rows, timed, res=None, span=None, checked=None) -> dict:
    """One step of a run. ``checked`` steps count as attempted operations;
    by default those are the timed ones."""
    rec = {"kind": kind, "s": seconds, "ok": bool(ok), "rows": rows, "timed": timed, "res": res,
           "checked": timed if checked is None else checked}
    if span is not None:
        span.attrs.update(ok=bool(ok), rows_out=rows)
        rec["span"] = span
    return rec


def run_setup(spark, w, tr) -> list[dict]:
    """The workload's library set-up, one traced operation per step, then
    its correctness check, which counts as an attempted operation."""
    recs = []
    for kind, fn, step in w.setup_steps(spark):
        with tr.op(kind) as span:
            t0 = time.perf_counter()
            with tr.span(f"call:{fn.__name__}"):
                step()
            dt = time.perf_counter() - t0
        recs.append(record(kind, dt, True, w.setup_rows(kind), False, span=span))
        recs[-1]["setup"] = True
    ok = w.verify_setup(spark)
    if not ok:
        print("perfbench: set-up output failed its check", file=sys.stderr)
    recs.append(record("setup.verify", 0.0, ok, 0, False, checked=True))
    return recs


def one_op(spark, w, tr, i, kind):
    from tracing import tree_cpu_s

    res, ok, rows = None, False, 0
    with tr.op(kind) as span:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            res = w.execute(spark, tr, i, kind)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
    if res is not None:
        try:
            ok, rows = w.check(res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
    if not ok:
        print(f"perfbench: operation {i} ({kind}) failed its check", file=sys.stderr)
    rec = record(kind, dt, ok, rows, True, res, span)
    rec["cpu_s"] = cpu
    if span is not None and res is not None:
        span.attrs.update(w.trace_attrs(spark, tr, res))
    return rec


def warm_up(spark, w, tr) -> list[dict]:
    """One call of each operation kind, checked but not timed as an
    operation: it pays the kind's one-time costs (class loading, code
    generation, JIT compilation, Python worker start, broadcasts), so the
    timed passes that follow cost the same however many of them run. Its
    time counts toward ``setup_s``."""
    recs = []
    for j, kind in enumerate(dict.fromkeys(w.kinds)):
        recs.append(one_op(spark, w, tr, WARM_UP_INDEX + j, kind))
        recs[-1].update(timed=False, checked=True, warm=True)
    return recs


def run_loop(spark, w, tr, seconds):
    """Whole passes over the workload's cycle of operation kinds until
    ``seconds`` have passed, so every run times the same mix."""
    recs, i = [], 0
    deadline = time.perf_counter() + seconds
    while True:
        for kind in w.kinds:
            recs.append(one_op(spark, w, tr, i, kind))
            i += 1
        if time.perf_counter() >= deadline:
            return recs


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def per_pass(w, recs, key, kinds=None) -> float:
    """Median over passes of the per-pass sum of ``key``, over the
    operations of ``kinds`` (all by default)."""
    timed = [r for r in recs if r["timed"]]
    n = len(w.kinds)
    return statistics.median(
        sum(r[key] for r in timed[i:i + n] if kinds is None or r["kind"] in kinds)
        for i in range(0, len(timed), n))


def end_to_end(w, recs, setup_s):
    scan_kinds = set(w.kinds) - w.join_kinds
    return {
        "setup_s": setup_s,
        "scan_cpu_s": per_pass(w, recs, "cpu_s", scan_kinds),
        "join_cpu_s": per_pass(w, recs, "cpu_s", w.join_kinds),
        "bytes_per_row": w.bytes_per_row(),
    }


def detail(w, recs, spark) -> dict:
    """Per-kind latencies under the workload descriptions' names, set-up
    step times, plus the session conf and environment the run used."""
    timed = [r for r in recs if r["timed"]]
    checked = [r for r in recs if r["checked"]]
    kinds, cpus = {}, {}
    for r in timed:
        kinds.setdefault(r["kind"], []).append(r["s"])
        cpus.setdefault(r["kind"], []).append(r["cpu_s"])
    pass_cpu = per_pass(w, recs, "cpu_s")
    out = {
        "op_p50_s": statistics.median(r["s"] for r in timed),
        "pass_s": per_pass(w, recs, "s"),
        "pass_cpu_s": pass_cpu,
        # cpu_share: the kind's part of the pass CPU, which sizes the
        # regression of that kind its gate (scan_cpu_s or join_cpu_s) sees
        "kinds": {k: {"n": len(v), "p50_s": statistics.median(v), "p90_s": p90(v),
                      "cpu_p50_s": statistics.median(cpus[k]),
                      "cpu_share": per_pass(w, recs, "cpu_s", {k}) / pass_cpu}
                  for k, v in kinds.items()},
        "setup_steps": [[r["kind"], r["s"]] for r in recs if r.get("setup")],
        "warm_up": [[r["kind"], r["s"]] for r in recs if r.get("warm")],
        "failed_frac": sum(not r["ok"] for r in checked) / len(checked),
    }
    for k, v in kinds.items():
        if k in KIND_NAMES:
            out[KIND_NAMES[k]] = statistics.median(v)
    if w.name == "spatial":
        lat = [r["s"] for r in timed if r["kind"].startswith("cx.")]
        out.update(viewport_p50_s=statistics.median(lat), viewport_p90_s=p90(lat))
        ingest = [r for r in recs if r.get("setup") and r["kind"].endswith("polygon")]
        out["ingest_rows_per_s"] = sum(r["rows"] for r in ingest) / sum(r["s"] for r in ingest)
        out["ingest_bytes_per_row"] = w.ingest_bytes_per_row()
    if w.name == "corpus":
        out["ann_recall_at_10"] = min((r["res"]["recall"] for r in recs
                                       if r["kind"].startswith("ann.") and r["res"]
                                       and "recall" in r["res"]),
                                      default=0.0)
    conf = spark.sparkContext.getConf().getAll()
    out["session_conf"] = {k: v for k, v in sorted(conf)
                           if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                                            "spark.eventLog", "spark.local.dir"))}
    out["env"] = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}
    return out


def layer_rows(tr, recs, groups) -> list[dict]:
    """One layer row per traced operation, set-up steps included."""
    from tracing import join_layers

    rows = []
    for r in recs:
        if "span" not in r:
            continue
        row = join_layers(tr, r["span"], groups)
        row["setup"], row["warm"] = bool(r.get("setup")), bool(r.get("warm"))
        row["sources.manifest_s"] = sum(
            s.end - s.start for s in tr.descendants(r["span"].id) if s.name == "call:build_manifest")
        out_rows = row.get("rows_out") or 0
        row["sources.rows_read_per_row_out"] = (
            row["sources.rows_read"] / out_rows if out_rows else None)
        if "ann.index_rows" in row:
            row["ann.rows_scanned_frac"] = row["sources.rows_read"] / row["ann.index_rows"]
        # readings of the executed plans (SQL metrics in the event log)
        if row["kind"].startswith("cx.") and row["plan.files_read"]:
            row["cx.straddle_files_frac"] = row["plan.files_read_filtered"] / row["plan.files_read"]
        if "dedup.dup_pairs" in row:
            row["dedup.candidate_pairs_per_dup"] = row["plan.join_rows_max"] / row["dedup.dup_pairs"]
        if "sjoin.probe_group" in row and out_rows:
            probe = groups.get(row["sjoin.probe_group"]) or {}
            row["sjoin.candidates_per_match"] = probe.get("plan.join_rows_max", 0.0) / out_rows
        rows.append(row)
    return rows


# read from the set-up steps that write; every other layer metric is read
# from the timed operations of the loop
WRITE_LAYERS = ("sources.bytes_written",)

# layer readings that are zero by construction on some workload or in local
# mode (an exact constant is no measurement); they go to the detail line
DETAIL_LAYERS = ("python.boot_s", "shuffle.fetch_wait_s")


def layer_metrics(w, rows, session_start_s, sampler) -> tuple[dict, dict]:
    """Per-layer metrics and the layer readings that go to the detail line.
    Each per-operation value is the mean over the operations that have it;
    workload-level values are reported as they are."""
    loop = [r for r in rows if not r["setup"] and not r["warm"]]
    writes = [r for r in rows if r["setup"] and r["sources.bytes_written"] > 0]
    metrics = {}
    for name in PER_LAYER:
        vals = [r[name] for r in (writes if name in WRITE_LAYERS else loop)
                if isinstance(r.get(name), (int, float))]
        metrics[name] = statistics.fmean(vals) if vals else 0.0
    metrics.update(w.layout())
    metrics.update({
        "session.start_s": session_start_s,
        "setup.write_step_p50_s": statistics.median([r["wall_s"] for r in writes]),
        "proc.peak_rss_mb": sampler.peak_rss / 2**20,
        "proc.python_workers": sampler.peak_workers,
        "trace.op_p50_s": statistics.median([r["wall_s"] for r in loop]),
    })
    steps = {k: [r["wall_s"] for r in rows if r["setup"] and f".{k}." in r["kind"]]
             for k in ("append", "compact")}
    extra = {name: statistics.fmean(r[name] for r in loop) for name in DETAIL_LAYERS}
    extra.update({
        "ingest.append_s": steps["append"],
        "ingest.compact_s": steps["compact"],
        "sources.manifest_s": [[r["kind"], r["sources.manifest_s"]] for r in writes],
    })
    return metrics, extra


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _patch_manifest_timer(tr) -> None:
    """Record a span around each manifest rebuild. The library's own call
    sites look the function up through the module attribute, so they pick
    the wrapper up."""
    import spatialpandas_spark.sources.spatial_parquet as sp

    original = sp.build_manifest

    def build_manifest(*a, **k):
        with tr.span("call:build_manifest"):
            return original(*a, **k)

    sp.build_manifest = build_manifest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import spatialpandas_spark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(spatialpandas_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the library was imported from {spatialpandas_spark.__file__}, "
              f"not from the checkout {ROOT}", file=sys.stderr)
        return 2
    from tracing import ProcSampler, Tracer, event_log_files, parse_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, trace_dir)
    w = WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        w.generate()
        with ProcSampler() as sampler:
            spark, start_s = start_session()
            tr = Tracer(spark.sparkContext, enabled=bool(args.trace))
            if args.trace:
                _patch_manifest_timer(tr)
            w.spark = spark
            recs = run_setup(spark, w, tr) + warm_up(spark, w, tr)
            setup_s = start_s + sum(r["s"] for r in recs)
            recs += run_loop(spark, w, tr, args.seconds)
            info = detail(w, recs, spark)
            if args.trace:
                stop_session(spark)  # flushes the event log
                spark = None
                rows = layer_rows(tr, recs, parse_event_log(event_log_files(trace_dir)))
                metrics, info["layers"] = layer_metrics(w, rows, start_s, sampler)
                info["ops"] = rows
            else:
                metrics = end_to_end(w, recs, setup_s)
            info.update(session_start_s=start_s, setup_s=setup_s)
        checked = [r for r in recs if r["checked"]]
        failed = sum(not r["ok"] for r in checked)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"metrics": metrics, "detail": info}, f, indent=1, default=str)
    print(json.dumps({"detail": info}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
