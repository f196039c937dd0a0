"""Record ``tiny_eventlog.json``, the parser test's fixture.

    python perfbench/testdata/make_tiny_eventlog.py

Runs five tiny operations under the benchmark's job groups with the
event log on: a grouped count over a range (one shuffle), a
``mapInPandas`` pass (Python workers), a parquet write, a grouped count
over two parquet scans, one of them filtered, and a join of two ranges;
plus one job with no group. Keeps only the events and fields the parser
reads, so the fixture carries no host details (plan nodes keep their
names and metric ids, not their text).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

KEEP_TASK_ACCUMS = (
    "number of output rows",
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
)


def slim_plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in node["metrics"]],
            "children": [slim_plan(c) for c in node["children"]]}


def slim(e: dict) -> dict | None:
    kind = e["Event"]
    short = kind.rsplit(".", 1)[-1]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        keep = ("spark.jobGroup.id", "spark.sql.execution.id")
        return {"Event": kind, "Job ID": e["Job ID"], "Stage IDs": e["Stage IDs"],
                "Properties": {k: props[k] for k in keep if props.get(k) is not None}}
    if short in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": e["executionId"],
                "sparkPlanInfo": slim_plan(e["sparkPlanInfo"])}
    if short == "SparkListenerDriverAccumUpdates":
        return e
    if kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        return {"Event": kind, "Stage Info": {k: info.get(k) for k in (
            "Stage ID", "Submission Time", "Completion Time")}}
    if kind == "SparkListenerTaskEnd":
        accs = [{"ID": a["ID"], "Name": a["Name"], "Update": a.get("Update"),
                 "Metadata": a.get("Metadata")}
                for a in e["Task Info"].get("Accumulables", []) if a["Name"] in KEEP_TASK_ACCUMS]
        return {"Event": kind, "Stage ID": e["Stage ID"], "Task Metrics": e["Task Metrics"],
                "Task Info": {"Accumulables": accs}}
    return None


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    log_dir = tempfile.mkdtemp()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false").getOrCreate())
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-op-0", "groupby")
    spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 10).alias("k")).count().collect()
    sc.setJobGroup("perfbench-op-1", "python")

    def double(batches):
        for pdf in batches:
            yield pdf * 2

    spark.range(0, 1000, 1, 2).mapInPandas(double, "id long").collect()
    sc.setJobGroup("perfbench-op-2", "write")
    spark.range(0, 100, 1, 1).write.parquet(os.path.join(log_dir, "a"))
    spark.range(100, 200, 1, 1).write.parquet(os.path.join(log_dir, "b"))
    sc.setJobGroup("perfbench-op-3", "scan")
    scans = spark.read.parquet(os.path.join(log_dir, "a")).unionByName(
        spark.read.parquet(os.path.join(log_dir, "b")).filter(F.col("id") % 2 == 0))
    scans.groupBy((F.col("id") % 3).alias("k")).count().collect()
    # 34 multiples of 3 below 100: the join emits 34 rows
    sc.setJobGroup("perfbench-op-4", "join")
    spark.range(0, 100, 1, 1).join(spark.range(0, 300, 3, 1), "id").count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(0, 10, 1, 1).collect()
    spark.stop()
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    with open(path) as f, open(os.path.join(here, "tiny_eventlog.json"), "w") as out:
        for line in f:
            e = slim(json.loads(line))
            if e is not None:
                out.write(json.dumps(e) + "\n")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    sys.exit(main())
