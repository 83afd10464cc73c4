"""Records the small event log ``test_eventlog.py`` reads.

    python3 perfbench/record_fixture.py

Runs two traced spans over a tiny frame (an aggregate with a shuffle, and
an Arrow pandas UDF) with the event log on, then keeps only the events
and fields the parser reads, with the checkout's path taken out of call
sites, split into two rolling parts. Writes
``perfbench/testdata/eventlog/`` and ``perfbench/testdata/spans.json``.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

import session  # noqa: E402
import tracer as tr  # noqa: E402

HERE = Path(__file__).resolve().parent
OUT = HERE / "testdata"
KEEP = {
    "SparkListenerJobStart": ["Job ID", "Submission Time", "Stage IDs", "Properties"],
    "SparkListenerJobEnd": ["Job ID", "Completion Time"],
    "SparkListenerStageSubmitted": ["Stage Info", "Properties"],
    "SparkListenerTaskEnd": ["Stage ID", "Stage Attempt ID", "Task Info", "Task Metrics"],
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": [
        "executionId", "sparkPlanInfo"],
    # AQE re-plans with new metric accumulators
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate": [
        "executionId", "sparkPlanInfo"],
}
PROPS = ["spark.jobGroup.id", "callSite.short"]


def _plus_one(v: pd.Series) -> pd.Series:
    return v + 1


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": node["metrics"],
        "children": [_plan(c) for c in node["children"]],
    }


def _trim(e: dict, root: str) -> dict | None:
    keep = KEEP.get(e["Event"])
    if keep is None:
        return None
    out = {"Event": e["Event"], **{k: e[k] for k in keep if k in e}}
    if "Properties" in out:
        props = {k: out["Properties"][k] for k in PROPS if k in out["Properties"]}
        if "callSite.short" in props:
            props["callSite.short"] = props["callSite.short"].replace(root + "/", "")
        out["Properties"] = props
    if "Stage Info" in out:
        out["Stage Info"] = {"Stage ID": out["Stage Info"]["Stage ID"]}
    if "Task Info" in out:
        info = out["Task Info"]
        out["Task Info"] = {
            "Launch Time": info["Launch Time"],
            "Finish Time": info["Finish Time"],
            "Accumulables": [
                {k: a[k] for k in ("ID", "Name", "Update", "Internal") if k in a}
                for a in info.get("Accumulables", [])
            ],
        }
    if "sparkPlanInfo" in out:
        out["sparkPlanInfo"] = _plan(out["sparkPlanInfo"])
    return out


def main() -> None:
    session.prepare_imports()
    raw_dir = session.WORK / "fixture_eventlog"
    shutil.rmtree(raw_dir, ignore_errors=True)
    spark = session.spark_session(raw_dir)
    from pyspark.sql import functions as F

    plus_one = F.pandas_udf(_plus_one, "long")

    t = tr.Tracer(spark.sparkContext)
    df = spark.range(0, 2000, numPartitions=4)
    with t.span("op", op=0):
        with t.span("agg"):
            df.groupBy((F.col("id") % 7).alias("k")).count().collect()
        with t.span("udf"):
            df.select(F.sum(plus_one("id"))).collect()
    session.stop(spark)

    from eventlog import read_events

    events = [x for e in read_events(raw_dir) if (x := _trim(e, str(session.ROOT)))]
    shutil.rmtree(OUT, ignore_errors=True)
    log = OUT / "eventlog" / "eventlog_v2_local-0"
    log.mkdir(parents=True)
    half = len(events) // 2
    for part, chunk in ((1, events[:half]), (2, events[half:])):
        with open(log / f"events_{part}_local-0", "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
    (OUT / "spans.json").write_text(json.dumps(t.spans, indent=1))
    shutil.rmtree(raw_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
