"""Re-record the small event log the ledger tests read.

Runs two tagged calls on a tiny input at local[2] with the event log on,
then keeps only the events the ledger reads, with their task metrics and
accumulables trimmed to the fields it uses. Run from the repository root::

    python3 perfbench/tests/record_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
DATA = Path(__file__).resolve().parent / "data"
KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
}
TASK_METRICS = ("Executor CPU Time", "Input Metrics", "Shuffle Write Metrics", "Disk Bytes Spilled")


def trim(e: dict) -> dict:
    props = {k: v for k, v in (e.get("Properties") or {}).items() if k.startswith("perfbench.")}
    if e["Event"] == "SparkListenerJobStart":
        return {"Event": e["Event"], "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Properties": props}
    if e["Event"] == "SparkListenerJobEnd":
        return {"Event": e["Event"], "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if e["Event"] == "SparkListenerStageSubmitted":
        return {"Event": e["Event"], "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]},
                "Properties": props}
    if e["Event"] == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        return {"Event": e["Event"], "Stage Info": {
            k: info.get(k) for k in ("Stage ID", "Submission Time", "Completion Time")}}
    info = e["Task Info"]
    return {
        "Event": e["Event"], "Stage ID": e["Stage ID"],
        "Task Info": {
            "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
            "Accumulables": [{"Name": a["Name"], "Update": a["Update"]}
                             for a in info.get("Accumulables", []) if "Python" in str(a.get("Name"))],
        },
        "Task Metrics": {k: e["Task Metrics"][k] for k in TASK_METRICS},
    }


def main() -> None:
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = str(ROOT)
    from pyspark.sql import functions as F

    from landlensdb_spark.session import get_spark
    from perfbench.workloads import Tracer

    log_dir = tempfile.mkdtemp()
    spark = get_spark("perfbench-record", master="local[2]", shuffle_partitions=4, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
    })
    tr = Tracer(spark.sparkContext, True)
    with tr.op("arrow", 0):
        with tr.span("identity"):
            df = spark.range(0, 20_000, numPartitions=4).mapInArrow(lambda it: it, "id long")
        with tr.span("identity", "action"):
            df.groupBy((F.col("id") % 7).alias("k")).count().collect()
    with tr.op("plain", 0):
        with tr.span("plain", "action"):
            spark.range(0, 1000, numPartitions=2).count()
    spark.stop()
    from perfbench.ledger import read_events

    events = [trim(e) for e in read_events(log_dir) if e.get("Event") in KEEP]
    shutil.rmtree(log_dir)
    DATA.mkdir(exist_ok=True)
    with open(DATA / "eventlog_small.jsonl", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    (DATA / "calls_small.json").write_text(json.dumps(tr.calls, indent=1))


if __name__ == "__main__":
    main()
