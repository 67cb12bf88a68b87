"""Locate knn_join's serial term at bench shape (round-7 scaling follow-up).

Reproduces bench.py's q_knn exactly (points = n_pages//4 synthetic urban
field, probes = 2000*mult, k=10, broadcast_probes past-10k rule) with the
Spark event log enabled, then parses the log into a per-job / per-stage
wall-time table: stages whose duration barely moves between ``--cpus 2``
and ``--cpus 8`` (pin with taskset externally) are the serial term the
mult-64 Amdahl decomposition (26.3s @2 vs 17.8s @8 => s ~ 15s) points at.

The density probe (``knn._auto_res_info``) is timed as its own phase; its
res is then passed to ``knn_join`` explicitly, so the timed calls run the
same candidate path as bench.py without probing again. ``--res`` replaces
the probed res with a fixed one.

Usage:
    taskset -c 0-1 python tools/profile_knn.py --cpus 2 --mult 32
    taskset -c 0-7 python tools/profile_knn.py --cpus 8 --mult 32
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from landlensdb_spark import synth  # noqa: E402
from landlensdb_spark.operators import knn as knn_mod  # noqa: E402
from landlensdb_spark.operators.knn import knn_join  # noqa: E402
from landlensdb_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--mult", type=float, default=32.0)
    ap.add_argument("--sf-rows", type=int, default=600_000,
                    help="sf0.1 lineitem row count (n_pages = sf_rows * mult)")
    ap.add_argument("--res", type=int, default=None,
                    help="skip the density probe and run at this res")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    log_dir = f"/tmp/llb_knn_eventlog_{args.cpus}"
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    spark = get_spark(
        "knn-profile",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(2 * args.cpus, 16),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_pages = int(args.sf_rows * args.mult)
    k = F.col("id")
    pts = spark.range(n_pages // 4).select(
        k.alias("point_id"),
        synth.probe_lon_col(k).alias("lon"),
        synth.probe_lat_col(k).alias("lat"),
    )
    n_probes = int(2000 * args.mult)
    prb = (
        spark.range(n_probes)
        .select((k * 13 + 7).alias("pk"))
        .select(
            F.col("pk").alias("probe_id"),
            synth.probe_lon_col(F.col("pk")).alias("lon"),
            synth.probe_lat_col(F.col("pk")).alias("lat"),
        )
    )

    phases: list[tuple[str, float]] = []

    if args.res is None:
        t0 = time.time()
        res, met = knn_mod._auto_res_info(pts, "lon", "lat", 10)
        phases.append(("auto_res probe", time.time() - t0))
        print(f"auto_res -> res={res} met_target={met}", flush=True)
    else:
        res = args.res

    # res is explicit from here on: knn_join runs its one candidate path
    # without a second density probe inside the timed calls
    for i in range(args.repeat):
        t0 = time.time()
        out = knn_join(
            prb, pts, k=10, res=res,
            broadcast_probes=n_probes <= 10_000,
        ).count()
        phases.append((f"knn_join.count #{i}", time.time() - t0))
        print(f"knn rows={out}", flush=True)

    spark.stop()

    # ---- parse the event log ------------------------------------------------
    evs = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus_") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        evs.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in evs:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "t0": e["Submission Time"],
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
            }
        elif ev == "SparkListenerJobEnd":
            jobs.setdefault(e["Job ID"], {})["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "tasks": si["Number of Tasks"],
                "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                / 1000.0,
                "t0": si.get("Submission Time", 0),
            }

    print("\n== phases ==")
    for name, dt in phases:
        print(f"  {name:24s} {dt:8.2f}s")

    print("\n== jobs ==")
    t_origin = min(j["t0"] for j in jobs.values() if "t0" in j)
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t0" not in j or "t1" not in j:
            continue
        wall = (j["t1"] - j["t0"]) / 1000.0
        print(f"  job {jid:3d}  start+{(j['t0']-t_origin)/1000.0:7.2f}s  "
              f"wall {wall:7.2f}s")
        for sid in sorted(j["stages"]):
            if sid in stages:
                s = stages[sid]
                print(f"      stage {sid:3d}  wall {s['wall']:7.2f}s  "
                      f"tasks {s['tasks']:4d}  {s['name']}")


if __name__ == "__main__":
    main()
