"""Layer-ledger benchmark for the landlensdb_spark geo engine.

Run from the repository root::

    python3 perfbench/run.py --workload geo_read_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke-sf <sf0.1 directory> --expect-bench-checks

One driver process runs the workload at ``local[<cpus>]`` as a closed loop
with one client: one operation at a time, each checked against expected
numbers computed without Spark. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` spends half the time untraced, restarts the session
with Spark's event log on, spends the other half traced, and prints the
per-layer ledger (also written to ``perfbench/_work/``). The last stdout
line is the JSON result; the line before it is a summary holding every
named end-to-end metric with its unit. The exit code is 1 when an
operation failed or gave a wrong answer, or when the traced ledger does
not account for an operation's untraced median within ``ACCOUNTING_BOUND``.
See ``perfbench/README.md`` for the workloads, metrics and layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3
WARMUP_ITERATIONS = 2
#: four samples an operation: the JIT's last large gain on the geo
#: operations lands on the second or third measured iteration at random,
#: and three samples put it in or out of the middle one
MIN_ITERATIONS = 4
#: HotSpot's default tiered thresholds leave Spark's hot paths in C1 for
#: the first ~5 iterations (knn 2.7 s falling to 1.8 s on 4 cores), so a
#: short run would measure the JIT, not the engine. Lower thresholds settle
#: knn after the first call; the geo operations still gain about 30% over
#: the next ten iterations, and a session restart keeps that gain, so it is
#: the JVM's (thousands of Spark SQL methods compiled a second throughout).
JIT_OPTS = (
    "-XX:Tier3InvocationThreshold=20 -XX:Tier3MinInvocationThreshold=10 "
    "-XX:Tier3CompileThreshold=200 -XX:Tier3BackEdgeThreshold=6000 "
    "-XX:Tier4InvocationThreshold=500 -XX:Tier4MinInvocationThreshold=60 "
    "-XX:Tier4CompileThreshold=1000 -XX:Tier4BackEdgeThreshold=4000"
)
#: the traced run's per-layer time (job walls plus driver time, construction
#: included) must match each operation's untraced median within this share.
#: Same-seed runs on a shared 4-core host differ by up to 20%, and a traced
#: run has only a few samples of each kind, so 25% trips on noise; a ledger
#: that misses a layer's span misses far more than 40%.
ACCOUNTING_BOUND = 0.4
#: every named end-to-end metric, printed in the summary line of each run
E2E_NAMES = [
    "setup_s", "wall_s", "rows_per_s",
    "extract_pip_tile_s", "tile_export_s", "snap_s", "knn_s", "corpus_prep_s", "ingest_s",
    "resume_s", "ops_failed_frac", "peak_rss_mb",
]
LAYERS = ["fused", "extract", "tiles", "snap", "knn", "corpus_prep_over", "pipeline", "checkpoint"]
EXTRA_METRICS = [
    "extract.kernel_rows_per_s",
    "pip_join.refine_rows_per_s",
    "cells.encode_rows_per_s",
    "scan.noop_s",
    "boundary.identity_s",
    "pipeline.write_amp",
    "pipeline.files_written",
]
#: bench.py's ``checks`` block at sf0.1, which the smoke mode reproduces
BENCH_CHECKS_SF01 = {
    "tiles": 240029, "snapped": 43128, "knn_rows": 20000,
    "export_tiles": 240007, "corpus_docs": 3221,
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host RAM, capped at the library's 24g default."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(24, kb // (4 * 1024 * 1024)))}g"


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants (driver, JVM,
    Python daemon and workers), from /proc. Each process counts its
    proportional share (Pss) of pages it shares: the workers fork from one
    daemon, and summing their plain RSS would count its pages once per
    worker."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            kids[int(stat[stat.rindex(")") + 2:].split()[1])].append(int(d))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
        todo.extend(kids.get(p, []))
    return total_kb / 1024


class RssSampler:
    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Session:
    """The Spark session, restartable in the same JVM."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, trace: bool = False):
        from landlensdb_spark.session import get_spark

        n = cpu_count()
        conf = {
            "spark.driver.memory": driver_memory(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Xms{driver_memory()} {JIT_OPTS}",
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.eventLog.enabled": "true" if trace else "false",
        }
        if trace:
            shutil.rmtree(f"{self.work}/eventlog", ignore_errors=True)
            os.makedirs(f"{self.work}/eventlog")
            conf.update({
                "spark.eventLog.dir": f"file://{self.work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.stop()
        self.spark = get_spark("perfbench", master=f"local[{n}]",
                               shuffle_partitions=max(2 * n, 16), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


class Tally:
    """Attempted/failed operation counts and per-op timings."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = defaultdict(list)
        self.walls: list[float] = []


def run_iteration(wl, ops, tr, tally: Tally, iteration: int, record: bool) -> None:
    wall = 0.0
    for op in ops:
        if op.prepare is not None:
            op.prepare()
        tally.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.op(op.name, iteration):
                got = op.run()
            dt = time.perf_counter() - t0
            ok = wl.check(op.name, got)
        except Exception:
            traceback.print_exc()
            tally.failed += 1
            continue
        if not ok:
            print(f"perfbench: {op.name} returned {got}, expected {wl.expected.get(op.name)}",
                  file=sys.stderr)
            tally.failed += 1
        wall += dt
        if record:
            tally.times[op.name].append(dt)
    if record:
        tally.walls.append(wall)


def run_window(wl, ops, tr, tally: Tally, seconds: float, first: int = 0,
               min_iterations: int = MIN_ITERATIONS) -> int:
    """Closed loop: iterations back to back until ``seconds`` have passed
    (and at least ``min_iterations`` ran). Returns the next iteration number."""
    deadline = time.perf_counter() + seconds
    it = first
    while it - first < min_iterations or time.perf_counter() < deadline:
        run_iteration(wl, ops, tr, tally, it, record=True)
        it += 1
    return it


def medians(tally: Tally) -> dict[str, float]:
    return {name: statistics.median(ts) for name, ts in tally.times.items()}


def means(tally: Tally) -> dict[str, float]:
    """Per-operation means, which the end-to-end timings report: the JIT
    still speeds every operation up over the measured iterations, and the
    mean of that curve moves less from run to run than its middle sample
    (over ten seeds, tile_export's quartile spread was 0.12 as a mean and
    0.18 as a median)."""
    return {name: statistics.mean(ts) for name, ts in tally.times.items()}


def ledger_metrics(wl, traced_calls: list[dict], work: str, untraced: Tally, traced: Tally,
                   extras: dict) -> tuple:
    from perfbench import ledger

    jobs, stages = ledger.index_events(ledger.read_events(f"{work}/eventlog"))
    per_iter = defaultdict(list)
    calls = []
    for c in traced_calls:
        row = ledger.op_ledger(c["t0"], c["t1"], c["tag"], c["spans"], jobs, stages)
        per_iter[c["iter"]].append(row["layers"])
        calls.append({"op": c["op"], "iter": c["iter"], **row})
    metrics = ledger.median_layers([ledger.sum_rows(r) for r in per_iter.values()], LAYERS)
    metrics.update({k: float(extras.get(k, 0.0)) for k in EXTRA_METRICS})
    u_ops = medians(untraced)
    accounting = {}
    for name in wl.op_names:
        mine = [c for c in calls if c["op"] == name]
        accounting[name] = {
            "untraced_s": u_ops[name],
            "traced_s": statistics.median(c["wall_s"] for c in mine),
            "construct_s": statistics.median(c["construct_s"] for c in mine),
            "layers_s": statistics.median(ledger.layers_s(c["layers"]) for c in mine),
        }
    metrics["trace.overhead_s"] = statistics.median(traced.walls) - statistics.median(untraced.walls)
    metrics["trace.accounting_gap_frac"] = max(
        abs(a["layers_s"] / a["untraced_s"] - 1.0) for a in accounting.values()
    )
    return metrics, {"calls": calls, "accounting": accounting}


def bench(args) -> int:
    from perfbench.workloads import WORKLOADS, Tracer

    work = str(ROOT / "perfbench" / "_work" / f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_env(work)
    load_start = os.getloadavg()
    sess = Session(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        jvm_start_s = time.perf_counter() - t0

        # set-up, several times: new session + inputs + dims. Stopping the
        # old session is teardown, left out: it takes 0.1 s or 0.5 s at random
        setups = []
        for i in range(SETUPS):
            sess.stop()
            t0 = time.perf_counter()
            spark = sess.start()
            wl.generate(f"{work}/input{i}")
            tr = Tracer(spark.sparkContext, False)
            ops = wl.bind(spark, tr)
            setups.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(f"{work}/input{i - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        wl.compute_expected()
        expected_s = time.perf_counter() - t0

        tally = Tally()
        t0 = time.perf_counter()
        for _ in range(WARMUP_ITERATIONS):
            run_iteration(wl, ops, tr, tally, -1, record=False)
        warmup_s = time.perf_counter() - t0
        wl.reset_detail()
        metrics = ledger_path = None
        with RssSampler() as rss:
            if not args.trace:
                run_window(wl, ops, tr, tally, args.seconds)
            else:
                # untraced, traced, untraced: the untraced samples bracket the
                # traced ones in time, so the JIT's gain over the run does not
                # read as tracing cost. The event log is fixed per session, so
                # each switch restarts it and warms its new Python workers.
                traced, it = Tally(), 0
                for on, share in ((False, 0.25), (True, 0.5), (False, 0.25)):
                    if on or it:
                        spark = sess.start(trace=on)
                        tr = Tracer(spark.sparkContext, False)
                        ops = wl.bind(spark, tr)
                        run_iteration(wl, ops, tr, tally, -1, record=False)
                    tr.enabled = on
                    it = run_window(wl, ops, tr, traced if on else tally, args.seconds * share,
                                    first=it, min_iterations=2)
                    tr.enabled = False
                    if on:
                        calls = tr.calls
                        extras = wl.extra_metrics(spark, tr)
                tally.attempted += traced.attempted
                tally.failed += traced.failed
        summary_ops = means(tally)
        if args.trace:
            metrics, detail = ledger_metrics(wl, calls, work, tally, traced, extras)
            ledger_path = ROOT / "perfbench" / "_work" / f"ledger-{args.workload}-seed{args.seed}.json"
            ledger_path.write_text(json.dumps({"workload": args.workload, "seed": args.seed,
                                               "metrics": metrics, **detail}, indent=1))
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    wall = statistics.mean(tally.walls)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "rows_per_s": wl.rows_per_iteration() / wall,
        **{f"op{i}_s": summary_ops[op] for i, op in enumerate(wl.op_names, 1)},
        "peak_rss_mb": rss.peak,
    }
    failed_frac = tally.failed / tally.attempted
    named = {**{f"{k}_s": v for k, v in summary_ops.items()}, **wl.op_detail(),
             "ops_failed_frac": failed_frac, **e2e}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpu_count(), "loadavg_at_start": load_start, "driver_memory": driver_memory(),
        "jvm_start_s": jvm_start_s, "setup_runs_s": setups,
        "expected_s": expected_s, "warmup_s": warmup_s, "iterations": len(tally.walls),
        **{f"op{i}": op for i, op in enumerate(wl.op_names, 1)},
        # every named end-to-end metric; null for operations this workload does not run
        "end_to_end": {k: {"value": named.get(k), "unit": unit_of(k)} for k in E2E_NAMES},
        "op_samples_s": dict(tally.times),
        "sizes": wl.sizes,
        **({"ledger": str(ledger_path), "accounting": detail["accounting"]} if ledger_path else {}),
    }
    print(json.dumps(summary))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)}
                                  for k, v in (metrics or e2e).items()}}))
    status = 0
    if tally.failed:
        print(f"perfbench: {tally.failed} of {tally.attempted} operations failed", file=sys.stderr)
        status = 1
    if metrics and metrics["trace.accounting_gap_frac"] > ACCOUNTING_BOUND:
        print(f"perfbench: the ledger accounts for an operation's untraced median only within "
              f"{metrics['trace.accounting_gap_frac']:.1%} (bound {ACCOUNTING_BOUND:.0%}); "
              f"see {ledger_path}", file=sys.stderr)
        status = 1
    return status


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "write_amp", "task_skew")):
        return "ratio"
    return "count"


def smoke(sf_dir: str, expect_bench_checks: bool) -> int:
    """bench.py's five queries at its own shapes, printing its checks;
    with ``expect_bench_checks`` (sf0.1 only) they must equal bench.py's."""
    from pyspark.sql import functions as F

    from landlensdb_spark import synth, tables
    from landlensdb_spark.entry_queries import QUERIES
    from perfbench import workloads as W

    work = str(ROOT / "perfbench" / "_work" / f"smoke-{os.getpid()}")
    prepare_env(work)
    sess = Session(work)
    try:
        spark = sess.start()
        tr = W.Tracer(spark.sparkContext, False)
        n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        pages = f"{work}/pages"
        tables.pages(spark, n, clustered=True, num_partitions=128).write.parquet(pages)
        polys, net = synth.admin_polygons(spark), synth.road_network(spark)
        k = F.col("id")
        probes = spark.range(n // 5).select(
            k.alias("key"), synth.probe_lon_col(k).alias("lon"), synth.probe_lat_col(k).alias("lat")
        )
        checks = {
            "tiles": W.extract_pip_tile(spark, tr, pages, polys)[0],
            "snapped": W.snap(spark, tr, probes, net)[0],
            "knn_rows": W.knn(spark, tr, W.probe_points(spark, 0, 2000, "probe_id", 13, 7),
                              W.probe_points(spark, 0, n // 4, "point_id"), broadcast=True)[0],
            "export_tiles": W.tile_export(spark, tr, pages)[0],
            "corpus_docs": QUERIES["corpus_prep"](spark, sf_dir).count(),
        }
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"checks": checks}))
    if expect_bench_checks and checks != BENCH_CHECKS_SF01:
        print(f"perfbench: checks differ from bench.py's {BENCH_CHECKS_SF01}", file=sys.stderr)
        return 1
    return 0


def prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``
    and put the package on the workers' path."""
    for d in ("tmp", "local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke-sf", help="reproduce bench.py's checks on this sf directory")
    ap.add_argument("--expect-bench-checks", action="store_true",
                    help="with --smoke-sf on sf0.1: fail unless the checks equal bench.py's")
    args = ap.parse_args(argv)
    if args.smoke_sf:
        return smoke(args.smoke_sf, args.expect_bench_checks)
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    if not (ROOT / "landlensdb_spark" / "__init__.py").is_file():
        print(f"perfbench: no landlensdb_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
