#!/usr/bin/env python3
"""Forecast-cycle benchmark.

    python3 perfbench/run.py --workload forecast_cycle --seed 0 --seconds 1 --trace 0

Run from the root of a checkout. One process: start a ``local[nproc]``
session, land the seeded inputs (set-up), run one cold repetition, then
warm ones until ``--seconds`` have passed since it started, then check
the outputs. The last line of standard output is the result:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it stamps the environment and lists every repetition's
elapsed time. Exits non-zero when an output check fails. See
perfbench/README.md for the workloads, the metrics and which layer
should move which metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PER_LAYER = ("wall_s", "task_s", "cpu_s", "sched_gap_s", "jobs", "stages", "tasks",
             "shuffle_mb", "rows_out")
UNITS = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "sched_gap_s": "s",
         "shuffle_mb": "MB", "kept_ratio": "ratio"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, path: str, keys: tuple[str, ...]) -> int:
    """Sum of the ``keys`` lines (in kB) of /proc/<pid>/<path>."""
    try:
        with open(f"/proc/{pid}/{path}") as f:
            return sum(int(line.split()[1]) for line in f if line.startswith(keys))
    except OSError:
        return 0


def children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(pid: int, children: dict[int, list[int]] | None = None) -> list[int]:
    children = children_map() if children is None else children
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def rss_parts_mb(jvm_pid: int) -> dict:
    """Peak RSS (VmHWM) of the driver JVM and of the processes it
    started (the Python daemon), plus the private memory, at the time
    of the call, of every process those forked (the Python workers,
    counted in ``n_workers``). A worker shares the daemon's pages
    copy-on-write, so its own VmHWM would count them once per worker.
    Workers that have already exited are not counted."""
    children = children_map()
    direct = children.get(jvm_pid, [])
    forked = [p for d in direct for p in descendants(d, children)]
    parts = {
        "jvm": _status_kb(jvm_pid, "status", ("VmHWM:",)),
        "daemon": sum(_status_kb(p, "status", ("VmHWM:",)) for p in direct),
        "workers": sum(
            _status_kb(p, "smaps_rollup", ("Private_Clean:", "Private_Dirty:"))
            for p in forked
        ),
    }
    return {k: kb / 1024.0 for k, kb in parts.items()} | {"n_workers": len(forked)}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(spark, jvm) -> None:
    """Stop the session, then the gateway JVM and the Python daemon and
    workers under it; wait for each to end, killing what outlives 30 s."""
    pids = descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    for sig in (None, signal.SIGKILL):
        if sig:
            for p in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        deadline = time.monotonic() + 30
        while (pids := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv), WORKLOADS


def per_layer_metrics(traced, untraced_walls: list[float], wl) -> dict:
    """Every layer's sums over the spans of the traced repetition (a
    layer the workload does not run reads 0), its plan counts, and the
    remainder of its wall time that no layer span covers."""
    from workloads import LAYERS

    wall, spans, counts = traced
    table = {layer: dict.fromkeys(PER_LAYER, 0) for layer in LAYERS}
    for s in spans:
        row = table[s.layer]
        row["wall_s"] += s.wall_s
        for k in ("task_s", "cpu_s", "sched_gap_s", "jobs", "stages", "tasks", "shuffle_mb"):
            row[k] += s.stats[k]
        rows = wl.rows_out(s)
        row["rows_out"] += s.stats["output_records"] if rows is None else rows
    metrics = {
        f"{layer}.{m}": (v, UNITS.get(m, "count"))
        for layer, row in table.items()
        for m, v in row.items()
    }
    for key in ("windfield.pairs_evaluated", "windfield.kept_ratio", "hazard.k4_pairs"):
        metrics[key] = (counts.get(key, 0), UNITS.get(key.split(".")[1], "count"))
    metrics["windfield.pairs_per_s"] = (wl.raw_pairs / table["windfield"]["wall_s"], "1/s")
    metrics["trace.wall_s"] = (wall, "s")
    metrics["trace.overhead_s"] = (wall - statistics.median(untraced_walls), "s")
    metrics["unattributed.wall_s"] = (wall - sum(r["wall_s"] for r in table.values()), "s")
    return metrics


def main(argv=None) -> int:
    age0 = process_age_s()
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)  # the package, bench.py, shuffle_audit.py, tests/
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    args, workloads = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # python workers import the package; spill and temp files stay in
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from bench import _steal_pct, _steal_sample, wait_for_idle

    idle = wait_for_idle(timeout_s=0.0)
    load_start = os.getloadavg()
    steal0 = _steal_sample()

    import pyspark

    from ibf_typhoon_data_pipeline_spark.session import get_spark

    from recorder import Recorder
    from workloads import digest

    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "idle_at_start": idle,
    }
    try:
        spark.range(1000).selectExpr("sum(id)").collect()  # first job: JVM warm
        session_s = age0 + time.perf_counter() - t0
        wl = workloads[args.workload](spark, work, args.seed)
        wl.prepare()
        wl.land()
        setup_s = age0 + time.perf_counter() - t0

        rec = Recorder(spark, traced=False)
        tracer = Recorder(spark, traced=True)
        reps = []  # (traced, wall_s, spans, counts)

        def one(r) -> None:
            t = time.perf_counter()
            spans, counts = wl.rep(r)
            reps.append((r.traced, time.perf_counter() - t, spans, counts))

        t_first = time.perf_counter()
        one(rec)
        if args.trace:
            # the traced rep goes before the untraced one, so trace
            # overhead reads high, never low, from the warm-up between
            one(tracer)
            one(rec)
        while time.perf_counter() - t_first < args.seconds:
            one(rec)

        t_check = time.perf_counter()
        outs = [wl.outputs(spans) for _, _, spans, _ in reps]
        fails = [f"rep {i}: outputs differ from rep 0" for i, o in enumerate(outs)
                 if digest(o) != digest(outs[0])]
        fails += wl.check(outs[0])
        rss_parts = rss_parts_mb(jvm.pid)
        check_s = time.perf_counter() - t_check
    finally:
        stop_all(spark, jvm)

    warm = [r for r in reps[1:] if not r[0]]
    warm_walls = [r[1] for r in warm]
    if warm:
        stamp["wall_s"] = statistics.median(warm_walls)
        stamp["pairs_per_s"] = wl.raw_pairs / statistics.median(
            sum(s.wall_s for s in r[2] if s.layer == "windfield") for r in warm
        )
    attempted = sum(len(r[2]) for r in reps) + 1  # +1: the once-per-run check
    failed = len(fails)
    total_s = age0 + time.perf_counter() - t0
    stamp.update(
        load_start=[round(x, 2) for x in load_start],
        load_end=[round(x, 2) for x in os.getloadavg()],
        steal_pct=_steal_pct(steal0, _steal_sample()),
        session_s=round(session_s, 3),
        setup_s=round(setup_s, 3),
        check_s=round(check_s, 3),
        peak_rss_mb=round(rss_parts["jvm"] + rss_parts["daemon"] + rss_parts["workers"], 1),
        rss_mb={k: round(v, 1) for k, v in rss_parts.items()},
        reps=[
            {"traced": tr, "wall_s": round(w, 3),
             "layers": {s.layer: round(s.wall_s, 3) for s in sp}}
            for tr, w, sp, _ in reps
        ],
        failed_ratio=failed / attempted,
        failures=fails,
        total_s=round(total_s, 2),
    )
    if args.trace:
        (traced,) = [(w, sp, c) for tr, w, sp, c in reps if tr]
        metrics = per_layer_metrics(traced, warm_walls, wl)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"stamp": stamp, "per_layer": {k: v for k, (v, _) in metrics.items()},
                       "spans": [{"layer": s.layer, "wall_s": s.wall_s, **s.stats}
                                 for s in traced[1]]},
                      f, indent=1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_s": (reps[0][1], "s"),
        }
    print(json.dumps({"perfbench": stamp}))
    print(json.dumps({
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
