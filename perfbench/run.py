#!/usr/bin/env python3
"""Crawl + catalog benchmark for scalpel_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_thin --seed 1 --seconds 5 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

* ``crawl_thin`` — ``CrawlEngine`` over a world generated from the seed
  (120 hosts, 6000 pages, politeness budgets 10–30) for 3 rounds:
  per-round coordination bound.
* ``catalog``    — scrape, near-dup, ANN and LSH-join catalog rows over
  the vendored sf0.01 tables in ``perfbench/catalog_tables`` (no seed).

Each run starts one Spark session on ``local[nproc]``, prepares its
inputs, runs an untimed warm-up, then runs closed-loop passes of the
workload (the Spark driver waits for every result) until ``--seconds`` have
elapsed. Every pass is checked against an oracle after the timed
interval: the single-threaded ``simulate_crawl`` for the crawls, the
DuckDB ``ORACLES`` SQL for the catalog.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and prints the per-layer metrics instead (event log,
Python boundary, engine phases, kernel replay without Spark, bloom
replay, the reference criterion shapes and the simulator baseline),
plus the tracing overhead against the last untraced run.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from perfbench import catalogbench, crawlbench, layers  # noqa: E402

WORKLOADS = {**crawlbench.WORKLOADS, **catalogbench.WORKLOADS}
#: end-to-end metrics, in report order; every workload reports all of them
E2E_METRICS = ["setup_s", "wall_s", "urls_per_s", "round_s_p50", "peak_rss_mb"]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(aqe: bool, event_dir: str | None):
    """Host-sized session through ``get_spark`` arguments and the
    environment only: ``local[nproc]``, shuffle partitions 2 × nproc,
    a driver heap that fits a small host, AQE per the README rule, the
    checkout on the Python workers' path, and every scratch file inside
    ``perfbench/.work``."""
    cpus = nproc()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_AQE"] = "1" if aqe else "0"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from scalpel_spark.spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits on EOF of its
    stdin), and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def _children(pid: int) -> list[int]:
    """Child processes started by any thread of ``pid``."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return kids


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM, MB) of each descendant of this
    process: the driver JVM and the Python workers below it."""
    todo = _children(os.getpid())
    peaks = {}
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return peaks


def cpu_times() -> list[int]:
    """Host-wide jiffies from ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _print_metrics(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name, m in metrics.items():
        print(f"{name:42s} {m['value']:>16.6g} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_setup0 = time.perf_counter()
    # the checkout must hold the program; fail before any JVM starts
    import scalpel_spark  # noqa: F401

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "events") if args.trace else None

    spark = start_spark(wl.aqe, event_dir)
    try:
        t_session = time.perf_counter()
        wl.prepare(spark, args.seed, run_dir)
        t_inputs = time.perf_counter()
        wl.warm_up(spark)
        t_warm = time.perf_counter()
        setup_s = t_warm - t_setup0

        cpu0 = cpu_times()
        body_t0 = time.time()
        t0 = time.perf_counter()
        passes = []
        while True:
            passes.append(wl.run_pass(spark, len(passes)))
            if time.perf_counter() - t0 >= args.seconds:
                break
        body_t1 = time.time()
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        rss = peak_rss_mb()

        t_check = time.perf_counter()
        attempted, failed, problems = wl.check(spark, passes)
        check_s = time.perf_counter() - t_check
        e2e = wl.end_to_end(passes)
        e2e.update(setup_s=(setup_s, "s"), peak_rss_mb=(sum(rss.values()), "MB"))
        if args.trace:
            per_layer = wl.per_layer(spark, passes)
    finally:
        stop_spark(spark)
        if not args.trace:
            shutil.rmtree(run_dir, ignore_errors=True)

    print(
        f"setup: session {t_session - t_setup0:.3f} s, inputs {t_inputs - t_session:.3f} s, "
        f"warm-up {t_warm - t_inputs:.3f} s; oracle checks {check_s:.3f} s"
    )
    print(
        f"host cpu during the timed body: busy {1 - (cpu[3] + cpu[4]) / sum(cpu):.1%}, "
        f"steal {cpu[7] / sum(cpu):.1%}; peak RSS by process (MB): "
        + " ".join(f"{v:.0f}" for v in sorted(rss.values(), reverse=True))
    )
    for line in wl.notes(passes):
        print(line)
    for p in problems:
        print(f"MISMATCH {p}")
    print(
        f"# {args.workload} seed={args.seed} cpus={nproc()} passes={len(passes)} "
        f"attempted={attempted} failed={failed}"
    )
    wall_s = e2e["wall_s"][0]
    os.makedirs(WORK, exist_ok=True)
    last_path = os.path.join(WORK, f"last_untraced_{args.workload}.json")
    if args.trace:
        events = layers.read_event_log(event_dir)
        per_layer.update(layers.event_log_metrics(events, body_t0, body_t1, len(passes)))
        per_layer.update(wl.engine_phases(events, passes))
        per_layer.update(layers.criterion_shapes())
        # a layer this workload does not exercise reports 0
        metrics = {
            k: {"value": float(per_layer.get(k, (0.0, unit))[0]), "unit": unit}
            for k, unit in layers.PER_LAYER.items()
        }
        _print_metrics("per-layer metrics (traced run)", metrics)
        try:
            with open(last_path) as f:
                untraced = json.load(f)
            print(
                f"tracing_overhead_s {wall_s - untraced['wall_s']:.4f} s "
                f"(traced wall_s {wall_s:.4f} - untraced wall_s "
                f"{untraced['wall_s']:.4f}, seed {untraced['seed']})"
            )
        except (OSError, ValueError, KeyError):
            print("tracing_overhead_s unavailable: no untraced run of this "
                  "workload recorded in this checkout")
    else:
        metrics = {
            k: {"value": float(e2e[k][0]), "unit": e2e[k][1]} for k in E2E_METRICS
        }
        _print_metrics("end-to-end metrics", metrics)
        print(f"{'fail_ratio':42s} {failed / attempted:>16.6g} ratio")
        with open(last_path, "w") as f:
            json.dump({"seed": args.seed, "wall_s": wall_s}, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
