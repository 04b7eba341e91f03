#!/usr/bin/env python3
"""Dedup-engine benchmark: one closed-loop client (this process) drives the
engine in one local Spark session through its public entry points.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 10 --trace 0

Run it from the repository root. Phases of one run:

1. generate the workload's inputs from ``--seed`` (benchmark work, untimed);
2. set-up, reported as ``setup_s``: SparkSession start, the engine's own
   state (the incremental store), the cold unit and the workload's
   ``warmup_units``;
3. timed units back to back until ``--seconds`` have passed (at least the
   workload's ``min_units``); ``files_per_s`` is input files over the median
   unit wall;
4. correctness, untimed: every unit's result must equal the cold unit's,
   plus the workload's quality checks on the last unit.

With ``--trace 1`` phase 3 is replaced by one untraced and one traced unit
and the per-layer probes (``layers.py``). The last stdout line is the JSON
result; the line before it records the deployment settings and raw walls.
Exits non-zero when a check fails or the repository is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

from procstat import PeakMemory, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Deployment settings: a 2 GiB driver heap (the engine's default of 16g is
# sized for its bench corpus, not for a shared 4-core host), committed at
# start (-Xms) so that how far G1 grows the heap does not move peak memory
# from run to run; at most two task threads, so the JVM's compiler and GC
# threads and the Python workers do not fight the tasks for the cores.
DRIVER_MEM = "2g"
MAX_CORES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure(work: str, cores: int) -> dict:
    """Environment for the session, chosen before pyspark is imported; every
    scratch directory lives under ``work``."""
    dirs = {n: os.path.join(work, n) for n in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    settings = {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "java.io.tmpdir": dirs["tmp"],
        "driver_initial_heap": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={dirs['spark-local']}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--driver-java-options",
        shlex.quote(f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']}"),
        "pyspark-shell",
    ])
    # Python workers are started by the JVM and import the engine from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    return settings


def stop_descendants(timeout_s: float = 20.0) -> None:
    """Stop every process this run started (the JVM and, through it, the
    Python workers) and wait until each has ended."""
    me = os.getpid()

    def alive() -> list[int]:
        return [p for p in tree_pids(me) if p != me]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while alive() and time.monotonic() < deadline:
            try:  # reap exited children, or they linger as zombies
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.1)
        if not alive():
            return


def measure(wl, args, t_session: float):
    """Set-up, then the timed units (or the traced run); returns
    (correct, attempted, failed, metrics, detail)."""
    t0 = time.perf_counter()
    wl.build_state()
    t_state = time.perf_counter() - t0
    cold = wl.run_unit()
    warm, last = [], cold
    for _ in range(wl.warmup_units):
        wl.discard(last)
        last = wl.run_unit()
        warm.append(last)
    setup_s = t_session + t_state + cold.wall_s + sum(u.wall_s for u in warm)
    warm_bad = sum(u.outcome != cold.outcome for u in warm)

    if args.trace:
        import layers

        correct, attempted, failed, metrics, detail = layers.traced_run(
            wl, cold, last, setup_s, args.seed
        )
        return (correct and not warm_bad, attempted + len(warm),
                failed + warm_bad, metrics, detail)

    timed = []
    deadline = time.perf_counter() + args.seconds
    while len(timed) < wl.min_units or time.perf_counter() < deadline:
        wl.discard(last)
        last = wl.run_unit()
        timed.append(last)
    q = wl.quality(last)
    bad = [u.outcome != cold.outcome for u in timed]
    bad[-1] = bad[-1] or not q["ok"]
    failed = warm_bad + sum(bad)
    walls = [u.wall_s for u in timed]
    metrics = {
        "files_per_s": (wl.n_files / statistics.median(walls), "files/s"),
        "setup_s": (setup_s, "s"),
        "pair_recall": (q["pair_recall"], "ratio"),
        "pair_precision": (q["pair_precision"], "ratio"),
        "ckpt_bytes_per_input_byte": (
            statistics.median(u.ckpt_bytes for u in timed) / wl.input_bytes,
            "bytes/byte",
        ),
    }
    detail = {
        "timed_unit_walls_s": walls,
        "timed_units": len(walls),
        "cold_unit_s": cold.wall_s,
        "warmup_unit_walls_s": [u.wall_s for u in warm],
        "session_start_s": t_session,
        "state_build_s": t_state,
        "quality": q,
    }
    if "pipe" in timed[-1].detail:
        detail["stage_s"] = {
            k: v for k, v in timed[-1].detail["pipe"].metrics.items()
            if k.endswith("_sec")
        }
    wl.discard(last)
    return failed == 0, 1 + len(warm) + len(timed), failed, metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    # a plain SIGTERM would skip the clean-up in the `finally` below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(REPO, "spaczz_spark", "__init__.py")):
        print(f"error: the engine package spaczz_spark/ is not in {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = min(MAX_CORES, os.cpu_count() or 1)
    settings = configure(work, cores)
    try:
        with PeakMemory() as rss:
            from spaczz_spark.plans.config import DedupConfig
            from spaczz_spark.plans.pipeline import recommended_session

            t0 = time.perf_counter()
            spark = recommended_session(
                app=f"perfbench-{args.workload}",
                master=settings["master"],
                shuffle_partitions=settings["shuffle_partitions"],
            )
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](args.seed, work, spark, DedupConfig())
            wl.write_inputs()
            correct, attempted, failed, metrics, detail = measure(
                wl, args, t_session
            )
            spark.stop()
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
        detail.update({
            "workload": args.workload,
            "seed": args.seed,
            "input_files": wl.n_files,
            "input_bytes": wl.input_bytes,
            "deployment": settings,
        })
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }))
        return 0 if correct else 1
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
