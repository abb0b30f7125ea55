#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the quality-filter engine, one workload
per invocation, with a separate traced mode for per-layer metrics.

    python3 perfbench/run.py --workload pool_skewed --seed 1 --seconds 20 --trace 0

Run it from the repository root. It generates the workload's input from
``--seed`` under ``perfbench/.work/``, starts Spark on ``local[nproc]``
with the package shipped to the Python workers as a zip, and then:

* ``--trace 0``: starts the session cold, runs one untimed iteration,
  then closed-loop iterations (one client, the next starting when the
  last ends) for ``--seconds``; checks the outputs; restarts the session
  ``WARM_SETUPS`` times (``setup_s`` is their median: context start,
  Python worker spawn, dictionary load and plan compile on a tiny slice);
  prints the end-to-end metrics.
* ``--trace 1``: one cold start, one untimed iteration, untraced
  iterations for ``--seconds``, then one traced iteration whose counters
  come from Spark's status stores and whose UDF sub-stages come from
  replaying the same rows through each module's public functions; prints
  the per-layer metrics, ``trace.overhead_s`` (traced minus median
  untraced ``wall_s``) and the span self times.

Lines starting with ``#`` are for people; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the metric names and
units of ``BENCHMARK.json``. The exit code is 0 only when every check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("pool_skewed", "unique_long")
#: session restarts timed for ``setup_s``
WARM_SETUPS = 5
#: an iteration that raises is counted as failed; this many end the run
MAX_FAILURES = 3


def host() -> tuple[int, int]:
    """(cores this process may use, driver heap MB): a quarter of the
    host's memory, at most 2 GB, leaves room for the Python workers."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return nproc, min(2048, mem_mb // 4)


def start_session(work: Path, nproc: int, driver_mb: int, pyfiles: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        # a pre-touched fixed-size heap makes the JVM's share of the RSS
        # a constant, so peak_rss_mb moves only with memory outside it
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.addPyFile(pyfiles)
    sc.setCheckpointDir(str(work / "checkpoints"))
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    daemon and workers) to exit."""
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


def info(line: str) -> None:
    print(f"# {line}", flush=True)


def measure(wl, spark, seconds: float, tree, probes) -> tuple[list[dict], int, int]:
    """Closed-loop iterations for ``seconds``; each records its wall time,
    peak process-tree RSS and CPU steal."""
    iters, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while (time.perf_counter() < deadline or not iters) and failed < MAX_FAILURES:
        attempted += 1
        tree.reset()
        ticks = probes.cpu_ticks()
        try:
            wall = wl.run(spark)
        except Exception:
            failed += 1
            traceback.print_exc()
            continue
        tree.sample()
        it = {"wall_s": wall, "rss_mb": tree.peak_total / 1e6,
              "steal_pct": probes.steal_pct(ticks, probes.cpu_ticks())}
        iters.append(it)
        info("iter {}: wall_s={:.4f} rss_mb={:.1f} steal_pct={:.2f}".format(
            len(iters), it["wall_s"], it["rss_mb"], it["steal_pct"]))
    return iters, attempted, failed


def bench(args, work: Path, spec: dict) -> int:
    from perfbench import probes, replay
    from perfbench.workloads import WORKLOADS as CLASSES
    from tools.package_pyfiles import build

    nproc, driver_mb = host()
    info(f"workload={args.workload} seed={args.seed} trace={args.trace} "
         f"local[{nproc}] driver_mb={driver_mb}")
    wl = CLASSES[args.workload](str(work / "data"), args.seed, nproc)
    props = wl.generate()
    info("input: rows={} ".format(wl.n_rows) + " ".join(f"{k}={v:.4f}" for k, v in props.items()))
    pyfiles = str(build(work / "openccnet_spark.zip"))

    tree = probes.ProcTree()
    tree.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, nproc, driver_mb, pyfiles)
        wl.warm(spark)
        cold_s = time.perf_counter() - t0
        info(f"cold start: {cold_s:.3f} s")
        # one untimed full-size iteration: the JIT compiles the hot paths
        # at volume and the heap settles before anything is timed
        info("warm-up iteration: wall_s={:.4f}".format(wl.run(spark)))

        iters, attempted, failed = measure(wl, spark, args.seconds, tree, probes)
        if not iters:
            info("every iteration failed")
            return 1
        wall = statistics.median(i["wall_s"] for i in iters)

        if args.trace:
            tracer = probes.Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
            counters = probes.SparkCounters(spark)
            tree.reset()
            ticks = probes.cpu_ticks()
            attempted += 1
            traced_wall, rows, layers = wl.traced(spark, tracer, counters)
            tree.sample()
            steal = probes.steal_pct(ticks, probes.cpu_ticks())
            with tracer.span("dictionary.load"):
                layers["dictionary.load_s"] = replay.dictionary_load_s(wl.config)
            projected = layers["udf.batch_s"] / layers["udf.replay_rows"] * rows
            layers.update({
                "proc.py_workers": tree.peak_workers,
                "proc.worker_rss_mb": tree.peak_worker_rss / 1e6,
                "host.steal_pct": steal,
                "session.cold_s": cold_s,
                "trace.wall_s": traced_wall,
                "trace.overhead_s": traced_wall - wall,
                "trace.unexplained_frac":
                    (layers["arrow.python_run_s"] - projected) / (traced_wall * nproc),
                **{f"input.{k}": v for k, v in props.items() if k != "pregated_frac"},
                "input.converted_frac": layers.get("convert.changed_frac", 0.0),
            })
            info("core-seconds of the traced iteration ({:.3f} s x {} cores = {:.2f}):".format(
                traced_wall, nproc, traced_wall * nproc))
            info("  idle {:.2f} | JVM {:.2f} | Python {:.2f} = replayed UDF {:.2f} + unexplained {:.2f}"
                 .format(traced_wall * nproc - layers["spark.executor_run_s"],
                         layers["spark.executor_run_s"] - layers["arrow.python_run_s"],
                         layers["arrow.python_run_s"], projected,
                         layers["arrow.python_run_s"] - projected))
            info("self time per span (s):")
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                info(f"  {name:<22} {s:9.4f}")
            tracer.flush(str(ROOT / "perfbench" / ".work" / "traces" / f"{tracer.run_id}.json"))

        attempted += 1
        mismatch, details = wl.check(spark)
        info("check: mismatch_rows={} {}".format(mismatch, " ".join(f"{k}={v}" for k, v in details.items())))
        if mismatch:
            failed += 1

        # set-up is timed last, on a JVM that is no longer compiling the
        # start-up paths, so setup_s measures the program, not the JIT
        setups = []
        for _ in range(0 if args.trace else WARM_SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, nproc, driver_mb, pyfiles)
            wl.warm(spark)
            setups.append(time.perf_counter() - t0)
        if setups:
            info("setup_s samples: {}".format([round(s, 3) for s in setups]))
    finally:
        if spark is not None:
            stop_jvm(spark)
        tree.stop()

    steals = [i["steal_pct"] for i in iters]
    info("steal_pct: median={:.2f} max={:.2f}{}".format(
        statistics.median(steals), max(steals),
        "  <-- contaminated by other tenants" if max(steals) > 5 else ""))
    info(f"failed_frac={failed / attempted:.4f} mismatch_rows={mismatch}")
    if args.trace:
        values = layers
        names = spec["per_layer"]
    else:
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "rows_per_s": wl.n_rows / wall,
            "peak_rss_mb": statistics.median(i["rss_mb"] for i in iters),
        }
        names = spec["end_to_end"]
    absent = [m["name"] for m in names if m["name"] not in values]
    if absent:
        info("layers this workload does not exercise (reported as 0): " + " ".join(absent))
    print(json.dumps({
        "correct": mismatch == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }))
    return 0 if mismatch == 0 and failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "openccnet_spark").is_dir() or not (ROOT / "tools").is_dir():
        print(f"perfbench: no openccnet_spark/ and tools/ under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}"
    for d in ("tmp", "data"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        return bench(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
