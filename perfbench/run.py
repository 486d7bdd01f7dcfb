#!/usr/bin/env python3
"""Seeded benchmark of the gdal_spark engine.

    python3 perfbench/run.py --workload zonal_refine --seed 1 --seconds 16 --trace 0

Runs one workload (zonal_refine, tile_publish or lookup_mixed, see
workloads.py) on ``local[nproc]`` from this single driver process:
sets the session up, measures operations for
``--seconds`` of busy time, checks every output against a DuckDB
oracle, and prints each end-to-end metric named in BENCHMARK.json with
its unit.  ``--trace 1`` also runs a traced pass and prints the
per-layer metrics instead.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import tracing
from loop import Tally, measure, p90, start_session

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["zonal_refine", "tile_publish", "lookup_mixed"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    turn on the Spark event log for traced runs (launch-time --conf)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def kill_stray_jvms() -> None:
    # the bracket keeps pkill from matching its own command line
    if subprocess.run(["pkill", "-f", "pyspark-shel[l]"]).returncode == 0:
        time.sleep(1.0)


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for its Python workers."""
    started = set(tracing.descendants(os.getpid()))
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    leftover = started | set(tracing.descendants(os.getpid()))
    end = time.monotonic() + 10
    while leftover and time.monotonic() < end:
        leftover = {p for p in leftover if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in leftover:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def watchdog(seconds: float) -> threading.Timer:
    """Abort a run that would overrun its time limit: kill everything it
    started and exit non-zero without printing a result."""
    def fire():
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr)
        for p in tracing.descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def end_to_end(wl, tally: Tally, setup_s: float) -> dict:
    walls = tally.walls
    if wl.batch:
        docs_per_s = wl.docs_per_op / statistics.median(walls)
    else:
        docs_per_s = tally.docs / tally.busy()
    return {
        "setup_s": setup_s,
        "docs_per_s": docs_per_s,
        "req_p50_ms": 1e3 * statistics.median(walls),
        "req_p90_ms": 1e3 * p90(walls),
        "req_per_s": len(walls) / tally.busy(),
    }


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import gdal_spark  # noqa: F401  (fail fast without the program)

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    trace = bool(args.trace)
    prepare_env(work, trace)
    watchdog(DEADLINE_S - (time.monotonic() - t_start))
    kill_stray_jvms()

    import oracle
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    steal0 = tracing.steal_seconds()

    # set-up, timed from the JVM launch: session start, the seeded
    # input files, the workload's state and its warm-up
    t0 = time.perf_counter()
    spark = start_session(cpus)
    session_start_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed, cpus)
    wl.setup(os.path.join(work, "inputs"))
    wl.prepare()
    wl.warmup()
    setup_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    con = oracle.connect(cpus, os.path.join(work, "tmp"))
    wl.prepare_oracle(con)
    oracle_s = time.perf_counter() - t0

    tracing.reset_peak_rss(tracing.descendants(os.getpid()))
    tally = measure(wl, args.seconds, Tally())
    peak_rss_mb = tracing.peak_rss(tracing.descendants(os.getpid())) / 2**20
    e2e = end_to_end(wl, tally, setup_s)
    attempted, failed = tally.attempted, tally.failed

    print(f"workload {wl.name}: {wl.loop}; {wl.describe()}")
    print(f"run: seed {args.seed}, local[{cpus}], {args.seconds:g} s measured, "
          f"{len(tally.walls)} ops; set-up {setup_s:.3f} s (session start "
          f"{session_start_s:.3f} s); oracle {oracle_s:.3f} s; op walls "
          + ", ".join(f"{w:.3f}" for w in tally.walls) + " s")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, value in e2e.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    print(f"metric fail_ratio {tally.failed / max(tally.attempted, 1):.6g} ratio "
          f"({tally.failed} of {tally.attempted} checked outputs)")
    print(f"metric peak_rss_mb {peak_rss_mb:.6g} MiB (Spark JVM + Python workers)")

    metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    if trace:
        from layers import TracedRun

        traced = TracedRun(wl, spark, con, args.seed, cpus, work)
        traced.run(args.seconds)
        attempted += traced.attempted
        failed += traced.failed
        shutdown(traced.spark)
        values = traced.finish(
            os.path.join(work, "eventlog"), tally, session_start_s, peak_rss_mb)
        os.makedirs(out_dir, exist_ok=True)
        traced.tracer.write(os.path.join(
            out_dir, f"spans-{wl.name}-seed{args.seed}.jsonl"))
        print(f"traced: {len(traced.traced.walls)} ops, {len(traced.probes.walls)} "
              f"probe ops, scaling op walls local[{cpus}] "
              + ", ".join(f"{w:.3f}" for w in traced.scaling_n.walls)
              + " s, local[1] " + ", ".join(f"{w:.3f}" for w in traced.scaling_1.walls) + " s")
        metrics = {}
        for m in spec["per_layer"]:
            value, unit = values[m["name"]]
            if unit != m["unit"]:
                raise ValueError(f"{m['name']}: unit {unit} != {m['unit']}")
            metrics[m["name"]] = {"value": value, "unit": unit}
            print(f"layer {m['name']} {value:.6g} {unit}")
    else:
        shutdown(spark)
    con.close()
    print(f"info steal_s {tracing.steal_seconds() - steal0:.2f} s "
          "(hypervisor steal during the run; reported, never filtered); "
          f"run wall {time.monotonic() - t_start:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
