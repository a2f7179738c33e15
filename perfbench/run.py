#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract_commit --seed 1 --seconds 20 --trace 0

One local Spark application per run, sized from the host. The run
builds (or reuses) the seeded inputs, starts the session, warms up
until pass times settle, then runs timed passes for ``--seconds`` and
checks every pass's output. With ``--trace 0`` the last stdout line
reports the end-to-end metrics (``rows_per_s``, ``setup_s``); with
``--trace 1`` it runs one more pass under spans, probes single layers,
prints the layer table and reports the per-layer metrics instead.
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

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".bench_cache"
# the keys of workloads.WORKLOADS, listed here because importing that
# module imports pyspark, which set-up time must include
WORKLOAD_NAMES = ("extract_commit", "assemble_skewed", "dedup_docs")
CORES = len(os.sched_getaffinity(0))

# Untimed passes before the timed ones, per workload at the full size
# (README.md, "Warm-up"): with the heap fixed at its maximum and a check
# after every pass, pass times are near their settled value from the
# third extract pass and the fifth assemble pass. The tiny smoke-test
# size needs one only to exercise the path.
WARMUP_PASSES = {"extract_commit": 2, "assemble_skewed": 4, "dedup_docs": 2}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _driver_memory_mb() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 4096))


def _session(workload: str, work: Path, trace: bool):
    from mistral_ocr_app_spark.session import get_spark

    tmp = CACHE / "tmp"
    mem = _driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{mem}m",
        # the heap starts at its maximum: a heap that grows from the
        # JVM's small default kept pass times falling for eight passes
        "spark.driver.extraJavaOptions":
            f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(work / "events")
    return get_spark(cores=CORES, app_name=f"perfbench-{workload}", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every process the
    JVM started (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    from perfbench.host import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def _fail(tally: dict, err: str) -> None:
    tally["failed"] += 1
    tally["errors"].append(err)
    print(f"pass failed: {err}", file=sys.stderr)


def _check(wl, out: Path, tally: dict) -> bool:
    """Count one attempted pass; record it as failed unless correct."""
    tally["attempted"] += 1
    try:
        err = wl.check(str(out))
    except Exception:  # a failing check is counted and reported, not fatal
        err = traceback.format_exc()
    if err:
        _fail(tally, err)
    return not err


def _checked_pass(wl, out: Path, tally: dict) -> float | None:
    """Run and check one pass; returns its wall time (None on error)."""
    try:
        t0 = time.perf_counter()
        wl.run_pass(str(out))
        dt = time.perf_counter() - t0
    except Exception:  # a failing pass is counted and reported, not fatal
        tally["attempted"] += 1
        _fail(tally, traceback.format_exc())
        return None
    return dt if _check(wl, out, tally) else None


def _traced_run(spark, wl, args, work: Path, tally: dict, times: list,
                warm: list, session_s: float) -> dict:
    """One pass under spans, then single-layer probes, then the same for
    each companion workload; stops the session and returns the
    per-layer metrics read from spans, probes and the event log."""
    from perfbench.host import tree_cpu_s, tree_peak_rss_mib
    from perfbench.inputs import ensure_inputs
    from perfbench.tracing import SparkLog, Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(spark.sparkContext)
    out = work / "traced"
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span(f"pass:{wl.name}") as pass_span:
        wl.run_pass(str(out), tracer)
    traced_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s() - cpu0
    peak_rss = tree_peak_rss_mib()
    _check(wl, out, tally)
    splits = spark.read.parquet(wl.scan_dir).rdd.getNumPartitions()
    layer = wl.probes(tracer, str(out))

    companions = []
    for name in wl.companions:
        c_dir, c_meta, _ = ensure_inputs(
            str(CACHE), name, args.seed, args.size, 4 * CORES)
        comp = WORKLOADS[name](spark, c_dir, c_meta, str(work / name), args.size)
        comp.prepare()
        comp.run_pass(str(work / name / "warm"))  # its code paths, once
        c_out = work / name / "traced"
        with tracer.span(f"pass:{name}") as c_span:
            comp.run_pass(str(c_out), tracer)
        _check(comp, c_out, tally)
        layer.update(comp.probes(tracer, str(c_out)))
        companions.append((comp, c_span))

    _stop(spark)
    log = SparkLog(str(work / "events"))
    layer.update(wl.layer_totals(tracer, log, pass_span))
    for comp, c_span in companions:
        layer.update(comp.layer_totals(tracer, log, c_span))
    tot = log.totals(tracer.subtree(pass_span))
    untraced = statistics.median(times) if times else traced_s
    layer.update({
        "session.start_s": session_s,
        "warmup.passes": len(warm),
        "warmup.s": sum(warm),
        "proc.cpu_s": cpu_s,
        "proc.cpu_util": cpu_s / (CORES * traced_s),
        "proc.peak_rss_mib": peak_rss,
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_mib": tot["shuffle_mib"],
        "spark.spill_mib": tot["spill_mib"],
        "spark.task_skew": tot["task_skew"],
        "spark.failed_tasks": tot["failed_tasks"],
        "scan.splits_per_core": splits / CORES,
        "scan.rows": tot["in_rows"],
        "scan.mib": tot["in_mib"],
        "trace.overhead_share": traced_s / untraced - 1,
    })
    spans_path = CACHE / "runs" / f"{wl.name}-s{args.seed}-spans.json"
    os.makedirs(spans_path.parent, exist_ok=True)
    tracer.dump(str(spans_path))
    return layer


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "mistral_ocr_app_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.makedirs(CACHE / "tmp", exist_ok=True)
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    # spark-submit's launcher JVM would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from perfbench.host import HostRecord
    from perfbench.inputs import ensure_inputs

    host = HostRecord()
    host.start()
    input_dir, meta, gen_s = ensure_inputs(
        str(CACHE), args.workload, args.seed, args.size, 4 * CORES)

    work = CACHE / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # set-up: everything from here to the first timed pass, starting
    # before pyspark is imported
    t_setup0 = time.perf_counter()
    from perfbench.workloads import WORKLOADS, clear

    spark = _session(args.workload, work, bool(args.trace))
    session_s = time.perf_counter() - t_setup0
    wl = WORKLOADS[args.workload](spark, input_dir, meta, str(work), args.size)
    wl.prepare()

    # warm-up passes are checked like timed ones: a pass run straight
    # after another, with no check between, stayed slower (README.md)
    tally = {"attempted": 0, "failed": 0, "errors": []}
    warm = []
    for i in range(WARMUP_PASSES[args.workload] if args.size == "full" else 1):
        out = work / f"warm-{i}"
        dt = _checked_pass(wl, out, tally)
        clear(str(out))
        if dt is not None:
            warm.append(dt)
    t_timed0 = time.perf_counter()
    setup_s = t_timed0 - t_setup0

    times, n_timed = [], 0
    while not n_timed or time.perf_counter() - t_timed0 < args.seconds:
        out = work / f"pass-{n_timed}"
        dt = _checked_pass(wl, out, tally)
        n_timed += 1
        clear(str(out))
        if dt is not None:
            times.append(dt)
    rows_per_s = statistics.median(wl.rows / t for t in times) if times else 0.0

    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": CORES, "rows": wl.rows, "rows_unit": wl.rows_unit,
        "input": meta, "gen_s": gen_s, "session_s": session_s,
        "warmup_s": warm, "pass_s": times, "samples": len(times), "timed_passes": n_timed,
        "rows_per_s": rows_per_s, "setup_s": setup_s,
    }
    metrics = {"rows_per_s": (rows_per_s, "rows/s"), "setup_s": (setup_s, "s")}

    if args.trace:
        from perfbench.layers import UNITS, layer_table

        layer = _traced_run(spark, wl, args, work, tally, times, warm, session_s)
        layer.update(host.stop())
        print(layer_table(args.workload, layer))
        metrics = {name: (float(layer.get(name, 0)), unit) for name, unit in UNITS.items()}
    else:
        _stop(spark)
        record.update(host.stop())

    shutil.rmtree(work, ignore_errors=True)
    record["errors"] = tally["errors"]
    print("record " + json.dumps(record))
    print(json.dumps({
        "correct": tally["attempted"] > 0 and tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
