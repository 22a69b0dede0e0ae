#!/usr/bin/env python3
"""Layered KG-construction benchmark.

One run = one workload, one seed, one Spark session at local[nproc]:

    python3 perfbench/run.py --workload kg_fused --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, a table

Set-up (timed as ``setup_s``): session start, input generation and
write, and one warm-up job.  Then a closed loop with one client runs the
workload's job back to back for ``--seconds``.  With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` half
the reps are traced and it carries the per-layer metrics, including the
tracing overhead (traced minus untraced median wall).  Outputs are
checked after the timed loop.  A detail record (spans, walls,
interference) is written under ``perfbench/out/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# untimed jobs in set-up: on 4 CPUs the first job of a plan is 30-60 %
# slower than the next (Python workers, JIT and codegen warm-up)
WARMUP_JOBS = 1
MIN_REPS = 2
_T0 = time.perf_counter()


def _mark(what: str) -> None:
    """Progress ledger on stderr (stdout ends with the result line)."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {what}",
          file=sys.stderr, flush=True)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "shuffle_write_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "fixtures.generate_s": "s",
    "setup.warmup_s": "s",
    "pipeline.scan_ms": "ms",
    "pipeline.repartition_write_ms": "ms",
    "pipeline.spans": "count",
    "pipeline.repartition_mb": "MB",
    "fused.py_start_ms": "ms",
    "fused.py_init_ms": "ms",
    "fused.py_run_ms": "ms",
    "fused.to_py_mb": "MB",
    "fused.from_py_mb": "MB",
    "fused.task_skew": "ratio",
    "encoder.tokens": "count",
    "encoder.tokens_per_s": "1/s",
    "ann.train_s": "s",
    "ann.index_mb": "MB",
    "ann.candidates_per_query": "count",
    "lsh.band_keys_ms": "ms",
    "lsh.banded_rows": "count",
    "lsh.candidates": "count",
    "lsh.pairs": "count",
    "lsh.verify_yield": "ratio",
    "lsh.candidate_shuffle_mb": "MB",
    "lsh.verify_shuffle_mb": "MB",
    "lsh.max_bucket": "count",
    "lsh.join_task_skew": "ratio",
    "lsh.spill_mb": "MB",
    "ccomp.rounds": "count",
    "ccomp.s": "s",
    "ccomp.jobs": "count",
    "ccomp.shuffle_mb": "MB",
    "encoder.udf_run_ms": "ms",
    "encoder.udf_from_py_mb": "MB",
    "encoder.passes": "ratio",
    "ann.search_ms": "ms",
    "lineage.embed_s": "s",
    "lineage.link_s": "s",
    "tables.mentions_mb": "MB",
    "tables.triples_mb": "MB",
    "tables.stored_mb": "MB",
    "tables.files": "count",
    "tables.write_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.task_cpu_s": "s",
    "spark.py_cpu_s": "s",
    "spark.gc_ms": "ms",
    "spark.busy_share": "ratio",
    "trace.overhead_s": "s",
    "host.steal_pct": "%",
    "host.membw_gbps": "GB/s",
}


def _environment() -> None:
    """Pin BLAS to one thread and keep every file the run writes (Spark
    scratch, temp files) inside the checkout.  Runs before numpy or
    pyspark is imported."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # read by get_spark
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers inherit PYTHONPATH: they import cli_p_spark from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _start_session(cores: int):
    from cli_p_spark.session import get_spark

    tmp = os.path.join(OUT, "tmp")
    spark = get_spark(
        app="perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Loop:
    """What the timed loop measured, per job."""
    walls: dict = field(default_factory=lambda: {False: [], True: []})
    cpus: list = field(default_factory=list)
    shuffles: list = field(default_factory=list)
    rss_peaks: list = field(default_factory=list)
    layer_samples: list = field(default_factory=list)
    spans: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    steal_pct: float | None = None


def _timed_loop(wl, spark, seconds: float, trace: bool, cores: int,
                errors: list[str]) -> Loop:
    """Closed loop, one client: jobs back to back until ``seconds`` have
    passed and MIN_REPS jobs ran.  With ``trace`` half the jobs are
    traced, in untraced-traced-traced-untraced order so that the jobs
    still speeding up after warm-up favour neither side, and yield a
    per-layer sample instead of end-to-end ones."""
    from perfbench import procstat
    from perfbench.layers import LayerView
    from perfbench.sparkstats import StatusStore
    from perfbench.tracing import Tracer

    store = StatusStore(spark)
    loop = Loop()
    steal0 = procstat.read_steal()
    with procstat.PeakRss() as rss:
        deadline = time.perf_counter() + seconds
        min_reps = 2 * MIN_REPS if trace else MIN_REPS
        while loop.attempted < min_reps or time.perf_counter() < deadline:
            rep = loop.attempted
            loop.attempted += 1
            traced = trace and rep % 4 in (1, 2)
            tracer = Tracer(spark.sparkContext, f"rep{rep}") if traced else None
            store.drain()
            first_stage = store.max_stage_id()
            cpu0, py0 = procstat.tree_cpu()
            rss.resume()
            t0 = time.perf_counter()
            try:
                state = wl.job(tracer, rep)
            except Exception:  # a failed job is a failed attempt; keep measuring
                loop.failed += 1
                errors.append(traceback.format_exc(limit=3))
                rss.pause()
                continue
            wall = time.perf_counter() - t0
            rss_peak = rss.pause()
            cpu1, py1 = procstat.tree_cpu()
            store.drain()
            last_stage = store.max_stage_id()
            digest = wl.finish(state, tracer)
            if digest != wl.hashes[0]:
                loop.failed += 1
                errors.append(f"rep {rep}: output {digest} != {wl.hashes[0]}")
                continue
            loop.walls[traced].append(wall)
            if traced:
                store.drain()
                view = LayerView(store, tracer, getattr(wl, "n_spans", 0))
                sample = wl.layers(view)
                sample.update(view.spark_wide(wall, cores, py1 - py0))
                loop.layer_samples.append(sample)
                loop.spans.extend(tracer.records())
            else:
                loop.cpus.append(cpu1 - cpu0)
                loop.rss_peaks.append(rss_peak)
                loop.shuffles.append(store.shuffle_write_between(first_stage, last_stage))
    loop.steal_pct = procstat.steal_pct(steal0, procstat.read_steal())
    return loop


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import procstat
    from perfbench.layers import medians
    from perfbench.tracing import percentile, supported_percentile
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    membw0 = procstat.membw_gbps()
    t0 = time.perf_counter()
    spark = _start_session(cores)
    session_s = time.perf_counter() - t0
    _mark("session started")
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    errors: list[str] = []
    try:
        wl = WORKLOADS[workload](spark, seed, cores, work)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        wl.open_inputs()
        warmup_s = 0.0
        for i in range(WARMUP_JOBS):
            t0 = time.perf_counter()
            state = wl.job(None, -1 - i)
            warmup_s += time.perf_counter() - t0
            wl.hashes.append(wl.finish(state, None))
        setup_s = session_s + generate_s + warmup_s
        _mark("set-up done")
        loop = _timed_loop(wl, spark, seconds, trace, cores, errors)
        _mark(f"{loop.attempted} jobs done")
        errors.extend(wl.check())
        probes = wl.probes() if trace else {}
        _mark("checks done")
        wl.close()
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    _mark("session stopped")
    membw1 = procstat.membw_gbps()

    untraced = loop.walls[False]
    wall_s = _median(untraced)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": wl.input_rows / wall_s,
        "cpu_s": _median(loop.cpus),
        "peak_rss_mb": _median(loop.rss_peaks) / 1e6,
        "shuffle_write_mb": _median(loop.shuffles) / 1e6,
    }
    layer = medians(loop.layer_samples)
    layer.update(probes)
    layer.update({
        "session.start_s": session_s,
        "fixtures.generate_s": generate_s,
        "setup.warmup_s": warmup_s,
        "host.steal_pct": loop.steal_pct if loop.steal_pct is not None else 0.0,
        "host.membw_gbps": min(membw0, membw1),
    })
    if loop.walls[True] and untraced:
        layer["trace.overhead_s"] = statistics.median(loop.walls[True]) - wall_s
    absent = sorted(k for k in PER_LAYER if k not in layer)
    p = supported_percentile(len(untraced))
    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "cores": cores, "attempted": loop.attempted,
        "failed": loop.failed, "errors": errors, "fingerprint": wl.hashes[0],
        "walls_untraced_s": untraced, "walls_traced_s": loop.walls[True],
        "wall_percentile": None if p is None else [p, percentile(untraced, p)],
        "setup": {"session_s": session_s, "generate_s": generate_s, "warmup_s": warmup_s},
        "interference": {"steal_pct": loop.steal_pct,
                         "membw_gbps": [membw0, membw1]},
        "end_to_end": e2e, "per_layer": layer,
        "absent_per_layer": absent, "spans": loop.spans,
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}.json"
    with open(os.path.join(OUT, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in errors:
        print(f"[perfbench] {workload}: {e}", file=sys.stderr)
    if trace:
        for k, u in PER_LAYER.items():
            if k in layer:
                print(f"[perfbench] {workload} {k:30s} {layer[k]:14.4f} {u}", file=sys.stderr)
        print(f"[perfbench] {workload}: not exercised by this workload: {', '.join(absent)}",
              file=sys.stderr)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    return {
        "correct": not errors and loop.failed == 0 and bool(untraced),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    from perfbench.workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited {proc.returncode}")
            ok = False
            continue
        res = json.loads(lines[-1])
        ok = ok and res["correct"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={res['failed'] / res['attempted']:.3f}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:32s} {v['value']:14.4f} {v['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "cli_p_spark")):
        print("perfbench: cli_p_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    _environment()
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
