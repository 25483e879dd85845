"""Seeded end-to-end and per-layer benchmark of texel_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads: tile_build, spatial_lookup, corpus_curate (``all`` runs each in
its own process and prints one table).  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run that adds a traced
phase and prints the per-layer metrics.  The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Metric definitions live in perfbench/metrics.json.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def import_program() -> None:
    """Import texel_spark from this checkout, or exit 2 without a result."""
    if not os.path.isfile(os.path.join(ROOT, "texel_spark", "__init__.py")):
        sys.stderr.write(f"perfbench: no texel_spark package under {ROOT}; run from a full checkout\n")
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import texel_spark

    if not os.path.abspath(texel_spark.__file__).startswith(ROOT + os.sep):
        sys.stderr.write(f"perfbench: texel_spark resolved outside the checkout: {texel_spark.__file__}\n")
        raise SystemExit(2)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _work_dir(workload: str) -> str:
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):  # leftovers of runs whose process is gone
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def run_workload(args) -> int:
    t_proc = process_start_epoch()
    import_program()
    from checks import Checker
    from harness import RssSampler, host_env, nproc, start_session, stop_everything
    from tracing import EventLog, Tracer, find_event_log
    from workloads import WORKLOADS

    spec = benchmark_spec()
    work = _work_dir(args.workload)
    host_env(ROOT, work)
    cores = nproc()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    wl = WORKLOADS[args.workload](args.seed, args.size, work, cores)
    spark = None
    try:
        # the sampler reads /proc for every JVM thread four times a second,
        # in this process; only the traced run reports what it finds
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            # -- setup: session, inputs (several times, median), warm-up
            t0 = time.time()
            spark = start_session(work)
            session_call_s = time.time() - t0
            session_s = time.time() - t_proc
            prep = []
            for k in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.prepare(k)
                prep.append(time.perf_counter() - t0)
                if k:
                    shutil.rmtree(wl.input_dir(k - 1), ignore_errors=True)
            t0 = time.perf_counter()
            wl.open(spark)
            spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
            warmup_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(prep) + warmup_s

            # -- cold job, then warm jobs for --seconds
            quiet = Tracer(run_id, enabled=False)
            t0 = time.perf_counter()
            wl.iteration(spark, quiet)
            cold_s = time.perf_counter() - t0
            warm, warm_rows = [], []
            # a traced run needs one untraced warm job, the reference of
            # trace_overhead_s; its end-to-end figures are not reported
            min_warm, seconds = (1, 0) if args.trace else (wl.min_warm, args.seconds)
            t_loop = time.perf_counter()
            while len(warm) < min_warm or time.perf_counter() - t_loop < seconds:
                wl.discard_output()
                t0 = time.perf_counter()
                warm_rows.append(wl.iteration(spark, quiet))
                warm.append(time.perf_counter() - t0)
            job_s = statistics.median(warm)

            # -- untimed correctness checks
            checker = Checker(ROOT, cores)
            t0 = time.perf_counter()
            try:
                check_failed = wl.check(spark, checker)
            except Exception:  # noqa: BLE001 - a check that cannot run has failed
                checker.record(f"{wl.name}.check", False, traceback.format_exc(limit=3)[-400:])
                check_failed = 1
            check_s = time.perf_counter() - t0

            layer = {}
            if args.trace:
                # a fresh SparkContext (same JVM) with the event log on
                spark.stop()
                log_dir = os.path.join(work, "eventlog")
                spark = start_session(work, event_log_dir=log_dir)
                wl.open(spark)
                tracer = Tracer(run_id)
                wl.trace(spark, tracer, checker)
                spark.stop()
                spark = None
                log = EventLog(find_event_log(log_dir))
                layer = wl.layer_metrics(tracer, log)
                layer.update(log.engine_counters(tracer.named("job")[-1], cores))
                layer["trace_overhead_s"] = statistics.median(s.duration for s in tracer.named("job")) - job_s
                out_dir = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(out_dir, exist_ok=True)
                tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
        if args.trace:
            layer["session.start_s"] = session_call_s
            layer["session.peak_rss_mb"] = rss.peak_mb
    finally:
        t0 = time.perf_counter()
        stop_everything(spark)
        stop_s = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)

    attempted = wl.attempts
    failed = min(attempted, wl.op_failures + wl.count_mismatches() + check_failed)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "size": args.size,
        "cores": cores,
        "inputs": wl.sizes,
        "setup": {"session_s": session_s, "prep_s": prep, "warmup_s": warmup_s},
        "cold_job_s": cold_s,
        "warm_job_s": warm,
        "samples": len(warm),
        "rows": warm_rows,
        "row_counts": wl.counts,
        "op_s": wl.op_times,
        "checks": checker.results,
        "check_s": check_s,
        "op_errors": wl.op_errors,
        "stop_s": stop_s,
        "fail_ratio": failed / attempted,
    }
    print("perfbench-record " + json.dumps(record))
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in units.items()}
    else:
        values = {"setup_s": setup_s, "cold_job_s": cold_s, "job_s": job_s, "rows_per_s": warm_rows[-1] / job_s}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for n, m in metrics.items():
        print(f"{wl.name:15s} {n:28s} {m['value']:>16.6g} {m['unit']}")
    print(f"{wl.name:15s} {'fail_ratio':28s} {failed / attempted:>16.6g} ratio  ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one table, one JSON line."""
    import_program()
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-3000:])
            return proc.returncode or 1
        print("\n".join(line for line in lines[:-1] if not line.startswith("perfbench-record ")))
        results[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": results,
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["tile_build", "spatial_lookup", "corpus_curate", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    args = p.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
