#!/usr/bin/env python3
"""Seeded benchmark of the ddsketch_spark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached under ``.bench_work/``), one SparkSession runs on ``local[nproc]``,
and one client issues one operation at a time for ``--seconds``. Every
output is checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# op_tail_ms is this nearest-rank percentile of the run's latency samples
TAIL_P = 75.0
DRIVER_MEMORY = "1g"
# setup_s is the median of this many rounds of the workload's set-up
SETUP_REPEATS = 3


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a small heap bounds how far the JVM's resident memory can wander
    # with G1's heap sizing; the inputs need far less
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM, spark-submit's launcher too, keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")


def sweep_stale_runs() -> None:
    for d in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if d.startswith("run-"):
            pid = int(d[4:])
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            except PermissionError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for every
    descendant process to end."""
    from pyspark import SparkContext

    from perfbench.procs import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left or time.monotonic() > deadline:
            break
        for p in left:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def closed_loop(wl, ctx, seconds: float, ledger) -> list:
    """One client, one operation at a time, until ``seconds`` have passed."""
    results = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        ctx.tracer.new_op()
        try:
            with ctx.tracer.span(f"op.{wl.name}", i=i):
                r = wl.op(ctx, i)
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ledger.record([f"raised {type(e).__name__}: {e}"], f"op {i}")
        else:
            ledger.record(r.problems, f"op {i}")
            results.append(r)
        i += 1
        if time.perf_counter() >= t_end:
            return results


def cycles(results: list, n: int) -> list[list]:
    """Consecutive groups of ``n`` operations (one op cycle each); the
    trailing partial cycle is dropped when there is a whole one."""
    groups = [results[i:i + n] for i in range(0, len(results), n)]
    return [g for g in groups if len(g) == n] or groups


def canary() -> list[str]:
    """The checks must reject deliberately wrong answers."""
    import numpy as np

    from perfbench import checks

    vals = np.arange(1.0, 1001.0)
    wrong = []
    if not checks.check_alpha("canary", [500.0 * 1.05], vals, [0.5], 0.01):
        wrong.append("a quantile 5% off passed the alpha check")
    if not checks.check_equal("canary", [1.0, 2.0], [1.0, 2.0000001]):
        wrong.append("a differing answer passed the direct-build check")
    if not checks.check_rank("canary", [900.0], vals, [0.5], 0.05):
        wrong.append("a rank error of 0.4 passed the KLL check")
    if not checks.check_hll(1100.0, 1000, 12):
        wrong.append("a 10% NDV error passed the HLL check")
    if not checks.check_pairs_found({(1, 2)}, np.array([[1, 2], [3, 4]]), "canary"):
        wrong.append("a missing duplicate pair passed")
    if not checks.check_sketch_cells({(0, "en"): b"a"}, {(0, "en"): b"b"}, "canary"):
        wrong.append("a differing sketch passed the cell check")
    return wrong


def code_stamp() -> dict:
    """Commit when run inside git, plus a hash of the library sources (the
    benchmark's checkout is not a git repository)."""
    import hashlib
    import subprocess

    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    lib = os.path.join(ROOT, "ddsketch_spark")
    for d, dirs, files in sorted(os.walk(lib)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"commit": commit, "library_sha256": h.hexdigest()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "ddsketch_spark")):
        print(f"perfbench: no ddsketch_spark package next to {HERE}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    marks = [("begin", time.perf_counter())]
    sweep_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir)

    import pyarrow
    import pyspark

    from ddsketch_spark.plans.session import get_spark
    from perfbench import trace as tr
    from perfbench.inputs import load_inputs
    from perfbench.procs import peak_rss_mb
    from perfbench.workloads import Ctx, make

    inputs = load_inputs(os.path.join(WORK, "inputs"), args.seed)
    marks.append(("inputs", time.perf_counter()))
    wl = make(args.workload, args.seed)
    cpus = nproc()

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    start_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, inputs, run_dir, tr.Tracer(False))
        ledger = tr.Ledger()
        # one round: the program work the workload needs before timing (the
        # stored table of query_sketch_table) and a warm-up; the first round
        # also pays the session's first-use costs (JIT, Python workers)
        rounds = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            prep = wl.setup(ctx)
            prep_s = time.perf_counter() - t
            t = time.perf_counter()
            ledger.record(wl.warm(ctx), f"warm-up {k}")
            rounds.append({"prep_s": prep_s, "warm_s": time.perf_counter() - t,
                           **prep})
        setup_s = statistics.median(r["prep_s"] + r["warm_s"] for r in rounds)
        prep = {k: statistics.median(r[k] for r in rounds) for k in prep}
        marks.append(("session_and_setup", time.perf_counter()))
        layer = {}
        if not args.trace:
            results = closed_loop(wl, ctx, args.seconds, ledger)
        else:
            from perfbench.kernels import kernel_rates
            from perfbench.layers import LayerPass
            from perfbench.planmetrics import PlanListener

            untraced = closed_loop(wl, ctx, args.seconds / 2, ledger)
            ctx.listener = PlanListener(spark)
            ctx.tracer = tr.Tracer(True)
            results = closed_loop(wl, ctx, args.seconds / 2, ledger)
            lp = LayerPass(ctx, args.workload)
            layer = lp.run(dict(prep, table=getattr(wl, "table", None)))
            ledger.record(lp.problems, "layer pass")
            layer.update(kernel_rates(args.seed))
            layer["session.start_s"] = start_s
            layer["session.warm_s"] = rounds[0]["warm_s"]
            layer["trace.overhead_s"] = (
                statistics.median(r.timed_s for r in results)
                - statistics.median(r.timed_s for r in untraced))
            spans_path = os.path.join(WORK, "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            ctx.tracer.dump(spans_path)
            ctx.listener.close()
        rss, rss_parts = peak_rss_mb()
        marks.append(("timed_loop" if not args.trace else "traced_loops_and_layers",
                      time.perf_counter()))
    finally:
        stop_spark(spark)
    marks.append(("stop", time.perf_counter()))
    shutil.rmtree(run_dir, ignore_errors=True)

    wrong = canary()
    if not results:
        print("perfbench: no operation succeeded", file=sys.stderr)
        for r in ledger.reasons:
            print(r, file=sys.stderr)
        return 1
    # latencies over whole op cycles only, so every run weights the query
    # kinds the same
    whole = cycles(results, wl.cycle)
    samples = [s for c in whole for r in c for s in r.samples_ms]
    e2e = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (statistics.median(
            sum(r.docs for r in c) / sum(r.timed_s for r in c)
            for c in whole), "1/s"),
        "op_p50_ms": (tr.percentile(samples, 50), "ms"),
        "op_tail_ms": (tr.percentile(samples, TAIL_P), "ms"),
        "stored_mb": (statistics.median(r.stored_bytes for r in results) / 1e6, "MB"),
        "peak_rss_mb": (rss, "MB"),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    lat = tr.summarize(samples)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, **code_stamp(),
        "input_sha256": inputs.content_hash, "input_sizes": inputs.sizes.__dict__,
        "input_cached": inputs.cached, "input_gen_s": inputs.gen_s,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "ops": len(results),
        "op_s": [round(r.timed_s, 4) for r in results],
        "latency_samples": lat["n"], "tail_rule_percentile": lat["tail_p"],
        "tail_rule_ms": lat["tail"], "op_tail_percentile": TAIL_P,
        "error_rate": ledger.error_rate, "failures": ledger.reasons[:20],
        "canary": wrong or "checks rejected every wrong answer",
        "op_kind_p50_ms": {k: tr.percentile([r.timed_s * 1e3 for r in results
                                              if r.kind == k], 50)
                           for k in sorted({r.kind for r in results if r.kind})},
        "setup": {"start_s": start_s, "rounds": rounds},
        "peak_rss_mb_by_process": rss_parts,
        "run_wall_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
    }
    if args.trace:
        stamp["layer_source"] = lp.sources
        stamp["spans"] = len(ctx.tracer.spans)
        stamp["e2e_of_traced_run"] = {k: v for k, (v, _) in e2e.items()}
    for k, (v, u) in e2e.items():
        print(f"{k:>14} {v:14.4f} {u}")
    print(f"{'error_rate':>14} {ledger.error_rate:14.4f} "
          f"({ledger.failed}/{ledger.attempted})")
    if args.trace:
        for k in sorted(layer):
            print(f"{k:>40} {layer[k]:14.6g}")
    print("stamp " + json.dumps(stamp, default=str))
    result = {"correct": ledger.failed == 0 and not wrong,
              "attempted": ledger.attempted, "failed": ledger.failed,
              "metrics": metrics}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}-{int(time.time())}.json"),
              "w") as fh:
        json.dump({"stamp": stamp, "result": result}, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
