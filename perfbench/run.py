"""Benchmark of the terrier_spark IR engine.

    python3 perfbench/run.py --workload query|ingest_live \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One driver process, Spark at
``local[<usable cpus>]``, one closed-loop client.  With ``--trace 0`` the
last stdout line is the end-to-end result; with ``--trace 1`` it carries
the per-layer metrics of a traced run (see perfbench/README.md).  The line
before it is the run's report: input properties, host annotations, the
operation times and any check failures.  Both, and the spans of a traced
run, are also written to ``.perfbench_out/``.  Scratch data lives in
``.perfbench_work/<run id>/`` and is removed at exit.  A run that is
still going after ``DEADLINE_S`` kills its processes and exits with 3.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# Fits a 4-core, 15 GiB host next to other tenants (get_spark defaults
# to 48g, sized for a 128 GiB machine).
DRIVER_MEM = "2g"
# Status-store retention: every job, stage and SQL execution of a run
# must stay readable for the traced counters.
RETAIN = "100000"
DEADLINE_S = 170


def _environment(cpus: int, work: str) -> None:
    """Process environment the session, the JVM and the Python workers
    inherit.  Set before anything starts a JVM or uses tempfile."""
    env = os.environ
    path = env.get("PYTHONPATH")
    # Python workers import terrier_spark from the checkout.
    env["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_MASTER"] = f"local[{cpus}]"
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # The heap starts at its full size, so how far ParallelGC grows it does
    # not vary from run to run and move peak_rss_mb.
    env["SPARK_GC_OPTS"] = (
        f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -Djava.io.tmpdir={env['TMPDIR']}"
    )


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _kill(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap() -> None:
    """Kill whatever this process started that is still running, and wait
    until each has ended."""
    from perfbench.procmon import descendants, wait_gone

    left = descendants(os.getpid())
    _kill(left)
    wait_gone(left, 30)


def _abort(work: str) -> None:
    """Deadline passed: kill every process this run started and exit."""
    print(f"perfbench: still running after {DEADLINE_S} s, aborting", file=sys.stderr)
    _reap()
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def _start_spark(cpus: int, work: str):
    from terrier_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": RETAIN,
            "spark.ui.retainedStages": RETAIN,
            "spark.sql.ui.retainedExecutions": RETAIN,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    from perfbench.procmon import descendants, wait_gone

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    left = wait_gone(tree, 30)
    _kill(left)
    wait_gone(left, 10)


def _write_inputs(b, specs: list[tuple[str, int, int]], cpus: int) -> float:
    """Write the seeded Parquet inputs before the session starts, split
    over at most ``cpus`` writer processes, and wait for each to end.
    Returns the seconds it took.  (A multiprocessing pool would start its
    resource-tracker process, which outlives the run.)"""
    from perfbench import inputs

    parts = []
    for name, start, n_docs in specs:
        os.makedirs(b.path(name))
        split = inputs.split_window(start, n_docs, max(1, min(cpus, n_docs // 200)))
        parts += [
            (str(lo), str(hi), os.path.join(b.path(name), f"part-{i:03d}.parquet"))
            for i, (lo, hi) in enumerate(split)
        ]
    t0 = time.perf_counter()
    procs = []
    try:
        for w in range(min(cpus, len(parts))):
            args = [a for part in parts[w::cpus] for a in part]
            procs.append(subprocess.Popen([sys.executable, "-m", "perfbench.inputs", *args], cwd=ROOT))
        for p in procs:
            if p.wait() != 0:
                raise RuntimeError(f"input writer exited with {p.returncode}")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    b.source_bytes = sum(os.path.getsize(path) for _, _, path in parts)
    return time.perf_counter() - t0


def _exact_counters(path: str, layer: dict, units: dict) -> dict | None:
    """Per-layer counts and byte sizes that equal those of the previous
    traced run of the same workload and seed, if there was one (metrics 0
    in both runs, of layers the workload does not use, are left out)."""
    try:
        with open(path) as f:
            prev = json.load(f)
    except FileNotFoundError:
        return None
    counted = sorted(
        k for k, u in units.items() if u in ("count", "bytes") and (layer[k] or prev["layer"].get(k))
    )
    return {
        "compared_with": prev["run_id"],
        "exact": [k for k in counted if prev["layer"].get(k) == layer[k]],
        "varying": [k for k in counted if prev["layer"].get(k) != layer[k]],
    }


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the session is stopped and the
    # scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK, run_id)
    watchdog = threading.Timer(DEADLINE_S, _abort, (work,))
    watchdog.daemon = True
    watchdog.start()
    _environment(cpus, work)
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.procmon import HostAnnotation, RssSampler
    from perfbench.trace import SparkCounters, Tracer

    host = HostAnnotation()
    os.makedirs(os.environ["TMPDIR"])
    b = workloads.Bench(work, args.seed, args.seconds)
    wl = workloads.WORKLOADS[args.workload](b)
    t_run = time.perf_counter()
    try:
        write_s = _write_inputs(b, wl.inputs(), cpus)
        t0 = time.perf_counter()
        spark = _start_spark(cpus, work)
        start_s = time.perf_counter() - t0
        try:
            from pyspark import SparkContext

            b.spark = spark
            b.tracer = Tracer(spark, run_id, enabled=bool(args.trace))
            counters = SparkCounters(spark)
            with RssSampler(SparkContext._gateway.proc.pid) as rss:
                for rep in range(workloads.SETUP_REPS):
                    t0 = time.perf_counter()
                    with b.tracer.span("bench.setup", phase="setup"):
                        wl.setup(rep)
                    b.setup_s.append(time.perf_counter() - t0)
                gc0 = counters.jvm_gc_ms()
                t_measure = time.perf_counter()
                wl.measure()
                gc_s = (counters.jvm_gc_ms() - gc0) / 1e3
            t_verify = time.perf_counter()
            wl.verify()
            e2e = wl.metrics()
            if args.trace:
                b.tracer.collect()
                wl.layers()
        finally:
            t_stop = time.perf_counter()
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        _reap()
    watchdog.cancel()
    b.report["phase_s"] = {
        "inputs": write_s,
        "session": start_s,
        "setup": t_measure - t_run - write_s - start_s,
        "measure": t_verify - t_measure,
        "verify": t_stop - t_verify,
        "stop": time.perf_counter() - t_stop,
    }

    peak = rss.peak_mb()
    # The first set-up is cold (Python worker start-up, JIT); the last
    # is the warm one that setup_s reports.
    setup_cold, setup_warm = b.setup_s[0], b.setup_s[-1]
    if args.trace:
        L = b.layer
        L.update({
            "session.start_s": start_s,
            "corpus.write_s": write_s,
            "corpus.source_bytes": float(b.source_bytes),
            "setup.cold_s": setup_cold,
            "setup.warm_s": setup_warm,
            "proc.jvm_rss_peak_mb": peak["jvm"],
            "proc.python_workers_rss_peak_mb": peak["workers"],
            "spark.gc_s": gc_s,
        })
        b.self_time_layer()
        for m in spec["per_layer"]:
            L.setdefault(m["name"], 0.0)  # a layer this workload does not use
        values, wanted = L, spec["per_layer"]
    else:
        e2e.update(setup_s=start_s + setup_warm, peak_rss_mb=peak["total"])
        values, wanted = e2e, spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}

    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": metrics,
    }
    b.report.update(
        workload=args.workload, seed=args.seed, trace=args.trace, run_id=run_id,
        host=host.finish(), session_start_s=start_s, input_write_s=write_s,
        setup_s=b.setup_s, rss_peak_mb=peak, failures=b.failures,
    )
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        b.report["exact_counters"] = _exact_counters(out, b.layer, units)
    with open(out, "w") as f:
        json.dump({
            "run_id": run_id, "result": result, "report": b.report, "layer": b.layer,
            "spans": b.tracer.spans,
        }, f, indent=1, default=str)
    print(json.dumps({"report": b.report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
