#!/usr/bin/env python3
"""Benchmark entry point.

    python3 sparkbench/run.py --workload extract-bulk --seed 1 --seconds 15 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed (cached under ``.sparkbench/cache``), sets the session up several
times, checks the program's outputs against the pandas kernel and DuckDB,
then either times the workload's pass for ``--seconds`` (``--trace 0``:
end-to-end metrics) or runs the traced layer sweep (``--trace 1``:
per-layer metrics, spans written to ``.sparkbench/trace-*.json``).  The
last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's context record (host load, steal, component times).

Everything the run writes -- inputs, Spark scratch, temp files, outputs --
stays under ``.sparkbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sparkbench import workloads as W  # noqa: E402  (needs ROOT on the path)
from sparkbench.tracing import HostMeter, check_metric_name, descendants  # noqa: E402

STATE = os.path.join(ROOT, ".sparkbench")
CACHE_KEEP = 6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=list(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` and silence the console progress bar."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def evict_cache(keep: int) -> None:
    cache = os.path.join(STATE, "cache")
    if not os.path.isdir(cache):
        return
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                     for e in os.listdir(cache))
    for _mtime, e in entries[:-keep] if keep else entries:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def shutdown(run) -> None:
    """Stop the session and the JVM, then wait until the JVM and every
    Python worker it forked have exited."""
    if run.spark is None:
        return
    pids = descendants(run.jvm_pid())
    run.spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 -- fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def metric_block(values: dict, specs) -> tuple[dict, list[str]]:
    out, missing = {}, []
    for name, unit, _better in specs:
        check_metric_name(name)
        if name in values:
            out[name] = {"value": float(values[name]), "unit": unit}
        else:
            missing.append(name)
    return out, missing


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_extraction_tests_spark", "pipeline.py")):
        print(f"sparkbench: no pdf_extraction_tests_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    evict_cache(CACHE_KEEP)

    from pyspark import cloudpickle

    # the sweep's identity crossing runs a function of this module on the
    # workers, which import only the shipped package
    cloudpickle.register_pickle_by_value(W)

    run = W.Run(ROOT, work, args.workload, args.seed)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    phases = record["phases_s"] = {}
    try:
        with HostMeter() as host:
            t0 = time.perf_counter()
            # a traced run reports per-layer figures only, so one (cold)
            # set-up cycle is enough and keeps it far from the time limit
            setups = W.setup(run, 1 if args.trace else W.SETUP_CYCLES)
            record["setup_cycles"] = setups
            values = {"setup_s": median([s["setup_s"] for s in setups])}
            t1 = phases["setup"] = time.perf_counter() - t0
            if args.trace:
                result = W.traced(run, setups)
                values.update(result["metrics"])
                specs = W.per_layer_metrics()
            else:
                record["match_rate"] = W.CHECKS[args.workload](run)
                t2 = time.perf_counter()
                phases["check"] = t2 - t0 - t1
                t = W.timed(run, args.seconds)
                phases["timed"] = time.perf_counter() - t2
                record["rss_pass_s"] = t.pop("_rss_pass_s", None)
                record["passes"] = t.pop("_passes", [])
                values.update(t)
                specs = W.END_TO_END
            phases["run"] = time.perf_counter() - t0
        record["host"] = host.record()
        record["errors"] = run.errors
        if args.trace:
            os.makedirs(STATE, exist_ok=True)
            path = os.path.join(STATE, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"record": record, **result}, f)
            record["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        t3 = time.perf_counter()
        shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
        phases["shutdown"] = time.perf_counter() - t3

    metrics, missing = metric_block(values, specs)
    if missing:
        run.errors.append(f"missing metrics: {missing}")
    correct = run.failed == 0 and not missing
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
