#!/usr/bin/env python
"""Extra benchmarks (round 7 optimization evidence) — bench.py is FROZEN for
the driver's measurement, so per-query isolation, full-surface timing and
plan capture live here (guide §1.1/§1.4/§1.5).

* Times EVERY declared query (``__spark_entry__.queries()``) with the noop
  sink, best-of-N repeats, with job descriptions set.
* ``--plans DIR [--suffix before|after]`` writes ``.explain("formatted")``
  for each query to ``DIR/<query>_<suffix>.txt``.
* ``--task-cost`` times the fixed cost of a Spark task with and without a
  Python worker: a JVM-only ``spark.range(16, numPartitions=16)`` count, an
  identity ``mapInPandas`` over the same 16 partitions, and the in-worker
  ``importlib.invalidate_caches()`` call that PySpark makes at the start of
  every Python task.  Interleaved, best of 3, in one session.
* ``--timeline`` records when each stage of a warm ``extract_docs`` pass
  runs, on the sparkbench seed-1 extract-bulk corpus in the sparkbench
  session (local[2], 512k splits): per stage its submit, first-task launch
  and completion times (seconds from the pass start), its task count, and
  every task's launch time and duration, read through a job group and the
  status store as ``sparkbench.tracing.stage_records`` does.  One warm-up
  pass, then TIMELINE_PASSES recorded passes.
* Session/conf methodology matches bench.py exactly (same task-slot cap,
  same small-input maxPartitionBytes override) so numbers are comparable
  with the driver's headline queries.

Usage:
  python bench_extra.py                      # time all queries at sf0.1
  python bench_extra.py --queries q23_lsh_candidates,q22_minhash_signatures
  python bench_extra.py --plans plans/r07 --suffix before --no-timing
  python bench_extra.py --task-cost --out /tmp/task_cost.json
  python bench_extra.py --timeline --out /tmp/extract_timeline.json
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402 — reuse session/_warmup/corpus methodology


def _explain_formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


TASK_COST_PARTS = 16
TASK_COST_REPEATS = 3


def _identity_batches(batches):
    # every package UDF imports the package in the worker; do the same so
    # the worker runs exactly what a package mapInPandas task runs
    import pdf_extraction_tests_spark  # noqa: F401

    yield from batches


def _invalidate_caches_ms(batches):
    import importlib

    import pandas as pd

    import pdf_extraction_tests_spark  # noqa: F401

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"ms": [(time.perf_counter() - t0) * 1e3]})


def task_cost(spark) -> dict:
    """Per-task cost of a JVM-only task, a Python identity task and the
    in-worker ``importlib.invalidate_caches()`` call.  The job variants
    report wall time per task (``wall / TASK_COST_PARTS``); the invalidate
    variant reports the median over its tasks of one call each.  One
    untimed round first spawns the workers and imports the package."""
    import statistics

    from pdf_extraction_tests_spark.shipping import ship_package

    ship_package(spark)
    n = TASK_COST_PARTS

    def frame():
        return spark.range(n, numPartitions=n)

    def jvm_only() -> float:
        t0 = time.perf_counter()
        frame().count()
        return (time.perf_counter() - t0) * 1e3 / n

    def python_identity() -> float:
        t0 = time.perf_counter()
        frame().mapInPandas(_identity_batches, "id long").write.format(
            "noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e3 / n

    def invalidate_caches() -> float:
        rows = frame().mapInPandas(_invalidate_caches_ms, "ms double").collect()
        return statistics.median(r.ms for r in rows)

    variants = {
        "jvm_only_ms_per_task": jvm_only,
        "python_identity_ms_per_task": python_identity,
        "invalidate_caches_ms": invalidate_caches,
    }
    for fn in variants.values():
        fn()
    runs: dict[str, list[float]] = {k: [] for k in variants}
    with bench._StealMeter() as sm:
        for _ in range(TASK_COST_REPEATS):
            for name, fn in variants.items():
                spark.sparkContext.setJobDescription(f"task_cost:{name}")
                runs[name].append(round(fn(), 2))
        spark.sparkContext.setJobDescription(None)
    return {
        "master": spark.sparkContext.master,
        "partitions": n,
        "host_cpus": os.cpu_count(),
        "best": {k: min(v) for k, v in runs.items()},
        "all_runs": runs,
        "steal_pct": sm.steal_pct,
    }


TIMELINE_PASSES = 4


def _stage_timeline(spark, group: str, t0_ms: int) -> list[dict]:
    """Per executed stage of the jobs in ``group``: submit, first-task
    launch and completion times in seconds from ``t0_ms`` (epoch ms), the
    task count, and each task's (launch, duration) in seconds."""
    store = spark._jsc.sc().statusStore()  # noqa: SLF001
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava  # noqa: SLF001
    tracker = spark.sparkContext.statusTracker()

    def rel(opt_date):
        return (round((opt_date.get().getTime() - t0_ms) / 1e3, 3)
                if opt_date.isDefined() else None)

    out = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job)
        for sid in sorted(info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- skipped or evicted stage
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tasks = to_java(store.taskList(sid, sd.attemptId(), 1 << 30))
            out.append({
                "job": job, "stage": sid, "name": sd.name(),
                "submit_s": rel(sd.submissionTime()),
                "first_launch_s": rel(sd.firstTaskLaunchedTime()),
                "complete_s": rel(sd.completionTime()),
                "tasks": sd.numTasks(),
                "input_bytes": sd.inputBytes(),
                "shuffle_write_records": sd.shuffleWriteRecords(),
                "task_launch_dur_s": sorted(
                    [round((t.launchTime().getTime() - t0_ms) / 1e3, 3),
                     round(t.duration().get() / 1e3, 3)]
                    for t in tasks if t.duration().isDefined()),
            })
    return out


def extract_timeline() -> dict:
    """Stage timeline of warm extract_docs passes to the noop sink on the
    sparkbench seed-1 extract-bulk corpus, in the sparkbench session."""
    import shutil
    import tempfile
    from statistics import median

    from sparkbench import workloads as W

    from pdf_extraction_tests_spark.pipeline import extract_docs
    from pdf_extraction_tests_spark.shipping import ship_package

    work = tempfile.mkdtemp(prefix="timeline-")
    run = W.Run(REPO, work, "extract-bulk", 1)
    run.start_session()
    try:
        run.ensure_inputs()
        spark = run.spark
        ship_package(spark)
        W.warmup(run)
        sc = spark.sparkContext
        records = []
        for i in range(TIMELINE_PASSES + 1):  # pass 0 warms the plan and the JIT
            group = f"timeline-{i}"
            sc.setJobGroup(group, "extract_docs timeline")
            W.settle(run)
            t0_ms = int(time.time() * 1e3)
            t0 = time.perf_counter()
            df = extract_docs(run.corpus_df())
            build_s = time.perf_counter() - t0
            W.noop(df)
            wall_s = time.perf_counter() - t0
            stages = _stage_timeline(spark, group, t0_ms)
            busy = sum(d for s in stages for _, d in s["task_launch_dur_s"])
            records.append({
                "wall_s": round(wall_s, 3), "build_s": round(build_s, 3),
                "stages": len(stages),
                "tasks": sum(s["tasks"] for s in stages),
                # share of slot time with no task running
                "slot_idle_frac": round(1 - busy / (W.SLOTS * wall_s), 3),
                "stage_timeline": stages,
            })
        warm = records[1:]
        return {
            "master": W.MASTER, "host_cpus": os.cpu_count(),
            "corpus_docs": run.stats["corpus_docs"],
            "median": {k: median(r[k] for r in warm) for k in
                       ("wall_s", "build_s", "stages", "tasks", "slot_idle_frac")},
            "passes": warm,
        }
    finally:
        run.spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="",
                    help="comma-separated names (default: all declared)")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--plans", default="", help="dir for explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-timing", action="store_true")
    ap.add_argument("--extract", action="store_true",
                    help="also time the extraction pipeline on the bench corpus")
    ap.add_argument("--task-cost", action="store_true",
                    help="only time the per-task cost of JVM and Python tasks")
    ap.add_argument("--timeline", action="store_true",
                    help="only record the stage timeline of warm extract_docs "
                         "passes on the sparkbench seed-1 corpus")
    ap.add_argument("--out", default="", help="write JSON here too")
    args = ap.parse_args()

    if args.timeline:
        _emit({"extract_timeline": extract_timeline()}, args.out)
        return

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    spark = bench._session(f"local[{bench._effective_tasks()}]")
    if args.task_cost:
        _emit({"task_cost": task_cost(spark)}, args.out)
        spark.stop()
        return
    qmap = entry.queries()
    names = [n for n in args.queries.split(",") if n] or list(qmap)
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown} "
                         f"(declared: {sorted(qmap)[:5]}...)")

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            if name not in qmap:
                continue
            try:
                df = qmap[name](spark, args.sf)
                text = _explain_formatted(df)
            except Exception as e:  # noqa: BLE001
                text = f"PLAN FAILED: {e!r}"
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(text)
            print(f"plan: {name}", flush=True)

    result: dict = {"sf": args.sf, "repeats": args.repeats}
    if not args.no_timing:
        # warm the workers exactly like bench.py so the first timed query
        # doesn't pay Python-worker cold start
        bench.ensure_corpus(spark)
        bench._warmup(spark)
        times: dict[str, list[float]] = {}
        with bench._StealMeter() as sm:
            for name in names:
                if name not in qmap:
                    continue
                fn = qmap[name]
                runs = []
                for _ in range(args.repeats):
                    spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                    t0 = time.time()
                    df = fn(spark, args.sf)
                    df.write.format("noop").mode("overwrite").save()
                    runs.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
                times[name] = runs
                print(f"  {name}: {min(runs)} {runs}", flush=True)
        result["queries_best"] = {n: min(r) for n, r in times.items()}
        result["queries_all"] = times
        result["steal_pct"] = sm.steal_pct
        result["total_best_sec"] = round(
            sum(result["queries_best"].values()), 2)

    if args.extract:
        bench.ensure_corpus(spark)
        bench._warmup(spark)
        runs = []
        for _ in range(args.repeats):
            with bench._StealMeter() as sm:
                sec, n = bench.time_extraction(spark)
            runs.append({"sec": round(sec, 3), "steal_pct": sm.steal_pct})
        result["extract"] = {"runs": runs, "docs": n,
                             "best_sec": min(r["sec"] for r in runs)}

    _emit(result, args.out)
    spark.stop()


def _emit(result: dict, out: str) -> None:
    print(json.dumps(result))
    if out:
        with open(out, "w") as f:
            json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
