"""The two workloads, their timed passes, correctness checks and the
traced layer sweep.

Every Spark call goes through the package's public entry points
(``session.get_spark``, ``pipeline.extract_docs`` / ``extract_direct`` /
``extract_chunked`` / ``with_part_key`` / ``run_pipeline`` /
``read_extracted``, ``queries.queries()``); the benchmark's own Spark code
is limited to the scan/projection/identity-crossing reference variants the
layer sweep needs.
"""

from __future__ import annotations

import gc
import importlib
import os
import shutil
import time
import uuid
from statistics import median

import pandas as pd
import pyarrow.parquet as pq

from sparkbench import inputs, oracles
from sparkbench.tracing import (
    HostMeter, RssSampler, Tracer, percentile, plan_counts, self_time_by_name,
    stage_records, summarize_stages,
)

# One driver process on local[2]: every extraction task holds a JVM thread
# and a Python worker, so two slots is nproc/2 on a 4-CPU host -- the same
# cap bench.py's _effective_tasks applies.
MASTER = "local[2]"
SLOTS = 2
SETUP_CYCLES = 3
# docs in each single-process kernel pass of the sweep; p99 then rests on
# the 10 samples beyond it
KERNEL_DOCS = 1000

# the curation-queries pass: ROADMAP direction 3's funnel and one LSH query.
# q62 re-runs q59's whole funnel (the same nine scans and shuffle) and adds
# a six-row summary, so it is timed and checked in the traced sweep, with
# the queries of the q45 and q51 ROADMAP items, rather than in every pass
QUERIES = [
    "q59_curation_funnel",
    "q23_lsh_candidates",
]
SWEEP_QUERIES = QUERIES + ["q62_funnel_summary", "q45_token_budget_head",
                           "q51_boilerplate_ngrams"]

KERNEL_FNS = [
    "spans_to_regions", "reanchor_media", "filter_regions", "reading_order",
    "detect_document_format", "detect_band_format", "assign_bands",
    "extract_title", "extract_authors", "strip_boilerplate",
    "extract_abstract_banded", "extract_abstract", "scan_boundaries",
    "scan_boundaries_elsevier", "lookahead_end_scan", "mdpi_xzone_filter",
    "dedupe_sentences", "clean_text", "clean_author_list",
]

# Both workloads read the same seeded inputs; they differ in what they run.
# The documents table follows sf0.1's measured row model (inputs.py) at the
# 500 rows of the sf0.01 test data: on local[2] a q59+q62+q23 pass costs
# ~38 s at sf0.1's 5000 rows, so a run could not hold the four passes a
# checked, steady measurement needs.  The corpus texts cycle over its rows;
# 3000 docs hold the one oversized doc below id 6000 (id 3).
INPUTS = {"docs": 3000, "corpus_files": 4, "tables_docs": 500,
          "skewed_small": 300, "skewed_big": 3}

WORKLOADS = {
    "extract-bulk": "natural mixed corpus through extract_docs to the noop "
                    "sink: the kernel and the flat Arrow crossing do the work; "
                    "writes and the chunked skew path idle",
    "curation-queries": "q59 curation funnel and q23 LSH over an sf0.1-shaped "
                        "documents table to the noop sink: planning, scans and "
                        "operators do the work; the extraction kernel idles",
}

# (name, unit, better); the bound lives in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("input_mb_per_s", "MB/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every metric a traced run reports, in BENCHMARK.json order."""
    m = [
        ("session.start_s", "s", "lower"),
        ("shipping.ship_package_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("corpus.generate_s", "s", "lower"),
        ("corpus.docs", "count", "higher"),
        ("corpus.input_bytes", "bytes", "higher"),
        ("corpus.oversize_docs", "count", "higher"),
        ("corpus.skewed.docs", "count", "higher"),
        ("corpus.skewed.input_bytes", "bytes", "higher"),
        ("corpus.skewed.oversize_docs", "count", "higher"),
        ("pipeline.scan_s", "s", "lower"),
        ("pipeline.flat_project_s", "s", "lower"),
        ("pipeline.crossing_identity_s", "s", "lower"),
        ("pipeline.extract_direct_s", "s", "lower"),
        ("pipeline.extract_docs_s", "s", "lower"),
        ("pipeline.extract_chunked_s", "s", "lower"),
        ("pipeline.chunk_rows", "count", "lower"),
        ("spark.extract.task_max_over_p50", "ratio", "lower"),
        ("spark.extract.shuffle_write_mb", "MB", "lower"),
        ("spark.extract.scan_stages", "count", "lower"),
        ("spark.extract.executor_run_s", "s", "lower"),
        ("spark.extract.gc_s", "s", "lower"),
        ("pipeline.run_pipeline_s", "s", "lower"),
        ("pipeline.read_extracted_s", "s", "lower"),
        ("pipeline.resume_s", "s", "lower"),
        ("tables.bytes_written", "bytes", "lower"),
        ("tables.files_written", "count", "lower"),
        ("tables.write_amp", "ratio", "lower"),
        ("spark.resume.input_mb", "MB", "lower"),
        ("extract_core.docs_per_s", "docs/s", "higher"),
        ("extract_core.doc_latency_p50_ms", "ms", "lower"),
        ("extract_core.doc_latency_p99_ms", "ms", "lower"),
        ("extract_core.doc_latency_samples", "count", "higher"),
    ]
    for fn in KERNEL_FNS:
        m.append((f"extract_core.{fn}.self_s", "s", "lower"))
        m.append((f"extract_core.{fn}.calls", "count", "lower"))
    for q in SWEEP_QUERIES:
        m += [
            (f"queries.{q}_s", "s", "lower"),
            (f"queries.{q}.file_scans", "count", "lower"),
            (f"queries.{q}.python_nodes", "count", "lower"),
            (f"spark.{q}.shuffle_write_mb", "MB", "lower"),
        ]
    m += [
        ("queries.suite_s", "s", "lower"),
        ("spark.queries.executor_run_s", "s", "lower"),
        ("span_match_rate", "fraction", "higher"),
        ("query_match_rate", "fraction", "higher"),
        ("ops_failed_frac", "fraction", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.unaccounted_frac", "fraction", "lower"),
    ]
    return m


# ---------------------------------------------------------------------------
# run context: session, inputs, failure accounting
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, root: str, work: str, workload: str, seed: int):
        self.root, self.work = root, work
        self.name, self.spec = workload, INPUTS
        self.seed = seed
        self.spark = None
        # stopped contexts stay referenced: ship_package keys on id(sc),
        # and a recycled id would skip shipping to the new context
        self._old_contexts: list = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.input_dir: str | None = None
        self.stats: dict = {}
        self._corpora: dict[str, pd.DataFrame] = {}

    # -- failure accounting -------------------------------------------------
    def attempt(self, label: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 -- counted and reported
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}"[:500])
            return None

    def count_checks(self, label: str, matched: int, checked: int) -> None:
        self.attempted += checked
        if matched != checked:
            self.failed += checked - matched
            self.errors.append(f"{label}: {checked - matched} of {checked} mismatched")

    # -- session ------------------------------------------------------------
    def stop_session(self) -> None:
        self._old_contexts.append(self.spark.sparkContext)
        self.spark.stop()

    def start_session(self) -> float:
        """Start a session; return how long that took."""
        from pdf_extraction_tests_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app="sparkbench", master=MASTER, shuffle_partitions=SLOTS)
        # small-input settings, as bench.py uses: the corpus is a few MB,
        # so the 128 MB default would pack it into one scan split and send
        # extract_docs down its under-partitioned (repartition) branch
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512k")
        spark.conf.set("spark.sql.files.openCostInBytes", "64k")
        start_s = time.perf_counter() - t0
        self.spark = spark
        return start_s

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001

    # -- inputs -------------------------------------------------------------
    def ensure_inputs(self) -> bool:
        cache = os.path.join(self.root, ".sparkbench", "cache")
        self.input_dir, self.stats, hit = inputs.ensure_inputs(
            cache, self.root, self.spec, self.seed)
        return hit

    @property
    def tables_dir(self) -> str:
        return os.path.join(self.input_dir, "tables")

    def corpus_path(self, name: str = "corpus") -> str:
        return os.path.join(self.input_dir, name)

    def corpus_pandas(self, name: str = "corpus") -> pd.DataFrame:
        if name not in self._corpora:
            rows = pq.read_table(self.corpus_path(name)).to_pylist()
            self._corpora[name] = pd.DataFrame(rows, columns=["doc_id", "spans"])
        return self._corpora[name]

    def corpus_df(self, name: str = "corpus"):
        from pdf_extraction_tests_spark.schema import DOCS

        return self.spark.read.schema(DOCS).parquet(self.corpus_path(name))

    def fresh_dir(self, tag: str) -> str:
        return os.path.join(self.work, f"{tag}-{uuid.uuid4().hex[:8]}")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's .crc and _SUCCESS
    markers count as bytes but not as data files."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            if n.endswith(".parquet"):
                files += 1
    return total, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# setup: session start, inputs, worker warmup
# ---------------------------------------------------------------------------


# the package module a workload's pass runs in the Python workers
WORKER_MODULE = {
    "extract-bulk": "pdf_extraction_tests_spark.extract_core",
    "curation-queries": "pdf_extraction_tests_spark.queries",
}


def _import_in_worker(module: str):
    def run(batches):
        importlib.import_module(module)
        yield from batches
    return run


def warmup(run: Run) -> None:
    """Spawn both Python workers and import the workload's package module
    in them.  Compiling the pass's plans is left to the correctness check,
    which runs the pass's own work first."""
    noop(run.spark.range(SLOTS, numPartitions=SLOTS).mapInPandas(
        _import_in_worker(WORKER_MODULE[run.name]), schema="id long"))


def steal_free(seconds: float, host: HostMeter) -> float:
    """``seconds`` net of hypervisor steal: the wall time scaled by the
    share of busy CPU time the VM actually got.  On a shared host the steal
    share swings from ~0 to 25% within minutes and stretches every CPU-bound
    step by as much; the raw wall and the steal stay in the run record."""
    return seconds * (1.0 - host.steal_busy_frac)


def setup_cycle(run: Run) -> dict:
    """One full set-up: (re)start the session, make or find the inputs,
    ship the package and warm the workers.  Returns component times."""
    from pdf_extraction_tests_spark.shipping import ship_package

    if run.spark is not None:
        run.stop_session()
    with HostMeter() as host:
        start_s = run.start_session()
        t1 = time.perf_counter()
        hit = run.ensure_inputs()
        t2 = time.perf_counter()
        ship_package(run.spark)
        t3 = time.perf_counter()
        warmup(run)
        t4 = time.perf_counter()
    wall = start_s + (t4 - t1)
    return {"setup_s": steal_free(wall, host), "wall_s": wall,
            "steal_busy_frac": host.steal_busy_frac, "session.start_s": start_s,
            "inputs_s": t2 - t1, "cache_hit": hit,
            "shipping.ship_package_s": t3 - t2, "warmup_s": t4 - t3}


def setup(run: Run, cycles: int = SETUP_CYCLES) -> list[dict]:
    return [setup_cycle(run) for _ in range(cycles)]


# ---------------------------------------------------------------------------
# correctness checks (outside every timed region)
# ---------------------------------------------------------------------------


def check_extraction(run: Run) -> float:
    """Every doc's span sequence from extract_docs vs the pandas kernel."""
    from pdf_extraction_tests_spark.pipeline import extract_docs

    want = oracles.kernel_span_keys(run.corpus_pandas())
    got = run.attempt("extract_docs collect", lambda: extract_docs(
        run.corpus_df()).select("doc_id", "spans").toPandas())
    if got is None:
        return 0.0
    matched, checked = oracles.compare_spans(got, want)
    run.count_checks("extract_docs spans", matched, checked)
    return matched / checked


def match_oracles(run: Run, got: dict) -> float:
    """Each query's collected rows (None if the query raised) vs its DuckDB
    oracle_sql(); returns the share that match."""
    from pdf_extraction_tests_spark.queries import oracle_sql

    sqls = oracle_sql()
    matched = 0
    for q, rows in got.items():
        want = run.attempt(f"{q} duckdb", oracles.duckdb_rows, run.tables_dir, sqls[q])
        ok = rows is not None and want is not None and oracles.canon(rows) == want
        run.count_checks(q, int(ok), 1)
        matched += ok
    return matched / len(got)


def check_queries(run: Run) -> float:
    """Each query of the pass vs its DuckDB oracle_sql()."""
    from pdf_extraction_tests_spark.queries import queries

    fns = queries()
    return match_oracles(run, {q: run.attempt(f"{q} collect", lambda q=q: fns[q](
        run.spark, run.tables_dir).toPandas()) for q in QUERIES})


CHECKS = {
    "extract-bulk": check_extraction,
    "curation-queries": check_queries,
}


# ---------------------------------------------------------------------------
# timed passes: each returns its wall seconds
# ---------------------------------------------------------------------------


def pass_extract(run: Run) -> float:
    from pdf_extraction_tests_spark.pipeline import extract_docs

    t0 = time.perf_counter()
    noop(extract_docs(run.corpus_df()))
    return time.perf_counter() - t0


def pass_queries(run: Run) -> float:
    from pdf_extraction_tests_spark.queries import queries

    fns = queries()
    t0 = time.perf_counter()
    for q in QUERIES:
        noop(fns[q](run.spark, run.tables_dir))
    return time.perf_counter() - t0


PASSES = {
    "extract-bulk": pass_extract,
    "curation-queries": pass_queries,
}


def work_units(run: Run) -> tuple[int, float]:
    """(docs, input MB) one pass processes."""
    if run.name == "curation-queries":
        return run.stats["documents"], run.stats["documents_text_bytes"] / 1e6
    return run.stats["corpus_docs"], run.stats["corpus_input_bytes"] / 1e6


MIN_PASSES = 3


def settle(run: Run) -> None:
    """Collect garbage in the JVM and the driver's Python before a pass, so
    that every pass starts from a compacted heap: without it a warm
    curation-queries pass spent 70-430 ms in GC, with it 60-130 ms."""
    run.spark._jvm.System.gc()  # noqa: SLF001
    gc.collect()


def timed(run: Run, seconds: float) -> dict:
    """One untimed pass for peak RSS, then the workload's pass repeated
    for ``seconds``, and at least MIN_PASSES times; end-to-end metrics come
    from the median steal-free pass time.

    The correctness check ran the pass's work once, cold.  The JVM is
    still JIT-compiling long after that: the curation-queries passes after
    it used 18, 14, 13, 13, 12, then 9-10.5 CPU-seconds, so the RSS pass
    doubles as a second warm-up and the timed passes start further down
    that curve.

    Peak RSS is sampled, every 0.05 s, only in that first pass.  The JVM's
    heap keeps growing by a GC-dependent amount with every further pass
    (830, 890, 920 MB over three extract-bulk passes in one run, 830, 840,
    860 MB in another), so a later peak mostly measures how many passes
    fit in ``seconds``; and the sampler, which walks every JVM thread's
    /proc entry, stays out of the timed passes."""
    one_pass = PASSES[run.name]
    settle(run)
    with RssSampler(run.jvm_pid()) as rss:
        first = run.attempt(f"{run.name} rss pass", one_pass, run)
    if first is None:
        return {}
    passes = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        settle(run)
        with HostMeter() as host:
            wall = run.attempt(f"{run.name} pass", one_pass, run)
        if wall is None:
            break
        passes.append({"pass_s": steal_free(wall, host), "wall_s": wall,
                       "steal_pct": host.steal_pct,
                       "steal_busy_frac": host.steal_busy_frac})
    if not passes:
        return {}
    docs, mb = work_units(run)
    pass_s = median([p["pass_s"] for p in passes])
    return {
        "docs_per_s": docs / pass_s,
        "input_mb_per_s": mb / pass_s,
        "peak_rss_mb": rss.peak / 1e6,
        "_passes": passes,
        "_rss_pass_s": first,
    }


# ---------------------------------------------------------------------------
# traced layer sweep
# ---------------------------------------------------------------------------


def _identity_batches(batches):
    yield from batches


def _flat_projection(docs):
    """spans -> four parallel arrays: the flat boundary shape the
    extraction stage crosses with."""
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id", "part_key",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
        F.col("spans.offset").alias("_orders"),
    )


class Sweep:
    """Runs every layer once on the workload's inputs, recording a span and
    a Spark job group per step."""

    def __init__(self, run: Run, tracer: Tracer):
        self.run, self.tracer = run, tracer
        self.metrics: dict[str, float] = {}
        self.raw: dict[str, list[dict]] = {}
        self.stages: dict[str, dict] = {}
        # the kernel passes' per-call spans, one self-contained list each
        self.kernel_spans: dict[str, list[dict]] = {}

    def step(self, name: str, fn):
        sc = self.run.spark.sparkContext
        group = f"sparkbench.{name}.{uuid.uuid4().hex[:6]}"
        sc.setJobGroup(group, name, False)
        try:
            with self.tracer.span(name) as sp:
                result = self.run.attempt(name, fn)
        finally:
            sc.setJobGroup("sparkbench.idle", "idle", False)
        self.metrics[f"{name}_s"] = sp.seconds
        self.raw[name] = stage_records(self.run.spark, group)
        self.stages[name] = summarize_stages(self.raw[name])
        return result

    # -- layers -------------------------------------------------------------
    def corpus(self):
        run = self.run
        t0 = time.perf_counter()
        with self.tracer.span("corpus.generate"):
            docs = inputs.documents_frame(run.seed, run.spec["tables_docs"])
            for ids in inputs.spec_ids(run.spec):
                inputs.corpus_frame(docs, ids, run.seed)
        self.metrics["corpus.generate_s"] = time.perf_counter() - t0
        for k in ("docs", "input_bytes", "oversize_docs"):
            self.metrics[f"corpus.{k}"] = run.stats[f"corpus_{k}"]
            self.metrics[f"corpus.skewed.{k}"] = run.stats[f"skewed_{k}"]

    def kernel(self):
        """Single-process extract_docs_frame over the first KERNEL_DOCS docs:
        one plain pass for docs/s, one with a per-document wrapper for
        latency, one with every stage function wrapped for self times and
        call counts."""
        from pdf_extraction_tests_spark import extract_core as ec

        corpus = self.run.corpus_pandas().head(KERNEL_DOCS)
        with self.tracer.span("extract_core.plain"):
            t0 = time.perf_counter()
            ec.extract_docs_frame(corpus)
            plain = time.perf_counter() - t0
        self.metrics["extract_core.docs_per_s"] = len(corpus) / plain

        lat = Tracer(self.tracer.run_id)
        with self.tracer.span("extract_core.latency"), \
                _wrapped(ec, lat, ["extract_document"]):
            ec.extract_docs_frame(corpus)
        self.kernel_spans["latency"] = lat.spans
        ms = [d * 1000 for d in lat.durations("extract_document")]
        self.metrics["extract_core.doc_latency_p50_ms"] = percentile(ms, 50)[0]
        p99, n = percentile(ms, 99)
        self.metrics["extract_core.doc_latency_p99_ms"] = p99
        self.metrics["extract_core.doc_latency_samples"] = n

        stage = Tracer(self.tracer.run_id)
        with self.tracer.span("extract_core.stages"), \
                _wrapped(ec, stage, ["extract_document"] + KERNEL_FNS):
            ec.extract_docs_frame(corpus)
        self.kernel_spans["stages"] = stage.spans
        selfs = self_time_by_name(stage.spans)
        for fn in KERNEL_FNS:
            self.metrics[f"extract_core.{fn}.self_s"] = selfs.get(fn, 0.0)
            self.metrics[f"extract_core.{fn}.calls"] = len(stage.durations(fn))

    def extraction(self):
        from pyspark.sql import functions as F

        from pdf_extraction_tests_spark.pipeline import (
            extract_chunked, extract_direct, extract_docs, with_part_key)

        run = self.run
        flat = _flat_projection(with_part_key(run.corpus_df()))
        flat_schema = flat.schema
        self.step("pipeline.scan", lambda: noop(run.corpus_df()))
        self.step("pipeline.flat_project", lambda: noop(flat))
        self.step("pipeline.crossing_identity", lambda: noop(
            flat.mapInPandas(_identity_batches, schema=flat_schema)))
        self.step("pipeline.extract_direct", lambda: noop(
            extract_direct(with_part_key(run.corpus_df()))))
        self.step("pipeline.extract_docs", lambda: noop(extract_docs(run.corpus_df())))
        big = [d for d in run.corpus_pandas("skewed")["doc_id"]
               if inputs.is_oversized_id(int(d[3:]))]
        self.step("pipeline.extract_chunked", lambda: noop(extract_chunked(
            with_part_key(run.corpus_df("skewed").filter(F.col("doc_id").isin(big))))))
        ex = self.stages["pipeline.extract_docs"]
        for k in ("task_max_over_p50", "shuffle_write_mb", "scan_stages",
                  "executor_run_s", "gc_s"):
            self.metrics[f"spark.extract.{k}"] = ex[k]
        # the split stage reads the corpus and shuffles one record per chunk
        self.metrics["pipeline.chunk_rows"] = sum(
            s["shuffle_write_records"] for s in self.raw["pipeline.extract_chunked"]
            if s["input_bytes"] > 0)

    def commit(self) -> float:
        """Commit the skewed corpus, read it back, resume; then check that
        the committed view holds every input doc exactly once with the
        kernel's spans and that the resume re-did nothing.  Returns the
        share of docs whose spans match."""
        from pdf_extraction_tests_spark.pipeline import read_extracted, run_pipeline

        run = self.run
        out = run.fresh_dir("trace-commit")
        try:
            first = self.step("pipeline.run_pipeline", lambda: run_pipeline(
                run.spark, run.corpus_df("skewed"), out, run_id="rtrace"))
            nbytes, nfiles = dir_stats(out)
            self.metrics["tables.bytes_written"] = nbytes
            self.metrics["tables.files_written"] = nfiles
            self.metrics["tables.write_amp"] = (
                nbytes / dir_stats(run.corpus_path("skewed"))[0])
            self.step("pipeline.read_extracted",
                      lambda: read_extracted(run.spark, out).count())
            again = self.step("pipeline.resume", lambda: run_pipeline(
                run.spark, run.corpus_df("skewed"), out, run_id="rtrace"))
            self.metrics["spark.resume.input_mb"] = self.stages["pipeline.resume"]["input_mb"]
            with self.tracer.span("checks.commit"):
                want = oracles.kernel_span_keys(run.corpus_pandas("skewed"))
                got = run.attempt("read_extracted collect", lambda: read_extracted(
                    run.spark, out).select("doc_id", "spans").toPandas())
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if got is None or first is None or again is None:
            return 0.0
        n = len(want)
        run.count_checks("resume totals", int(
            first["docs"] == n and again["docs"] == n
            and again["resumed_parts_skipped"] > 0), 1)
        run.count_checks("committed count", int(
            len(got) == n and got["doc_id"].is_unique), 1)
        matched, checked = oracles.compare_spans(got, want)
        run.count_checks("committed spans", matched, checked)
        return matched / checked

    def queries(self) -> float:
        """Time each swept query, collecting its rows, then check the rows
        against DuckDB; returns the share that match."""
        from pdf_extraction_tests_spark.plans.audit import formatted_plan
        from pdf_extraction_tests_spark.queries import queries

        fns = queries()
        got = {}
        for q in SWEEP_QUERIES:
            # build, plan and run the query as a pass does; a result has at
            # most one row per document, so collecting it costs what the
            # noop sink does and saves a second execution for the check
            def collect(q=q):
                df = fns[q](self.run.spark, self.run.tables_dir)
                return df, df.toPandas()

            df, got[q] = self.step(f"queries.{q}", collect) or (None, None)
            self.metrics[f"spark.{q}.shuffle_write_mb"] = \
                self.stages[f"queries.{q}"]["shuffle_write_mb"]
            if df is not None:
                # the executed plan, already built by the run above
                counts = plan_counts(formatted_plan(df))
                self.metrics[f"queries.{q}.file_scans"] = counts["file_scans"]
                self.metrics[f"queries.{q}.python_nodes"] = counts["python_nodes"]
        self.metrics["queries.suite_s"] = sum(
            self.metrics[f"queries.{q}_s"] for q in QUERIES)
        self.metrics["spark.queries.executor_run_s"] = sum(
            self.stages[f"queries.{q}"]["executor_run_s"] for q in QUERIES)
        with self.tracer.span("checks.queries"):
            return match_oracles(self.run, got)


class _wrapped:
    """Install pass-through span wrappers on module attributes; restore on
    exit.  Callers inside the module resolve the names as globals, so they
    reach the wrappers; return values are untouched."""

    def __init__(self, module, tracer: Tracer, names: list[str]):
        self.module, self.tracer, self.names = module, tracer, names

    def __enter__(self):
        self.saved = {n: getattr(self.module, n) for n in self.names}
        for n, fn in self.saved.items():
            setattr(self.module, n, self.tracer.wrap(n, fn))
        return self

    def __exit__(self, *exc):
        for n, fn in self.saved.items():
            setattr(self.module, n, fn)
        return False


# the sweep steps whose traced wall is compared to an untraced pass
MAIN_STEPS = {
    "extract-bulk": ["pipeline.extract_docs"],
    "curation-queries": [f"queries.{q}" for q in QUERIES],
}


def traced(run: Run, setups: list[dict]) -> dict:
    """Warm up with one pass, run the layer sweep, which checks every swept
    query against DuckDB, then run the workload's pass once more untraced
    for the overhead figure."""
    # one untraced pass first, so that the sweep's steps and the untraced
    # pass after it both run on warm workers and compiled plans
    run.attempt("warm pass", PASSES[run.name], run)
    tracer = Tracer(run_id=f"{run.name}-{run.seed}")
    sweep = Sweep(run, tracer)
    with tracer.span("sweep") as root:
        sweep.corpus()
        sweep.kernel()
        sweep.extraction()
        span_rate = sweep.commit()
        query_rate = sweep.queries()
    m = sweep.metrics
    for k in ("session.start_s", "shipping.ship_package_s", "warmup_s"):
        m[k] = median([s[k] for s in setups])
    m["span_match_rate"] = span_rate
    m["query_match_rate"] = query_rate
    untraced = run.attempt("untraced pass", PASSES[run.name], run)
    if untraced is not None:
        traced_wall = sum(m[f"{s}_s"] for s in MAIN_STEPS[run.name])
        m["trace.overhead_s"] = traced_wall - untraced
    m["trace.unaccounted_frac"] = self_time_by_name(tracer.spans)["sweep"] / root.seconds
    m["ops_failed_frac"] = run.failed / run.attempted
    return {"metrics": m, "spans": tracer.spans, "kernel_spans": sweep.kernel_spans,
            "stages": sweep.raw}
