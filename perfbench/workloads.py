"""The workloads.

Each is a closed loop: one client process, one Spark session on
local[nproc], one query in flight.  A workload function fills
``run.metrics`` (the end-to-end metrics with tracing off, the per-layer
ones with tracing on; the run prints only the declared set of its mode)
and records check failures with ``run.check``.  Outputs are
checked outside the timed region, once per invocation.

Per-layer metrics of a layer a workload does not exercise read 0.
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq

import checks
import eventlog
import layers
from harness import (
    BENCH,
    ROOT,
    PeakRss,
    Tracer,
    alternate,
    closed_loop,
    configure_spark_env,
    cores,
    median,
    noop,
    pinned_to_one_core,
    plan_ms,
    stop_spark,
)
from inputs import corpus, golden_spans_path

# The checkpointed job: buckets per run.  Each bucket pays a fixed cost
# (filter + isEmpty, output write, metrics read-back and write, ledger
# collect and append) that dominates the job on small buckets.  Two keep
# a job short enough to time three of them in every run.
JOB_BUCKETS = 2
# Timed passes per untraced run; a metric is the median over its passes.
# extract_pages alternates extraction passes and jobs (e j e j e j e, see
# ``harness.alternate``); near_dup_text runs the minhash chain once, then
# the simhash64 chain twice (m s s): a round of both chains takes about
# 15 s, and a simhash pass right after the warm-up spread more between
# runs than one after a minhash pass.  Counts are fixed, not only a time
# budget, because the JVM keeps warming up for several passes, so a
# pass's position changes its time.
EXTRACT_ROUNDS = 3
SIMHASH_PASSES = 2
# near_dup_text: the `--stage dedup` defaults of the job CLI, except 64
# MinHash permutations for the CLI's 128: planning the candidate stage and
# its DuckDB twin scale with the permutation count, and at 128 they alone
# cost a run about 20 s.  The bucket cap is the CLI's; no bucket of this
# corpus reaches it, so capped and uncapped pairs are the same and the
# uncapped MinHash twin applies.
MINHASH_PERMS = 64
BAND_SIZE = 8
JACCARD_THRESHOLD_BP = 7000
MAX_HAMMING = 3
MAX_BUCKET_SIZE = 2000

class Run:
    """One invocation: arguments, scratch directory, spans, metrics and
    check results."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.golden = golden_spans_path(ROOT)
        self.cores = cores()
        self.work = BENCH / ".work" / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.work.mkdir(parents=True, exist_ok=True)
        self.tracer = Tracer(self.trace)
        self.metrics: dict[str, float] = {}
        self.info: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.event_dir = self.work / "eventlog" if self.trace else None
        self.log: eventlog.EventLog | None = None
        # the program's memory, traced runs only: from get_spark until the
        # checks begin
        self.rss = PeakRss(enabled=self.trace)

    @contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the invocation, kept in the trace file."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.info.setdefault("phases_s", {})[name] = time.perf_counter() - t0

    def check(self, ok: bool, message: str, docs: int = 1) -> None:
        if not ok:
            self.failures.append(message)
            self.failed += docs

    def corpus(self) -> tuple[list[Path], dict]:
        """The workload's parquet inputs (``docs``, then ``job`` if any)."""
        path = corpus(ROOT, self.workload, self.seed, self.scale, 2 * self.cores)
        inputs = [path / "docs"] + ([path / "job"] if (path / "job").exists() else [])
        return inputs, json.loads((path / "_meta.json").read_text())

    def open_session(self, first_call) -> None:
        """get_spark, then the first call into the program; both are set-up.

        The first call runs the checkpointed job or the dedup chains at
        their timed input size (the job's extract_spans calls warm the
        extraction path too): after a warm-up on a one-file sample, the
        first timed pass of the job and of the minhash chain still ran
        25-40 % slower than the next."""
        configure_spark_env(self.work, self.event_dir)
        from fetch_engines_spark.session import get_spark

        self.rss.start()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{self.cores}]")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = self.tracer.spark = spark
        with self.tracer.span("session.first_call"):
            first_call(spark)
        t2 = time.perf_counter()
        self.metrics["setup_s"] = t2 - t0
        self.metrics["session.get_spark_s"] = t1 - t0
        self.metrics["session.first_call_s"] = t2 - t1

    @contextmanager
    def checking(self):
        """The check phase: untimed, and outside the memory sample."""
        self.rss.stop()
        with self.phase("check"), self.tracer.span("check"):
            yield

    def close_session(self) -> eventlog.EventLog | None:
        self.rss.stop()
        if self.spark is None:
            return None
        with self.phase("stop"):
            stop_spark(self.spark)
        self.spark = self.tracer.spark = None
        if self.event_dir is None:
            return None
        self.log = eventlog.EventLog(eventlog.log_file(self.event_dir))
        return self.log

    def loops(self):
        """(untraced seconds, traced seconds) of this invocation; traced,
        the untraced loop, which the tracing overhead is measured
        against, runs one round."""
        return (self.seconds / 2, self.seconds / 2) if self.trace else (self.seconds, 0.0)


def trace_shares(run: Run, untraced_s: list[float], iterations: list[dict]) -> None:
    """Tracing overhead (traced over untraced iteration wall time, minus 1)
    and the share of a traced iteration no child span covers."""
    traced = median([s["end"] - s["start"] for s in iterations])
    run.metrics["trace.overhead_share"] = traced / median(untraced_s) - 1.0
    gaps = []
    for it in iterations:
        children = [s for s in run.tracer.spans if s["parent"] == it["id"]]
        wall = it["end"] - it["start"]
        gaps.append(1.0 - Tracer.seconds(children) / wall)
    run.metrics["trace.unattributed_share"] = median(gaps)


# --------------------------------------------------------------------------
# extract_pages: the extraction stage, then the checkpointed job
# --------------------------------------------------------------------------


def extract_pages(run: Run) -> None:
    from fetch_engines_spark.checkpoint import run_extraction_job
    from fetch_engines_spark.extract import extract_spans

    (docs_path, job_path), meta = run.corpus()

    def build(spark):
        return extract_spans(spark.read.parquet(str(docs_path)), keep_markdown=False)

    def first_call(spark):
        # the job runs extract_spans on every bucket, so it warms both paths
        run_extraction_job(
            spark, spark.read.parquet(str(job_path)), str(run.work / "ckpt-warm"), "warm",
            n_buckets=JOB_BUCKETS,
        )

    run.open_session(first_call)
    spark = run.spark
    counter = iter(range(10**6))

    def extraction() -> float:
        t0 = time.perf_counter()
        noop(build(spark))
        return time.perf_counter() - t0

    def job() -> tuple[float, Path, dict]:
        """One job into a fresh root: wall time, root, job summary."""
        root = run.work / f"ckpt-{next(counter)}"
        t0 = time.perf_counter()
        summary = run_extraction_job(
            spark, spark.read.parquet(str(job_path)), str(root), "r", n_buckets=JOB_BUCKETS
        )
        return time.perf_counter() - t0, root, summary

    untraced_s, traced_s = run.loops()
    times, jobs = alternate(untraced_s, 1 if run.trace else EXTRACT_ROUNDS, extraction, job)
    run.info["iteration_s"] = times
    run.info["job_s"] = [j[0] for j in jobs]
    if run.trace:
        traced_extraction(run, spark, build, docs_path, traced_s)
        run.metrics["extract.one_core_docs_per_s"] = one_core_docs_per_s(run, spark, docs_path)
        root = run.work / "ckpt"
        first = traced_job(run, spark, job_path, root)
    else:
        _, root, first = jobs[-1]
    rerun = rerun_job(run, spark, job_path, root)
    with run.checking():
        checks.extract_pages(run, spark, build, docs_path, meta)
        checks.checkpoint_job(run, root, first, rerun, meta["n_job_docs"], JOB_BUCKETS)
    log = run.close_session()

    docs_per_s = meta["n_docs"] / median(times)
    if not run.trace:
        run.metrics["docs_per_s"] = docs_per_s
        run.metrics["alt_docs_per_s"] = meta["n_job_docs"] / median(run.info["job_s"])
        return
    run.metrics["extract.scaling_efficiency"] = docs_per_s / (
        run.cores * run.metrics["extract.one_core_docs_per_s"]
    )
    extraction_layers(run, log)
    checkpoint_layers(run, log, job_path, meta["n_job_docs"])
    run.metrics.update(layers.converter_layers(docs_path, run.seed))
    trace_shares(run, times, run.tracer.named("extract.iteration"))


def traced_extraction(run: Run, spark, build, docs_path: Path, seconds: float) -> None:
    """Extraction with its layers separated: build, Catalyst planning and
    the run are spans of their own, the run carries an ``observe`` of the
    UDF's own ``wall_us`` column, and the JVM-side span assembly is
    materialised on its own."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from fetch_engines_spark.extract import html_assembly_expr

    def traced_once() -> None:
        with run.tracer.span("extract.iteration"):
            with run.tracer.span("extract.build"):
                obs = Observation()
                out = build(spark).observe(
                    obs,
                    F.sum("wall_us").alias("udf_us"),
                    F.percentile_approx("wall_us", [0.5, 0.99], 10000).alias("pct"),
                )
            with run.tracer.span("extract.plan") as sp:
                sp["plan_ms"] = plan_ms(out)
            with run.tracer.span("extract.run") as sp:
                noop(out)
        sp.update(obs.get)
        with run.tracer.span("extract.assembly"):
            noop(spark.read.parquet(str(docs_path)).select(html_assembly_expr("spans")))

    closed_loop(seconds, traced_once)


def extraction_layers(run: Run, log: eventlog.EventLog) -> None:
    tr = run.tracer
    runs = tr.named("extract.run")
    wall = median([Tracer.seconds([s]) for s in runs])
    udf_s = median([s["udf_us"] / 1e6 for s in runs])
    per_run = [log.summary(tr.subtree(s["id"])) for s in runs]
    run.metrics.update(
        {
            "extract.wall_s": wall,
            "extract.plan_ms": median([s["plan_ms"] for s in tr.named("extract.plan")]),
            "extract.assembly_s": median([Tracer.seconds([s]) for s in tr.named("extract.assembly")]),
            "extract.udf_core_s": udf_s,
            "extract.udf_busy_share": udf_s / (run.cores * wall),
            "extract.doc_us_p50": median([s["pct"][0] for s in runs]),
            "extract.doc_us_p99": median([s["pct"][1] for s in runs]),
            "extract.arrow_in_mb": median([s["python_in_mb"] for s in per_run]),
            "extract.arrow_out_mb": median([s["python_out_mb"] for s in per_run]),
            "extract.python_exec_s": median([s["python_run_s"] for s in per_run]),
            "extract.task_max_over_median": median([s["task_max_over_median"] for s in per_run]),
            "extract.gc_s": median([s["gc_s"] for s in per_run]),
        }
    )


def one_core_docs_per_s(run: Run, spark, docs_path: Path) -> float:
    """Throughput on one core: the whole process tree (this process, the
    JVM, the Python workers) is pinned to one core and a seeded quarter
    of the corpus files runs as a single partition, so the JVM task
    thread, GC and the Python worker share that core as they would in a
    local[1] JVM."""
    from fetch_engines_spark.extract import extract_spans

    files = sorted(str(p) for p in docs_path.glob("*.parquet"))
    quarter = random.Random(f"one_core:{run.seed}").sample(files, max(1, len(files) // 4))
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in quarter)

    def once() -> float:
        t0 = time.perf_counter()
        noop(extract_spans(spark.read.parquet(*quarter).coalesce(1), keep_markdown=False))
        return time.perf_counter() - t0

    with run.phase("one_core"), run.tracer.span("extract.one_core"), pinned_to_one_core():
        once()  # the first pass after pinning runs slower on every seed
        times = closed_loop(run.seconds / 4, once)
    run.info["one_core_iteration_s"] = times
    return n / median(times)


def traced_job(run: Run, spark, job_path: Path, root: Path) -> dict:
    """One traced ``run_extraction_job`` into a fresh ``root``; the written
    tree is measured and ``completed_buckets`` is timed on its own.
    Returns the job summary."""
    from fetch_engines_spark.checkpoint import completed_buckets, run_extraction_job

    tr = run.tracer
    with tr.span("checkpoint.run"):
        first = run_extraction_job(
            spark, spark.read.parquet(str(job_path)), str(root), "r", n_buckets=JOB_BUCKETS
        )
    files = [p for p in root.rglob("*") if p.is_file()]
    run.info["checkpoint_tree"] = {
        "bytes": sum(p.stat().st_size for p in files),
        "files": len(files),
    }
    with tr.span("checkpoint.completed_buckets"):
        completed_buckets(spark, str(root), "r", n_buckets=JOB_BUCKETS).collect()
    return first


def rerun_job(run: Run, spark, job_path: Path, root: Path) -> dict:
    """A rerun with the job's run id against its complete ledger in
    ``root``; returns the job summary."""
    from fetch_engines_spark.checkpoint import run_extraction_job

    t0 = time.perf_counter()
    with run.tracer.span("checkpoint.rerun"):
        rerun = run_extraction_job(
            spark, spark.read.parquet(str(job_path)), str(root), "r", n_buckets=JOB_BUCKETS
        )
    run.info["rerun_s"] = time.perf_counter() - t0
    return rerun


def checkpoint_layers(run: Run, log: eventlog.EventLog, job_path: Path, n: int) -> None:
    tr = run.tracer
    (job,) = tr.named("checkpoint.run")
    summary = log.summary(tr.subtree(job["id"]), scan_path=str(job_path))
    run_s = Tracer.seconds([job])
    tree = run.info["checkpoint_tree"]
    run.metrics.update(
        {
            "checkpoint.run_s": run_s,
            "checkpoint.rerun_s": Tracer.seconds(tr.named("checkpoint.rerun")),
            "checkpoint.spark_jobs": summary["jobs"],
            "checkpoint.spark_jobs_per_bucket": summary["jobs"] / JOB_BUCKETS,
            "checkpoint.input_scans": summary["input_scans"],
            "checkpoint.extract_share": summary["arrow_executions_s"] / run_s,
            "checkpoint.bytes_written_mb": tree["bytes"] / 1e6,
            "checkpoint.files_written": tree["files"],
            "checkpoint.bytes_per_doc": tree["bytes"] / n,
            "checkpoint.completed_buckets_s": Tracer.seconds(tr.named("checkpoint.completed_buckets")),
        }
    )


# --------------------------------------------------------------------------
# near_dup_text
# --------------------------------------------------------------------------


def near_dup_text(run: Run) -> None:
    from pyspark.sql import functions as F

    from fetch_engines_spark.pipelines.dedup import (
        connected_components_star,
        minhash_candidate_pairs_fast,
        ngram_jaccard,
        simhash_candidate_pairs64,
    )

    (docs_path,), meta = run.corpus()
    n = meta["n_docs"]
    tr = run.tracer
    counter = iter(range(10**6))

    def components(spark, docs, pairs_dir: Path, out: Path, on: bool) -> None:
        pairs = spark.read.parquet(str(pairs_dir))
        with tr.span("dedup.components", on):
            clusters = connected_components_star(pairs)
            clusters.write.mode("overwrite").parquet(str(out / "clusters"))
        with tr.span("dedup.keepers", on):
            clusters = spark.read.parquet(str(out / "clusters"))
            keepers = docs.join(
                clusters.filter(~F.col("is_keeper")).select("doc_id"), "doc_id", "left_anti"
            )
            keepers.write.mode("overwrite").parquet(str(out / "keepers"))

    def minhash_chain(spark, docs, out: Path, on: bool = False, plans: list | None = None) -> None:
        """The minhash chain as ``job._run_dedup`` composes it; traced, the candidates are
        materialised on their own so candidate generation and Jaccard
        verification separate."""
        with tr.span("dedup.minhash_candidates", on):
            cand = minhash_candidate_pairs_fast(
                docs, num_hashes=MINHASH_PERMS, band_size=BAND_SIZE, max_bucket_size=MAX_BUCKET_SIZE
            )
            if on:
                plans.append(plan_ms(cand))
                cand.write.mode("overwrite").parquet(str(out / "candidates"))
        if on:
            cand = spark.read.parquet(str(out / "candidates"))
        with tr.span("dedup.jaccard_verify", on):
            verified = ngram_jaccard(docs, cand).filter(F.col("jaccard_bp") >= JACCARD_THRESHOLD_BP)
            if on:
                plans.append(plan_ms(verified))
            verified.write.mode("overwrite").parquet(str(out / "pairs"))
        components(spark, docs, out / "pairs", out, on)

    def simhash_chain(spark, docs, out: Path, on: bool = False, plans: list | None = None) -> None:
        with tr.span("dedup.simhash_pairs", on):
            pairs = simhash_candidate_pairs64(
                docs, max_hamming=MAX_HAMMING, max_bucket_size=MAX_BUCKET_SIZE
            )
            if on:
                plans.append(plan_ms(pairs))
            pairs.write.mode("overwrite").parquet(str(out / "pairs"))
        components(spark, docs, out / "pairs", out, on)

    def first_call(spark):
        # both chains share components and keepers, so the simhash chain
        # is warmed up to its pairs only
        docs = spark.read.parquet(str(docs_path))
        minhash_chain(spark, docs, run.work / "warm-minhash")
        simhash_candidate_pairs64(
            docs, max_hamming=MAX_HAMMING, max_bucket_size=MAX_BUCKET_SIZE
        ).write.parquet(str(run.work / "warm-simhash"))

    run.open_session(first_call)
    spark = run.spark

    def timed(name: str, chain) -> tuple[float, Path]:
        """One untraced chain into a fresh directory: wall time, directory."""
        out = run.work / f"{name}-{next(counter)}"
        t0 = time.perf_counter()
        chain(spark, spark.read.parquet(str(docs_path)), out)
        return time.perf_counter() - t0, out

    def once(on: bool = False, plans: list | None = None):
        i = next(counter)
        mh, sh = run.work / f"minhash-{i}", run.work / f"simhash-{i}"
        with tr.span("dedup.iteration", on) as it:
            t0 = time.perf_counter()
            with tr.span("dedup.minhash_chain", on):
                minhash_chain(spark, spark.read.parquet(str(docs_path)), mh, on, plans)
            t1 = time.perf_counter()
            with tr.span("dedup.simhash_chain", on):
                simhash_chain(spark, spark.read.parquet(str(docs_path)), sh, on, plans)
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1, mh, sh, it

    untraced_s, traced_s = run.loops()
    # at 500 docs the chains are mostly per-query fixed cost, so the pass
    # counts, not the time, set the run length
    mh_runs = closed_loop(untraced_s / 2, lambda: timed("minhash", minhash_chain), min_iters=1)
    sh_runs = closed_loop(
        untraced_s / 2, lambda: timed("simhash", simhash_chain),
        min_iters=1 if run.trace else SIMHASH_PASSES,
    )
    mh_times, sh_times = [t for t, _ in mh_runs], [t for t, _ in sh_runs]
    run.info["iteration_s"] = {"minhash": mh_times, "simhash": sh_times}
    run.info["last_outputs"] = (mh_runs[-1][1], sh_runs[-1][1])
    plans: list[float] = []
    iterations = []
    if run.trace:

        def traced_once():
            _, _, mh, sh, it = once(True, plans)
            run.info["last_outputs"] = (mh, sh)
            iterations.append(it)

        closed_loop(traced_s, traced_once, min_iters=1)

    with run.checking():
        mh, sh = run.info.pop("last_outputs")
        checks.near_dup_text(
            run, docs_path, mh, sh, JACCARD_THRESHOLD_BP, MAX_HAMMING, MINHASH_PERMS, BAND_SIZE,
            MAX_BUCKET_SIZE,
        )
    log = run.close_session()

    if not run.trace:
        run.metrics["docs_per_s"] = n / median(mh_times)
        run.metrics["alt_docs_per_s"] = n / median(sh_times)
        return

    def per_iter(name: str) -> float:
        return median(
            [Tracer.seconds(run.tracer.subtree_spans(it["id"], name)) for it in iterations]
        )

    def rows(pattern: str) -> float:
        return median(
            [pq.ParquetDataset(str(p)).read(columns=["doc_a"]).num_rows for p in run.work.glob(pattern)]
        )

    candidates = rows("minhash-*/candidates")
    verified = rows("minhash-*/pairs")
    summaries = [
        log.summary(
            {i for name in ("dedup.minhash_chain", "dedup.simhash_chain")
             for s in run.tracer.subtree_spans(it["id"], name) for i in run.tracer.subtree(s["id"])}
        )
        for it in iterations
    ]
    run.metrics.update(
        {
            "dedup.minhash_candidates_s": per_iter("dedup.minhash_candidates"),
            "dedup.minhash_candidates": candidates,
            "dedup.minhash_verified": verified,
            "dedup.minhash_verify_yield": verified / max(1.0, candidates),
            "dedup.jaccard_verify_s": per_iter("dedup.jaccard_verify"),
            "dedup.simhash_pairs_s": per_iter("dedup.simhash_pairs"),
            "dedup.simhash_pairs": rows("simhash-*/pairs"),
            "dedup.components_s": per_iter("dedup.components"),
            "dedup.plan_ms": sum(plans) / len(iterations),
            "dedup.shuffle_write_mb": median([s["shuffle_write_mb"] for s in summaries]),
            "dedup.spill_mb": median([s["spill_mb"] for s in summaries]),
            "dedup.gc_s": median([s["gc_s"] for s in summaries]),
            "dedup.task_max_over_median": median([s["task_max_over_median"] for s in summaries]),
        }
    )
    trace_shares(run, [median(mh_times) + median(sh_times)], iterations)


WORKLOADS = {
    "extract_pages": extract_pages,
    "near_dup_text": near_dup_text,
}
