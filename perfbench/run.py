"""The repository benchmark: two workloads on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

- ``extract_pages``: rounds of one ``extract_spans`` pass over the
  extraction fixture pages plus a seeded heavy tail (``docs_per_s``) and
  one ``checkpoint.run_extraction_job`` over plain fixture pages in
  buckets (``alt_docs_per_s``), then a rerun against the last job's
  complete ledger.
- ``near_dup_text``: the minhash chain (``docs_per_s``), then the
  simhash64 chain twice (``alt_docs_per_s``), of the dedup stage over
  seeded near-duplicate families.

Each throughput is the median over a fixed number of passes, run after
the first call into the program has warmed the JVM.

With ``--trace 0`` the run prints the end-to-end metrics; with
``--trace 1`` it enables Spark's event log, records spans around each
call into the program and prints the per-layer metrics, including the
tracing overhead.  Either way the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``, every output is
checked, and the exit code is non-zero when a check fails.  A trace file
(spans, per-layer metrics, the host-noise record) and, traced, the event
log are written under ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# Layers each workload exercises.  Per-layer metrics of the other layers
# read 0 on that workload; a metric of an exercised layer that the run
# did not produce is an error.
LAYERS = {
    "extract_pages": {"session", "memory", "extract", "dom", "convert", "serialize", "checkpoint",
                      "trace"},
    "near_dup_text": {"session", "memory", "dedup", "trace"},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(LAYERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size multiplier (the tests use a small one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "fetch_engines_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no fetch_engines_spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import eventlog
    import harness
    import workloads

    spec = json.loads(spec_path.read_text())
    run = workloads.Run(args)
    noise = harness.noise_record()
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        run.close_session()
    noise["loadavg_end"] = harness.loadavg()
    run.metrics["memory.peak_rss_mb"] = run.rss.peak_bytes / 1e6

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        for m in declared:
            if m["name"].split(".")[0] not in LAYERS[args.workload]:
                run.metrics.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in declared if m["name"] not in run.metrics]
    if missing:
        raise RuntimeError(f"workload {args.workload} did not produce {missing}")

    traces = BENCH / ".work" / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if run.event_dir is not None:
        shutil.move(str(eventlog.log_file(run.event_dir)), traces / f"{stem}.eventlog.json")
    # per span (with its child spans): stage, task and operator totals
    # from the event log
    stages = {} if run.log is None else {
        s["id"]: run.log.summary(run.tracer.subtree(s["id"]))
        for s in run.tracer.spans if run.log.jobs_of(run.tracer.subtree(s["id"]))
    }
    (traces / f"{stem}.json").write_text(json.dumps({
        "args": vars(args), "cores": run.cores, "noise": noise, "metrics": run.metrics,
        "info": run.info, "failures": run.failures, "spans": run.tracer.spans,
        "eventlog_by_span": stages,
    }, indent=1, default=str))
    shutil.rmtree(run.work, ignore_errors=True)

    for f in run.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(f"perfbench: noise {json.dumps(noise)}", file=sys.stderr)
    result = {
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {m["name"]: {"value": run.metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
