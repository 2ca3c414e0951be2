"""Shared benchmark plumbing: Spark environment, spans, timing loops,
process-tree memory and the host-noise record.

The environment is set before the JVM starts.  The program keeps its
own defaults (driver memory, ``spark.local.dir``'s placement policy)
with one exception: the benchmark may write only inside its checkout, so
``SPARK_GRAFT_LOCAL_DIR`` points shuffle and spill at the checkout's
``perfbench/.work`` instead of the program's ``/dev/shm`` default, and
temp files go there too.  Shuffle-heavy figures (the dedup chains) are
therefore measured on the checkout's file system.  The event log (traced
runs only) is switched on through ``PYSPARK_SUBMIT_ARGS``, not through
the program's session factory.
"""

from __future__ import annotations

import os
import shlex
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from eventlog import SPAN_PROPERTY

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_spark_env(work: Path, event_log: Path | None) -> None:
    """Point every Spark and Python temp path into ``work`` and, when
    ``event_log`` is given, enable Spark's uncompressed JSON event log."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        # every JVM, the spark-submit launcher's too: temp files in ``work``
        # and no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    # the program's defaults, whatever the calling shell sets
    # (SPARK_LOCAL_DIRS would override spark.local.dir)
    for name in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_MIN_PARTITION_NUM",
                 "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        os.environ.pop(name, None)
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def noop(df) -> None:
    """Materialise every column of ``df`` without storing it (``count()``
    would prune the columns it does not need)."""
    df.write.format("noop").mode("overwrite").save()


def plan_ms(df) -> float:
    """Catalyst analysis + optimisation + planning time of ``df``'s own
    query execution, forcing planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def closed_loop(seconds: float, once, min_iters: int = 3) -> list:
    """Run ``once()`` back to back (one query in flight) until ``seconds``
    have passed and at least ``min_iters`` runs are done."""
    out = []
    end = time.perf_counter() + seconds
    while len(out) < min_iters or time.perf_counter() < end:
        out.append(once())
    return out


def alternate(seconds: float, rounds: int, first, second) -> tuple[list, list]:
    """Rounds of ``first()`` then ``second()`` back to back (one query in
    flight), at least ``rounds`` of them and until ``seconds`` have
    passed, then a closing ``first()``: ``first`` brackets every
    ``second``.  Returns the two lists of results."""
    a, b = [], []
    end = time.perf_counter() + seconds
    while len(b) < rounds or time.perf_counter() < end:
        a.append(first())
        b.append(second())
    a.append(first())
    return a, b


def median(xs) -> float:
    return float(statistics.median(xs))


class Tracer:
    """Spans (name, start, end, parent) around calls into the program.

    Disabled, ``span`` costs one context manager.  Enabled, each span also
    tags the Spark jobs started inside it with its id, through the
    ``perfbench.span`` local property, so the event log can be cut by
    span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextmanager
    def span(self, name: str, on: bool = True, **attrs):
        """Record a span; a no-op when tracing is off or ``on`` is false."""
        if not (self.enabled and on):
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, span_id) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span_id: int) -> set[int]:
        ids = {span_id}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def subtree_spans(self, span_id: int, name: str) -> list[dict]:
        ids = self.subtree(span_id)
        return [s for s in self.spans if s["id"] in ids and s["name"] == name]

    @staticmethod
    def seconds(spans: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in spans)


def process_tree() -> list[int]:
    """This process and all its descendants."""
    pids, i = [os.getpid()], 0
    while i < len(pids):
        pid = pids[i]
        i += 1
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    pids.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def _set_tree_affinity(cpus: set[int]) -> None:
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue


@contextmanager
def pinned_to_one_core():
    """Pin every thread of the process tree to one core; threads and
    processes started meanwhile inherit it.  Restores the full set after."""
    allowed = os.sched_getaffinity(0)
    _set_tree_affinity({min(allowed)})
    try:
        yield
    finally:
        _set_tree_affinity(allowed)


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM, the Python worker daemon and its workers), sampled every
    ``interval`` seconds from /proc between ``start`` and ``stop``.
    Disabled, it samples nothing, so timed loops share no core with it."""

    def __init__(self, interval: float = 0.2, enabled: bool = True):
        self.interval = interval
        self.enabled = enabled
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        if self.enabled:
            self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end sampling; later calls do nothing."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def converter_loop(seconds: float = 0.5) -> float:
    """Spark-free single-core converter throughput (docs/s) over the
    extraction fixture pages: a host-speed control recorded with every
    run, so an unsteady run can be attributed to the host."""
    from fetch_engines_spark.convert.converter import MarkdownConverter

    from inputs import extraction_pages

    pages = [(p.html, p.base_url) for p in extraction_pages()]
    conv = MarkdownConverter()
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for html, base in pages:
            conv.convert(html, base_url=base)
        n += len(pages)
    return n / (time.perf_counter() - t0)


def noise_record() -> dict:
    return {"loadavg": loadavg(), "converter_docs_per_s": converter_loop()}
