"""Seeded input generators for the three workloads, cached on disk.

Every generator is a pure function of ``(seed, scale)`` plus the fixture
content.  A generated corpus is written once, under ``perfbench/.cache/``,
in a directory keyed by the workload, seed, scale, ``GENERATOR_VERSION``
and a hash of the full fixture content (every field of every fixture page
and the golden span table), so a fixture edit of any length never reuses
a stale corpus.

Corpora are written as several balanced parquet files with pyarrow, never
cut with ``limit()``: Spark plans one read task per file here, and a
``limit()`` collapses the downstream stage onto a single task.

Seeds vary which documents the corpus holds and in what order, never how
much work it holds: page counts, the skew tail's repeat factors and the
near-duplicate family shapes are fixed multisets that the seed only
shuffles, so throughput is comparable across seeds.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
from dataclasses import fields
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

# extract_pages: documents per fixture page, and the skew tail.  Each page
# gets two heavy replicas whose repeat factors sum to TAIL_SUM, so the
# tail's total work is the same for every seed.
PAGES_PER_FIXTURE = 200
TAIL_SUM = 42
# extract_pages' checkpointed job: plain fixture pages, no tail.
JOB_PER_FIXTURE = 24
# near_dup_text: near-duplicate families (a base and FAMILY_EDITS edited
# copies), plus unrelated documents.  A family of three has no path of
# three hops, so the components stage (star contraction) converges in the
# same number of rounds for every seed; larger families took a third
# round on some seeds, about 25 % more simhash chain time.
NEAR_DUP_FAMILIES = 60
FAMILY_EDITS = 2
NEAR_DUP_UNRELATED = 320
EDIT_RATES = (0.02, 0.05, 0.1, 0.2)
VOCAB_SIZE = 3000

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("base_url", pa.string()),
        ("canonical_url", pa.string()),
        ("spans", pa.list_(SPAN_TYPE)),
    ]
)
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def golden_spans_path(root: Path) -> Path:
    return root / "data" / "fixtures" / "expected_spans.parquet"


def fixture_fingerprint(golden: Path) -> str:
    """Hash of the full fixture content: every field of every fixture page
    and the bytes of the golden span table."""
    from fetch_engines_spark.fixtures import FIXTURES

    h = hashlib.sha256()
    for f in FIXTURES:
        for fld in fields(f):
            h.update(json.dumps(getattr(f, fld.name), sort_keys=True).encode())
    h.update(golden.read_bytes())
    return h.hexdigest()[:16]


def extraction_pages() -> list:
    from fetch_engines_spark.fixtures import EXTRACTION_FIXTURE_IDS, FIXTURES_BY_ID

    return [FIXTURES_BY_ID[i] for i in EXTRACTION_FIXTURE_IDS]


def _doc_row(doc_id: str, page, repeat: int = 1) -> dict:
    from fetch_engines_spark.fixtures import html_to_input_spans

    return {
        "doc_id": doc_id,
        "base_url": page.base_url,
        "canonical_url": page.canonical_url,
        "spans": html_to_input_spans(page.html * repeat),
    }


def _write_balanced(rows: list[dict], schema: pa.Schema, out: Path, n_files: int, cost) -> None:
    """Longest-processing-time assignment of rows to ``n_files`` parquet
    files by ``cost(row)``, so every read task gets about the same work."""
    loads = [0] * n_files
    parts: list[list[dict]] = [[] for _ in range(n_files)]
    for row in sorted(rows, key=cost, reverse=True):
        i = loads.index(min(loads))
        loads[i] += cost(row)
        parts[i].append(row)
    out.mkdir(parents=True)
    for i, part in enumerate(parts):
        pq.write_table(pa.Table.from_pylist(part, schema), out / f"part-{i:03d}.parquet")


def _html_cost(row: dict) -> int:
    return sum(len(s["text"] or "") for s in row["spans"]) + 200


def pages_rows(seed: int, scale: float) -> tuple[list[dict], dict[str, str]]:
    """extract_pages corpus: every extraction fixture page replicated the
    same number of times, plus the heavy tail.  Returns the rows and, for
    each tail doc_id, the id of the page it repeats."""
    rng = random.Random(f"pages:{seed}")
    per_page = max(2, round(PAGES_PER_FIXTURE * scale))
    rows, tail = [], {}
    ids = rng.sample(range(10**9), per_page * len(extraction_pages()) + 64)  # + room for the tail
    k = 0
    for page in extraction_pages():
        for _ in range(per_page):
            rows.append(_doc_row(f"{page.id}#{ids[k]}", page))
            k += 1
        # factors (a, TAIL_SUM - a): the tail's total work is seed-free
        a = rng.randint(2, TAIL_SUM // 2)
        for repeat in (a, TAIL_SUM - a):
            doc_id = f"{page.id}#{ids[k]}x{repeat}"
            rows.append(_doc_row(doc_id, page, repeat))
            tail[doc_id] = page.id
            k += 1
    rng.shuffle(rows)
    return rows, tail


def job_rows(seed: int, scale: float) -> list[dict]:
    rng = random.Random(f"job:{seed}")
    per_page = max(2, round(JOB_PER_FIXTURE * scale))
    pages = extraction_pages()
    ids = rng.sample(range(10**9), per_page * len(pages))
    rows = [
        _doc_row(f"{page.id}#{ids[i * per_page + j]}", page)
        for i, page in enumerate(pages)
        for j in range(per_page)
    ]
    rng.shuffle(rows)
    return rows


def _vocabulary() -> list[str]:
    """A fixed vocabulary (the same for every seed) of pronounceable words."""
    rng = random.Random("vocab")
    syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _edit(tokens: list[str], rate: float, rng: random.Random, vocab, cum) -> list[str]:
    """Planted token edits: substitutions, deletions and insertions at
    ``rate`` (at least one).  Never a permutation of the base, whose
    bag of words would make it an exact SimHash twin."""
    out = list(tokens)
    for _ in range(max(1, round(rate * len(tokens)))):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.6:
            out[i] = rng.choices(vocab, cum_weights=cum)[0]
        elif op < 0.8 and len(out) > 8:
            del out[i]
        else:
            out.insert(i, rng.choices(vocab, cum_weights=cum)[0])
    return out


def near_dup_rows(seed: int, scale: float) -> list[dict]:
    """Near-duplicate families (a base document and edited copies, one
    family per (base, edit rate)) mixed with unrelated documents; words
    follow a Zipf law over a fixed vocabulary."""
    rng = random.Random(f"near_dup:{seed}")
    vocab = _vocabulary()
    cum = list(itertools.accumulate(1.0 / (r + 10) for r in range(len(vocab))))
    n_families = max(2, round(NEAR_DUP_FAMILIES * scale))
    n_unrelated = max(4, round(NEAR_DUP_UNRELATED * scale))

    def doc() -> list[str]:
        return rng.choices(vocab, cum_weights=cum, k=rng.randint(30, 150))

    texts = []
    for f in range(n_families):
        base = doc()
        rate = EDIT_RATES[f % len(EDIT_RATES)]
        texts.append(base)
        texts.extend(_edit(base, rate, rng, vocab, cum) for _ in range(FAMILY_EDITS))
    texts.extend(doc() for _ in range(n_unrelated))
    ids = rng.sample(range(10**7), len(texts))
    return [{"doc_id": i, "text": " ".join(t)} for i, t in zip(ids, texts)]


def corpus(root: Path, workload: str, seed: int, scale: float, n_files: int) -> Path:
    """Path of the workload's parquet corpus for ``seed``, generated on
    first use.  A ``_meta.json`` holds what the checks need."""
    golden = golden_spans_path(root)
    key = f"{workload}-s{seed}-x{scale:g}-n{n_files}-v{GENERATOR_VERSION}-{fixture_fingerprint(golden)}"
    out = root / "perfbench" / ".cache" / key
    if out.exists():  # renamed into place only once complete
        return out
    tmp = out.with_name(out.name + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    meta: dict = {}
    if workload == "extract_pages":
        rows, meta["tail"] = pages_rows(seed, scale)
        _write_balanced(rows, DOCS_SCHEMA, tmp / "docs", n_files, _html_cost)
        job = job_rows(seed, scale)
        _write_balanced(job, DOCS_SCHEMA, tmp / "job", n_files, _html_cost)
        meta["n_job_docs"] = len(job)
    elif workload == "near_dup_text":
        rows = near_dup_rows(seed, scale)
        _write_balanced(rows, TEXT_SCHEMA, tmp / "docs", n_files, lambda r: len(r["text"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta["n_docs"] = len(rows)
    (tmp / "_meta.json").write_text(json.dumps(meta))
    os.replace(tmp, out)
    return out
