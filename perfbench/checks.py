"""Output checks, run outside the timed region of every invocation.

- extract_pages: span-sequence equality (kind, text, media_ref, order)
  against the golden span table for every doc whose page is not in the
  skew tail; tail replicas must agree with an untimed single-partition
  run; no doc may have an error.
- the checkpointed job (extract_pages): output docs equal input docs, the
  ledger holds one done row per bucket, and the rerun processes no bucket.
- near_dup_text: candidate, verified and SimHash pair sets equal their
  DuckDB twins (plus a Python Jaccard and union-find), and each chain's
  clusters and keepers follow from its pairs.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq


def _seq(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]


def golden_sequences(path: Path) -> dict[str, list[tuple]]:
    rows = sorted(pq.read_table(path).to_pylist(), key=lambda r: (r["doc_id"], r["offset"]))
    out: dict[str, list[tuple]] = defaultdict(list)
    for r in rows:
        out[r["doc_id"]].append((r["kind"], r["text"], r["media_ref"]))
    return out


def extract_pages(run, spark, build, docs_path: Path, meta: dict) -> None:
    from pyspark.sql import functions as F

    from fetch_engines_spark.extract import extract_spans

    golden = golden_sequences(run.golden)
    tail = meta["tail"]
    cols = ["doc_id", "spans", "error"]
    out = build(spark).select(*cols).toArrow().to_pylist()
    single = (
        extract_spans(
            spark.read.parquet(str(docs_path)).filter(F.col("doc_id").isin(list(tail))).coalesce(1),
            keep_markdown=False,
        )
        .select(*cols)
        .toArrow()
        .to_pylist()
    )
    reference = {r["doc_id"]: _seq(r["spans"]) for r in single}
    run.attempted += len(out)
    run.check(len(out) == meta["n_docs"], f"{len(out)} output docs for {meta['n_docs']} inputs",
              abs(len(out) - meta["n_docs"]))
    run.check(len(reference) == len(tail), "single-partition tail run lost docs", len(tail))
    bad = []
    for r in out:
        doc_id = r["doc_id"]
        page = doc_id.split("#")[0]
        want = reference.get(doc_id) if doc_id in tail else golden.get(page)
        if r["error"] is not None or want is None or _seq(r["spans"]) != want:
            bad.append(doc_id)
    run.check(not bad, f"{len(bad)} docs with an error or a span mismatch, e.g. {bad[:3]}", len(bad))


def _rows(path: Path, columns: list[str]) -> list[dict]:
    return pq.ParquetDataset(str(path)).read(columns=columns).to_pylist()


def checkpoint_job(run, root: Path, first: dict, rerun: dict, n_docs: int, n_buckets: int) -> None:
    run.attempted += n_docs
    run.check(
        first["doc_count"] == n_docs and first["processed_buckets"] == n_buckets
        and first["skipped_buckets"] == 0,
        f"job summary {first} for {n_docs} docs in {n_buckets} buckets",
        n_docs,
    )
    run.check(
        rerun["processed_buckets"] == 0 and rerun["skipped_buckets"] == n_buckets,
        f"rerun against a complete ledger processed buckets: {rerun}",
    )
    out = _rows(root / "outputs", ["doc_id", "error"])
    ids = {r["doc_id"] for r in out}
    errors = sum(r["error"] is not None for r in out)
    run.check(len(out) == n_docs and len(ids) == n_docs,
              f"{len(out)} output rows, {len(ids)} distinct, for {n_docs} docs",
              abs(n_docs - len(ids)) + len(out) - len(ids))
    run.check(errors == 0, f"{errors} output docs with an error", errors)
    ledger = _rows(root / "partition_ledger", ["run_id", "bucket", "status"])
    done = [r for r in ledger if r["run_id"] == "r" and r["status"] == "done"]
    run.check(
        len(done) == n_buckets and {r["bucket"] for r in done} == set(range(n_buckets)),
        f"ledger has {len(done)} done rows for {n_buckets} buckets",
    )


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    if len(w) < 3:
        return {" ".join(w)}
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _components(pairs) -> dict[int, int]:
    """doc_id -> smallest doc_id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _pairs(path: Path, value: str | None) -> dict:
    """(doc_a, doc_b) -> value column.  A pair emitted more than once maps
    to "duplicate", so it differs from the oracle."""
    rows = _rows(path, ["doc_a", "doc_b"] + ([value] if value else []))
    out: dict = {}
    for r in rows:
        key = (r["doc_a"], r["doc_b"])
        out[key] = "duplicate" if key in out else (r[value] if value else None)
    return out


def _pair_diff(run, name: str, got: dict, want: dict) -> None:
    diff = set(got.items()) ^ set(want.items())
    docs = {d for (pair, _) in diff for d in pair}
    run.check(not diff, f"{name}: {len(diff)} pairs differ from the oracle, e.g. {sorted(diff)[:3]}",
              len(docs))


def _chain(run, name: str, out: Path, pairs: dict, all_ids: set[int]) -> None:
    labels = _components(pairs)
    clusters = {r["doc_id"]: (r["component"], r["is_keeper"]) for r in
                _rows(out / "clusters", ["doc_id", "component", "is_keeper"])}
    want = {d: (c, d == c) for d, c in labels.items()}
    wrong = {d for d in clusters.keys() | want.keys() if clusters.get(d) != want.get(d)}
    run.check(not wrong, f"{name} clusters: {len(wrong)} docs differ from union-find", len(wrong))
    keepers = {r["doc_id"] for r in _rows(out / "keepers", ["doc_id"])}
    expected = all_ids - {d for d, (c, keep) in want.items() if not keep}
    run.check(keepers == expected, f"{name} keepers: {len(keepers ^ expected)} docs differ",
              len(keepers ^ expected))


def near_dup_text(run, docs_path: Path, minhash_out: Path, simhash_out: Path,
                  threshold_bp: int, max_hamming: int, num_hashes: int, band_size: int,
                  max_bucket_size: int) -> None:
    import duckdb

    from fetch_engines_spark.pipelines.dedup import (
        minhash_fast_pairs_oracle_sql,
        simhash_pairs64_oracle_sql,
    )

    docs = {r["doc_id"]: r["text"] for r in _rows(docs_path, ["doc_id", "text"])}
    run.attempted += len(docs)
    source = f"read_parquet('{docs_path}/*.parquet')"
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {run.cores}")
        oracle_cand = con.execute(
            minhash_fast_pairs_oracle_sql(source, num_hashes=num_hashes, band_size=band_size)
        ).fetchall()
        oracle_sim = con.execute(
            simhash_pairs64_oracle_sql(
                source, max_hamming=max_hamming, max_bucket_size=max_bucket_size
            )
        ).fetchall()
    finally:
        con.close()

    if (minhash_out / "candidates").exists():  # materialised by traced runs only
        got = _pairs(minhash_out / "candidates", None)
        _pair_diff(run, "minhash candidates", got, {(a, b): None for a, b in oracle_cand})

    shingles = {d: _shingles(t) for d, t in docs.items()}
    verified = {}
    for a, b in oracle_cand:
        sa, sb = shingles[a], shingles[b]
        bp = len(sa & sb) * 10000 // max(1, len(sa | sb))
        if bp >= threshold_bp:
            verified[(a, b)] = bp
    got = _pairs(minhash_out / "pairs", "jaccard_bp")
    _pair_diff(run, "minhash verified pairs", got, verified)
    _chain(run, "minhash", minhash_out, verified, set(docs))

    sim = {(a, b): h for a, b, h in oracle_sim}
    got = _pairs(simhash_out / "pairs", "hamming")
    _pair_diff(run, "simhash64 pairs", got, sim)
    _chain(run, "simhash64", simhash_out, sim, set(docs))
