"""Single-core, in-process timings of the converter layers.

Each public call of the extraction chain is timed on its own over a
seeded sample of the extract_pages corpus, in this process and without
Spark, and reported in microseconds per document (median over repeats):

- dom: ``parse_html_fast``, ``collect_matches``, ``subtree_stats``
- convert: ``MarkdownConverter.preprocess``, ``postprocess_markdown``
  with ``inject_source_url``, and the whole chain
  (``MarkdownConverter.convert`` then ``markdown_to_spans``)
- serialize: ``to_markdown``
- extract: ``markdown_to_spans``
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

SAMPLE_DOCS = 60
MIN_SECONDS = 1.5
MIN_REPEATS = 3


def _sample(docs_path: Path, seed: int) -> list[tuple[str, str | None]]:
    from fetch_engines_spark.fixtures import assemble_html

    rows = pq.ParquetDataset(str(docs_path)).read().to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    picked = random.Random(f"layers:{seed}").sample(rows, min(SAMPLE_DOCS, len(rows)))
    return [(assemble_html(r["spans"]), r["base_url"]) for r in picked]


def converter_layers(docs_path: Path, seed: int) -> dict[str, float]:
    from fetch_engines_spark.convert.converter import (
        CONTENT_SUBTREE_REMOVE_SELECTORS,
        MAIN_CONTENT_SELECTORS,
        PREPROCESSING_REMOVE_SELECTORS,
        MarkdownConverter,
        cleanup_html,
        inject_source_url,
        postprocess_markdown,
    )
    from fetch_engines_spark.convert.serialize import to_markdown
    from fetch_engines_spark.dom import collect_matches, parse_html_fast, subtree_stats
    from fetch_engines_spark.extract import markdown_to_spans

    docs = _sample(docs_path, seed)
    selectors = [
        ",".join(PREPROCESSING_REMOVE_SELECTORS),
        ",".join(CONTENT_SUBTREE_REMOVE_SELECTORS),
        ",".join(MAIN_CONTENT_SELECTORS),
    ]
    conv = MarkdownConverter()
    names = [
        "dom.parse_us_per_doc",
        "dom.match_us_per_doc",
        "dom.stats_us_per_doc",
        "convert.preprocess_us_per_doc",
        "serialize.to_markdown_us_per_doc",
        "convert.postprocess_us_per_doc",
        "extract.spans_us_per_doc",
        "convert.chain_us_per_doc",
    ]
    per_repeat: dict[str, list[float]] = {k: [] for k in names}
    clock = time.perf_counter_ns
    t_start = time.perf_counter()
    repeats = 0
    while repeats < MIN_REPEATS or time.perf_counter() - t_start < MIN_SECONDS:
        ns = dict.fromkeys(names, 0)
        for html, base_url in docs:
            cleaned = cleanup_html(html)
            t = clock()
            root = parse_html_fast(cleaned)
            ns["dom.parse_us_per_doc"] += clock() - t
            t = clock()
            collect_matches(root, selectors)
            ns["dom.match_us_per_doc"] += clock() - t
            t = clock()
            subtree_stats(root)
            ns["dom.stats_us_per_doc"] += clock() - t

            t = clock()
            content, _title = conv.preprocess(html, base_url)
            ns["convert.preprocess_us_per_doc"] += clock() - t
            t = clock()
            markdown = content if isinstance(content, str) else to_markdown(content)
            ns["serialize.to_markdown_us_per_doc"] += clock() - t
            t = clock()
            markdown = inject_source_url(postprocess_markdown(markdown), "https://example.com/doc")
            ns["convert.postprocess_us_per_doc"] += clock() - t
            t = clock()
            markdown_to_spans(markdown)
            ns["extract.spans_us_per_doc"] += clock() - t

            t = clock()
            markdown_to_spans(conv.convert(html, base_url=base_url))
            ns["convert.chain_us_per_doc"] += clock() - t
        for k in names:
            per_repeat[k].append(ns[k] / 1e3 / len(docs))
        repeats += 1
    return {k: statistics.median(v) for k, v in per_repeat.items()}
