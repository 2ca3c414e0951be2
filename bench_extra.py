"""Round-6 optimization probe bench (guide §1.4): isolates the expensive
pieces of the heavy bench queries with the noop sink so the computation is
timed, not the sink or count-pruning.  NOT part of the driver contract —
bench.py stays the frozen measurement surface.

Usage: python bench_extra.py [probe ...]   (default: all probes)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
Prints one JSON line {"probes": {name: best_sec, ...}, "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, build, results, repeats=2):
    """best-of-N noop-sink timing with one untimed warmup, labelled in the UI."""
    spark.sparkContext.setJobDescription(f"probe:{name}")
    noop(build())  # warmup: codegen + IO cache
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        noop(build())
        best = min(best, time.time() - t0)
    results[name] = round(best, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {name}: {results[name]}s", file=sys.stderr)


def main() -> None:
    from pyspark.sql import functions as F

    from fetch_engines_spark.session import get_spark

    spark = get_spark(
        app_name="fes-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    want = set(sys.argv[1:])

    def on(name):
        return not want or name in want or any(name.startswith(w) for w in want)

    results: dict[str, float] = {}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()  # warm page cache

    # --- simhash64 family ---------------------------------------------------
    if on("simhash64"):
        from fetch_engines_spark.pipelines.dedup import (
            simhash64,
            simhash_candidate_pairs64,
        )

        timed(spark, "simhash64_sig", lambda: simhash64(docs), results)
        timed(
            spark,
            "simhash64_pairs_full",
            lambda: simhash_candidate_pairs64(docs, max_hamming=3),
            results,
        )
        # token explode + md5s only (no votes agg): isolates tokenization+hash
        timed(
            spark,
            "simhash64_tok_md5",
            lambda: docs.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
            ).select(
                "doc_id",
                F.md5("tok").alias("h1"),
                F.md5(F.concat(F.lit("hi|"), F.col("tok"))).alias("h2"),
            ),
            results,
        )
        # votes agg only but with a trivial 1-column sum: isolates the
        # 64-buffer aggregation cost vs the hash/substr row work
        timed(
            spark,
            "simhash64_agg1",
            lambda: docs.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
            )
            .select("doc_id", F.md5("tok").alias("h1"))
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.substring("h1", 1, 1) >= "8", 1).otherwise(-1))),
            results,
        )

    # --- simhash 32-bit pairs (the 67 s query) ------------------------------
    if on("simhash32"):
        from fetch_engines_spark.pipelines.dedup import (
            simhash,
            simhash_candidate_pairs,
        )

        timed(spark, "simhash32_sig", lambda: simhash(docs, bits=32), results)
        timed(
            spark,
            "simhash32_pairs_full",
            lambda: simhash_candidate_pairs(docs, max_hamming=3),
            results,
        )

        def pairs_no_distinct():
            # the block join + hamming verify without the final distinct:
            # separates join fan-out cost from pair-dedup shuffle cost
            sig = simhash(docs, bits=32).localCheckpoint(eager=True)
            stacked = sig.select(
                "doc_id",
                "simhash",
                F.expr(
                    "stack(4, "
                    + ", ".join(
                        f"{b}, CAST(shiftright(simhash, {b * 8}) % 256 AS BIGINT)"
                        for b in range(4)
                    )
                    + ") as (block_id, block_val)"
                ),
            )
            j = stacked.alias("l").join(
                stacked.alias("r"),
                (F.col("l.block_id") == F.col("r.block_id"))
                & (F.col("l.block_val") == F.col("r.block_val"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            return j.select(
                F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
                F.bit_count(
                    F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
                ).alias("hamming"),
            ).filter(F.col("hamming") <= 3)

        timed(spark, "simhash32_pairs_nodistinct", pairs_no_distinct, results)

    # --- minhash ------------------------------------------------------------
    if on("minhash"):
        from fetch_engines_spark.pipelines.dedup import minhash_signatures, shingles

        timed(spark, "minhash_sigs", lambda: minhash_signatures(docs), results)
        timed(
            spark,
            "minhash_shingle_explode",
            lambda: docs.select(
                "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
            ),
            results,
        )
        timed(
            spark,
            "minhash_1md5",
            lambda: docs.select(
                "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
            )
            .groupBy("doc_id")
            .agg(F.min(F.md5(F.concat(F.lit("s0|"), F.col("shingle"))))),
            results,
        )

    # --- embedding topk -----------------------------------------------------
    if on("embedding"):
        from fetch_engines_spark.pipelines.similarity import brute_force_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        emb.count()
        timed(
            spark,
            "embedding_topk_full",
            lambda: brute_force_topk(emb, k=5, query_ids=list(range(10))),
            results,
        )

    # --- bm25 ---------------------------------------------------------------
    if on("bm25"):
        from __spark_entry__ import _q_doc_bm25_topk

        timed(
            spark,
            "bm25_full",
            lambda: _q_doc_bm25_topk(spark, SF_DIR),
            results,
        )

    # --- capped simhash fixture (sf-independent) ----------------------------
    if on("capped"):
        from __spark_entry__ import _q_dedup_simhash_capped

        timed(
            spark,
            "simhash_capped_full",
            lambda: _q_dedup_simhash_capped(spark, SF_DIR),
            results,
        )

    print(json.dumps({"probes": results, "sf_dir": SF_DIR, "cpus": CPUS}))
    spark.stop()


if __name__ == "__main__":
    main()
