#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys reported alongside the driver contract:

* ``docs_per_sec`` — flagship extraction throughput (BASELINE.json metric);
* ``docs`` — corpus size the throughput was measured over;
* ``cpus`` — parallelism used.

This harness is the driver contract only; performance claims, including
scaling efficiency (``spark.scaling_eff_1to4``), come from ``perfbench/``
(``python3 perfbench/run.py --workload W --seed N --seconds 12 --trace 1``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline battery: flagship kernel extraction + one representative per
# operator family (agg, broadcast-join cascade, window fill-down, dedup chain
# exact->minhash->LSH->verify, similarity top-k, text analysis).
HEADLINE = (
    "extract_synthetic",
    "extract_metrics_report",
    "q1_pricing_summary",
    "rule_lookup_cascade",
    "section_fill_down",
    "dedup_exact",
    "ngram_jaccard_dedup",
    "embedding_cosine_topk",
    "quality_score",
    "token_count",
)


def build_spark(cpus: int):
    from table_extractor_spark.session import build_session

    return build_session(
        master=f"local[{cpus}]",
        app_name=f"table-extractor-bench-{cpus}",
        shuffle_partitions=cpus,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )


def parse_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def main() -> None:
    from table_extractor_spark.plans import queries as Q

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()

    # warm the JVM + the Python-worker pool (one tiny kernel run across all
    # cores) so per-query times measure the plan, not session/worker startup
    spark.range(1000).selectExpr("sum(id)").collect()
    from table_extractor_spark.plans.extract import extract_pipeline
    from table_extractor_spark.sources.tables import fixture_corpus_df

    warm_out, _ = extract_pipeline(
        fixture_corpus_df(spark, copies=CPUS), num_partitions=CPUS
    )
    warm_out.count()

    timings = {}
    raw_runs = {}
    docs = 0
    docs_elapsed = 0.0
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for name in HEADLINE:
        fn = registry[name]
        runs = []
        # best-of-N: the first run pays one-time codegen/JIT compilation of
        # the plan (seconds for the md5-heavy trees); steady-state is what a
        # long-running cluster job sees.  The raw runs ride along so a
        # noisy-box round is diagnosable from the payload itself (the r5
        # ledger caught a cold reading that looked like a 30% regression).
        for _ in range(reps):
            t0 = time.monotonic()
            fn(spark, SF_DIR).count()
            runs.append(round(time.monotonic() - t0, 3))
        raw_runs[name] = runs
        timings[name] = min(runs)
        if name == "extract_metrics_report":
            # throughput over the full kernel pipeline (parse every doc once)
            from table_extractor_spark.sources.tables import (
                synthesize_docs_from_testdata,
            )

            docs = synthesize_docs_from_testdata(spark, SF_DIR).count()
            docs_elapsed = timings[name]

    # headline throughput at REFERENCE document weight (the baseline's
    # 0.65 docs/s is over real wiki pages; the sf tables above are
    # oracle-sized ~6-row tables, ~50x lighter) — corpus replicated x8 with
    # distinct doc_ids, pre-spread, timed best-of-reps
    from pyspark.sql import functions as F

    from table_extractor_spark.plans.extract import extract_pipeline
    from table_extractor_spark.sources.tables import synthesize_docs_from_testdata

    heavy = (
        synthesize_docs_from_testdata(spark, SF_DIR, table_rows=48)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(8))).alias("copy"),
            "doc_id", "spans",
        )
        .select(
            F.concat_ws("_", "doc_id", F.col("copy").cast("string")).alias("doc_id"),
            "spans",
        )
        .repartition(8 * CPUS)
        .localCheckpoint()
    )
    heavy_docs = heavy.count()
    heavy_best = None
    for rep in range(reps):
        t0 = time.monotonic()
        # 2 tasks/core: measured sweet spot (4x/core pays ~10% per-task
        # python-worker feed cost; see BENCH.md section 3)
        out, _ = extract_pipeline(heavy, num_partitions=2 * CPUS, salt=rep)
        out.count()
        dt = time.monotonic() - t0
        heavy_best = dt if heavy_best is None or dt < heavy_best else heavy_best

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline-suite wall time (docs/sec in docs_per_sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": parse_sf(SF_DIR),
        "cpus": CPUS,
        "docs": heavy_docs,
        "docs_per_sec": round(heavy_docs / heavy_best, 2) if heavy_best else None,
        "docs_per_sec_light": round(docs / docs_elapsed, 2) if docs_elapsed else None,
        "reference_docs_per_sec": 0.65,
        # steady-state suite wall: sum of per-query best-of-3 (equals
        # "value" at the default reps).  null if reps were overridden < 3.
        "value_best_of_3": total if reps >= 3 else None,
        "reps": reps,
        "queries_raw": raw_runs,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
