#!/usr/bin/env python
"""spark-submit entrypoint for the extraction job (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

Package and submit::

    python scripts/make_pyfiles_zip.py                 # -> dist/table_extractor_spark.zip
    spark-submit --py-files dist/table_extractor_spark.zip \
        [--master spark://...] \
        scripts/submit_job.py \
        --input  /path/to/documents_parquet_or_iceberg \
        --output /path/to/checkpointed_run_dir \
        --run-id run1 --num-buckets 4096 --wave-size 256

The job is the resumable CheckpointedRun: re-submitting with the same
--output/--run-id resumes from lineage.  ``--incremental-manifest`` makes it
process only documents not yet in the manifest (snapshot-incremental mode).
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet dir)")
    ap.add_argument("--output", required=True, help="run directory (out/metrics/lineage)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--num-buckets", type=int, default=4096)
    ap.add_argument("--wave-size", type=int, default=256)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--max-waves", type=int, default=None)
    ap.add_argument("--incremental-manifest", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    # session: spark-submit supplies master/deploy config; we only add the
    # engine's recommended confs (sort shuffle, AQE, Arrow)
    from pyspark.sql import SparkSession

    from table_extractor_spark.session import recommended_confs
    from table_extractor_spark.sources.incremental import (
        new_documents,
        record_processed,
    )
    from table_extractor_spark.streaming.checkpoint import CheckpointedRun

    # validates run id, bucket and wave counts before a session is built
    run = CheckpointedRun(
        base_dir=args.output,
        run_id=args.run_id,
        num_buckets=args.num_buckets,
        salt=args.salt,
        wave_size=args.wave_size,
    )

    builder = SparkSession.builder.appName(f"table-extract-{args.run_id}")
    for k, v in recommended_confs(args.shuffle_partitions).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    docs = spark.read.parquet(args.input)
    if args.incremental_manifest:
        docs = new_documents(spark, docs, args.incremental_manifest)

    summary = run.run(spark, docs, max_waves=args.max_waves)
    print(
        f"run {args.run_id}: {len(summary['processed_now'])} buckets processed, "
        f"{len(summary['already_complete'])} already complete, "
        f"{len(summary['remaining'])} remaining"
    )
    if not summary["remaining"]:
        if args.incremental_manifest:
            record_processed(
                docs.select("doc_id"), args.incremental_manifest, args.run_id
            )
        run.metrics_report(spark).show(truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
