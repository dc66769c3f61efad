"""SparkSession configuration for the extraction engine.

``recommended_confs`` centralizes the settings the pipeline is tuned for;
``build_session`` applies them for local runs (tests, bench, sandbox).  On a
real cluster pass the same dict to spark-submit ``--conf`` flags.

``build_session`` also starts every local Python worker through
``worker_daemon``, so no task pays the per-task zip re-read (see that
module).  ``recommended_confs`` leaves the stock daemon: under spark-submit
the daemon starts before ``--py-files`` are on its path, so it could not
import the wrapper; there the kernel stage installs the fix in its own
workers (``plans/extract._parse_batches``).
"""

from __future__ import annotations

import os
from typing import Dict, Optional

# the directory holding the package: a local Python worker can import the
# package when this is its working directory (the driver's) or on PYTHONPATH
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def recommended_confs(shuffle_partitions: Optional[int] = None) -> Dict[str, str]:
    confs = {
        # AQE: runtime coalescing + skew-split for the post-kernel stages
        "spark.sql.adaptive.enabled": "true",
        # deterministic timestamp semantics for cross-engine oracles
        # (DuckDB timestamps are UTC-naive; Spark's are session-TZ)
        "spark.sql.session.timeZone": "UTC",
        # Arrow for toPandas() and pandas-side createDataFrame; the kernel
        # stage is mapInArrow, which uses Arrow whatever this says
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # ALWAYS use the sort-based shuffle writer.  The default bypass-merge
        # writer kicks in at <=200 reduce partitions and opens one file per
        # (map task x reduce partition); with hundreds of map tasks that is a
        # tiny-file metadata storm — measured 5x slower (3.3s vs 0.6s) than
        # the single-spill-file sort writer for the salted repartition at
        # sf0.1x8.  On a 1000-executor cluster the map x reduce file blowup
        # is worse, which is exactly why large deployments disable bypass.
        "spark.shuffle.sort.bypassMergeThreshold": "1",
        # Arrow batches are capped here by row count only: the default 10k
        # rows/batch would materialize 10k x doc-size bytes in one Python
        # worker — a batch of mega-articles (fixture worst case ~2 MB of
        # markup each) would be 20 GB.  2048 keeps the worst batch ~4 GB while
        # still amortizing worker round-trips for normal pages; partitions
        # smaller than this (the common local case) form one batch regardless.
        # Spark can also cap batches by bytes
        # (spark.sql.execution.arrow.maxBytesPerBatch; a batch closes at
        # whichever cap it reaches first); it is left unset until a
        # byte cap is measured on mega-article inputs.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # zstd over default snappy for every parquet write: measured 20%
        # smaller (10.8 -> 8.6 MB on sf0.1 lineitem) at no write-time cost —
        # at 100 TB that is 20 TB of storage and scan bandwidth; zstd's
        # higher decompression speed also helps read-heavy downstream jobs
        "spark.sql.parquet.compression.codec": "zstd",
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return confs


def _workers_import_package() -> bool:
    """Whether a local daemon started with ``python -m`` finds the package.
    If not, the stock daemon stays: a wrapper it cannot import would fail
    every Python task, not only those that run package code."""
    path = [os.getcwd()] + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return any(p and os.path.abspath(p) == _PACKAGE_ROOT for p in path)


def build_session(
    master: str = "local[*]",
    app_name: str = "table-extractor-spark",
    shuffle_partitions: Optional[int] = None,
    driver_memory: str = "8g",
    extra: Optional[Dict[str, str]] = None,
):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(master).appName(app_name)
    confs = recommended_confs(shuffle_partitions)
    confs.setdefault("spark.driver.memory", driver_memory)
    confs.setdefault("spark.ui.enabled", "false")
    # local[...] only: local-cluster executors start in their own directories
    local = master == "local" or master.startswith("local[")
    if local and _workers_import_package():
        confs["spark.python.daemon.module"] = "table_extractor_spark.worker_daemon"
    if extra:
        confs.update(extra)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
