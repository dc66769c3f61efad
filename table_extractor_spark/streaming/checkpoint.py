"""Resumable extraction runs: per-partition checkpoint/lineage + metrics.

North rule: "resumable from checkpoint with per-partition lineage + metrics".
The reference has no resumability at all — a crashed crawl is re-run from
scratch (SURVEY §4 "Incremental resumability: none").  At 10^12 documents a
run MUST be restartable without reprocessing finished work.

Design (SURVEY §7.3.5 — idempotent under task retry AND driver restart):

* The unit of lineage is the **salted bucket** — the deterministic
  ``pmod(hash(doc_id, salt), num_buckets)`` the pipeline already shuffles on
  (operators/repartition.bucket_expr).  Every doc maps to a stable bucket,
  so completion bookkeeping is O(num_buckets), not O(docs).
* The run executes in **waves** of buckets.  Each wave parses once:
  filter to the wave's buckets -> extract (persisted) -> write spans +
  metrics partitioned by bucket -> collect per-bucket stats from the
  persisted parse -> append one lineage row per bucket.
* Output writes use **dynamic partition overwrite** keyed by bucket, so a
  wave that crashed mid-write is simply rewritten on resume — partition
  replacement makes the pair (write outputs, then record lineage) idempotent:
  lineage is only appended AFTER the wave's data is durably committed, and
  rewriting an uncommitted wave replaces, never duplicates.
* ``resume`` = read lineage, anti-join completed buckets, process the rest.

On Iceberg the same layout maps to ``overwritePartitions()`` on the output
table plus an append-only lineage table; incremental processing of NEW
documents composes via ``sources.incremental`` (snapshot high-watermark).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.repartition import bucket_expr
from ..plans.extract import METRIC_FIELDS, OUT_COLUMNS, PARSED_SCHEMA
from ..sources.writers import dynamic_partition_overwrite

# one row per committed bucket; lineage dirs are append-only across runs
# and code versions, so names, order, types and nullability stay fixed
LINEAGE_SCHEMA = (
    "run_id string not null, bucket int, n_docs long not null, "
    "n_spans long not null, wall_sec double not null, "
    "committed_at int not null, "
    + ", ".join(f"{f} long not null" for f in METRIC_FIELDS)
)

# the span output as written: declared, not inferred, so a committed run
# whose buckets hold no spans (table-less docs) reads back as zero rows
OUT_SCHEMA = StructType([PARSED_SCHEMA[c] for c in OUT_COLUMNS]).add(
    "bucket", "integer"
)

# the only read failures that mean "nothing written here yet": an absent
# directory, or one with no data files (an all-empty wave)
_NOTHING_WRITTEN = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_parquet_or_none(
    spark: SparkSession, path: str, schema: Optional[StructType] = None
) -> Optional[DataFrame]:
    """``spark.read.parquet(path)``, or None when nothing was written there.
    Any other failure (corrupt file, permissions, I/O) propagates: read as
    "nothing done" it would make a resume quietly redo every bucket."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_WRITTEN:
            return None
        raise


@dataclass
class CheckpointedRun:
    """A resumable extraction run over a documents table.

    ``base_dir`` layout (outputs namespaced PER RUN — dynamic partition
    overwrite replaces whole ``bucket=`` partitions, so two runs sharing an
    output dir would destroy each other's committed spans whenever their
    docs hash to the same bucket, e.g. an incremental run over only-new
    docs wiping the prior run's buckets)::

        <base_dir>/out_spans/run_id=<id>/bucket=<k>/...parquet
        <base_dir>/metrics/run_id=<id>/bucket=<k>/...parquet
        <base_dir>/lineage/...parquet   (append-only, 1 row/bucket, all runs)
    """

    base_dir: str
    run_id: str
    num_buckets: int = 64
    salt: int = 0
    wave_size: int = 16

    def __post_init__(self) -> None:
        if "/" in self.run_id or "=" in self.run_id or not self.run_id:
            raise ValueError(
                f"run_id must be a non-empty path-safe token, got {self.run_id!r}"
            )
        if self.num_buckets < 1 or self.wave_size < 1:
            raise ValueError(
                f"num_buckets and wave_size must be >= 1, got "
                f"{self.num_buckets} and {self.wave_size}"
            )

    @property
    def out_dir(self) -> str:
        return os.path.join(self.base_dir, "out_spans", f"run_id={self.run_id}")

    @property
    def metrics_dir(self) -> str:
        return os.path.join(self.base_dir, "metrics", f"run_id={self.run_id}")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.base_dir, "lineage")

    # -- lineage ------------------------------------------------------------

    def completed_buckets(self, spark: SparkSession) -> List[int]:
        """Buckets whose lineage row exists (== durably committed)."""
        lin = _read_parquet_or_none(spark, self.lineage_dir)
        if lin is None:
            return []
        rows = (
            lin.filter(F.col("run_id") == self.run_id)
            .select("bucket").distinct().collect()
        )
        return sorted(r["bucket"] for r in rows)

    def lineage(self, spark: SparkSession) -> Optional[DataFrame]:
        return _read_parquet_or_none(spark, self.lineage_dir)

    # -- execution ----------------------------------------------------------

    def _write_wave(
        self, spark: SparkSession, docs: DataFrame, wave: Sequence[int]
    ) -> None:
        """One wave: extract the wave's buckets, overwrite their output
        partitions, then append lineage rows (commit point)."""
        from ..operators.repartition import salted_repartition
        from ..plans.extract import parse_stage

        t0 = time.monotonic()
        bexpr = bucket_expr(self.num_buckets, self.salt)
        wave_docs = docs.withColumn("bucket", bexpr).filter(
            F.col("bucket").isin(*[int(b) for b in wave])
        )
        # the span write, the metrics write and the lineage stats are three
        # separate actions, so persist the SHARED parse output before
        # branching — otherwise the kernel runs once per action
        # (write-then-branch, SURVEY §7.3.5)
        spread = salted_repartition(
            wave_docs.select("doc_id", "spans"),
            num_partitions=len(wave),
            salt=self.salt,
        )
        parsed = parse_stage(spread).withColumn(
            "bucket", bucket_expr(self.num_buckets, self.salt)
        ).persist()
        out = parsed.filter(F.col("kind").isNotNull()).select(
            *OUT_COLUMNS, "bucket"
        )
        metrics = parsed.filter(F.col("kind").isNull()).select(
            "doc_id", *METRIC_FIELDS, "bucket"
        )

        try:
            dynamic_partition_overwrite(out, self.out_dir, "bucket")
            dynamic_partition_overwrite(metrics, self.metrics_dir, "bucket")
            # lineage stats (metrics rows are the docs, the rest the spans),
            # collected while the parse is still persisted
            is_doc = F.col("kind").isNull()
            stats = {
                r["bucket"]: r
                for r in parsed.groupBy("bucket").agg(
                    F.count(F.when(is_doc, 1)).alias("n_docs"),
                    F.count(F.when(~is_doc, 1)).alias("n_spans"),
                    *[F.sum(f).alias(f) for f in METRIC_FIELDS],
                ).collect()
            }
        finally:
            parsed.unpersist()

        # lineage = the commit record, written only after data is durable.
        # One row per bucket IN THE WAVE — including empty buckets (a bucket
        # no doc hashes to must still be marked complete, or resume would
        # reprocess it forever).
        wall = round(time.monotonic() - t0, 3)
        committed_at = int(time.time())
        zero = dict.fromkeys(("n_docs", "n_spans", *METRIC_FIELDS), 0)
        rows = []
        for b in wave:
            st = stats.get(b, zero)
            rows.append(
                (self.run_id, int(b), st["n_docs"], st["n_spans"], wall,
                 committed_at, *[st[f] for f in METRIC_FIELDS])
            )
        spark.createDataFrame(rows, LINEAGE_SCHEMA).write.mode("append").parquet(
            self.lineage_dir
        )

    def run(
        self,
        spark: SparkSession,
        docs: DataFrame,
        max_waves: Optional[int] = None,
    ) -> dict:
        """Process all not-yet-committed buckets, ``wave_size`` at a time.

        ``max_waves`` caps the number of waves this invocation executes —
        the kill-after-k-waves test hook, and also a natural unit for
        budget-bounded production runs.  Returns a summary dict; call again
        (same base_dir/run_id) to resume.  Exactly-once per bucket: a bucket
        is either absent from lineage (and will be fully (re)written) or
        present (and will be skipped)."""
        if max_waves is not None and max_waves < 0:
            raise ValueError(f"max_waves must be >= 0, got {max_waves}")
        done = set(self.completed_buckets(spark))
        pending = [b for b in range(self.num_buckets) if b not in done]
        waves = [
            pending[i : i + self.wave_size]
            for i in range(0, len(pending), self.wave_size)
        ]
        if max_waves is not None:
            waves = waves[:max_waves]
        for wave in waves:
            self._write_wave(spark, docs, wave)
        newly = [b for w in waves for b in w]
        return {
            "run_id": self.run_id,
            "already_complete": sorted(done),
            "processed_now": newly,
            "remaining": [b for b in pending if b not in set(newly)],
        }

    # -- reading back -------------------------------------------------------

    def read_output(self, spark: SparkSession) -> DataFrame:
        """Committed output only: anti-join uncommitted buckets away, so a
        crash between data write and lineage append is invisible to readers.
        A run with no committed wave yet (fresh, or its first wave crashed
        before the lineage append) reads back as zero rows.  Once a wave has
        committed, a missing output directory means the output was lost or
        moved, so the read fails instead."""
        empty = spark.createDataFrame([], OUT_SCHEMA).drop("bucket")
        lin = self.lineage(spark)
        if lin is None:
            return empty
        committed = (
            lin.filter(F.col("run_id") == self.run_id).select("bucket").distinct()
        )
        try:
            out = spark.read.schema(OUT_SCHEMA).parquet(self.out_dir)
        except AnalysisException as e:
            # every wave's span write creates out_dir, even a wave with no
            # rows: its absence is "nothing written yet" only while this run
            # has no committed bucket (checked here, off the normal path)
            if e.getCondition() == "PATH_NOT_FOUND" and committed.isEmpty():
                return empty
            raise
        return out.join(F.broadcast(committed), "bucket", "leftsemi").drop("bucket")

    def _committed_lineage(self, spark: SparkSession) -> DataFrame:
        """This run's lineage rows; ValueError when no wave has committed."""
        lin = self.lineage(spark)
        if lin is not None:
            lin = lin.filter(F.col("run_id") == self.run_id)
        if lin is None or lin.isEmpty():
            raise ValueError(
                f"run {self.run_id!r} has no committed wave in {self.lineage_dir}"
            )
        return lin

    def partition_skew_report(self, spark: SparkSession) -> DataFrame:
        """Partition-time spread from lineage (SURVEY §7.3.4): per-bucket
        kernel time lets you SEE a mega-article hot bucket.  Returns one row:
        (buckets, max_kernel_s, mean_kernel_s, skew_ratio) — ratio near 1.0
        means the salted spread is flat; a large ratio names the problem."""
        per_bucket = self._committed_lineage(spark).select(
            "bucket", (F.col("kernel_us") / 1e6).alias("kernel_s")
        )
        return per_bucket.agg(
            F.count("*").alias("buckets"),
            F.round(F.max("kernel_s"), 3).alias("max_kernel_s"),
            F.round(F.avg("kernel_s"), 3).alias("mean_kernel_s"),
            F.round(
                F.max("kernel_s") / F.greatest(F.avg("kernel_s"), F.lit(1e-9)), 2
            ).alias("skew_ratio"),
        )

    def metrics_report(self, spark: SparkSession) -> DataFrame:
        """The reference's final report (S8/A1/A2) over committed lineage."""
        return self._committed_lineage(spark).agg(
            F.sum("n_docs").alias("docs"),
            F.sum("n_spans").alias("spans"),
            *[F.sum(f).alias(f) for f in METRIC_FIELDS],
            (
                F.sum("data_extracted_to_map").cast("double")
                / F.greatest(F.sum("data_extracted"), F.lit(1)).cast("double")
            ).alias("effectiveness"),
        )
