"""Salted repartitioning (north rule: defuse mega-article skew).

doc_ids are unique, so key-frequency skew cannot occur — the skew that hurts
is *size* skew (one mega-article per partition bucket).  Salting the hash
decorrelates the doc_id->partition mapping from any unlucky clustering in the
input files and lets a retry (salt+1) re-spread a pathological batch.  AQE
handles residual post-shuffle imbalance (SURVEY §4).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F


def bucket_expr(num_partitions: int, salt: int = 0, key: str = "doc_id"):
    """Deterministic bucket id: pmod(hash(key, salt), n).

    Also the unit of checkpoint/lineage bookkeeping (streaming.checkpoint):
    given (num_partitions, salt) every doc maps to a stable bucket, so a
    resume can anti-join completed buckets without per-doc state.
    """
    return F.pmod(F.hash(F.col(key), F.lit(salt)), F.lit(num_partitions))


def salted_repartition(
    df: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    salt: int = 0,
    key: str = "doc_id",
) -> DataFrame:
    """Repartition by the salted doc_id hash (explicit, plan-visible).

    NB: repartition on the FINE-GRAINED ``hash(key, salt)`` — never on
    ``bucket_expr`` itself.  ``repartition(n, expr)`` re-hashes the
    expression value, so pre-coarsening to n bucket values would throw n
    balls into n bins (measured: 640 docs over 8 partitions landed in 5,
    worst 3x the mean).  ``bucket_expr`` remains the stable doc->bucket map
    for checkpoint/lineage bookkeeping; the physical partition spread comes
    from the raw salted hash."""
    if num_partitions is None:
        num_partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        num_partitions = int(num_partitions)
    return df.repartition(num_partitions, F.hash(F.col(key), F.lit(salt)))


def spread_for_compute(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition rows to the session's shuffle parallelism before a
    compute-heavy per-row stage.

    Guide §2.5 ("input skew: one huge unsplittable file ... repartition
    immediately after the read"): parquet scan parallelism is bounded by the
    file's ROW-GROUP layout, not by Spark's split count — a single-row-group
    file plans N splits of which N-1 are empty, and every per-row stage
    above it (minhash md5 walks, cosine scoring) silently runs one-wide.
    This is the same defusal the extraction kernel has always applied
    (salted repartition before mapInArrow), extended to the other
    compute-bound operators: the shuffled bytes are the narrow columns the
    stage needs anyway, and per-row compute cost dominates one ser/de pass
    at every scale (measured: the sf1.0 near-dup shingle pass dropped from
    a 24 s single-task stage to ~2 s at 32 tasks)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(key))

