"""End-to-end training-data curation pipeline: the single entrypoint that
composes the engine's curation operators in their canonical order.

    quality gates -> PII scrub -> exact dedup -> near-dup (LSH) dedup
      -> deterministic split -> partitioned write

Stage order is load-bearing at 100 TB:

* quality gates FIRST — they are per-row projections (no shuffle) and
  typically drop 30-60% of a web crawl, so every shuffle downstream moves
  less data;
* PII scrub before dedup — two docs differing only in redacted identifiers
  ARE duplicates and should collapse;
* exact dedup before near-dup — one hash shuffle removes the byte-identical
  mass so the LSH stage shingles fewer docs;
* split LAST — a projection; assignments depend only on doc_id so any
  re-run reproduces them.

Every stage is the already-tested operator; this module only fixes the
composition and the write layout (``split=<s>/`` partitions so training
readers scan only their split).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.text import (
    dup_word_ratio,
    redact_pii,
    stopword_ratio,
    words,
)
from ..operators.dedup import (
    connected_components,
    lsh_buckets,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
)
from .registry import spark_hash


def curate(
    docs: DataFrame,
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    min_stopword_ratio: float = 0.01,
    max_dup_word_ratio: float = 0.5,
    near_dup_jaccard: float = 0.8,
    max_bucket_size: Optional[int] = 10_000,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """docs(doc_id, text, ...) -> curated docs + ``split`` column.

    Near-dup removal keeps exactly ONE doc per connected component of the
    verified-pair graph (the min doc_id), via large-star/small-star label
    propagation — so a duplicate chain A~B~C with A~/~C still collapses to
    {A}, where greedy pairwise dropping would keep transitive duplicates
    whenever a doc only ever appears as the smaller pair element."""
    # 1. quality gates (pure projection)
    w = words(F.lower(F.col("text")))
    gated = (
        docs.withColumn("__nw", F.size(w))
        .filter(F.col("__nw").between(min_words, max_words))
        .filter(stopword_ratio(F.col("text")) >= min_stopword_ratio)
        .filter(dup_word_ratio(F.col("text")) <= max_dup_word_ratio)
        .drop("__nw")
    )

    # 2. PII scrub (projection; before dedup so redacted twins collapse)
    scrubbed = gated.withColumn("text", redact_pii(F.col("text")))

    # 3. exact dedup: keep min doc_id per content hash — a window, not a
    # groupBy-then-semi-join: the keeper set is corpus-sized, so the join-
    # back was a second corpus shuffle (a SortMergeJoin in the audit); the
    # window does it in the ONE shuffle the content-hash partition needs
    from pyspark.sql import Window

    # full-md5 identity, same collision rationale as operators/dedup.
    # exact_dedup (the non-keeper is destroyed)
    w_exact = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    exact = (
        scrubbed.withColumn("__rn", F.row_number().over(w_exact))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # 4. near-dup: LSH candidates -> exact Jaccard verify -> connected
    # components over the verified pairs -> keep one doc (min id) per
    # component.  CC runs on the EDGE list only (tiny next to the corpus).
    sigs = minhash_signatures(exact)
    pairs = lsh_candidate_pairs(
        lsh_buckets(sigs), max_bucket_size=max_bucket_size
    )
    verified = ngram_jaccard(exact, pairs).filter(
        F.col("jaccard") >= near_dup_jaccard
    )
    dupes = (
        connected_components(verified)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    deduped = exact.join(dupes, "doc_id", "left_anti")

    # 5. deterministic split (projection)
    slot = spark_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    return deduped.withColumn(
        "split",
        F.when(slot < train_pct, "train")
        .when(slot < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def write_curated(curated: DataFrame, out_dir: str) -> None:
    """Split-partitioned parquet: training readers scan only their split."""
    curated.write.mode("overwrite").partitionBy("split").parquet(out_dir)
