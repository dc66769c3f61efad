"""Benchmark decontamination: n-gram collision detection between a training
corpus and an evaluation/benchmark set.

The standard LLM-training hygiene step (the GPT-3 appendix-C / Llama
decontamination method, public): collect the benchmark's word n-grams,
flag every training document that shares one.  Shapes for 100 TB:

* the benchmark side is tiny by construction (eval sets are MBs) — its
  distinct n-gram hash set BROADCASTS; the corpus side is scanned once,
  exploded per n-gram, and hash-joined map-side with zero corpus shuffle
  before the per-doc aggregation;
* hashes reuse the engine-wide ``shingle_hashes`` arithmetic
  (md5-prefix mod MINHASH_P), so a SQL oracle replays them bit-for-bit
  and the same signatures feed dedup and decontamination;
* the report is per-doc (collision count + flag), never a filtered copy
  of the corpus — callers anti-join on it, keeping the decision auditable
  (no-silent-drops, same policy as the LSH giant-bucket guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingle_hashes


def benchmark_ngrams(
    bench: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct k-gram hashes of the benchmark set — the broadcast side."""
    return (
        bench.select(F.explode(shingle_hashes(F.col(text_col), k)).alias("h"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    bench_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(doc_id, n_collisions, contaminated): distinct benchmark k-grams each
    training doc shares.  One broadcast hash-join on the n-gram hash + one
    per-doc aggregation; docs with zero overlap keep a row (count 0)."""
    grams = docs.select(
        F.col(id_col), F.explode(shingle_hashes(F.col(text_col), k)).alias("h")
    )
    hits = (
        grams.join(F.broadcast(bench_grams), "h")
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_collisions"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_collisions", F.lit(0)).alias("n_collisions"),
            (F.coalesce("n_collisions", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def fuzzy_contamination_report(
    docs: DataFrame,
    bench_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    perms: int = 16,
    min_sig_match: int = 8,
) -> DataFrame:
    """Fuzzy (near-duplicate) decontamination: flag training docs whose
    MinHash-ESTIMATED Jaccard against any benchmark doc clears
    ``min_sig_match``/``perms`` — the NearDup eval-overlap check of Lee et
    al., "Deduplicating Training Data Makes Language Models Better" (ACL
    2022), complementing ``contamination_report``'s exact n-gram collisions
    (paraphrased or lightly-edited benchmark leakage shares few exact
    3-grams but keeps a high Jaccard).

    Returns (a, bench_id, n_sig_match, est_jaccard, contaminated) for every
    LSH candidate pair, a = training doc (bench self-pairs anti-joined
    out).  Keeping sub-threshold candidate rows makes the report auditable
    (the same no-silent-drops policy as the exact report).

    100-TB shape: benchmark sets are MBs, so everything derived from
    ``bench_ids`` broadcasts — the corpus-side bucket table is probed
    map-side by the broadcast bench buckets and NEVER self-joined (unlike
    corpus dedup there is no corpus x corpus pair generation); the
    signature-agreement count is a JVM ``zip_with`` over two 16-long
    arrays, no Python.
    """
    from .dedup import lsh_buckets, minhash_signatures

    sigs = minhash_signatures(docs, text_col=text_col, id_col=id_col, perms=perms)
    buckets = lsh_buckets(sigs, id_col=id_col)
    bench_keys = bench_ids.select(F.col(id_col)).distinct()
    bench_buckets = (
        buckets.join(F.broadcast(bench_keys), id_col)
        .select(F.col(id_col).alias("bench_id"), "band", "bucket")
    )
    cand = (
        buckets.join(
            F.broadcast(bench_buckets),
            on=["band", "bucket"],
        )
        .filter(F.col(id_col) != F.col("bench_id"))
        .select(F.col(id_col).alias("a"), "bench_id")
        .distinct()
        # training side only: a benchmark doc colliding with another
        # benchmark doc is dedup's business, not decontamination's
        .join(
            F.broadcast(bench_keys.select(F.col(id_col).alias("a"))),
            "a",
            "left_anti",
        )
    )
    sig_a = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.join(F.broadcast(bench_keys), id_col).select(
        F.col(id_col).alias("bench_id"), F.col("sig").alias("sig_b")
    )
    n_match = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, m: acc + m,
    )
    return (
        cand.join(sig_a, "a")
        .join(F.broadcast(sig_b), "bench_id")
        .select(
            "a",
            "bench_id",
            n_match.alias("n_sig_match"),
            (n_match.cast("double") / F.lit(float(perms))).alias("est_jaccard"),
            (n_match >= min_sig_match).alias("contaminated"),
        )
    )
