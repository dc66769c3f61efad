"""Deduplication operators for large-scale training-data pipelines.

All hashing is the engine-agnostic H(s) (md5-prefix bigint) so results are
reproducible anywhere and cross-checkable against a SQL oracle.  Every
operator is expressed shuffle-consciously:

* signatures are PER-ROW higher-order functions (zero shuffle,
  whole-stage codegen) — never explode+groupBy when aggregate() can do it;
* candidate generation (LSH banding) shuffles once on (band, bucket);
* exact verification joins only the candidate pairs, never the cross product.

At 100 TB the only all-pairs work ever materialized is within LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# the single engine-wide definition lives in functions.hashing; re-exported
# here because most dedup/contamination/text callers import it from this
# module — a second body would silently fork the Spark/DuckDB parity contract
from ..functions.hashing import hash60  # noqa: F401
from .repartition import spread_for_compute

MINHASH_P = 2147483647  # 2^31 - 1; h < 2^31 keeps a*h+b within int64
DEFAULT_PERMS = 16
DEFAULT_BAND_ROWS = 4


def word_shingles(text_col, k: int = 3) -> F.Column:
    """k-word shingles as an array<string> (empty-safe)."""
    words = F.split(text_col, " ")
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def shingle_hashes(text_col, k: int = 3) -> F.Column:
    """Distinct shingle hashes reduced mod MINHASH_P — the minhash input."""
    return F.array_distinct(
        F.transform(word_shingles(text_col, k), lambda s: hash60(s) % MINHASH_P)
    )


def minhash_from_hashes(hs_col, perms: int = DEFAULT_PERMS) -> F.Column:
    """array<long> minhash signature over an ALREADY-MATERIALIZED hash array:
    sig[i] = min over shingles of (a_i * h + b_i) mod P, a_i = 2i+3, b_i = 17i+5.

    ``hs_col`` must be a bound column (not an inline expression): higher-order
    functions get no common-subexpression elimination, so referencing the
    shingle-hash tree here ``perms`` times would recompute every md5 per
    permutation (measured 80x slower at sf0.1).  Stage the hashes with one
    ``select`` first — see ``minhash_signatures``.
    """

    # NB: closure factory, not a default-arg lambda — a second lambda param
    # makes pyspark's transform() pass the ARRAY INDEX there, silently
    # shadowing the per-permutation constant.
    def perm_min(a: int, b: int) -> F.Column:
        return F.array_min(
            F.transform(hs_col, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        )

    return F.array(*[perm_min(2 * i + 3, 17 * i + 5) for i in range(perms)])


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; keeper = min id.

    Returns (content_hash, keeper, n_dupes).  One shuffle on the content
    hash (uniform; no skew unless the corpus has a mega-duplicate-class,
    which AQE skew-split absorbs).  The IDENTITY hash is the full 128-bit
    md5 (hex string), not the 60-bit arithmetic hash: dedup DESTROYS the
    non-keeper, so at 10^12 docs the 60-bit space's expected n^2/2^61
    collisions would silently merge distinct documents — at 128 bits the
    expectation is ~1e-15.  (The 60-bit hash stays where collisions are
    part of the algorithm and verified downstream: minhash, LSH banding,
    simhash, winnowing.)"""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper"),
            (F.count("*") - 1).alias("n_dupes"),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    perms: int = DEFAULT_PERMS,
) -> DataFrame:
    """(id, sig array<long>) — per-row, shuffle-free, TWO projections.

    The intermediate ``select`` materializes the shingle-hash array so each
    row's md5 work happens exactly once; Catalyst's CollapseProject leaves the
    split alone because the hash array is a non-cheap expression referenced
    ``perms`` times (collapsing it would duplicate the tree — 80x slower,
    measured at sf0.1).  The md5 walk is the heaviest per-row stage in the
    dedup family, so the input is spread off the scan's row-group
    partitioning first (guide §2.5 — see ``spread_for_compute``)."""
    hs = spread_for_compute(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col), shingle_hashes(F.col(text_col)).alias("__hs")
    )
    return hs.select(
        F.col(id_col), minhash_from_hashes(F.col("__hs"), perms).alias("sig")
    )


def lsh_buckets(
    sigs: DataFrame, id_col: str = "doc_id",
    bands: int = DEFAULT_PERMS // DEFAULT_BAND_ROWS, rows_per_band: int = DEFAULT_BAND_ROWS,
) -> DataFrame:
    """(id, band, bucket): bucket = H(join of the band's signature slice).

    posexplode of a per-row transform — the only shuffle is whatever the
    consumer does with (band, bucket)."""
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: hash60(
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ),
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any (band, bucket).

    Self-join co-partitioned on (band, bucket): Catalyst plans one shuffle per
    side on the join key; bucket sizes are near-duplicate cluster sizes, so
    the join normally never approaches a cross product.

    ``max_bucket_size`` guards the degenerate case (boilerplate-heavy corpora
    put millions of docs in one bucket, and a b-doc bucket emits b^2 pairs):
    buckets larger than the cap are EXCLUDED from pair generation.  The cap is
    never silent — read ``lsh_oversized_buckets(buckets, cap)`` for exactly
    what was dropped and surface it as a run metric (typically
    ``.count()``-ed into the job log or written next to the output).  The
    size count rides the same (band, bucket) hash partitioning the self-join
    needs, so the guard adds no extra shuffle of the big side."""
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("__bsize", F.count("*").over(w))
            .filter(F.col("__bsize") <= max_bucket_size)
            .drop("__bsize")
        )
    left = buckets.select("band", "bucket", F.col(id_col).alias("a"))
    right = buckets.select("band", "bucket", F.col(id_col).alias("b"))
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_incremental_candidate_pairs(
    new_buckets: DataFrame,
    corpus_buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs for an INCREMENT against a standing corpus index.

    Daily-crawl shape: the corpus' (id, band, bucket) table is persisted once
    (it is exactly ``lsh_buckets`` output — append each increment's rows
    after processing); a new batch then only generates pairs INVOLVING a new
    doc: new x corpus plus new x new — never corpus x corpus, which a full
    ``lsh_candidate_pairs`` rerun would recompute every day.  Join cost
    scales with |increment| x bucket occupancy, not |corpus|^2.

    Returns (a, b) with a < b where at least one side is new.  Pass the
    corpus WITHOUT the increment (the increment is unioned in here); the
    ``max_bucket_size`` cap applies to the combined bucket sizes, same
    no-silent-caps contract as ``lsh_candidate_pairs``."""
    combined = corpus_buckets.select(
        "band", "bucket", F.col(id_col)
    ).unionByName(new_buckets.select("band", "bucket", F.col(id_col)))
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        combined = (
            combined.withColumn("__bsize", F.count("*").over(w))
            .filter(F.col("__bsize") <= max_bucket_size)
            .drop("__bsize")
        )
        new_ids = new_buckets.select(F.col(id_col)).distinct()
        new_side = combined.join(new_ids, on=id_col, how="leftsemi")
    else:
        new_side = new_buckets.select("band", "bucket", F.col(id_col))
    left = new_side.select("band", "bucket", F.col(id_col).alias("__n"))
    right = combined.select("band", "bucket", F.col(id_col).alias("__c"))
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("__n") != F.col("__c"))
        .select(
            F.least("__n", "__c").alias("a"),
            F.greatest("__n", "__c").alias("b"),
        )
        .distinct()
    )


def lsh_oversized_buckets(
    buckets: DataFrame, max_bucket_size: int
) -> DataFrame:
    """(band, bucket, size) for every bucket a capped ``lsh_candidate_pairs``
    would drop — the no-silent-caps companion: count or persist this whenever
    the cap is enabled so dropped coverage is visible in run metrics."""
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def _candidate_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """Distinct ids appearing on either side of the candidate pair list —
    the verify stage's working set.  In incremental use
    (``lsh_incremental_candidate_pairs``) this is increment-sized by
    construction (new x corpus candidates), so semi-joining it into the
    text side BEFORE shingling keeps verify cost O(|candidates|), not
    O(|corpus|).

    Deliberately NOT ``distinct()``-ed: the left-semi join dedupes by
    semantics anyway, and an aggregate here would just add a shuffle
    before the broadcast."""
    return pairs.select(F.col("a").alias(id_col)).unionByName(
        pairs.select(F.col("b").alias(id_col))
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact k-gram Jaccard for the given candidate pairs:
    (a, b, n_common, n_union, jaccard).  jaccard is an exact int/int division
    in double — engine-reproducible bit for bit.

    ``df`` is pruned to ids that actually appear in ``pairs`` BEFORE the
    shingle arrays are computed — a BROADCAST left-semi join, so the text
    side is never shuffled for the prune.  Rows outside the candidate set
    can never reach the output (the pair joins are inner); shingling them
    first would make the verify stage scale with the corpus instead of
    with the candidate list.  The broadcast assumes the candidate ID SET
    (at most two ids per pair) fits an executor; bound a corpus-sized pair
    list with ``lsh_candidate_pairs``'s ``max_bucket_size`` first."""
    sets_ = df.join(
        F.broadcast(_candidate_ids(pairs, id_col)), id_col, "leftsemi"
    ).select(
        F.col(id_col).alias("sid"), shingle_hashes(F.col(text_col), k).alias("sh")
    )
    with_a = pairs.join(sets_.withColumnRenamed("sid", "a").withColumnRenamed("sh", "sha"), "a")
    with_b = with_a.join(
        sets_.withColumnRenamed("sid", "b").withColumnRenamed("sh", "shb"), "b"
    )
    # stage the intersection size once — it feeds three output columns, and
    # array_intersect is non-cheap (no CSE across higher-order outputs)
    staged = with_b.select(
        "a",
        "b",
        F.size(F.array_intersect("sha", "shb")).alias("n_common"),
        (F.size("sha") + F.size("shb")).alias("__total"),
    )
    union = F.col("__total") - F.col("n_common")
    return staged.select(
        "a",
        "b",
        "n_common",
        union.alias("n_union"),
        (F.col("n_common").cast("double") / union.cast("double")).alias("jaccard"),
    )


def simhash_from_hashes(hs_col, bits: int = 32) -> F.Column:
    """32-bit SimHash over an ALREADY-MATERIALIZED word-hash array column.

    bit j set iff sum over words of (2*bit_j(H(w)) - 1) > 0.  Like
    ``minhash_from_hashes``, the hash array must be staged in its own
    projection first — it is referenced once per bit and HOFs get no CSE."""

    def bit_term(j: int) -> F.Column:  # closure factory (see minhash_from_hashes)
        vote = F.aggregate(
            hs_col,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        return F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    out = bit_term(0)
    for j in range(1, bits):
        out = out + bit_term(j)
    return out


def simhash(text_col, bits: int = 32) -> F.Column:
    """Single-expression SimHash (ad-hoc / few rows only — recomputes the
    word-hash array once per bit; use ``simhash_signatures`` at scale)."""
    words = F.split(text_col, " ")
    return simhash_from_hashes(F.transform(words, lambda w: hash60(w)), bits)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash) — word hashes staged once per row, then ``bits`` votes."""
    hs = df.select(
        F.col(id_col),
        F.transform(F.split(F.col(text_col), " "), lambda w: hash60(w)).alias("__hs"),
    )
    return hs.select(
        F.col(id_col), simhash_from_hashes(F.col("__hs"), bits).alias("simhash")
    )


def simhash_hamming_pairs(
    sigs: DataFrame,
    max_distance: int = 3,
    bits: int = 32,
    blocks: int = 4,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_block_size: int | None = None,
) -> DataFrame:
    """All pairs (a < b) of fingerprints within Hamming distance
    ``max_distance``, without an all-pairs comparison.

    The Manku/Jain/Sarma trick (WWW 2007, "Detecting near-duplicates for
    web crawling"): split the ``bits``-bit fingerprint into ``blocks``
    contiguous blocks.  Two fingerprints differing in at most ``d`` bits
    can spread those differences over at most ``d`` blocks, so whenever
    ``blocks > d`` the pigeonhole principle guarantees they agree EXACTLY
    on at least one block — candidate generation is an equi-join on
    (block_index, block_value), never a cross product, and recall is 1.0
    by construction (pinned in tests/test_dedup.py).

    Plan shape mirrors ``lsh_candidate_pairs``: one posexplode to
    ``blocks`` rows per doc, one self-join co-partitioned on (block index,
    block value), then the exact ``bit_count(xor)`` verify runs INSIDE the
    join projection (both fingerprints ride the join — no second join back
    to the signature table), and a final distinct collapses pairs that
    agree on several blocks.  ``max_block_size`` is the same degenerate-
    bucket guard as LSH banding (a block value shared by b docs emits b^2
    candidates); oversized blocks are excluded, never silently — count
    them via the returned frame's lineage or a companion aggregation.

    Fingerprints come from ``simhash_signatures`` (word-feature SimHash,
    Charikar STOC 2002); near-duplicate docs flip few votes, so their
    fingerprints sit within a small Hamming ball.
    """
    if bits % blocks:
        raise ValueError(f"blocks={blocks} must divide bits={bits}")
    if blocks <= max_distance:
        raise ValueError(
            f"blocks={blocks} must exceed max_distance={max_distance} "
            "(pigeonhole recall guarantee)"
        )
    width = bits // blocks
    mask = (1 << width) - 1
    block_vals = F.array(
        *[
            F.shiftright(F.col(sig_col), j * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for j in range(blocks)
        ]
    )
    exploded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.posexplode(block_vals).alias("block_idx", "block_val"),
    )
    if max_block_size is not None:
        w = Window.partitionBy("block_idx", "block_val")
        exploded = (
            exploded.withColumn("__bsize", F.count("*").over(w))
            .filter(F.col("__bsize") <= max_block_size)
            .drop("__bsize")
        )
    left = exploded.select(
        "block_idx", "block_val",
        F.col(id_col).alias("a"), F.col(sig_col).alias("__sa"),
    )
    right = exploded.select(
        "block_idx", "block_val",
        F.col(id_col).alias("b"), F.col(sig_col).alias("__sb"),
    )
    return (
        left.join(right, on=["block_idx", "block_val"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, hs array<long>) — the distinct shingle-hash sets, computed once.

    This is the shared input of minhash, LSH banding, and exact Jaccard
    verification; at warehouse scale WRITE this frame to a table and branch.
    Spread before the md5 walk — guide §2.5 (see ``spread_for_compute``)."""
    return spread_for_compute(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), shingle_hashes(F.col(text_col), k).alias("hs"))


def near_dup_pipeline(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    perms: int = DEFAULT_PERMS, persist: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup detection with a SHARED scan:

        shingle sets  (persisted: feeds both banding and verification)
          -> minhash signatures -> LSH buckets  (persisted: self-joined)
          -> candidate pairs -> exact k-gram Jaccard verify

    Without the persists every branch recomputes the md5 shingle work —
    buckets twice (self-join) and shingles twice more (verify join): measured
    ~2x end-to-end at sf0.1, and strictly worse at scale.  Returns
    (a, b, n_common, n_union, jaccard).

    ``max_bucket_size`` caps degenerate LSH buckets (see
    ``lsh_candidate_pairs``); when set, also count
    ``lsh_oversized_buckets(buckets, cap)`` into run metrics — never cap
    silently."""
    sets_ = shingle_sets(df, text_col, id_col)
    if persist:
        sets_ = sets_.persist()
    sigs = sets_.select(
        F.col(id_col), minhash_from_hashes(F.col("hs"), perms).alias("sig")
    )
    buckets = lsh_buckets(sigs, id_col)
    if persist:
        buckets = buckets.persist()
    pairs = lsh_candidate_pairs(buckets, id_col, max_bucket_size=max_bucket_size)
    with_a = pairs.join(
        sets_.select(F.col(id_col).alias("a"), F.col("hs").alias("sha")), "a"
    )
    with_b = with_a.join(
        sets_.select(F.col(id_col).alias("b"), F.col("hs").alias("shb")), "b"
    )
    staged = with_b.select(
        "a", "b",
        F.size(F.array_intersect("sha", "shb")).alias("n_common"),
        (F.size("sha") + F.size("shb")).alias("__total"),
    )
    union = F.col("__total") - F.col("n_common")
    return staged.select(
        "a", "b", "n_common", union.alias("n_union"),
        (F.col("n_common").cast("double") / union.cast("double")).alias("jaccard"),
    )


def ngram_containment(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", k: int = 3,
) -> DataFrame:
    """Asymmetric containment for the given candidate pairs:
    ``containment(a in b) = |A ∩ B| / |A|`` — catches a document EMBEDDED
    inside a larger one (boilerplate wrapper, quote-with-commentary), which
    symmetric Jaccard under-scores as the size ratio grows.  Returns
    (a, b, n_common, containment_a_in_b, containment_b_in_a); exact int/int
    division in double, engine-reproducible bit for bit.  Joins only the
    candidate pairs, never the cross product; like ``ngram_jaccard`` the
    text side is candidate-pruned before shingling (same broadcast
    left-semi join)."""
    sets_ = df.join(
        F.broadcast(_candidate_ids(pairs, id_col)), id_col, "leftsemi"
    ).select(
        F.col(id_col).alias("sid"), shingle_hashes(F.col(text_col), k).alias("sh")
    )
    with_a = pairs.join(
        sets_.select(F.col("sid").alias("a"), F.col("sh").alias("sha")), "a"
    )
    with_b = with_a.join(
        sets_.select(F.col("sid").alias("b"), F.col("sh").alias("shb")), "b"
    )
    staged = with_b.select(
        "a", "b",
        F.size(F.array_intersect("sha", "shb")).alias("n_common"),
        F.size("sha").alias("__na"),
        F.size("shb").alias("__nb"),
    )
    return staged.select(
        "a", "b", "n_common",
        (F.col("n_common").cast("double") / F.col("__na").cast("double")).alias(
            "containment_a_in_b"
        ),
        (F.col("n_common").cast("double") / F.col("__nb").cast("double")).alias(
            "containment_b_in_a"
        ),
    )


def connected_components(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iters: int = 20
) -> DataFrame:
    """(node, component) for every node appearing in the pair list, where
    ``component`` is the minimum node id of its connected component.

    The scale-safe alternating large-star/small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    method, independent implementation).  Each round is two groupBy-min +
    join passes over the EDGE list only (never the corpus); the edge set
    contracts toward a star around each component's minimum in O(log n)
    rounds, so even pathological duplicate chains (the A~B~C, A~/~C shape
    greedy pairwise dropping mishandles) converge in a handful of shuffles.
    ``localCheckpoint`` truncates the iterative lineage each round (the
    MLlib-style pattern); convergence is detected by an order-insensitive
    edge-set fingerprint, bounded by ``max_iters``.
    """
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # for each node: point every LARGER neighbor at min(self, neighbors)
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient toward smaller ids; point node + its smaller nbrs at the min
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = edges.localCheckpoint()
    prev = fingerprint(e)
    converged = False
    for _ in range(max_iters):
        e = small_star(large_star(e)).localCheckpoint()
        fp = fingerprint(e)
        if fp == prev:
            converged = True
            break
        prev = fp
    if not converged:
        # one extra idempotence pass instead of trusting the fingerprint:
        # a converged star is a fixed point of the round, so if one more
        # round changes nothing we KNOW the labels are final — otherwise
        # the graph genuinely needed more rounds and silently returning
        # partial components would corrupt downstream keep/drop decisions.
        extra = small_star(large_star(e)).localCheckpoint()
        if fingerprint(extra) != prev:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iters} large-star/small-star rounds; raise max_iters "
                f"(O(log n) rounds suffice for n nodes)"
            )
        e = extra
    # converged star: every edge is (member, component-min)
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    reps = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return members.union(reps).distinct()


def paragraph_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """(doc_id, pos, chunk, h): the document split into paragraph units.

    Real corpora split on newlines (CCNet's line-level dedup); the engine's
    synthetic tables are single-line, so the unit here is a fixed
    ``chunk_words``-word window — the paragraph boundary is a parameter of
    the tokenizer, not of the dedup algebra, which only ever sees
    (doc, pos, hash)."""
    ws = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(ws, i * chunk_words + 1, chunk_words), " "
        ),
    )
    # identity hash (chunks are DROPPED by it): full md5 — see exact_dedup
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    ).withColumn("h", F.md5(F.col("chunk")))


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """CCNet-style paragraph-level dedup: every repeated paragraph keeps
    only its FIRST global occurrence (min (doc_id, pos)); documents are
    reassembled from their surviving paragraphs in order.

    (doc_id, text, n_kept, n_total): docs whose every paragraph was seen
    earlier elsewhere come back with empty text (n_kept = 0) — the caller
    decides the drop threshold; nothing is silently removed.  One shuffle
    on the paragraph hash + one on doc_id for reassembly."""
    chunks = paragraph_chunks(df, text_col, id_col, chunk_words)
    firsts = chunks.groupBy("h").agg(
        F.min(F.struct(id_col, "pos")).alias("first")
    )
    kept = chunks.join(firsts, "h").withColumn(
        "__keep",
        (F.col(id_col) == F.col(f"first.{id_col}"))
        & (F.col("pos") == F.col("first.pos")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"), F.struct("pos", "chunk")
                            )
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias(text_col),
            F.sum(F.col("__keep").cast("int")).alias("n_kept"),
            F.count("*").alias("n_total"),
        )
    )


def duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-passage detection: maximal runs of >= ``k``
    consecutive tokens that appear verbatim in >= ``min_docs`` distinct
    documents (the substring-level dedup step of modern pre-training
    pipelines — Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022; suffix-array semantics approximated by
    k-token rolling windows, which find exactly the duplicated runs of
    length >= k).

    Returns (doc_id, start_pos, end_pos, n_windows): 1-based inclusive
    token positions (over the doc's NONEMPTY tokens) of each maximal
    duplicated run, with the count of duplicated k-windows it merges.
    Callers cut or drop the flagged ranges.

    Spark shape for 10^12 docs: the k-window table is |tokens| rows —
    the honest cost of substring-level dedup (a suffix array is corpus-
    sized too) — but it is never collected or joined all-pairs:
    one partial-aggregated groupBy on the window hash finds duplicated
    windows (boilerplate hashes hitting millions of docs collapse
    map-side), one broadcast-or-shuffle LEFT SEMI join marks the
    duplicated starts, and two doc-partitioned window passes merge
    overlapping windows (gap <= k) into maximal runs.  Everything is
    integer/hash arithmetic — bit-reproducible at any partitioning, and
    the SQL oracle replays it verbatim."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    n = F.size(ws)
    starts = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(ws, i, k), " "),
    )
    shingles = (
        df.filter(n >= k)
        .select(F.col(id_col), F.posexplode(starts).alias("idx0", "shingle"))
        .select(
            id_col,
            (F.col("idx0") + 1).cast("long").alias("pos"),
            # identity hash (flagged runs get CUT): full md5 — at ~1e15
            # windows the 60-bit space would false-flag ~1e11 runs
            F.md5(F.col("shingle")).alias("h"),
        )
    )
    dup_h = (
        shingles.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    marks = shingles.join(dup_h, "h", "left_semi").select(id_col, "pos")
    w_order = Window.partitionBy(id_col).orderBy("pos")
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gapped = marks.withColumn(
        "__brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w_order) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("__grp", F.sum("__brk").over(w_run))
    return (
        gapped.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            (F.max("pos") + (k - 1)).cast("long").alias("end_pos"),
            F.count("*").alias("n_windows"),
        )
        .drop("__grp")
    )


def cut_duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Apply ``duplicate_passages``: rewrite every document with its
    flagged token ranges removed (the cut step of substring-level dedup —
    every duplicated occurrence is dropped; keep-one policies compose by
    exempting chosen (doc, range) rows upstream).

    (doc_id, text, n_kept, n_removed): surviving tokens rejoined in
    order, with honest counts — a wholly-duplicated doc comes back with
    empty text and n_kept = 0, never silently vanishing (same contract
    as ``paragraph_dedup``).

    Spark shape: the flagged ranges are |runs| rows (tiny next to the
    corpus); expanding them to positions costs sum-of-run-lengths rows;
    one LEFT ANTI join on (doc, pos) drops cut tokens and one doc-keyed
    groupBy reassembles — the corpus-sized table is shuffled twice
    (join + reassembly), never collected."""
    runs = duplicate_passages(df, text_col, id_col, k, min_docs)
    cut_pos = runs.select(
        id_col,
        F.explode(
            F.sequence(F.col("start_pos"), F.col("end_pos"))
        ).alias("pos"),
    )
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    toks = df.select(
        F.col(id_col), F.posexplode(ws).alias("idx0", "word")
    ).select(id_col, (F.col("idx0") + 1).cast("long").alias("pos"), "word")
    kept = toks.join(cut_pos, [id_col, "pos"], "left_anti")
    totals = df.select(F.col(id_col), F.size(ws).cast("long").alias("__n"))
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias(text_col),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__n") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    window: int = 8,
    pos_budget: int = 1 << 20,
) -> DataFrame:
    """Positional winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003
    — public method, independent implementation): (doc_id, pos, fp), the
    rightmost-minimum shingle hash of every ``window`` consecutive k-gram
    hashes, deduplicated.  Unlike global bottom-k/minhash
    signatures, winnowing guarantees a fingerprint inside EVERY window-length
    region, so two docs sharing any sufficiently long passage share a
    fingerprint at a known position — the partial-overlap primitive
    (``duplicate_passages`` finds exact runs; winnowing survives edits
    between the shared regions).

    Engine-reproducible rightmost-argmin without struct aggregates: each
    position packs into one int64 key = h * pos_budget + (pos_budget - 1 -
    pos), so a plain windowed MIN picks the smallest hash and, among ties,
    the LARGEST position — decode back to (pos, fp).  Requires pos <
    ``pos_budget`` (default 2^20, a ~1M-word single document) and the job
    FAILS — never silently aliases positions — on a bigger doc; span-chunk
    upstream, which the interleaved corpus layout already guarantees.

    Scale shape: one posexplode + one per-doc window (single hash shuffle
    on ``id_col``), then a distinct partial-agg'd on the same key — no
    joins, no Python.  Windows are full-length only, except that a doc
    shorter than ``window`` keeps its first window so every non-empty doc
    fingerprints."""
    n_sh = F.size(word_shingles(F.col(text_col), shingle_k))
    # the int64 pack needs pos < pos_budget: a doc that big must FAIL the
    # job (assert_true evaluates per doc row, not per position), never
    # silently alias fingerprints across positions
    n_checked = F.when(
        F.assert_true(
            n_sh < F.lit(pos_budget),
            F.concat(
                F.lit("winnowing_fingerprints: doc "),
                F.col(id_col).cast("string"),
                F.lit(f" exceeds the {pos_budget}-shingle position budget;"
                      " chunk it upstream"),
            ),
        ).isNull(),
        n_sh,
    )
    pos_h = df.select(
        F.col(id_col),
        n_checked.alias("__n"),
        F.posexplode(
            F.transform(
                word_shingles(F.col(text_col), shingle_k),
                lambda s: hash60(s) % MINHASH_P,
            )
        ).alias("pos", "h"),
    )
    key = (F.col("h") * F.lit(pos_budget)) + (
        F.lit(pos_budget - 1) - F.col("pos")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    picked = (
        pos_h.withColumn("__key", F.min(key).over(w))
        # full windows only (plus the lone short window of a tiny doc)
        .filter(
            (F.col("pos") <= F.col("__n") - F.lit(window))
            | ((F.col("pos") == 0) & (F.col("__n") < F.lit(window)))
        )
        .select(
            F.col(id_col),
            (F.lit(pos_budget - 1) - F.pmod("__key", F.lit(pos_budget))).alias(
                "pos"
            ),
            F.expr(f"__key div {pos_budget}").alias("fp"),
        )
        .distinct()
    )
    return picked


def winnowing_overlap_pairs(
    fps: DataFrame, id_col: str = "doc_id", min_shared: int = 3,
    max_fp_docs: int | None = None,
) -> DataFrame:
    """(a, b, n_shared) for doc pairs sharing >= ``min_shared`` winnowing
    fingerprints — the MOSS-style partial-overlap report over
    ``winnowing_fingerprints`` output.  Self-join co-partitioned on the
    fingerprint value; ``max_fp_docs`` caps degenerate boilerplate
    fingerprints exactly like the LSH giant-bucket guard (capped
    fingerprints are EXCLUDED from pair generation, never silently — count
    them via the same windowed-size pattern upstream if auditing)."""
    distinct_fp = fps.select(id_col, "fp").distinct()
    if max_fp_docs is not None:
        wfp = Window.partitionBy("fp")
        distinct_fp = (
            distinct_fp.withColumn("__nd", F.count("*").over(wfp))
            .filter(F.col("__nd") <= max_fp_docs)
            .drop("__nd")
        )
    left = distinct_fp.select(F.col(id_col).alias("a"), "fp")
    right = distinct_fp.select(F.col(id_col).alias("b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def keep_best_per_component(
    docs: DataFrame,
    components: DataFrame,
    score_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """(component, kept_doc, kept_score, n_members): quality-aware
    survivor selection — within each near-dup component keep the member
    with the HIGHEST score (ties broken on the smaller id), not the
    arbitrary first occurrence.  Dropping the lower-quality copy of a
    near-dup pair is the curation policy of the CCNet/Gopher-style
    pipelines; first-occurrence keep (``paragraph_dedup`` semantics) is
    the right choice only when order IS the policy.

    ``score_col`` must be an exact (integer/decimal) expression so the
    argmax is engine-reproducible — float scores tie-break differently
    across engines.  Shape: one join of the component table (cluster
    members only, never the corpus) back to the docs, one window over
    ``component`` — bounded by duplicate-cluster sizes, which the LSH
    giant-bucket caps already bound upstream.  At 100 TB both sides of
    the join are component-member-sized; the corpus itself is touched
    only by the upstream score projection."""
    scored = docs.select(F.col(id_col), score_col.alias("__score"))
    members = components.join(
        scored, components.node == scored[id_col], "inner"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col("node").asc()
    )
    return (
        members.withColumn("__rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("__rk") == 1, F.col("node"))).alias("kept_doc"),
            F.max(F.when(F.col("__rk") == 1, F.col("__score"))).alias(
                "kept_score"
            ),
            F.count("*").cast("long").alias("n_members"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """(doc_id, cluster_rep, split): deterministic train/val/test split
    that can NEVER leak a near-duplicate across splits — every document
    is assigned by the hash of its duplicate-cluster REPRESENTATIVE
    (component minimum), so all members of a cluster land in the same
    split; singleton docs hash their own id, making this a strict
    refinement of ``deterministic_split`` (identical assignment for every
    unclustered doc, same 'split:' salt and 90/5/5 slots).

    Eval-set contamination via near-dups is exactly the leak Lee et al.
    (ACL 2022) measure; splitting by cluster representative is the
    standard guard.  Shape: one LEFT join of the (cluster members only)
    component table onto the corpus — at 100 TB the component table is
    small relative to the corpus and broadcast-eligible, and the split
    assignment itself is a map-side hash, no shuffle."""
    if not (0 < train_pct and 0 < val_pct and train_pct + val_pct < 100):
        raise ValueError(
            f"bad split percentages: train={train_pct} val={val_pct}"
        )
    comp = components.select(
        F.col("node"), F.col("component").alias("__comp")
    )
    joined = docs.select(F.col(id_col)).join(
        comp, docs[id_col] == comp.node, "left"
    )
    rep = F.coalesce(F.col("__comp"), F.col(id_col))
    slot = hash60(F.concat(F.lit("split:"), rep.cast("string"))) % 100
    return joined.select(
        F.col(id_col),
        rep.alias("cluster_rep"),
        F.when(slot < train_pct, "train")
        .when(slot < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )
