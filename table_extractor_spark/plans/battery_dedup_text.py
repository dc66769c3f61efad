"""C1. Training-data pipeline queries: dedup, similarity, packing.

Only the queries the test suite checks by name stay registered here.
Same engine-parity rules as every other registered query (see the
plans/queries.py module docstring); the @register calls execute when
plans/queries.py imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .registry import DUCK_HASH, register

# ===========================================================================
# C. training-data pipeline operators (dedup / similarity / text analysis)
# ===========================================================================

from ..functions import text as T  # noqa: E402
from ..operators import dedup as D  # noqa: E402
from ..operators import similarity as S  # noqa: E402

# DuckDB fragments shared with the headline dedup/cosine queries
from .battery_headline import _DUCK_COS, _DUCK_SIGS_CTE  # noqa: E402


@register(
    "minhash_signatures",
    oracle=_DUCK_SIGS_CTE + """
SELECT doc_id,
       array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), ',')
         AS sig
FROM sigs
""",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(load_table(spark, sf_dir, "documents"))
    # serialized so the driver canonicalizer can hash it (arrays are
    # unhashable in its pandas path); the raw array form stays pytest-pinned
    return sigs.withColumn("sig", F.array_join(F.col("sig").cast("array<string>"), ","))


@register(
    "lsh_buckets",
    oracle=_DUCK_SIGS_CTE + "SELECT doc_id, band, bucket FROM buckets",
)
def lsh_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(load_table(spark, sf_dir, "documents"))
    return D.lsh_buckets(sigs)


@register(
    "lsh_candidate_pairs",
    oracle=_DUCK_SIGS_CTE + """
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM buckets l JOIN buckets r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
""",
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(load_table(spark, sf_dir, "documents"))
    return D.lsh_candidate_pairs(D.lsh_buckets(sigs))


# Recursive-CTE rendering of the verified near-dup component table,
# ending in `comp(node, component)` — the graph `leakage_safe_split`
# assigns splits by.
_DUCK_COMPONENTS_WITH = _DUCK_SIGS_CTE.replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """
, pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
), verified AS (
  SELECT p.a, p.b
  FROM pairs p JOIN h ha ON p.a = ha.doc_id JOIN h hb ON p.b = hb.doc_id
  WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
        / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
        >= 0.8
), edges AS (
  SELECT a AS u, b AS v FROM verified
  UNION SELECT b, a FROM verified
), walk AS (
  SELECT u, v FROM edges
  UNION
  SELECT wk.u, e.v FROM walk wk JOIN edges e ON wk.v = e.u
  WHERE e.v <> wk.u
), comp AS (
  SELECT u AS node, least(u, min(v)) AS component FROM walk GROUP BY u
)
"""


_DUCK_SIMHASH_TERMS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(32)
)


@register(
    "dedup_simhash",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id < 100),
h AS (SELECT doc_id, list_transform(
        w, x -> ('0x' || substr(md5(x), 1, 15))::bigint) AS hs FROM w)
SELECT doc_id, {_DUCK_SIMHASH_TERMS} AS simhash FROM h
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.simhash_signatures(docs)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id < 200),
h AS (SELECT doc_id, list_transform(
        w, x -> ('0x' || substr(md5(x), 1, 15))::bigint) AS hs FROM w),
s AS (SELECT doc_id, {_DUCK_SIMHASH_TERMS} AS simhash FROM h),
blk AS (
  SELECT doc_id, simhash, t.j AS bj,
         (simhash >> (t.j * 8)) & 255 AS bv
  FROM s, generate_series(0, 3) t(j)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         l.simhash AS sa, r.simhash AS sb
  FROM blk l JOIN blk r
    ON l.bj = r.bj AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
""",
)
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball near-dup pairs over 32-bit SimHash fingerprints
    (operators/dedup ``simhash_hamming_pairs``; Manku et al. WWW 2007):
    4 contiguous 8-bit blocks index each fingerprint, distance<=3 pairs
    must share a block by pigeonhole, so candidate generation is one
    equi-join on (block, value) with recall 1.0 — the sketch-indexed
    complement to the shingle-set LSH family, one 64-bit word per doc
    instead of a signature array.  The oracle replays fingerprints,
    block arithmetic, and the bit_count(xor) verify."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return D.simhash_hamming_pairs(D.simhash_signatures(docs))


# shared winnowing CTE: positional 3-gram hashes -> packed rightmost-argmin
# window MIN -> decoded (doc_id, pos, fp), full windows only (w=8).  The
# int64 packing (h * 2^20 + (2^20-1-pos)) is the same construct the Spark
# operator uses, so both engines run ONE plain windowed MIN — no struct
# aggregates, no list lambdas on the comparison path.
_DUCK_WINNOW_CTE = """
WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ph0 AS (
  SELECT doc_id, len(w) - 2 AS n, w,
         unnest(generate_series(1, len(w) - 2)) AS i
  FROM wd
),
ph AS (
  SELECT doc_id, n, i - 1 AS pos,
         (('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::bigint
          % 2147483647) AS h
  FROM ph0
),
keyed AS (
  SELECT doc_id, n, pos,
         MIN(h * 1048576 + (1048575 - pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS k
  FROM ph
),
sel AS (
  SELECT DISTINCT doc_id,
         CAST(1048575 - (k % 1048576) AS BIGINT) AS pos,
         CAST(k // 1048576 AS BIGINT) AS fp
  FROM keyed
  WHERE pos <= n - 8 OR (pos = 0 AND n < 8)
)
"""


@register(
    "winnowing_fingerprints",
    oracle=_DUCK_WINNOW_CTE + "SELECT doc_id, pos, fp FROM sel",
)
def winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional winnowing fingerprints (operators/dedup
    ``winnowing_fingerprints``, Schleimer et al. SIGMOD 2003): the
    guaranteed-coverage local fingerprint — every 8-shingle window of every
    doc contributes its rightmost-min hash, so shared passages share
    fingerprints at known positions.  One posexplode + one per-doc window
    shuffle + a distinct; no joins, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnowing_fingerprints(docs)


@register(
    "winnowing_overlap_pairs",
    oracle=_DUCK_WINNOW_CTE + """
, fpp AS (SELECT DISTINCT doc_id, fp FROM sel)
SELECT l.doc_id AS a, r.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fpp l JOIN fpp r ON l.fp = r.fp AND l.doc_id < r.doc_id
GROUP BY l.doc_id, r.doc_id
HAVING COUNT(*) >= 3
""",
)
def winnowing_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style partial-overlap report: doc pairs sharing >= 3 winnowing
    fingerprints (operators/dedup ``winnowing_overlap_pairs``).  The
    self-join co-partitions on the fingerprint value — pair volume is
    bounded by fingerprint bucket sizes, with the ``max_fp_docs`` guard
    available for boilerplate-degenerate corpora (unused here: the
    synthetic corpus has no mega-buckets)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnowing_overlap_pairs(D.winnowing_fingerprints(docs))


@register(
    "ann_filtered_topk",
    oracle=f"""
WITH fv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings WHERE label = 1),
q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {_DUCK_COS} AS cos_sim
  FROM q, fv v WHERE q.vec_id <> v.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM sims
) WHERE rank <= 3
""",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — the production ANN shape ("top-k
    among label=1 only"): the predicate is applied to the corpus BEFORE
    the similarity computation, i.e. pre-filtering.  The ordering is the
    whole point: post-filtering (top-k first, then drop non-matching
    neighbors) silently returns FEWER than k results whenever the true
    neighbors are mostly outside the filter — the classic filtered-ANN
    recall bug.  Pre-filtering keeps exactness at any selectivity, and in
    Spark it is free: the label predicate pushes into the parquet scan
    (PushedFilters, pinned), so at 10^12 vectors the filter prunes row
    groups BEFORE a single dot product; the filtered corpus then flows
    through the same broadcast-queries brute-force kernel as
    embedding_cosine_topk.  The IVF analogue (filter inside each probed
    list) composes the same way over ann_ivf_probed."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") == 1)
    return S.brute_force_topk(corpus, emb.filter(F.col("vec_id") < 10), k=3)


# near-dup candidate generation parameters (shared Spark <-> DuckDB)
NDUP_PLANES = 4
NDUP_TABLES = 8
# test embeddings have weak neighbor structure (max pairwise cos ~0.51 at
# sf0.01), so the "near-dup" bar sits where a few hundred pairs survive —
# the verify join and threshold logic get exercised, not vacuously satisfied
NDUP_THRESHOLD = 0.3


def _duck_ndup_bucket() -> str:
    """DuckDB replica of operators.similarity.sign_lsh_bucket over the
    1000x-quantized vector ``q`` (integer-valued doubles -> exact sums, so
    the sign bit can never disagree between engines on summation order)."""
    terms = []
    for p in range(NDUP_PLANES):
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, len(q)), "
            f"j -> q[j] * (CASE WHEN ((1 + (2*{p}+3+17*t.t)*(j+6)) % 13) - 6 >= 0 "
            f"THEN 1.0 ELSE -1.0 END))) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


_DUCK_NDUP_COS = """
round(
  list_sum(list_transform(generate_series(1, len(va.e)), i -> va.e[i] * vb.e[i]))
  / (sqrt(list_sum(list_transform(va.e, x -> x * x)))
     * sqrt(list_sum(list_transform(vb.e, x -> x * x)))), 6)
"""


_DUCK_NDUP_CTE = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
qv AS (SELECT vec_id, e, list_transform(e, x -> round(x * 1000)) AS q FROM v),
b AS (SELECT vec_id, t.t AS tbl, {{bucket}} AS bucket
      FROM qv, generate_series(0, {NDUP_TABLES - 1}) t(t)),
pairs AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
                   AND l.vec_id < r.vec_id
),
sims AS (
  SELECT p.a, p.b, {_DUCK_NDUP_COS} AS cos_sim
  FROM pairs p JOIN v va ON p.a = va.vec_id JOIN v vb ON p.b = vb.vec_id
)
""".replace("{bucket}", _duck_ndup_bucket())


@register(
    "embedding_near_dup_pairs",
    oracle=_DUCK_NDUP_CTE
    + f"SELECT a, b, cos_sim FROM sims WHERE cos_sim >= {NDUP_THRESHOLD}",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs, scale-safe: candidates come from a
    multi-table sign-LSH bucket equi-join (one shuffle on (table, bucket)),
    then ONE exact cosine per deduped candidate pair with a threshold — never
    an all-pairs self-join, so the plan grows with bucket occupancy instead
    of quadratically in corpus size.  The LSH buckets are computed on a
    1000x-quantized copy of the vector: projections are then sums of
    integer-valued doubles (exact in IEEE754 whatever the summation order),
    which makes the bucket ids engine-reproducible bit-for-bit — the DuckDB
    oracle replays the identical hyperplane arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", S.as_double(F.col("embedding")).alias("e"))
    # stage the quantized copy in its own projection: sign_lsh_bucket
    # references its input once per plane and higher-order fns get no CSE
    qv = v.select(
        "vec_id", "e", F.transform("e", lambda x: F.round(x * 1000)).alias("q")
    )
    bucket_arr = F.array(
        *[
            S.sign_lsh_bucket(F.col("q"), NDUP_PLANES, table=t)
            for t in range(NDUP_TABLES)
        ]
    )
    b = qv.select("vec_id", bucket_arr.alias("buckets")).select(
        "vec_id", F.posexplode("buckets").alias("tbl", "bucket")
    )
    pairs = (
        b.select(F.col("vec_id").alias("a"), "tbl", "bucket")
        .join(b.select(F.col("vec_id").alias("b"), "tbl", "bucket"),
              ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    side = v.select("vec_id", "e", S.norm(F.col("e")).alias("n"))
    return (
        pairs.join(
            side.select(F.col("vec_id").alias("a"), F.col("e").alias("ea"),
                        F.col("n").alias("na")), "a")
        .join(
            side.select(F.col("vec_id").alias("b"), F.col("e").alias("eb"),
                        F.col("n").alias("nb")), "b")
        .select(
            "a", "b",
            F.round(
                S.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NDUP_THRESHOLD)
    )


@register(
    "lang_id",
    oracle="""
SELECT doc_id,
       CASE WHEN CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> list_contains(['the','a','of','and','to','in'], x)))
                 AS DOUBLE) / len(string_split(lower(text), ' ')) > 0.05
            THEN 'en' ELSE 'und' END AS lang_guess,
       lang AS lang_label
FROM documents
""",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.with_lang_id(docs).select(
        "doc_id", "lang_guess", F.col("lang").alias("lang_label")
    )


# Integer-sum outputs are CAST to BIGINT (here: n_kept).  DuckDB promotes
# integer SUM to HUGEINT (int128), and a pandas/Arrow fetch renders that as
# float64/decimal128 ('3' -> '3.0'), so an uncast integer-sum output column
# hash-mismatches at a driver that fetches via pandas while fetchall()-based
# checks still match.  Enforced registry-wide by
# test_registry_contract.test_no_hugeint_oracle_outputs.
# The SQL below otherwise stays version-robust: zipped unnest +
# generate_series words, GROUP BY (ord-1)/10 chunking with
# string_agg(... ORDER BY ord), ROW_NUMBER first-occurrence ordered
# (doc_id, pos) — the exact lexicographic struct-min the Spark side uses —
# and string_agg(... ORDER BY pos) FILTER reassembly.
_PARA_DEDUP_ORACLE = f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
words AS (
  SELECT doc_id,
         unnest(w) AS word,
         unnest(generate_series(1, len(w))) AS ord
  FROM ws
), chunks AS (
  SELECT doc_id,
         CAST(floor((ord - 1) / 10.0) AS INT) AS pos,
         string_agg(word, ' ' ORDER BY ord) AS chunk
  FROM words GROUP BY doc_id, CAST(floor((ord - 1) / 10.0) AS INT)
), hh AS (
  SELECT doc_id, pos, chunk, md5(chunk) AS h FROM chunks
), rk AS (
  SELECT doc_id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM hh
)
SELECT doc_id,
       COALESCE(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
                '') AS text,
       CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_kept,
       COUNT(*) AS n_total
FROM rk GROUP BY doc_id
"""


@register("paragraph_dedup", oracle=_PARA_DEDUP_ORACLE)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup (operators/dedup.paragraph_dedup):
    a repeated paragraph survives only at its FIRST global occurrence
    (min (doc_id, pos)); docs are reassembled from survivors in order,
    with per-doc kept/total counts so nothing drops silently.  One shuffle
    on the paragraph hash + one on doc_id for reassembly; the 'paragraph'
    unit here is a 10-word window (the synthetic corpus is single-line;
    real corpora pass a newline splitter)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.paragraph_dedup(docs)


DUP_PASSAGE_K = 20


def _duck_passage_runs() -> str:
    """Shared WITH-clause for the duplicate-passage family: tokens,
    k-window hashes, cross-doc duplicated hashes, gaps-and-islands
    maximal runs."""
    k = DUP_PASSAGE_K
    return f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
words0 AS (
  SELECT doc_id, unnest(w) AS word,
         unnest(generate_series(1, len(w))) AS ord
  FROM ws
),
toks AS (
  SELECT doc_id, word,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) AS pos
  FROM words0 WHERE word <> ''
),
sh AS (
  SELECT doc_id, pos,
         string_agg(word, ' ') OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {k - 1} FOLLOWING
         ) AS shingle,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM toks
),
shv AS (
  SELECT doc_id, pos, md5(shingle) AS h
  FROM sh WHERE pos <= n - {k - 1}
),
dup AS (SELECT h FROM shv GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
marks AS (SELECT doc_id, pos FROM shv WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k}
              THEN 0 ELSE 1 END AS brk
  FROM marks
),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
),
runs AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
         CAST(MAX(pos) + {k - 1} AS BIGINT) AS end_pos,
         COUNT(*) AS n_windows
  FROM grp GROUP BY doc_id, g
)"""


@register(
    "duplicate_passages",
    oracle=_duck_passage_runs()
    + "\nSELECT doc_id, start_pos, end_pos, n_windows FROM runs",
)
def duplicate_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (operators/dedup.duplicate_passages —
    Lee et al. ACL 2022 semantics via k-token rolling windows): every
    maximal run of >= k consecutive tokens shared verbatim by >= 2
    documents, as 1-based inclusive token ranges.  The window-hash
    groupBy partial-aggregates map-side (boilerplate passages hitting
    millions of docs collapse before the shuffle), the semi join marks
    only duplicated starts, and the gaps-and-islands merge replays
    identically in the oracle's LAG/SUM windows — integer/hash exact
    end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_passages(docs, k=DUP_PASSAGE_K, min_docs=2)


@register(
    "cut_duplicate_passages",
    oracle=_duck_passage_runs()
    + """,
cutpos AS (
  SELECT doc_id, unnest(generate_series(start_pos, end_pos)) AS pos
  FROM runs
),
keptw AS (
  SELECT t.doc_id, t.pos, t.word
  FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM cutpos c
                    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
),
agg AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM keptw GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.text, '') AS text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(t.n, 0) - COALESCE(a.n_kept, 0) AS BIGINT)
         AS n_removed
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
)
def cut_duplicate_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut applied (operators/dedup.cut_duplicate_passages): every
    flagged range removed from every document, surviving tokens rejoined
    in order with honest kept/removed counts — a wholly-duplicated doc
    returns empty text rather than vanishing.  The oracle extends the
    runs replay with a NOT EXISTS anti-join on expanded cut positions
    and an ordered string_agg reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cut_duplicate_passages(docs, k=DUP_PASSAGE_K, min_docs=2)


@register(
    "chunk_documents",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
  FROM documents
), c AS (
  SELECT doc_id, w, n,
         unnest(generate_series(0,
             CAST((greatest(n - 64, 0) + 47) // 48 AS INT))) AS i
  FROM t
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * 48 AS BIGINT) AS start_token,
       CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' '))
         AS chunk_hash
FROM c
""",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/packing.chunk_documents): long
    documents split into 64-token windows every 48 tokens (16-token
    overlap) — the long-context training-prep step that SPLITS docs,
    complementing sequence_packing which CONCATENATES them.  Chunk
    boundaries are per-row integer arithmetic over the token array
    (sequence -> transform -> explode, all JVM): ZERO shuffles at any
    corpus size, deterministic under any partitioning, chunk payloads
    md5-compacted at the query surface per the probe-battery rule."""
    from ..operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, seq_len=64, stride=48)


_SHARD_ASSEMBLY_ORACLE = f"""
WITH s AS (
  SELECT doc_id, text,
         {DUCK_HASH.format("CAST(doc_id AS VARCHAR)")} % 32 AS shard,
         {DUCK_HASH.format("CAST(doc_id AS VARCHAR)")} AS h,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, text, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_offset
  FROM s
)
SELECT shard, CAST(floor(start_offset / 512) AS BIGINT) AS bin_id,
       string_agg(text, '<|eod|>' ORDER BY start_offset) AS shard_text,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM o GROUP BY shard, CAST(floor(start_offset / 512) AS BIGINT)
"""


@register("shard_assembly", oracle=_SHARD_ASSEMBLY_ORACLE)
def shard_assembly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard payload assembly (operators/packing.assemble_shards):
    each (shard, bin) concatenates its documents in canonical packing
    order with an end-of-document separator — the writer stage of the
    packing index, deterministic whatever the partitioning (order inside a
    bin is by start_offset, itself a pure function of the doc hash)."""
    from ..operators.packing import assemble_shards

    docs = load_table(spark, sf_dir, "documents")
    return assemble_shards(docs, seq_len=512, n_shards=32)


@register(
    "leakage_safe_split",
    oracle=_DUCK_COMPONENTS_WITH + f"""
, assign AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster_rep,
       CASE WHEN slot < 90 THEN 'train'
            WHEN slot < 95 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_rep,
         {DUCK_HASH.format("'split:' || CAST(cluster_rep AS VARCHAR)")} % 100
           AS slot
  FROM assign
) s
""",
)
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split
    (operators/dedup.leakage_safe_split): every doc is assigned by the
    hash of its near-dup-cluster REPRESENTATIVE (component minimum), so
    near-duplicates can never straddle splits — the eval-leak guard of
    Lee et al. (ACL 2022) applied at split time.  Strict refinement of
    the driver-green deterministic_split: identical salt/slots, so every
    UNCLUSTERED doc keeps exactly its old assignment and only duplicate
    clusters move (together).  Scale shape: the component table is
    cluster-members-only (corpus-sublinear, broadcast-eligible); the
    assignment itself is a map-side hash."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs)
    pairs = D.lsh_candidate_pairs(D.lsh_buckets(sigs))
    verified = D.ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.8)
    comps = D.connected_components(verified)
    return D.leakage_safe_split(docs, comps)
