"""C2. Training-data pipeline queries: mixing, sampling, retrieval, ANN.

Only the queries the test suite checks by name stay registered here.
Same engine-parity rules as every other registered query (see the
plans/queries.py module docstring); the @register calls execute when
plans/queries.py imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as T
from ..operators import similarity as S
from ..sources.tables import load_table
from .registry import DUCK_HASH, register, spark_hash
from .battery_headline import _DUCK_SIGS_CTE

# target pre-training language mix (parts-per-million); zh deliberately 0
# to exercise the drop-a-domain path end to end
_MIX_PPM = {"en": 500_000, "de": 200_000, "fr": 200_000, "es": 100_000, "zh": 0}


@register(
    "domain_mix_sample",
    oracle=f"""
WITH t AS (
  SELECT unnest(['en','de','fr','es','zh']) AS lang,
         unnest([500000, 200000, 200000, 100000, 0]) AS target_ppm
), c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), total AS (SELECT COUNT(*) AS n_total FROM documents),
rates AS (
  SELECT c.lang,
         least(1000000,
               CAST(floor(t.target_ppm * total.n_total / c.n) AS BIGINT))
           AS keep_ppm
  FROM c JOIN t ON c.lang = t.lang CROSS JOIN total
)
SELECT d.doc_id, d.lang, r.keep_ppm
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {DUCK_HASH.format("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
      < r.keep_ppm
""",
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixing: per-lang deterministic downsampling toward a
    target mix.  keep rate (ppm, integer arithmetic so every engine agrees)
    = target_share * corpus_total / domain_count, capped at 1; a doc keeps
    iff H('mix:'||id) %% 1e6 < rate — reproducible, no RNG state.  Counts
    are one groupBy; the rate table is broadcast-tiny."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    n_total = docs.count()
    targets = spark.createDataFrame(
        [(k, v) for k, v in _MIX_PPM.items()], ["lang", "target_ppm"]
    )
    rates = (
        counts.join(F.broadcast(targets), "lang")
        .select(
            "lang",
            F.least(
                F.lit(1_000_000),
                F.floor(
                    F.col("target_ppm") * F.lit(n_total) / F.col("n")
                ).cast("long"),
            ).alias("keep_ppm"),
        )
    )
    h = spark_hash(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(h % 1_000_000 < F.col("keep_ppm"))
        .select("doc_id", "lang", "keep_ppm")
    )


@register(
    "domain_mix_temperature",
    oracle=f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS n_min FROM c),
rates AS (
  SELECT lang,
         CAST(floor(1000000 * sqrt(CAST(mn.n_min AS DOUBLE) / n)) AS BIGINT)
           AS keep_ppm
  FROM c, mn
)
SELECT d.doc_id, d.lang, r.keep_ppm
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {DUCK_HASH.format("'mixt:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
      < r.keep_ppm
""",
)
def domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual-pretraining
    alternative to fixed target shares): sampled counts ∝ n^alpha with
    alpha = 1/2, i.e. keep rate (n_min/n)^(1/2) with the rarest language
    kept whole.  alpha = 1/2 specifically so the rate is a single sqrt —
    IEEE-correctly-rounded, unlike general pow — times one division and a
    floor: bit-deterministic in every engine, same integer-ppm hash-
    threshold mechanism as ``domain_mix_sample``."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n")).collect()[0][0]
    rates = counts.select(
        "lang",
        F.floor(
            F.lit(1_000_000) * F.sqrt(F.lit(n_min).cast("double") / F.col("n"))
        ).cast("long").alias("keep_ppm"),
    )
    h = spark_hash(F.concat(F.lit("mixt:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(h % 1_000_000 < F.col("keep_ppm"))
        .select("doc_id", "lang", "keep_ppm")
    )


@register(
    "unimax_allocation",
    oracle="""
WITH tok AS (
  SELECT lang,
         CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                  w -> w <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(3 * SUM(n_tokens) // 2 AS BIGINT) AS budget FROM tok),
pos AS (
  SELECT lang, n_tokens, 2 * n_tokens AS cap,
         row_number() OVER (ORDER BY n_tokens, lang) AS pos,
         COALESCE(CAST(SUM(2 * n_tokens) OVER (
             ORDER BY n_tokens, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS cumprev,
         COUNT(*) OVER () AS L
  FROM tok
),
flg AS (
  SELECT p.*, t.budget,
         (t.budget - cumprev) > cap * (L - pos + 1) AS capped
  FROM pos p CROSS JOIN tot t
),
tots AS (
  SELECT CAST(COUNT(*) FILTER (capped) AS BIGINT) AS k,
         COALESCE(CAST(SUM(cap) FILTER (capped) AS BIGINT), 0) AS capsum
  FROM flg
),
alloc AS (
  SELECT f.lang, f.n_tokens, f.capped,
         CAST(CASE WHEN f.capped THEN f.cap
              ELSE (f.budget - t.capsum) // (f.L - t.k)
                   + CASE WHEN f.pos - t.k
                               <= (f.budget - t.capsum) % (f.L - t.k)
                          THEN 1 ELSE 0 END
              END AS BIGINT) AS alloc_tokens
  FROM flg f CROSS JOIN tots t
)
SELECT lang, n_tokens, capped, alloc_tokens,
       CAST((1000000 * alloc_tokens) // n_tokens AS BIGINT) AS epochs_ppm
FROM alloc
""",
)
def unimax_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped per-language token-budget allocation (operators/packing
    ``unimax_allocation``; integer-exact UniMax, Chung et al. NeurIPS
    2023): budget = 1.5x the corpus token count, cap = 2 epochs — small
    languages are upsampled toward uniform but never beyond two passes
    (the repeat cap plain temperature mixing lacks), so at this corpus's
    skew both branches run: the small languages hit their caps and the
    dominant language absorbs the remainder.  The corpus-sized work
    is one partial-agg'd per-lang token count; the allocation itself runs
    on the bounded group table (one ordering window + a 1-row broadcast
    of the capped-prefix totals).  The budget scalar is a single
    collect()ed row — the sanctioned bounded-driver-traffic shape."""
    from ..operators.packing import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "lang",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda w: w != "",
                )
            ).alias("__n"),
        )
        .groupBy("lang")
        .agg(F.sum("__n").cast("long").alias("n_tokens"))
        .persist()  # the budget collect and the allocation share one scan
    )
    total = int(tok.agg(F.sum("n_tokens")).collect()[0][0])
    return unimax_allocation(tok, 3 * total // 2, max_epochs=2)


@register(
    "deterministic_split",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         {DUCK_HASH.format("'split:' || CAST(doc_id AS VARCHAR)")} % 100
           AS slot
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN slot < 90 THEN 'train'
            WHEN slot < 95 THEN 'val' ELSE 'test' END AS split
FROM s
""",
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment: content-independent hash of
    the doc id into 100 slots (never rand() — resuming, re-running, or
    re-partitioning must not move documents between splits; the salt prefix
    decouples this hash from every other doc_id hash in the pipeline).
    Zero shuffle — the split is a projection, and a partitionBy('split')
    write gives downstream jobs split-pruned scans."""
    docs = load_table(spark, sf_dir, "documents")
    slot = spark_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    return docs.select(
        "doc_id",
        "lang",
        F.when(slot < 90, "train").when(slot < 95, "val").otherwise("test")
        .alias("split"),
    )


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {DUCK_HASH.format("'sample:' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS rk
  FROM documents
) WHERE rk <= 20
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling: exactly k docs per language, chosen
    by deterministic hash order (never rand()/TABLESAMPLE — the sample must
    not move under re-runs or repartitioning, and hash order is unbiased
    w.r.t. any data attribute).  One shuffle on the stratum key; for
    k << stratum size at 10^12 docs, pre-filter with a hash-threshold
    (keep slot < c*k/stratum_estimate) before the window to avoid sorting
    whole strata."""
    docs = load_table(spark, sf_dir, "documents")
    h = spark_hash(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


@register(
    "fuzzy_decontamination",
    oracle=_DUCK_SIGS_CTE + """
, bench AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
bb AS (
  SELECT b.doc_id AS bench_id, band, bucket
  FROM buckets b JOIN bench ON b.doc_id = bench.doc_id
),
cand AS (
  SELECT DISTINCT t.doc_id AS a, bb.bench_id
  FROM buckets t JOIN bb ON t.band = bb.band AND t.bucket = bb.bucket
   AND t.doc_id <> bb.bench_id
  WHERE t.doc_id NOT IN (SELECT doc_id FROM bench)
),
su AS (
  SELECT doc_id, i, sig[i] AS v
  FROM sigs, generate_series(1, 16) g(i)
),
m AS (
  SELECT c.a, c.bench_id,
         CAST(SUM(CASE WHEN ta.v = tb.v THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sig_match
  FROM cand c
  JOIN su ta ON ta.doc_id = c.a
  JOIN su tb ON tb.doc_id = c.bench_id AND tb.i = ta.i
  GROUP BY c.a, c.bench_id
)
SELECT a, bench_id, n_sig_match,
       CAST(n_sig_match AS DOUBLE) / 16 AS est_jaccard,
       n_sig_match >= 8 AS contaminated
FROM m
""",
)
def fuzzy_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (operators/contamination
    ``fuzzy_contamination_report``): MinHash-estimated Jaccard of each
    training doc against the synthetic benchmark (every 5th doc — denser
    than the exact report's every-97th so sub-threshold candidates appear), LSH-pruned so only band-colliding pairs are
    scored.  Benchmark buckets and signatures broadcast; the corpus bucket
    table is probed map-side — no corpus self-join.  The oracle replays the
    shared signature CTE and counts agreeing components via a
    position-unnest join (no list lambdas on the comparison path)."""
    from ..operators.contamination import fuzzy_contamination_report

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    return fuzzy_contamination_report(docs, bench)


@register(
    "tfidf_top_terms",
    oracle="""
WITH wds AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM wds WHERE word <> ''
  GROUP BY doc_id, word
),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         tf.tf * ((1000000 * nd.n_docs) // df.df) AS score
  FROM tf JOIN df ON tf.word = df.word CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, word, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word)
           AS rk
  FROM scored
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
       CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
""",
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by quantized tf-idf (functions/text
    ``tfidf_top_terms``): idf as the integer parts-per-million weight
    1e6*N div df, so the whole score stays exact int64 — no ln(), no float
    sum, bit-identical ranking on any engine (the transcendental-free
    policy ``rare_word_rank_score`` pins).  Corpus work is one explode +
    one (doc, word) partial-agg'd groupBy; df reuses the tf table
    (vocabulary-sized); the per-doc ranking window is the only other
    corpus-keyed shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs)


@register(
    "bm25_topk",
    oracle="""
WITH wds AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
tok AS (SELECT doc_id, word FROM wds WHERE word <> ''),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_tokens
  FROM dl
),
qt AS (SELECT unnest(['spark', 'merge', 'vector', 'customer']) AS word),
m AS (SELECT tf.doc_id, tf.word, tf.tf FROM tf JOIN qt USING (word)),
dfq AS (SELECT word, COUNT(*) AS df FROM m GROUP BY 1),
term AS (
  SELECT m.doc_id,
         (((1000000 * s.n_docs) // dfq.df)
          * ((22 * s.total_tokens * m.tf * 1000000)
             // (10 * s.total_tokens * m.tf + 3 * s.total_tokens
                 + 9 * dl.dl * s.n_docs))) // 1000000 AS term_score
  FROM m JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(term_score) AS BIGINT) AS score
  FROM term GROUP BY 1
)
SELECT doc_id, n_terms, score FROM agg ORDER BY score DESC, doc_id LIMIT 10
""",
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a 4-term bag-of-words query under quantized
    BM25 (functions/text ``bm25_topk``; Robertson & Walker SIGIR 1994,
    k1=1.2 b=0.75 reduced to the rational integer form — no ln(), no
    float division, bit-identical ranking on any engine).  The retrieval
    layer for topical slicing / leak audits over the curated corpus: the
    query-term join broadcasts a handful of literals so scoring touches
    only matching postings, corpus stats are a 1-row broadcast, and the
    top-k is TakeOrderedAndProject — never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(docs, ["spark", "merge", "vector", "customer"])


# --- driver-checkable ANN oracles ------------------------------------------
#
# The ANN family runs with quantize=ANN_Q (operators/similarity.quantized):
# training, assignment, bucket, and probe arithmetic all happen on
# integer-valued doubles, where every reduction is IEEE-exact in ANY
# summation order — so the full k-means training run, the probe-list
# choices, and the ADC ranking are bit-reproducible across engines and the
# DuckDB oracle can REPLAY them (chained CTEs, one per Lloyd round) instead
# of settling for a rows-only check.  Final cosines are computed on the raw
# vectors and rounded to 6 dp (the construct the driver-green
# embedding_cosine_topk oracle already pins).  Only version-robust SQL:
# zipped unnest + plain GROUP BY / window functions on the comparison path.

ANN_Q = 1000


def _duck_ivf_cte(rounds: int, n_centroids: int = 16) -> str:
    """CTE chain replaying similarity.ivf_index(quantize=ANN_Q): exploded
    (vec_id, pos, x) integer vectors, seed = lowest-vid vectors, then per
    round assign (argmax exact cosine, ties -> lower centroid id) and
    update (floor(sum/count) — exact).  Ends with centroid table ``c{r}``
    and full-corpus assignment ``afinal(vec_id, cid)``."""
    parts = [f"""
ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
vq AS (SELECT vec_id,
              unnest(list_transform(e, x -> round(x * {ANN_Q}))) AS x,
              unnest(generate_series(1, len(e))) AS pos
       FROM ve),
vqn AS (SELECT vec_id, sqrt(SUM(x * x)) AS n FROM vq GROUP BY vec_id),
c0 AS (SELECT vq.vec_id AS cid, pos, x FROM vq
       WHERE vec_id IN (SELECT vec_id FROM ve ORDER BY vec_id
                        LIMIT {n_centroids}))"""]
    for r in range(rounds):
        parts.append(f"""
c{r}n AS (SELECT cid, sqrt(SUM(x * x)) AS n FROM c{r} GROUP BY cid),
sim{r} AS (
  SELECT vq.vec_id, c.cid, SUM(vq.x * c.x) AS d
  FROM vq JOIN c{r} c USING (pos) GROUP BY vq.vec_id, c.cid
),
a{r} AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY s.d / (q.n * c.n) DESC, s.cid) AS rk
    FROM sim{r} s JOIN vqn q ON s.vec_id = q.vec_id
                  JOIN c{r}n c ON s.cid = c.cid
  ) WHERE rk = 1
),
m{r} AS (
  SELECT a.cid, vq.pos,
         CAST(floor(SUM(vq.x) / COUNT(*)) AS DOUBLE) AS x
  FROM a{r} a JOIN vq ON a.vec_id = vq.vec_id GROUP BY a.cid, vq.pos
),
c{r + 1} AS (
  SELECT p.cid, p.pos, COALESCE(m.x, p.x) AS x
  FROM c{r} p LEFT JOIN m{r} m ON p.cid = m.cid AND p.pos = m.pos
)""")
    parts.append(f"""
cfn AS (SELECT cid, sqrt(SUM(x * x)) AS n FROM c{rounds} GROUP BY cid),
simf AS (
  SELECT vq.vec_id, c.cid, SUM(vq.x * c.x) AS d
  FROM vq JOIN c{rounds} c USING (pos) GROUP BY vq.vec_id, c.cid
),
afinal AS (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY s.d / (q.n * c.n) DESC, s.cid) AS rk
    FROM simf s JOIN vqn q ON s.vec_id = q.vec_id
                JOIN cfn c ON s.cid = c.cid
  ) WHERE rk = 1
)""")
    return ",".join(parts)


# probe-list selection for the IVF oracle: the nprobe nearest
# (exact-arithmetic) centroid lists per query id below ``qmax``
def _duck_ivf_probes(nprobe: int, qmax: int) -> str:
    return f"""
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT s.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY s.d / (q.n * c.n) DESC, s.cid) AS rk
    FROM simf s JOIN vqn q ON s.vec_id = q.vec_id
                JOIN cfn c ON s.cid = c.cid
    WHERE s.vec_id < {qmax}
  ) WHERE rk <= {nprobe}
)"""


_DUCK_ANN_COS = """
round(
  list_sum(list_transform(generate_series(1, len(va.e)), i -> va.e[i] * vb.e[i]))
  / (sqrt(list_sum(list_transform(va.e, x -> x * x)))
     * sqrt(list_sum(list_transform(vb.e, x -> x * x)))), 6)
"""

_DUCK_ANN_TOPK = """
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM sims
) WHERE rank <= {k}
"""


@register(
    "ann_ivf_probed",
    oracle="WITH " + _duck_ivf_cte(rounds=3) + ","
    + _duck_ivf_probes(nprobe=4, qmax=20)
    + f""",
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN afinal a ON p.cid = a.cid
  WHERE p.query_id <> a.vec_id
),
sims AS (
  SELECT c.query_id, c.neighbor_id, {_DUCK_ANN_COS} AS cos_sim
  FROM cands c JOIN ve va ON c.query_id = va.vec_id
               JOIN ve vb ON c.neighbor_id = vb.vec_id
)
{_DUCK_ANN_TOPK.format(k=3)}
""",
)
def ann_ivf_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN, driver-replayable end to end: the oracle re-runs the
    full deterministic training (3 Lloyd rounds over integer-quantized
    vectors, floor-mean updates, lowest-vid seeding) as chained CTEs, then
    the probe pruning and the raw-vector cosine top-k.  Recall vs the
    exact top-k stays pinned in tests/test_similarity_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = S.ivf_index(emb, n_centroids=16, quantize=ANN_Q)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return S.ivf_search(
        centroids, assignments, queries_df, k=3, nprobe=4, quantize=ANN_Q
    )


@register(
    "stratified_sample_salted",
    oracle=f"""
SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {DUCK_HASH.format("'sample:' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS rk
  FROM documents
) WHERE rk <= 20
""",
)
def stratified_sample_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-PROOF rewrite of `stratified_sample`, same answer by
    construction (the oracle IS the single-window formulation): exact
    top-k-by-hash per language via TWO phases — rank within (lang,
    salt-bucket) sub-partitions first and keep k locally, then rank the
    <= k*64 survivors per language.  Single-window group top-k is the
    classic low-cardinality trap: with 5 languages over 10^12 docs, one
    window drags a fifth of the corpus through one partition's sort.
    Phase 1 splits every language across 64 salt buckets (the sub-sorts
    parallelize and each emits at most k rows), so phase 2 sorts a
    bounded candidate table — the distributed-TopK rewrite engines apply
    to ORDER BY/LIMIT, expressed for grouped sampling.  Correct because
    the global top-k of a union is contained in the union of per-bucket
    top-ks.  Salt = pmod(doc hash, 64): deterministic, so reruns and
    repartitions keep the identical sample."""
    docs = load_table(spark, sf_dir, "documents")
    h = spark_hash(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
    )
    base = docs.select("doc_id", "lang", h.alias("__h"))
    local = Window.partitionBy(
        "lang", F.pmod(F.col("__h"), F.lit(64))
    ).orderBy("__h", "doc_id")
    survivors = base.withColumn(
        "__lrk", F.row_number().over(local)
    ).filter(F.col("__lrk") <= 20)
    final = Window.partitionBy("lang").orderBy("__h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(final).cast("int"))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "rk")
    )


@register(
    "bigram_fluency_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), bgs AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
), cnt AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM bgs GROUP BY bg
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(c.c) // COUNT(*) AS BIGINT) AS mean_bigram_freq
FROM bgs b JOIN cnt c USING (bg)
GROUP BY b.doc_id
""",
)
def bigram_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistic join-back scoring — the LM-free fluency proxy:
    each document's mean corpus frequency of its own bigrams (texts made
    of conventional word transitions score high; gibberish, boilerplate
    keyboard-mash, and wrong-language fragments score low — the cheap
    stand-in for perplexity filtering when no LM is in the loop, cf. the
    heuristic tier of CCNet/Gopher-style pipelines).  Integer-exact end
    to end: frequencies are corpus COUNTS, the score their truncated
    integer mean, so both engines agree bit-for-bit — no logs, no floats.
    Shape: one explode -> one bigram groupBy (vocab-bounded, partial
    map-side combine) -> one equi-join of occurrences onto their own
    frequency table -> one per-doc groupBy.  The bigram table is the only
    wide shuffle, and a hot bigram ('of the') is a broadcast-side skew
    problem only if the frequency table is force-broadcast — it is not;
    AQE's skew-join handles the join at scale.  Tokenization matches the
    engine-wide rule: whitespace split, empty tokens filtered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("t"),
    )
    bgs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(zip_with(t, slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)"
            )
        ).alias("bg"),
    )
    cnt = bgs.groupBy("bg").agg(F.count("*").cast("long").alias("c"))
    return (
        bgs.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(c) div count(*) AS BIGINT)").alias(
                "mean_bigram_freq"
            ),
        )
    )


@register(
    "embedding_outlier_scores",
    oracle="WITH " + _duck_ivf_cte(rounds=3) + """
SELECT vec_id, centroid_id, cos_to_centroid, rank FROM (
  SELECT a.vec_id, a.cid AS centroid_id,
         round(s.d / (q.n * c.n), 6) AS cos_to_centroid,
         CAST(ROW_NUMBER() OVER (
           ORDER BY round(s.d / (q.n * c.n), 6) ASC, a.vec_id) AS INT)
           AS rank
  FROM afinal a
  JOIN simf s ON s.vec_id = a.vec_id AND s.cid = a.cid
  JOIN vqn q ON q.vec_id = a.vec_id
  JOIN cfn c ON c.cid = a.cid
) t WHERE rank <= 20
""",
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier mining — the DataComp/SemDedup-family
    pruning signal in reverse: after the SAME deterministic IVF training
    the ANN queries replay (quantized spherical k-means, 16 centroids, 3
    Lloyd rounds), every vector scores its cosine to its OWN assigned
    centroid, and the 20 LEAST-central vectors surface — junk embeddings,
    encoder failures, and out-of-distribution documents live in that
    tail (a vector far from every centroid is by construction far from
    its nearest one).  Regime caveat, stated not discovered: the signal
    assumes k is SMALL relative to the data's modes — with centroids to
    spare, k-means rightfully dedicates one to an isolated vector and
    its cosine-to-own-centroid becomes 1.0 (pinned in the busy-centroid
    fixture of tests/test_similarity_ann.py).  Scale shape: the centroid
    table broadcasts, the
    score is map-side arithmetic over integer-valued doubles (IEEE-exact
    sums, so the oracle replays training AND scores bit-for-bit), and
    the bottom-20 is TakeOrderedAndProject — the corpus never shuffles.
    Composes with ann_ivf_probed off one shared index build."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = S.ivf_index(
        emb, n_centroids=16, quantize=ANN_Q
    )
    a = assignments.select(
        F.col("vid").alias("vec_id"),
        "centroid_id",
        S.quantized(F.col("v"), ANN_Q).alias("q"),
    ).select("vec_id", "centroid_id", "q", S.norm(F.col("q")).alias("qn"))
    scored = a.join(F.broadcast(centroids), "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.round(
            S.dot(F.col("q"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cos_to_centroid"),
    )
    w = Window.orderBy(F.col("cos_to_centroid").asc(), F.col("vec_id"))
    return (
        scored.orderBy(F.col("cos_to_centroid").asc(), "vec_id")
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


@register(
    "cume_dist_doc_length",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_total,
         CAST(COUNT(*) OVER (PARTITION BY lang ORDER BY n_chars
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS n_le
  FROM documents
)
SELECT doc_id, lang, n_chars,
       CAST((1000000 * n_le) // n_total AS BIGINT) AS cume_ppm
FROM d
""",
)
def cume_dist_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cumulative length distribution — the percentile-of-
    this-document signal behind length-curriculum ordering and truncation
    policy — as EXACT integer ppm rather than the built-in CUME_DIST
    (whose double output is engine/rounding sensitive): n_le = the
    VALUE-ordered RANGE frame count (rows with length <= mine, ties
    inclusive — exactly CUME_DIST's numerator), over the per-language
    total.  Both engines compute the identical int64 quotient, so the
    driver hash pins tie handling too.  One shuffle on lang; the windows
    share the single (lang, n_chars) sort order at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    by_lang = Window.partitionBy("lang")
    le = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("n_total", F.count("*").over(by_lang).cast("long"))
        .withColumn("n_le", F.count("*").over(le).cast("long"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("CAST((1000000 * n_le) div n_total AS BIGINT)").alias(
                "cume_ppm"
            ),
        )
    )


@register(
    "zero_token_docs_audit",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                            x -> length(x) >= 8)) AS BIGINT) AS n_tokens,
       len(list_filter(string_split(COALESCE(text, ''), ' '),
                       x -> length(x) >= 8)) = 0 AS is_empty
FROM documents
""",
)
def zero_token_docs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explode-row-loss pin: per-doc counts of LONG (>= 8 char)
    tokens, where documents with none must SURVIVE — the post-cleaning
    emptiness audit (an aggressive filter step can empty a document, and
    those are exactly the rows curation must see, not lose).  A plain
    `explode` silently drops zero-element rows; Spark uses
    `explode_outer` (the NULL placeholder row keeps the doc) with a
    null-aware count, and the oracle counts tokens directly WITHOUT
    unnesting, so the driver hash fails if explode semantics ever eat a
    row.  The >= 8 floor is what makes the pin non-vacuous on the gate
    fixtures: ~20% of docs at both SFs have no long token (an unfiltered
    split leaves zero empty docs and the hash could never catch the
    regression); NULL text coalesces to '' on both sides (Spark's
    explode_outer(NULL) and DuckDB's len(NULL) would otherwise disagree).
    The count-vs-count formulation also documents the cheaper path: when
    ONLY counts are needed, `size(filter(...))` is a map-side projection
    with no explode at all — the explode_outer here exists to pin the
    row-preserving shape the per-token operators rely on."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "filter(split(coalesce(text, ''), ' '),"
                " x -> length(x) >= 8)"
            )
        ).alias("tok"),
    )
    return toks.groupBy("doc_id").agg(
        F.count("tok").cast("long").alias("n_tokens"),
        (F.count("tok") == 0).alias("is_empty"),
    )
