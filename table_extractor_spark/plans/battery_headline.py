"""The non-extraction queries of ``bench.py``'s headline set.

One representative per operator family the benchmark times beside the
extraction queries: a decimal-exact aggregate, the broadcast-join rule
cascade, the window fill-down, the dedup chain (exact, then
minhash -> LSH -> Jaccard verify), brute-force cosine top-k, and the text
quality and token-count functions.  Same engine-parity rules as every
other registered query (see the plans/queries.py module docstring); the
@register calls execute when plans/queries.py imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.tables import load_table
from .registry import MINHASH_PERMS, register

# DuckDB rendering of the shared shingle pipeline (word 3-grams, distinct,
# reduced mod P) — documents always have >= 10 words so the short-text branch
# of word_shingles never triggers at these SFs.
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(w) - 2), "
    "i -> (('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::bigint"
    " % 2147483647)))"
)

_DUCK_SIG_TERMS = ", ".join(
    f"list_min(list_transform(hs, h -> ({2 * i + 3} * h + {17 * i + 5}) % 2147483647))"
    for i in range(MINHASH_PERMS)
)

_DUCK_SIGS_CTE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, {_DUCK_SHINGLES} AS hs FROM w),
sigs AS (SELECT doc_id, [{_DUCK_SIG_TERMS}] AS sig FROM h),
buckets AS (
  SELECT doc_id, CAST(b AS INT) AS band,
         ('0x' || substr(md5(array_to_string(
             list_transform(sig[4*b+1:4*b+4], x -> CAST(x AS VARCHAR)), ',')),
             1, 15))::bigint AS bucket
  FROM sigs, generate_series(0, 3) t(b)
)
"""


_DUCK_COS = """
round(
  list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * v.e[i]))
  / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
     * sqrt(list_sum(list_transform(v.e, x -> x * x)))), 6)
"""


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_disc_value,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship relational aggregate (TPC-H Q1 shape): map-side partial aggs,
    two-key groupBy, decimal-exact sums (A1/A2 pattern at warehouse scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sums accumulate DECIMAL-exact; the returned columns are rounded
            # doubles so Spark and DuckDB stringify identically for the hash
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double"), 2
            ).alias("sum_disc_value"),
            F.count("*").alias("count_order"),
            F.round(
                F.sum(dec("l_quantity")).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
        )
    )


@register(
    "rule_lookup_cascade",
    oracle="""
WITH strict_rules AS (
  SELECT n_nationkey AS key, 'nation:' || n_name AS property
  FROM nation WHERE n_nationkey % 2 = 0
), loose_rules AS (
  SELECT r_regionkey AS key, 'region:' || r_name AS property FROM region
)
SELECT COALESCE(s.property, l.property, 'UNMAPPED') AS property,
       COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN strict_rules s ON c.c_nationkey = s.key
LEFT JOIN loose_rules l ON n.n_regionkey = l.key
GROUP BY 1
""",
)
def rule_lookup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the strict-then-loose mapping-rule cascade (Mapper.py:134-191) as
    broadcast joins + coalesce — the Spark-native replacement for the
    reference's per-cell dict probes.

    The strict rule table is DERIVED from nation (same key, a filter and a
    rename), so probing it as a second broadcast left join re-joined rows
    the first join already held: the strict property is now computed
    inline from the joined nation row (guide §2.4 — two operations keyed
    the same way share one join), dropping one BroadcastExchange + one
    BroadcastHashJoin from the plan (4 -> 3 joins in the formatted
    physical plan)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    loose = region.select(
        F.col("r_regionkey").alias("lkey"),
        F.concat(F.lit("region:"), "r_name").alias("lprop"),
    )
    # strict rules = nation rows with even key: the first join's output
    # already carries (n_nationkey, n_name), so the strict probe is a CASE
    sprop = F.when(
        F.col("n_nationkey") % 2 == 0, F.concat(F.lit("nation:"), "n_name")
    )
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(loose), F.col("n_regionkey") == F.col("lkey"), "left")
        .select(
            F.coalesce(sprop, F.col("lprop"), F.lit("UNMAPPED")).alias("property")
        )
        .groupBy("property")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "section_fill_down",
    oracle="""
SELECT event_id, user_id,
       LAST_VALUE(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS last_error_event
FROM events
""",
)
def section_fill_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: section context = forward-fill of the latest heading
    (HtmlTableParser.py:220-268) — last_value(... ignore nulls) over rows
    unbounded preceding."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker = F.when(F.col("event_type") == "error", F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(marker, ignorenulls=True).over(w).alias("last_error_event"),
    )


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper, COUNT(*) - 1 AS n_dupes
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_dedup",
    oracle=_DUCK_SIGS_CTE + """
, pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)
SELECT p.a, p.b,
       len(list_intersect(ha.hs, hb.hs)) AS n_common,
       len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS n_union,
       CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
         / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         AS jaccard
FROM pairs p JOIN h ha ON p.a = ha.doc_id JOIN h hb ON p.b = hb.doc_id
""",
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.near_dup_pipeline(docs)


@register(
    "embedding_cosine_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 10),
sims AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {_DUCK_COS} AS cos_sim
  FROM q, v WHERE q.vec_id <> v.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM sims
) WHERE rank <= 3
""",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


@register(
    "quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
         string_split(lower(text), ' ') AS lw
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(list_filter(lw, x -> list_contains(['the','a','of','and','to','in'], x)))
         AS DOUBLE) / len(lw) AS stop_ratio,
    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS punct,
    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mwl
  FROM t
)
SELECT doc_id, round(stop_ratio * 0.5 + (1.0 - punct) * 0.3
       + (CASE WHEN mwl BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END), 6) AS quality
FROM m
""",
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.with_quality_score(docs).select("doc_id", "quality")


@register(
    "token_count",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         AS re_tokens
FROM documents
""",
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        T.token_count(F.col("text")).alias("re_tokens"),
    )
