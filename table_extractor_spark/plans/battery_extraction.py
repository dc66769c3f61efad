"""Extraction queries: the kernel, its metrics, triples, TTL and the
explorer path, each oracle-checked end to end.

Same engine-parity rules as every other registered query (see the
plans/queries.py module docstring); the @register calls execute when
plans/queries.py imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import hash60
from ..sources.tables import load_table, synthesize_docs_from_testdata
from .registry import DUCK_HASH, register

# ===========================================================================
# A. flagship extraction (the kernel itself, oracle-checked end to end)
# ===========================================================================


@register(
    "extract_synthetic",
    oracle=f"""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Word', '', 2 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w' || CAST(i AS VARCHAR), '',
         3 + 2 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 4 + 2 * i FROM d, g
)
""",
)
def extract_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full kernel pipeline on a corpus synthesized (deterministically, in
    pure SQL) from the ``documents`` table — which is exactly what lets the
    DuckDB oracle recompute the expected per-document span sequence
    independently.  This is the strongest end-to-end check of the engine."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    out, _ = extract_pipeline(docs, num_partitions=32, salt=1, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "table_linearize",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
         (string_split(text, ' '))[1:6] AS words
  FROM documents
), g AS (SELECT i FROM generate_series(1, 6) t(i)),
rws AS (
  SELECT d.doc_id, g.i,
         'Idx: w' || CAST(g.i - 1 AS VARCHAR)
           || ' | Word: ' || d.words[g.i] AS row_text
  FROM d, g
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       md5(string_agg(row_text, chr(10) ORDER BY i)) AS linearized_md5
FROM rws GROUP BY doc_id
""",
)
def table_linearize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction output serialized into pretraining text
    (plans/triples.linearize_tables): every mined table row becomes
    "Header: value | Header: value" and rows join in table order — the
    table-to-text step that turns this engine's span output into corpus
    documents (the WDC/TaBERT-style linearization).  The header↔cell
    pairing is the Mapper's positional zip (J5) at the DataFrame layer;
    the oracle recomputes every linearized document from the synthetic
    corpus definition, md5-compacted (the probe-battery rule for
    text-heavy driver outputs)."""
    from .extract import extract_pipeline
    from .triples import linearize_tables

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    out, _ = extract_pipeline(docs, num_partitions=32, prefilter=False, spread="coalesce")
    lin = linearize_tables(out)
    return lin.select(
        "doc_id", "n_rows", F.md5("linearized").alias("linearized_md5")
    )


@register(
    "extract_media_linkage",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Word', '', 2 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w' || CAST(i AS VARCHAR), '',
         3 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1],
         'img://' || doc_id || '/r' || CAST(i AS VARCHAR) || '.jpg',
         4 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'media', '',
         'img://' || doc_id || '/r' || CAST(i AS VARCHAR) || '.jpg',
         5 + 3 * i FROM d, g
)
""",
)
def extract_media_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north star's media linkage, oracle-checked end to end: every word
    cell embeds an image anchor; the kernel must attach the href as the
    cell's media_ref AND emit the trailing 'media' span — the DuckDB oracle
    recomputes the exact (kind, text, media_ref, order) sequence."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, media_anchors=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_link_spans",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Word', '', 2 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w' || CAST(i AS VARCHAR), '',
         3 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'link',
         'lnk_' || doc_id || '_r' || CAST(i AS VARCHAR), '',
         4 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 5 + 3 * i FROM d, g
)
""",
)
def extract_link_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blue-link cells oracle-checked: the anchor's resolved target (title
    attr, spaces underscored — HtmlTableParser.py:674-714 + reference
    resolve_data_type) emits as a 'link' span before the cell's text value
    (F13 two-rule extraction) — previously only golden-pinned
    (actor_anchors)."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, link_anchors=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_colspan_collapse",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Pair', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Pair', '', 2 FROM d
  UNION ALL SELECT doc_id, 'header', 'Sing', '', 3 FROM d
  -- the quirk: the FIRST data cell under the duplicated header vanishes
  -- (row dict keyed by header text, last value wins)
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 4 + 2 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', 'z' || CAST(i AS VARCHAR), '',
         5 + 2 * i FROM d, g
)
""",
)
def extract_colspan_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature colspan quirk oracle-checked end to end: a colspan-2
    header expands to the SAME dict twice (HtmlTableParser.py:802-850), and
    the positional join keyed by header TEXT then collapses the first data
    cell under it (last value wins, :914-963) — previously pinned only by
    goldens and the py2 differential."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, header_colspan=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_vertical_table",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'K' || CAST(i AS VARCHAR), '',
         1 + i FROM d, g
  -- vertical quirk: n_headers = len(first header ROW) = 1, so each row's
  -- th and td become TWO single-value cells in sequence
  UNION ALL SELECT doc_id, 'cell', 'K' || CAST(i AS VARCHAR), '',
         7 + 2 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 8 + 2 * i FROM d, g
)
""",
)
def extract_vertical_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3's vertical-table quirk oracle-checked: a th+td row marks the table
    vertical (HtmlTableParser.py:278-314); refined headers are each header
    row's FIRST cell, and the positional join's width is len(first header
    row) = 1, so every cell lands in its own single-value row-dict —
    previously golden/differential only."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, vertical=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_totale_skip",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:2] AS words
  FROM documents WHERE doc_id < 300
)
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Word', '', 2 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w0', '', 3 FROM d
  UNION ALL SELECT doc_id, 'cell', words[1], '', 4 FROM d
  -- the SECOND adjacent Totale row survives the remove-while-iterating
  -- filter (the first is deleted, the cursor skips the one that shifted in)
  UNION ALL SELECT doc_id, 'cell', 'Totale', '', 5 FROM d
  UNION ALL SELECT doc_id, 'cell', 'sumB', '', 6 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w1', '', 7 FROM d
  UNION ALL SELECT doc_id, 'cell', words[2], '', 8 FROM d
)
""",
)
def extract_totale_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4's remove-while-iterating quirk oracle-checked: of two ADJACENT
    'Totale' rows the reference deletes only the first — the cursor skips
    the row that shifted into the deleted slot (HtmlTableParser.py:783-800;
    CPython list-iterator semantics)."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, totale_rows=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_summary_row_filter",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:2] AS words
  FROM documents WHERE doc_id < 300
)
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Season', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Goals', '', 2 FROM d
  UNION ALL SELECT doc_id, 'header', 'Apps', '', 3 FROM d
  -- the career-summary row (both numeric cells = running column sums,
  -- text cell >=7 unique chars from the previous row's) is DROPPED;
  -- numerics render via the py2 float path ('10' -> '10.0')
  UNION ALL SELECT doc_id, 'cell', words[1], '', 4 FROM d
  UNION ALL SELECT doc_id, 'cell', '10.0', '', 5 FROM d
  UNION ALL SELECT doc_id, 'cell', '1.0', '', 6 FROM d
  UNION ALL SELECT doc_id, 'cell', words[2], '', 7 FROM d
  UNION ALL SELECT doc_id, 'cell', '20.0', '', 8 FROM d
  UNION ALL SELECT doc_id, 'cell', '2.0', '', 9 FROM d
)
""",
)
def extract_summary_row_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5's career-summary filter oracle-checked on real markup: the row
    whose numeric cells equal the running column sums of prior rows (and
    whose text cell is >=7 unique chars from the previous row's) never
    reaches the output (MapperTools.py:211-254); verified zero survivors
    across the full sf corpus before pinning."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, summary_row=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_supersub_headers",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  -- 'P' (colspan 2) absorbs A and B; 'Y' (rowspan 2) fills a blank copy
  -- down, so the flatten keeps the super text alone
  UNION ALL SELECT doc_id, 'header', 'P - A', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'P - B', '', 2 FROM d
  UNION ALL SELECT doc_id, 'header', 'Y', '', 3 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w' || CAST(i AS VARCHAR), '',
         4 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 5 + 3 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', 'z' || CAST(i AS VARCHAR), '',
         6 + 3 * i FROM d, g
)
""",
)
def extract_supersub_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9's multi-row header flatten + W3's blank rowspan fill-down,
    oracle-checked on real markup: colspan-2 'P' absorbs its two
    sub-headers as 'P - A'/'P - B', rowspan-2 'Y' fills a BLANK copy into
    the sub row so the flatten keeps the super text alone
    (HtmlTableParser.py:439-472, :520-587)."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, supersub=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_accent_fallback",
    oracle="""
WITH d AS (
  SELECT 'Pelé_' || CAST(doc_id AS VARCHAR) AS doc_id,
         strip_accents('Pelé ' || CAST(doc_id AS VARCHAR)) AS section,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  -- heading-less doc: the section falls back to the doc_id, which is a
  -- py2 BYTE string there and so IS accent-folded — while the doc_id
  -- column itself stays unfolded (F6's asymmetry)
  SELECT doc_id, 'section' AS kind, section AS text,
         '' AS media_ref, 0 AS "order" FROM d
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Word', '', 2 FROM d
  UNION ALL SELECT doc_id, 'cell', 'w' || CAST(i AS VARCHAR), '',
         3 + 2 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1], '', 4 + 2 * i FROM d, g
)
""",
)
def extract_accent_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6's asymmetric accent folding oracle-checked: a heading-less page
    takes its section from the doc_id — a byte string in the reference, so
    delete_accented_characters FOLDS it (Utilities.py:451-464, :262-268),
    while heading-derived sections stay unfolded (unicode hits the
    TypeError quirk).  Restricted to NFKD-decomposable accents, where the
    kernel's py2-faithful fold and DuckDB's strip_accents agree."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, accent_fallback=True
    ).filter(F.col("doc_id").substr(F.lit(6), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_header_cleanup",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE doc_id < 300
), g AS (SELECT i FROM generate_series(0, 5) t(i))
SELECT doc_id, kind, text, media_ref, "order" FROM (
  SELECT doc_id, 'section' AS kind, 'Profile ' || lang AS text,
         '' AS media_ref, 0 AS "order" FROM d
  -- header cleanup: nbsp DELETED, ' -> '.', citation stripped
  UNION ALL SELECT doc_id, 'header', 'Idx', '', 1 FROM d
  UNION ALL SELECT doc_id, 'header', 'Wo.rd', '', 2 FROM d
  -- data cleanup asymmetry: nbsp -> ' ', citation KEPT
  UNION ALL SELECT doc_id, 'cell', 'a ' || CAST(i AS VARCHAR), '',
         3 + 2 * i FROM d, g
  UNION ALL SELECT doc_id, 'cell', words[i + 1] || '[2]', '',
         4 + 2 * i FROM d, g
)
""",
)
def extract_header_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F4's header-vs-data cleanup asymmetry oracle-checked: nbsp
    is DELETED from headers but becomes ' ' in data cells; citations are
    stripped from headers but KEPT in data; single quotes become '.' in
    headers only (HtmlTableParser.py:359-367, :474-489, :716-755)."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, header_quirks=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return out.select("doc_id", "kind", "text", "media_ref", "order")


@register(
    "extract_error_metrics",
    oracle="""
SELECT COUNT(*) AS docs, 2 * COUNT(*) AS tot_tables,
       2 * COUNT(*) AS tables_analyzed,
       COUNT(*) AS no_headers, COUNT(*) AS no_data,
       0 AS rows_extracted, 0 AS triples_row, 0 AS kernel_errors
FROM documents WHERE doc_id < 300
""",
)
def extract_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3 accounting oracle-checked: a headerless table counts
    no_headers, a dataless one counts no_data; both are analyzed, neither
    emits spans, and neither is a kernel ERROR (the reference's expected
    per-table outcomes, HtmlTableParser.py:197-211)."""
    from .extract import metrics_pipeline

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, error_tables=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    # metrics-only consumer: the span rows would be filtered out JVM-side
    # anyway, so the metrics pipeline never builds them (guide §4.1)
    metrics = metrics_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    return metrics.agg(
        F.count("*").alias("docs"),
        F.sum("tables_num").alias("tot_tables"),
        F.sum("tables_analyzed").alias("tables_analyzed"),
        F.sum("no_headers").alias("no_headers"),
        F.sum("no_data").alias("no_data"),
        F.sum("rows_extracted").alias("rows_extracted"),
        F.sum("triples_row").alias("triples_row"),
        F.sum("kernel_errors").alias("kernel_errors"),
    )


@register(
    "extract_metrics_report",
    oracle="""
SELECT COUNT(*) AS docs, COUNT(*) AS tot_tables, COUNT(*) AS tables_analyzed,
       6 * COUNT(*) AS rows_extracted, 12 * COUNT(*) AS data_extracted,
       6 * COUNT(*) AS triples_row, 0 AS kernel_errors
FROM documents
""",
)
def extract_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/A1: the reference's final report as one aggregation over the
    per-document metrics table (Utilities.py:384-449)."""
    from .extract import metrics_pipeline

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    # metrics-only consumer — span rows never cross Arrow (guide §4.1)
    metrics = metrics_pipeline(docs, num_partitions=32, prefilter=False, spread="coalesce")
    return metrics.agg(
        F.count("*").alias("docs"),
        F.sum("tables_num").alias("tot_tables"),
        F.sum("tables_analyzed").alias("tables_analyzed"),
        F.sum("rows_extracted").alias("rows_extracted"),
        F.sum("data_extracted").alias("data_extracted"),
        F.sum("triples_row").alias("triples_row"),
        F.sum("kernel_errors").alias("kernel_errors"),
    )


@register(
    "header_inventory",
    # version-robust construct only: top-3 examples via a ROW_NUMBER window
    # + string_agg ORDER BY, not list_sort + list-slice
    oracle="""
WITH hx AS (
  SELECT h.header, 'doc_' || CAST(d.doc_id AS VARCHAR) AS name
  FROM documents d, (SELECT UNNEST(['Idx', 'Word']) AS header) h
), rk AS (
  SELECT header, name,
         ROW_NUMBER() OVER (PARTITION BY header ORDER BY name) AS rn
  FROM hx
), ex AS (
  SELECT header, string_agg(name, ',' ORDER BY name) AS examples
  FROM rk WHERE rn <= 3 GROUP BY header
)
SELECT rk.header, COUNT(*) AS n_tables, ex.examples
FROM rk JOIN ex ON rk.header = ex.header
GROUP BY rk.header, ex.examples
""",
)
def header_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyDomainExplorer inventory path (SURVEY §3.2 / A5 / A6 / O4):
    distinct headers with table counts and <=3 example pages."""
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    out, _ = extract_pipeline(docs, num_partitions=32, prefilter=False, spread="coalesce")
    return (
        out.filter(F.col("kind") == "header")
        .groupBy(F.col("text").alias("header"))
        .agg(
            F.count("*").alias("n_tables"),
            # serialized (not array-typed) so the driver canonicalizer can
            # hash it — arrays are unhashable in its pandas path
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 3), ","
            ).alias("examples"),
        )
    )


_DUCK_TRIPLES_CTE = """
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang,
         (string_split(text, ' '))[1:6] AS words
  FROM documents WHERE lang <> 'zh'
), g AS (SELECT i FROM generate_series(1, 6) t(i)),
base AS (SELECT d.doc_id, d.lang, d.words, g.i FROM d, g),
triples AS (
  SELECT doc_id, doc_id AS subject,
         'dbo:' || lang || 'Profile' AS predicate,
         doc_id || '__' || CAST(i AS VARCHAR) AS object,
         'resource' AS object_kind, i * 1000 AS t_order FROM base
  UNION ALL
  SELECT doc_id, doc_id || '__' || CAST(i AS VARCHAR), 'dbo:idx',
         'w' || CAST(i - 1 AS VARCHAR), 'string', i * 1000 + 1 FROM base
  UNION ALL
  SELECT doc_id, doc_id || '__' || CAST(i AS VARCHAR),
         CASE WHEN lang = 'en' THEN 'dbo:word_en' ELSE 'dbo:word' END,
         words[i], 'string', i * 1000 + 2 FROM base
)
"""


def _triples_df(
    spark: SparkSession, sf_dir: str, entities: Optional[DataFrame] = None
) -> DataFrame:
    from .extract import extract_pipeline
    from .triples import emit_triples

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    out, _ = extract_pipeline(docs, num_partitions=32, prefilter=False, spread="coalesce")
    # emit_triples wants a materialized input: its range exchange on doc_id
    # samples the input in a job of its own before the shuffle reads it
    # again, so without the persist the kernel stage runs twice.  Production
    # writes the parse to a table and reads that; persist is the
    # query-surface equivalent.
    out = out.persist()
    rules = spark.createDataFrame(
        [
            ("SECTION_Profile en", "dbo:enProfile"),
            ("SECTION_Profile de", "dbo:deProfile"),
            ("SECTION_Profile es", "dbo:esProfile"),
            ("SECTION_Profile fr", "dbo:frProfile"),
            # deliberately NO rule for zh -> the section gate (J2) drops
            # those tables entirely, like the reference's unmapped sections
            ("Profile en_Word", "dbo:word_en"),  # strict beats loose for en
            ("Word", "dbo:word"),  # loose fallback for de/es/fr
            ("Idx", "dbo:idx"),
        ],
        ["key", "property"],
    )
    return emit_triples(out, rules, entities=entities)


@register(
    "emit_triples",
    oracle=_DUCK_TRIPLES_CTE
    + "SELECT doc_id, subject, predicate, object, object_kind, t_order FROM triples",
)
def emit_triples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference Mapper's full output path (J1 strict/loose cascade, J2
    section gate, J5 positional header join, A9 reification, F10 typing) as
    DataFrame ops over the extraction output (plans/triples.py)."""
    return _triples_df(spark, sf_dir)


def _probed_triples_oracle() -> str:
    """The emit_triples oracle with an ``ents`` vocabulary-quarter CTE and
    the two cell branches' kind switched to a probe CASE — built by string
    surgery on `_DUCK_TRIPLES_CTE` so the two oracles can never drift."""
    ents = f"""ents AS (
  SELECT DISTINCT w AS entity
  FROM (SELECT unnest((string_split(text, ' '))[1:6]) AS w FROM documents)
  WHERE {DUCK_HASH.format('w')} % 4 = 0
), """
    sql = _DUCK_TRIPLES_CTE.replace("WITH d AS", "WITH " + ents + "d AS", 1)
    sql = sql.replace(
        "'w' || CAST(i - 1 AS VARCHAR), 'string', i * 1000 + 1 FROM base",
        "'w' || CAST(i - 1 AS VARCHAR),\n"
        "         CASE WHEN 'w' || CAST(i - 1 AS VARCHAR) IN "
        "(SELECT entity FROM ents)\n"
        "              THEN 'resource' ELSE 'string' END,\n"
        "         i * 1000 + 1 FROM base",
    )
    sql = sql.replace(
        "words[i], 'string', i * 1000 + 2 FROM base",
        "words[i],\n"
        "         CASE WHEN words[i] IN (SELECT entity FROM ents)\n"
        "              THEN 'resource' ELSE 'string' END,\n"
        "         i * 1000 + 2 FROM base",
    )
    return (
        sql
        + "SELECT doc_id, subject, predicate, object, object_kind, t_order"
        " FROM triples"
    )


@register("emit_triples_probed", oracle=_probed_triples_oracle())
def emit_triples_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emit_triples with the entity-existence probe enabled
    (Mapper.check_value_type -> check_if_is_resource): the entity dimension
    is a deterministic quarter of the corpus vocabulary (60-bit hash % 4),
    so the output mixes probe hits ('resource' cells carrying the adjusted
    name) and misses ('string') — J3's semi-join probe running INSIDE the
    emission path, broadcast like every rules join."""
    docs = load_table(spark, sf_dir, "documents")
    ents = (
        docs.select(
            F.explode(F.slice(F.split("text", " "), 1, 6)).alias("entity")
        )
        .distinct()
        .filter(hash60(F.col("entity")) % 4 == 0)
    )
    return _triples_df(spark, sf_dir, entities=ents)


@register(
    "emit_triples_media",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang
  FROM documents WHERE lang <> 'zh' AND doc_id < 300
), g AS (SELECT i FROM generate_series(1, 6) t(i)),
base AS (SELECT d.doc_id, d.lang, g.i FROM d, g)
SELECT doc_id, subject, predicate, object, object_kind, t_order FROM (
  SELECT doc_id, doc_id AS subject,
         'dbo:' || lang || 'Profile' AS predicate,
         doc_id || '__' || CAST(i AS VARCHAR) AS object,
         'resource' AS object_kind, i * 1000 AS t_order FROM base
  UNION ALL
  SELECT doc_id, doc_id || '__' || CAST(i AS VARCHAR), 'dbo:idx',
         'w' || CAST(i - 1 AS VARCHAR), 'string', i * 1000 + 1 FROM base
  UNION ALL
  -- the media-anchored word cell: object = the image href, kind 'uri'
  SELECT doc_id, doc_id || '__' || CAST(i AS VARCHAR),
         CASE WHEN lang = 'en' THEN 'dbo:word_en' ELSE 'dbo:word' END,
         'img://' || doc_id || '/r' || CAST(i - 1 AS VARCHAR) || '.jpg',
         'uri', i * 1000 + 2 FROM base
)
""",
)
def emit_triples_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mapper's media path oracle-checked: a cell whose value carries a
    media link emits its triple with the HREF as the object and
    object_kind='uri' (the reference's image-anchor handling,
    HtmlTableParser.py:674-714 + Mapper object typing) — previously this
    branch was only golden-pinned."""
    from .extract import extract_pipeline
    from .triples import emit_triples

    docs = synthesize_docs_from_testdata(
        spark, sf_dir, media_anchors=True
    ).filter(F.col("doc_id").substr(F.lit(5), F.lit(10)).cast("int") < 300)
    out, _ = extract_pipeline(docs, num_partitions=16, prefilter=False, spread="coalesce")
    # materialized input for emit_triples' range sample (see _triples_df)
    out = out.persist()
    rules = spark.createDataFrame(
        [
            ("SECTION_Profile en", "dbo:enProfile"),
            ("SECTION_Profile de", "dbo:deProfile"),
            ("SECTION_Profile es", "dbo:esProfile"),
            ("SECTION_Profile fr", "dbo:frProfile"),
            ("Profile en_Word", "dbo:word_en"),
            ("Word", "dbo:word"),
            ("Idx", "dbo:idx"),
        ],
        ["key", "property"],
    )
    return emit_triples(out, rules)


@register(
    "ttl_lines_media",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, lang
  FROM documents WHERE lang <> 'zh' AND doc_id < 300
), g AS (SELECT i FROM generate_series(1, 6) t(i)),
base AS (SELECT d.doc_id, d.lang, g.i FROM d, g)
SELECT doc_id, i * 1000 + 2 AS t_order,
       '<http://dbpedia.org/resource/' || doc_id || '__'
         || CAST(i AS VARCHAR) || '> '
       || '<http://dbpedia.org/ontology/'
         || CASE WHEN lang = 'en' THEN 'dbo:word_en' ELSE 'dbo:word' END
         || '> '
       || '<img://' || doc_id || '/r' || CAST(i - 1 AS VARCHAR) || '.jpg>'
       || ' .' AS line
FROM base
""",
)
def ttl_lines_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5's <uri> object serialization oracle-checked: media-valued cells
    must come out as bare IRI terms, not quoted literals (rdflib URIRef
    behavior, Analyzer.py:198-245)."""
    from .triples import ttl_lines

    triples = emit_triples_media(spark, sf_dir).filter(
        F.col("object_kind") == "uri"
    )
    return ttl_lines(triples)


@register(
    "ttl_lines",
    oracle=_DUCK_TRIPLES_CTE
    + """
SELECT doc_id, t_order,
       '<http://dbpedia.org/resource/' || subject || '> '
       || '<http://dbpedia.org/ontology/' || predicate || '> '
       || CASE WHEN object_kind = 'resource'
               THEN '<http://dbpedia.org/resource/' || object || '>'
               ELSE '"' || object
                    || '"^^<http://www.w3.org/2001/XMLSchema#string>' END
       || ' .' AS line
FROM triples
""",
)
def ttl_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: the TTL sink — turtle serialization as a text column
    (plans/triples.ttl_lines; write with df.write.text)."""
    from .triples import ttl_lines

    return ttl_lines(_triples_df(spark, sf_dir))


# ===========================================================================
# explorer path (plans/explorer.py sinks and lookups)
# ===========================================================================


@register(
    "settings_inventory",
    oracle="""
WITH d AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
         'Profile ' || lang AS section
  FROM documents
), sh AS (
  SELECT section, h.header, doc_id
  FROM d, (SELECT UNNEST(['Idx', 'Word']) AS header) h
), rk AS (
  SELECT section, header, doc_id,
         ROW_NUMBER() OVER (PARTITION BY section, header
                            ORDER BY doc_id) AS rn
  FROM sh
), ex AS (
  SELECT section, header,
         string_agg(doc_id, ',' ORDER BY doc_id) AS examples
  FROM rk WHERE rn <= 3 GROUP BY section, header
)
SELECT rk.section, rk.header, COUNT(*) AS n_tables, ex.examples,
       CASE WHEN rk.header = 'Word' THEN 'dbo:word' ELSE '' END AS property
FROM rk JOIN ex ON rk.section = ex.section AND rk.header = ex.header
GROUP BY rk.section, rk.header, ex.examples
""",
)
def settings_inventory_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A5/A6/O4/J4: the full pyDomainExplorer inventory path — sections x
    headers with <=3 example pages and ontology-prefilled properties
    (plans/explorer.py); 'Idx' has no ontology label, so its property is the
    blank the user fills in."""
    from .explorer import settings_inventory
    from .extract import extract_pipeline

    docs = synthesize_docs_from_testdata(spark, sf_dir)
    out, _ = extract_pipeline(docs, num_partitions=32, prefilter=False, spread="coalesce")
    # settings_inventory reads its input once (a hash exchange, no range
    # sample); the persist gives it the same materialized extraction the
    # triple queries read, as production reads the parse from a table
    out = out.persist()
    ontology = spark.createDataFrame(
        [("word", "dbo:word"), ("unused", "dbo:unused")], ["label", "property"]
    )
    # serialize the examples array so the driver canonicalizer can hash it
    return settings_inventory(out, ontology).withColumn(
        "examples", F.array_join("examples", ",")
    )


@register(
    "section_fuzzy_merge",
    oracle="""
WITH sections AS (
  SELECT DISTINCT p_type AS section FROM part
  UNION
  SELECT DISTINCT split_part(p_type, ' ', 1) FROM part
),
pairs AS (
  SELECT s.section, t.section AS candidate
  FROM sections s JOIN sections t
    ON s.section LIKE '%' || t.section || '%'
)
SELECT section, MIN(candidate ORDER BY length(candidate), candidate) AS group_key
FROM pairs GROUP BY section
""",
)
def section_fuzzy_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the explorer's substring-based section merge ('College' absorbs
    'College statistics', pyDomainExplorer.py:119-139) — rebuilt
    order-independently as a self-join on substring containment with a
    deterministic canonical key (shortest contained section).  The section
    vocabulary is tiny (it is GROUPed output), so the self-join broadcasts."""
    part = load_table(spark, sf_dir, "part")
    sections = (
        part.select(F.col("p_type").alias("section"))
        .union(part.select(F.split("p_type", " ")[0].alias("section")))
        .distinct()
    )
    cand = sections.select(F.col("section").alias("candidate"))
    pairs = sections.join(
        F.broadcast(cand), F.col("section").contains(F.col("candidate"))
    )
    return pairs.groupBy("section").agg(
        F.expr(
            "min_by(candidate, struct(length(candidate), candidate))"
        ).alias("group_key")
    )


@register(
    "ontology_label_probe",
    oracle="""
WITH ontology AS (
  SELECT DISTINCT lower(n_name) AS label,
         'dbo:' || replace(lower(n_name), ' ', '_') AS property
  FROM nation
)
SELECT COALESCE(o.property, 'NO_PROPERTY') AS property, COUNT(*) AS n
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN ontology o ON lower(n.n_name) = o.label AND n.n_nationkey % 2 = 0
GROUP BY 1
""",
)
def ontology_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: the explorer's DBpedia-ontology label lookup
    (pyDomainExplorer.py:206-230) as a broadcast left join against an
    ontology(label -> property) table; misses become the settings-file
    blanks the user fills in."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ontology = nation.select(
        F.lower("n_name").alias("label"),
        F.concat(
            F.lit("dbo:"), F.replace(F.lower("n_name"), F.lit(" "), F.lit("_"))
        ).alias("property"),
    ).distinct()
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(ontology),
            (F.lower("n_name") == F.col("label"))
            & (F.col("n_nationkey") % 2 == 0),
            "left",
        )
        .select(F.coalesce("property", F.lit("NO_PROPERTY")).alias("property"))
        .groupBy("property")
        .agg(F.count("*").alias("n"))
    )


@register(
    "resource_list",
    oracle="""
WITH u AS (
  SELECT CASE
           WHEN p_partkey % 3 = 0
             THEN 'http://dbpedia.org/resource/' || replace(p_name, ' ', '_')
           WHEN p_partkey % 3 = 1
             THEN 'http://dbpedia.org/ontology/' || replace(p_name, ' ', '_')
           ELSE 'http://resourceful.example/' || replace(p_name, ' ', '_')
         END AS uri
  FROM part WHERE p_partkey < 300
), parts AS (
  SELECT uri, string_split(uri, '/') AS p FROM u WHERE contains(uri, 'resource')
)
SELECT p[list_position(p, 'resource') + 1] AS line
FROM parts WHERE list_position(p, 'resource') > 0
""",
)
def resource_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the Selector's resource-list sink content (Selector.py:80-124) —
    URIs with an exact 'resource' path segment reduced to the name after it;
    'ontology' URIs and URIs merely CONTAINING 'resource' (ValueError ->
    skipped in the reference) are dropped."""
    from .explorer import resource_list_lines

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    name = F.replace("p_name", F.lit(" "), F.lit("_"))
    uris = p.select(
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.lit("http://dbpedia.org/resource/"), name),
        )
        .when(
            F.col("p_partkey") % 3 == 1,
            F.concat(F.lit("http://dbpedia.org/ontology/"), name),
        )
        .otherwise(F.concat(F.lit("http://resourceful.example/"), name))
        .alias("uri")
    )
    return resource_list_lines(uris)
