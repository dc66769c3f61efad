"""Sources/sinks: testdata parquet loaders and corpus materialization.

At production scale the documents table is an Iceberg table
(``spark.read.table`` / ``df.writeTo(...).append()`` with snapshot-incremental
reads, SURVEY §2.8); this sandbox has no Iceberg runtime jar, so we read/write
parquet directories and gate Iceberg usage behind availability — the plan
shape (scan -> filter -> shuffle -> kernel) is identical either way.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import corpus_rows

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def fixture_corpus_df(spark: SparkSession, copies: int = 1) -> DataFrame:
    """The deterministic fixture corpus as a DataFrame (FIXTURES.md §1)."""
    from ..plans.extract import INPUT_SCHEMA

    return spark.createDataFrame(corpus_rows(copies), schema=INPUT_SCHEMA)


def synthesize_docs_from_testdata(
    spark: SparkSession, sf_dir: str, limit: Optional[int] = None,
    table_rows: int = 6, media_anchors: bool = False,
    link_anchors: bool = False, header_colspan: bool = False,
    vertical: bool = False, totale_rows: bool = False,
    summary_row: bool = False, supersub: bool = False,
    accent_fallback: bool = False, header_quirks: bool = False,
    error_tables: bool = False,
) -> DataFrame:
    """Deterministically derive an interleaved (doc_id, spans) corpus from the
    driver's ``documents`` table (BASELINE.json: "synthesise it
    deterministically at small scale ... no external data").

    Each source row becomes one document:
      span0: heading  'Profile <lang>'
      span1: text     prose prefix + a wikitable whose rows are the first
                      up-to-6 words of the document text (2 columns: idx, word)
      span2: media    img://doc_<id>/0.jpg  (caption = source)

    The construction is pure SQL over (doc_id, text, lang, source) — which is
    exactly what lets the DuckDB oracle recompute the expected extraction
    output independently (see __spark_entry__.oracle_sql).

    ``table_rows`` scales per-document weight (default 6 — keep: the DuckDB
    oracle for ``extract_synthetic`` encodes it).  Values beyond the document's
    word count wrap around the word list, so benchmarks can synthesize
    reference-scale pages (dozens of rows per table) deterministically.
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if limit:
        docs = docs.orderBy("doc_id").limit(limit)
    # Spread the RAW rows before the markup projection.  documents.parquet
    # is a single row group at every test SF, so the scan is effectively one
    # partition no matter how many splits Spark plans — without this, the
    # whole markup synthesis runs in one task and the downstream pipeline
    # shuffles the SYNTHESIZED markup (~15x the raw bytes per doc at
    # table_rows=48) to spread it.  Hash-repartitioning the narrow raw
    # columns instead ships the small rows once and lets every later stage
    # (synthesis projection, kernel coalesce) run wide — guide §2.3
    # "shuffle keys and metadata instead of payloads".
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # staged under a NON-conflicting name: the final select aliases the
    # string id AS doc_id, and column references inside higher-order-function
    # lambdas resolve against that lateral alias instead of the child's
    # numeric doc_id (measured: media hrefs came out 'doc_doc_0')
    docs = docs.withColumn(
        "__did",
        F.concat(
            F.lit("Pelé_" if accent_fallback else "doc_"),
            F.col("doc_id").cast("string"),
        ),
    )
    base_words = F.split(F.col("text"), " ")
    repeats = table_rows // 10 + 2  # docs have >=10 words at every SF
    words = F.slice(
        F.flatten(F.array_repeat(base_words, repeats)), 1, table_rows
    )
    did_expr = F.col("__did")
    if link_anchors:
        # every word cell is a blue link (title attr): the anchor's resolved
        # target becomes a 'link' span before the cell value (F13 two-rule
        # value extraction + the reference's multi-value cell emission)
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>w"), i.cast("string"), F.lit("</td><td>"),
                    F.lit('<a href="/wiki/x" title="lnk '), did_expr,
                    F.lit(" r"), i.cast("string"), F.lit('">'), w,
                    F.lit("</a></td></tr>"),
                ),
            ),
        )
    elif media_anchors:
        # every word cell carries an image anchor (class='image', media
        # href): the reference's embedded-image case — the anchor itself
        # contributes no text value, the href becomes the cell's media_ref
        # plus a trailing 'media' span (kernel/document.py emission)
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>w"), i.cast("string"), F.lit("</td><td>"),
                    F.lit('<a href="img://'), did_expr, F.lit("/r"),
                    i.cast("string"), F.lit('.jpg" class="image"></a>'),
                    w, F.lit("</td></tr>"),
                ),
            ),
        )
    else:
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>w"), i.cast("string"), F.lit("</td><td>"),
                    w, F.lit("</td></tr>"),
                ),
            ),
        )
    if error_tables:
        # one headerless table (E2, no_headers) + one dataless table (E3,
        # no_data) per doc: both are analyzed, counted in the metrics, and
        # emit NO spans (HtmlTableParser.py:197-211)
        table_markup = F.lit(
            '<table class="wikitable"><tr><td>a</td></tr>'
            "<tr><td>b</td></tr></table>"
            '<table class="wikitable"><tr><th>H</th></tr></table>'
        )
    elif header_quirks:
        # header-vs-data cleanup asymmetry: nbsp is DELETED from headers but
        # becomes ' ' in data; citations are stripped from headers but KEPT
        # in data; single quotes become '.' in headers only
        # (HtmlTableParser.py:359-367, :474-489, :716-755)
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>a\u00a0"), i.cast("string"),
                    F.lit("</td><td>"), w, F.lit("[2]</td></tr>"),
                ),
            ),
        )
        table_markup = F.concat(
            F.lit('<table class="wikitable">'
                  "<tr><th>Id\u00a0x</th><th>Wo'rd[1]</th></tr>"),
            row_markup,
            F.lit("</table>"),
        )
    elif supersub:
        # two-row header with colspan + rowspan: 'P' (colspan 2) absorbs the
        # sub-headers A and B as 'P - A'/'P - B'; 'Y' (rowspan 2) fills a
        # BLANK-text copy down into the sub row, so the flatten keeps the
        # super text alone (HtmlTableParser.py:439-472 + :520-587)
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>w"), i.cast("string"), F.lit("</td><td>"),
                    w, F.lit("</td><td>z"), i.cast("string"),
                    F.lit("</td></tr>"),
                ),
            ),
        )
        table_markup = F.concat(
            F.lit('<table class="wikitable">'
                  '<tr><th colspan="2">P</th><th rowspan="2">Y</th></tr>'
                  "<tr><th>A</th><th>B</th></tr>"),
            row_markup,
            F.lit("</table>"),
        )
    elif summary_row:
        # career-summary shape (P5): the last row's two numeric cells equal
        # the running column sums of the prior rows AND its text cell
        # differs from the previous row's by >=7 unique chars -> dropped by
        # filter_summary_rows (MapperTools.py:211-254)
        w0 = F.element_at(words, 1)
        w1 = F.element_at(words, 2)
        table_markup = F.concat(
            F.lit('<table class="wikitable">'
                  "<tr><th>Season</th><th>Goals</th><th>Apps</th></tr>"
                  "<tr><td>"), w0,
            F.lit("</td><td>10</td><td>1</td></tr><tr><td>"), w1,
            F.lit("</td><td>20</td><td>2</td></tr>"
                  "<tr><td>Career totals xyz</td><td>30</td><td>3</td></tr>"
                  "</table>"),
        )
    elif totale_rows:
        # row layout: word row 0, TWO adjacent 'Totale' rows, word row 1 —
        # the reference's remove-while-iterating filter deletes the FIRST
        # Totale row and the cursor then skips the second (it shifted into
        # the deleted slot), so the second Totale row SURVIVES to the output
        w0 = F.element_at(words, 1)
        w1 = F.element_at(words, 2)
        table_markup = F.concat(
            F.lit('<table class="wikitable"><tr><th>Idx</th><th>Word</th></tr>'
                  "<tr><td>w0</td><td>"), w0,
            F.lit("</td></tr>"
                  "<tr><td>Totale</td><td>sumA</td></tr>"
                  "<tr><td>Totale</td><td>sumB</td></tr>"
                  "<tr><td>w1</td><td>"), w1,
            F.lit("</td></tr></table>"),
        )
    elif vertical:
        # every row is <th>K<i></th><td>word</td>: the reference marks the
        # table VERTICAL (th+td in one row), takes the first cell of each
        # header row as the refined headers, and then positionally joins
        # with n_headers = len(first header ROW) = 1 — each row's th and td
        # become TWO single-value row-dicts keyed by the first header
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><th>K"), i.cast("string"), F.lit("</th><td>"),
                    w, F.lit("</td></tr>"),
                ),
            ),
        )
        table_markup = F.concat(
            F.lit('<table class="wikitable">'), row_markup, F.lit("</table>")
        )
    elif header_colspan:
        # colspan header + 3-cell data rows: the expansion duplicates the
        # 'Pair' header (same dict object), and the positional join keyed by
        # header TEXT then collapses the first data cell away (last value
        # wins) — the reference's signature quirk, here made oracle-checkable
        row_markup = F.concat_ws(
            "",
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit("<tr><td>w"), i.cast("string"), F.lit("</td><td>"),
                    w, F.lit("</td><td>z"), i.cast("string"),
                    F.lit("</td></tr>"),
                ),
            ),
        )
        table_markup = F.concat(
            F.lit('<table class="wikitable">'
                  '<tr><th colspan="2">Pair</th><th>Sing</th></tr>'),
            row_markup,
            F.lit("</table>"),
        )
    else:
        table_markup = F.concat(
            F.lit('<table class="wikitable"><tr><th>Idx</th><th>Word</th></tr>'),
            row_markup,
            F.lit("</table>"),
        )
    did = F.col("__did")
    if accent_fallback:
        # HEADING-LESS document with an accented page title: the section
        # falls back to the doc_id — a py2 BYTE-string there, so it IS
        # accent-folded (Utilities.py:451-464 + :262-268), unlike heading
        # text which stays unicode/unfolded (F6's asymmetry)
        return docs.select(
            did.alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.concat(F.lit("About this page. "), table_markup).alias(
                        "text"
                    ),
                    F.lit("").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    return docs.select(
        did.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("heading").alias("kind"),
                F.concat(F.lit("Profile "), F.col("lang")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("About this page. "), table_markup).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.col("source").alias("text"),
                F.concat(F.lit("img://"), did, F.lit("/0.jpg")).alias("media_ref"),
                F.lit(2).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
