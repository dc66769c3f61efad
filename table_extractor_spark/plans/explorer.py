"""The pyDomainExplorer path: sections x headers inventory + settings sink.

The reference explorer (SURVEY §3.2) crawls a domain, collects every table's
(section, headers) pair, dedups headers, pre-fills ontology properties via
label lookup, and writes ``domain_settings.py`` — a fill-in-the-blanks file
the user edits into mapping rules (WriteSettingsFile.py:36-104).

Rebuilt Spark-first over the extraction output: the same parse kernel (run
with full depth — headers are a prefix of the span sequence), then pure
DataFrame aggregation.  At domain scale the inventory is tiny (it is GROUPed
output), so the ontology join broadcasts.  ``settings_inventory`` reads its
spans once and shuffles twice: on doc_id for the table windows, and for the
(section, header) groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .triples import TABLE_IDX_SQL


def table_inventory(out_spans: DataFrame) -> DataFrame:
    """(doc_id, table_idx, section, header) — one row per header occurrence.

    Reconstructs table membership from the ordered span sequence: a table's
    spans start at its 'section' span (running count = W2-style latch,
    ``triples.TABLE_IDX_SQL``), and each header takes its table's section
    from a window over (doc_id, table_idx).  Both windows ride one hash
    exchange on ``doc_id``; headers before a doc's first section belong to
    no table and are dropped."""
    return (
        out_spans.where("kind IN ('section', 'header')")
        .selectExpr("*", TABLE_IDX_SQL)
        .selectExpr(
            "*",
            "max(CASE WHEN kind = 'section' THEN text END) "
            "OVER (PARTITION BY doc_id, table_idx) AS section",
        )
        .where("kind = 'header' AND table_idx > 0")
        .selectExpr("doc_id", "table_idx", "section", "text AS header")
    )


def settings_inventory(
    out_spans: DataFrame, ontology: DataFrame, max_examples: int = 3
) -> DataFrame:
    """A5/A6/O4/J4: the domain_settings content as a DataFrame:

    (section, header, n_tables, examples<=3, property) — property pre-filled
    from the ontology label table when a case-insensitive match exists, else
    '' (the blank the user fills in, WriteSettingsFile.py:60-104)."""
    grouped = table_inventory(out_spans).groupBy("section", "header").agg(
        F.expr("count(*) AS n_tables"),
        F.expr(
            f"slice(sort_array(collect_set(doc_id)), 1, {int(max_examples)}) "
            "AS examples"
        ),
    )
    onto = ontology.selectExpr("lower(label) AS __label", "property AS __prop")
    return grouped.join(
        F.broadcast(onto), F.expr("lower(header) = __label"), "left"
    ).selectExpr(
        "section", "header", "n_tables", "examples",
        "coalesce(__prop, '') AS property",
    )


def settings_lines(inventory: DataFrame) -> DataFrame:
    """S6: the settings-FILE sink — 'SECTION_<s>' group headers followed by
    '<header> = <property>' lines, ordered like WriteSettingsFile.py:27
    (sections sorted).  Write with df.select("line").write.text."""
    # section key normalization per WriteSettingsFile.py:60-62:
    # ' ' and '-' -> '_'; replace_accents is a NO-OP for these keys in the
    # reference (unicode input hits the TypeError quirk of
    # delete_accented_characters, Utilities.py:451-464) so accents stay
    section_lines = inventory.select(
        F.col("section"),
        F.lit(0).alias("pos"),
        F.lit("").alias("hdr"),
        F.concat(
            F.lit("SECTION_"),
            F.translate("section", " -", "__"),
        ).alias("line"),
    ).distinct()
    header_lines = inventory.select(
        "section",
        F.lit(1).alias("pos"),
        F.col("header").alias("hdr"),
        F.concat_ws(" = ", "header", "property").alias("line"),
    )
    return (
        section_lines.unionByName(header_lines)
        .orderBy("section", "pos", "hdr")
        .select("section", "line")
    )


def resource_list_lines(uris: DataFrame, uri_col: str = "uri") -> DataFrame:
    """S7: the Selector's resource-list content (Selector.py:80-124): keep
    URIs containing 'resource', take the path segment AFTER the 'resource'
    segment, one name per line.  All JVM-side (split + array_position)."""
    parts = F.split(F.col(uri_col), "/")
    pos = F.array_position(parts, "resource")
    return (
        uris.filter(F.col(uri_col).contains("resource"))
        # a URI merely CONTAINING 'resource' without an exact segment hits
        # list.index's ValueError in the reference -> swallowed, row skipped
        .filter(pos > 0)
        .select(F.element_at(parts, (pos + 1).cast("int")).alias("line"))
        .filter(F.col("line").isNotNull())
    )


def write_resource_list(
    uris: DataFrame, path: str, uri_col: str = "uri"
) -> None:
    """S7 sink: ``Resource_lists/<date>_<topic>_<chapter>.txt`` equivalent —
    the caller picks the path; content is one resource name per line.  A
    plain distributed text write: at 10^9 resources this is many part files,
    exactly what a downstream Spark read wants (the reference's single
    file handle, Selector.py:106, is the single-node bottleneck replaced)."""
    resource_list_lines(uris, uri_col).write.mode("overwrite").text(path)
