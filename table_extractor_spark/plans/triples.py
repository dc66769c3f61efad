"""RDF triple emission: the reference Mapper's output path as DataFrame ops.

The reference maps each refined table row to triples (Mapper.py:83-113):

* a ROW triple  (resource, sectionProperty, resource__<k>)  where <k> is the
  per-document reification counter (A9, Mapper.py:97-98);
* per cell a CELL triple  (resource__<k>, headerProperty, typedValue)
  with the strict-then-loose rule cascade (J1, Mapper.py:134-191), the
  SECTION_ gate dropping whole unmapped tables (J2, :147-155), floats typed
  xsd:float via the py2 float test (F10, :193-214), and '-' cells skipped
  (P6, :104-106).

Here the same semantics run over the extraction output (out_spans) as pure
DataFrame transforms — window functions to reconstruct table/row/column
structure from the ordered span sequence, broadcast joins for the rules:

* table segmentation: running count of 'section' spans (W2-style latch);
* per table: its section and ordered header list, as windows over
  (doc_id, table_idx);
* column index: position within the table's cell sequence modulo the
  table's header count (J5 positional zip, HtmlTableParser.py:944-951);
* reification index: dense_rank over the doc's gated (table, row) (A9);
* rules: two broadcast LEFT joins + coalesce (strict `<section>_<header>`
  first, bare `<header>` second), inner broadcast join for the section gate;
* row and cell triples from one frame: a row's first cell also emits the
  row triple.

Every step is a function of one document, so the spans are shuffled once:
``emit_triples`` range-partitions them on doc_id, and every window
partitions by (doc_id, ...) and reuses that distribution.  The triples keep
it, so ``write_ttl``'s global (doc_id, t_order) sort is a sort inside each
partition.  The rule and entity tables are broadcast; the only other
shuffle is the entity table's ``distinct``.

Assumes tables whose data cells are plain text spans (kind='cell'); link
and media spans ride through as URI objects (media linkage per the north
rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.sql import sql_string
from ..functions.typing import PY2_FLOAT_RE

SECTION_PREFIX = "SECTION_"

# the spans the chain reads: link and media spans carry nothing it uses
# (a cell has its media_ref)
CHAIN_KINDS_SQL = "kind IN ('section', 'header', 'cell')"

# W2-style latch: a span's table is the running count of 'section' spans
# in its document, so a doc's spans before its first section form table 0
TABLE_IDX_SQL = (
    "sum(CASE WHEN kind = 'section' THEN 1 ELSE 0 END) "
    "OVER (PARTITION BY doc_id ORDER BY `order`) AS table_idx"
)


def adjust_resource(expr: str) -> str:
    """``MapperTools.adjust_resource`` (:298-311) over the SQL expression
    ``expr``: strip ONE leading and ONE trailing space, then every remaining
    space becomes '_' — the cell-value -> URI-tail normalization the
    reference applies before probing."""
    trimmed = f"regexp_replace(regexp_replace({expr}, '^ ', ''), ' $', '')"
    return f"replace({trimmed}, ' ', '_')"


def _table_cells(spans: DataFrame) -> DataFrame:
    """The cell spans of ``spans`` with the table structure rebuilt from each
    document's ordered span sequence:

    * ``table_idx``: running count of 'section' spans (``TABLE_IDX_SQL``);
    * ``section`` and the ordered ``headers`` of the cell's table;
    * ``row_idx``, ``col_idx`` and ``header``: the cell's position in its
      table's cell sequence, divided by and modulo the table's header count
      (J5 positional zip, HtmlTableParser.py:944-951).

    Cells of a table with no header span are dropped.  Every window
    partitions by ``doc_id`` first, so all of them share one distribution on
    the document: the caller's, if it already partitioned on ``doc_id``,
    else one hash exchange."""
    # per table: its section text, its ordered header list, and each cell's
    # position in the table's cell sequence (one Window, one sort)
    tbl = (
        "OVER (PARTITION BY doc_id, table_idx ORDER BY `order` "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND {})"
    )
    tbl_all = tbl.format("UNBOUNDED FOLLOWING")
    return (
        spans.selectExpr("*", TABLE_IDX_SQL)
        .selectExpr(
            "*",
            f"max(CASE WHEN kind = 'section' THEN text END) {tbl_all} AS section",
            "transform(sort_array(collect_list(CASE WHEN kind = 'header' "
            f"THEN struct(`order`, text) END) {tbl_all}), h -> h.text) AS headers",
            "CAST(count(CASE WHEN kind = 'cell' THEN 1 END) "
            f"{tbl.format('CURRENT ROW')} - 1 AS INT) AS cell_seq",
        )
        .where("kind = 'cell' AND size(headers) > 0")
        # column index = position mod header count (J5)
        .selectExpr(
            "*",
            "CAST(cell_seq / size(headers) AS INT) AS row_idx",
            "cell_seq % size(headers) AS col_idx",
            "element_at(headers, cell_seq % size(headers) + 1) AS header",
        )
    )


def emit_triples(
    out_spans: DataFrame, rules: DataFrame, entities: DataFrame = None
) -> DataFrame:
    """out_spans(doc_id, kind, text, media_ref, order) + rules(key, property)
    -> triples(doc_id, subject, predicate, object, object_kind, t_order).

    object_kind: 'resource' (row triples), 'uri' (cells with a media_ref),
    'float' (py-float-castable text, F10), else 'string'.

    ``entities`` (optional, column ``entity``) enables the reference's
    entity-existence probe (Mapper.check_value_type -> check_if_is_resource,
    Mapper.py:193-259): a non-float cell whose ``adjust_resource``-normalized
    value matches an existing entity becomes a 'resource' object carrying
    the ADJUSTED name (the reference emits ``dbr + resource_to_search``).
    The entity table is the dimension side — broadcast, J3's probe shape —
    and is expected to carry PRE-FOLDED probe keys (the reference folds
    accents at probe time, Utilities.py:451-464; at engine scale that fold
    belongs in the entity-table build, and the reference's substring-cache
    shortcut (Mapper.py:228-238) is a documented non-reproduced mechanic —
    the probe here is exact-match).  Typing precedence matches the
    reference: media-uri, then float, then resource probe, then string.

    ``rules`` follows the reference's contract: it is the mapping-rules
    dict as a frame, so keys are unique.  A frame that repeats a key fans
    out — every triple whose gate or predicate reads that key is emitted
    once per rule row carrying it (row triples included; they are not
    deduplicated).

    A table with cell spans but no header span maps to nothing: no row
    triples, no cell triples, and it takes no reification index — the
    kernel never emits such a table (the reference rejects it, E2
    HtmlTableParser.py:205-211).

    ``out_spans`` should be a materialized table (a parquet read or a
    persisted frame): the range exchange on ``doc_id`` samples its input
    in a job of its own before the shuffle reads it again.  The triples
    come out range-partitioned on ``doc_id``, which is the order
    ``write_ttl`` needs, so the TTL's global sort adds no exchange.

    The plan is written as SQL expression text in a few ``selectExpr``
    steps: building it costs a handful of parses, not a py4j call per
    ``Column`` node.
    """
    # every step below is a function of one document: the range exchange is
    # the plan's only shuffle of the spans, and each window partitions by
    # (doc_id, ...) so it reuses that distribution.
    spans = out_spans.where(CHAIN_KINDS_SQL).repartitionByRange("doc_id")
    cells = _table_cells(spans)

    # J2: section gate — inner broadcast join drops unmapped tables
    cells = cells.join(
        F.broadcast(rules.selectExpr("key AS __skey", "property AS section_prop")),
        F.expr(f"concat({sql_string(SECTION_PREFIX)}, section) = __skey"),
    )

    # reification index: monotone row counter across a doc's MAPPED tables
    # (A9) — dense_rank directly on the gated cells (each distinct (table,
    # row) gets the next counter value).  Computed AFTER the J2 gate because
    # the reference's map() never runs for an unmapped section, so gated
    # tables consume no reification indices (Mapper.py:92-98; pinned by the
    # randomized batch differential).
    cells = cells.selectExpr(
        "*",
        "dense_rank() OVER (PARTITION BY doc_id ORDER BY table_idx, row_idx) AS reif",
    )

    # row and cell triples from the same frame: a row's first cell also
    # carries its row triple (Mapper.py:97-101), so every gated row gets one
    # whether or not any of its cells map
    cells = cells.selectExpr(
        "*",
        "explode(CASE WHEN col_idx = 0 THEN array(true, false) "
        "ELSE array(false) END) AS is_row",
    )
    # a row triple's predicate is its section's property: null keys keep
    # it out of the header-rule and entity joins
    cell_header = "CASE WHEN NOT is_row THEN header END"

    # J1: strict `<section>_<header>` then loose `<header>` cascade
    strict = rules.selectExpr("key AS __stkey", "property AS strict_prop")
    loose = rules.selectExpr("key AS __lokey", "property AS loose_prop")
    cells = cells.join(
        F.broadcast(strict),
        F.expr(f"concat(section, '_', {cell_header}) = __stkey"),
        "left",
    ).join(F.broadcast(loose), F.expr(f"{cell_header} = __lokey"), "left")

    # row triples pass; cell triples are mapped, non-empty cells, typed via
    # the py2 float() grammar (F10, MapperTools.py:183-195) — NOT try_cast,
    # whose grammar differs (e.g. '1.5D' casts in Spark, raises in py2).  The
    # reference's xsd:int branch (Mapper.py:204-205) is unreachable for
    # string cells — every string py2 int() accepts, py2 float() accepts
    # first — so no 'int' kind exists here (documented rather than ported
    # as dead code).
    mapped = cells.selectExpr(
        "*", "coalesce(strict_prop, loose_prop) AS prop"
    ).where("is_row OR (prop IS NOT NULL AND text != '-')")
    if entities is not None:
        ent = entities.selectExpr("entity AS __ent").distinct()
        mapped = mapped.selectExpr(
            "*", f"CASE WHEN NOT is_row THEN {adjust_resource('text')} END AS __adj"
        ).join(F.broadcast(ent), F.expr("__adj = __ent"), "left")
        probe_hit, probe_obj = "__ent IS NOT NULL", "__adj"
    else:
        probe_hit, probe_obj = "false", "text"

    subject_row = "concat_ws('__', doc_id, CAST(reif AS STRING))"
    is_media = "media_ref != ''"
    is_float = f"text RLIKE {sql_string(PY2_FLOAT_RE)}"
    return mapped.selectExpr(
        "doc_id",
        f"CASE WHEN is_row THEN doc_id ELSE {subject_row} END AS subject",
        "CASE WHEN is_row THEN section_prop ELSE prop END AS predicate",
        f"CASE WHEN is_row THEN {subject_row} WHEN {is_media} THEN media_ref "
        f"WHEN {is_float} THEN text WHEN {probe_hit} THEN {probe_obj} "
        "ELSE text END AS object",
        f"CASE WHEN is_row THEN 'resource' WHEN {is_media} THEN 'uri' "
        f"WHEN {is_float} THEN 'float' WHEN {probe_hit} THEN 'resource' "
        "ELSE 'string' END AS object_kind",
        "reif * 1000 + CASE WHEN is_row THEN 0 ELSE col_idx + 1 END AS t_order",
    )


# Turtle string-literal escaping (grammar ECHAR): backslash first, then
# double quote, newline, carriage return, tab
_ECHAR_ESCAPES = (
    ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"),
)

# characters the IRIREF production forbids inside <...>, percent-encoded;
# '%' first so already-encoded input stays decodable
_IRI_ESCAPES = (
    ("%", "%25"), (" ", "%20"), ("<", "%3C"), (">", "%3E"), ('"', "%22"),
    ("{", "%7B"), ("}", "%7D"), ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
    ("\\", "%5C"), ("\n", "%0A"), ("\r", "%0D"), ("\t", "%09"),
)


def _replace_all(expr: str, pairs) -> str:
    """SQL text applying ``replace`` for each (raw, escaped) pair in order."""
    for raw, enc in pairs:
        expr = f"replace({expr}, {sql_string(raw)}, {sql_string(enc)})"
    return expr


def ttl_lines(
    triples: DataFrame,
    base_uri: str = "http://dbpedia.org/resource/",
    ontology_uri: str = "http://dbpedia.org/ontology/",
) -> DataFrame:
    """S5: serialize triples to Turtle text lines (one string column), the
    DataFrame equivalent of graph.serialize(dest, 'turtle')
    (Analyzer.py:198-245).  Write with ``df.write.text``.  Literals are
    ECHAR-escaped (the reference serializes via rdflib, which escapes) and
    data-derived URI terms percent-encoded, so the output parses as Turtle
    whatever the cell text contains.

    Namespaces follow the reference's Mapper exactly (Mapper.py:76-81,
    100-113, confirmed against its PUBLISHED extraction outputs under
    Extractions/): subjects and resource-valued objects live under dbr
    (``base_uri``), mapped PROPERTIES under dbo (``ontology_uri``) — the
    r3-and-earlier serializer put predicates under dbr, which no reference
    .ttl ever does."""
    uri = lambda c: (  # noqa: E731
        f"concat('<', {sql_string(base_uri)}, {_replace_all(c, _IRI_ESCAPES)}, '>')"
    )
    pred = (
        f"concat('<', {sql_string(ontology_uri)}, "
        f"{_replace_all('predicate', _IRI_ESCAPES)}, '>')"
    )
    lit = f"""concat('"', {_replace_all('object', _ECHAR_ESCAPES)}, '"')"""
    xsd = "'^^<http://www.w3.org/2001/XMLSchema#{}>'".format
    obj = (
        f"CASE WHEN object_kind = 'resource' THEN {uri('object')} "
        "WHEN object_kind = 'uri' "
        f"THEN concat('<', {_replace_all('object', _IRI_ESCAPES)}, '>') "
        f"WHEN object_kind = 'float' THEN concat({lit}, {xsd('float')}) "
        # the reference types plain strings EXPLICITLY
        # (Mapper.check_value_type: Literal(..., datatype=XSD.string);
        # published .ttl shows "..."^^xsd:string) — term-identical to a
        # plain literal under RDF 1.1, serialized the reference's way
        f"ELSE concat({lit}, {xsd('string')}) END"
    )
    return triples.selectExpr(
        "doc_id",
        "t_order",
        f"concat_ws(' ', {uri('subject')}, {pred}, {obj}, '.') AS line",
    )


def ttl_file_lines(
    triples: DataFrame,
    base_uri: str = "http://dbpedia.org/resource/",
    partitions: int | None = None,
) -> DataFrame:
    """The TTL file's content: one ``line`` column in GLOBAL (doc_id,
    t_order) order across partitions, which ``write_ttl`` writes.

    A global ``orderBy`` needs its input range-partitioned on a prefix of
    the sort keys.  ``emit_triples`` output already is (on ``doc_id``), so
    the order costs only a sort inside each partition; any other input gets
    a range exchange, whose boundaries come from Spark's reservoir sample of
    the sort keys, so skew in doc sizes balances across files.
    ``partitions`` fixes the file count with an explicit range exchange
    that the sort then reuses."""
    lines = ttl_lines(triples, base_uri)
    if partitions is not None:
        lines = lines.repartitionByRange(partitions, "doc_id", "t_order")
    return lines.orderBy("doc_id", "t_order").select("line")


def write_ttl(
    triples: DataFrame,
    path: str,
    base_uri: str = "http://dbpedia.org/resource/",
    partitions: int | None = None,
) -> None:
    """S5 sink with GLOBAL (doc_id, t_order) order across the output files:
    file i's lines all precede file i+1's, and lines are sorted inside each
    file — the distributed equivalent of the reference's single ordered
    .ttl (Analyzer.py:198-245) without the single-partition sink that would
    funnel 10^12 rows through one task (see ``ttl_file_lines``)."""
    ttl_file_lines(triples, base_uri, partitions).write.mode("overwrite").text(path)


def linearize_tables(spans: DataFrame) -> DataFrame:
    """Per-document TRAINING TEXT from extracted table spans — the
    "table-to-text" serialization an LLM-pretraining pipeline applies to
    mined tables (each data row becomes "Header1: v1 | Header2: v2", rows
    joined by newlines in table order): the step that turns this engine's
    extraction output into corpus documents.

    Tables, their headers and each cell's (row, column) come from the same
    segmentation as ``emit_triples`` (``_table_cells``): a 'section' span
    opens a table, and cell k of a row pairs with header k (J5).  Rows join
    in (table, row) order.

    Returns (doc_id, n_rows, linearized) with the full text — md5-compact
    it at the query surface if the consumer only needs an identity.

    Shape: the segmentation windows and both groupBys share one hash
    exchange on the doc id; no join, no broadcast, no Python.
    """
    cells = _table_cells(spans.where(CHAIN_KINDS_SQL))
    pair = F.concat(F.col("header"), F.lit(": "), F.col("text"))
    rows = cells.groupBy("doc_id", "table_idx", "row_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("col_idx", pair.alias("p")))),
                lambda s: s.getField("p"),
            ),
            " | ",
        ).alias("__row_text")
    )
    return rows.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("table_idx", "row_idx", "__row_text"))
                ),
                lambda s: s.getField("__row_text"),
            ),
            "\n",
        ).alias("linearized"),
    )
