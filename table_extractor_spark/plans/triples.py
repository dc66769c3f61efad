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

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.typing import py2_float_matches

SECTION_PREFIX = "SECTION_"


def adjust_resource(c: Column) -> Column:
    """``MapperTools.adjust_resource`` (:298-311): strip ONE leading and ONE
    trailing space, then every remaining space becomes '_' — the cell-value
    -> URI-tail normalization the reference applies before probing."""
    out = F.regexp_replace(c, r"^ ", "")
    out = F.regexp_replace(out, r" $", "")
    return F.replace(out, F.lit(" "), F.lit("_"))


def _table_cells(spans: DataFrame) -> DataFrame:
    """The cell spans of ``spans`` with the table structure rebuilt from each
    document's ordered span sequence:

    * ``table_idx``: running count of 'section' spans (W2-style latch), so a
      doc's spans before its first section form table 0;
    * ``section`` and the ordered ``headers`` of the cell's table;
    * ``row_idx``, ``col_idx`` and ``header``: the cell's position in its
      table's cell sequence, divided by and modulo the table's header count
      (J5 positional zip, HtmlTableParser.py:944-951).

    Cells of a table with no header span are dropped.  Every window
    partitions by ``doc_id`` first, so all of them share one distribution on
    the document: the caller's, if it already partitioned on ``doc_id``,
    else one hash exchange."""
    kind = F.col("kind")
    w_doc = Window.partitionBy("doc_id").orderBy("order")
    seg = spans.withColumn(
        "table_idx", F.sum(F.when(kind == "section", 1).otherwise(0)).over(w_doc)
    )

    # per table: its section text, its ordered header list, and each cell's
    # position in the table's cell sequence (one Window, one sort)
    w_tbl = Window.partitionBy("doc_id", "table_idx").orderBy("order")
    w_tbl_all = w_tbl.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_tbl_upto = w_tbl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hdrs = F.sort_array(
        F.collect_list(F.when(kind == "header", F.struct("order", "text"))).over(
            w_tbl_all
        )
    )
    return (
        seg.withColumn(
            "section", F.max(F.when(kind == "section", F.col("text"))).over(w_tbl_all)
        )
        .withColumn("headers", F.transform(hdrs, lambda h: h.getField("text")))
        .withColumn(
            "cell_seq",
            (F.count(F.when(kind == "cell", 1)).over(w_tbl_upto) - 1).cast("int"),
        )
        .withColumn("n_headers", F.size("headers"))
        .filter((kind == "cell") & (F.col("n_headers") > 0))
        # column index = position mod header count (J5)
        .withColumn("row_idx", (F.col("cell_seq") / F.col("n_headers")).cast("int"))
        .withColumn("col_idx", F.col("cell_seq") % F.col("n_headers"))
        .withColumn("header", F.element_at("headers", F.col("col_idx") + 1))
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
    """
    kind = F.col("kind")
    # every step below is a function of one document: the range exchange is
    # the plan's only shuffle of the spans, and each window partitions by
    # (doc_id, ...) so it reuses that distribution.  Link and media spans
    # carry nothing the triples read (a cell has its media_ref).
    spans = out_spans.filter(kind.isin("section", "header", "cell"))
    spans = spans.repartitionByRange("doc_id")

    cells = _table_cells(spans)

    # J2: section gate — inner broadcast join drops unmapped tables
    sect_rules = rules.select(
        F.col("key").alias("__skey"), F.col("property").alias("section_prop")
    )
    cells = cells.join(
        F.broadcast(sect_rules),
        F.concat(F.lit(SECTION_PREFIX), F.col("section")) == F.col("__skey"),
    )

    # reification index: monotone row counter across a doc's MAPPED tables
    # (A9) — dense_rank directly on the gated cells (each distinct (table,
    # row) gets the next counter value).  Computed AFTER the J2 gate because
    # the reference's map() never runs for an unmapped section, so gated
    # tables consume no reification indices (Mapper.py:92-98; pinned by the
    # randomized batch differential).
    w_rows = Window.partitionBy("doc_id").orderBy("table_idx", "row_idx")
    cells = cells.withColumn("reif", F.dense_rank().over(w_rows))

    # row and cell triples from the same frame: a row's first cell also
    # carries its row triple (Mapper.py:97-101), so every gated row gets one
    # whether or not any of its cells map
    cells = cells.withColumn(
        "is_row",
        F.explode(
            F.when(F.col("col_idx") == 0, F.array(F.lit(True), F.lit(False)))
            .otherwise(F.array(F.lit(False)))
        ),
    )
    is_row = F.col("is_row")
    # a row triple's predicate is its section's property: null keys keep
    # it out of the header-rule and entity joins
    cell_header = F.when(~is_row, F.col("header"))

    # J1: strict `<section>_<header>` then loose `<header>` cascade
    strict = rules.select(
        F.col("key").alias("__stkey"), F.col("property").alias("strict_prop")
    )
    loose = rules.select(
        F.col("key").alias("__lokey"), F.col("property").alias("loose_prop")
    )
    cells = (
        cells.join(
            F.broadcast(strict),
            F.concat("section", F.lit("_"), cell_header) == F.col("__stkey"),
            "left",
        )
        .join(F.broadcast(loose), cell_header == F.col("__lokey"), "left")
        .withColumn("prop", F.coalesce("strict_prop", "loose_prop"))
    )

    # row triples pass; cell triples are mapped, non-empty cells, typed via
    # the py2 float() grammar (F10, MapperTools.py:183-195) — NOT try_cast,
    # whose grammar differs (e.g. '1.5D' casts in Spark, raises in py2).  The
    # reference's xsd:int branch (Mapper.py:204-205) is unreachable for
    # string cells — every string py2 int() accepts, py2 float() accepts
    # first — so no 'int' kind exists here (documented rather than ported
    # as dead code).
    mapped = cells.filter(
        is_row | (F.col("prop").isNotNull() & (F.col("text") != "-"))
    )
    if entities is not None:
        ent = entities.select(F.col("entity").alias("__ent")).distinct()
        mapped = mapped.withColumn(
            "__adj", F.when(~is_row, adjust_resource(F.col("text")))
        ).join(F.broadcast(ent), F.col("__adj") == F.col("__ent"), "left")
        probe_hit = F.col("__ent").isNotNull()
        probe_obj = F.col("__adj")
    else:
        probe_hit = F.lit(False)
        probe_obj = F.col("text")

    subject_row = F.concat_ws("__", "doc_id", F.col("reif").cast("string"))
    is_media = F.col("media_ref") != ""
    is_float = py2_float_matches(F.col("text"))
    return mapped.select(
        "doc_id",
        F.when(is_row, F.col("doc_id")).otherwise(subject_row).alias("subject"),
        F.when(is_row, F.col("section_prop"))
        .otherwise(F.col("prop"))
        .alias("predicate"),
        F.when(is_row, subject_row)
        .when(is_media, F.col("media_ref"))
        .when(is_float, F.col("text"))
        .when(probe_hit, probe_obj)
        .otherwise(F.col("text"))
        .alias("object"),
        F.when(is_row, F.lit("resource"))
        .when(is_media, F.lit("uri"))
        .when(is_float, F.lit("float"))
        .when(probe_hit, F.lit("resource"))
        .otherwise(F.lit("string"))
        .alias("object_kind"),
        (
            F.col("reif") * 1000
            + F.when(is_row, 0).otherwise(F.col("col_idx") + 1)
        ).alias("t_order"),
    )


def _ttl_escape_literal(c: Column) -> Column:
    """Turtle string-literal escaping (grammar ECHAR): backslash first, then
    double quote, newline, carriage return, tab.  The reference serializes
    via rdflib (which escapes); emitting raw cell text would produce
    malformed Turtle for real wiki content."""
    out = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


# characters the IRIREF production forbids inside <...>, percent-encoded;
# '%' first so already-encoded input stays decodable
_IRI_ESCAPES = (
    ("%", "%25"), (" ", "%20"), ("<", "%3C"), (">", "%3E"), ('"', "%22"),
    ("{", "%7B"), ("}", "%7D"), ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
    ("\\", "%5C"), ("\n", "%0A"), ("\r", "%0D"), ("\t", "%09"),
)


def _ttl_escape_iri(c: Column) -> Column:
    """Percent-encode the IRIREF-forbidden characters in a URI tail built
    from data (doc_id / media_ref) so every <...> term is valid Turtle."""
    out = c
    for raw, enc in _IRI_ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(enc))
    return out


def ttl_lines(
    triples: DataFrame,
    base_uri: str = "http://dbpedia.org/resource/",
    ontology_uri: str = "http://dbpedia.org/ontology/",
) -> DataFrame:
    """S5: serialize triples to Turtle text lines (one string column), the
    DataFrame equivalent of graph.serialize(dest, 'turtle')
    (Analyzer.py:198-245).  Write with ``df.write.text``.  Literals are
    ECHAR-escaped and data-derived URI terms percent-encoded, so the output
    parses as Turtle whatever the cell text contains.

    Namespaces follow the reference's Mapper exactly (Mapper.py:76-81,
    100-113, confirmed against its PUBLISHED extraction outputs under
    Extractions/): subjects and resource-valued objects live under dbr
    (``base_uri``), mapped PROPERTIES under dbo (``ontology_uri``) — the
    r3-and-earlier serializer put predicates under dbr, which no reference
    .ttl ever does."""
    uri = lambda c: F.concat(  # noqa: E731
        F.lit("<"), F.lit(base_uri), _ttl_escape_iri(c), F.lit(">")
    )
    pred = F.concat(
        F.lit("<"), F.lit(ontology_uri), _ttl_escape_iri(F.col("predicate")),
        F.lit(">"),
    )
    lit = lambda c: F.concat(F.lit('"'), _ttl_escape_literal(c), F.lit('"'))  # noqa: E731
    obj = (
        F.when(F.col("object_kind") == "resource", uri(F.col("object")))
        .when(
            F.col("object_kind") == "uri",
            F.concat(F.lit("<"), _ttl_escape_iri(F.col("object")), F.lit(">")),
        )
        .when(
            F.col("object_kind") == "float",
            F.concat(
                lit(F.col("object")),
                F.lit("^^<http://www.w3.org/2001/XMLSchema#float>"),
            ),
        )
        # the reference types plain strings EXPLICITLY
        # (Mapper.check_value_type: Literal(..., datatype=XSD.string);
        # published .ttl shows "..."^^xsd:string) — term-identical to a
        # plain literal under RDF 1.1, serialized the reference's way
        .otherwise(
            F.concat(
                lit(F.col("object")),
                F.lit("^^<http://www.w3.org/2001/XMLSchema#string>"),
            )
        )
    )
    return triples.select(
        "doc_id",
        "t_order",
        F.concat_ws(
            " ", uri(F.col("subject")), pred, obj, F.lit(".")
        ).alias("line"),
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
    kind = F.col("kind")
    cells = _table_cells(spans.filter(kind.isin("section", "header", "cell")))
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
