"""The span -> triple chain (``emit_triples``, ``settings_inventory``) against
a short pure-Python statement of its span semantics.

The statement pins the CURRENT positional semantics: a table is the run of
spans from one 'section' span to the next, its headers are its 'header'
spans in order, and cell k of the table's cell sequence pairs with header
k mod n (J5).  The kernel drops '-' cells before they become spans, so on
real pages this zip misaligns a row after an empty cell; ROADMAP's
structural-columns item moves row and column indices into the kernel's
output, which will change the zip and this statement with it.
"""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import given, settings, strategies as st

TRIPLE_COLS = ["doc_id", "subject", "predicate", "object", "object_kind", "t_order"]

RULES = {
    "SECTION_Career": "careerStation",
    "SECTION_Stats": "statistics",
    # no rule for 'Unmapped': the J2 gate drops those tables
    "Career_Year": "year",  # strict beats loose inside 'Career'
    "Year": "season",
    "Team": "team",
    "Goals": "goals",
    # no rule for 'Note': its cells map to nothing
}
ENTITIES = {"Milan", "Pulp_Fiction"}
ONTOLOGY = {"year": "dbo:year", "note": "dbo:note"}


def _py2_float(text: str) -> bool:
    """py2 ``float()`` on the ASCII texts generated here: Python 3 also
    accepts '_' digit separators, py2 does not."""
    if "_" in text:
        return False
    try:
        float(text)
    except ValueError:
        return False
    return True


def _adjust(text: str) -> str:
    return re.sub(r" $", "", re.sub(r"^ ", "", text)).replace(" ", "_")


def _tables(spans):
    """doc_id -> [(section, headers, [(text, media_ref)])] for the tables that
    start at a section span; spans before a doc's first section belong to
    no table."""
    by_doc = {}
    for doc_id, kind, text, media_ref, order in sorted(
        spans, key=lambda s: (s[0], s[4])
    ):
        tables = by_doc.setdefault(doc_id, [])
        if kind == "section":
            tables.append((text, [], []))
        elif tables and kind == "header":
            tables[-1][1].append(text)
        elif tables and kind == "cell":
            tables[-1][2].append((text, media_ref))
    return by_doc


def spec_triples(spans, rules, entities=None):
    """Reference-Mapper semantics over spans (Mapper.py:83-113): per mapped
    table (J2 gate), one row triple per row of n = len(headers) cells under
    a per-doc counter (A9), then one triple per cell whose header has a
    strict `<section>_<header>` or loose `<header>` rule (J1), skipping '-'
    (P6), typed media-uri, float (F10), entity probe, string."""
    out = []
    for doc_id, tables in _tables(spans).items():
        reif = 0
        for section, headers, cells in tables:
            section_prop = rules.get("SECTION_" + section)
            if section_prop is None or not headers:
                continue
            n = len(headers)
            for start in range(0, len(cells), n):
                reif += 1
                subject = f"{doc_id}__{reif}"
                t_row = reif * 1000
                out.append((doc_id, doc_id, section_prop, subject, "resource", t_row))
                for col, (text, media_ref) in enumerate(cells[start : start + n]):
                    header = headers[col]
                    prop = rules.get(f"{section}_{header}", rules.get(header))
                    if prop is None or text == "-":
                        continue
                    if media_ref:
                        obj, kind = media_ref, "uri"
                    elif _py2_float(text):
                        obj, kind = text, "float"
                    elif entities is not None and _adjust(text) in entities:
                        obj, kind = _adjust(text), "resource"
                    else:
                        obj, kind = text, "string"
                    out.append((doc_id, subject, prop, obj, kind, t_row + col + 1))
    return Counter(out)


def spec_inventory(spans, ontology, max_examples=3):
    """(section, header, n_tables, examples, property): one count per header
    occurrence, the first sorted doc ids, the case-insensitive label match."""
    docs = {}
    for doc_id, tables in _tables(spans).items():
        for section, headers, _ in tables:
            for header in headers:
                docs.setdefault((section, header), []).append(doc_id)
    return Counter(
        (s, h, len(ds), tuple(sorted(set(ds))[:max_examples]),
         ontology.get(h.lower(), ""))
        for (s, h), ds in docs.items()
    )


def _frames(spark, spans, rules):
    return (
        spark.createDataFrame(spans, "doc_id string, kind string, text string, "
                              "media_ref string, order int"),
        spark.createDataFrame(sorted(rules), "key string, property string"),
    )


def _triples(df):
    return Counter(tuple(r[c] for c in TRIPLE_COLS) for r in df.collect())


_TEXT = st.sampled_from(
    ["Milan", " Milan", "Pulp Fiction", "AC Milan", "1.5", "1.5D", " 7 ",
     "inf", "1_0", "-", "x", "Year"]
)
# (text, media_ref, has a link span)
_CELL = st.tuples(_TEXT, st.sampled_from(["", "", "", "img://a.jpg"]), st.booleans())
_TABLE = st.tuples(
    st.sampled_from(["Career", "Stats", "Unmapped"]),
    st.lists(st.sampled_from(["Year", "Team", "Goals", "Note"]), max_size=3),
    st.lists(_CELL, max_size=7),
)
# (cells before the first section, tables)
_DOCS = st.lists(
    st.tuples(st.lists(_CELL, max_size=2), st.lists(_TABLE, max_size=3)),
    min_size=1,
    max_size=6,
)


def _spans(docs):
    """Kernel-shaped span rows: per table its section, headers, then cells,
    a linked cell preceded by its 'link' span and a media cell followed by
    its 'media' span (neither is a cell to the chain); a doc's leading cells
    come before any section."""
    rows = []
    for d, (leading, tables) in enumerate(docs):
        doc_id = f"doc_{d}"
        seq = []
        cells = lambda cs: [  # noqa: E731
            span
            for text, ref, link in cs
            for span in ([("link", text, "")] if link else [])
            + [("cell", text, ref)]
            + ([("media", "caption", ref)] if ref else [])
        ]
        seq += cells(leading)
        for section, headers, tcells in tables:
            seq.append(("section", section, ""))
            seq += [("header", h, "") for h in headers]
            seq += cells(tcells)
        rows += [(doc_id, k, t, r, i) for i, (k, t, r) in enumerate(seq)]
    return rows


@settings(max_examples=5, deadline=None)
@given(docs=_DOCS)
def test_chain_matches_span_semantics(spark, docs):
    """Several tables per doc, gated and ungated, headerless and header-only
    tables, cells before the first section, '-' cells, media refs and
    entity hits: emit_triples (with and without the entity probe) and
    settings_inventory equal the pure-Python statement as multisets."""
    from table_extractor_spark.plans.explorer import settings_inventory
    from table_extractor_spark.plans.triples import emit_triples

    spans = _spans(docs)
    spans_df, rules_df = _frames(spark, spans, RULES.items())
    ents = spark.createDataFrame([(e,) for e in sorted(ENTITIES)], "entity string")
    onto = spark.createDataFrame(
        sorted(ONTOLOGY.items()), "label string, property string"
    )

    assert _triples(emit_triples(spans_df, rules_df)) == spec_triples(spans, RULES)
    assert _triples(emit_triples(spans_df, rules_df, ents)) == spec_triples(
        spans, RULES, ENTITIES
    )
    got = Counter(
        (r.section, r.header, r.n_tables, tuple(r.examples), r.property)
        for r in settings_inventory(spans_df, onto).collect()
    )
    assert got == spec_inventory(spans, ONTOLOGY)


def test_headerless_table_maps_to_nothing(spark):
    """A gated table with cells but no header span emits no triple and takes
    no reification index (it used to fail the job under ANSI mode with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT)."""
    from table_extractor_spark.plans.triples import emit_triples

    spans = [
        ("d", "section", "S", "", 0),
        ("d", "cell", "x", "", 1),
        ("d", "cell", "y", "", 2),
        ("d", "section", "S", "", 3),
        ("d", "header", "H", "", 4),
        ("d", "cell", "z", "", 5),
    ]
    rules = [("SECTION_S", "p"), ("H", "h")]
    got = _triples(emit_triples(*_frames(spark, spans, rules)))
    assert got == Counter(
        [
            ("d", "d", "p", "d__1", "resource", 1000),
            ("d", "d__1", "h", "z", "string", 1001),
        ]
    )
    assert got == spec_triples(spans, dict(rules))


def test_repeated_rule_key_fans_out(spark):
    """Rules follow the reference's dict contract (unique keys); a repeated
    key fans out, one triple per rule row that supplies the gate or the
    predicate — row triples are not deduplicated."""
    from table_extractor_spark.plans.triples import emit_triples

    spans = [
        ("d", "section", "S", "", 0),
        ("d", "header", "H", "", 1),
        ("d", "cell", "v", "", 2),
    ]
    rules = [
        ("SECTION_S", "p1"),
        ("SECTION_S", "p1"),
        ("SECTION_S", "p2"),
        ("S_H", "h"),
        ("S_H", "h"),
    ]
    got = _triples(emit_triples(*_frames(spark, spans, rules)))
    row = lambda p: ("d", "d", p, "d__1", "resource", 1000)  # noqa: E731
    cell = ("d", "d__1", "h", "v", "string", 1001)
    # the cell triple: 3 section rows x 2 strict rows
    assert got == Counter({row("p1"): 2, row("p2"): 1, cell: 6})
