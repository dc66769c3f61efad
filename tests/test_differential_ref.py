"""Differential tests: my kernel vs the ACTUAL reference parser code.

For every fixture table (and extra adversarial tables) we serialize the DOM to
JSON, run the reference's own ``HtmlTableParser`` methods under Python 2.7 via
``ref_py2_harness.py`` (lxml stubbed with an API-equivalent fake element), and
assert my kernel produces identical refined headers / refined data / summary
filtering.  Skipped when no python2.7 interpreter is available.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest
from pyspark.sql import functions as F

from table_extractor_spark.kernel.grid import (
    Metrics,
    filter_summary_rows,
    parse_table,
)
from table_extractor_spark.kernel.htmlmini import Element, parse_fragment
from table_extractor_spark.sources.corpus import fixture_documents

PY2 = "/root/.pyenv/versions/2.7.18/bin/python2.7"
HARNESS = os.path.join(os.path.dirname(__file__), "ref_py2_harness.py")

pytestmark = pytest.mark.skipif(
    not os.path.exists(PY2), reason="python2.7 not available for differential run"
)


def dom_to_json(node: Element) -> dict:
    return {
        "tag": node.tag,
        "attrib": node.attrib,
        "children": [
            c if isinstance(c, str) else dom_to_json(c) for c in node.children
        ],
    }


def run_reference(table_json: dict, section: str = "Sec") -> dict:
    proc = subprocess.run(
        [PY2, HARNESS],
        input=json.dumps({"table": table_json, "section": section}).encode(),
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    return json.loads(proc.stdout.decode())


def run_mine(table: Element) -> dict:
    m = Metrics()
    tab = parse_table(table, m)
    data = tab.data_refined
    m.data_extracted_to_map = 0  # isolate the summary-filter delta (harness parity)
    if data:
        data = filter_summary_rows(data, m, tab.values)
    return {
        "headers_found": bool(getattr(tab, "headers", None) is not None and tab.error != "E2"),
        "vertical": 1 if tab.vertical else 0,
        "headers_refined": [h["th"] for h in tab.headers_refined],
        "headers_not_resolved": m.headers_not_resolved,
        "data_refined": [
            sorted([[k, list(v)] for k, v in row.items()]) for row in data
        ],
        "to_map_delta": m.data_extracted_to_map if data else 0,
    }


def tables_from_markup(markup: str):
    tables: list = []
    parse_fragment(markup, tables)
    return tables


def fixture_tables():
    out = []
    for doc_id, spans in fixture_documents():
        if doc_id == "soccer_mega":
            continue
        for s in spans:
            if s["kind"] == "text" and "<table" in s["text"]:
                for i, t in enumerate(tables_from_markup(s["text"])):
                    out.append((f"{doc_id}[{i}]", t))
    return out


EXTRA_MARKUP = {
    # colspan+rowspan header interaction (aliasing; collapses to E3, §2.10)
    "colspan_rowspan": (
        '<table class="wikitable">'
        '<tr><th colspan="2" rowspan="2">Big</th><th>S</th></tr><tr><th>X</th>'
        "</tr><tr><td>1</td><td>2</td><td>3</td></tr></table>"
    ),
    # channel-tunnel shape: rowspan + colspan with aligned sub row
    "tunnel": (
        '<table class="wikitable">'
        '<tr><th rowspan="2">Year</th><th colspan="2">Passengers</th></tr>'
        "<tr><th>Eurostar</th><th>Shuttle</th></tr>"
        "<tr><td>1995</td><td>2.9</td><td>1.2</td></tr></table>"
    ),
    # trailing header row after data (latch) + row longer than headers
    "latch_long_row": (
        '<table class="wikitable"><tr><th>A</th><th>B</th></tr>'
        "<tr><td>1</td><td>2</td><td>3</td></tr><tr><th>Z</th></tr></table>"
    ),
    # adjacent Totale rows (iterator-skip) and double Totale in one row (E3)
    "totale_adjacent": (
        '<table class="wikitable"><tr><th>A</th></tr>'
        "<tr><td>Totale</td></tr><tr><td>Totale</td></tr><tr><td>k</td></tr></table>"
    ),
    "totale_double": (
        '<table class="wikitable"><tr><th>A</th><th>B</th></tr>'
        "<tr><td>Totale</td><td>Totale</td></tr></table>"
    ),
    # duplicate header text, empty th, anchors with title / class=new
    "dup_headers": (
        '<table class="wikitable"><tr><th>X</th><th>X</th><th></th></tr>'
        "<tr><td>1</td><td>2</td><td>3</td></tr></table>"
    ),
    "anchors": (
        '<table class="wikitable"><tr><th>Who</th><th>Where</th></tr>'
        '<tr><td><a href="/wiki/A_B" title="A B">A B</a> extra</td>'
        '<td><a class="new">missing</a>text</td></tr></table>'
    ),
    # data colspan expansion + '-' empties + float zoo
    "data_colspan": (
        '<table class="wikitable"><tr><th>A</th><th>B</th><th>C</th></tr>'
        '<tr><td colspan="2">wide</td><td></td></tr>'
        "<tr><td>1e2</td><td> 7 </td><td>0.0</td></tr></table>"
    ),
    # vertical table with multiple tds per row
    "vertical_multi": (
        '<table class="wikitable"><tr><th>K</th><td>v1</td><td>v2</td></tr>'
        "<tr><th>L</th><td>w1</td></tr></table>"
    ),
    # summary-row filter: career totals matching running sums
    "summary": (
        '<table class="wikitable"><tr><th>Season</th><th>GP</th><th>G</th></tr>'
        "<tr><td>2010 Alpha Club</td><td>10</td><td>3</td></tr>"
        "<tr><td>2011 Alpha Club</td><td>20</td><td>5</td></tr>"
        "<tr><td>Career overall sum</td><td>30</td><td>8</td></tr></table>"
    ),
    # mean-based summary detection (str(mean) compare)
    "summary_mean": (
        '<table class="wikitable"><tr><th>Season</th><th>GP</th><th>G</th></tr>'
        "<tr><td>2010 Alpha Club</td><td>10</td><td>4</td></tr>"
        "<tr><td>2011 Alpha Club</td><td>20</td><td>6</td></tr>"
        "<tr><td>Career average xyzw</td><td>15.0</td><td>5.0</td></tr></table>"
    ),
    # nbsp asymmetry + citations + quotes + newline handling
    "cleanups": (
        '<table class="wikitable"><tr><th>Role\xa0[12]</th><th>Co\'s\nname</th></tr>'
        "<tr><td>Lead\xa0role</td><td>Big\nCo</td></tr></table>"
    ),
    # accented header -> ascii '?' -> '.', accented data kept
    "accents": (
        '<table class="wikitable"><tr><th>Campeão</th></tr>'
        "<tr><td>Pelé</td></tr></table>"
    ),
}


@pytest.mark.parametrize("name,table", fixture_tables())
def test_fixture_tables_match_reference(name, table):
    table_json = dom_to_json(table)
    ref = run_reference(table_json)
    mine = run_mine(table)
    for key in ("vertical", "headers_refined", "headers_not_resolved",
                "data_refined", "to_map_delta"):
        assert mine[key] == ref[key], f"{name}: {key}\nmine={mine[key]}\nref ={ref[key]}"


try:
    from hypothesis import assume, given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    _cell_text = st.text(
        alphabet=st.sampled_from(list("ab 1.5-Totale\xa0[]'é\n")), max_size=10
    )
    _attr = st.sampled_from(
        ["", ' rowspan="2"', ' colspan="2"', ' rowspan="3" colspan="2"',
         ' colspan="0"', ' colspan="zz"', ' rowspan="1"',
         ' colspan=" 2 "', " colspan='3'",
         # libxml2 lowercases attribute names: these must act like their
         # lowercase twins (pinned by the differential)
         ' COLSPAN="2"', ' RowSpan="2"']
    )
    # anchor flavors: blue link (title attr), red link (class=new), image
    _anchor = st.sampled_from(
        [
            "",
            '<a href="/wiki/A_B" title="A B">A B</a>',
            '<a class="new">missing page</a>',
            '<a href="/wiki/File:x.jpg" class="image">'
            '<img src="//up/x.jpg" alt="cap"/></a>',
        ]
    )
    # inline decoration wiki pages actually contain inside cells: line
    # breaks, small/sup/italic wrappers, HTML entities, references
    _decor = st.sampled_from(
        [
            "",
            "<br/>",
            "<br>",
            "<small>note</small>",
            "<sup>1</sup>",
            "<i>it</i>",
            "<b>bold</b>",
            "&amp;",
            "&#160;",
            '<span class="sortkey">07 !</span>',
        ]
    )

    @st.composite
    def _random_table(draw):
        n_rows = draw(st.integers(1, 5))
        n_cols = draw(st.integers(1, 4))
        n_header_rows = draw(st.integers(0, 2))
        rows = []
        for r in range(n_rows):
            cells = []
            for _c in range(n_cols):
                tag = (
                    "th"
                    if r < n_header_rows
                    else draw(st.sampled_from(["td", "td", "td", "th"]))
                )
                anchor = "" if tag == "th" else draw(_anchor)
                cells.append(
                    f"<{tag}{draw(_attr)}>{anchor}{draw(_cell_text)}"
                    f"{draw(_decor)}{draw(_cell_text)}</{tag}>"
                )
            rows.append("<tr>" + "".join(cells) + "</tr>")
        return '<table class="wikitable">' + "".join(rows) + "</table>"

    @given(_random_table())
    @settings(max_examples=250, deadline=None)
    def test_random_tables_match_reference(markup):
        """Property-based differential: ANY generated table on which the
        reference parser completes must produce identical refined headers,
        refined data, and summary filtering from my kernel."""
        tables = tables_from_markup(markup)
        assume(tables)
        table_json = dom_to_json(tables[0])
        proc = subprocess.run(
            [PY2, HARNESS],
            input=json.dumps({"table": table_json, "section": "Sec"}).encode(),
            capture_output=True,
            timeout=60,
        )
        # the reference crashes on some shapes (its real behavior); our
        # kernel records-and-continues instead — only compare where the
        # reference itself completes
        assume(proc.returncode == 0)
        ref = json.loads(proc.stdout.decode())
        mine = run_mine(tables[0])
        for key in ("vertical", "headers_refined", "headers_not_resolved",
                    "data_refined", "to_map_delta"):
            assert mine[key] == ref[key], (
                f"{key}\nmarkup={markup!r}\nmine={mine[key]}\nref ={ref[key]}"
            )


@pytest.mark.parametrize("name", sorted(EXTRA_MARKUP))
def test_adversarial_tables_match_reference(name):
    tables = tables_from_markup(EXTRA_MARKUP[name])
    assert tables
    for i, table in enumerate(tables):
        table_json = dom_to_json(table)
        ref = run_reference(table_json)
        mine = run_mine(table)
        for key in ("vertical", "headers_refined", "headers_not_resolved",
                    "data_refined", "to_map_delta"):
            assert mine[key] == ref[key], (
                f"{name}[{i}]: {key}\nmine={mine[key]}\nref ={ref[key]}"
            )


# ---------------------------------------------------------------------------
# Mapper-level differential (J1/J2/A9/F10): the REAL Mapper.map() rule
# cascade + type resolution vs my emit_triples plan (VERDICT r2 item 8).
# ---------------------------------------------------------------------------

DBR = "http://dbpedia.org/resource/"
DBO = "http://dbpedia.org/ontology/"


def run_reference_raw(scenario: dict) -> dict:
    proc = subprocess.run(
        [PY2, HARNESS],
        input=json.dumps(scenario).encode(),
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    return json.loads(proc.stdout.decode())


def ref_triples_normalized(res: dict) -> set:
    out = set()
    for s, p, o in res["triples"]:
        subj = s["value"].replace(DBR, "")
        pred = p["value"].replace(DBO, "")
        if o["kind"] == "uri":
            out.add((subj, pred, o["value"].replace(DBR, ""), "resource"))
        else:
            kind = "float" if o["datatype"] == "float" else "string"
            out.add((subj, pred, o["value"], kind))
    return out


def my_triples(spark, tables, rules):
    """tables: [(section, headers, rows-as-value-lists)] -> emit_triples rows."""
    from table_extractor_spark.plans.triples import emit_triples

    rows, order = [], 0
    for section, headers, data in tables:
        rows.append(("Test_Player", "section", section, "", order))
        order += 1
        for h in headers:
            rows.append(("Test_Player", "header", h, "", order))
            order += 1
        for r in data:
            for v in r:
                rows.append(("Test_Player", "cell", v, "", order))
                order += 1
    spans = spark.createDataFrame(
        rows, ["doc_id", "kind", "text", "media_ref", "order"]
    )
    rules_df = spark.createDataFrame(
        [(k, v) for k, v in rules.items()], ["key", "property"]
    )
    return emit_triples(spans, rules_df).collect()


def ref_tables(tables, rules, index=1):
    """Drive Mapper once per table, threading the reification index — the
    reference's actual per-table call pattern (Analyzer.py)."""
    triples, counters = set(), {
        "triples_row": 0, "mapped_cells": 0,
        "errors_section": 0, "errors_headers": 0,
    }
    for section, headers, data in tables:
        res = run_reference_raw({
            "mode": "mapper",
            "section": section,
            "dictionary": rules,
            "table_data": [
                {h: [v] for h, v in zip(headers, row)} for row in data
            ],
            "existing": [],
            "resource": "Test_Player",
            "index": index,
        })
        index = res["reification_index"]
        triples |= ref_triples_normalized(res)
        for k in counters:
            counters[k] += res[k]
    return triples, counters, index


RULES = {
    "SECTION_Career": "careerStation",
    "Career_Goals": "goals",        # strict rule
    "Team": "team",                 # loose rule
    "Career_Team": "teamStrict",    # strict overrides loose
    "SECTION_Stats": "statsRow",
}


def test_mapper_cascade_strict_loose_miss(spark):
    """Strict > loose > miss cascade, '-' skip, float-vs-string typing: my
    emit_triples must reproduce the reference Mapper's triples exactly."""
    tables = [(
        "Career",
        ["Team", "Goals", "Misc"],
        [
            ["Alpha FC", "12", "note"],     # loose-wait strict Team, float Goals, Misc miss
            ["-", "1.5", "x"],              # '-' skipped
            ["Beta U19", "seven", "-"],     # string-typed Goals
        ],
    )]
    ref, counters, _ = ref_tables(tables, RULES)
    mine = my_triples(spark, tables, RULES)
    mine_set = {
        (r.subject, r.predicate, r.object, r.object_kind) for r in mine
    }
    assert mine_set == ref
    assert counters["triples_row"] == sum(
        1 for r in mine if r.object_kind == "resource"
    )
    assert counters["mapped_cells"] == sum(
        1 for r in mine if r.object_kind != "resource"
    )


def test_mapper_section_gate_drops_table(spark):
    """J2: a section with no SECTION_ rule emits NOTHING (whole table
    gated), and the reference charges one section error + one error per
    header of the first row."""
    tables = [("Unmapped", ["Team", "Goals"], [["A", "1"], ["B", "2"]])]
    ref, counters, _ = ref_tables(tables, RULES)
    assert ref == set()
    assert counters["errors_section"] == 1
    assert counters["errors_headers"] == 2
    assert my_triples(spark, tables, RULES) == []


def test_mapper_reification_continues_across_tables(spark):
    """A9: the reification counter threads across a doc's tables — table 2's
    row subjects continue where table 1 stopped, in both engines."""
    tables = [
        ("Career", ["Team"], [["Alpha"], ["Beta"]]),
        ("Stats", ["Team"], [["Gamma"]]),
    ]
    ref, counters, final_index = ref_tables(tables, RULES)
    mine = my_triples(spark, tables, RULES)
    mine_set = {
        (r.subject, r.predicate, r.object, r.object_kind) for r in mine
    }
    assert mine_set == ref
    assert final_index == 4  # 3 rows mapped, started at 1
    assert ("Test_Player__3", "team", "Gamma", "string") in mine_set


def test_mapper_unmapped_header_errors_dedup(spark):
    """The reference charges an unmapped header ONCE per distinct key (its
    printed_key dedup), not once per row — pinned so my error-metric
    derivation can rely on it."""
    tables = [(
        "Career", ["Misc"], [["a"], ["b"], ["c"]],
    )]
    ref, counters, _ = ref_tables(tables, RULES)
    assert counters["errors_headers"] == 1  # one distinct unmapped key
    # rows still get row triples; no cell triples
    assert {k for (_, _, _, k) in ref} == {"resource"}
    mine = my_triples(spark, tables, RULES)
    assert {r.object_kind for r in mine} == {"resource"}


TYPING_ZOO = [
    "12", "1.5", " 7 ", "1e2", "+.5", "-0.", ".", "..", "1.5D", "1.5f",
    "nan", "NaN", "inf", "Infinity", "-inf", "", "-", "1_0", "0x1A",
    "seven", "1,5", "1.2.3", "  +12e-3\t", "é", "12%", "½",
]


def test_typing_matches_reference_grammar(spark):
    """F10: MapperTools.is_float/is_int (the real py2 code) vs my kernel
    predicates AND the JVM-side regex used in emit_triples."""
    from table_extractor_spark.functions.typing import py2_float_matches
    from table_extractor_spark.kernel.pyfloat import py2_is_float, py2_is_int

    res = run_reference_raw({"mode": "typing", "values": TYPING_ZOO})
    ref = {r["value"]: (r["is_float"], r["is_int"]) for r in res["typing"]}

    for v in TYPING_ZOO:
        assert py2_is_float(v) == ref[v][0], v
        assert py2_is_int(v) == ref[v][1], v

    # the Spark expression must agree with py2 float() on the same zoo
    df = spark.createDataFrame([(v,) for v in TYPING_ZOO], ["v"])
    got = {
        r.v: r.m
        for r in df.select("v", py2_float_matches(F.col("v")).alias("m")).collect()
    }
    for v in TYPING_ZOO:
        assert got[v] == ref[v][0], v


def test_extract_value_from_cell_matches_reference():
    """F13 value-from-cell: list cells take the LAST element (link, text)
    pairs -> text; single-element lists unwrap."""
    cells = [["A_B", "A B display"], ["plain"], ["x", "y", "z"]]
    res = run_reference_raw({"mode": "typing", "values": [], "cells": cells})
    got = [c["value"] for c in res["cells"]]
    assert got == ["A B display", "plain", "z"]


def test_mapper_entity_probe_matches_reference(spark):
    """check_value_type's resource branch: a non-float cell whose adjusted
    value exists as an entity becomes a dbr URIRef carrying the ADJUSTED
    name; floats still win precedence; misses stay string literals.  My
    emit_triples(entities=...) must reproduce the reference triples
    exactly.  (Names chosen so the reference's substring probe-cache
    shortcut never fires — that mechanic is documented non-reproduced.)"""
    from table_extractor_spark.plans.triples import emit_triples

    tables = [(
        "Career",
        ["Team"],
        [["Alpha FC"], ["12"], ["Beta"], [" Gamma Club "]],
    )]
    existing = ["Alpha_FC", "Gamma_Club"]

    res = run_reference_raw({
        "mode": "mapper",
        "section": "Career",
        "dictionary": RULES,
        "table_data": [
            {h: [v] for h, v in zip(tables[0][1], row)}
            for row in tables[0][2]
        ],
        "existing": existing,
        "resource": "Test_Player",
        "index": 1,
    })
    ref = ref_triples_normalized(res)

    # my side: same spans, entities as a broadcast dimension
    rows, order = [], 0
    for section, headers, data in tables:
        rows.append(("Test_Player", "section", section, "", order)); order += 1
        for h in headers:
            rows.append(("Test_Player", "header", h, "", order)); order += 1
        for r in data:
            for v in r:
                rows.append(("Test_Player", "cell", v, "", order)); order += 1
    spans = spark.createDataFrame(
        rows, ["doc_id", "kind", "text", "media_ref", "order"]
    )
    rules_df = spark.createDataFrame(
        [(k, v) for k, v in RULES.items()], ["key", "property"]
    )
    ents = spark.createDataFrame([(e,) for e in existing], ["entity"])
    mine = {
        (r.subject, r.predicate, r.object, r.object_kind)
        for r in emit_triples(spans, rules_df, entities=ents).collect()
    }
    assert mine == ref
    # the probe hits really are resources carrying the adjusted name
    assert ("Test_Player__1", "teamStrict", "Alpha_FC", "resource") in mine
    assert ("Test_Player__4", "teamStrict", "Gamma_Club", "resource") in mine
    assert ("Test_Player__2", "teamStrict", "12", "float") in mine
    assert ("Test_Player__3", "teamStrict", "Beta", "string") in mine


def test_mapper_randomized_batch_matches_reference(spark):
    """Seeded randomized differential over the full mapping surface: random
    sections (mapped and unmapped), strict/loose/miss headers, float/'-'/
    string/entity cell values, 1-3 tables per doc — 30 docs driven through
    the REAL Mapper (one py2 call per table, reification index threaded),
    then ONE emit_triples pass over all docs at once; triple sets and
    row/cell counts must match per doc."""
    import random

    from table_extractor_spark.plans.triples import emit_triples

    rng = random.Random(7)
    sections = ["Career", "Stats", "Unmapped1", "Unmapped2"]
    headers_pool = ["Team", "Goals", "Misc"]
    values = ["Alpha FC", "Gamma Club", "Delta Team", "Beta", "12", "1.5",
              "-", " 7 ", "seven", "nan", "x y", " Gamma Club "]
    existing = ["Alpha_FC", "Gamma_Club"]

    docs = {}
    for d in range(30):
        tables = []
        for _t in range(rng.randint(1, 3)):
            hdrs = rng.sample(headers_pool, rng.randint(1, 3))
            data = [
                [rng.choice(values) for _ in hdrs]
                for _ in range(rng.randint(1, 3))
            ]
            tables.append((rng.choice(sections), hdrs, data))
        docs[f"rdoc_{d:02d}"] = tables

    # reference side: one Mapper per table, index threaded within each doc
    ref_by_doc = {}
    ref_counts = {}
    for doc_id, tables in docs.items():
        index, triples = 1, set()
        n_rows = n_cells = 0
        for section, hdrs, data in tables:
            res = run_reference_raw({
                "mode": "mapper", "section": section, "dictionary": RULES,
                "table_data": [
                    {h: [v] for h, v in zip(hdrs, row)} for row in data
                ],
                "existing": existing, "resource": doc_id, "index": index,
            })
            index = res["reification_index"]
            triples |= ref_triples_normalized(res)
            n_rows += res["triples_row"]
            n_cells += res["mapped_cells"]
        ref_by_doc[doc_id] = triples
        ref_counts[doc_id] = (n_rows, n_cells)

    # my side: all docs in one DataFrame pass
    rows = []
    for doc_id, tables in docs.items():
        order = 0
        for section, hdrs, data in tables:
            rows.append((doc_id, "section", section, "", order)); order += 1
            for h in hdrs:
                rows.append((doc_id, "header", h, "", order)); order += 1
            for r in data:
                for v in r:
                    rows.append((doc_id, "cell", v, "", order)); order += 1
    spans = spark.createDataFrame(
        rows, ["doc_id", "kind", "text", "media_ref", "order"]
    )
    rules_df = spark.createDataFrame(
        [(k, v) for k, v in RULES.items()], ["key", "property"]
    )
    ents = spark.createDataFrame([(e,) for e in existing], ["entity"])
    mine_by_doc = {}
    for r in emit_triples(spans, rules_df, entities=ents).collect():
        mine_by_doc.setdefault(r.doc_id, set()).add(
            (r.subject, r.predicate, r.object, r.object_kind)
        )

    for doc_id in docs:
        mine = mine_by_doc.get(doc_id, set())
        assert mine == ref_by_doc[doc_id], doc_id
        n_rows = sum(1 for t in mine if t[3] == "resource" and "__" in t[2])
        n_cells = len(mine) - n_rows
        assert (n_rows, n_cells) == ref_counts[doc_id], doc_id
