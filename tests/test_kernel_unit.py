"""Spark-free unit tests for the parse kernel (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from table_extractor_spark.kernel.grid import (
    Cell,
    Metrics,
    difference_between_strings,
    extract_value_from_cell,
    filter_summary_rows,
    fold_accents_bytes_only,
    parse_table,
    strip_ascii_punctuation,
)
from table_extractor_spark.kernel.htmlmini import Element, parse_fragment
from table_extractor_spark.kernel.pyfloat import parser_is_float, py2_is_float, py2_is_int


def table_of(markup: str) -> Element:
    root = parse_fragment(markup)
    tables = [c for c in root.iterchildren() if c.tag == "table"]
    assert tables, markup
    return tables[0]


# ---------------------------------------------------------------- htmlmini


def test_htmlmini_basic_tree():
    t = table_of('<table class="wikitable"><tr><th>A</th><td>b</td></tr></table>')
    assert t.attrib["class"] == "wikitable"
    assert len(t) == 1
    row = next(t.iterchildren())
    assert [c.tag for c in row.iterchildren()] == ["th", "td"]
    assert "".join(row.itertext()) == "Ab"


def test_htmlmini_anchor_text_and_entities():
    t = table_of("<table><tr><td><a href='/x' title='T'>link</a>&nbsp;tail</td></tr></table>")
    td = next(next(t.iterchildren()).iterchildren())
    a = td.findall("a")[0]
    assert a.text == "link"
    assert a.attrib == {"href": "/x", "title": "T"}
    assert "".join(td.itertext()) == "link\xa0tail"


def test_htmlmini_unclosed_rows_recover():
    t = table_of("<table><tr><td>a<tr><td>b</table>")
    assert len(t) == 2


def shape(node):
    """(tag, children) nesting with text nodes kept as strings."""
    if isinstance(node, str):
        return node
    return (node.tag, [shape(c) for c in node.children])


def test_htmlmini_stray_close_tag_is_dropped():
    root = parse_fragment("<td>a</b>b</td>")
    assert shape(root) == ("#root", [("td", ["ab"])])


def test_htmlmini_ancestor_close_pops_everything_opened_inside():
    root = parse_fragment("<table><tr><td><b><i>x</table>y")
    assert shape(root) == (
        "#root",
        [("table", [("tr", [("td", [("b", [("i", ["x"])])])])]), "y"],
    )


def test_htmlmini_uppercase_close_tag_closes_lowercase_open():
    root = parse_fragment("<td><b>x</B>y</TD>z")
    assert shape(root) == ("#root", [("td", [("b", ["x"]), "y"]), "z"])


def test_htmlmini_trailing_text_and_final_entity_are_kept():
    root = parse_fragment("<td>a</td>tail &amp;")
    assert shape(root) == ("#root", [("td", ["a"]), "tail &"])
    assert shape(parse_fragment("lead&nbsp;<br>&lt;")) == (
        "#root", ["lead\xa0", ("br", []), "<"]
    )


def test_htmlmini_element_text_none_when_child_first():
    t = table_of("<table><tr><td><b>x</b>y</td></tr></table>")
    td = next(next(t.iterchildren()).iterchildren())
    assert td.text is None
    assert "".join(td.itertext()) == "xy"


# ---------------------------------------------------------------- pyfloat


@pytest.mark.parametrize(
    "s,ok",
    [("1e2", True), (" 7 ", True), ("nan", True), ("inf", True), ("3.5", True),
     ("1_0", False), ("", False), ("x", False), ("-", False), ("0.0", True)],
)
def test_py2_float_grammar(s, ok):
    assert py2_is_float(s) is ok
    assert parser_is_float(s) is ok


def test_py2_int_grammar():
    assert py2_is_int(" 7 ") and not py2_is_int("3.5") and not py2_is_int("1_0")


# ---------------------------------------------------------------- scalar fns


def test_accent_fold_only_bytes_origin():
    # Utilities.py:451-464 — unicode input returns unchanged (TypeError path)
    assert fold_accents_bytes_only("Pelé", is_bytes_origin=False) == "Pelé"
    assert fold_accents_bytes_only("Pelé", is_bytes_origin=True) == "Pele"


def test_strip_ascii_punctuation_keeps_accents():
    assert strip_ascii_punctuation("a-b's, (c) é!") == "abs c é"


def test_difference_between_strings_quirk():
    # get_unique_chars appends the LOWERCASED char but tests membership on the
    # original: 'aA' -> ['a','a'] (MapperTools.py:284-296)
    assert difference_between_strings("aA", "a") == 0
    assert difference_between_strings("abc", "xyz") == 6
    assert difference_between_strings(3.5, "3.5") == 0


def test_extract_value_from_cell():
    assert extract_value_from_cell(Cell(["A_b", "a b"])) == "a b"      # last wins
    assert extract_value_from_cell(Cell(["only"])) == "only"           # singleton
    assert extract_value_from_cell(Cell([3.5])) == "3.5"               # str(float)
    assert extract_value_from_cell(Cell(["-"])) == "-"


# ---------------------------------------------------------------- grid paths


def test_header_latch_kills_trailing_header_rows():
    # started_data latch (HtmlTableParser.py:287-309)
    t = table_of(
        '<table class="wikitable">'
        "<tr><th>H</th></tr><tr><td>1</td></tr><tr><th>Trailer</th></tr></table>"
    )
    tab = parse_table(t, Metrics())
    assert [h["th"] for h in tab.headers_refined] == ["H"]


def test_vertical_table_detection_and_naive_join():
    t = table_of(
        '<table class="wikitable"><tr><th>K1</th><td>v1</td></tr>'
        "<tr><th>K2</th><td>v2</td></tr></table>"
    )
    tab = parse_table(t, Metrics())
    assert tab.vertical
    # every cell (th text included) keyed by the FIRST row's header (quirk)
    assert [dict(r) for r in tab.data_refined] == [
        {"K1": ["K1"]}, {"K1": ["v1"]}, {"K1": ["K2"]}, {"K1": ["v2"]}]


def test_colspan_rowspan_combined_header_collapses_to_e3():
    # colspan expansion aliases the dict; the shared rowspan is decremented on
    # the first alias visit only -> ONE blank copy in the next row, so the sub
    # row is SHORT.  associate_super_and_sub_headers then hits IndexError
    # before re-inserting temp_header (:534-580): tab.headers ends up EMPTY,
    # join_data_and_headers bails (:931), data_refined stays [] -> E3 (§2.10).
    t = table_of(
        '<table class="wikitable">'
        '<tr><th colspan="2" rowspan="2">Big</th><th>S</th></tr>'
        "<tr><th>X</th></tr>"
        "<tr><td>1</td><td>2</td><td>3</td></tr></table>"
    )
    m = Metrics()
    tab = parse_table(t, m)
    assert tab.headers_refined == []
    assert tab.error == "E3" and m.no_data == 1


def test_double_totale_rows_abort_refine_to_e3():
    # two 'Totale' cells in ONE row -> second list.remove raises ValueError ->
    # refine_data blanket except -> data_refined empty -> E3 (:783-800, :780)
    t = table_of(
        '<table class="wikitable"><tr><th>A</th><th>B</th></tr>'
        "<tr><td>Totale</td><td>Totale</td></tr></table>"
    )
    m = Metrics()
    tab = parse_table(t, m)
    assert tab.error == "E3" and m.no_data == 1


def test_adjacent_totale_rows_skip_second():
    # remove-while-iterating: of two adjacent Totale rows only the first is
    # removed (the iterator skips the shifted-down second one)
    t = table_of(
        '<table class="wikitable"><tr><th>A</th></tr>'
        "<tr><td>Totale</td></tr><tr><td>Totale</td></tr><tr><td>keep</td></tr></table>"
    )
    tab = parse_table(t, Metrics())
    values = [extract_value_from_cell(r["A"]) for r in tab.data_refined]
    assert values == ["Totale", "keep"]


def test_arity_short_row_partial_dict_carryover():
    t = table_of(
        '<table class="wikitable"><tr><th>A</th><th>B</th><th>C</th></tr>'
        "<tr><td>1</td><td>2</td></tr>"
        "<tr><td>4</td><td>5</td><td>6</td></tr></table>"
    )
    tab = parse_table(t, Metrics())
    # the partial dict is appended AND the same object is re-filled + appended
    # by the next full row (HtmlTableParser.py:944-963)
    assert len(tab.data_refined) == 2
    assert tab.data_refined[0] is tab.data_refined[1]
    assert {k: list(v) for k, v in tab.data_refined[1].items()} == {
        "A": [4.0], "B": [5.0], "C": [6.0]}


def test_duplicate_headers_collapse_last_value_wins():
    t = table_of(
        '<table class="wikitable"><tr><th>X</th><th>X</th></tr>'
        "<tr><td>1</td><td>2</td></tr></table>"
    )
    tab = parse_table(t, Metrics())
    assert [{k: list(v) for k, v in r.items()} for r in tab.data_refined] == [
        {"X": [2.0]}]


def test_data_colspan_expands_same_object():
    t = table_of(
        '<table class="wikitable"><tr><th>A</th><th>B</th></tr>'
        '<tr><td colspan="2">wide</td></tr></table>'
    )
    tab = parse_table(t, Metrics())
    row = tab.data_refined[0]
    assert list(row["A"]) == ["wide"] and list(row["B"]) == ["wide"]


def cell_values(rows):
    """Each row's cell values, as parse_table records them in TableParse.values."""
    return [[extract_value_from_cell(c) for c in row.values()] for row in rows]


def test_summary_filter_running_sum_and_mean():
    m = Metrics()
    rows = [
        {"name": Cell(["2010 Alpha Beta"]), "gp": Cell([10.0]), "g": Cell([3.0])},
        {"name": Cell(["2011 Alpha Beta"]), "gp": Cell([20.0]), "g": Cell([5.0])},
        {"name": Cell(["Grand career total"]), "gp": Cell([30.0]), "g": Cell([8.0])},
    ]
    out = filter_summary_rows(rows, m, cell_values(rows))
    assert len(out) == 2 and m.data_extracted_to_map == -3


def test_summary_filter_needs_char_difference():
    # numeric match alone is not enough: text must differ by >=7 unique chars
    m = Metrics()
    rows = [
        {"name": Cell(["2010 Alpha"]), "gp": Cell([10.0]), "g": Cell([3.0])},
        {"name": Cell(["2011 Alpha"]), "gp": Cell([20.0]), "g": Cell([5.0])},
        {"name": Cell(["2012 Alpha"]), "gp": Cell([30.0]), "g": Cell([8.0])},
    ]
    out = filter_summary_rows(rows, m, cell_values(rows))
    assert len(out) == 3


def test_swallowed_refine_crash_counts_kernel_error():
    """Quirk-faithful exception swallows inside the per-table refine pipeline
    must INCREMENT kernel_errors (the ops surface at 10^12 docs) while the
    document still emits its other tables — reference behavior is to survive
    (Analyzer.py:163-173), ours additionally records."""
    from table_extractor_spark.kernel.document import extract_document

    W = '<table class="wikitable">'
    poison = (W + '<tr><th colspan="zz">H</th></tr>'
              '<tr><td>1</td></tr><tr><td>2</td></tr></table>')
    clean = (W + '<tr><th>A</th></tr>'
             '<tr><td>1</td></tr><tr><td>2</td></tr></table>')
    doc = [
        {"kind": "heading", "text": "Sec", "media_ref": "", "offset": 0},
        {"kind": "text", "text": poison + clean, "media_ref": "", "offset": 1},
    ]
    out, m = extract_document("T", doc)
    assert m["kernel_errors"] == 1
    assert m["tables_analyzed"] == 2
    # the clean table's spans still come out
    assert m["rows_extracted"] >= 2
    assert any(k == "header" and t == "A" for k, t, _, _ in out)


def test_clean_corpus_has_zero_kernel_errors():
    """Counting the swallows must not reinterpret NORMAL control flow as
    errors: the full fixture corpus (every quirk golden) stays at zero."""
    from table_extractor_spark.kernel.document import extract_document
    from table_extractor_spark.sources.corpus import corpus_rows

    for r in corpus_rows():
        _, m = extract_document(r["doc_id"], r["spans"])
        assert m["kernel_errors"] == 0, r["doc_id"]


def test_parser_lowercases_tag_and_attribute_names():
    """libxml2 (the reference's parser via lxml.html) lowercases element
    AND attribute names; uppercase markup must behave like its lowercase
    twin end to end."""
    from table_extractor_spark.kernel.document import extract_document
    from table_extractor_spark.kernel.htmlmini import parse_fragment

    t = parse_fragment('<TABLE CLASS="wikitable"><TR><TD COLSPAN="2">x</TD></TR></TABLE>')
    tab = t.children[0]
    assert tab.tag == "table" and tab.attrib == {"class": "wikitable"}
    assert tab.children[0].children[0].attrib == {"colspan": "2"}

    lower = '<table class="wikitable"><tr><th>h</th><th>i</th></tr>' \
            '<tr><td colspan="2">1</td></tr></table>'
    # uppercase the markup SYNTAX only (tag + attribute names; content and
    # the case-sensitive class VALUE stay as-is)
    upper = '<TABLE CLASS="wikitable"><TR><TH>h</TH><TH>i</TH></TR>' \
            '<TR><TD COLSPAN="2">1</TD></TR></TABLE>'
    spans = lambda text: extract_document(
        "d", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    )
    out_l, m_l = spans(lower)
    out_u, m_u = spans(upper)
    assert out_l == out_u and m_l == m_u and m_l["tables_num"] == 1
