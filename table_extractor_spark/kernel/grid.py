"""Per-table parse pipeline: headers, rowspan/colspan expansion, data grid, join.

This is a from-scratch re-implementation of the *observable semantics* of the
reference pipeline (``/root/reference/table_extractor/HtmlTableParser.py`` +
``Mapper.py``/``MapperTools.py``) — NOT a code port.  Where the reference has
mutable-aliasing quirks whose effects are visible in its output, we reproduce
the effect deliberately and cite the reference line (SURVEY.md §2.10).

Pipeline per table (reference ``HtmlTableParser.analyze_tables`` :123-218):

    find_headers -> refine_headers (colspan -> rowspan -> nbsp -> citations ->
    super/sub flatten -> ascii) -> extract_data -> refine_data ('Totale' filter
    -> colspan -> typing -> positional join) -> summary-row filter (Mapper P5)

Known deliberate divergences from the reference (documented in tests):

* Dict iteration order: the reference's Python 2.7 dicts iterate in hash order;
  we pin insertion (column) order — per SURVEY §2.10, fixtures pin observable
  output, not buggy mechanics.
* ``encode_data`` (:602-615) rebinds its loop variable, i.e. it is a no-op in
  the reference; data cells therefore keep their unicode text.  We simply do
  nothing, matching the observable behavior.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

from .htmlmini import Element
from .pyfloat import parser_is_float, py2_is_float, str_is_float

_CITATION_RE = re.compile(r"\[\d+\]")
# ASCII punctuation, as Python 2 ``string.punctuation`` (used via str.translate
# on utf-8 bytes at HtmlTableParser.py:259 — multi-byte chars are untouched).
_PUNCTUATION = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
_PUNCT_TABLE = str.maketrans("", "", _PUNCTUATION)

# Media-reference detection for the interleaved span model (FIXTURES.md §1):
# anchors whose link resolves to an embedded media item.  In the reference,
# image anchors carry no ``title`` attribute and class != 'new', so they never
# contribute a value (HtmlTableParser.py:701-708) — only their caption text
# flows into the cell text via itertext.  We additionally *record* the media
# link to emit the north-rule ``media_ref`` linkage.
_MEDIA_SCHEMES = ("img://", "media://", "audio://", "video://")

# HTML-spec colspan cap is 1000; we clamp at 10x that so no real-world table
# is affected while a hostile attribute cannot blow up executor memory.
MAX_COLSPAN = 10_000
_MEDIA_EXTS = (".jpg", ".jpeg", ".png", ".gif", ".svg", ".webm", ".ogg", ".mp4")


def is_media_ref(href: str) -> bool:
    low = href.lower()
    return low.startswith(_MEDIA_SCHEMES) or low.endswith(_MEDIA_EXTS)


class Cell(list):
    """A refined data cell: a list of values (anchor targets then text).

    Behaves exactly like the reference's plain ``list`` cell for equality /
    indexing / aliasing, but carries the media links found in the raw cell so
    the emitter can attach ``media_ref`` without disturbing the (quirky)
    positional join.

    ``media`` ([(caption, media_ref), ...]) is empty for a plain Cell: a
    class attribute, so the many cells without media allocate nothing for it
    and readers need no ``getattr`` default.  A cell that has media is a
    ``MediaCell``, whose slot holds them.
    """

    __slots__ = ()
    media: Sequence[tuple] = ()


class MediaCell(Cell):
    """A Cell whose raw cell held media links (``media``, never empty)."""

    __slots__ = ("media",)


class TextCell(Cell):
    """A raw cell built from a ``<td>`` with no attributes and one text node.

    ``typed`` holds the Cell that ``resolve_data_type`` would build from it,
    typed once at extraction; such a cell has no anchors, no media and no
    colspan, so nothing between extraction and typing can change it."""

    __slots__ = ("typed",)


def fold_accents_bytes_only(text: str, *, is_bytes_origin: bool) -> str:
    """``Utilities.delete_accented_characters`` (:451-464) semantics.

    The reference calls ``unicode(text, 'utf-8')`` which RAISES TypeError when
    ``text`` is already unicode, returning the input unchanged.  Heading text
    (from lxml) is unicode -> accents KEPT; resource names (read from files /
    argv as py2 ``str``) are bytes -> NFD-fold + ascii-ignore applied.
    """
    if not is_bytes_origin:
        return text
    return unicodedata.normalize("NFD", text).encode("ascii", "ignore").decode("ascii")


def strip_ascii_punctuation(text: str) -> str:
    """py2 ``bytes.translate(None, string.punctuation)`` over utf-8 bytes."""
    return text.translate(_PUNCT_TABLE)


@dataclass
class Metrics:
    """Per-document structural counters (reference ``Utilities`` :104-118)."""

    tables_num: int = 0
    tables_analyzed: int = 0
    no_headers: int = 0          # E2 (HtmlTableParser.py:205-211)
    no_data: int = 0             # E3 (HtmlTableParser.py:197-202)
    headers_not_resolved: int = 0
    rows_extracted: int = 0
    data_extracted: int = 0
    data_extracted_to_map: int = 0
    triples_row: int = 0
    kernel_errors: int = 0       # our addition: unexpected per-table crashes


@dataclass
class TableParse:
    error: str = ""              # '', 'E2' (no headers) or 'E3' (no data)
    n_rows: int = 0
    vertical: bool = False
    headers_refined: List[dict] = field(default_factory=list)
    data_refined: List[dict] = field(default_factory=list)  # header -> Cell
    # per data_refined row, the extract_value_from_cell of each cell in the
    # row's dict order: computed once for the summary filter and the emitter
    values: List[list] = field(default_factory=list)


# --------------------------------------------------------------------------
# header phase
# --------------------------------------------------------------------------


def _compose_header_row(th_cells: List[Element], metrics: Metrics) -> Optional[list]:
    """Build the header-cell dicts for one row (reference :316-375).

    Cell text is the WYSIWYG concatenation of all descendant text; ``\\n`` is
    turned into a space, ``'`` into ``.``; ``rowspan`` is int-cast (a bad value
    raises, aborting header discovery for the table like the reference's bare
    except at :313-314); ``colspan`` stays a *string* when present, else int 1.
    """
    out = []
    for cell in th_cells:
        text = "".join(cell.itertext()).replace("\n", " ")
        hc: dict = {}
        attrs = cell.attrib
        if "rowspan" in attrs:
            hc["rowspan"] = int(attrs["rowspan"])  # may raise -> caught upstream
        hc["colspan"] = attrs.get("colspan", 1)
        if not text:
            metrics.headers_not_resolved += 1  # empty kept as '' (:359-367)
        hc["th"] = text.replace("'", ".")
        out.append(hc)
    return out or None


def find_headers(table: Element, tab: TableParse, metrics: Metrics) -> None:
    """Header-row detection with the ``started_data`` latch (reference :278-314).

    A row is a header row iff it has <th> and no <td> and no data row has been
    seen yet; a row with both marks the table vertical.  Any exception leaves
    the headers found so far in place (bare except in the reference).
    """
    try:
        started_data = False
        for row in table.iterchildren():
            # one pass over the row's children instead of two findall lists
            # (the td list was only ever used as a boolean)
            ths = []
            has_td = False
            for c in row.children:
                if c.__class__ is Element:
                    if c.tag == "th":
                        ths.append(c)
                    elif c.tag == "td":
                        has_td = True
            header_row = None
            if ths and not has_td and not started_data:
                header_row = _compose_header_row(ths, metrics)
            elif has_td and ths:
                header_row = _compose_header_row(ths, metrics)
                tab.vertical = True
            elif has_td:
                started_data = True
            if header_row:
                tab.headers.append(header_row)  # type: ignore[attr-defined]
    except Exception:
        # partial headers survive, like the reference's bare except — but the
        # swallow is COUNTED so a real parse bug shows in the metrics table
        metrics.kernel_errors += 1


def expand_colspan(rows: list, metrics: "Metrics | None" = None) -> None:
    """Replicate cells with colspan > 1 **as the same object** (reference :802-850).

    Works on header rows (cells are dicts; iterating a dict yields key strings,
    and the reference tests ``'colspan' in key`` as a *substring*) and on data
    rows (cells are lists of dicts; the test is a dict-key test).  The same
    object is inserted, so later mutations alias — an observable quirk we keep.
    A TypeError/ValueError (e.g. colspan='') aborts the remaining expansion.
    """
    try:
        for row in rows:
            for cell in row:
                elements = list(cell) if isinstance(cell, dict) else cell
                for element in elements:
                    if "colspan" not in element:
                        continue
                    if isinstance(element, str):          # header cell: key string
                        colspan = int(cell["colspan"])
                    elif isinstance(element, dict):        # data cell: td dict
                        colspan = int(element["colspan"])
                    else:
                        continue
                    # executor-memory guard (ours): a hostile colspan like
                    # 10^9 would materialize a gigarow; the HTML spec caps
                    # colspan at 1000, so clamping far above real tables
                    # cannot change reference-faithful outputs
                    colspan = min(colspan, MAX_COLSPAN)
                    if colspan > 1:
                        cell_index = row.index(cell)       # first *equal* cell
                        if isinstance(element, str):
                            cell["colspan"] = 1
                        else:
                            element["colspan"] = 1
                        for _ in range(colspan - 1):
                            row.insert(cell_index, cell)   # same object: aliasing
    except (TypeError, ValueError):
        if metrics is not None:
            metrics.kernel_errors += 1


def resolve_rowspan(rows: list, metrics: "Metrics | None" = None) -> None:
    """Fill a rowspan-n header down n-1 rows with *blank-text* copies (:439-472).

    The copy keeps the decremented rowspan, so it cascades row by row.  Any
    exception (e.g. IndexError when the last row has a rowspan) aborts the
    whole fill, as in the reference's try/except.
    """
    try:
        for row in rows:
            row_index = rows.index(row)
            for cell in row:
                cell_index = row.index(cell)
                if "rowspan" in cell and cell["rowspan"] > 1:
                    cell["rowspan"] -= 1
                    cell_copy = dict(cell)
                    cell_copy["th"] = ""
                    rows[row_index + 1].insert(cell_index, cell_copy)
    except Exception:
        if metrics is not None:
            metrics.kernel_errors += 1


def _remove_nbsp(headers: list) -> None:
    """nbsp deleted from headers (:474-489) — vs replaced by ' ' in data (:742-745)."""
    for row in headers:
        for header in row:
            header["th"] = header["th"].replace("\xa0", "")


def _remove_citations(headers: list) -> None:
    for row in headers:
        for header in row:
            header["th"] = _CITATION_RE.sub("", header["th"])


def associate_super_and_sub_headers(tab: TableParse, metrics: "Metrics | None" = None) -> None:
    """Flatten multi-row headers into ``"Sup - Sub"`` cells (reference :520-587).

    Consumes the first two header rows repeatedly; each super cell (colspan c
    after expansion, normally 1) absorbs c sub cells.  Arity mismatch raises
    IndexError -> partial ``headers_refined`` (bare except), as the reference.
    Mutates ``tab.headers`` in place (the reference's "copy" is a reference).
    """
    try:
        headers_copy = tab.headers  # type: ignore[attr-defined]
        for _ in range(len(headers_copy) - 1):
            super_headers = headers_copy[0]
            sub_headers = headers_copy[1]
            headers_copy.remove(super_headers)
            headers_copy.remove(sub_headers)
            temp_header = []
            for sup in super_headers:
                for _n in range(int(sup["colspan"])):
                    sub = sub_headers[0]
                    if sub["th"]:
                        if sup["th"]:
                            composition = {
                                "th": sup["th"] + " - " + sub["th"],
                                "colspan": sub["colspan"],
                            }
                        else:
                            composition = {"th": sub["th"], "colspan": sub["colspan"]}
                    else:
                        composition = {"th": sup["th"], "colspan": sub["colspan"]}
                    temp_header.append(composition)
                    sub_headers.remove(sub)
            headers_copy.insert(0, temp_header)
        for element in headers_copy[0]:
            tab.headers_refined.append(element)
    except Exception:
        if metrics is not None:
            metrics.kernel_errors += 1


def encode_headers(tab: TableParse) -> None:
    """ascii-replace then '?' -> '.' (:589-600) — mutates the shared dicts, so
    the positional join later reads the *encoded* text (SURVEY §2.10)."""
    for header in tab.headers_refined:
        th = header["th"].encode("ascii", "replace").decode("ascii")
        header["th"] = th.replace("?", ".")


def refine_headers(tab: TableParse, metrics: Metrics) -> None:
    """Reference ``refine_headers`` (:377-421) stage order, preserved."""
    expand_colspan(tab.headers, metrics)  # type: ignore[attr-defined]
    resolve_rowspan(tab.headers, metrics)  # type: ignore[attr-defined]
    _remove_nbsp(tab.headers)            # type: ignore[attr-defined]
    _remove_citations(tab.headers)       # type: ignore[attr-defined]
    if not tab.vertical:
        associate_super_and_sub_headers(tab, metrics)
    else:
        # vertical tables skip flattening (:413-419): first cell of each row
        for row in tab.headers:          # type: ignore[attr-defined]
            tab.headers_refined.append(row[0])
    encode_headers(tab)


# --------------------------------------------------------------------------
# data phase
# --------------------------------------------------------------------------


def _find_anchors(cell: Element) -> tuple:
    """Direct <a> children of a cell (reference :674-714).

    'a' (the resolved link value) = anchor text for red links (class='new'),
    else the ``title`` attribute.  Returns ``(anchor_dicts, media_links)``:
    media-like hrefs are collected separately so they cannot perturb the
    reference's emptiness/alignment logic (an image anchor in the reference
    yields an empty dict -> dropped -> the cell may become ``'-'``); the media
    links ride along on the owning ``Cell`` for the north-rule ``media_ref``.
    """
    data = []
    media: List[tuple] = []
    # hot path (every cell): iterate children directly — findall would
    # build a throwaway list per cell
    for anchor in cell.children:
        if anchor.__class__ is not Element or anchor.tag != "a":
            continue
        anchor_data: dict = {}
        attrs = anchor.attrib
        text = anchor.text
        if text:
            anchor_data["text"] = text
        if attrs.get("class") == "new":
            anchor_data["a"] = text
        elif "title" in attrs:
            anchor_data["a"] = attrs["title"]
        href = attrs.get("href", "")
        if href and is_media_ref(href):
            media.append((text or "", href))
        data.append(anchor_data)
    return data, media


def _find_td_text(cell: Element) -> Optional[dict]:
    """All html attrs + WYSIWYG text with nbsp -> ' ' (reference :716-755)."""
    data_cell = dict(cell.attrib)
    # hot path: most cells hold a single text node — skip the recursive
    # itertext generator for that shape
    kids = cell.children
    if len(kids) == 1 and kids[0].__class__ is str:
        cell_text = kids[0]
    else:
        cell_text = "".join(cell.itertext())
    if "\xa0" in cell_text:
        cell_text = cell_text.replace("\xa0", " ")
    if cell_text:
        data_cell["td"] = cell_text
        return data_cell
    return None


def extract_data(table: Element, tab: TableParse) -> Tuple[bool, bool]:
    """Raw cell extraction (reference :617-672).

    Rows with at least one <td> are data rows; ALL element children are
    iterated (so in vertical tables the <th> text becomes a data cell too).
    Empty cells are marked ``[{'td': '-'}]``.

    Returns ``(has_totale, has_colspan)``: whether some cell text is exactly
    'Totale' and whether some cell dict carries a colspan.  Without them
    ``delete_useless_rows`` and ``expand_colspan`` change nothing, so
    ``refine_data`` skips their walks.
    """
    tab.data = data = []  # type: ignore[attr-defined]
    totale = colspan = False
    for row in table.children:
        if row.__class__ is not Element:
            continue
        cells = row.children
        # hot path: membership test without findall's throwaway list (the
        # any() short-circuits at the first <td> — usually the first child)
        if not any(c.__class__ is Element and c.tag == "td" for c in cells):
            continue
        data_row = []
        for cell in cells:
            if cell.__class__ is not Element:
                continue
            kids = cell.children
            if not cell.attrib and len(kids) == 1 and kids[0].__class__ is str:
                # one text node and no attributes, so no anchors and no
                # media: build the raw cell and its typed form at once
                # (93.6% of the cells of the refweight synthetic pages)
                text = kids[0].replace("\xa0", " ").replace("\n", "/")
                if text == "Totale":
                    totale = True
                data_cell = TextCell(({"td": text},))
                data_cell.typed = Cell((float(text) if str_is_float(text) else text,))
                data_row.append(data_cell)
                continue
            anchors, media = _find_anchors(cell)
            if media:
                data_cell = MediaCell()
                data_cell.media = media
            else:
                data_cell = Cell()
            for anc in anchors:
                if anc:
                    data_cell.append(anc)
            td = _find_td_text(cell)
            if td:
                text = td["td"] = td["td"].replace("\n", "/")
                if text == "Totale":
                    totale = True
                if "colspan" in td:
                    colspan = True
                data_cell.append(td)
            if not data_cell:
                data_cell.append({"td": "-"})
            data_row.append(data_cell)
        data.append(data_row)
    return totale, colspan


def delete_useless_rows(tab: TableParse, tag: str = "Totale") -> None:
    """Drop rows containing a td with exact text ``tag`` (reference :783-800).

    The reference removes while iterating, so the row *after* a removed row is
    skipped, and a row matching twice raises ValueError on the second remove
    (caught by ``refine_data``'s blanket except -> whole table becomes E3).
    We replicate CPython's list-iterator semantics with an explicit cursor.
    """
    data = tab.data  # type: ignore[attr-defined]
    p = 0
    while p < len(data):
        row = data[p]
        p += 1
        for cell in row:
            for element in cell:
                if "td" in element and element["td"] == tag:
                    data.remove(row)  # ValueError on 2nd match, like reference


def resolve_data_type(tab: TableParse) -> None:
    """Typing + anchor preference (reference :852-900).

    Anchors become underscored link targets; text is float-cast when Python
    ``float()`` accepts it.  Values that are falsy (empty string) are dropped
    unless exactly 0.0; empty cells/rows are dropped from ``data_filtered``.
    Media links ride along on the ``Cell``.
    """
    tab.data_filtered = []  # type: ignore[attr-defined]
    for row in tab.data:    # type: ignore[attr-defined]
        temp_row = []
        for cell in row:
            if cell.__class__ is TextCell:
                temp_row.append(cell.typed)
                continue
            media = cell.media
            if media:
                temp_cell = MediaCell()
                temp_cell.media = list(media)
            else:
                temp_cell = Cell()
            for element in cell:
                # None as the no-match placeholder: same falsy/==0.0 gate
                # as the reference's [], without a list alloc per element
                data = None
                if "a" in element:
                    # None 'a' (red link without text) raises AttributeError in
                    # the reference -> caught by refine_data -> E3; same here.
                    data = element["a"].replace(" ", "_")
                elif "td" in element:
                    data = element["td"]
                    if parser_is_float(data):
                        data = float(data)
                if data or data == 0.0:
                    temp_cell.append(data)
            if temp_cell:
                temp_row.append(temp_cell)
        if temp_row:
            tab.data_filtered.append(temp_row)  # type: ignore[attr-defined]


def join_data_and_headers(tab: TableParse) -> None:
    """Positional zip of header texts with data cells (reference :914-963).

    Faithfully keeps the reference's quirks: the row-dict is keyed by header
    *text* (duplicate headers collapse, last value wins), short rows append a
    partial dict that the NEXT row keeps mutating (same object appended twice),
    and the header count is ``len(headers[0])`` — which for vertical tables is
    the first header ROW (length 1), mapping every cell to the first header.
    """
    temp_row: dict = {}
    headers = getattr(tab, "headers", None)
    if not headers:
        return
    names = [header["th"] for header in headers[0]]
    number_of_headers = len(names)
    if not number_of_headers:
        return  # every cell's header lookup would raise and be skipped
    for row in tab.data_filtered:  # type: ignore[attr-defined]
        index = 0
        for data in row:
            temp_row[names[index]] = data
            index += 1
            if index == number_of_headers:
                tab.data_refined.append(temp_row)
                temp_row = {}
                index = 0
        if temp_row:
            tab.data_refined.append(temp_row)  # same object; not reset (quirk)


def refine_data(
    tab: TableParse,
    metrics: "Metrics | None",
    has_totale: bool,
    has_colspan: bool,
) -> None:
    """Reference ``refine_data`` (:757-781): any exception aborts, leaving
    ``data_refined`` as-is (usually empty -> E3) — same swallow as the
    reference, but COUNTED into ``kernel_errors`` so a real parse bug is
    visible in the metrics table instead of vanishing at 10^12-doc scale.
    ``has_totale``/``has_colspan`` come from ``extract_data``; False skips a
    stage that would change nothing."""
    try:
        if has_totale:
            delete_useless_rows(tab, "Totale")
        if has_colspan:
            expand_colspan(tab.data, metrics)  # type: ignore[attr-defined]
        resolve_data_type(tab)
        join_data_and_headers(tab)
        # encode_data (:602-615) is a no-op in the reference (rebinds loop var)
    except Exception:
        if metrics is not None:
            metrics.kernel_errors += 1


# --------------------------------------------------------------------------
# Mapper-side summary-row filter (P5)
# --------------------------------------------------------------------------


def _get_unique_chars(work_string: str) -> List[str]:
    """Reference ``get_unique_chars`` (MapperTools.py:284-296), including the
    membership-tested-against-lowercased-list quirk ('aA' -> ['a','a'])."""
    work_string = work_string.replace(" ", "")
    unique_chars: List[str] = []
    for char in work_string:
        if char not in unique_chars:
            unique_chars.append(char.lower())
    return unique_chars


def difference_between_strings(a, b) -> int:
    """Symmetric unique-char difference (MapperTools.py:256-282)."""
    if isinstance(a, float):
        a = str(a)
    if isinstance(b, float):
        b = str(b)
    ua = _get_unique_chars(a)
    ub = _get_unique_chars(b)
    counter = 0
    for ch in ua:
        if ch not in ub:
            counter += 1
    for ch in ub:
        if ch not in ua:
            counter += 1
    return counter


def extract_value_from_cell(cell):
    """Reference ``extract_value_from_cell`` (MapperTools.py:312-330).

    Flattened from the original value/result two-step (the ``len<=1``
    branch always re-indexes the cell list itself).  ``parse_table`` calls
    it once per refined cell, into ``TableParse.values``."""
    if len(cell) > 1:
        result = cell[-1]
        if isinstance(result, list):
            result = result[0]
    else:
        result = cell[0]
    if isinstance(result, str):
        return result
    return str(result)


def filter_summary_rows(
    table_data: List[dict], metrics: Metrics, values: List[list]
) -> List[dict]:
    """Career-summary row filter (reference ``filter_table_data``,
    MapperTools.py:211-254; enabled by settings.APPLY_FILTER_TO_TABLE_DATA).

    A row is dropped when >=2 numeric cells equal the running column sum (or
    the running mean, compared as str(float)) of prior rows AND some
    non-numeric cell differs from the previous row by >=7 unique chars.
    Replicates the iterate-while-deleting cursor semantics (a deletion skips
    the following row's `row` binding but not its index — observable only when
    a deleted row isn't last; fixtures pin the last-row case).

    ``values`` is each row's cell values (``TableParse.values``); a deleted
    row is deleted from it too, so on return it still lines up with the
    returned rows.
    """
    table_dict: dict = {}
    i = 0
    p = 0
    while p < len(table_data):
        row = table_data[p]
        row_values = values[p]
        p += 1
        summarized = 0
        deleted = False
        for cell, value in zip(row, row_values):
            # reference: is_float(value) or is_int(value).  Values are str,
            # and a str int() accepts float() accepts too (same digit and
            # space normalisation, and a digit run is a float literal), so
            # the memoized float test alone decides
            if str_is_float(value):
                fval = float(value)
                if cell in table_dict:
                    summed_value = float(table_dict[cell])
                    mean_value = summed_value / i
                    if (fval == summed_value or str(fval) == str(mean_value)) and (
                        i > 1 or len(table_data) <= 2
                    ):
                        summarized += 1
                    else:
                        table_dict[cell] = fval + summed_value
                else:
                    table_dict[cell] = fval
        if summarized >= 2:
            for key in table_data[i]:
                actual = extract_value_from_cell(table_data[i][key])
                previous = extract_value_from_cell(table_data[i - 1][key])
                char_difference = difference_between_strings(actual, previous)
                if (
                    not py2_is_float(actual)
                    and not py2_is_float(previous)
                    and char_difference >= 7
                ):
                    deleted = True
        if deleted:
            for value in values[i]:
                if value != "-":
                    metrics.data_extracted_to_map -= 1
            del table_data[i]
            del values[i]
            i -= 1
        i += 1
    return table_data


# --------------------------------------------------------------------------
# per-table driver
# --------------------------------------------------------------------------


def parse_table(table: Element, metrics: Metrics) -> TableParse:
    """Run the full header+data pipeline for one table element.

    Returns a TableParse whose ``error`` is 'E2' (no headers) or 'E3' (no
    refined data), mirroring ``analyze_tables`` (reference :123-218).
    """
    tab = TableParse()
    tab.headers = []         # type: ignore[attr-defined]
    tab.n_rows = len(table)
    find_headers(table, tab, metrics)
    if not tab.headers:      # type: ignore[attr-defined]
        tab.error = "E2"
        metrics.no_headers += 1
        return tab
    refine_headers(tab, metrics)
    has_totale, has_colspan = extract_data(table, tab)
    refine_data(tab, metrics, has_totale, has_colspan)
    if not tab.data_refined:
        tab.error = "E3"
        metrics.no_data += 1
        return tab
    # one walk over the refined cells: count like
    # Table.count_data_cells_and_rows (Table.py:34-52), non-'-' FIRST values,
    # and record each cell's value for the summary filter and the emitter
    cells = 0
    for row in tab.data_refined:
        row_values = []
        for cell in row.values():
            if cell[0] != "-":
                cells += 1
            row_values.append(extract_value_from_cell(cell))
        tab.values.append(row_values)
    metrics.data_extracted += cells
    metrics.data_extracted_to_map += cells
    metrics.rows_extracted += len(tab.data_refined)
    return tab
