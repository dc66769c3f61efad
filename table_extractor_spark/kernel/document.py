"""Per-document extraction: interleaved spans -> normalized output span sequence.

Input (FIXTURES.md §1): a document is ``(doc_id, spans)`` where spans is an
offset-ordered array of ``(kind, text, media_ref, offset)``:

* ``heading`` spans carry section headings (the reference finds a table's
  section by walking preceding ``<h*>`` siblings, HtmlTableParser.py:220-268);
* ``text`` spans carry prose and embedded ``<table class="wikitable...">``
  markup (the reference selects exactly the classes 'wikitable',
  'wikitable sortable', 'wikitable sortable collapsible' — :87-121);
* ``media`` spans carry standalone media items (context only).

Output (FIXTURES.md §2): per document, the ordered sequence
``(kind, text, media_ref, order)`` with kinds ``section | header | cell |
link | media`` — one ``section`` span per analyzed table, its flattened header
cells, then per surviving data row the cell values (links first, value, then
any media links), in table x row x column order.  ``order`` is the 0-based
position; output order is semantic (SURVEY §2.6 O2).

This module is pure Python and Spark-free: it is the function the vectorized
pandas UDF applies per Arrow batch (SURVEY §2.9).  One document is one
independent unit of work — embarrassingly parallel.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Tuple

from .grid import (
    Metrics,
    extract_value_from_cell,
    filter_summary_rows,
    fold_accents_bytes_only,
    parse_table,
    strip_ascii_punctuation,
)
from .htmlmini import find_elements, parse_fragment
from .pyfloat import value_to_str

# the exact class attributes the reference's three XPath queries select, in the
# order find_wiki_tables concatenates the result lists (:98-109): plain
# wikitables first, then sortable, then sortable-collapsible — i.e. table
# processing order is grouped by class, document order within each group.
WIKITABLE_CLASSES = (
    "wikitable",
    "wikitable sortable",
    "wikitable sortable collapsible",
)

OUT_FIELDS = ("kind", "text", "media_ref", "order")


# equivalent to `"<table" in text.lower()` without the lowered copy
_TABLE_HINT = re.compile(r"<table", re.IGNORECASE)


def _find_table_regions(text: str) -> Iterable[Tuple[int, str]]:
    """Yield (start_index, markup) for each top-level <table>...</table> region.

    A region runs to its MATCHING close tag (nesting-aware), so tables nested
    in a cell stay inside their parent's region; the caller then enumerates
    every table element in the region (outer first — XPath document order).
    """
    pos = 0
    low = text.lower()
    while True:
        start = low.find("<table", pos)
        if start == -1:
            return
        depth = 0
        scan = start
        end = -1
        while True:
            nxt_open = low.find("<table", scan + 1)
            nxt_close = low.find("</table", scan + 1)
            if nxt_close == -1:
                break  # unterminated: drop region
            if nxt_open != -1 and nxt_open < nxt_close:
                depth += 1
                scan = nxt_open
            else:
                if depth == 0:
                    end = low.find(">", nxt_close)
                    break
                depth -= 1
                scan = nxt_close
        if end == -1:
            return
        yield start, text[start : end + 1]
        pos = end + 1


def _section_for(
    headings: List[Tuple[int, str]], table_offset: int, doc_id: str
) -> str:
    """Nearest preceding heading, else the page title (reference :220-268).

    Heading text is unicode in the reference, so ``delete_accented_characters``
    leaves it UNCHANGED (TypeError path, Utilities.py:451-464) — accents kept,
    ASCII punctuation stripped.  The fallback resource name is a py2 byte-str,
    so it IS accent-folded, then underscores become spaces and punctuation is
    stripped (:262-268).
    """
    section: Optional[str] = None
    for off, text in headings:
        if off <= table_offset:
            section = text
        else:
            break
    if section is not None:
        return strip_ascii_punctuation(
            fold_accents_bytes_only(section, is_bytes_origin=False)
        )
    resource = doc_id.replace("_", " ")
    resource = fold_accents_bytes_only(resource, is_bytes_origin=True)
    return strip_ascii_punctuation(resource)


def extract_document(doc_id: str, spans: List[dict]) -> Tuple[List[tuple], dict]:
    """Extract one document.  Returns (out_spans, metrics_dict).

    out_spans is a list of ``(kind, text, media_ref, order)`` tuples.
    """
    kinds, texts, refs, metrics = extract_document_flat(doc_id, spans)
    return (
        [(k, t, r, i) for i, (k, t, r) in enumerate(zip(kinds, texts, refs))],
        metrics,
    )


def extract_document_flat(
    doc_id: str, spans: List[dict]
) -> Tuple[List[str], List[str], List[str], dict]:
    """Dict-span form of ``extract_document_cols`` (tests / ad-hoc use)."""
    return extract_document_cols(
        doc_id,
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s.get("media_ref") for s in spans],
        [s["offset"] for s in spans],
    )


def extract_document_cols(
    doc_id: str,
    in_kinds,
    in_texts,
    in_refs,
    in_offsets,
) -> Tuple[List[str], List[str], List[str], dict]:
    """Columnar extraction core: parallel input sequences in, parallel flat
    output lists ``(kinds, texts, media_refs, metrics_dict)`` out; the order
    column is implicitly ``range(len(kinds))`` (contiguous from 0 by
    construction).

    This signature exists for the Arrow boundary: the JVM extracts the four
    primitive arrays from the span structs (free), so the Python side never
    materializes a dict per span — measured ~16% end-to-end at sf0.1x8 on
    top of the flat-output win.  None offsets sort as 0."""
    metrics = Metrics()
    n = len(in_kinds)
    order_idx = sorted(
        range(n), key=lambda i: in_offsets[i] if in_offsets[i] is not None else 0
    )
    headings: List[Tuple[int, str]] = [
        (in_offsets[i] or 0, in_texts[i] or "")
        for i in order_idx
        if in_kinds[i] == "heading"
    ]

    # locate candidate tables: (class_rank, span_offset, start_in_span, markup)
    candidates = []
    for i in order_idx:
        s_text = in_texts[i]
        # case-insensitive containment WITHOUT allocating a lowered copy of
        # every span: at corpus scale most spans carry no table at all, and
        # lower() on a miss is a full-string allocation for nothing
        if in_kinds[i] != "text" or not s_text or not _TABLE_HINT.search(s_text):
            continue
        s = {"offset": in_offsets[i] or 0, "text": s_text}
        for start, markup in _find_table_regions(s_text):
            try:
                root = parse_fragment(markup)
            except Exception:
                metrics.kernel_errors += 1
                continue
            # all table elements in the region, document order — like the
            # reference's XPath ``//table[@class=...]`` this includes tables
            # NESTED inside another table's cells (:98-103)
            for sub, table in enumerate(find_elements(root, "table")):
                cls = table.attrib.get("class", "")
                if cls in WIKITABLE_CLASSES:
                    rank = WIKITABLE_CLASSES.index(cls)
                    candidates.append((rank, s["offset"], (start, sub), table))

    # reference find_wiki_tables order: grouped by class, doc order within
    candidates.sort(key=lambda c: (c[0], c[1], c[2]))
    metrics.tables_num = len(candidates)

    kinds: List[str] = []
    texts: List[str] = []
    refs: List[str] = []
    for _rank, span_offset, _start, table in candidates:
        metrics.tables_analyzed += 1
        try:
            tab = parse_table(table, metrics)
        except Exception:
            # the reference would crash the whole run here; at 10^12-doc scale
            # we record and continue (documented divergence)
            metrics.kernel_errors += 1
            continue
        if tab.error:
            continue
        section = _section_for(headings, span_offset, doc_id)

        kinds.append("section")
        texts.append(section)
        refs.append("")
        for header in tab.headers_refined:
            kinds.append("header")
            texts.append(header["th"])
            refs.append("")

        rows = filter_summary_rows(tab.data_refined, metrics)
        for row in rows:
            metrics.triples_row += 1  # the per-row reification triple (A9)
            for cell in row.values():
                value = extract_value_from_cell(cell)
                if value == "-":  # empty-cell marker (P6, Mapper.py:104-106)
                    continue
                if len(cell) > 1:
                    for link_value in cell[:-1]:
                        kinds.append("link")
                        texts.append(value_to_str(link_value))
                        refs.append("")
                media = getattr(cell, "media", None)
                kinds.append("cell")
                texts.append(value)
                if media:
                    refs.append(media[0][1])
                    for caption, ref in media:
                        kinds.append("media")
                        texts.append(caption)
                        refs.append(ref)
                else:
                    refs.append("")

    # flat int-only dataclass: a shallow dict copy is asdict() without the
    # per-field recursive _asdict_inner walk (~2% of kernel time profiled)
    return kinds, texts, refs, dict(metrics.__dict__)
