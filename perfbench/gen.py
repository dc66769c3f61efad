"""Seeded input generator for the extraction benchmark.

Every workload's documents are written as parquet in
``plans.extract.INPUT_SCHEMA`` (and ``rdf_emit``'s spans table in the
extraction output's columns); the program under test sees only those files.
The same seed always yields byte-identical rows.

Aggregate work is pinned across seeds: table counts, row counts and quirk
families are fixed multisets that the seed only shuffles and fills with
different words, so two seeds differ in content and placement but not in
how much markup there is.  That keeps run-to-run spread down to what the
system itself does.
"""

from __future__ import annotations

import os
import random
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from table_extractor_spark.kernel.document import WIKITABLE_CLASSES
from table_extractor_spark.sources.corpus import fixture_documents

Doc = Tuple[str, List[dict]]

FAMILIES = (
    "plain",
    "colspan",
    "rowspan",
    "supersub",
    "anchors",
    "vertical",
    "totale",
)
_SYLLABLES = (
    "ba", "ro", "mi", "ta", "ne", "lu", "ka", "so", "vi", "de", "ra", "po",
    "ni", "ga", "le", "ma", "to", "ri", "se", "fu", "ch", "ez", "ol", "an",
)
_ACCENTED = ("é", "ü", "ñ", "ç", "ø")

# fixture pages whose golden output does not depend on their doc_id: the
# first table of soccer_accents_Pelé sits before any heading, so its section
# falls back to the (copied) doc_id and only the driver-side kernel can say
# what a copy must produce
DOC_ID_FREE_FIXTURES = tuple(
    d for d, _ in fixture_documents() if d != "soccer_accents_Pelé"
)


class _Words:
    def __init__(self, rng: random.Random):
        self.rng = rng

    def word(self) -> str:
        r = self.rng
        w = "".join(r.choice(_SYLLABLES) for _ in range(r.randint(2, 4)))
        if r.random() < 0.05:
            w += r.choice(_ACCENTED)
        return w.capitalize()

    def phrase(self, n: int) -> str:
        return " ".join(self.word() for _ in range(n))

    def value(self) -> str:
        """A cell value: a year, a count, a float or a name."""
        r = self.rng
        k = r.random()
        if k < 0.25:
            return str(r.randint(1950, 2024))
        if k < 0.5:
            return str(r.randint(0, 400))
        if k < 0.6:
            return f"{r.randint(0, 99)}.{r.randint(0, 99)}"
        return self.phrase(r.randint(1, 2))


def _td(v: str) -> str:
    return f"<td>{v}</td>"


def _th(v: str) -> str:
    return f"<th>{v}</th>"


def _table(w: _Words, family: str, rows: int, cls: str, doc_id: str, t: int) -> str:
    """Markup of one wikitable with ``rows`` data rows of one quirk family."""
    r = w.rng
    ncol = r.randint(3, 6)
    heads = [w.word() for _ in range(ncol)]
    out = [f'<table class="{cls}">']
    if family == "vertical":
        # th + td on every row: the parser turns it sideways
        for i in range(rows):
            out.append(f"<tr>{_th(heads[i % ncol] + str(i))}{_td(w.value())}</tr>")
        out.append("</table>")
        return "".join(out)
    if family == "supersub":
        # a super-header row of colspan groups over a sub-header row
        half = max(1, ncol // 2)
        out.append(
            f'<tr><th colspan="{half}">{w.word()}</th>'
            f'<th colspan="{ncol - half}">{w.word()}</th></tr>'
        )
        out.append("<tr>" + "".join(_th(h) for h in heads) + "</tr>")
    elif family == "colspan":
        out.append(
            f"<tr>{_th(heads[0])}"
            f'<th colspan="{ncol - 1}">{w.word()}</th></tr>'
        )
        out.append("<tr><th></th>" + "".join(_th(h) for h in heads[1:]) + "</tr>")
    elif family == "rowspan":
        out.append(
            f'<tr><th rowspan="2">{heads[0]}</th>'
            + "".join(_th(h) for h in heads[1:])
            + "</tr>"
        )
        out.append("<tr>" + "".join(_th(h + "x") for h in heads[1:]) + "</tr>")
    else:
        out.append("<tr>" + "".join(_th(h) for h in heads) + "</tr>")
    for i in range(rows):
        cells = []
        for c in range(ncol):
            v = w.value()
            if family == "anchors" and c == 1:
                cells.append(
                    f'<td><a href="/wiki/{v.replace(" ", "_")}" title="{v}">{v}</a></td>'
                )
            elif family == "anchors" and c == 2 and i % 3 == 0:
                ref = f"img://{doc_id}/t{t}r{i}.jpg"
                cells.append(f'<td><a href="{ref}" class="image">{v}</a></td>')
            elif family == "colspan" and c == ncol - 2 and i % 5 == 0:
                cells.append(f'<td colspan="2">{v}</td>')
                break
            elif family == "rowspan" and c == 0 and i % 4 == 0 and i + 1 < rows:
                cells.append(f'<td rowspan="2">{v}</td>')
            elif family == "rowspan" and c == 0 and i % 4 == 1:
                continue
            else:
                cells.append(_td(v))
        out.append("<tr>" + "".join(cells) + "</tr>")
    if family == "totale":
        out.append(
            "<tr>" + _td("Carriera complessiva totale")
            + "".join(_td(str(r.randint(0, 900))) for _ in range(ncol - 1))
            + "</tr>"
        )
        out.append(
            "<tr>" + _td("Totale")
            + "".join(_td(str(r.randint(0, 900))) for _ in range(ncol - 1))
            + "</tr>"
        )
    out.append("</table>")
    return "".join(out)


def _spans(*items: Tuple[str, str, str]) -> List[dict]:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(items)
    ]


def _page(w: _Words, doc_id: str, plan: List[Tuple[str, int]]) -> List[dict]:
    """A page: per table a heading, then prose around the table markup; a
    media span and a non-wiki infobox table the extractor must ignore."""
    r = w.rng
    items = [
        ("text", w.phrase(12) + '<table class="infobox"><tr><th>'
         + w.word() + "</th><td>" + w.word() + "</td></tr></table>", ""),
        ("media", w.phrase(2), f"img://{doc_id}/lead.jpg"),
    ]
    for t, (family, rows) in enumerate(plan):
        cls = WIKITABLE_CLASSES[(t + r.randint(0, 2)) % 3]
        items.append(("heading", w.phrase(2), ""))
        items.append((
            "text",
            w.phrase(r.randint(10, 40)) + " "
            + _table(w, family, rows, cls, doc_id, t)
            + " " + w.phrase(r.randint(5, 20)),
            "",
        ))
    return _spans(*items)


def _fixture_copies(
    rng: random.Random, ids: Tuple[str, ...], copies: int
) -> List[Tuple[str, str, List[dict]]]:
    """(copy_doc_id, base_doc_id, spans) for ``copies`` copies of each id;
    the copy ids carry a seeded tag."""
    base = dict(fixture_documents())
    tag = rng.randrange(16**6)
    return [
        (f"{d}__c{tag:06x}_{c:04d}", d, base[d]) for c in range(copies) for d in ids
    ]


def refweight_docs(
    seed: int, n_docs: int, fixture_copies: int
) -> Tuple[List[Doc], Dict[str, str]]:
    """Reference-weight pages: 1-3 wikitables of 30-80 rows each, every
    quirk family in equal share, shuffled together with seeded-id copies of
    all 16 fixture pages.  Returns the docs and {copy_doc_id: fixture_id}."""
    rng = random.Random(seed)
    w = _Words(rng)
    n_tables = [1 + i % 3 for i in range(n_docs)]
    rng.shuffle(n_tables)
    total = sum(n_tables)
    rows = [30 + i % 51 for i in range(total)]
    fams = [FAMILIES[i % len(FAMILIES)] for i in range(total)]
    rng.shuffle(rows)
    rng.shuffle(fams)
    docs, k = [], 0
    for i, nt in enumerate(n_tables):
        doc_id = f"ref_{seed}_{i:06d}"
        plan = list(zip(fams[k : k + nt], rows[k : k + nt]))
        k += nt
        docs.append((doc_id, _page(w, doc_id, plan)))
    ids = tuple(d for d, _ in fixture_documents())
    copies = _fixture_copies(rng, ids, fixture_copies)
    docs.extend((c, s) for c, _, s in copies)
    rng.shuffle(docs)
    return docs, {c: b for c, b, _ in copies}


# soccer_mega stays out of rdf_emit: its 2,150 spans outweigh all other
# fixtures together, so where a few copies' doc_ids hash would decide the
# window stages' balance, and with it the job time, per seed
RDF_FIXTURES = tuple(d for d in DOC_ID_FREE_FIXTURES if d != "soccer_mega")


def rdf_docs(seed: int, copies: int) -> Tuple[List[Doc], Dict[str, str]]:
    """Seeded-id copies of the ``RDF_FIXTURES`` pages."""
    rng = random.Random(seed)
    reps = _fixture_copies(rng, RDF_FIXTURES, copies)
    rng.shuffle(reps)
    return [(c, s) for c, _, s in reps], {c: b for c, b, _ in reps}


def spans_rows(docs: List[Doc]) -> List[dict]:
    """The extraction output of ``docs`` as rows of the pipeline's output
    table, computed by the kernel on the driver."""
    from table_extractor_spark.kernel.document import extract_document

    return [
        {"doc_id": d, "kind": k, "text": t, "media_ref": r, "order": o}
        for d, spans in docs
        for k, t, r, o in extract_document(d, spans)[0]
    ]


def write_docs(docs: List[Doc], path: str, n_files: int) -> int:
    """Write ``docs`` in ``INPUT_SCHEMA``; see ``write_rows``."""
    from table_extractor_spark.plans.extract import INPUT_SCHEMA

    rows = [{"doc_id": d, "spans": s} for d, s in docs]
    return write_rows(rows, INPUT_SCHEMA, path, n_files)


def write_rows(rows: List[dict], spark_schema, path: str, n_files: int) -> int:
    """Write ``rows`` as ``n_files`` parquet files under ``path`` in the
    Arrow form of ``spark_schema``; returns the bytes written."""
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    schema = to_arrow_schema(spark_schema)
    size = 0
    for f in range(n_files):
        table = pa.Table.from_pylist(rows[f::n_files], schema=schema)
        fn = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table, fn, compression="zstd")
        size += os.path.getsize(fn)
    return size
