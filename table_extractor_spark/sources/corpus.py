"""Deterministic fixture corpus (FIXTURES.md §3) + scalable replication.

Every fixture is a hand-written ``(doc_id, spans)`` document exercising one
reference semantic (soccer-player / actor domains, the reference's canonical
test domains per ``/root/reference/statistics.py:33-38``).  Content is
enumerated, never sampled — no randomness anywhere.

``replicate(docs, n)`` clones the corpus with suffixed doc_ids for the
determinism (local[8] vs local[32]) and throughput benchmarks; a replicated
doc's golden output is the original's with the new doc_id (document-pure
kernel), which the tests exploit.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

Span = Tuple[str, str, str, int]  # (kind, text, media_ref, offset)


def _doc(doc_id: str, *spans: Tuple[str, str, str]) -> Tuple[str, List[dict]]:
    out = []
    for i, (kind, text, media_ref) in enumerate(spans):
        out.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": i})
    return doc_id, out


def _t(text: str) -> Tuple[str, str, str]:
    return ("text", text, "")


def _h(text: str) -> Tuple[str, str, str]:
    return ("heading", text, "")


def _m(caption: str, ref: str) -> Tuple[str, str, str]:
    return ("media", caption, ref)


def fixture_documents() -> List[Tuple[str, List[dict]]]:
    """The FIXTURES.md §3 matrix, in a stable order."""
    docs = []

    # soccer_plain — simple 3x4 wikitable under a heading (P1, W1, J5)
    docs.append(_doc(
        "soccer_plain",
        _h("Career statistics"),
        _t('Seasons played.<table class="wikitable">'
           "<tr><th>Year</th><th>Team</th><th>GP</th><th>Goals</th></tr>"
           "<tr><td>1998</td><td>Milan</td><td>30</td><td>12</td></tr>"
           "<tr><td>1999</td><td>Milan</td><td>28</td><td>9</td></tr>"
           "<tr><td>2000</td><td>Roma</td><td>31</td><td>14</td></tr>"
           "</table>After text."),
    ))

    # soccer_colspan — header colspan=3 expansion (ref :802-850)
    docs.append(_doc(
        "soccer_colspan",
        _h("League record"),
        _t('<table class="wikitable sortable">'
           '<tr><th>Season</th><th colspan="3">Apps</th></tr>'
           "<tr><th></th><th>League</th><th>Cup</th><th>Total</th></tr>"
           "<tr><td>2001</td><td>20</td><td>5</td><td>25</td></tr>"
           "</table>"),
    ))

    # soccer_rowspan — header rowspan=2 blank fill-down (ref :439-472)
    docs.append(_doc(
        "soccer_rowspan",
        _h("Club career"),
        _t('<table class="wikitable">'
           '<tr><th rowspan="2">Year</th><th>Apps</th></tr>'
           "<tr><th>Goals</th></tr>"
           "<tr><td>2002</td><td>7</td></tr>"
           "</table>"),
    ))

    # soccer_supersub — two header rows -> "Sup - Sub" flatten (ref :520-587)
    docs.append(_doc(
        "soccer_supersub",
        _h("Statistics"),
        _t('<table class="wikitable">'
           '<tr><th colspan="2">Club</th><th colspan="2">National team</th></tr>'
           "<tr><th>Apps</th><th>Goals</th><th>Apps</th><th>Goals</th></tr>"
           "<tr><td>100</td><td>40</td><td>50</td><td>20</td></tr>"
           "</table>"),
    ))

    # soccer_totale — trailing 'Totale' row (P4) + career summary row (P5)
    docs.append(_doc(
        "soccer_totale",
        _h("Campionato"),
        _t('<table class="wikitable">'
           "<tr><th>Stagione</th><th>Presenze</th><th>Reti</th></tr>"
           "<tr><td>2010 Juventus FC</td><td>10</td><td>3</td></tr>"
           "<tr><td>2011 Juventus FC</td><td>20</td><td>5</td></tr>"
           "<tr><td>Carriera complessiva totale</td><td>30</td><td>8</td></tr>"
           "<tr><td>Totale</td><td>30</td><td>8</td></tr>"
           "</table>"),
    ))

    # soccer_floats — Python float() typing semantics (F10)
    docs.append(_doc(
        "soccer_floats",
        _h("Averages"),
        _t('<table class="wikitable">'
           "<tr><th>GP</th><th>Avg</th><th>Zero</th><th>Exp</th><th>Pad</th></tr>"
           "<tr><td>12</td><td>3.5</td><td>0.0</td><td>1e2</td><td> 7 </td></tr>"
           "</table>"),
    ))

    # actor_vertical — th+td on every row (P3 vertical, ref :302-307, :413-419)
    docs.append(_doc(
        "actor_vertical",
        _h("Personal details"),
        _t('<table class="wikitable">'
           "<tr><th>Born</th><td>1970</td></tr>"
           "<tr><th>Occupation</th><td>Actor</td></tr>"
           "</table>"),
    ))

    # actor_anchors — blue link (title), red link (class=new), media anchor
    docs.append(_doc(
        "actor_anchors",
        _h("Filmography"),
        _m("Premiere photo", "img://actor_anchors/0.jpg"),
        _t('<table class="wikitable">'
           "<tr><th>Year</th><th>Film</th><th>Director</th><th>Photo</th></tr>"
           '<tr><td>1994</td>'
           '<td><a href="/wiki/Pulp_Fiction" title="Pulp Fiction">Pulp Fiction</a></td>'
           '<td><a href="/w/index.php?title=New_Director" class="new">New Director</a></td>'
           '<td><a href="img://actor_anchors/0.jpg">Premiere photo</a></td></tr>'
           "</table>"),
    ))

    # actor_citations — citations, nbsp (asymmetric!), newlines, quotes (F1-F5):
    # header nbsp is DELETED ('Role\xa0[1]' -> 'Role[1]' -> 'Role'); data-cell
    # nbsp becomes a SPACE ('Lead\xa0role' -> 'Lead role'); header newline ->
    # ' ', data newline -> '/'; quote -> '.' in headers only.
    docs.append(_doc(
        "actor_citations",
        _h("Awards"),
        _t('<table class="wikitable">'
           "<tr><th>Role\xa0[1]</th><th>Film's\ntitle</th></tr>"
           "<tr><td>Lead\xa0role</td><td>Good\nFilm</td></tr>"
           "</table>"),
    ))

    # actor_arity — data row shorter than header row (J5 wraparound :944-963)
    docs.append(_doc(
        "actor_arity",
        _h("Television"),
        _t('<table class="wikitable">'
           "<tr><th>Year</th><th>Title</th><th>Role</th></tr>"
           "<tr><td>2005</td><td>Show</td></tr>"
           "<tr><td>2006</td><td>Other</td><td>Guest</td></tr>"
           "</table>"),
    ))

    # actor_emptycells — empty td -> '-', empty th kept '' (:663-666, :359-367)
    docs.append(_doc(
        "actor_emptycells",
        _h("Theatre"),
        _t('<table class="wikitable">'
           "<tr><th>Year</th><th></th><th>Notes</th></tr>"
           "<tr><td>2010</td><td></td><td>Hamlet</td></tr>"
           "</table>"),
    ))

    # actor_notables — prose + media only, no tables (:118-121)
    docs.append(_doc(
        "actor_notables",
        _h("Early life"),
        _t("Born in a small town. No structured data on this page."),
        _m("Portrait", "img://actor_notables/0.jpg"),
    ))

    # actor_onerow — single-row table: headers only, no data rows (E3 path;
    # the explorer would also drop it via n_rows>1, pyDomainExplorer.py:79-81)
    docs.append(_doc(
        "actor_onerow",
        _h("Empty section"),
        _t('<table class="wikitable">'
           "<tr><th>Only</th><th>Headers</th></tr>"
           "</table>"),
    ))

    # soccer_accents — accented data kept; accented HEADING kept (unicode path);
    # doc-title fallback section folded (bytes path).  Two tables: one under a
    # heading with accents, one before any heading (title fallback).
    docs.append(_doc(
        "soccer_accents_Pelé",
        _t('<table class="wikitable">'
           "<tr><th>Clube</th></tr>"
           "<tr><td>Santos</td></tr>"
           "</table>"),
        _h("Títulos conquistados"),
        _t('<table class="wikitable sortable">'
           "<tr><th>Campeão</th></tr>"
           "<tr><td>Pelé</td></tr>"
           "</table>"),
    ))

    # actor_accents — Beyoncé domain twin
    docs.append(_doc(
        "actor_accents_Beyoncé",
        _h("Discographie détaillée"),
        _t('<table class="wikitable">'
           "<tr><th>Année</th><th>Titre</th></tr>"
           "<tr><td>2003</td><td>Beyoncé</td></tr>"
           "</table>"),
    ))

    # soccer_mega — 1 doc with many tables (skew/salting path, scale test)
    mega_tables = []
    for t in range(50):
        rows = "".join(
            f"<tr><td>{t}-{r}</td><td>{r}</td></tr>" for r in range(20)
        )
        mega_tables.append(
            f'<table class="wikitable"><tr><th>Match</th><th>Goals</th></tr>{rows}</table>'
        )
    docs.append(_doc(
        "soccer_mega",
        _h("All matches"),
        _t("".join(mega_tables)),
    ))

    return docs


def replicate(
    docs: List[Tuple[str, List[dict]]], copies: int
) -> List[Tuple[str, List[dict]]]:
    """Clone the corpus ``copies`` times with suffixed doc_ids (deterministic)."""
    out = []
    for c in range(copies):
        for doc_id, spans in docs:
            out.append((f"{doc_id}__r{c:05d}", spans))
    return out


def corpus_rows(copies: int = 1) -> List[dict]:
    """Rows ready for ``spark.createDataFrame`` / pandas, FIXTURES.md §1 schema."""
    base = fixture_documents()
    docs = base if copies == 1 else replicate(base, copies)
    return [{"doc_id": d, "spans": s} for d, s in docs]


def rules_rows() -> List[Dict[str, str]]:
    """Mapping-rules table (J1/J2), FIXTURES.md §4 — seeded from the reference's
    vocabularies (mapping_rules.py:4-76,79-228) adapted to the fixture headers."""
    rules = {
        # section rules (SECTION_ prefix, settings.py:50)
        "SECTION_Career statistics": "careerStation",
        "SECTION_League record": "careerStation",
        "SECTION_Club career": "careerStation",
        "SECTION_Statistics": "careerStation",
        "SECTION_Campionato": "careerStation",
        "SECTION_Averages": "careerStation",
        "SECTION_Personal details": "personFunction",
        "SECTION_Filmography": "filmography",
        "SECTION_Awards": "award",
        "SECTION_Television": "filmography",
        "SECTION_Theatre": "filmography",
        "SECTION_Títulos conquistados": "honours",
        "SECTION_Discographie détaillée": "discography",
        "SECTION_All matches": "careerStation",
        "SECTION_soccer accents Pele": "careerStation",
        # strict rules: "<section>_<header>"
        "Career statistics_Year": "year",
        "Career statistics_Team": "team",
        # loose rules: bare header
        "Year": "year",
        "Team": "team",
        "GP": "numberOfMatches",
        "Goals": "goals",
        "Stagione": "year",
        "Presenze": "numberOfMatches",
        "Reti": "goals",
        "Film": "film",
        "Director": "director",
        "Born": "birthYear",
        "Occupation": "occupation",
        "Role": "role",
        "Title": "title",
    }
    return [{"key": k, "property": v} for k, v in rules.items()]


def entities_rows() -> List[Dict[str, str]]:
    """Known-entities table for the URIRef-vs-literal decision (J3)."""
    names = ["Milan", "Roma", "Pulp_Fiction", "Santos", "Juventus_FC", "Hamlet"]
    return [{"name": n} for n in names]
