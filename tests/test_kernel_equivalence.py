"""The kernel's fast paths must build exactly what its general paths build.

* ``parse_fragment`` tokenizes a plain ``<td>text</td>`` / ``<th>text</th>``
  in one step.  Spelling the tag ``<td >`` forces the general open/text/close
  path, so the spelled-out markup is an oracle for the fused token.
* A pinned digest of every ``extract_document`` output (spans and metrics)
  over the fixture pages and two generated reference-weight corpora.  The
  benchmark's own check compares Spark output with the driver-side kernel,
  i.e. the kernel with itself, so only this digest catches drift on
  documents that are not fixture copies.
* The cyclic GC finds nothing to collect after the kernel ran: its trees,
  dicts and lists are acyclic, which is what lets the Arrow stage pause the
  collector across a batch (``plans.extract._parse_batches``).
"""

from __future__ import annotations

import gc
import hashlib
import importlib.util
import json
import os

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from table_extractor_spark.kernel.document import extract_document
from table_extractor_spark.kernel.htmlmini import Element, parse_fragment
from table_extractor_spark.sources.corpus import fixture_documents

_GEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "gen.py"
)


def _refweight_docs(seed: int, n_docs: int, copies: int):
    spec = importlib.util.spec_from_file_location("_perfbench_gen", _GEN_PATH)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen.refweight_docs(seed, n_docs, copies)[0]


def _corpus():
    docs = list(fixture_documents())
    for seed in (1, 2):
        docs.extend(_refweight_docs(seed, 300, 2))
    return docs


# ---------------------------------------------------------------------------
# tokenizer: fused cell token == general tag path
# ---------------------------------------------------------------------------


def _tree(node):
    if isinstance(node, str):
        return node
    return (node.tag, node.attrib, [_tree(c) for c in node.children])


# no bare quote token: a quote could open an attribute value that swallows a
# later "<td>", and the oracle's respelling would then change the value
_TOKENS = [
    "<td>", "</td>", "<th>", "</th>", "<tr>", "</tr>", "<TD>", "</TD>",
    "<table>", "</table>", '<table class="wikitable">', '<td colspan="2">',
    "<a title=t>", "</a>", "<b>", "</b>", "<br>", "<br/>", "<li>", "<p>",
    "<td/>", "<", ">", "/", "t", "d", "h", "x", " ", "\n", "&amp;", "&",
    "&nbsp;", "&#60;", "&lt;", ";", "é", "Totale", "1.5",
]
soup = st.one_of(
    st.lists(st.sampled_from(_TOKENS), max_size=40).map("".join),
    st.text(alphabet=st.sampled_from(list("<>/tdhra &;\nx1")), max_size=60),
)


@given(soup)
@settings(max_examples=1000, deadline=None)
def test_fused_cell_token_builds_the_general_tree(markup):
    general = markup.replace("<td>", "<td >").replace("<th>", "<th >")
    assert _tree(parse_fragment(markup)) == _tree(parse_fragment(general))


def test_fused_cell_token_shapes():
    for markup in (
        "<tr><td>a &amp; b</td><td></td><th>h</th></tr>",
        "<tr><td>open<td>x</td></tr>",          # implicit td close
        "<td>a</th>",                           # mismatched close: general path
        "<td>&#60;</td><td>1 > 0</td>",         # entity and bare '>' in text
    ):
        general = markup.replace("<td>", "<td >").replace("<th>", "<th >")
        assert _tree(parse_fragment(markup)) == _tree(parse_fragment(general))
    cell = parse_fragment("<td>a &amp; b</td>").children[0]
    assert isinstance(cell, Element) and cell.children == ["a & b"]


# ---------------------------------------------------------------------------
# whole-kernel digest, pinned before the single-pass kernel landed
# ---------------------------------------------------------------------------

KERNEL_DIGEST = "63bd0afc30a2ed187e5eb3cc3e0ea0a096b16d4fd44835f4505e49acd169524d"


def test_kernel_output_digest_is_pinned():
    h = hashlib.sha256()
    for doc_id, spans in _corpus():
        out, metrics = extract_document(doc_id, spans)
        h.update(
            json.dumps([doc_id, out, sorted(metrics.items())], ensure_ascii=False)
            .encode("utf-8")
        )
    assert h.hexdigest() == KERNEL_DIGEST


# ---------------------------------------------------------------------------
# the GC premise of the Arrow stage
# ---------------------------------------------------------------------------


def test_kernel_leaves_no_cyclic_garbage():
    docs = list(fixture_documents()) + _refweight_docs(3, 60, 1)
    was = gc.isenabled()
    gc.collect()
    gc.disable()
    try:
        for doc_id, spans in docs:
            extract_document(doc_id, spans)
        assert gc.collect() == 0
    finally:
        if was:
            gc.enable()


def _batch(docs):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], pa.string()),
            pa.array([[s["kind"] for s in sp] for _, sp in docs]),
            pa.array([[s["text"] for s in sp] for _, sp in docs]),
            pa.array([[s.get("media_ref") for s in sp] for _, sp in docs]),
            pa.array([[s["offset"] for s in sp] for _, sp in docs], pa.list_(pa.int32())),
        ],
        ["doc_id", "__k", "__t", "__r", "__o"],
    )


def _drain_checking_gc(batches):
    """Run the generator and record, per yielded batch, whether the GC is
    on."""
    from table_extractor_spark.plans.extract import parse_documents_gen

    seen = []
    for out in parse_documents_gen(iter(batches)):
        seen.append(gc.isenabled())
        assert out.num_rows > 0
    return seen


def test_parse_batches_restores_an_enabled_gc():
    docs = list(fixture_documents())
    assert gc.isenabled()
    seen = _drain_checking_gc([_batch(docs[:5]), _batch(docs[5:])])
    assert seen and all(seen)
    assert gc.isenabled()


def test_parse_batches_keeps_a_disabled_gc_disabled():
    docs = list(fixture_documents())
    gc.disable()
    try:
        seen = _drain_checking_gc([_batch(docs)])
        assert seen and not any(seen)
        assert not gc.isenabled()
    finally:
        gc.enable()
