"""Minimal, dependency-free HTML fragment parser (the "from-scratch DOM builder").

The reference engine (dbpedia/table-extractor) parses fetched Wikipedia pages with
``lxml`` (``/root/reference/table_extractor/Utilities.py:241-260``) and then walks the
element tree with ``findall`` / ``iterchildren`` / ``itertext`` / ``.text``
(``HtmlTableParser.py:87-121, 289-293, 627-655, 674-714, 716-755``).

Our engine never receives whole pages — table markup arrives embedded inside the
``text`` spans of the interleaved document model (see FIXTURES.md) — so all we need
is a tolerant tokenizer + tree builder for table fragments.  We deliberately
re-implement only the lxml behaviors the reference observes:

* ``Element.findall(tag)``  -> *direct* children with that tag
* ``Element.iterchildren()``-> direct element children, in order
* ``Element.itertext()``    -> all descendant text, document order
* ``Element.text``          -> text between the start tag and the first child element
* ``len(element)``          -> number of direct element children
* ``element.attrib``        -> attribute dict (first occurrence wins)

Entities are decoded like lxml does (``&nbsp;`` -> ``\xa0``) via ``html.unescape``.
"""

from __future__ import annotations

import html as _htmlmod
import re
from typing import Iterator, List, Optional, Union

# Tags that never have content (HTML void elements) -- a subset is enough for
# wiki-table fragments; anything else self-closes only with an explicit "/>".
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "wbr", "col", "source", "area", "base"}
)

# Elements that implicitly close an open element with the same (or listed) tag,
# mirroring how real HTML parsers (and lxml.html) recover from unclosed tags.
_IMPLICIT_CLOSERS = {
    "tr": ("tr", "td", "th"),
    "td": ("td", "th"),
    "th": ("td", "th"),
    "li": ("li",),
    "p": ("p",),
}

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>")
_ATTR_RE = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+)))?"
)


class Element:
    """A tiny DOM node: tag name, attribute dict, ordered mixed children."""

    __slots__ = ("tag", "attrib", "children")

    def __init__(self, tag: str, attrib: Optional[dict] = None):
        self.tag = tag
        self.attrib: dict = attrib or {}
        # children holds `str` (text nodes) and `Element` instances, interleaved.
        self.children: List[Union[str, "Element"]] = []

    # --- lxml-compatible surface (only what the reference pipeline touches) ---

    @property
    def text(self) -> Optional[str]:
        """Text before the first child element (lxml ``.text`` semantics)."""
        if self.children and isinstance(self.children[0], str):
            return self.children[0]
        return None

    def findall(self, tag: str) -> List["Element"]:
        """Direct children with the given tag (lxml ``findall('th')`` on a row)."""
        return [c for c in self.children if isinstance(c, Element) and c.tag == tag]

    def iterchildren(self) -> Iterator["Element"]:
        for c in self.children:
            if isinstance(c, Element):
                yield c

    def itertext(self) -> Iterator[str]:
        for c in self.children:
            if isinstance(c, str):
                yield c
            else:
                yield from c.itertext()

    def __len__(self) -> int:
        return sum(1 for c in self.children if isinstance(c, Element))

    def __repr__(self) -> str:  # debugging aid only
        return f"<Element {self.tag} attrs={self.attrib} kids={len(self.children)}>"


def _parse_attrs(raw: str) -> dict:
    attrs: dict = {}
    for m in _ATTR_RE.finditer(raw):
        # libxml2's HTML parser (what the reference sees through lxml)
        # lowercases attribute names as well as tag names — COLSPAN="2"
        # must resolve like colspan="2"
        name = m.group(1)
        if not name.islower():
            name = name.lower()
        value = m.group(3)
        if value is None:
            value = m.group(4)
        if value is None:
            value = m.group(5)
        if value is None:
            value = ""  # bare attribute
        if name not in attrs:  # first occurrence wins (lxml keeps the first too)
            attrs[name] = _htmlmod.unescape(value)
    return attrs


def parse_fragment(markup: str) -> Element:
    """Parse an HTML fragment into a tree rooted at a synthetic ``<#root>``.

    Tolerant tag-soup parsing: unknown close tags pop up the stack to the
    nearest matching open element (discarded if none), unclosed elements are
    implicitly closed per ``_IMPLICIT_CLOSERS`` or when an ancestor closes.
    """
    root = Element("#root")
    stack: List[Element] = [root]
    top = root  # cached stack[-1]: saves two index loads per tag/text event
    kids = root.children  # cached top.children: one attr load per event
    # hot loop: bind globals/attributes to locals; ~150 tags per table and
    # every document goes through here, so constant factors matter
    unescape = _htmlmod.unescape
    implicit = _IMPLICIT_CLOSERS.get
    void = _VOID_TAGS
    # one split call tokenizes the whole fragment without a Match object per
    # tag: [text, closing, tag, rawattrs, selfclose, text, ...], so after the
    # leading text every tag arrives as a 5-tuple with the text that follows
    parts = _TAG_RE.split(markup)
    text = parts[0]
    if text and "&" in text:
        text = unescape(text)
    if text:
        kids.append(text)
    it = iter(parts)
    next(it)
    for closing, tag, rawattrs, selfclose, text in zip(it, it, it, it, it):
        if not tag.islower():  # islower scans without allocating; real-world
            tag = tag.lower()  # markup is almost always lowercase already
        if closing:
            if tag == top.tag:  # the common case: close the innermost element
                stack.pop()
                top = stack[-1]
                kids = top.children
            else:
                # pop to the matching open tag, if present anywhere below
                for i in range(len(stack) - 2, 0, -1):
                    if stack[i].tag == tag:
                        del stack[i:]
                        top = stack[-1]
                        kids = top.children
                        break
        else:
            # implicit closes (e.g. a <tr> closes a still-open <tr>/<td>/<th>)
            closers = implicit(tag)
            if closers:
                while len(stack) > 1 and top.tag in closers:
                    stack.pop()
                    top = stack[-1]
                kids = top.children
            # most tags carry no attributes: skip the parse without
            # allocating a stripped copy (isspace never allocates)
            node = Element(
                tag,
                _parse_attrs(rawattrs)
                if rawattrs and not rawattrs.isspace()
                else None,
            )
            kids.append(node)
            if not selfclose and tag not in void:
                stack.append(node)
                top = node
                kids = node.children
        if text:
            if "&" in text:  # unescape only when an entity can exist
                text = unescape(text)
                if not text:
                    continue
            if kids and kids[-1].__class__ is str:
                kids[-1] += text  # merge adjacent text nodes
            else:
                kids.append(text)
    return root


def find_elements(node: Element, tag: str) -> List[Element]:
    """All descendants with the given tag, document order (lxml ``//tag``).

    Iterative preorder with an explicit stack — this runs per document on
    the full tree, and Python call frames per node were measurable."""
    out: List[Element] = []
    # stack of child lists with a cursor each, preserving document order
    stack = [(node.children, 0)]
    append = out.append
    push = stack.append
    while stack:
        children, i = stack.pop()
        n = len(children)
        while i < n:
            c = children[i]
            i += 1
            if c.__class__ is Element:
                if c.tag == tag:
                    append(c)
                kids = c.children
                if kids:
                    push((children, i))  # resume parent after subtree
                    children, i, n = kids, 0, len(kids)
    return out
