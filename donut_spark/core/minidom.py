"""A minimal lenient HTML DOM on top of stdlib ``html.parser``.

The reference uses BeautifulSoup (`thirdparty/synthtable/utils/
html_util.py`) and lxml (`teds.py:190-194`); neither is available in this
container, so this module provides the small slice of DOM behavior the
kernels need: lenient parsing of malformed fragments, document-order
``find_all``, descendant-text extraction, child mutation, attribute
editing, and round-trip serialization.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, List, Optional

__all__ = ["HNode", "parse_html"]

# HTML void elements never take children (subset that matters for docs).
_VOID = {
    "br", "img", "hr", "input", "meta", "link", "area", "base",
    "col", "embed", "source", "track", "wbr",
}


class HNode:
    """Element node (``tag`` set) or text node (``tag is None``)."""

    __slots__ = ("tag", "attrs", "children", "data")

    def __init__(self, tag: Optional[str], attrs=None, data: str = ""):
        self.tag = tag
        self.attrs: dict = attrs if attrs is not None else {}
        self.children: List["HNode"] = []
        self.data = data  # text payload for text nodes

    # -- queries -------------------------------------------------------

    @property
    def is_text(self) -> bool:
        return self.tag is None

    def collect(self) -> List["HNode"]:
        """Pre-order document-order list including self (iterative)."""
        out: List["HNode"] = []
        stack = [self]
        while stack:
            node = stack.pop()
            out.append(node)
            if node.children:
                stack.extend(reversed(node.children))
        return out

    def iter(self) -> Iterator["HNode"]:
        """Pre-order document-order traversal including self."""
        return iter(self.collect())

    def find_all(self, tag: str) -> List["HNode"]:
        return [n for n in self.collect() if n.tag == tag]

    def descendant_elements(self) -> List["HNode"]:
        return [n for n in self.collect() if n is not self and not n.is_text]

    @property
    def text(self) -> str:
        """Concatenated text of all descendant text nodes (bs4 ``.text``)."""
        if self.is_text:
            return self.data
        # pre-order walk without materializing the full node list
        out: List[str] = []
        stack = [self]
        while stack:
            node = stack.pop()
            if node.tag is None:
                out.append(node.data)
            elif node.children:
                stack.extend(reversed(node.children))
        return "".join(out)

    # -- mutation ------------------------------------------------------

    def insert_text(self, index: int, text: str) -> None:
        self.children.insert(index, HNode(None, data=text))

    def append_text(self, text: str) -> None:
        self.children.append(HNode(None, data=text))

    def replace_child(self, old: "HNode", new: "HNode") -> bool:
        for i, c in enumerate(self.children):
            if c is old:
                self.children[i] = new
                return True
        return False

    def replace_with_text(self, root: "HNode", text: str) -> None:
        """Replace this node (wherever it sits under ``root``) with text."""
        parent = root.find_parent(self)
        if parent is not None:
            parent.replace_child(self, HNode(None, data=text))

    def find_parent(self, target: "HNode") -> Optional["HNode"]:
        # same pre-order visit order as iterating collect(), but early
        # exit without building the list
        stack = [self]
        while stack:
            node = stack.pop()
            kids = node.children
            if node.tag is not None and kids:
                for c in kids:
                    if c is target:
                        return node
                stack.extend(reversed(kids))
            elif kids:
                stack.extend(reversed(kids))
        return None

    def set_string(self, text: str) -> None:
        """Replace all children with a single text node (bs4 ``.string=``)."""
        self.children = [HNode(None, data=text)]

    # -- serialization -------------------------------------------------

    def to_html(self) -> str:
        if self.is_text:
            return self.data
        parts = []
        nodes = self.children if self.tag == "[document]" else [self]
        for node in nodes:
            node._serialize(parts)
        return "".join(parts)

    def _serialize(self, out: List[str]) -> None:
        if self.is_text:
            out.append(self.data)
            return
        attrs = "".join(f' {k}="{v}"' for k, v in self.attrs.items())
        if self.tag in _VOID:
            out.append(f"<{self.tag}{attrs}/>")
            return
        out.append(f"<{self.tag}{attrs}>")
        for child in self.children:
            child._serialize(out)
        out.append(f"</{self.tag}>")

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        if self.is_text:
            return f"Text({self.data!r})"
        return f"<{self.tag} {len(self.children)} kids>"


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = HNode("[document]")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = HNode(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(HNode(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # lenient close: pop to the nearest matching open tag, ignore strays
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(HNode(None, data=data))


def _parse_html_slow(html: str) -> HNode:
    """Reference path: stdlib ``html.parser`` driving :class:`_TreeBuilder`."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


# ---------------------------------------------------------------------------
# Fast tokenizer (round-6): html.parser's goahead loop is ~35% of the
# flagship extraction kernel (cProfile, 5k sf0.1 docs). The fast path
# below parses only the PROVEN-EQUIVALENT grammar subset — lowercase-able
# tag names [a-zA-Z][a-zA-Z0-9]*, whitespace-separated double-quoted
# '&'-free attributes, plain end tags, charref-free or unescape()-clean
# text — and delegates the WHOLE document to ``_parse_html_slow`` the
# moment anything outside that subset appears (comments, PIs,
# declarations, bogus tags, literal '<', script/style CDATA modes,
# single-quoted/bare/'='-stacked attributes, truncated tags). Inside the
# subset every rule mirrors html.parser line-for-line: tag/attr names
# lowercased, dict(attrs) last-wins, text segments unescape()d between
# tags, one text node per inter-tag segment (granularity is semantic —
# normalize_dom's block pass pads each DIRECT text child), '<x/>' is
# start+end without a stack push, end tags pop leniently to the nearest
# match. Byte-parity is pinned by tests/test_minidom.py's adversarial
# list + seeded 20 000-doc fuzz against _parse_html_slow.

# anything that must take the reference path. '<' not followed by a
# letter (or '/'+letter) covers comments/decls/PIs/'</>'/literal '<'
# and '<'-at-EOF; the script/style alternation (deliberately broad:
# any case, optional '/') covers both CDATA-mode elements.
_FALLBACK_RE = re.compile(
    r"<(?![a-zA-Z]|/[a-zA-Z])"
    r"|</?(?:[sS][cC][rR][iI][pP][tT]|[sS][tT][yY][lL][eE])"
)
# subset start tag: name + zero or more ws-separated name="value" attrs
# (value free of '"', '<', '&' — '&' would need unescape, '<' is legal
# for html.parser inside quotes but rare; both fall back) + optional '/'
_START_RE = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:\s+[^\s/>=]+\s*=\s*\"[^\"<&]*\")*)"
    r"\s*(/?)>"
)
# subset end tag: '</name>' with optional trailing ws (html.parser's
# endtagfind also allows ws after '</'; that shape falls back)
_END_RE = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")
_ATTR_RE = re.compile(r"([^\s/>=]+)\s*=\s*\"([^\"]*)\"")


def parse_html(html: str) -> HNode:
    """Parse (possibly malformed) HTML into a document node.

    Semantics are exactly ``html.parser``'s (convert_charrefs=True) as
    driven by :class:`_TreeBuilder`; the fast tokenizer is an
    implementation detail that self-disqualifies outside its proven
    subset (see the block comment above)."""
    if _FALLBACK_RE.search(html):
        return _parse_html_slow(html)
    root = HNode("[document]")
    stack = [root]
    i, n = 0, len(html)
    find = html.find
    start_match = _START_RE.match
    end_match = _END_RE.match
    while i < n:
        j = find("<", i)
        if j < 0:
            j = n
        if i < j:
            seg = html[i:j]
            if "&" in seg:
                seg = unescape(seg)
            stack[-1].children.append(HNode(None, data=seg))
            i = j
        if i == n:
            break
        if html[i + 1] == "/":
            m = end_match(html, i)
            if m is None:
                return _parse_html_slow(html)
            tag = m.group(1).lower()
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == tag:
                    del stack[k:]
                    break
            i = m.end()
        else:
            m = start_match(html, i)
            if m is None:
                return _parse_html_slow(html)
            tag = m.group(1).lower()
            attrs = {}
            if m.group(2):
                for am in _ATTR_RE.finditer(m.group(2)):
                    attrs[am.group(1).lower()] = am.group(2)
            node = HNode(tag, attrs)
            stack[-1].children.append(node)
            if not m.group(3) and tag not in _VOID:
                stack.append(node)
            i = m.end()
    return root
