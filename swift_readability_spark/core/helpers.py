"""Shared DOM-walk helpers for the readability core.

Re-expresses the traversal/scoring primitives of the reference
(``ProcessorBase.swift:49-86``, ``ArticleGrabber.swift:1064-1112,
1657-1747``, canonical ``tmp-readability/Readability.js``) in Python.
"""

from __future__ import annotations

import re

from . import regexps as R
from .dom import (
    Element,
    Node,
    RE_NON_WS_END,
    TextNode,
    js_trim,
    normalize_spaces,
)


def get_inner_text(node: Node, normalize: bool = True) -> str:
    """textContent trimmed; optionally with whitespace runs collapsed.
    Elements use the per-epoch cache on the node."""
    if isinstance(node, Element):
        return node.inner_text(normalize)
    text = js_trim(node.text_content)
    if normalize:
        return normalize_spaces(text)
    return text


_WS_SPLIT = re.compile(r"\s+")
_ALL_WS_RE = re.compile(r"^\s*$")


def word_count(s: str) -> int:
    # JS str.split(/\s+/).length: empty string -> ['']; leading ws -> ['', ...]
    parts = _WS_SPLIT.split(s)
    return len(parts)


def tokenize(s: str) -> list[str]:
    return [t for t in R.TOKENIZE.split(s.lower()) if t]


def text_similarity(text_a: str, text_b: str) -> float:
    """1 - (length of tokens unique to B / total token length of B)."""
    tokens_a = tokenize(text_a)
    tokens_b = tokenize(text_b)
    if not tokens_a or not tokens_b:
        return 0.0
    set_a = set(tokens_a)
    uniq_b = [t for t in tokens_b if t not in set_a]
    distance_b = len(" ".join(uniq_b)) / len(" ".join(tokens_b))
    return 1.0 - distance_b


def get_char_count(node: Node, pattern=R.COMMAS) -> int:
    return len(pattern.findall(get_inner_text(node)))


def _fill_link_lengths(root: Element) -> None:
    """Bottom-up fill of the per-element link-text length (``_c_lk``).

    Link length decomposes exactly over children —
    ``lk(el) = sum(lk(c) + (coef(c) * len(inner_text(c)) if c is <a>))``
    — nested <a> included, matching the flat descendant enumeration
    (an outer <a>'s text already contains the inner one's; both are
    added in either formulation).  Requires ``root`` to be text-valid
    (the caller's ``get_inner_text`` guarantees it): the text fill
    resets ``_c_lk`` on every element it revalidates, so a non-None
    ``_c_lk`` here is always current-epoch."""
    order = [root]
    stack = [root]
    track = order.append
    push = stack.append
    while stack:
        for c in stack.pop().children:
            if c.IS_ELEMENT and c._c_lk is None:
                track(c)
                push(c)
    for el in reversed(order):
        total = 0.0
        for c in el.children:
            if c.IS_ELEMENT:
                total += c._c_lk
                if c.tag == "a":
                    href = c.attrs.get("href")
                    coefficient = 0.3 if href and R.HASH_URL.match(href) else 1.0
                    total += len(get_inner_text(c)) * coefficient
        el._c_lk = total


def get_link_density(element: Element) -> float:
    # memoized with ancestor-propagating invalidation (the reference's
    # LinkDensityCache, ArticleGrabber.swift:173-176); link lengths are
    # decomposed per element so overlapping ancestor queries (every
    # scored candidate) never re-walk shared subtrees
    if element._c_valid and element._c_ld is not None:
        return element._c_ld
    text_length = len(get_inner_text(element))  # (re)validates the node
    if text_length == 0:
        density = 0.0
    else:
        if element._c_lk is None:
            _fill_link_lengths(element)
        density = element._c_lk / text_length
    element._c_ld = density
    return density


def is_whitespace(node: Node) -> bool:
    if isinstance(node, TextNode):
        return len(js_trim(node.data)) == 0
    return isinstance(node, Element) and node.tag == "br"


def is_phrasing_content(node: Node) -> bool:
    if isinstance(node, TextNode):
        return True
    if not isinstance(node, Element):
        return False
    if node.tag in R.PHRASING_ELEMS:
        return True
    if node.tag in ("a", "del", "ins"):
        return all(is_phrasing_content(c) for c in node.children)
    return False


def has_single_tag_inside_element(element: Element, tag: str) -> bool:
    kids = element.element_children
    if len(kids) != 1 or kids[0].tag != tag:
        return False
    return not any(
        isinstance(c, TextNode) and RE_NON_WS_END.search(c.data)
        for c in element.children
    )


def is_element_without_content(node: Node) -> bool:
    if not isinstance(node, Element):
        return False
    if len(js_trim(node.text_content)) > 0:
        return False
    kids = node.element_children
    if not kids:
        return True
    # one walk for both tags: only the combined count matters
    return len(kids) == len(node.get_elements_by_tag("br", "hr"))


def has_child_block_element(element: Element) -> bool:
    for c in element.children:
        if isinstance(c, Element):
            if c.tag in R.DIV_TO_P_ELEMS or has_child_block_element(c):
                return True
    return False


def has_ancestor_tag(node: Element, tag: str, max_depth: int = 3, filter_fn=None) -> bool:
    depth = 0
    cur = node
    while cur.parent is not None:
        if max_depth > 0 and depth > max_depth:
            return False
        parent = cur.parent
        if isinstance(parent, Element) and parent.tag == tag and (
            filter_fn is None or filter_fn(parent)
        ):
            return True
        cur = parent
        depth += 1
    return False


def get_node_ancestors(node: Element, max_depth: int = 0) -> list[Element]:
    ancestors: list[Element] = []
    i = 0
    cur = node
    while cur.parent is not None:
        ancestors.append(cur.parent)
        i += 1
        if max_depth and i == max_depth:
            break
        cur = cur.parent
    return ancestors


def get_next_node(node: Element, ignore_self_and_kids: bool = False) -> Element | None:
    """Pre-order element traversal (the reference's getNextNode)."""
    if not ignore_self_and_kids:
        fec = node.first_element_child
        if fec is not None:
            return fec
    nes = node.next_element_sibling
    if nes is not None:
        return nes
    cur = node.parent
    while cur is not None and cur.next_element_sibling is None:
        cur = cur.parent
    return cur.next_element_sibling if cur is not None else None


def remove_and_get_next(node: Element) -> Element | None:
    next_node = get_next_node(node, ignore_self_and_kids=True)
    node.remove()
    return next_node


def next_significant_node(node: Node | None) -> Node | None:
    """Skip whitespace-only text nodes; return the first element or
    non-whitespace node (the reference's _nextNode)."""
    nxt = node
    while nxt is not None and not isinstance(nxt, Element):
        text = nxt.text_content
        if not _ALL_WS_RE.match(text) and not _all_js_ws(text):
            break
        nxt = nxt.next_sibling
    return nxt


def _all_js_ws(s: str) -> bool:
    return js_trim(s) == ""


def set_node_tag(node: Element, tag: str) -> Element:
    """Rename an element in place, preserving children/attrs/score
    (mirrors the JSDOM fast path of the canonical _setNodeTag)."""
    from . import dom as _dom

    if _dom._journal is not None:
        _dom._journal.append((4, node, node.tag))
    node.tag = tag
    return node


def is_probably_visible(node: Element) -> bool:
    # fast path: every check reads an attribute, so an attribute-less
    # element (the majority on real pages) is trivially visible
    attrs = node.attrs
    if not attrs:
        return True
    if "style" in attrs:
        if node.style_prop("display") == "none":
            return False
        if node.style_prop("visibility") == "hidden":
            return False
    if "hidden" in attrs:
        return False
    if (
        attrs.get("aria-hidden") == "true"
        and "fallback-image" not in attrs.get("class", "")
    ):
        return False
    return True


def is_url(s: str) -> bool:
    """Approximates WHATWG ``new URL(str)`` success: absolute URLs only."""
    from urllib.parse import urlparse

    try:
        parsed = urlparse(s)
    except ValueError:
        return False
    return bool(parsed.scheme) and (bool(parsed.netloc) or parsed.scheme in ("data", "mailto", "javascript", "about", "tel"))


def unescape_html_entities(s: str | None) -> str | None:
    """Restricted entity unescape: the 5 named entities plus numeric
    references, with U+FFFD for out-of-range/surrogates."""
    if not s:
        return s
    named = {"quot": '"', "amp": "&", "apos": "'", "lt": "<", "gt": ">"}
    s = re.sub(r"&(quot|amp|apos|lt|gt);", lambda m: named[m.group(1)], s)

    def sub_numeric(m: re.Match) -> str:
        hex_part, dec_part = m.group(1), m.group(2)
        num = int(hex_part, 16) if hex_part else int(dec_part)
        if num == 0 or num > 0x10FFFF or (0xD800 <= num <= 0xDFFF):
            num = 0xFFFD
        return chr(num)

    return re.sub(r"&#(?:x([0-9a-fA-F]+)|([0-9]+));", sub_numeric, s)
