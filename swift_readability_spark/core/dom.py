"""Lightweight mutable DOM + HTML5-ish tree builder + serializer.

Design notes
------------
The reference engine (swift-readability) delegates parsing to SwiftSoup
(``/root/reference/Sources/SwiftReadability/Readability.swift:331-335``).
We build our own minimal DOM, fed by the regex scanner in
:mod:`.tokenizer`, because the extraction heuristics only need: a
mutable element tree, attributes, text content, and pre-order
traversal.  A small HTML5-flavoured state machine supplies the
structural normalizations the heuristics rely on (implied
<html>/<head>/<body>, auto-closing <p>/<li>/<tr>/<td>, implicit
<tbody>, void elements).

This module is pure Python and allocation-light: it is the hot path of
the Arrow-batch extraction UDF, so nodes use ``__slots__`` and tag
names are interned lowercase strings (the analogue of the reference's
interned UTF-8 arrays, ``ReadabilityUTF8Arrays.swift:3-128``).
"""

from __future__ import annotations

import re
from html import escape

# --- whitespace semantics matching JS (String.prototype.trim / regex \s) ---
# JS \s includes NBSP and BOM; Python's str.strip()/\s differ slightly.
JS_WHITESPACE = (
    "\t\n\x0b\x0c\r \u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_WS_CLASS = "[\\t\\n\\x0b\\x0c\\r \u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\ufeff]"
RE_WS_RUN = re.compile(_WS_CLASS + "{2,}")
RE_ALL_WS = re.compile("^" + _WS_CLASS + "*$")
RE_NON_WS_END = re.compile("[^" + JS_WHITESPACE + "]$")


def js_trim(s: str) -> str:
    return s.strip(JS_WHITESPACE)


def normalize_spaces(s: str) -> str:
    """trim + collapse runs of >=2 whitespace chars to one space."""
    return RE_WS_RUN.sub(" ", js_trim(s))


VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Start tags that implicitly close an open <p> (HTML5 "in body" rules).
P_CLOSERS = frozenset(
    (
        "address article aside blockquote details dir div dl fieldset "
        "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr "
        "listing main menu nav ol p plaintext pre section summary table ul "
        "xmp center"
    ).split()
)
# Elements that bound the upward search for an auto-closable <p>
# (approximation of HTML5 "button scope").
P_SCOPE_BOUNDARY = frozenset(
    "html body table td th caption applet object template marquee button".split()
)
HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
HEAD_ONLY_TAGS = frozenset("title base link meta style script noscript template".split())
TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
# every tag that can fire any auto-close rule in _handle_start
_AUTOCLOSE_TRIGGERS = (
    P_CLOSERS
    | HEADINGS
    | TABLE_SECTIONS
    | frozenset(
        ("li", "dd", "dt", "tr", "td", "th", "caption", "colgroup", "option", "a")
    )
)


# --------------------------------------------------------------------------
# mutation journal (undo log)
# --------------------------------------------------------------------------
# The grabber's retry loop needs the pristine page back after a failed
# attempt.  The canonical JS caches page.innerHTML and re-parses; the
# round-1/2 port deep-cloned the body up front on EVERY document
# (~2.5 ms/doc, paid even for the ~80% of documents whose first attempt
# succeeds).  Instead, DOM mutations are journaled while a grab attempt
# runs and replayed in reverse on failure — zero cost on the success
# path beyond one predictable ``is not None`` branch per mutation.
#
# Canonical-parity scope rule (mirrors body.innerHTML restore): only
# the body subtree is rolled back.  Mutations outside body persist
# across attempts — phase-1 removals from <html>/<head> stay removed
# (``journal_replay`` re-applies them after the full undo), and
# ``body.readability`` accumulates across attempts (the grabber never
# journals it) exactly like the JS expando surviving innerHTML resets.
#
# Op encodings (tuples, int-tagged for dispatch speed):
#   (0, node, parent, idx)        removal of node from parent at idx
#   (1, node, parent)             insertion of node into parent
#   (2, el, name, old|_MISSING)   attribute set (old value or absent)
#   (3, el, name, old, idx)       attribute delete (old value + position)
#   (4, el, old_tag)              tag rename
#   (5, el)                       readability initialized (undo -> None)
#   (6, el)                       _data_table assigned (undo -> None)

_MISSING = object()
_journal: list | None = None


def journal_start() -> list:
    """Begin recording mutations; returns the live journal list."""
    global _journal
    _journal = []
    return _journal


def journal_stop() -> None:
    global _journal
    _journal = None


def _undo_op(op) -> None:
    """Undo ONE journal entry (shared by the hot replay loop and the
    exception-salvage path)."""
    k = op[0]
    if k == 0:
        _, node, parent, idx = op
        parent.children.insert(idx, node)
        node.parent = parent
        node._idx = idx
    elif k == 1:
        _, node, parent = op
        del parent.children[node._sib_index()]
        node.parent = None
        node._idx = None
    elif k == 2:
        _, el, name, old = op
        if old is _MISSING:
            el.attrs.pop(name, None)
        else:
            el.attrs[name] = old
    elif k == 3:
        _, el, name, old, idx = op
        items = list(el.attrs.items())
        items.insert(idx, (name, old))
        el.attrs = dict(items)
    elif k == 4:
        op[1].tag = op[2]
    elif k == 5:
        op[1].readability = None
    else:
        op[1]._data_table = None


def _post_replay(journal: list, doc: "Document") -> None:
    """After the undo pass: re-apply removals outside <body> (canonical
    restores only body.innerHTML) and drop every stale cache."""
    for op in journal:
        if op[0] == 0:
            node = op[1]
            p = node.parent
            while p is not None and p.tag != "body":
                p = p.parent
            if p is None:
                node.remove()
    # every text/link cache in the document is now stale
    doc._c_valid = False
    for n in doc.iter_subtree():
        if n.IS_ELEMENT:
            n._c_valid = False


def journal_replay(journal: list, doc: "Document") -> None:
    """Restore the pristine state recorded by ``journal``.

    Reverse-order undo restores the exact tree (each op's undo runs
    with the surrounding state identical to the moment the op was
    recorded); then removals whose node does not live under <body> in
    the pristine tree are re-applied, because the canonical restore
    only resets body.innerHTML.  Call with the journal inactive.

    Exception-safe (ADVICE r04): an asynchronous exception landing
    mid-undo (KeyboardInterrupt, MemoryError — the ops themselves are
    pure in-memory list/dict moves) salvages the replay by running the
    REMAINING undos and the post-replay repair before re-raising, so a
    caller that catches the exception sees the most-restored tree
    possible rather than a half-replayed one (the op that was
    interrupted mid-undo is the only possible casualty)."""
    assert _journal is None, "journal must be stopped before replay"
    rev = journal[::-1]
    i = 0
    try:
        for i, op in enumerate(rev):
            _undo_op(op)
    except BaseException:
        for op in rev[i + 1:]:
            try:
                _undo_op(op)
            except BaseException:
                pass
        try:
            _post_replay(journal, doc)
        except BaseException:
            pass
        raise
    _post_replay(journal, doc)


def _invalidate_ancestors(node: "Node | None") -> None:
    """Clear the text/link-density caches of ``node`` and every
    ancestor.  Caches depend only on the subtree below a node, so a
    mutation invalidates exactly the chain to the root — unrelated
    subtrees keep their caches (the reference's mutation-version
    scheme, Helpers.swift:20-25, made precise).  No early-exit on an
    already-invalid node: its ancestors may have been revalidated
    since."""
    cur = node
    while cur is not None:
        if cur.IS_ELEMENT:
            cur._c_valid = False
        cur = cur.parent


class Node:
    __slots__ = ("parent", "_idx")

    parent: "Element | None"
    IS_ELEMENT = False
    IS_TEXT = False

    # ``_idx`` is a sibling-position HINT, not a source of truth: it is
    # verified with ``sibs[_idx] is self`` before every use and falls
    # back to list.index when stale.  Sequential sibling walks (the
    # grabber's prepareNodes loop, replaceBrs runs) become O(1) per
    # step instead of O(width) — without it, an adversarially WIDE
    # document (tens of thousands of siblings under one parent) makes
    # the walk quadratic and stalls an executor, the same failure
    # class as the tokenizer backtracking bug.

    def _sib_index(self) -> int:
        """Verified index of self in parent's children (hint-assisted)."""
        sibs = self.parent.children
        i = self._idx
        if i is not None and 0 <= i < len(sibs) and sibs[i] is self:
            return i
        i = sibs.index(self)
        self._idx = i
        return i

    # -- generic tree ops -------------------------------------------------
    def remove(self) -> None:
        p = self.parent
        if p is not None:
            i = self._sib_index()
            if _journal is not None:
                _journal.append((0, self, p, i))
            del p.children[i]
            self.parent = None
            self._idx = None
            _invalidate_ancestors(p)

    @property
    def next_sibling(self) -> "Node | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        # _sib_index inlined (hint verify + fallback): this property and
        # the element-sibling walks below are the hottest hint users
        i = self._idx
        if i is None or not 0 <= i < len(sibs) or sibs[i] is not self:
            try:
                i = sibs.index(self)
            except ValueError:
                return None
            self._idx = i
        if i + 1 < len(sibs):
            nxt = sibs[i + 1]
            nxt._idx = i + 1
            return nxt
        return None

    @property
    def text_content(self) -> str:
        return ""

    def clone(self) -> "Node":  # pragma: no cover - overridden
        raise NotImplementedError


class TextNode(Node):
    __slots__ = ("data",)

    IS_TEXT = True

    def __init__(self, data: str):
        self.parent = None
        self._idx = None
        self.data = data

    @property
    def text_content(self) -> str:
        return self.data

    def clone(self) -> "TextNode":
        return TextNode(self.data)

    def __repr__(self) -> str:  # pragma: no cover
        return f"TextNode({self.data[:30]!r})"


class Comment(Node):
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.parent = None
        self._idx = None
        self.data = data

    def clone(self) -> "Comment":
        return Comment(self.data)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Comment({self.data[:30]!r})"


class Element(Node):
    __slots__ = (
        "tag", "attrs", "children", "readability", "_data_table",
        "_c_valid", "_c_text", "_c_inner", "_c_ld", "_c_lk",
    )

    IS_ELEMENT = True

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.parent = None
        self._idx = None
        self.tag = tag
        self.attrs: dict[str, str] = attrs if attrs is not None else {}
        self.children: list[Node] = []
        self._c_valid = False
        self._c_text = None
        self._c_inner = None
        self._c_ld = None
        self._c_lk = None
        # per-node extraction state (content score dict / data-table mark);
        # plays the role of the reference's identity-keyed side tables
        # (ArticleGrabber.swift:171-176)
        self.readability = None
        self._data_table = None

    # -- attributes -------------------------------------------------------
    def get_attr(self, name: str) -> str | None:
        return self.attrs.get(name)

    def set_attr(self, name: str, value: str) -> None:
        if _journal is not None:
            _journal.append((2, self, name, self.attrs.get(name, _MISSING)))
        self.attrs[name] = value

    def has_attr(self, name: str) -> bool:
        return name in self.attrs

    def remove_attr(self, name: str) -> None:
        attrs = self.attrs
        if _journal is not None and name in attrs:
            # position recorded so the undo restores dict ORDER too
            # (serialization and first-match attr scans are order-
            # sensitive; a plain re-insert would move the key to the
            # end)
            _journal.append((3, self, name, attrs[name], list(attrs).index(name)))
        attrs.pop(name, None)

    @property
    def class_name(self) -> str:
        return self.attrs.get("class", "")

    @class_name.setter
    def class_name(self, value: str) -> None:
        self.set_attr("class", value)

    @property
    def id(self) -> str:
        return self.attrs.get("id", "")

    @id.setter
    def id(self, value: str) -> None:
        self.set_attr("id", value)

    # -- children ---------------------------------------------------------
    def append_child(self, node: Node) -> None:
        if node.parent is not None:
            node.remove()
        node.parent = self
        self.children.append(node)
        if _journal is not None:
            _journal.append((1, node, self))
        _invalidate_ancestors(self)

    def _append_fresh(self, node: Node) -> None:
        """Construction-time append: the node is fresh and no cache in
        this document has been computed yet, so skip the invalidation
        walk (used only by the tree builder and clone)."""
        node.parent = self
        self.children.append(node)

    def insert_before(self, node: Node, ref: Node | None) -> None:
        if node.parent is not None:
            node.remove()
        node.parent = self
        if ref is None:
            self.children.append(node)
        else:
            self.children.insert(ref._sib_index(), node)
        if _journal is not None:
            _journal.append((1, node, self))
        _invalidate_ancestors(self)

    def replace_child(self, new: Node, old: Node) -> None:
        idx = old._sib_index()
        if new.parent is not None:
            new.remove()
        new.parent = self
        if _journal is not None:
            _journal.append((0, old, self, idx))
            _journal.append((1, new, self))
        self.children[idx] = new
        old.parent = None
        _invalidate_ancestors(self)

    @property
    def first_child(self) -> Node | None:
        return self.children[0] if self.children else None

    @property
    def last_child(self) -> Node | None:
        return self.children[-1] if self.children else None

    @property
    def element_children(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    @property
    def first_element_child(self) -> "Element | None":
        for c in self.children:
            if isinstance(c, Element):
                return c
        return None

    @property
    def next_element_sibling(self) -> "Element | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        i = self._idx
        if i is None or not 0 <= i < len(sibs) or sibs[i] is not self:
            i = sibs.index(self)
            self._idx = i
        i += 1
        n = len(sibs)
        while i < n:
            c = sibs[i]
            if c.IS_ELEMENT:
                c._idx = i
                return c
            i += 1
        return None

    @property
    def previous_element_sibling(self) -> "Element | None":
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        i = self._idx
        if i is None or not 0 <= i < len(sibs) or sibs[i] is not self:
            i = sibs.index(self)
            self._idx = i
        i -= 1
        while i >= 0:
            c = sibs[i]
            if c.IS_ELEMENT:
                c._idx = i
                return c
            i -= 1
        return None

    # -- queries ----------------------------------------------------------
    def iter_subtree(self):
        """Pre-order iteration over all descendant nodes (excluding self)."""
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            yield node
            if node.IS_ELEMENT:
                stack.extend(node.children[::-1])

    def get_elements_by_tag(self, *tags: str) -> list["Element"]:
        # NOTE(perf): a memoized per-tag descendant list (same
        # ancestor-chain invalidation as the text caches) was tried
        # and measured SLOWER (8.6 vs 5.7 ms/doc on the fixture
        # corpus): the grabber interleaves mutations with queries, so
        # refills dominate, and the defensive list copy on every hit
        # erases the remaining win.  The plain walk stays.
        out = []
        append = out.append
        stack = self.children[::-1]
        pop = stack.pop
        extend = stack.extend
        if len(tags) == 1:
            tag = tags[0]
            while stack:
                node = pop()
                if node.IS_ELEMENT:
                    if node.tag == tag:
                        append(node)
                    if node.children:
                        extend(node.children[::-1])
            return out
        while stack:
            node = pop()
            if node.IS_ELEMENT:
                if node.tag in tags:
                    append(node)
                if node.children:
                    extend(node.children[::-1])
        return out

    @property
    def text_content(self) -> str:
        if self._c_valid:
            return self._c_text
        # Bottom-up cache fill: visit only INVALID elements (valid
        # subtrees contribute their cached string untouched), then
        # validate every visited element children-first.  After a
        # mutation, recomputation costs one string-join per level on
        # the invalidated ancestor chain instead of a full subtree
        # re-walk — and every text_content call warms the caches for
        # all later calls anywhere below it (measured 2x on the
        # fixture corpus: the grabber queries text lengths of nearly
        # every candidate across retries).
        order = [self]
        stack = [self]
        push = stack.append
        track = order.append
        while stack:
            el = stack.pop()
            for c in el.children:
                if c.IS_ELEMENT and not c._c_valid:
                    track(c)
                    push(c)
        for el in reversed(order):
            parts = []
            for c in el.children:
                if c.IS_TEXT:
                    parts.append(c.data)
                elif c.IS_ELEMENT:
                    parts.append(c._c_text)
            el._c_text = "".join(parts)
            el._c_inner = None
            el._c_ld = None
            el._c_lk = None
            el._c_valid = True
        return self._c_text

    def inner_text(self, normalize: bool = True) -> str:
        """Trimmed (and optionally whitespace-collapsed) textContent,
        cached per mutation epoch."""
        text = self.text_content  # refreshes cache for this epoch
        if not normalize:
            return text.strip(JS_WHITESPACE)
        if self._c_inner is None:
            self._c_inner = RE_WS_RUN.sub(" ", text.strip(JS_WHITESPACE))
        return self._c_inner

    # -- serialization ----------------------------------------------------
    @property
    def inner_html(self) -> str:
        buf: list[str] = []
        for c in self.children:
            _serialize(c, buf)
        return "".join(buf)

    @property
    def outer_html(self) -> str:
        buf: list[str] = []
        _serialize(self, buf)
        return "".join(buf)

    def clone(self) -> "Element":
        # NOTE(perf): an iterative __new__-based deep copy was tried
        # and measured SLOWER than this recursive form (3.6 vs 3.3
        # ms/doc for the grabber's body snapshot) — the explicit
        # (src, dst) tuple stack and per-slot stores cost more than
        # the call frames they replace.
        el = Element(self.tag, dict(self.attrs))
        for c in self.children:
            cc = c.clone()
            cc.parent = el
            el.children.append(cc)
        return el

    # -- style helpers (for visibility checks) ----------------------------
    def style_prop(self, prop: str) -> str | None:
        style = self.attrs.get("style")
        if not style:
            return None
        for decl in style.split(";"):
            if ":" not in decl:
                continue
            k, v = decl.split(":", 1)
            if k.strip().lower() == prop:
                v = v.strip()
                if v.lower().endswith("!important"):
                    v = v[: -len("!important")].strip()
                return v
        return None

    def __repr__(self) -> str:  # pragma: no cover
        ident = ("#" + self.id) if self.id else ""
        cls = ("." + ".".join(self.class_name.split())) if self.class_name else ""
        return f"<{self.tag}{ident}{cls} kids={len(self.children)}>"


class Document(Element):
    __slots__ = ("document_uri",)

    def __init__(self, document_uri: str = "about:blank"):
        super().__init__("#document")
        self.document_uri = document_uri

    @property
    def document_element(self) -> Element | None:
        for c in self.children:
            if isinstance(c, Element) and c.tag == "html":
                return c
        return None

    @property
    def head(self) -> Element | None:
        html = self.document_element
        if html is None:
            return None
        for c in html.children:
            if isinstance(c, Element) and c.tag == "head":
                return c
        return None

    @property
    def body(self) -> Element | None:
        html = self.document_element
        if html is None:
            return None
        for c in html.children:
            if isinstance(c, Element) and c.tag == "body":
                return c
        return None

    @property
    def base_uri(self) -> str:
        """<base href> resolved against the document URI, else the doc URI."""
        from urllib.parse import urljoin

        head = self.head
        scopes = [head] if head is not None else []
        body = self.body
        if body is not None:
            scopes.append(body)
        for scope in scopes:
            for el in scope.get_elements_by_tag("base"):
                href = el.get_attr("href")
                if href:
                    try:
                        return urljoin(self.document_uri, href.strip())
                    except ValueError:
                        return self.document_uri
        return self.document_uri

    def clone(self) -> "Document":
        doc = Document(self.document_uri)
        for c in self.children:
            cc = c.clone()
            cc.parent = doc
            doc.children.append(cc)
        return doc

    def create_element(self, tag: str) -> Element:
        return Element(tag)


# --------------------------------------------------------------------------
# serialization
# --------------------------------------------------------------------------

RAW_TEXT_TAGS = frozenset(("script", "style"))

# attribute names that can be serialized losslessly; junk names parsed
# out of invalid markup (e.g. <div "=""> ) are dropped on output, the
# same way browsers' serializers never emit them
_VALID_ATTR_NAME = re.compile(r'^[^\s"\'>/=\x00-\x1f\x7f]+$')


def is_valid_attr_name(name: str) -> bool:
    return bool(_VALID_ATTR_NAME.match(name))


def _serialize(node: Node, buf: list[str]) -> None:
    if isinstance(node, TextNode):
        p = node.parent
        if p is not None and isinstance(p, Element) and p.tag in RAW_TEXT_TAGS:
            buf.append(node.data)
        else:
            buf.append(escape(node.data, quote=False))
        return
    if isinstance(node, Comment):
        buf.append("<!--")
        buf.append(node.data)
        buf.append("-->")
        return
    el = node
    assert isinstance(el, Element)
    if el.tag == "#document":
        for c in el.children:
            _serialize(c, buf)
        return
    buf.append("<")
    buf.append(el.tag)
    for name, value in el.attrs.items():
        if not is_valid_attr_name(name):
            continue
        buf.append(" ")
        buf.append(name)
        buf.append('="')
        buf.append(escape(value, quote=True))
        buf.append('"')
    buf.append(">")
    if el.tag in VOID_ELEMENTS:
        return
    for c in el.children:
        _serialize(c, buf)
    buf.append("</")
    buf.append(el.tag)
    buf.append(">")


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------


class _TreeBuilder:
    """HTML5-ish tree builder (implied structure + auto-close rules).

    Fed by :mod:`.tokenizer` (a fast regex scanner)."""

    def __init__(self, document_uri: str):
        self.doc = Document(document_uri)
        self.stack: list[Element] = [self.doc]
        # modes: 0 before html, 1 before head, 2 in head, 3 after head/in body
        self.mode = 0

    # -- insertion-point helpers ------------------------------------------
    @property
    def top(self) -> Element:
        return self.stack[-1]

    def _open(self, tag: str, attrs_map: dict) -> Element:
        # first-duplicate-wins and None->"" were already applied by the
        # tokenizer's memoized blob parse; one C-level copy per element
        el = Element(tag, dict(attrs_map) if attrs_map else None)
        self.top._append_fresh(el)
        return el

    def _push(self, el: Element) -> None:
        self.stack.append(el)

    def _ensure_html(self) -> None:
        if self.mode == 0:
            html = self.doc.document_element
            if html is None:
                html = Element("html")
                self.doc.append_child(html)
            self.stack.append(html)
            self.mode = 1

    def _ensure_head(self) -> None:
        self._ensure_html()
        if self.mode == 1:
            head = Element("head")
            self.stack[1].append_child(head)
            self.stack.append(head)
            self.mode = 2

    def _ensure_body(self) -> None:
        self._ensure_html()
        if self.mode == 2:
            # close head
            while len(self.stack) > 2:
                self.stack.pop()
            self.mode = 1
        if self.mode == 1:
            html = self.stack[1]
            if not any(
                isinstance(c, Element) and c.tag == "head" for c in html.children
            ):
                html.append_child(Element("head"))
            body = None
            for c in html.children:
                if isinstance(c, Element) and c.tag == "body":
                    body = c
                    break
            if body is None:
                body = Element("body")
                html.append_child(body)
            # stack: doc, html, body
            del self.stack[2:]
            self.stack.append(body)
            self.mode = 3

    # -- auto-close logic -------------------------------------------------
    def _close_p_in_scope(self) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t == "p":
                del self.stack[i:]
                return
            if t in P_SCOPE_BOUNDARY:
                return

    def _close_up_to(self, tags: frozenset[str], stop: frozenset[str]) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag
            if t in tags:
                del self.stack[i:]
                return
            if t in stop:
                return

    # -- tokenizer callbacks ----------------------------------------------
    def _handle_start(self, tag: str, attrs, self_closing: bool) -> None:
        if tag == "html":
            self._ensure_html()
            # merge attributes onto existing html element
            html = self.stack[1]
            for name, value in attrs.items():
                if name not in html.attrs:
                    html.attrs[name] = value
            return
        if tag == "head":
            self._ensure_head()
            return
        if tag == "body":
            self._ensure_body()
            body = self.stack[2]
            for name, value in attrs.items():
                if name not in body.attrs:
                    body.attrs[name] = value
            return

        if self.mode < 2:
            if tag in HEAD_ONLY_TAGS:
                self._ensure_head()
            else:
                self._ensure_body()
        elif self.mode == 2 and tag not in HEAD_ONLY_TAGS:
            self._ensure_body()

        # auto-close rules (single membership gate: most tags — span,
        # b, i, img, br, ... — trigger none of them); element creation
        # inlined on this fast path (one Python frame per tag)
        if tag not in _AUTOCLOSE_TRIGGERS:
            el = Element(tag, dict(attrs) if attrs else None)
            top = self.stack[-1]
            el.parent = top
            top.children.append(el)
            if tag not in VOID_ELEMENTS and not self_closing:
                self.stack.append(el)
            return
        if tag in P_CLOSERS:
            self._close_p_in_scope()
        if tag in HEADINGS and self.top.tag in HEADINGS:
            self.stack.pop()
        if tag == "li":
            self._close_up_to(
                frozenset(("li",)), frozenset(("ul", "ol", "menu", "html", "body"))
            )
        elif tag in ("dd", "dt"):
            self._close_up_to(frozenset(("dd", "dt")), frozenset(("dl", "html", "body")))
        elif tag == "tr":
            self._close_up_to(
                frozenset(("tr",)), frozenset(("table", "tbody", "thead", "tfoot", "html", "body"))
            )
            if self.top.tag == "table":
                tbody = Element("tbody")
                self.top.append_child(tbody)
                self._push(tbody)
        elif tag in ("td", "th"):
            self._close_up_to(frozenset(("td", "th")), frozenset(("tr", "table", "html", "body")))
            if self.top.tag in ("table", "tbody", "thead", "tfoot"):
                tr = Element("tr")
                self.top.append_child(tr)
                self._push(tr)
        elif tag in TABLE_SECTIONS or tag == "caption" or tag == "colgroup":
            self._close_up_to(
                frozenset(("tbody", "thead", "tfoot", "caption", "colgroup", "tr", "td", "th")),
                frozenset(("table", "html", "body")),
            )
        elif tag == "option":
            if self.top.tag == "option":
                self.stack.pop()
        elif tag == "a":
            # nested <a> is invalid: close the open one (adoption-agency lite)
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "a":
                    del self.stack[i:]
                    break
                if t not in (
                    "b", "i", "em", "strong", "span", "u", "s", "small", "big",
                    "font", "code", "tt", "nobr",
                ):
                    break

        # _open/_push inlined (p/div/li/td are the most common tags and
        # all land here; one Python frame per tag matters at 100k tags
        # per large page).  Non-void self-closing tags (<div/>) are
        # treated as open-only in HTML5, but real-world usage intends
        # emptiness; keep closed.
        el = Element(tag, dict(attrs) if attrs else None)
        top = self.stack[-1]
        el.parent = top
        top.children.append(el)
        if tag not in VOID_ELEMENTS and not self_closing:
            self.stack.append(el)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        if tag == "html" or tag == "body":
            if self.mode == 3:
                # keep body as insertion point for trailing content
                del self.stack[3:]
            return
        if tag == "head":
            if self.mode == 2:
                while len(self.stack) > 2:
                    self.stack.pop()
                self.mode = 1
            return
        stack = self.stack
        # fast path: properly nested markup closes the top of stack
        # (stack[0] is #document, which never matches a real tag name)
        if stack[-1].tag == tag:
            stack.pop()
            return
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        # no matching open tag: ignore

    def handle_data(self, data):
        if not data:
            return
        if self.mode < 3:
            if RE_ALL_WS.match(data):
                if self.mode == 2 and self.stack[-1].tag in RAW_TEXT_TAGS:
                    self.stack[-1]._append_fresh(TextNode(data))
                return
            if self.mode == 2 and self.stack[-1].tag in HEAD_ONLY_TAGS:
                self.stack[-1]._append_fresh(TextNode(data))
                return
            self._ensure_body()
        top = self.stack[-1]
        kids = top.children
        if kids:
            last = kids[-1]
            if last.IS_TEXT:
                last.data += data
                return
        node = TextNode(data)
        node.parent = top
        kids.append(node)

    def handle_comment(self, data):
        if self.mode < 2:
            self._ensure_html()
            # comments between html and head attach to html
            self.stack[1]._append_fresh(Comment(data))
            return
        self.top._append_fresh(Comment(data))


def parse_html(html: str, document_uri: str = "about:blank") -> Document:
    from .tokenizer import tokenize

    builder = _TreeBuilder(document_uri)
    tokenize(html, builder)
    builder._ensure_body()
    return builder.doc


def parse_fragment(html: str) -> Element:
    """Parse an HTML fragment; returns a detached container <div>-like
    element holding the fragment's top-level nodes (body contents)."""
    doc = parse_html(html)
    container = Element("#fragment")
    body = doc.body
    if body is not None:
        for c in list(body.children):
            container.append_child(c)
    return container
