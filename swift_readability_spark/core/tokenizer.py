"""Fast HTML tokenizer driving the tree builder callbacks.

A regex-scan replacement for :mod:`html.parser`'s ``goahead`` loop
(~3x faster on the markup mix of the fixture corpus) that preserves
the behaviors the tree builder relies on:

- tag/attribute names lowercased; attribute values entity-unescaped;
  attributes delivered as a first-duplicate-wins dict with valueless
  attributes mapped to "" (what the tree builder stores),
- character references decoded in text (``html.unescape``, the same
  routine ``convert_charrefs`` uses) but NOT inside script/style,
- script/style content treated as raw text until the matching
  ``</script``/``</style`` sequence (HTMLParser's CDATA mode),
- comments (including unterminated ones at EOF), doctype and other
  declarations, processing instructions, and stray ``<`` handled the
  tolerant way browsers do.

Parity with the previous stdlib-based parse is enforced by the
130-fixture span gate and the property tests (totality + serialize/
parse fixed point).
"""

from __future__ import annotations

import re
from html import unescape

_ATTR = re.compile(
    r"""\s*([^\s/>=]+)(\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*)))?"""
)
_STARTTAG_NAME = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)")
# everything up to the tag-closing '>': plain runs, '='-introduced
# quoted values, bare '=', and stray quotes (ordinary chars in name
# position, per the HTML5 before-attribute-value rule).
#
# Linear-time by construction: every quantifier is possessive (no
# backtracking states are kept) and the alternatives are disjoint at
# each position — a '=' matches the quoted-value branch iff a complete
# quoted value follows, else the bare-'=' branch via its negative
# lookahead.  The earlier overlapping form (bare '=' and bare '"' both
# able to re-parse a quoted value) backtracked exponentially on a
# document truncated inside a start tag: ~28 quoted attributes was
# already a >10s hang, doubling per attribute.
#
# An '='-introduced quote with no closing quote matches NO branch, so
# the whole match fails -> tokenize() drops the tag and everything
# after it (the drop-to-EOF recovery of the pre-regex scanner and the
# HTML5/stdlib tokenizers).
_TAG_END = re.compile(
    r"""(?:[^>"'=]++|=\s*+(?:"[^"]*+"|'[^']*+')|=(?!\s*["'])|"|')*+>"""
)
_ENDTAG = re.compile(r"</\s*([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>")
_RAW_CLOSE = {
    "script": re.compile(r"</\s*script", re.I),
    "style": re.compile(r"</\s*style", re.I),
}

# shared attrs map for the attribute-less fast path: handlers only read
# it (the tree builder copies before mutating), and falsiness routes
# Element construction to the no-attrs branch
_NO_ATTRS: dict = {}


def _parse_attrs(blob: str) -> tuple[list, bool]:
    """Attribute list + self-closing flag.

    A trailing ``/`` only self-closes when it is not absorbed into an
    unquoted attribute value (``<a href=foo/>`` -> value ``foo/``),
    matching the tolerant stdlib behavior.
    """
    if not blob or blob.isspace():
        return [], False
    attrs: list = []
    pos = 0
    n = len(blob)
    while pos < n:
        m = _ATTR.match(blob, pos)
        if not m or not m.group(1):
            break
        name = m.group(1)
        if name == "/" and m.group(2) is None and m.end() == n:
            return attrs, True
        name = name.lower()
        if m.group(2) is None:
            # bare attribute; strip any trailing self-close slash
            if name.endswith("/") and m.end() == n:
                name = name.rstrip("/")
                if name:
                    attrs.append((name, None))
                return attrs, True
            attrs.append((name, None))
        else:
            value = m.group(3)
            if value is None:
                value = m.group(4)
            if value is None:
                value = m.group(5) or ""
            if "&" in value:
                value = unescape(value)
            attrs.append((name, value))
        pos = m.end()
    rest = blob[pos:].strip()
    return attrs, rest == "/"


# attribute-blob memo: real pages repeat the same attribute strings
# heavily (44% of non-empty blobs on the fixture corpus are repeats —
# list markup, citation classes, tracking params).  Entries are
# (attrs_dict, self_closing); the shared dict is never mutated — the
# tree builder copies it into each element.  Cleared wholesale at a
# size cap so a long-lived Arrow worker can't grow it without bound.
_ATTR_MEMO: dict[str, tuple] = {}
_ATTR_MEMO_CAP = 1 << 16


def _parse_attrs_cached(blob: str) -> tuple:
    """(attrs_dict, self_closing) for a raw attribute blob.

    The dict already applies the HTML5 first-duplicate-wins rule and
    maps valueless attributes to "" — precomputing it here means the
    tree builder's per-element work is a single C-level dict copy
    instead of a Python loop, and memo hits skip the regex entirely."""
    hit = _ATTR_MEMO.get(blob)
    if hit is None:
        if len(_ATTR_MEMO) >= _ATTR_MEMO_CAP:
            _ATTR_MEMO.clear()
        attrs, self_closing = _parse_attrs(blob)
        d: dict = {}
        for name, value in attrs:
            if name not in d:
                d[name] = value if value is not None else ""
        hit = (d, self_closing)
        _ATTR_MEMO[blob] = hit
    return hit


def tokenize(html: str, builder) -> None:
    """Scan ``html`` and invoke the tree builder's callbacks
    (``_handle_start`` with a first-duplicate-wins attrs dict,
    ``handle_endtag``, ``handle_data``, ``handle_comment``)."""
    handle_data = builder.handle_data
    handle_comment = builder.handle_comment
    handle_start = builder._handle_start
    handle_endtag = builder.handle_endtag
    memo_get = _ATTR_MEMO.get  # inline the memo hit path (72% of blobs)
    i = 0
    n = len(html)
    find = html.find
    while i < n:
        lt = find("<", i)
        if lt < 0:
            text = html[i:]
            if text:
                handle_data(unescape(text) if "&" in text else text)
            break
        if lt > i:
            text = html[i:lt]
            handle_data(unescape(text) if "&" in text else text)
        lt1 = lt + 1
        nxt = html[lt1] if lt1 < n else ""
        if nxt == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    handle_comment(html[lt + 4 :])
                    break
                handle_comment(html[lt + 4 : end])
                i = end + 3
            else:
                # doctype / CDATA / bogus declaration: skip to '>'
                end = find(">", lt)
                if end < 0:
                    break
                i = end + 1
        elif nxt == "/":
            # NOTE(perf): a find+slice+isalnum fast path for plain
            # </name> was tried and measured 2-6% SLOWER than the
            # anchored regex (median 50.2 vs 47.2 ms per 3 large docs,
            # 30 interleaved reps) — the C regex engine beats the
            # equivalent sequence of Python-level str ops.
            m = _ENDTAG.match(html, lt)
            if m:
                handle_endtag(m.group(1).lower())
                i = m.end()
            else:
                end = find(">", lt)
                if end < 0:
                    break
                i = end + 1
        elif nxt == "?":
            end = find(">", lt)
            if end < 0:
                break
            i = end + 1
        else:
            m = _STARTTAG_NAME.match(html, lt)
            if not m:
                # stray '<': literal text
                handle_data("<")
                i = lt + 1
                continue
            name = m.group(1).lower()
            name_end = m.end()
            # fast path 1: attribute-less tag (<p>, <div>, </b>-style
            # bulk markup) — no attr blob, no regex
            if name_end < n and html[name_end] == ">":
                handle_start(name, _NO_ATTRS, False)
                i = name_end + 1
                if name in _RAW_CLOSE:
                    close = _RAW_CLOSE[name].search(html, i)
                    if close is None:
                        data = html[i:]
                        if data:
                            handle_data(data)
                        break
                    if close.start() > i:
                        handle_data(html[i : close.start()])
                    i = close.start()
                continue
            # fast path 2: a quote-free blob cannot contain a quoted
            # value, so the tag ends at the first '>' — two C-level
            # scans instead of the char-class alternation regex
            gt = find(">", name_end)
            if gt < 0:
                # unterminated tag at EOF: drop it (HTML5 recovery)
                break
            blob = html[name_end:gt]
            if '"' not in blob and "'" not in blob:
                tag_end = gt
            else:
                # slow path: find the tag end honoring quoted attribute
                # values.  A quote only opens a value when it follows
                # '=' (the HTML5 before-attribute-value state) — a
                # quote in name position (junk like <div "="">) is an
                # ordinary char.
                te = _TAG_END.match(html, name_end)
                if te is None:
                    # an '='-introduced quoted value that never closes:
                    # consume to EOF and drop the tag (stdlib/HTML5
                    # recovery)
                    break
                tag_end = te.end() - 1
                blob = html[name_end:tag_end]
            hit = memo_get(blob)
            if hit is None:
                hit = _parse_attrs_cached(blob)
            attrs, self_closing = hit
            handle_start(name, attrs, self_closing)
            i = tag_end + 1
            if not self_closing and name in _RAW_CLOSE:
                close = _RAW_CLOSE[name].search(html, i)
                if close is None:
                    data = html[i:]
                    if data:
                        handle_data(data)
                    break
                if close.start() > i:
                    handle_data(html[i : close.start()])
                i = close.start()
