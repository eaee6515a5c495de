"""HTML <-> interleaved span-sequence codec.

The corpus data model (BASELINE.json ``input_hint``) stores each
document as ``(doc_id, spans)`` where ``spans`` is an array of
``(kind, text, media_ref, offset)``:

- ``kind='text'``  : an HTML markup fragment (may be structurally
  unbalanced on its own; concatenating all spans in offset order
  rebuilds a balanced document),
- ``kind='media'`` : one media element (img/picture/video/audio/
  iframe/embed/object) collapsed to its primary source URL.

Segmentation rule (FIXTURES.md §1): split the serialized document at
every media element boundary; each media element becomes one media
span; markup between boundaries becomes text spans; ``offset`` numbers
spans 0..n-1 in document order.

Reassembly re-injects each media span as a placeholder element whose
tag class is inferred from the ref (``media_placeholder``: img for
image-like URLs, iframe for video hosts / embed pages, video for A/V
files and blob: URLs, embed for flash) so the extraction core's
embed/phrasing heuristics treat it like the original element class —
the original tag/attributes themselves are, by design of the span
data model, not preserved.
"""

from __future__ import annotations

from html import escape

from ..core import regexps as R
from ..core.dom import (
    Comment,
    Element,
    Node,
    RAW_TEXT_TAGS,
    TextNode,
    parse_html,
)

# <picture> is deliberately NOT a boundary: it is serialized as markup
# (preserving its non-phrasing block semantics and lazy-loading attrs)
# and the <img> inside it becomes the media span.
MEDIA_TAGS = frozenset(("img", "video", "audio", "iframe", "embed", "object"))


def extract_media_ref(el: Element) -> str:
    """Primary source URL of a media element (src > data[-src] > srcset
    > any image-looking attribute), looking into img/source descendants
    for picture/video/audio/object wrappers."""

    def srcset_first(v: str) -> str | None:
        m = R.SRCSET_URL.search(v)
        return m.group(1) if m else None

    scope = [el]
    if el.tag in ("picture", "video", "audio", "object", "figure"):
        scope += el.get_elements_by_tag("img", "source", "embed")
    elif el.tag == "img" and el.parent is not None and el.parent.tag == "picture":
        # the img is the boundary for its <picture>: consider sibling
        # <source> elements for the ref as well
        scope += el.parent.get_elements_by_tag("source")

    candidates: list[str | None] = []
    if el.tag == "object":
        candidates.append(el.get_attr("data"))
    for e in scope:
        candidates.append(e.get_attr("src"))
    if el.tag in ("video", "audio"):
        # an A/V element is A/V content even when only a poster/lazy
        # attr carries an image URL: prefer any audio/video-file attr
        # so the placeholder keeps the element's media class
        for e in scope:
            for v in e.attrs.values():
                if v and v.split("?", 1)[0].lower().endswith(_AV_EXTS):
                    candidates.append(v)
    for e in scope:
        candidates.append(e.get_attr("data-src"))
    for e in scope:
        v = e.get_attr("srcset")
        if v:
            candidates.append(srcset_first(v))
    for e in scope:
        v = e.get_attr("data-srcset")
        if v:
            candidates.append(srcset_first(v))
    for e in scope:
        for v in e.attrs.values():
            if v and R.IMG_EXT.search(v):
                candidates.append(v)
    def is_tiny_b64_placeholder(ref: str) -> bool:
        m = R.B64_DATA_URL.search(ref)
        if not m or m.group(1) == "image/svg+xml":
            return False
        return len(ref) - m.end() < 133

    candidates = [c for c in candidates if c]
    for c in candidates:
        # prefer a real source over a 1px base64 lazy-loading stub
        # (mirrors the fixLazyImages preference in the extraction core)
        if not is_tiny_b64_placeholder(c):
            return c
    return candidates[0] if candidates else ""


def _serialize_spans(
    node: Node,
    buf: list[str],
    spans: list[dict],
    in_noscript: bool,
    visibility_filter: bool = True,
) -> None:
    if isinstance(node, TextNode):
        parent = node.parent
        if parent is not None and parent.tag in RAW_TEXT_TAGS:
            buf.append(node.data)
        else:
            buf.append(escape(node.data, quote=False))
        return
    if isinstance(node, Comment):
        # comments are presentation-irrelevant; the codec drops them so
        # both sides of the equality check agree
        return
    el = node
    assert isinstance(el, Element)
    if el.tag == "#document" or el.tag == "#fragment":
        for c in el.children:
            _serialize_spans(c, buf, spans, in_noscript, visibility_filter)
        return
    if el.tag in MEDIA_TAGS and not in_noscript:
        # hidden media (tracking pixels behind display:none) is not
        # displayed content: no span, and the extraction core would
        # drop the node anyway.  aria-hidden is deliberately NOT
        # checked here: its fallback-image exception depends on class
        # attributes, which are cleaned from extracted output, so it
        # cannot be applied symmetrically on both sides.
        if visibility_filter:
            from ..core.helpers import is_probably_visible

            if not is_probably_visible(el):
                return
        _flush_text(buf, spans)
        spans.append(
            {
                "kind": "media",
                "text": None,
                "media_ref": extract_media_ref(el),
                "offset": len(spans),
            }
        )
        return
    from ..core.dom import is_valid_attr_name

    buf.append("<")
    buf.append(el.tag)
    for name, value in el.attrs.items():
        if not is_valid_attr_name(name):
            continue
        buf.append(f' {name}="{escape(value, quote=True)}"')
    buf.append(">")
    from ..core.dom import VOID_ELEMENTS

    if el.tag in VOID_ELEMENTS:
        return
    child_in_noscript = in_noscript or el.tag == "noscript"
    for c in el.children:
        _serialize_spans(c, buf, spans, child_in_noscript, visibility_filter)
    buf.append(f"</{el.tag}>")


def _flush_text(buf: list[str], spans: list[dict]) -> None:
    if not buf:
        return
    text = "".join(buf)
    buf.clear()
    if text:
        spans.append(
            {"kind": "text", "text": text, "media_ref": None, "offset": len(spans)}
        )


def element_to_spans(
    root: Node, inner: bool = False, visibility_filter: bool = True
) -> list[dict]:
    """Segment a DOM subtree; ``inner=True`` serializes only the root's
    children (innerHTML semantics, matching the canonical serializer).

    ``visibility_filter=True`` (ingestion of raw documents) drops media
    elements hidden via style/hidden/aria-hidden — they are not
    displayed content and the extraction core would remove them anyway.
    Pass ``False`` when segmenting *extracted* output, where classes
    have been cleaned (so the aria-hidden fallback-image exception can
    no longer be evaluated) and hidden nodes are already gone."""
    buf: list[str] = []
    spans: list[dict] = []
    if inner and isinstance(root, Element):
        for c in root.children:
            _serialize_spans(c, buf, spans, False, visibility_filter)
    else:
        _serialize_spans(root, buf, spans, False, visibility_filter)
    _flush_text(buf, spans)
    return spans


def html_to_spans(
    html: str, document_uri: str = "about:blank", visibility_filter: bool = True
) -> list[dict]:
    """Segment a full HTML document into an interleaved span sequence."""
    doc = parse_html(html, document_uri)
    return element_to_spans(doc, visibility_filter=visibility_filter)


_IMAGE_EXTS = (
    ".jpg", ".jpeg", ".png", ".webp", ".gif", ".svg", ".avif", ".bmp",
    ".ico", ".tif", ".tiff",
)
# audio/video files -> <video> placeholder: like the original <video>/
# <audio> elements, it is NOT scanned by the embed-cleaning loop, so a
# video-host allowlist match cannot veto removal of its container
_AV_EXTS = (".mp4", ".webm", ".ogv", ".ogg", ".mp3", ".m4v", ".mov", ".wav", ".m4a")
_EMBED_EXTS = (".swf", ".flv")
# substrings that mark an extensionless URL as an image service
import re as _re

_IMG_HINT = _re.compile(
    r"image|img\b|\.img|avatar|photo|thumb|scale|logo|icon|picture|"
    r"media/math|imrs|svg|format=(jpe?g|png|webp|gif)",
    _re.I,
)


def media_placeholder(media_ref: str) -> str:
    """Re-inject a media span as a placeholder element.  The tag is
    inferred from the ref so downstream embed-cleaning heuristics treat
    it like the original element class: video-host URLs -> iframe
    (preserved), image-looking URLs -> img, embed-looking -> embed."""
    if not media_ref:
        return "<img>"
    ref = escape(media_ref, quote=True)
    low = media_ref.split("?", 1)[0].split("#", 1)[0].lower()
    if low.startswith("data:"):
        if low.startswith("data:image"):
            return f'<img src="{ref}">'
        return f'<embed src="{ref}">'
    if low.startswith("about:"):
        return f'<iframe src="{ref}"></iframe>'
    # an image-looking URL is an image even on a video/archive host
    if low.endswith(_IMAGE_EXTS) or R.IMG_EXT.search(low):
        return f'<img src="{ref}">'
    if low.endswith(_AV_EXTS) or low.startswith("blob:"):
        return f'<video src="{ref}"></video>'
    if (
        R.VIDEOS.search(media_ref)
        or "embed" in low
        or low.endswith((".html", ".htm", ".shtml"))
    ):
        return f'<iframe src="{ref}"></iframe>'
    if low.endswith(_EMBED_EXTS):
        return f'<embed src="{ref}">'
    # extensionless URLs: image-service hints (resizers, avatars, math
    # renders) -> img; an opaque extensionless page URL is usually an
    # embedded widget (gists, players) -> iframe, which the embed
    # cleaning heuristics can then judge
    last_segment = low.rstrip("/").rsplit("/", 1)[-1]
    if (
        low.startswith(("http://", "https://", "//"))
        and "." not in last_segment
        and not _IMG_HINT.search(media_ref)
    ):
        return f'<iframe src="{ref}"></iframe>'
    return f'<img src="{ref}">'


def spans_to_html(spans: list[dict]) -> str:
    """Reassemble a span sequence into HTML with media placeholders,
    in offset order."""
    parts: list[str] = []
    for span in sorted(spans, key=lambda s: s["offset"]):
        if span["kind"] == "media":
            parts.append(media_placeholder(span.get("media_ref") or ""))
        else:
            parts.append(span.get("text") or "")
    return "".join(parts)
