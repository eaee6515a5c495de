"""Public facade: options, result model, and the parse pipeline.

Re-expresses ``/root/reference/Sources/SwiftReadability/Readability.swift``
(options model ``Models.swift:4-66``) as a plain-Python API usable both
standalone and from the Arrow-batch extraction UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import regexps as R
from .dom import Document, Element, js_trim, parse_html
from .grabber import DEFAULT_CHAR_THRESHOLD, DEFAULT_N_TOP_CANDIDATES, Grabber
from .metadata import get_article_metadata, get_jsonld
from .postprocess import post_process_content
from .preprocess import prep_document, remove_scripts, unwrap_noscript_images
from .readerable import is_probably_readerable


@dataclass
class ReadabilityOptions:
    """Mirrors the reference's ReadabilityOptions (Models.swift:4-46)."""

    debug: bool = False
    max_elems_to_parse: int = 0
    nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES
    char_threshold: int = DEFAULT_CHAR_THRESHOLD
    classes_to_preserve: tuple[str, ...] = ()
    keep_classes: bool = False
    disable_jsonld: bool = False
    allowed_video_regex: object = None
    link_density_modifier: float = 0.0
    # custom content serializer: callable(article: Element) -> str;
    # use_xml_serializer selects XHTML-syntax output (boolean-attr
    # promotion) when no custom serializer is given
    serializer: object = None
    use_xml_serializer: bool = False
    # debug log sink: callable(message: str).  When ``debug`` is true
    # and no sink is given, messages go to stderr — the analogue of the
    # reference's per-stage logging (Readability.swift:118-175)
    logger: object = None


@dataclass
class ReadabilityResult:
    """Mirrors the reference's ReadabilityResult (Readability.swift:4-18).

    ``content`` is serialized from ``article`` on first read (with the
    options' serializer), so callers that only segment the article
    never pay for the HTML string."""

    title: str | None
    byline: str | None
    dir: str | None
    lang: str | None
    text_content: str
    length: int
    excerpt: str | None
    site_name: str | None
    published_time: str | None
    readerable: bool
    article: Element = field(repr=False, default=None)
    _options: ReadabilityOptions = field(
        repr=False, compare=False, default_factory=ReadabilityOptions
    )
    _content: str | None = field(repr=False, compare=False, default=None)

    @property
    def content(self) -> str:
        if self._content is None:
            if self._options.serializer is not None:
                self._content = self._options.serializer(self.article)
            elif self._options.use_xml_serializer:
                from .serializer import serialize_xml

                self._content = serialize_xml(self.article, inner=True)
            else:
                self._content = self.article.inner_html
        return self._content


class ParseAbortError(RuntimeError):
    """Raised when the document exceeds max_elems_to_parse."""


def parse(
    html: str,
    url: str = "about:blank",
    options: ReadabilityOptions | None = None,
) -> ReadabilityResult | None:
    """Full extraction pipeline over one HTML document.

    Order of operations follows the canonical parse():
    guard -> readerable (pre-mutation) -> noscript unwrap -> JSON-LD ->
    script removal -> prep -> metadata -> grab -> postprocess ->
    excerpt/lang fill; ``content`` is serialized on first read.
    """
    options = options or ReadabilityOptions()
    doc = parse_html(html, url)
    return parse_document(doc, options)


def parse_with_timings(
    html: str,
    url: str = "about:blank",
    options: ReadabilityOptions | None = None,
) -> tuple[ReadabilityResult | None, dict]:
    """parse() plus a per-stage wall-time dict (label -> ms), the
    analogue of the reference's TimingSink (Readability.swift:118-175,
    Timing.swift:1-5)."""
    import time

    timings: dict[str, float] = {}
    t0 = time.perf_counter()
    doc = parse_html(html, url)
    timings["parseDocument"] = (time.perf_counter() - t0) * 1000.0
    result = parse_document(doc, options, timings=timings)
    return result, timings


def parse_document(
    doc: Document,
    options: ReadabilityOptions | None = None,
    timings: dict | None = None,
) -> ReadabilityResult | None:
    import time
    from contextlib import contextmanager

    options = options or ReadabilityOptions()

    # debug logging (reference per-stage logs, Readability.swift:118-175):
    # debug=True promotes every stage to a timed, logged stage
    log = None
    if options.debug:
        if options.logger is not None:
            log = options.logger
        else:
            import sys as _sys

            def log(msg: str) -> None:
                print(f"[readability] {msg}", file=_sys.stderr)
        if timings is None:
            timings = {}

    @contextmanager
    def stage(label: str):
        if timings is None:
            yield
            return
        t0 = time.perf_counter()
        yield
        ms = (time.perf_counter() - t0) * 1000.0
        timings[label] = timings.get(label, 0.0) + ms
        if log is not None:
            log(f"{label}: {ms:.2f} ms")

    if options.max_elems_to_parse > 0:
        num_tags = sum(1 for n in doc.iter_subtree() if isinstance(n, Element))
        if num_tags > options.max_elems_to_parse:
            raise ParseAbortError(
                f"Aborting parsing document; {num_tags} elements found"
            )

    # readerable is computed on the unmutated DOM (the reference computes
    # it up-front for the same reason: Readability.swift:338-343)
    with stage("readerable"):
        readerable = is_probably_readerable(doc)

    with stage("preprocess"):
        # one walk shared by the noscript unwrap, JSON-LD extraction
        # and script removal: the unwrap never inserts script/noscript
        # elements (its replacement subtree is a single-image chain),
        # so the script/noscript sub-list stays complete and live
        elems = doc.get_elements_by_tag("img", "noscript", "script")
        unwrap_noscript_images(doc, elems)
        scripts = [el for el in elems if el.tag != "img"]
        jsonld = {} if options.disable_jsonld else get_jsonld(doc, scripts)
        remove_scripts(doc, scripts)
        prep_document(doc)

    with stage("metadata"):
        metadata = get_article_metadata(doc, jsonld)

    grabber = Grabber(
        doc,
        metadata,
        nb_top_candidates=options.nb_top_candidates,
        char_threshold=options.char_threshold,
        allowed_video_regex=options.allowed_video_regex or R.VIDEOS,
        link_density_modifier=options.link_density_modifier,
    )
    with stage("grabArticle"):
        article_content = grabber.grab_article()
    if article_content is None:
        return None

    with stage("postprocess"):
        post_process_content(
            article_content,
            doc,
            keep_classes=options.keep_classes,
            classes_to_preserve=tuple(R.CLASSES_TO_PRESERVE)
            + tuple(options.classes_to_preserve),
        )

    excerpt = metadata.get("excerpt")
    if not excerpt:
        paragraphs = article_content.get_elements_by_tag("p")
        if paragraphs:
            excerpt = js_trim(paragraphs[0].text_content)

    text_content = article_content.text_content
    return ReadabilityResult(
        title=metadata.get("title"),
        byline=metadata.get("byline") or grabber.article_byline,
        dir=grabber.article_dir,
        lang=grabber.article_lang,
        text_content=text_content,
        length=len(text_content),
        excerpt=excerpt,
        site_name=metadata.get("siteName"),
        published_time=metadata.get("publishedTime"),
        readerable=readerable,
        article=article_content,
        _options=options,
    )
