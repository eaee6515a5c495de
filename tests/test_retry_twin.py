"""The retry loop against its canonical twin.

``Grabber.grab_article`` restores the page between attempts by
replaying a DOM mutation journal and stops relaxing once an attempt
holds the whole body's text.  :func:`canonical_grab_article` is
Readability.js ``_grabArticle``'s retry loop written the plain way: it
re-parses the cached body HTML before every retry, runs every attempt,
picks the fallback by a stable sort on text length and reads ``dir``
from the last attempt's top candidate.  ``extract_document`` must not
tell the two apart on seeded generated pages, the test corpus and the
golden's contested pages, short pages that run the chain out, and the
deep, wide and malformed shapes of ``test_robustness.py``.
"""

import random

import pyarrow.parquet as pq
import pytest

from swift_readability_spark.core import grabber as G
from swift_readability_spark.core.dom import parse_html
from swift_readability_spark.core.helpers import get_inner_text
from swift_readability_spark.extract import extract_document


def _set_inner_html(page, html):
    """``page.innerHTML = html``: the old children are detached, the new
    ones parsed in body context."""
    fresh = parse_html("<body>" + html).body
    for child in list(page.children):
        child.remove()
    for child in list(fresh.children):
        page.append_child(child)


def canonical_grab_article(self):
    doc = self.doc
    page = doc.body
    if page is None:
        return None
    page_cache_html = page.inner_html
    while True:
        article = self._grab_once()
        text_length = len(get_inner_text(article, True))
        if text_length >= self.char_threshold:
            self._set_article_dir()
            return article
        _set_inner_html(page, page_cache_html)
        self.attempts.append((article, text_length))
        if self.flag_strip_unlikelys:
            self.flag_strip_unlikelys = False
        elif self.flag_weight_classes:
            self.flag_weight_classes = False
        elif self.flag_clean_conditionally:
            self.flag_clean_conditionally = False
        else:
            self.attempts.sort(key=lambda a: a[1], reverse=True)
            if not self.attempts[0][1]:
                return None
            self._set_article_dir()
            return self.attempts[0][0]


# -- seeded page generator -------------------------------------------------

_WORDS = (
    "river stone light paper market winter signal garden copper letter "
    "morning harbor engine orbit meadow silver lantern canvas thunder "
    "village"
).split()
_POSITIVE = ("article", "content", "entry", "post", "story", "main-text")
_NEGATIVE = ("comment", "widget", "share-tools", "promo", "meta", "tags")
_UNLIKELY_IDS = ("sidebar", "banner", "menu", "footer", "social", "popup", "related")
_DIRS = ("rtl", "ltr", "auto")
_SPACES = (" ", "  ", "\n", "\t\n ", "\u00a0", " \u00a0\n", "&nbsp; ", "&nbsp;")


class _Page:
    """Random page parts: the branches the retry chain reacts to
    (threshold, relaxed flags, cut, ``dir``, byline, title header)."""

    def __init__(self, rng):
        self.rng = rng

    def words(self, lo, hi):
        rng = self.rng
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))
        if rng.random() < 0.5:
            text = text.replace(" ", ", ", rng.randint(0, 4))
        return text + "."

    def space(self):
        return self.rng.choice(_SPACES)

    def attrs(self, *, dir_p=0.0, ident=False):
        rng = self.rng
        out = []
        if rng.random() < 0.6:
            out.append(f'class="{rng.choice(_POSITIVE + _NEGATIVE)}"')
        if ident and rng.random() < 0.35:
            out.append(f'id="{rng.choice(_UNLIKELY_IDS)}"')
        if rng.random() < dir_p:
            out.append(f'dir="{rng.choice(_DIRS)}"')
        return (" " + " ".join(out)) if out else ""

    def paragraph(self, lo=3, hi=40):
        rng = self.rng
        body = self.words(lo, hi)
        if rng.random() < 0.2:
            body += f' <a href="/l{rng.randint(0, 9)}">{self.words(1, 4)}</a>'
        if rng.random() < 0.1:
            body = self.space() + body + self.space()
        return f"<p{self.attrs(dir_p=0.1)}>{body}</p>"

    def table(self):
        rng = self.rng
        rows, cols = rng.randint(1, 4), rng.randint(1, 3)
        cells = "".join(
            "<tr>" + "".join(f"<td>{self.words(1, 12)}</td>" for _ in range(cols)) + "</tr>"
            for _ in range(rows)
        )
        return f"<table{self.attrs()}>{cells}</table>"

    def listing(self):
        rng = self.rng
        tag = rng.choice(("ul", "ol"))
        items = "".join(
            f'<li><a href="/i{i}">{self.words(1, 3)}</a></li>'
            if rng.random() < 0.5
            else f"<li>{self.words(1, 10)}</li>"
            for i in range(rng.randint(1, 6))
        )
        return f"<{tag}{self.attrs()}>{items}</{tag}>"

    def block(self, depth=0):
        rng = self.rng
        kind = rng.random()
        if kind < 0.45:
            return self.paragraph()
        if kind < 0.55:
            return self.table()
        if kind < 0.65:
            return self.listing()
        if kind < 0.72:
            # a div of bare phrasing content: wrapped into <p>
            return f"<div{self.attrs(dir_p=0.1)}>{self.space()}{self.words(3, 30)}{self.space()}</div>"
        if kind < 0.77:
            return self.space()
        if kind < 0.8:
            return f"<h2{self.attrs()}>{self.words(1, 6)}</h2>"
        if depth < 2:
            inner = "".join(self.block(depth + 1) for _ in range(rng.randint(1, 4)))
            return f"<div{self.attrs(dir_p=0.15, ident=True)}>{inner}</div>"
        return self.paragraph()

    def build(self):
        rng = self.rng
        title = self.words(2, 5)
        head = f"<head><title>{title}</title></head>"
        parts = []
        if rng.random() < 0.3:
            parts.append(f'<div id="{rng.choice(_UNLIKELY_IDS)}">{self.words(2, 20)}</div>')
        if rng.random() < 0.2:
            parts.append(f'<p class="byline">By {self.words(1, 2)}</p>')
        if rng.random() < 0.15:
            parts.append(f"<h1>{title}</h1>")
        # short pages sit below char_threshold, long ones above it
        n_blocks = rng.choice((1, 2, 3, 4, 6, 10))
        content = "".join(self.block() for _ in range(n_blocks))
        parts.append(f"<div{self.attrs(dir_p=0.15, ident=True)}>{content}</div>")
        if rng.random() < 0.3:
            parts.append(
                f'<div class="{rng.choice(_NEGATIVE)}">{self.listing() if rng.random() < 0.5 else self.paragraph()}</div>'
            )
        if rng.random() < 0.25:
            parts.append(self.space())
        rng.shuffle(parts)
        html_dir = f' dir="{rng.choice(_DIRS)}"' if rng.random() < 0.1 else ""
        body_dir = f' dir="{rng.choice(_DIRS)}"' if rng.random() < 0.1 else ""
        return f"<html{html_dir}>{head}<body{body_dir}>{''.join(parts)}</body></html>"


def _text_page(html):
    return [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]


def generated_pages(n, seed):
    rng = random.Random(seed)
    page = _Page(rng)
    return [(f"gen-{seed}-{i}", _text_page(page.build())) for i in range(n)]


def interleaved_pages(n, seed):
    """The interleaved pages ``operators.extraction.interleaved_documents``
    builds, over the ``documents`` table perfbench draws from ``seed``."""
    from perfbench.inputs import documents_table

    pages = []
    for row in documents_table(n, seed).to_pylist():
        d = row["doc_id"]
        head = (
            f'<html lang="{row["lang"]}"><head><title>Doc {d}</title>'
            f'<meta name="author" content="Author {d}">'
            f'<meta property="og:description" content="Synthetic document {d}">'
            '</head><body><div class="content"><p>'
            + row["text"].replace(". ", ".</p><p>")
            + "</p>"
        )
        tail = "</div></body></html>"
        text = {"kind": "text", "media_ref": None}
        if d % 3 == 0:
            media = {"kind": "media", "text": None, "offset": 1,
                     "media_ref": f"http://fakehost/media/img-{d}.jpg"}
            spans = [dict(text, text=head, offset=0), media, dict(text, text=tail, offset=2)]
        else:
            spans = [dict(text, text=head + tail, offset=0)]
        pages.append((str(d), spans))
    return pages


def short_content_pages(n=30):
    """Three short paragraphs in a ``class="content"`` wrapper: every
    page stays below ``char_threshold`` and reaches the fallback."""
    pages = []
    for i in range(n):
        body = "".join(f"<p>Short paragraph {i}-{j}, with commas, here.</p>" for j in range(3))
        html = (
            f'<html lang="en"><head><title>Doc {i} Title Words</title></head>'
            f'<body><div class="content">{body}</div></body></html>'
        )
        pages.append((f"short-{i}", _text_page(html)))
    return pages


def robustness_pages():
    """The deep, wide and malformed shapes of ``test_robustness.py``."""

    def body(inner):
        return _text_page(f"<html><body>{inner}</body></html>")

    shorts = "".join(f"<p>Short paragraph {j}, with commas, here.</p>" for j in range(3))
    long_paragraph = "<p>paragraph {} with some words, and more words after the comma.</p>"
    return [
        ("deep-div", body("<div>" * 300 + "deep text, here." + "</div>" * 300)),
        # fails the threshold, so the replay undoes a 150-deep journal
        ("deep-short", body("<div><section>" * 150 + shorts + "</section></div>" * 150)),
        ("wide-long", body("".join(long_paragraph.format(i) for i in range(2000)))),
        ("wide-short", body("<p>w.</p>" * 2000)),
        ("not-html", _text_page("\x00\x01<<<>>>&&&")),
        ("bad-offset", [{"kind": "media", "text": None, "media_ref": "x.jpg", "offset": 5}]),
        ("empty-spans", []),
    ]


def _extract_all(docs):
    return [extract_document(doc_id, spans) for doc_id, spans in docs]


def _assert_twin_agrees(docs, monkeypatch):
    fast = _extract_all(docs)
    monkeypatch.setattr(G.Grabber, "grab_article", canonical_grab_article)
    slow = _extract_all(docs)
    diff = [d for (d, _), a, b in zip(docs, fast, slow) if a != b]
    assert not diff, f"{len(diff)} documents differ from the twin, e.g. {diff[:5]}"
    return fast


def test_twin_agrees_on_generated_pages(monkeypatch):
    docs = generated_pages(2000, seed=17)
    out = _assert_twin_agrees(docs, monkeypatch)
    # the pages reach both sides of char_threshold, the no-article
    # fallback and every dir value
    lengths = [r["text_length"] for r in out]
    assert min(lengths) < G.DEFAULT_CHAR_THRESHOLD <= max(lengths)
    assert any(r["error"] == "no_article" for r in out)
    assert {r["dir"] for r in out} == {None, "rtl", "ltr", "auto"}
    assert sum(r["byline"] is not None for r in out) > 100


def test_twin_agrees_on_corpus(corpus_dir, monkeypatch):
    from test_extract_golden import contested_pages

    table = pq.read_table(f"{corpus_dir}/documents.parquet")
    docs = list(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))
    _assert_twin_agrees(docs + contested_pages(), monkeypatch)


def test_twin_agrees_on_short_content_pages(monkeypatch):
    out = _assert_twin_agrees(short_content_pages(), monkeypatch)
    assert all(0 < r["text_length"] < G.DEFAULT_CHAR_THRESHOLD for r in out)


def test_twin_agrees_on_robustness_shapes(monkeypatch):
    out = _assert_twin_agrees(robustness_pages(), monkeypatch)
    by_id = {r["doc_id"]: r for r in out}
    assert 0 < by_id["deep-short"]["text_length"] < G.DEFAULT_CHAR_THRESHOLD
    assert by_id["wide-long"]["text_length"] > 100_000


@pytest.fixture
def attempts_run(monkeypatch):
    """Counts ``_grab_once`` calls: the attempts actually run."""
    calls = []
    once = G.Grabber._grab_once

    def counting(self):
        calls.append(1)
        return once(self)

    monkeypatch.setattr(G.Grabber, "_grab_once", counting)
    return calls


def test_one_attempt_per_interleaved_page(attempts_run):
    """Every interleaved page passes its first attempt, or fails it
    holding the body's whole text, so the cut ends the chain: no retry
    runs (with the deleted no-op skip in the cut's place, 1.30 attempts
    per page ran)."""
    docs = interleaved_pages(3000, seed=1)
    out = _extract_all(docs)
    assert not any(r["error"] for r in out)
    assert len(attempts_run) == len(docs)


def test_one_attempt_per_synth_page(attempts_run):
    from swift_readability_spark.corpus.synth import synth_documents

    # the synth_skewed shape: every 200th page a ~1 MB mega-doc
    docs = synth_documents(300, seed=5, mega_every=200)
    assert any(sum(len(s["text"] or "") for s in spans) > 500_000 for _, spans in docs)
    _extract_all(docs)
    assert len(attempts_run) == len(docs)
