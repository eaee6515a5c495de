"""Deterministic synthetic corpus: fixtures + seeded filler docs ->
parquet tables of interleaved spans (the BASELINE input_hint shape).

No external data: document bodies are generated from a fixed word list
with ``random.Random(seed)``; the reference fixture corpus (already on
disk, public Mozilla test-pages) is converted through the span codec.
Mega-docs (~100x median size) exercise per-task skew on the extraction
route (one hash of ``doc_id``; no document takes a separate path).
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from ..extract import DEFAULT_BASE_URL
from ..spans.codec import html_to_spans

FIXTURES_DIR = Path(
    "/root/reference/Tests/SwiftReadabilityTests/Fixtures/test-pages"
)

_SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
_DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", _SPAN_TYPE)])

_WORDS = (
    "the quick brown fox jumps over a lazy dog while many readers enjoy "
    "long form articles about science culture history technology and the "
    "craft of writing plain honest prose that scores well under comma "
    "heavy heuristics, because commas, clauses, and cadence matter"
).split()


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def synth_doc_html(rng: random.Random, n_paragraphs: int, n_media: int) -> str:
    """One deterministic synthetic article page."""
    parts = [
        "<html lang=\"en\"><head><title>Synthetic Article | SynSite</title>",
        '<meta name="author" content="Syn Author">',
        "</head><body>",
        '<div class="nav menu">home | about | contact</div>',
        '<div class="content article">',
    ]
    media_slots = set(
        rng.sample(range(n_paragraphs), min(n_media, n_paragraphs))
    )
    for i in range(n_paragraphs):
        n_sentences = rng.randint(2, 6)
        body = " ".join(_sentence(rng, rng.randint(12, 28)) for _ in range(n_sentences))
        parts.append(f"<p>{body}</p>")
        if i in media_slots:
            parts.append(f'<img src="http://fakehost/syn/img-{i}.jpg" alt="fig">')
    parts.append("</div>")
    parts.append('<div class="sidebar related">links links links</div>')
    parts.append("</body></html>")
    return "".join(parts)


def synth_documents(
    n_docs: int, seed: int = 42, mega_every: int = 200
) -> list[tuple[str, list[dict]]]:
    """Seeded filler docs; every ``mega_every``-th doc is a mega-doc."""
    rows = []
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        if mega_every and i % mega_every == mega_every - 1:
            n_paragraphs, n_media = 2000, 40  # ~100x median
        else:
            n_paragraphs, n_media = rng.randint(8, 30), rng.randint(0, 5)
        html = synth_doc_html(rng, n_paragraphs, n_media)
        doc_id = f"syn-{seed}-{i}"
        rows.append((doc_id, html_to_spans(html, f"http://fakehost/syn/{doc_id}.html")))
    return rows


def fixture_documents() -> list[tuple[str, list[dict]]]:
    rows = []
    for d in sorted(FIXTURES_DIR.iterdir()):
        if not d.is_dir():
            continue
        html = (d / "source.html").read_text(encoding="utf-8")
        rows.append((d.name, html_to_spans(html, DEFAULT_BASE_URL)))
    return rows


def write_documents_parquet(
    rows: list[tuple[str, list[dict]]], path: str
) -> None:
    table = pa.Table.from_pydict(
        {
            "doc_id": [r[0] for r in rows],
            "spans": [r[1] for r in rows],
        },
        schema=_DOC_SCHEMA,
    )
    pq.write_table(table, path)


def write_expected_tables(out_dir: str) -> None:
    """Golden outputs for the fixture corpus (pytest oracle)."""
    out = Path(out_dir)
    spans_rows = []
    meta_rows = []
    for d in sorted(FIXTURES_DIR.iterdir()):
        if not d.is_dir():
            continue
        expected_html = (d / "expected.html").read_text(encoding="utf-8")
        spans_rows.append(
            (d.name, html_to_spans(expected_html, DEFAULT_BASE_URL, visibility_filter=False))
        )
        meta = json.loads((d / "expected-metadata.json").read_text(encoding="utf-8"))
        meta_rows.append(
            {
                "doc_id": d.name,
                "title": meta.get("title"),
                "byline": meta.get("byline"),
                "dir": meta.get("dir"),
                "lang": meta.get("lang"),
                "excerpt": meta.get("excerpt"),
                "site_name": meta.get("siteName"),
                "published_time": meta.get("publishedTime"),
                "readerable": meta.get("readerable"),
            }
        )
    write_documents_parquet(spans_rows, str(out / "expected_spans.parquet"))
    meta_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("title", pa.string()),
            ("byline", pa.string()),
            ("dir", pa.string()),
            ("lang", pa.string()),
            ("excerpt", pa.string()),
            ("site_name", pa.string()),
            ("published_time", pa.string()),
            ("readerable", pa.bool_()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(meta_rows, schema=meta_schema),
        str(out / "expected_metadata.parquet"),
    )


def build_corpus(
    out_dir: str,
    n_synth: int = 200,
    seed: int = 42,
    include_fixtures: bool = True,
    mega_every: int = 200,
) -> str:
    """Write documents.parquet (+ expected tables when fixtures are
    included) under ``out_dir``; returns the documents path."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = []
    if include_fixtures:
        rows.extend(fixture_documents())
        write_expected_tables(str(out))
    rows.extend(synth_documents(n_synth, seed=seed, mega_every=mega_every))
    docs_path = str(out / "documents.parquet")
    write_documents_parquet(rows, docs_path)
    return docs_path
