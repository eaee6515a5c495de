"""Regression golden for the extraction core.

``tests/data/extract_golden.json`` holds a sha256 of
``extract_document``'s output spans and metadata fields per document:

- ``conftest.corpus_dir``'s 40 synthetic docs (mega-doc ``syn-42-39``
  included), and
- the ``contested_pages()`` below: several scored blocks per page with
  positive, negative and neutral class names, so the top candidate
  and the sibling joins depend on the grabber's score weights.  (The
  synthetic corpus has one article block per page, and the grab
  retries reach the same content under any weights.)

The digests record what the core produced when the file was written:
a REGRESSION net for refactors, not parity with the reference
implementation (the fixture tests are that gate, when the reference
corpus is present).

Regenerate it, after a deliberate change to extraction output, with
``python tests/test_extract_golden.py``.
"""

import hashlib
import json
import random
import sys
from pathlib import Path

import pyarrow.parquet as pq

GOLDEN = Path(__file__).resolve().parent / "data" / "extract_golden.json"
FIELDS = (
    "spans",
    "title",
    "byline",
    "dir",
    "lang",
    "excerpt",
    "site_name",
    "published_time",
    "text_length",
    "readerable",
    "error",
)
_CLASSES = ("content", "post", "story", "promo", "meta", "widget", "box", "col", "")
_WORDS = "alpha beta gamma delta, epsilon zeta eta, theta iota kappa lambda mu".split()


def contested_pages(n: int = 24, seed: int = 7) -> list[tuple[str, list[dict]]]:
    from swift_readability_spark.spans.codec import html_to_spans

    rows = []
    for i in range(n):
        rng = random.Random(seed * 1_000_003 + i)
        blocks = []
        for _ in range(rng.randint(2, 4)):
            paras = "".join(
                "<p>"
                + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 60)))
                + (f' <a href="/l{rng.randint(0, 9)}">see more</a>' if rng.random() < 0.3 else "")
                + ".</p>"
                for _ in range(rng.randint(1, 5))
            )
            tag = rng.choice(("div", "div", "section", "article"))
            blocks.append(f'<{tag} class="{rng.choice(_CLASSES)}">{paras}</{tag}>')
        html = (
            f"<html><head><title>Contested page {i}</title></head><body>"
            f'<div class="wrap">{"".join(blocks)}</div></body></html>'
        )
        rows.append((f"contested-{i}", html_to_spans(html, "http://fakehost/test/page.html")))
    return rows


def extract_digests(rows) -> dict[str, str]:
    from swift_readability_spark.extract import extract_document

    digests = {}
    for doc_id, spans in rows:
        result = extract_document(doc_id, spans or [])
        payload = json.dumps(
            {f: result[f] for f in FIELDS}, sort_keys=True, ensure_ascii=False
        )
        digests[doc_id] = hashlib.sha256(payload.encode("utf-8")).hexdigest()
    return digests


def golden_rows(documents_path: str):
    synthetic = [
        (r["doc_id"], r["spans"])
        for r in pq.read_table(documents_path).to_pylist()
        # fixture pages, when present, have their own gate
        if r["doc_id"].startswith("syn-")
    ]
    return synthetic + contested_pages()


def test_extraction_matches_regression_golden(corpus_dir):
    want = json.loads(GOLDEN.read_text(encoding="utf-8"))
    got = extract_digests(golden_rows(corpus_dir + "/documents.parquet"))
    assert "syn-42-39" in want and sum(d.startswith("syn-") for d in want) == 40
    changed = sorted(d for d in want if got.get(d) != want[d])
    assert set(got) == set(want) and not changed, changed


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from swift_readability_spark.corpus.synth import build_corpus

    with tempfile.TemporaryDirectory() as tmp:
        # the same corpus conftest.corpus_dir builds, without fixtures
        docs = build_corpus(tmp, n_synth=40, seed=42, include_fixtures=False, mega_every=40)
        digests = extract_digests(golden_rows(docs))
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n", encoding="utf-8")
    print(f"wrote {len(digests)} digests to {GOLDEN}")
