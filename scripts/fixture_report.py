#!/usr/bin/env python3
"""Burn-down report over the reference fixture corpus.

For every fixture: source.html -> spans -> extract -> spans, compared
against the segmentation of expected.html, plus metadata field checks.
Prints a pass/fail table and a summary; use --fixture NAME for detail.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from swift_readability_spark.core.readability import ReadabilityOptions
from swift_readability_spark.extract import DEFAULT_BASE_URL, extract_document
from swift_readability_spark.spans.codec import html_to_spans
from swift_readability_spark.spans.compare import compare_spans

FIXTURES = Path("/root/reference/Tests/SwiftReadabilityTests/Fixtures/test-pages")

META_FIELDS = [
    ("title", "title"),
    ("byline", "byline"),
    ("dir", "dir"),
    ("lang", "lang"),
    ("excerpt", "excerpt"),
    ("site_name", "siteName"),
    ("published_time", "publishedTime"),
    ("readerable", "readerable"),
]


def run_fixture(name: str, verbose: bool = False):
    d = FIXTURES / name
    source = (d / "source.html").read_text(encoding="utf-8")
    expected_html = (d / "expected.html").read_text(encoding="utf-8")
    expected_meta = json.loads((d / "expected-metadata.json").read_text(encoding="utf-8"))

    in_spans = html_to_spans(source, DEFAULT_BASE_URL)
    # the reference harness runs with classesToPreserve=["caption"]
    # (ReadabilityTests.swift:23)
    opts = ReadabilityOptions(classes_to_preserve=("caption",))
    result = extract_document(name, in_spans, DEFAULT_BASE_URL, opts)
    exp_spans = html_to_spans(expected_html, DEFAULT_BASE_URL, visibility_filter=False)

    mismatches = compare_spans(result["spans"], exp_spans)
    meta_mismatches = []
    for ours_key, theirs_key in META_FIELDS:
        exp_val = expected_meta.get(theirs_key)
        got_val = result.get(ours_key)
        if exp_val is None and got_val in (None, ""):
            continue
        if got_val != exp_val:
            meta_mismatches.append(f"{ours_key}: got {got_val!r} expected {exp_val!r}")
    if result["error"]:
        mismatches.insert(0, "ERROR: " + result["error"].strip().splitlines()[-1])
    if verbose:
        for m in mismatches:
            print("  content:", m)
        for m in meta_mismatches:
            print("  meta:", m)
    return mismatches, meta_mismatches


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", help="single fixture name for detail")
    ap.add_argument("--meta-only", action="store_true")
    args = ap.parse_args()

    names = [args.fixture] if args.fixture else sorted(p.name for p in FIXTURES.iterdir() if p.is_dir())
    content_pass = meta_pass = both_pass = 0
    failures = []
    for name in names:
        try:
            mism, meta_mism = run_fixture(name, verbose=bool(args.fixture))
        except Exception as e:  # noqa: BLE001
            mism, meta_mism = [f"harness error: {e!r}"], []
        c_ok, m_ok = not mism, not meta_mism
        content_pass += c_ok
        meta_pass += m_ok
        both_pass += c_ok and m_ok
        status = ("C" if c_ok else "-") + ("M" if m_ok else "-")
        if not (c_ok and m_ok):
            failures.append((name, status, [m[:200] for m in (mism + meta_mism)[:1]]))
        if args.fixture:
            print(name, status)
    if not args.fixture:
        for name, status, first in failures:
            print(f"{status} {name}: {first[0][:160] if first else ''}")
        print(
            f"\ncontent {content_pass}/{len(names)}  metadata {meta_pass}/{len(names)}  "
            f"both {both_pass}/{len(names)}"
        )


if __name__ == "__main__":
    main()
