"""API/behavioral tests mirroring the reference's
ReadabilityAPITests.swift:9-150 and ParitySupplementaryTests: options
defaults, maxElemsToParse abort, keepClasses, custom serializer,
allowedVideoRegex, disableJSONLD, linkDensityModifier, XML serializer."""

import re

import pytest

from swift_readability_spark.core.readability import (
    ParseAbortError,
    ReadabilityOptions,
    parse,
    parse_with_timings,
)

ARTICLE = (
    '<html lang="en"><head><title>A Long Enough Title Here | Site</title></head>'
    '<body><div class="content article">'
    + "".join(
        f'<p class="para keepme">Paragraph {i}, with commas, and plenty of '
        "words to make the scorer happy and push past thresholds easily. "
        "More filler text follows to reach length requirements here.</p>"
        for i in range(12)
    )
    + '<iframe src="https://www.youtube.com/embed/abc"></iframe>'
    + '<iframe src="https://custom.example.com/player/1"></iframe>'
    + "</div></body></html>"
)
URL = "http://fakehost/test/page.html"


def test_defaults():
    opts = ReadabilityOptions()
    assert opts.max_elems_to_parse == 0
    assert opts.nb_top_candidates == 5
    assert opts.char_threshold == 500
    assert not opts.keep_classes
    assert not opts.disable_jsonld


def test_max_elems_abort():
    with pytest.raises(ParseAbortError):
        parse(ARTICLE, URL, ReadabilityOptions(max_elems_to_parse=3))
    assert parse(ARTICLE, URL, ReadabilityOptions(max_elems_to_parse=100000)) is not None


def test_classes_removed_by_default_and_kept_with_option():
    r = parse(ARTICLE, URL)
    assert 'class="para' not in r.content
    assert 'class="page"' in r.content  # readability's own class survives
    r2 = parse(ARTICLE, URL, ReadabilityOptions(keep_classes=True))
    assert 'class="para keepme"' in r2.content


def test_classes_to_preserve():
    r = parse(ARTICLE, URL, ReadabilityOptions(classes_to_preserve=("keepme",)))
    assert 'class="keepme"' in r.content


def test_custom_serializer():
    r = parse(
        ARTICLE, URL, ReadabilityOptions(serializer=lambda el: f"NODES:{len(el.children)}")
    )
    assert r.content.startswith("NODES:")


def test_xml_serializer_self_closing():
    html = ARTICLE.replace("</div></body>", '<img src="x.png"></div></body>')
    r = parse(html, URL, ReadabilityOptions(use_xml_serializer=True))
    assert re.search(r"<img [^>]*/>", r.content)


def test_allowed_video_regex():
    # default: youtube survives, unknown host iframe is cleaned
    r = parse(ARTICLE, URL)
    assert "youtube.com" in r.content
    assert "custom.example.com" not in r.content
    # custom regex: the custom host survives too
    custom = re.compile(r"//custom\.example\.com")
    r2 = parse(ARTICLE, URL, ReadabilityOptions(allowed_video_regex=custom))
    assert "custom.example.com" in r2.content


def test_disable_jsonld():
    html = ARTICLE.replace(
        "</head>",
        '<script type="application/ld+json">{"@context":"https://schema.org",'
        '"@type":"Article","name":"JSONLD Title Value"}</script></head>',
    )
    r = parse(html, URL)
    assert r.title == "JSONLD Title Value"
    r2 = parse(html, URL, ReadabilityOptions(disable_jsonld=True))
    assert r2.title != "JSONLD Title Value"


def test_link_density_modifier():
    linky = ARTICLE.replace(
        "</div></body>",
        '<div class="x">'
        + "".join(f'<a href="/l{i}">link text {i} much longer</a> tail' for i in range(20))
        + "</div></div></body>",
    )
    strict = parse(linky, URL, ReadabilityOptions(link_density_modifier=-0.2))
    lax = parse(linky, URL, ReadabilityOptions(link_density_modifier=10.0))
    assert len(lax.content) >= len(strict.content)


def test_parse_with_timings_labels():
    r, timings = parse_with_timings(ARTICLE, URL)
    assert r is not None
    assert {"parseDocument", "readerable", "preprocess", "metadata", "grabArticle", "postprocess"} <= set(timings)
    assert all(v >= 0 for v in timings.values())


def test_debug_logs_per_stage():
    """debug=True emits per-stage timing logs (reference analogue:
    Readability.swift:118-175); a custom logger sink captures them."""
    lines: list[str] = []
    r = parse(ARTICLE, URL, ReadabilityOptions(debug=True, logger=lines.append))
    assert r is not None
    stages = {ln.split(":")[0] for ln in lines}
    assert {"readerable", "preprocess", "metadata", "grabArticle", "postprocess"} <= stages
    assert all(re.search(r"\d+\.\d\d ms$", ln) for ln in lines)


def test_nb_top_candidates_option_accepted():
    r = parse(ARTICLE, URL, ReadabilityOptions(nb_top_candidates=2))
    assert r is not None


def test_char_threshold_retry():
    short = (
        '<html><head><title>Short Doc Title Words</title></head><body>'
        '<div class="content"><p>Tiny bit of text, with commas, here.</p></div>'
        "</body></html>"
    )
    r = parse(short, URL, ReadabilityOptions(char_threshold=10))
    assert r is not None and r.length > 0
    r2 = parse(short, URL)  # default 500: retry loop, best attempt
    assert r2 is None or r2.length >= 0
