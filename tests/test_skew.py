"""Skew soak test (VERDICT r01 item 8): the extraction route proved
end to end on physical placement, not just on the plan string.

A mega-document mixed into thousands of small documents: the one hash
of ``doc_id`` must spread every document over all the physical tasks,
and the whole mix must extract clean.
"""

import pyspark.sql.functions as F
import pytest

from swift_readability_spark.pipeline.job import (
    DEFAULT_TASK_OVERSUBSCRIPTION,
    DOCUMENTS_SCHEMA,
    plan_extraction,
    route_for_extraction,
)

N_SMALL = 2000
N_PARTITIONS = 4  # x DEFAULT_TASK_OVERSUBSCRIPTION (1) -> 4 physical tasks


def _mixed_corpus(spark):
    small_payload = "<html><body><p>" + "plain words here. " * 40 + "</p></body></html>"
    small = [
        (
            f"small-{i:04d}",
            [{"kind": "text", "text": small_payload, "media_ref": None, "offset": 0}],
        )
        for i in range(N_SMALL)
    ]
    # ~8 MB payload
    mega_payload = (
        "<html><body>"
        + ("<p>" + "mega document text segment. " * 50 + "</p>") * 6000
        + "</body></html>"
    )
    assert len(mega_payload) > 1 << 20
    mega = [
        (
            "mega-0",
            [{"kind": "text", "text": mega_payload, "media_ref": None, "offset": 0}],
        )
    ]
    return spark.createDataFrame(small + mega, DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def placement(spark):
    routed = route_for_extraction(_mixed_corpus(spark), N_PARTITIONS)
    rows = routed.select(
        "doc_id", F.spark_partition_id().alias("pid")
    ).collect()
    return {r["doc_id"]: r["pid"] for r in rows}


def test_small_docs_stay_uniform(placement):
    from collections import Counter

    counts = Counter(placement.values())
    physical = N_PARTITIONS * DEFAULT_TASK_OVERSUBSCRIPTION
    # 2001 docs over the physical tasks: every task gets documents, and a uniform
    # hash keeps the fullest task under 1.5x the mean
    assert sorted(counts) == list(range(physical))
    assert max(counts.values()) < 1.5 * len(placement) / physical


def test_soak_mixed_corpus_extracts_clean(spark):
    """End-to-end: the mixed corpus extracts with zero errors, and the
    mega-doc's wall time stands out from every small doc's."""
    extracted = plan_extraction(
        _mixed_corpus(spark),
        "http://fakehost/test/page.html",
        "soak",
        n_partitions=N_PARTITIONS,
    )
    rows = extracted.select("doc_id", "error", "text_length", "wall_ms").collect()
    assert len(rows) == N_SMALL + 1
    assert all(r["error"] is None for r in rows)
    mega = next(r for r in rows if r["doc_id"] == "mega-0")
    assert mega["text_length"] > 1_000_000
    small_max = max(r["wall_ms"] for r in rows if r["doc_id"] != "mega-0")
    # the mega-doc costs orders of magnitude more than any small doc
    assert mega["wall_ms"] > 10 * small_max
