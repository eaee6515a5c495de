"""Semantic invariants of the curation operators (beyond the DuckDB
value oracles and the plan pins in test_plans.py): conservation laws,
determinism, and the properties a 100-TB run relies on."""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg():
    from swift_readability_spark.operators import registry

    return {name: builder for name, (builder, _o) in registry().items()}


def test_paragraph_dedup_conserves_chunks(spark, reg):
    rows = reg["paragraph_dedup"](spark, SF).collect()
    assert len(rows) == 500  # every document survives (possibly emptied)
    for r in rows:
        assert r.n_kept + r.n_removed == r.n_chunks
        assert (r.n_kept == 0) == (r.dedup_text == "")
    # non-vacuous on the driver corpus: boilerplate chunks exist
    assert sum(r.n_removed for r in rows) > 0


def test_paragraph_dedup_removes_only_repeated_chunks(spark, reg):
    """Rebuild the chunk multiset in Python and check the removal rule
    exactly: a chunk occurrence is dropped iff its normalized text
    appears >1 time corpus-wide."""
    import re
    from collections import Counter

    from swift_readability_spark.operators.curation import CHUNK_WORDS

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    chunks_by_doc = {}
    freq = Counter()
    for doc_id, text in docs.items():
        words = [w for w in re.sub(r"[^a-zA-Z0-9 ]", " ", text.lower()).split(" ") if w]
        chunks = [
            " ".join(words[i : i + CHUNK_WORDS])
            for i in range(0, len(words), CHUNK_WORDS)
        ]
        chunks_by_doc[doc_id] = chunks
        freq.update(chunks)
    out = {r.doc_id: r for r in reg["paragraph_dedup"](spark, SF).collect()}
    for doc_id, chunks in chunks_by_doc.items():
        kept = [c for c in chunks if freq[c] <= 1]
        assert out[doc_id].dedup_text == " ".join(kept)


def test_pack_sequences_matches_greedy_cumsum(spark, reg):
    """seq_id must equal the greedy cumulative-token packing within
    each bucket, ordered by doc_id — the property resumes depend on."""
    from swift_readability_spark.operators.curation import PACK_BUDGET

    rows = reg["pack_sequences"](spark, SF).collect()
    assert len(rows) == 500
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r.bucket, r.doc_id)):
        cum = by_bucket.get(r.bucket, 0)
        assert r.seq_id == cum // PACK_BUDGET
        by_bucket[r.bucket] = cum + r.n_tokens


def test_mixture_sample_is_exact_hash_fraction(spark, reg):
    from swift_readability_spark.operators.curation import MIXTURE_PCT

    rows = reg["mixture_sample"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows:
        assert r.bucket < r.keep_pct == MIXTURE_PCT[r.lang]
    # en keeps everything; overall sample is a strict subset
    langs = spark.read.parquet(f"{SF}/documents.parquet").groupBy("lang").count()
    n_en = {r.lang: r["count"] for r in langs.collect()}["en"]
    assert sum(1 for r in rows if r.lang == "en") == n_en
    assert 0 < len(rows) < n_docs


def test_corpus_report_shares_sum_to_one(spark, reg):
    rows = reg["corpus_report"](spark, SF).collect()
    assert {r.lang for r in rows} == {"en", "de", "fr", "es", "zh"}
    assert sum(r.n_docs for r in rows) == 500
    # integer-only output (round 6): corpus_share_e4 = round(1e4*share)
    assert abs(sum(r.corpus_share_e4 for r in rows) - 10000) <= len(rows)
    for r in rows:
        assert r.n_distinct <= r.n_docs
        assert r.total_tokens > 0


def test_knn_join_topk_shape_and_order(spark, reg):
    from swift_readability_spark.operators.curation import (
        KNN_K,
        KNN_QUERIES,
    )

    rows = reg["knn_join"](spark, SF).collect()
    assert len(rows) == KNN_QUERIES * KNN_K
    by_q = {}
    for r in rows:
        assert 0 <= r.q_id < KNN_QUERIES
        assert r.neighbor_id >= KNN_QUERIES
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, KNN_K + 1))
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_chunk_dedup_stats_agrees_with_paragraph_dedup(spark, reg):
    """The audit's removed-occurrence count must equal what
    paragraph_dedup actually removed."""
    stats = reg["chunk_dedup_stats"](spark, SF).collect()[0]
    removed = sum(r.n_removed for r in reg["paragraph_dedup"](spark, SF).collect())
    assert stats.n_removed_occurrences == removed
    assert stats.n_dup_chunks <= stats.n_distinct <= stats.n_occurrences
    assert stats.max_freq > 1  # non-vacuous on the driver corpus


def test_build_training_set_split_matches_dataset_split(spark):
    """build_training_set reuses dataset_split's exact hash/constants:
    a doc's train/val/test membership must not depend on whether the
    pipeline ran as one DAG or as the standalone operator (a different
    hash would silently leak former val/test docs into train)."""
    from swift_readability_spark.operators.dedup import dataset_split
    from swift_readability_spark.operators.extraction import build_training_set

    sf = "/root/testdata/sf0.001"
    standalone = {
        r["doc_id"]: r["split"] for r in dataset_split(spark, sf).collect()
    }
    pipeline = {
        r["doc_id"]: r["split"]
        for r in build_training_set(spark, sf).collect()
    }
    assert pipeline  # non-vacuous
    for doc_id, split in pipeline.items():
        assert standalone[doc_id] == split


def test_stratified_sample_small_stratum_keeps_all_without_raising(spark, tmp_path):
    """A stratum smaller than K saturates the pre-filter threshold and
    keeps every doc — and the undershoot guard must NOT fire (least(K,
    n_stratum) clamps it)."""
    from swift_readability_spark.operators.curation import stratified_sample

    rows = [(i, f"text {i}", "tiny", "s", 10) for i in range(7)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")
    got = stratified_sample(spark, d).collect()
    assert len(got) == 7
    assert {r.rnk for r in got} == set(range(1, 8))


def _undershooting_ids(k, oversample, n=500):
    """``n`` doc_ids CHOSEN so only k-1 of them land under the hash
    sampler's oversample threshold.  Construction mirrors the
    operator's own hash: bucket = int(md5(str(doc_id))[:15], 16) %
    1_000_000, threshold = ceil(oversample * k * 1e6 / n); pick k-1
    ids below it and the rest at-or-above."""
    import hashlib

    from swift_readability_spark.operators.curation import _STRATA_BUCKETS

    thresh = (oversample * k * _STRATA_BUCKETS + n - 1) // n

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % _STRATA_BUCKETS

    below, above = [], []
    i = 0
    while len(below) < k - 1 or len(above) < n - (k - 1):
        if bucket(i) < thresh:
            if len(below) < k - 1:
                below.append(i)
        elif len(above) < n - (k - 1):
            above.append(i)
        i += 1
    ids = below + above
    assert len(ids) == n
    return ids


def _write_docs(spark, path, ids, lang="en", source="s"):
    rows = [(i, f"text {i}", lang, source, 10) for i in ids]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{path}/documents.parquet")


def test_stratified_sample_undershoot_raises_loudly(spark, tmp_path):
    """Planted undershoot (VERDICT r04 item 5): a 500-doc stratum whose
    doc_ids are chosen so only K-1 of them land under the oversample
    threshold must fail the job with the remedy in the message — never
    silently return a short sample."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from swift_readability_spark.operators.curation import (
        STRATA_K,
        STRATA_OVERSAMPLE,
        stratified_sample,
    )

    _write_docs(spark, str(tmp_path), _undershooting_ids(STRATA_K, STRATA_OVERSAMPLE))
    with pytest.raises(SparkRuntimeException, match="STRATA_OVERSAMPLE"):
        stratified_sample(spark, str(tmp_path)).collect()


def test_source_cap_undershoot_raises_loudly(spark, tmp_path):
    """The same planted undershoot through source_cap, the sampler's
    other caller: a 500-doc source with only CAP-1 candidates under the
    oversample threshold fails the job naming SOURCE_CAP_OVERSAMPLE."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from swift_readability_spark.operators.curation import (
        SOURCE_CAP,
        SOURCE_CAP_OVERSAMPLE,
        source_cap,
    )

    _write_docs(spark, str(tmp_path), _undershooting_ids(SOURCE_CAP, SOURCE_CAP_OVERSAMPLE))
    with pytest.raises(SparkRuntimeException, match="SOURCE_CAP_OVERSAMPLE"):
        source_cap(spark, str(tmp_path)).collect()


def test_source_cap_caps_every_source_exactly(spark, reg):
    """On the driver corpus every source exceeds the cap, so each must
    keep exactly SOURCE_CAP docs, deterministically under re-run."""
    from collections import Counter

    from swift_readability_spark.operators.curation import SOURCE_CAP

    rows = reg["source_cap"](spark, SF).collect()
    per = Counter(r.source for r in rows)
    n_sources = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    assert len(per) == n_sources
    assert all(v == SOURCE_CAP for v in per.values())
    again = {(r.doc_id, r.source) for r in reg["source_cap"](spark, SF).collect()}
    assert again == {(r.doc_id, r.source) for r in rows}


def test_source_cap_under_cap_source_passes_through(spark, tmp_path):
    """A source with fewer docs than the cap keeps every doc and never
    enters the window/guard path."""
    from swift_readability_spark.operators.curation import SOURCE_CAP, source_cap

    rows = [(i, f"text {i}", "en", "small" if i < 5 else "big", 10)
            for i in range(5 + SOURCE_CAP + 15)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")
    got = source_cap(spark, d).collect()
    small = [r for r in got if r.source == "small"]
    big = [r for r in got if r.source == "big"]
    assert len(small) == 5          # all pass through
    assert len(big) == SOURCE_CAP   # capped


def test_source_cap_stats_conservation(spark, reg):
    """n_kept + n_dropped == n_docs, and n_kept equals the actual
    source_cap output cardinality (audit is non-vacuous)."""
    stats = reg["source_cap_stats"](spark, SF).collect()[0]
    assert stats.n_kept + stats.n_dropped == stats.n_docs
    assert stats.n_over_cap > 0  # non-vacuous on the driver corpus
    assert reg["source_cap"](spark, SF).count() == stats.n_kept


def test_source_cap_matches_python_mirror(spark, tmp_path):
    """Exact-set pin across a spread of source sizes (1, CAP-1, CAP,
    CAP+1, 3*CAP): mirror the operator's md5 bucket in Python and check
    the kept set exactly — under-cap pass-through, the boundary at CAP,
    and hash-rank trimming in one corpus.  (Valid whenever the guard
    passes: every global top-CAP doc has a bucket below the pre-filter
    threshold, so filtering cannot change the window's top-CAP.)"""
    import hashlib

    from swift_readability_spark.operators.curation import (
        _STRATA_BUCKETS,
        SOURCE_CAP,
        source_cap,
    )

    sizes = {
        "s1": 1,
        "s19": SOURCE_CAP - 1,
        "s20": SOURCE_CAP,
        "s21": SOURCE_CAP + 1,
        "s60": 3 * SOURCE_CAP,
    }
    rows, i = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, f"text {i}", "en", src, 10))
            i += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")

    def bucket(did: int) -> int:
        return int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16) % _STRATA_BUCKETS

    expected = set()
    for src, n in sizes.items():
        ids = [r[0] for r in rows if r[3] == src]
        if n <= SOURCE_CAP:
            expected |= set(ids)
        else:
            expected |= set(sorted(ids, key=lambda x: (bucket(x), x))[:SOURCE_CAP])
    got = {r.doc_id for r in source_cap(spark, d).collect()}
    assert got == expected


def test_source_cap_heavy_hitter_candidate_bound(spark, tmp_path):
    """The claim the plan pin implies, measured: a 20k-doc source's
    window input is the bucket-filtered candidate set (~OVERSAMPLE*CAP
    in expectation, here asserted < 10x that), never the full source.
    Also pins correctness on the skewed corpus: giant source capped to
    CAP, tiny sources pass through."""
    import hashlib

    from swift_readability_spark.operators.curation import (
        _STRATA_BUCKETS,
        SOURCE_CAP,
        SOURCE_CAP_OVERSAMPLE,
        source_cap,
    )

    n_giant = 20_000
    rows = [(i, f"t{i}", "en", "giant", 5) for i in range(n_giant)]
    rows += [(n_giant + j, f"t{j}", "en", f"tiny{j % 3}", 5) for j in range(9)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")

    got = source_cap(spark, d).collect()
    per = {}
    for r in got:
        per[r.source] = per.get(r.source, 0) + 1
    assert per["giant"] == SOURCE_CAP
    assert per["tiny0"] == 3 and per["tiny1"] == 3 and per["tiny2"] == 3

    # mirror the operator's pre-filter: candidates entering the window
    thresh = min(
        _STRATA_BUCKETS,
        (SOURCE_CAP_OVERSAMPLE * SOURCE_CAP * _STRATA_BUCKETS + n_giant - 1)
        // n_giant,
    )
    n_cand = sum(
        1
        for i in range(n_giant)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % _STRATA_BUCKETS
        < thresh
    )
    assert SOURCE_CAP <= n_cand < 10 * SOURCE_CAP_OVERSAMPLE * SOURCE_CAP
    assert n_cand < n_giant // 10  # the window never sees the bulk


def test_source_cap_null_source_groups_not_dropped(spark, tmp_path):
    """NULL sources group under '' in BOTH the operator and its audit:
    an inner join on the nullable key would silently drop them while
    the groupBy audit counted them — conservation would break."""
    from swift_readability_spark.operators.curation import (
        source_cap,
        source_cap_stats,
    )

    rows = [(i, f"t{i}", "en", None if i < 4 else "s", 5) for i in range(10)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")
    got = source_cap(spark, d).collect()
    assert {r.doc_id for r in got} == set(range(10))  # all under cap
    assert {r.source for r in got if r.doc_id < 4} == {""}
    stats = source_cap_stats(spark, d).collect()[0]
    assert stats.n_sources == 2
    assert stats.n_kept == len(got)


def test_stratified_sample_null_lang_stratum_sampled(spark, tmp_path):
    """NULL languages form the '' stratum instead of being silently
    dropped by the inner count join."""
    from swift_readability_spark.operators.curation import stratified_sample

    rows = [(i, f"t{i}", None if i < 6 else "en", "s", 5) for i in range(12)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{d}/documents.parquet")
    got = stratified_sample(spark, d).collect()
    assert {r.doc_id for r in got} == set(range(12))  # both strata < K
    assert {r.lang for r in got if r.doc_id < 6} == {""}
