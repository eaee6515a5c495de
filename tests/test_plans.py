"""Physical-plan regression tests: the properties PLANS.md claims are
asserted here so a refactor can't silently regress them.

These are the plan shapes that decide 100-TB behavior: pushed filters,
broadcast dimensions, map-side-only fingerprints, single-Exchange
extraction, and the absence of any shingle-keyed join in the dedup
verify stage.
"""

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def reg():
    from swift_readability_spark.operators import registry

    return {name: builder for name, (builder, _o) in registry().items()}


def test_q1_pushes_shipdate_filter_and_partial_agg(spark, reg):
    plan = _plan(reg["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_q3_broadcasts_the_dimension(spark, reg):
    plan = _plan(reg["q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort


def test_anti_join_is_broadcast(spark, reg):
    plan = _plan(reg["customers_without_orders"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def _assert_arrow_kernel_shape(plan: str) -> None:
    """Round-7 shape for the per-doc fingerprint kernels: one Arrow
    stage, no compute shuffle.  The only Exchange allowed is the
    round-robin input spread (skipped on multi-split scans); a
    hashpartitioning Exchange would mean a groupBy/join snuck back
    in."""
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_simhash_is_map_side_only(spark, reg):
    """Round-7 rewrite: the fingerprint is computed per-doc inside one
    mapInArrow stage (C-regex + hashlib + numpy) — zero compute
    shuffle; only the input-spread round-robin Exchange appears."""
    _assert_arrow_kernel_shape(_plan(reg["simhash"](spark, SF)))


def test_minhash_signatures_no_shuffle(spark, reg):
    _assert_arrow_kernel_shape(_plan(reg["minhash_signatures"](spark, SF)))


def test_jaccard_verify_never_joins_on_shingle(spark, reg):
    """The verify stage joins candidates to shingle SETS on doc_id;
    a shingle-keyed join (stopword hot keys) must never reappear."""
    plan = _plan(reg["ngram_jaccard_pairs"](spark, SF))
    for line in plan.splitlines():
        if "Join" in line:
            assert "shingle" not in line, line


def test_lsh_cap_applied_before_collect(spark, reg):
    """VERDICT r02 item 3: the bucket cap must drop over-cap buckets
    BEFORE collect_set materializes a member list (a degenerate
    boilerplate bucket must cost a spill-safe window sort, not an agg
    buffer).  Plan order, top-down: collect_set agg above the cap
    Filter above the Window count — i.e. filter upstream of collect —
    and NO Exchange between the window and the agg (shared
    (band, bucket) partitioning)."""
    plan = _plan(reg["lsh_candidate_pairs"](spark, SF))
    i_collect = plan.index("collect_set")
    i_filter = plan.index("<= 64")
    i_window = plan.index("Window")
    assert i_collect < i_filter < i_window
    assert "Exchange" not in plan[i_collect:i_window]
    # window shuffle + final distinct + the Arrow kernel's round-robin
    # input spread: exactly three Exchanges total (r07: the signature
    # stage itself no longer shuffles, but its input spread adds one)
    assert plan.count("Exchange") == 3


def test_simhash_bands_guard_before_collect(spark, reg):
    """Same property for the cap-less Hamming-band path: the loud
    assert_true guard (and its window count) evaluates before any
    member struct is collected."""
    plan = _plan(reg["simhash_neardup_pairs"](spark, SF))
    i_collect = plan.index("collect_set")
    i_guard = plan.index("raise_error")  # assert_true compiles to this
    i_window = plan.index("Window")
    assert i_collect < i_guard
    assert i_collect < i_window
    assert "Exchange" not in plan[i_collect:i_window]


def test_ann_bruteforce_kernel_scores_single_scan(spark, reg):
    """r07 shape: the per-row cosine is the Arrow kernel over one
    corpus scan (query vector collected, not crossJoined), then a
    driver-side TakeOrdered — no join, no shuffle of the corpus."""
    plan = _plan(reg["ann_bruteforce_topk"](spark, SF))
    assert "MapInArrow" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_extraction_has_exactly_one_exchange(spark, corpus_dir):
    """One scan -> one hash shuffle on doc_id -> mapInArrow; a second
    Exchange would double the largest data movement of the job."""
    from swift_readability_spark.pipeline.job import plan_extraction

    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    plan = _plan(
        plan_extraction(docs, "http://fakehost/test/page.html", "r", 4)
    )
    assert plan.count("Exchange") == 1
    # n_partitions 4 x DEFAULT_TASK_OVERSUBSCRIPTION 1: one task per key
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+, 4\)", plan)


@pytest.mark.parametrize("query", ["extract_metadata", "extract_spans_stats"])
def test_extraction_queries_shuffle_the_corpus_once(spark, reg, query):
    """The doc_id route already spreads the constructed pages: no
    round-robin pre-spread runs in front of it."""
    plan = _plan(reg[query](spark, SF))
    assert plan.count("Exchange") == 1
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", plan)
    assert "RoundRobinPartitioning" not in plan


def test_lang_id_stays_in_codegen(spark, reg):
    """The marker regexes run as JVM codegen expressions, never in a
    Python stage.  (With the r07 input-spread Exchange present the
    pre-execution adaptive plan no longer prints "*(n)" codegen-span
    markers, so the pin asserts the absence of Python eval nodes and
    that the only Exchange is the round-robin spread.)"""
    plan = _plan(reg["lang_id"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInArrow" not in plan
    assert plan.count("Exchange") == 1 and "RoundRobinPartitioning" in plan


def test_top_terms_partial_agg_and_takeordered(spark, reg):
    """Zipf-skewed word key is survivable because of map-side partial
    counting; top-k must not global-sort."""
    plan = _plan(reg["top_terms"](spark, SF))
    assert "partial" in plan.lower()
    assert "TakeOrderedAndProject" in plan
    # one shuffle for the final agg + the r07 round-robin input spread
    assert plan.count("Exchange") == 2
    assert "RoundRobinPartitioning" in plan


def test_pii_scan_no_shuffle_no_python(spark, reg):
    plan = _plan(reg["pii_scan"](spark, SF))
    # the only Exchange is the r07 round-robin input spread — no
    # hash/range shuffle, and the regex counts stay in the JVM
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") == 1 and "RoundRobinPartitioning" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- curation module (round 3 additions) ------------------------------------


def test_paragraph_dedup_broadcast_anti_join(spark, reg):
    """The over-threshold chunk set must broadcast: a shuffled removal
    join would re-shuffle the whole exploded corpus at 100 TB."""
    plan = _plan(reg["paragraph_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_single_shuffle_no_global_sort(spark, reg):
    """Packing must shuffle once (by bucket) and sort within
    partitions only — a global ORDER BY would serialize the corpus."""
    plan = _plan(reg["pack_sequences"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_sample_is_map_side_only(spark, reg):
    """Hash-fraction sampling is a projection + filter: zero shuffle
    at any corpus size."""
    plan = _plan(reg["mixture_sample"](spark, SF))
    assert "Exchange" not in plan
    assert "*(" in plan  # whole-stage codegen


def test_corpus_report_partial_agg(spark, reg):
    plan = _plan(reg["corpus_report"](spark, SF))
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_knn_join_scores_in_kernel_single_corpus_scan(spark, reg):
    """The corpus side must never shuffle on a join key: the query
    batch is collected into the scoring kernel (r07), and the only
    exchange is the per-query top-k window partitioning."""
    plan = _plan(reg["knn_join"](spark, SF))
    assert "MapInArrow" in plan
    assert "Join" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_stratified_sample_broadcasts_counts_prefilter(spark, reg):
    """The per-language count table must broadcast and the hash-bucket
    pre-filter must run BEFORE the window: at 100 TB the corpus never
    shuffles un-filtered into per-language window partitions."""
    plan = _plan(reg["stratified_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # oversample pre-filter sits below the window (Filter on bucket
    # appears, and the window input is the filtered candidate set)
    assert plan.index("Window") < plan.index("BroadcastHashJoin")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_partial_agg_no_python(spark, reg):
    """tf and df counts must combine map-side; the whole operator stays
    JVM-side."""
    plan = _plan(reg["tfidf_top_terms"](spark, SF))
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_shuffles_hashes_not_chunks(spark, reg):
    """The duplicate-count aggregation must key on the 60-bit chunk
    hash, never the chunk string (8-byte shuffle rows at 100 TB)."""
    plan = _plan(reg["paragraph_dedup"](spark, SF))
    import re

    # every hashAggregate keyed on chunk_h; no aggregate keyed on the
    # raw chunk string
    assert "chunk_h" in plan
    assert not re.search(r"keys=\[chunk#", plan)


def test_wide_neardup_single_band_shuffle(spark, reg):
    """The 64-bit Hamming-band join keeps the 8-bit operator's shape:
    window guard + groupBy share the (band, value) partitioning."""
    plan = _plan(reg["simhash_wide_neardup_pairs"](spark, SF))
    assert "raise_error" in plan  # loud pair-budget guard present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_prefix_join_is_hash_keyed_and_df_capped(spark, reg):
    """The containment candidate join keys on the 60-bit shingle hash
    (never strings) and the prefix side is df-capped BEFORE the join
    (hot boilerplate shingles cannot become join keys).  r07: the
    survivor set is collected for the verify phase, so the candidate
    plan is pinned via its own builder."""
    from swift_readability_spark.operators.dedup import _containment_candidates
    from swift_readability_spark.operators.kernels import docs

    plan = _plan(_containment_candidates(spark, docs(spark, SF)))
    assert "sh_h" in plan
    assert "1000" in plan  # CONTAINMENT_MAX_DF filter present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the final (verify) plan stays JVM + broadcast-join shaped
    final = _plan(reg["containment_pairs"](spark, SF))
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def _assert_one_kernel_takeordered(plan: str) -> None:
    """The hyperplane probe is the scoring kernel's row mask against
    the driver-computed query signature: one Arrow stage over one
    corpus scan, no join, no shuffle, then TakeOrdered."""
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_hyperplane_is_scan_plus_takeordered(spark, reg):
    _assert_one_kernel_takeordered(_plan(reg["ann_hyperplane_topk"](spark, SF)))


def test_ann_wide_is_scan_plus_takeordered(spark, reg):
    _assert_one_kernel_takeordered(
        _plan(reg["ann_hyperplane_wide_topk"](spark, SF))
    )


def test_extract_and_curate_single_arrow_pass(spark, reg):
    """The canonical-per-hash pick is a window, not a self-semi-join:
    the join form physically ran the Arrow extraction stage TWICE
    (no cross-DAG CSE below Exchange boundaries)."""
    plan = _plan(reg["extract_and_curate"](spark, SF))
    assert plan.count("MapInArrow") == 1


def test_build_training_set_one_corpus_pass_pruned_eval(spark, reg):
    """The six-stage pipeline runs exactly TWO Arrow stages: one full
    corpus pass and one eval-slice pass whose doc_id filter is pushed
    to the parquet scan (filters cannot cross mapInArrow, so the
    pruning must sit below it)."""
    plan = _plan(reg["build_training_set"](spark, SF))
    assert plan.count("MapInArrow") == 2
    assert "LessThan(doc_id,20)" in plan.replace(" ", "")


def test_ann_ivf_corpus_side_never_sort_merges(spark, reg):
    """Scale-derived IVF (r07 shape): the argmax assignment is ONE
    Arrow kernel over the corpus scan, the probed cells are literal ids
    (driver-side pick over the broadcast-class centroid table), and the
    rerank scores the probed cells in the shared query-cosine kernel
    against the collected query row — the corpus is never shuffled on
    a join key and never pays an interpreted per-(vector, cell)
    higher-order-function fold."""
    for q in ("ann_ivf_topk", "ann_ivf_refined_topk"):
        plan = _plan(reg[q](spark, SF))
        assert "SortMergeJoin" not in plan, q
        assert "ShuffledHashJoin" not in plan, q
        assert "MapInArrow" in plan, q
        # probed-cell prune is a literal IN filter on the kernel output
        assert "cell#" in plan and " IN " in plan, q
    plan = _plan(reg["ivf_centroids"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "MapInArrow" in plan


def test_source_cap_broadcasts_counts_prefilter(spark, reg):
    """Domain-cap plan shape: counts broadcast, the pass-through branch
    never windows, and the hash-bucket pre-filter sits below the window
    so a heavy-hitter domain sends ~OVERSAMPLE*CAP rows to its window
    task, not its full doc set."""
    plan = _plan(reg["source_cap"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the bucket pre-filter threshold is pushed into the join condition
    # (Catalyst folds OVERSAMPLE*CAP*BUCKETS = 160e6 into the ceil-div)
    assert "least(1000000" in plan
    # top-CAP applies before the full per-source sort materializes
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_gate_filter_stays_above_its_projection(spark, reg):
    """``curation_pipeline`` computes its gate once, as the projected
    ``_keep`` column, and filters on ``when(_nd >= 0, _keep)``: the
    nondeterministic ``_nd`` keeps Catalyst from pushing the predicate
    below the projection, where FilterExec (no subexpression
    elimination) would re-run every ``regexp_count`` per WHEN branch.
    ``regexp_count`` prints as its replacement,
    ``size(regexp_extract_all(...))``, so no Filter may hold a regexp."""
    plan = _plan(reg["curation_pipeline"](spark, SF))
    gate = re.search(r"Filter CASE WHEN \(_nd#\d+L? >= 0\) THEN _keep#\d+ END", plan)
    keep = re.search(r"\) AS _keep#\d+", plan)
    assert gate and keep
    # the tree prints a parent before its children
    assert gate.start() < plan.rindex("Project [", 0, keep.start()) < keep.start()
    filters = re.findall(r"Filter (.*)", plan)
    assert filters and not any("regexp" in f for f in filters)
