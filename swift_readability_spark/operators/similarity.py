"""Similarity search over the ``embeddings`` table.

Brute-force cosine top-k is the correctness baseline; the IVF variant
(coarse centroids as a partition prune) is the scale path: at 10^9+
vectors the centroid table is tiny (collected driver-side, the argmax
assignment is one Arrow kernel) and only the probed cells are scored —
the same plan shape Spark would execute cluster-wide with the cell as
partition key.  Every exact rerank (brute force, IVF, hyperplane LSH,
``knn_join``) scores in the one query-cosine kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from .common import floor_round, fround, read
from .kernels import (
    collect_within,
    embedding_matrix,
    fold_cosines,
    fold_dot,
    map_batches,
)

QUERY_VEC_ID = 0
TOP_K = 10


def _query_cosine(q_ids, Q, keep=None):
    """map_batches kernel factory: per corpus vector, the exact cosine
    against each collected query (ids ``q_ids``, rows of ``Q``) —
    ``fold_dot`` == the sequential ``aggregate(zip_with(...))`` fold
    bit-for-bit.  A batch's output holds its rows once per query, query
    by query; null embeddings get a null cosine (and are never
    divided).  ``keep(X)``, when given, is a boolean row mask over the
    batch's float64 matrix: only the non-null rows it keeps are scored,
    every other row is dropped (the hyperplane probe)."""

    def query_cosine(batch):
        X, valid = embedding_matrix(batch.column("embedding"), Q.shape[1])
        rows = np.arange(batch.num_rows)
        if keep is not None:
            rows = np.flatnonzero(valid & keep(X))
            X, valid = X[rows], valid[rows]
        cos = fold_cosines(X, valid, Q)
        rows = np.tile(rows, len(q_ids))
        return {
            "q_id": np.repeat(np.asarray(q_ids, dtype=np.int64), len(X)),
            "vec_id": batch.column("vec_id").take(rows),
            "label": batch.column("label").take(rows),
            "cosine_raw": np.ma.masked_array(
                cos.T.ravel(), mask=np.tile(~valid, len(q_ids))
            ),
        }

    return query_cosine


def _dense_rows(tbl, key, vectors, what):
    """(keys, matrix) of a collected table whose ``vectors`` column must
    hold no null row (query vectors, centroids)."""
    X, valid = embedding_matrix(tbl.column(vectors))
    if not valid.all():
        raise ValueError(f"{what}: null vector")
    return tbl.column(key).to_pylist(), X


def _query_vecs(e, pred, cap):
    """(q_ids, Q): the collected query rows — the same rows every prior
    plan collected inside ``F.broadcast(q)``; more than ``cap`` (the
    caller's query count) raises."""
    tbl = collect_within(
        e.filter(pred).select("vec_id", "embedding"), cap, "ANN query vectors"
    )
    return _dense_rows(tbl, "vec_id", "embedding", "ANN query vectors")


def _scored_against_queries(e, queries, corpus_pred, keep=None):
    return map_batches(
        e.filter(corpus_pred).select("vec_id", "label", "embedding"),
        _query_cosine(*queries, keep),
        "q_id bigint, vec_id bigint, label int, cosine_raw double",
    )


def _top_k(scored):
    """The shared ANN tail: rank by the RAW cosine (identical IEEE folds
    in both engines), ties by ascending vec_id, TakeOrdered; floor-based
    rounding is output-only (round() is engine-divergent on doubles —
    common.floor_round)."""
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
        .limit(TOP_K)
        .select(
            "vec_id",
            "label",
            floor_round(F.col("cosine_raw"), 4).alias("cosine"),
        )
    )


def ann_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-10 neighbours of vec_id=0 (single scan +
    TakeOrdered — no shuffle of the corpus).  The per-row cosine is the
    Arrow kernel's exact fold; ordering/limit/rounding stay in the JVM
    plan."""
    e = read(spark, sf_dir, "embeddings")
    queries = _query_vecs(e, F.col("vec_id") == QUERY_VEC_ID, 1)
    return _top_k(
        _scored_against_queries(e, queries, F.col("vec_id") != QUERY_VEC_ID)
    )


_D_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)
_D_NORM = "sqrt(list_reduce(list_transform({v}, x -> x * x), (x, y) -> x + y))"

ANN_BRUTE_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT emb AS qvec FROM e WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       floor({_D_DOT.format(a='emb', b='qvec')}
             / ({_D_NORM.format(v='emb')} * {_D_NORM.format(v='qvec')})
             * 10000 + 0.5) / 10000 AS cosine
FROM e, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY {_D_DOT.format(a='emb', b='qvec')}
         / ({_D_NORM.format(v='emb')} * {_D_NORM.format(v='qvec')}) DESC,
         vec_id ASC
LIMIT {TOP_K}
"""


# -- scale-derived IVF geometry (VERDICT r05 item 4) ------------------------
# k = recommended_ivf_cells(n) ~ sqrt(n): per-probe scan cost (n/k
# rows) and centroid-probe cost (k rows) balance at sqrt(n) — the
# standard IVF sizing.  Floored so an average cell keeps >=
# MIN_CELL_ROWS vectors (below that a centroid is noise and P probes
# cover most of the corpus anyway), capped so the broadcast centroid
# table stays broadcast-sized (65536 cells x 64 dims x 8 B ~ 34 MB).
# At 10^9 vectors: min(31623, 2e7, 65536) = 31623 cells — a ~16 MB
# broadcast, probe fraction P/k ~ 1e-4 of the corpus.  Growth +
# recall are pinned by tests/test_similarity.py.
MIN_CELL_ROWS = 50
MAX_IVF_CELLS = 65536


def recommended_ivf_cells(
    n_vectors: int,
    min_cell_rows: int = MIN_CELL_ROWS,
    max_cells: int = MAX_IVF_CELLS,
) -> int:
    """~sqrt(n) IVF cell count, budget-guarded (the similarity-search
    sibling of dedup.recommended_band_bits).  floor(IEEE sqrt) matches
    the oracle's SQL floor(sqrt(n)) exactly for any feasible corpus
    size (both are the correctly-rounded double sqrt)."""
    import math

    if n_vectors <= 1:
        return 1
    return max(
        1,
        min(
            int(math.floor(math.sqrt(float(n_vectors)))),
            n_vectors // min_cell_rows,
            max_cells,
        ),
    )


# the oracle derives the SAME k from the data (the registry SQL is
# static across scale factors, so k cannot be inlined as a literal)
_K_DUCK = (
    f"greatest(1, least(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT),"
    f" count(*) // {MIN_CELL_ROWS}, {MAX_IVF_CELLS}))"
)

# portable 60-bit hash ranks the seed choice; the hyperplane signature
# kernel is the near-dup operators' (dedup.py helpers)
from .dedup import _duck_hash60, _hyperplane_sigs, _spark_hash60  # noqa: E402

_SEED_H_SPARK = _spark_hash60("CAST(vec_id AS STRING)")
_SEED_H_DUCK = _duck_hash60("CAST(vec_id AS VARCHAR)")


def _seed_centroid_rows(e, k: int):
    """The k hash-ranked seed vectors as driver-side (cell ids,
    centroid matrix).  The collect is broadcast-class by construction:
    the OLD plan already collected this exact table to the driver inside
    ``F.broadcast(cents_arr)`` — k ~ sqrt(n) rows x dim doubles (~16 MB
    at 10^9 vectors), bounded by MAX_IVF_CELLS."""
    from pyspark.sql import Window

    seeds = (
        e.selectExpr(
            "vec_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid",
            f"{_SEED_H_SPARK} AS _h",
        )
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    # row_number over the k-row seed table only (single tiny partition)
    w = Window.orderBy("_h", "vec_id")
    seeds = (
        seeds.withColumn("cell", (F.row_number().over(w) - 1).cast("int"))
        .select("cell", "centroid")
    )
    return _collect_centroid_rows(seeds)


def _collect_centroid_rows(cents_df):
    """(cell ids, centroid matrix) of a ``_cell_centroids`` output,
    collected driver-side and cell-sorted.  Same broadcast-class size
    argument as ``_seed_centroid_rows`` (at most ``MAX_IVF_CELLS`` rows;
    more raises) — this is the table every prior plan shipped through
    ``F.broadcast``; collecting it instead lets the argmax assignment
    run as a numpy kernel rather than an interpreted
    higher-order-function chain."""
    tbl = collect_within(
        cents_df.select("cell", "centroid"), MAX_IVF_CELLS, "IVF centroid table"
    )
    return _dense_rows(tbl.sort_by("cell"), "cell", "centroid", "IVF centroid table")


def _assign_kernel(e, cents):
    """argmax-cosine cell assignment as ONE mapInArrow stage
    (optimization guide §4.2): the JVM form ran
    ``array_max(transform(cents, ...))`` — higher-order functions are
    CodegenFallback, so every (vector, cell) pair paid an interpreted
    64-element fold (measured 47 s for 20k vectors x 141 cells at
    local[32]; this kernel: < 1 s).

    Bit-exactness contract (the oracle SQL is unchanged): every cosine
    term is a ``fold_dot``, which reproduces the sequential left-fold
    of ``aggregate(zip_with(...))`` exactly.  The argmax update
    iterates cells in ascending order requiring a STRICT improvement,
    which reproduces the ``max(struct(cc, -cell))`` tie-break (lowest
    cell wins equal cosines) and Spark's NaN-greatest double ordering
    (the isnan clause).  Null embeddings yield null cells, matching
    ``transform(NULL) -> NULL`` propagation (they are never divided)."""
    bc = e.sparkSession.sparkContext.broadcast(cents)
    dtypes = dict(e.dtypes)
    schema = (
        f"vec_id {dtypes['vec_id']}, label {dtypes['label']},"
        f" embedding {dtypes['embedding']}, cell int"
    )

    def assign_cell(batch):
        cell_ids, C = bc.value
        X, valid = embedding_matrix(batch.column("embedding"), C.shape[1])
        cos = fold_cosines(X, valid, C)
        best_cc = cos[:, 0]
        best_cell = np.full(len(X), cell_ids[0], dtype=np.int64)
        for j in range(1, len(cell_ids)):
            cc = cos[:, j]
            better = (cc > best_cc) | (np.isnan(cc) & ~np.isnan(best_cc))
            best_cell = np.where(better, cell_ids[j], best_cell)
            best_cc = np.where(better, cc, best_cc)
        return {"cell": np.ma.masked_array(best_cell, mask=~valid)}

    return map_batches(e.select("vec_id", "label", "embedding"), assign_cell, schema)


def _seed_assignment(e, k: int):
    """Initial IVF assignment: the k hash-ranked vectors (deterministic,
    engine-portable, geometry-aware — seeds are actual corpus points,
    the standard k-means init) become cells 0..k-1; every vector joins
    its argmax-cosine seed.  The seed pick is a k-row TakeOrdered; the
    assignment is the Arrow kernel — no shuffle of the corpus."""
    return _assign_kernel(e, _seed_centroid_rows(e, k))


def _cell_centroids(assigned):
    """(cell, centroid, n_members) — exact decimal per-dimension sums,
    mean via an identical double division + floor-round to 4 dp so
    Spark and DuckDB produce bit-identical centroids (avg(decimal)
    returns decimal in Spark but DOUBLE in DuckDB — not portable)."""
    return (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("v", F.col("v").cast("decimal(20,10)"))
        .groupBy("cell", "pos")
        .agg(
            F.expr(
                fround("CAST(sum(v) AS DOUBLE) / CAST(count(v) AS DOUBLE)", 4)
            ).alias("mean_v"),
            F.count("*").alias("_cnt"),
        )
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mean_v))), s -> s.mean_v)"
            ).alias("centroid"),
            # every pos of a cell counts the same members
            F.max("_cnt").cast("bigint").alias("n_members"),
        )
    )


# shared oracle CTE fragments: seed pick + argmax assignment
_SEEDS_DUCK = f"""
kk AS (SELECT {_K_DUCK} AS k FROM e),
ranked AS (
  SELECT vec_id, emb,
         row_number() OVER (ORDER BY {_SEED_H_DUCK}, vec_id) AS rn
  FROM e
),
seeds AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cell, emb AS centroid
  FROM ranked, kk WHERE rn <= kk.k
)"""

_ASSIGN_DUCK = """
SELECT a.vec_id, v.label, v.emb, a.cell
FROM (
  SELECT v.vec_id, c.cell,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_reduce(list_transform(range(1, len(v.emb) + 1),
                                               i -> v.emb[i] * c.centroid[i]),
                                (x, y) -> x + y)
                    / (sqrt(list_reduce(list_transform(v.emb, x -> x * x), (x, y) -> x + y))
                       * sqrt(list_reduce(list_transform(c.centroid, x -> x * x), (x, y) -> x + y)))
                    DESC, c.cell ASC
         ) AS rn
  FROM e v, {cents} c
) a
JOIN e v USING (vec_id)
WHERE a.rn = 1
"""

_CENTS_DUCK = """
SELECT cell, list(mean_v ORDER BY pos) AS centroid, max(cnt) AS n_members
FROM (
  SELECT cell, pos,
         floor(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
               / CAST(count(v) AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_v,
         count(v) AS cnt
  FROM (SELECT cell, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM {src})
  GROUP BY cell, pos
)
GROUP BY cell
"""


def ivf_centroids(spark, sf_dir):
    """Coarse quantizer over SCALE-DERIVED cells: k =
    recommended_ivf_cells(n) hash-ranked seed vectors, one argmax
    assignment pass, exact-decimal per-cell means.  The driver-side
    count that sizes k is parquet-metadata-only at scale (and the one
    permissible collect class — a scalar, not rows)."""
    e = read(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    k = recommended_ivf_cells(e.count())
    cents = _cell_centroids(_seed_assignment(e, k))
    return cents.selectExpr(
        "CAST(cell AS BIGINT) AS cell",
        "n_members",
        f"{fround('aggregate(centroid, 0D, (a, v) -> a + v)', 4)} AS centroid_sum",
    )


IVF_CENTROIDS_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
{_SEEDS_DUCK},
a0 AS ({_ASSIGN_DUCK.format(cents='seeds')}),
m AS ({_CENTS_DUCK.format(src='a0')})
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(n_members AS BIGINT) AS n_members,
       floor(list_reduce(centroid, (a, b) -> a + b) * 10000 + 0.5)
         / 10000 AS centroid_sum
FROM m
"""


# cells probed per query: single-probe IVF misses neighbours that sit
# just across a cell boundary; probing the top-P centroids is the
# standard recall fix (FAISS nprobe) and costs P/num_cells of the
# corpus scan instead of 1/num_cells — still a partition prune, never
# a full scan.  On the (weakly clustered) test embeddings recall@10
# vs brute force measures 0.1 at P=1 and 0.4-0.5 at P=3
# (tests/test_similarity.py pins the floor).
N_PROBES = 3


def _probe_cells(cents, qvec, n_probes: int) -> list:
    """Top-``n_probes`` cells by query cosine, computed driver-side over
    the (broadcast-class) collected centroids.  Replicates the JVM
    probe ordering exactly: the same sequential folds (``fold_dot`` ==
    ``aggregate(zip_with(...))``), DESC by cosine with NaN greatest
    (Spark double ordering), ties broken by ASC cell."""
    import math

    cell_ids, C = cents
    cc = fold_dot(C, qvec) / (np.sqrt(fold_dot(C, C)) * np.sqrt(fold_dot(qvec, qvec)))
    scored = sorted(
        zip(cell_ids, cc.tolist()),
        key=lambda t: (
            0 if math.isnan(t[1]) else 1,
            0.0 if math.isnan(t[1]) else -t[1],
            t[0],
        ),
    )
    return [cell for cell, _ in scored[:n_probes]]


def _probed_topk(e, assigned, cents, n_probes):
    """Exact top-k of the query over the top-``n_probes`` cells of
    ``assigned``: the probe pick and the rerank score the same
    collected query row."""
    queries = _query_vecs(e, F.col("vec_id") == QUERY_VEC_ID, 1)
    best = _probe_cells(cents, queries[1][0], n_probes)
    pred = F.col("cell").isin(best) & (F.col("vec_id") != QUERY_VEC_ID)
    return _top_k(_scored_against_queries(assigned, queries, pred))


def ann_ivf_topk(spark, sf_dir):
    """IVF-style search, multi-probe: rank the scale-derived coarse
    centroids (seed-assigned cells) by query cosine, scan the
    top-``N_PROBES`` cells, exact top-10 within the probed union.
    The probe ORDERING is row membership, so centroids come from the
    exact-decimal path (partition-order-proof).

    r07 shape: the assignment is the Arrow kernel; the centroid table
    (k ~ sqrt(n) rows, broadcast-class) is collected once and the probe
    pick runs driver-side, so the final scan filters on literal cell
    ids — the old plan re-executed the interpreted assignment subtree
    once per consumer (measured 151 s at 20k vectors; now ~5 s)."""
    e = read(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    k = recommended_ivf_cells(e.count())
    assigned = _seed_assignment(e, k)
    cents = _collect_centroid_rows(_cell_centroids(assigned))
    return _probed_topk(e, assigned, cents, N_PROBES)


ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
{_SEEDS_DUCK},
a0 AS ({_ASSIGN_DUCK.format(cents='seeds')}),
cent AS ({_CENTS_DUCK.format(src='a0')}),
q AS (SELECT emb AS qvec FROM e WHERE vec_id = {QUERY_VEC_ID}),
best AS (
  SELECT cell
  FROM cent, q
  ORDER BY {_D_DOT.format(a='centroid', b='qvec')}
           / ({_D_NORM.format(v='centroid')} * {_D_NORM.format(v='qvec')}) DESC,
           cell ASC
  LIMIT {N_PROBES}
)
SELECT a0.vec_id AS vec_id, a0.label AS label,
       floor({_D_DOT.format(a='a0.emb', b='qvec')}
             / ({_D_NORM.format(v='a0.emb')} * {_D_NORM.format(v='qvec')})
             * 10000 + 0.5) / 10000 AS cosine
FROM a0 JOIN best USING (cell), q
WHERE a0.vec_id != {QUERY_VEC_ID}
ORDER BY {_D_DOT.format(a='a0.emb', b='qvec')}
         / ({_D_NORM.format(v='a0.emb')} * {_D_NORM.format(v='qvec')}) DESC,
         vec_id ASC
LIMIT {TOP_K}
"""


QUERIES = {
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTE_SQL),
    "ivf_centroids": (ivf_centroids, IVF_CENTROIDS_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
}


# -- refined IVF: k-means iterations on top of the seed assignment ----------
# Raw seed-vector cells are weak; k-means refinement passes re-shape
# the cells around the actual vector geometry and lift recall@10 at
# P=N_PROBES_REFINED (floor-pinned in tests/test_similarity.py).
# Each pass is shuffle-light at scale: the centroid table (k rows)
# collapses to ONE broadcast array row, and the argmax assignment is a
# single whole-stage-codegen projection per vector — no per-iteration
# shuffle of the corpus; only the k-row centroid recompute aggregates
# (posexplode + decimal mean, exact and engine-portable).  k =
# recommended_ivf_cells(n) ~ sqrt(n), same plan at 10^9 vectors.
KMEANS_ITERS = 2
# Probe budget vs recall, measured on the test embeddings (weakly
# clustered — the query's true neighbours span six labels, so recall
# roughly tracks the scanned fraction P*(n/k)/n): at the floor-test
# scale (n=500, k=10) P=4 measures 0.6-0.7, P=6 measures 0.9 —
# 0.8-floor-pinned in tests/test_similarity.py.  On a genuinely
# clustered corpus (the 100-TB case) neighbours concentrate in a few
# cells and P stays fixed while k grows ~sqrt(n), giving the sublinear
# scan IVF exists for; on weak clusters P is the recall dial and must
# be tuned to the target.
N_PROBES_REFINED = 6


def ann_ivf_refined_topk(spark, sf_dir):
    """IVF with k-means-refined cells: hash-ranked seed-vector init
    (scale-derived k), two refinement passes (broadcast-array argmax
    assignment), multi-probe top-``N_PROBES_REFINED`` search, exact
    rerank."""
    e = read(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    k = recommended_ivf_cells(e.count())
    assigned = _seed_assignment(e, k)
    for _ in range(KMEANS_ITERS):
        # r07: each refinement pass collects the k-row centroid table
        # (broadcast-class — the old plan collected the same table
        # inside F.broadcast) and re-assigns via the Arrow kernel.
        # This also CUTS THE LINEAGE per pass: the old lazy chain
        # re-executed every earlier interpreted assignment once per
        # consumer (the whole query measured 250 s at 20k vectors;
        # now ~8 s).
        cents = _collect_centroid_rows(_cell_centroids(assigned))
        assigned = _assign_kernel(e, cents)
    cents = _collect_centroid_rows(_cell_centroids(assigned))
    return _probed_topk(e, assigned, cents, N_PROBES_REFINED)


def _refined_sql() -> str:
    """DuckDB oracle: same arithmetic, expressed with unnest +
    row_number (the oracle needn't be the scale shape — values must
    match, plans needn't).  Chain mirrors the Spark loop exactly:
    seed-assign a0, KMEANS_ITERS x (cents -> reassign), final cents,
    probe, scan."""
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
{_SEEDS_DUCK},
a0 AS ({_ASSIGN_DUCK.format(cents='seeds')}),
c0 AS ({_CENTS_DUCK.format(src='a0')}),
a1 AS ({_ASSIGN_DUCK.format(cents='c0')}),
c1 AS ({_CENTS_DUCK.format(src='a1')}),
a2 AS ({_ASSIGN_DUCK.format(cents='c1')}),
c2 AS ({_CENTS_DUCK.format(src='a2')}),
q AS (SELECT emb AS qvec FROM e WHERE vec_id = {QUERY_VEC_ID}),
best AS (
  SELECT cell FROM c2, q
  ORDER BY {_D_DOT.format(a='centroid', b='qvec')}
           / ({_D_NORM.format(v='centroid')} * {_D_NORM.format(v='qvec')}) DESC,
           cell ASC
  LIMIT {N_PROBES_REFINED}
)
SELECT a2.vec_id AS vec_id, a2.label AS label,
       floor({_D_DOT.format(a='a2.emb', b='qvec')}
             / ({_D_NORM.format(v='a2.emb')} * {_D_NORM.format(v='qvec')})
             * 10000 + 0.5) / 10000 AS cosine
FROM a2 JOIN best USING (cell), q
WHERE a2.vec_id != {QUERY_VEC_ID}
ORDER BY {_D_DOT.format(a='a2.emb', b='qvec')}
         / ({_D_NORM.format(v='a2.emb')} * {_D_NORM.format(v='qvec')}) DESC,
         vec_id ASC
LIMIT {TOP_K}
"""


QUERIES["ann_ivf_refined_topk"] = (ann_ivf_refined_topk, _refined_sql())


# -- random-hyperplane LSH (vector SimHash) --------------------------------
# 8 fixed hyperplanes over the 64-dim embedding space, generated once
# with a fixed seed and embedded as literals so the signature is
# bit-identical in Spark and DuckDB.  sig(v) = sum_b [dot(v, h_b) > 0] << b.
N_HYPERPLANES = 8
HAMMING_PROBE = 2  # probe buckets within this signature distance
HYPERPLANES = [[0.7365, -0.0621, 0.8884, 0.7145, -0.4263, 0.4858, 0.4365, 0.6067, -0.7055, 0.6536, -0.0296, -0.3441, 0.5848, -0.2013, -0.8753, -0.7416, -0.6441, 0.8135, 0.6785, 0.2722, 0.9089, 0.1707, -0.1778, -0.711, -0.444, 0.0692, 0.5585, 0.3409, -0.3735, 0.2463, -0.8672, -0.9268, 0.1903, -0.2007, 0.055, -0.1612, 0.1238, -0.2765, -0.9416, -0.5214, 0.0973, 0.1842, 0.3106, -0.828, 0.8538, -0.8227, -0.7249, 0.5953, -0.6949, -0.8764, -0.5709, 0.7055, -0.5384, 0.5204, 0.0343, -0.583, 0.1071, -0.9207, -0.0625, 0.9392, -0.4703, -0.5205, 0.252, -0.7111], [0.37, -0.4085, 0.5064, -0.7508, 0.8085, -0.0018, 0.4597, 0.1812, 0.4294, -0.2736, 0.3493, -0.3196, 0.6504, -0.8396, 0.7577, 0.0501, 0.6398, -0.7731, -0.8745, 0.2875, -0.4029, -0.6932, -0.3498, -0.4242, -0.8997, 0.466, -0.3191, 0.0691, 0.7541, 0.0123, 0.1235, 0.411, 0.7389, -0.4506, -0.7239, 0.2681, 0.0013, 0.9776, -0.8192, 0.6357, -0.3445, 0.7708, -0.5011, 0.0955, 0.7976, -0.5414, -0.2525, 0.7619, -0.2599, 0.9876, 0.3759, -0.4238, -0.3402, -0.0339, 0.5613, -0.6161, 0.8994, -0.1885, -0.861, -0.004, 0.4353, 0.3694, -0.8534, -0.0851], [0.6719, 0.7965, -0.2031, 0.8464, -0.7394, -0.2076, 0.9846, 0.2607, 0.542, -0.995, 0.658, -0.8968, 0.8481, -0.6502, 0.6697, -0.2585, -0.8899, 0.6619, 0.2018, -0.0824, 0.0433, -0.2809, 0.6006, 0.775, -0.0943, 0.3393, 0.1361, 0.3523, -0.9271, -0.7312, 0.3688, -0.1568, 0.3641, 0.5675, -0.3906, -0.3015, -0.2842, 0.3995, -0.2414, -0.3102, -0.2097, 0.0655, 0.497, 0.2147, -0.175, 0.3788, 0.6697, -0.6703, 0.7886, 0.9276, 0.1487, -0.7653, -0.4774, -0.4945, -0.0627, -0.0091, -0.0041, 0.1604, 0.1823, -0.6817, 0.305, 0.5042, -0.0069, -0.3492], [0.697, -0.9418, -0.576, 0.3682, 0.5728, -0.5462, -0.5745, 0.582, -0.1203, -0.4063, -0.9655, 0.3896, 0.6062, 0.7049, 0.4794, -0.2379, 0.5861, -0.3678, -0.8527, -0.652, 0.0925, -0.5546, 0.6803, 0.977, -0.7073, -0.1907, -0.0708, 0.7486, -0.6386, 0.8216, -0.7689, 0.1142, -0.1878, -0.9024, -0.4171, 0.2993, -0.6177, 0.6912, -0.5319, 0.5924, 0.1677, 0.6355, 0.3613, 0.4044, 0.4099, -0.4232, -0.4756, 0.8719, -0.0222, -0.6914, -0.0318, 0.4632, 0.772, 0.6523, 0.7372, 0.6516, 0.7974, -0.8675, 0.2565, -0.1686, -0.2396, -0.0161, -0.2559, 0.1377], [-0.974, 0.2182, -0.0209, -0.6375, -0.5112, 0.0069, -0.9267, -0.1019, -0.0736, -0.7268, -0.2528, -0.76, 0.3039, -0.5349, -0.4627, -0.4427, 0.2219, -0.116, -0.8944, 0.4516, -0.3465, 0.2906, 0.329, -0.6915, -0.0172, 0.9029, 0.8184, 0.4404, 0.2455, -0.5276, -0.9178, 0.3848, 0.9783, -0.775, 0.1399, 0.3226, -0.3738, 0.4983, 0.0188, 0.208, 0.26, 0.9287, 0.6766, 0.0629, -0.1998, -0.8456, -0.2984, 0.577, 0.4299, 0.3745, -0.3692, -0.002, -0.0293, -0.1985, -0.5297, 0.9594, 0.2235, -0.0862, 0.8388, -0.196, -0.4695, 0.7747, -0.3652, 0.6988], [0.2446, 0.9413, -0.2064, 0.3599, -0.4598, 0.08, 0.5828, -0.1664, -0.3897, 0.3244, -0.6105, 0.9716, -0.3483, 0.8225, 0.0818, 0.3011, 0.1746, 0.1867, -0.26, -0.9899, -0.8177, -0.6879, -0.8636, 0.545, -0.9741, 0.3292, 0.8157, -0.5144, -0.1987, -0.4821, -0.2037, -0.7652, 0.8371, 0.6711, -0.1347, 0.1108, -0.5012, -0.7804, 0.0935, -0.9444, -0.1023, 0.7337, 0.6051, 0.0036, 0.779, -0.0915, 0.0721, 0.988, -0.9279, -0.584, 0.5301, 0.5775, 0.6951, 0.2444, -0.6424, 0.7478, 0.3448, 0.6034, -0.175, 0.3195, 0.9871, -0.3366, 0.9211, 0.8195], [-0.278, 0.9312, -0.9536, -0.2126, -0.5415, -0.6414, 0.7903, 0.9639, 0.7282, -0.4499, -0.5408, 0.3188, -0.4658, 0.5905, -0.2472, -0.0326, -0.9026, 0.0272, -0.1213, 0.1966, -0.1424, -0.0158, -0.399, 0.1609, 0.3252, 0.1889, -0.9552, -0.5681, -0.8408, -0.4487, -0.4349, -0.2992, 0.4116, -0.046, -0.4883, 0.2429, 0.6173, 0.0157, -0.9893, -0.6861, -0.9937, 0.4912, -0.1476, -0.5102, -0.53, -0.2439, 0.3936, 0.7734, -0.2488, 0.6695, -0.3378, -0.5831, 0.6307, -0.9824, -0.8527, -0.8468, 0.3412, -0.0403, 0.402, 0.2783, 0.0899, -0.5714, 0.1891, 0.2763], [-0.6543, 0.8768, -0.4537, 0.6972, -0.1931, -0.8497, -0.5177, -0.1337, -0.2091, 0.6419, -0.7791, 0.9246, 0.5311, -0.1557, 0.3771, 0.0376, -0.1355, 0.6844, 0.4597, 0.1847, 0.9611, -0.507, -0.9323, -0.8449, -0.7752, 0.6214, -0.1342, -0.7058, 0.618, -0.7843, 0.2919, 0.9582, 0.6608, 0.4295, -0.2733, 0.9533, -0.5248, 0.9738, 0.2913, -0.3801, -0.1069, 0.9989, -0.0419, -0.9249, 0.5633, -0.1474, 0.7933, 0.7198, -0.3207, -0.5596, 0.8392, -0.4862, 0.177, -0.9821, 0.7241, -0.7661, -0.9912, 0.7001, -0.8158, -0.6114, -0.0736, 0.1385, 0.3147, 0.1735]]


# wide (32-plane) signature for corpus-scale near-dup blocking
# (dedup.embedding_neardup_pairs_wide): the extra 24 hyperplanes are
# generated once at import by a fixed-constant LCG (Knuth MMIX), so
# they are deterministic, dependency-free, and identical literals are
# embedded in both engines' SQL — same portability contract as the
# hand-pasted 8 above.
N_HYPERPLANES_WIDE = 32


def _lcg_hyperplanes(n: int, dim: int, seed: int) -> list[list[float]]:
    rows, x = [], seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(round((x >> 11) / float(1 << 53) * 2 - 1, 4))
        rows.append(row)
    return rows


WIDE_HYPERPLANES = HYPERPLANES + _lcg_hyperplanes(
    N_HYPERPLANES_WIDE - N_HYPERPLANES, 64, seed=0x5EED1E55
)


def _sig_expr_duck(vec: str, planes=None) -> str:
    terms = []
    for b, h in enumerate(planes if planes is not None else HYPERPLANES):
        arr = "[" + ", ".join(str(x) for x in h) + "]"
        dot = (
            f"list_reduce(list_transform(range(1, len({vec}) + 1),"
            f" i -> {vec}[i] * ({arr})[i]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _hyperplane_topk(spark, sf_dir, planes, near):
    """Exact top-k of the query over the corpus vectors whose hyperplane
    signature (``dedup._hyperplane_sigs`` over ``planes``) is
    ``near(sigs, qsig)`` the query's.  The query signature is computed
    driver-side from the collected query row; the corpus signatures are
    the scoring kernel's row mask, so the probe, the rerank and the
    TakeOrdered are one scan and one Arrow stage (no join, no shuffle).
    Candidates are pruned, never approximated: every returned cosine is
    the true value."""
    e = read(spark, sf_dir, "embeddings")
    queries = _query_vecs(e, F.col("vec_id") == QUERY_VEC_ID, 1)
    qsig = int(_hyperplane_sigs(queries[1], planes)[0])

    def keep(X):
        return near(_hyperplane_sigs(X, planes), qsig)

    return _top_k(
        _scored_against_queries(e, queries, F.col("vec_id") != QUERY_VEC_ID, keep)
    )


def _within_hamming_probe(sigs, qsig):
    """``bit_count(sig ^ qsig) <= HAMMING_PROBE`` per row."""
    x = sigs ^ qsig
    n = np.zeros(len(x), dtype=np.int64)
    for b in range(N_HYPERPLANES):
        n += (x >> b) & 1
    return n <= HAMMING_PROBE


def ann_hyperplane_topk(spark, sf_dir):
    """Label-free ANN blocking: random-hyperplane LSH (vector SimHash).
    The corpus is bucketed by an 8-bit signature; the query scans only
    buckets within Hamming distance HAMMING_PROBE of its own signature
    (37 of 256 cells) and exact-reranks by cosine.  This is the blocking
    that works when no IVF centroids / labels exist; at 10^9 vectors
    widen the signature (e.g. 16-24 bits) so each bucket stays small."""
    return _hyperplane_topk(spark, sf_dir, HYPERPLANES, _within_hamming_probe)


ANN_HYPERPLANE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         {_sig_expr_duck('CAST(embedding AS DOUBLE[])')} AS sig
  FROM embeddings
),
q AS (SELECT emb AS qvec, sig AS qsig FROM e WHERE vec_id = {{Q}}),
cand AS (
  SELECT vec_id, label, emb FROM e, q
  WHERE vec_id != {{Q}}
    AND bit_count(CAST(xor(e.sig, q.qsig) AS BIT)) <= {{P}}
)
SELECT vec_id, label,
       floor({_D_DOT.format(a='emb', b='qvec')}
             / ({_D_NORM.format(v='emb')} * {_D_NORM.format(v='qvec')})
             * 10000 + 0.5) / 10000 AS cosine
FROM cand, q
ORDER BY {_D_DOT.format(a='emb', b='qvec')}
         / ({_D_NORM.format(v='emb')} * {_D_NORM.format(v='qvec')}) DESC,
         vec_id ASC
LIMIT {{K}}
""".replace("{Q}", str(QUERY_VEC_ID)).replace("{P}", str(HAMMING_PROBE)).replace("{K}", str(TOP_K))

QUERIES["ann_hyperplane_topk"] = (ann_hyperplane_topk, ANN_HYPERPLANE_SQL)


# wide-signature ANN: the query-path twin of the corpus-scale dedup
# blocking (dedup.embedding_neardup_pairs_wide).  4 bands of 8 bits
# over the 32-bit signature: a candidate shares ANY band with the
# query, so recall tolerates up to 3 flipped signature bits
# (pigeonhole) vs the 8-bit probe's radius-2 — while scanning ~4/256
# of a diverse corpus vs 37/256.  At 10^9+ vectors widen the bands
# (2x16-bit halves — 1/32768 of the corpus, 1-flip tolerance), same
# band test.
ANN_WIDE_BAND_BITS = 8
N_ANN_WIDE_BANDS = 4
_ANN_WIDE_MASK = (1 << ANN_WIDE_BAND_BITS) - 1


def _wide_band_match(sig: str, qsig: str) -> str:
    return " OR ".join(
        f"((({sig} >> {b * ANN_WIDE_BAND_BITS}) & {_ANN_WIDE_MASK})"
        f" = (({qsig} >> {b * ANN_WIDE_BAND_BITS}) & {_ANN_WIDE_MASK}))"
        for b in range(N_ANN_WIDE_BANDS)
    )


def _shares_wide_band(sigs, qsig):
    """``_wide_band_match(sig, qsig)`` per row: any of the
    N_ANN_WIDE_BANDS bands of ANN_WIDE_BAND_BITS bits equal."""
    hit = np.zeros(len(sigs), dtype=bool)
    for b in range(N_ANN_WIDE_BANDS):
        s = b * ANN_WIDE_BAND_BITS
        hit |= ((sigs >> s) & _ANN_WIDE_MASK) == ((qsig >> s) & _ANN_WIDE_MASK)
    return hit


def ann_hyperplane_wide_topk(spark, sf_dir):
    """ANN with the 32-bit (32-hyperplane) signature, banded 4x8 bits:
    candidates share >= 1 band with the query — the band match is the
    scoring kernel's row mask (one corpus scan + TakeOrdered)."""
    return _hyperplane_topk(spark, sf_dir, WIDE_HYPERPLANES, _shares_wide_band)


def _ann_hyperplane_wide_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         {_sig_expr_duck('CAST(embedding AS DOUBLE[])', WIDE_HYPERPLANES)} AS sig
  FROM embeddings
),
q AS (SELECT emb AS qvec, sig AS qsig FROM e WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT vec_id, label, emb FROM e, q
  WHERE vec_id != {QUERY_VEC_ID}
    AND ({_wide_band_match('e.sig', 'q.qsig')})
),
scored AS (
  SELECT vec_id, label,
         {_D_DOT.format(a='emb', b='qvec')}
           / ({_D_NORM.format(v='emb')} * {_D_NORM.format(v='qvec')}) AS cosine_raw
  FROM cand, q
)
SELECT vec_id, label,
       floor(cosine_raw * 10000 + 0.5) / 10000 AS cosine
FROM scored
ORDER BY cosine_raw DESC, vec_id ASC
LIMIT {TOP_K}
"""


QUERIES["ann_hyperplane_wide_topk"] = (
    ann_hyperplane_wide_topk,
    _ann_hyperplane_wide_sql(),
)
