"""Deduplication operators over ``documents``: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Hashes are *portable*: ``bigint(first 8 hex chars of md5)`` — identical
in Spark (``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``CAST('0x'||substr(md5(x),1,8) AS BIGINT)``) so every stage is
oracle-checkable.  At 100 TB the same plans hold: shingle explode is a
map-side transform, MinHash is a hash aggregation on doc_id, and the
LSH band join replaces the quadratic pair scan with an equi-join on
(band, bucket) — the only shuffle keys are band buckets, which are
uniformly distributed by construction.
"""

from __future__ import annotations

import numpy as _np
from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import content_hash, floor_round, read, spread
from .kernels import (
    bounded_collect,
    collect_within,
    docs,
    embedding_matrix,
    fold_dot,
    h60,
    map_batches,
    map_docs,
    md5_u64,
    null_safe_i64,
    segments,
    shingles_for,
    tokenize_batch,
    vote32,
)

N_PERMS = 8
BAND_SIZE = 2
N_BANDS = N_PERMS // BAND_SIZE

# -- portable word/shingle prep (identical semantics in both engines) --
# r07: regexp_extract_all('[^ ]+') replaces filter(split(...), x<>'')
# — identical arrays (maximal non-space runs after the ASCII strip),
# but the filter() HOF ran interpreted per ELEMENT (CodegenFallback)
# while regexp_extract_all is one codegen call per row.
_SPARK_WORDS = (
    "regexp_extract_all(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ')),"
    " '[^ ]+', 0)"
)
_DUCK_WORDS = (
    "list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),"
    " ' +'), x -> x <> '')"
)

# Spark-side shingles/grams are COLLAPSE-PROOF: a lookahead regex over
# the normalized text (words joined by single spaces), not a lambda
# over a words array.  Catalyst's predicate/generate pushdown and
# CollapseProject freely inline a computed `words` column into lambda
# bodies, where every element evaluation re-runs the tokenization —
# O(n^2) per document (the mega-doc skew soak hung mllib_minhash_pairs
# and decontaminate for minutes; dedup_clusters inlined 260 copies).
# The regex form has no lambda, so inlining just duplicates a linear
# scan.  `norm` == concat_ws(' ', words) by construction.
_SPARK_NORM = (
    "trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ')),"
    " ' +', ' '))"
)


def _ngram_lookahead_re(n: int) -> str:
    """At each word start with >= n words remaining, capture the n-word
    gram in group 1 (zero-width lookahead -> overlapping windows)."""
    return "(?=(" + "[^ ]+ " * (n - 1) + "[^ ]+))[^ ]+"


# n>=3 words -> overlapping 3-grams; 1-2 words -> the whole text as one
# shingle; empty -> one empty shingle (same contract as the old
# words-array form, pinned by the oracles).
_SPARK_SHINGLES = (
    f"CASE WHEN norm RLIKE '^[^ ]+ [^ ]+ ' THEN"
    f" regexp_extract_all(norm, '{_ngram_lookahead_re(3)}', 1)"
    f" ELSE array(norm) END"
)
_DUCK_SHINGLES = (
    "CASE WHEN len(words) >= 3 THEN"
    " [words[i] || ' ' || words[i+1] || ' ' || words[i+2]"
    "  FOR i IN range(1, len(words) - 1)]"
    " ELSE [array_to_string(words, ' ')] END"
)


def _spark_hash(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def _duck_hash(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# 60-bit variant (15 hex chars, fits int64) for SHUFFLE KEYS standing in
# for long strings (chunks, n-grams): at corpus scale the shuffle row
# carries an 8-byte int instead of a 60+-char string, and 60 bits keeps
# birthday collisions negligible (~2^-18 at 10^6 distinct keys, where
# the 32-bit hash above would already collide).
def _spark_hash60(expr: str) -> str:
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _duck_hash60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized content; the canonical
    representative is the minimum doc_id (map-side partial agg; the
    only shuffle key is the content hash — no skew for real corpora)."""
    # r07: spread the single-split scan so the normalize+md5 projection
    # runs at cluster parallelism, not on one core (guide §2.5)
    return (
        docs(spark, sf_dir)
        .withColumn("content_hash", content_hash())
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS content_hash,
       count(*) AS cluster_size,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
"""


# universal-hash permutation constants: perm_k(h) = (A_k*h + B_k) mod P
# over the 32-bit base hash — one md5 per shingle instead of N_PERMS,
# identical arithmetic in both engines (fits in int64: A < 2^20,
# h < 2^32 -> A*h + B < 2^53)
_MINHASH_P = 4294967311  # prime > 2^32
_MINHASH_A = (998377, 811823, 651439, 527581, 423037, 342049, 276197, 223409)
_MINHASH_B = (12721, 29363, 47563, 65537, 83701, 104729, 122887, 141079)


# --- per-document Arrow kernels (kernels.map_docs; guide §4.2) ---------


def _simhash(ids, texts):
    words = tokenize_batch(texts)
    counts, bounds = segments(words)
    h = md5_u64(w for ws in words if ws for w in ws) >> _np.uint64(32)
    return {"simhash": null_safe_i64(vote32(h, counts, bounds), texts)}


def _simhash_wide(ids, texts):
    """fp_lo votes over md5 digest bytes 0-3, fp_hi over bytes 4-7 of
    the same md5 (hex chars 1-8 / 9-16)."""
    words = tokenize_batch(texts)
    counts, bounds = segments(words)
    h = md5_u64(w for ws in words if ws for w in ws)
    lo, hi = h >> _np.uint64(32), h & _np.uint64(0xFFFFFFFF)
    return {
        "fp_lo": null_safe_i64(vote32(lo, counts, bounds), texts),
        "fp_hi": null_safe_i64(vote32(hi, counts, bounds), texts),
    }


def _shingle_hash(ids, texts):
    """Per doc: the sorted 64-bit md5 prefixes of its distinct
    shingles, packed as one binary blob (compact collect for the
    candidate prefilter's broadcast table)."""
    return {
        "hs": [
            None if ws is None else _np.sort(md5_u64(set(shingles_for(ws)))).tobytes()
            for ws in tokenize_batch(texts)
        ]
    }


# popcount of every 16-bit value (high byte's plus low byte's); the
# uint8 per-pair sums hold up to 7 words (224 bits)
_POPCOUNT8 = _np.array([bin(i).count("1") for i in range(256)], dtype=_np.uint8)
_POPCOUNT16 = (_POPCOUNT8[:, None] + _POPCOUNT8[None, :]).ravel()
# pair slots one bucket's chunk of the pair matrix may hold
_HAMMING_CHUNK_SLOTS = 4_000_000


def _bucket_hamming(batch):
    """Per Hamming-band bucket: expand member pairs and keep those with
    XOR-popcount <= SIMHASH_MAX_HAMMING (== SIMHASH_WIDE_MAX_HAMMING:
    both widths use 4 bands), vectorized over the bucket's pair matrix.
    A member is a struct of ``doc_id`` and the fingerprint's 32-bit
    words (every other field); its Hamming distance is the sum of the
    per-word popcounts, and a word outside [0, 2^32) raises ValueError
    instead of wrapping.  Members arrive sorted (sort_array upstream),
    so emitted pairs keep doc_a < doc_b; members with a null word are
    skipped (their Hamming distance is null, so no such pair qualifies).

    r07 session 3 (measured: the synthetic corpus concentrates 200k
    banded rows into <1k buckets — 189M pair slots, max bucket 3404):
    the XOR runs in uint32 and popcount is two 16-bit-LUT gathers + add
    per word (the 8-bit-LUT uint64 view paid 4x the memory traffic);
    the pair matrix is row-CHUNKED to a bounded slot budget (a
    degenerate bucket cannot allocate an n^2 buffer); survivors are
    emitted by boolean indexing, not a per-pair Python loop (~3.3M
    qualifying pairs here)."""
    import numpy as np
    import pyarrow.compute as pc

    members = batch.column("members")
    flat = members.flatten()
    fields = dict(zip((f.name for f in flat.type), flat.flatten()))
    ids_all = fields.pop("doc_id").to_numpy(zero_copy_only=False)
    live_all = np.ones(len(flat), dtype=bool)
    words = np.zeros((len(flat), len(fields)), dtype=np.int64)
    for k, (name, col) in enumerate(fields.items()):
        live_all &= col.is_valid().to_numpy(zero_copy_only=False)
        words[:, k] = col.fill_null(0).to_numpy()
        bad = (words[:, k] < 0) | (words[:, k] >= 1 << 32)
        if bad.any():
            raise ValueError(
                f"fingerprint word {name}={words[bad, k][0]} is outside [0, 2^32)"
            )
    words = words.astype(np.uint32)
    lens = pc.list_value_length(members).fill_null(0).to_numpy()
    bounds = np.concatenate([[0], np.cumsum(lens)])
    out_a, out_b, out_h = [], [], []
    for start, end in zip(bounds[:-1], bounds[1:]):
        live = start + np.flatnonzero(live_all[start:end])
        n = len(live)
        if n < 2:
            continue
        ids_np, fps = ids_all[live], words[live]
        rows_per_chunk = max(_HAMMING_CHUNK_SLOTS // n, 1)
        for lo in range(0, n - 1, rows_per_chunk):
            hi = min(lo + rows_per_chunk, n - 1)
            hm = 0
            for k in range(fps.shape[1]):
                x = fps[lo:hi, None, k] ^ fps[None, :, k]
                hm = hm + _POPCOUNT16[x & np.uint32(0xFFFF)] + _POPCOUNT16[
                    x >> np.uint32(16)
                ]
            # upper triangle only: column index > global row index
            mask = hm <= SIMHASH_MAX_HAMMING
            cols = np.arange(n)[None, :]
            rows = np.arange(lo, hi)[:, None]
            mask &= cols > rows
            ri, ci = np.nonzero(mask)
            if len(ri):
                out_a.extend(ids_np[ri + lo].tolist())
                out_b.extend(ids_np[ci].tolist())
                out_h.extend(hm[ri, ci].tolist())
    return {"doc_a": out_a, "doc_b": out_b, "hamming": out_h}


def _shingle_h60(ids, texts):
    """Exploded (doc_id, n, sh_h) rows — the C-regex twin of
    ``explode(array_distinct(_SPARK_SHINGLES))`` + ``_spark_hash60``:
    per doc, one row per DISTINCT shingle carrying the distinct count
    and the shingle's 60-bit md5 int.  Null text explodes to nothing,
    matching ``explode(NULL)``."""
    out_ids, out_n, flat = [], [], []
    for did, ws in zip(ids, tokenize_batch(texts)):
        if ws is None:
            continue
        sh = list(dict.fromkeys(shingles_for(ws)))
        out_ids += [did] * len(sh)
        out_n += [len(sh)] * len(sh)
        flat += sh
    return {"doc_id": out_ids, "n": out_n, "sh_h": h60(flat)}


def _pair_hash_prefilter(spark, pairs, hs_map, keep):
    """Arrow prefilter over candidate (doc_a, doc_b) rows: intersect the
    two docs' sorted 64-bit shingle-hash sets from a broadcast side
    table and keep rows passing ``keep(c, na, nb)`` — a conservative
    (collision-slack) form of the exact string-set condition, so the
    tiny survivor set can be string-verified without ever shuffling
    per-pair arrays (guide §8: decisions ride keys).

    ``keep`` must be numpy-elementwise and MONOTONE NONDECREASING in
    ``c`` (both rules are linear in c): pairs for which ``keep(0, na,
    nb)`` already holds skip the intersect entirely, and the rest are
    counted in ONE vectorized sort/bincount sweep per batch — no
    per-pair Python loop (the intersect1d-per-pair form paid ~2 us of
    numpy fixed cost per candidate: ~10.7M candidates at 10x-sf0.1
    made the prefilter the whale of containment_pairs).  The sweep
    sorts a SINGLE int64 composite key (pair_index << 32 | high 32
    bits of the hash): truncating to 32 bits stays conservative —
    collisions (in-doc or cross-doc) can only INFLATE the count, and
    an inflated c can only KEEP more pairs for the exact string verify
    downstream, never drop one that qualifies — while halving the sort
    bandwidth of the ~130-element-per-pair intersect mass.

    The verdict stays MEMOIZED per pair within each task: candidate
    streams arrive pre-``distinct`` (so the dedup shuffle only carries
    survivors), and near-identical mega-docs can emit the same pair
    once per shared prefix shingle — tens of thousands of duplicates
    each (the skew soak caught exactly this class: 10 co-identical
    50k-shingle docs spun one task for 20+ minutes before the memo)."""
    bc = spark.sparkContext.broadcast(hs_map)
    dtypes = dict(pairs.dtypes)
    schema = f"doc_a {dtypes['doc_a']}, doc_b {dtypes['doc_b']}"
    pair_memo: dict = {}  # per task: each task unpickles its own copy

    def pair_hash_prefilter(batch):
        import numpy as np
        import pyarrow as pa

        ids_arr, offs, flat = bc.value
        m_ids = len(ids_arr)

        def size(idx):
            return offs[idx + 1] - offs[idx]

        def col_to_np(col):
            if ids_arr.dtype.kind in "iu":
                return col.to_numpy(zero_copy_only=False)
            # own width: forcing the map's '<U' width would truncate a
            # longer unknown id onto a known one
            return np.asarray(col.to_pylist())

        def idx_of(vals):
            if m_ids == 0:
                raise KeyError("candidate doc_id missing from hash map")
            ix = np.searchsorted(ids_arr, vals)
            bad = (ix >= m_ids) | (ids_arr[np.minimum(ix, m_ids - 1)] != vals)
            if bad.any():
                raise KeyError("candidate doc_id missing from hash map")
            return ix

        def gather_keys(idx):
            """(pair_index << 32 | h32) composite keys for the docs at
            ``idx`` — one sorted-once int64 stream per side."""
            lens = size(idx)
            total = int(lens.sum())
            rep = np.repeat(
                np.arange(len(idx), dtype=np.uint64) << np.uint64(32), lens
            )
            if total == 0:
                return rep
            base = np.repeat(offs[idx] - (np.cumsum(lens) - lens), lens)
            pos = np.arange(total, dtype=np.int64) + base
            # high 32 bits of the gathered slice only (a monotone map:
            # per-doc sortedness is preserved)
            return rep | (flat[pos] >> np.uint64(32))

        ia = idx_of(col_to_np(batch.column("doc_a")))
        ib = idx_of(col_to_np(batch.column("doc_b")))
        pk = ia * m_ids + ib
        uniq, inv = np.unique(pk, return_inverse=True)
        verdicts = np.empty(len(uniq), dtype=bool)
        unknown = []
        for j, key in enumerate(uniq.tolist()):
            v = pair_memo.get(key)
            if v is None:
                unknown.append(j)
            else:
                verdicts[j] = v
        if unknown:
            up = np.asarray(unknown, dtype=np.int64)
            ua, ub = uniq[up] // m_ids, uniq[up] % m_ids
            na, nb = size(ua), size(ub)
            cvec = np.zeros(len(up), dtype=np.int64)
            need = ~keep(cvec, na, nb)  # monotone: keep(0,..) => keep
            if need.any():
                ka, kb = ua[need], ub[need]
                # chunk by gathered-element budget: a batch full of
                # distinct mega-doc pairs must not materialize an
                # unbounded (pairs x shingles) buffer
                mass = np.cumsum(size(ka) + size(kb))
                counts = np.empty(len(ka), dtype=np.int64)
                lo = 0
                while lo < len(ka):
                    hi = int(np.searchsorted(mass, mass[lo] + 8_000_000, side="left"))
                    hi = max(hi, lo + 1)
                    keys = np.concatenate(
                        [gather_keys(ka[lo:hi]), gather_keys(kb[lo:hi])]
                    )
                    keys.sort()
                    dup = keys[1:] == keys[:-1]
                    counts[lo:hi] = np.bincount(
                        (keys[1:][dup] >> np.uint64(32)).astype(np.int64),
                        minlength=hi - lo,
                    )
                    lo = hi
                cvec[need] = counts
            kv = keep(cvec, na, nb)
            verdicts[up] = kv
            for key, v in zip(uniq[up].tolist(), kv.tolist()):
                pair_memo[key] = v
        mask = pa.array(verdicts[inv])
        return {c: batch.column(c).filter(mask) for c in ("doc_a", "doc_b")}

    return map_batches(pairs, pair_hash_prefilter, schema)


# broadcast bound of the prefilter's shingle-hash table (see below);
# above it the collect raises instead of exhausting the driver
SHINGLE_HASH_MAP_MAX_DOCS = 10_000_000


def _shingle_hash_map(spark, d):
    """(sorted doc_id vector, offsets, flat value vector) — every doc's
    sorted distinct 64-bit shingle-hash set, collected once and packed
    COLUMNAR for the broadcast: numpy buffers pickle as raw bytes, so
    the per-worker unpickle is C-speed instead of rebuilding a
    corpus-sized dict, and lookups are searchsorted.  ~8 B x
    shingles/doc x docs — broadcast-class to ``SHINGLE_HASH_MAP_MAX_DOCS``
    docs; band the candidate join past that."""
    import pyarrow.compute as pc

    tbl = collect_within(
        map_docs(spark, d, _shingle_hash, "hs binary"),
        SHINGLE_HASH_MAP_MAX_DOCS,
        "shingle-hash broadcast table",
    )
    tbl = tbl.filter(pc.is_valid(tbl["hs"])).sort_by("doc_id")
    hs = tbl.column("hs").to_pylist()
    ids_arr = _np.array(tbl.column("doc_id").to_pylist())
    lens = _np.fromiter((len(b) // 8 for b in hs), dtype=_np.int64, count=len(hs))
    offs = _np.zeros(len(hs) + 1, dtype=_np.int64)
    _np.cumsum(lens, out=offs[1:])
    flat = _np.frombuffer(b"".join(hs), dtype=_np.uint64)
    return ids_arr, offs, flat


def _shingle(ids, texts):
    """Distinct 3-word shingle STRING arrays per doc — the C-regex twin
    of ``array_distinct(_SPARK_SHINGLES)`` (mllib_minhash_pairs needs
    the strings themselves for HashingTF + the exact verify, not their
    hashes).  dict.fromkeys preserves first occurrence exactly like
    array_distinct; null text yields a null array."""
    return {
        "shingles": [
            None if ws is None else list(dict.fromkeys(shingles_for(ws)))
            for ws in tokenize_batch(texts)
        ]
    }


def _minhash(ids, texts):
    a = _np.array(_MINHASH_A, dtype=_np.uint64)
    b = _np.array(_MINHASH_B, dtype=_np.uint64)
    p = _np.uint64(_MINHASH_P)
    shingles = [
        None if ws is None else shingles_for(ws) for ws in tokenize_batch(texts)
    ]
    n_sh, starts = segments(shingles)
    h = md5_u64(s for sh in shingles if sh for s in sh) >> _np.uint64(32)
    live = n_sh > 0  # only null-text docs have no shingles
    out = {}
    for k in range(N_PERMS):
        mins = _np.zeros(len(texts), dtype=_np.int64)
        if len(h):
            perm = (a[k] * h + b[k]) % p
            mins[live] = _np.minimum.reduceat(perm, starts[:-1][live]).astype(_np.int64)
        out[f"mh{k}"] = null_safe_i64(mins, texts)
    return out


def minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 universal-hash permutations of a single
    portable 32-bit shingle hash) over 3-word shingles.

    Round-7 shape (guide §4.2): one zero-shuffle mapInArrow stage —
    C-regex tokenization, hashlib md5, numpy ``minimum.reduceat`` per
    permutation.  Values are bit-identical to the oracle's array form
    (integer arithmetic over the same md5 prefix); 5.8 s -> ~1 s at
    sf1.0/local[32].  Only (doc_id, text) crosses the Python boundary
    (guide §4.1: project before the opaque stage)."""
    schema = ", ".join(f"mh{k} bigint" for k in range(N_PERMS))
    return map_docs(spark, sf_dir, _minhash, schema)


def _minhash_sql() -> str:
    mins = ",\n       ".join(
        f"list_min(list_transform(hashes, h ->"
        f" ({_MINHASH_A[k]} * h + {_MINHASH_B[k]}) % {_MINHASH_P})) AS mh{k}"
        for k in range(N_PERMS)
    )
    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
s AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM w),
h AS (SELECT doc_id, list_transform(shingles, s -> {_duck_hash('s')}) AS hashes FROM s)
SELECT doc_id,
       {mins}
FROM h
"""


# in-bucket pair expansion is O(|bucket|^2): one degenerate bucket
# (boilerplate/empty pages all hashing together) is a quadratic bomb at
# 10^12 docs.  Buckets above the cap are DROPPED from pair generation —
# members of a degenerate bucket are near-identical boilerplate better
# handled by exact dedup — and the drop is never silent:
# ``lsh_bucket_stats`` is the audit query reporting kept/dropped bucket
# and pair counts, itself DuckDB-oracled.
MAX_LSH_BUCKET = 64


def _banded(spark, sf_dir):
    """(doc_id, band, bucket) rows — shared by pairs + stats."""
    sig = minhash_signatures(spark, sf_dir)
    bands = []
    for b in range(N_BANDS):
        cols = [f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("bucket"),
            )
        )
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


_LSH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band,"
    f" md5(concat_ws('_', mh{b * BAND_SIZE}, mh{b * BAND_SIZE + 1})) AS bucket FROM sig"
    for b in range(N_BANDS)
)


def lsh_candidate_pairs(spark, sf_dir):
    """LSH banding: docs sharing any (band, bucket) become candidate
    pairs — the scale path that avoids the O(n^2) similarity join.

    Single-pass shape: one shuffle on (band, bucket) + in-bucket pair
    expansion, instead of a self-join (which would recompute the
    MinHash pipeline once per join side).  Bucket keys are uniform by
    construction so the shuffle has no skew; the ``MAX_LSH_BUCKET`` cap
    bounds the quadratic in-bucket expansion (audited, not silent —
    see ``lsh_bucket_stats``).

    The cap is applied BEFORE any member list is materialized: a
    window ``count`` over (band, bucket) sizes each bucket first (the
    window's external sorter spills, it never holds a bucket in an agg
    buffer), over-cap rows are filtered out, and only then does
    ``collect_set`` run — so a degenerate 10^8-member boilerplate
    bucket costs a spill-safe sort, not an executor OOM.  The window
    and the groupBy share the (band, bucket) hash partitioning, so
    this is still exactly one Exchange (pinned in tests/test_plans.py).
    """
    banded = _banded(spark, sf_dir)
    sized = banded.withColumn(
        "n", F.count("*").over(Window.partitionBy("band", "bucket"))
    )
    buckets = (
        sized.filter((F.col("n") > 1) & (F.col("n") <= MAX_LSH_BUCKET))
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)), y ->"
                " struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _lsh_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_LSH_BANDS_SQL}),
ok AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {MAX_LSH_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band, bucket) JOIN ok USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""


def lsh_bucket_stats(spark, sf_dir):
    """Audit for the ``MAX_LSH_BUCKET`` cap ("no silent caps"): per
    band, how many buckets/pairs were kept vs dropped.  At 10^12 docs
    this is the dashboard row an operator watches — a growing
    ``dropped_pairs`` means boilerplate is flooding a bucket and exact
    dedup should run first."""
    banded = _banded(spark, sf_dir)
    sizes = banded.groupBy("band", "bucket").agg(
        F.countDistinct("doc_id").alias("n")
    )
    pair_count = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    kept = (F.col("n") > 1) & (F.col("n") <= MAX_LSH_BUCKET)
    return (
        sizes.groupBy("band")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_buckets"),
            F.sum(F.when(F.col("n") > MAX_LSH_BUCKET, 1).otherwise(0))
            .cast("long")
            .alias("dropped_buckets"),
            F.sum(F.when(kept, pair_count).otherwise(0)).cast("long").alias("kept_pairs"),
            F.sum(F.when(F.col("n") > MAX_LSH_BUCKET, pair_count).otherwise(0))
            .cast("long")
            .alias("dropped_pairs"),
            F.max("n").cast("long").alias("max_bucket"),
        )
        .orderBy("band")
    )


def _lsh_stats_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_LSH_BANDS_SQL}),
sizes AS (
  SELECT band, bucket, count(DISTINCT doc_id) AS n
  FROM bands GROUP BY band, bucket
)
SELECT band,
       CAST(sum(CASE WHEN n BETWEEN 2 AND {MAX_LSH_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS kept_buckets,
       CAST(sum(CASE WHEN n > {MAX_LSH_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets,
       CAST(sum(CASE WHEN n BETWEEN 2 AND {MAX_LSH_BUCKET} THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS kept_pairs,
       CAST(sum(CASE WHEN n > {MAX_LSH_BUCKET} THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS dropped_pairs,
       CAST(max(n) AS BIGINT) AS max_bucket
FROM sizes
GROUP BY band
ORDER BY band
"""


def ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard — the VERIFY stage: computed only for LSH
    candidate pairs, never for the whole corpus.

    The pre-round-2 shape self-joined the full shingle table, which is
    a skew bomb at scale (stopword shingles like "of the and" are hot
    keys shared by millions of documents).  Now the candidate pairs
    from ``lsh_candidate_pairs`` (already bucket-capped) are joined —
    on the uniformly-distributed ``doc_id`` — to a per-doc distinct
    shingle-set table, and Jaccard is a per-pair array_intersect:
    work is O(|candidates| * |shingles per doc|), no shingle-keyed
    shuffle exists anywhere.  r07: the shingle-set table comes from the
    same C-regex Arrow kernel as mllib/containment (the JVM regex +
    array_distinct subtree ran once per join side)."""
    sets = map_docs(spark, sf_dir, _shingle, "shingles array<string>")
    cand = lsh_candidate_pairs(spark, sf_dir)
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
            "doc_b",
        )
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        # jaccard >= 0.2  <=>  6*common >= na+nb (exact integers, no
        # engine-divergent rounding in row membership); floor-based
        # rounding is output-only (common.floor_round)
        .filter(
            6 * F.col("common") >= F.size("sa") + F.size("sb")
        )
        .withColumn("jaccard", _jaccard_rounded())
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_rounded():
    """The verified pair's shingle Jaccard, floor-rounded to 4 dp."""
    return floor_round(
        F.col("common") / (F.size("sa") + F.size("sb") - F.col("common")), 4
    )


def _jaccard_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_LSH_BANDS_SQL}),
ok AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {MAX_LSH_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, bucket) JOIN ok USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
sets AS (SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS shingles FROM w),
j AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b,
       floor(common / (na + nb - common) * 10000 + 0.5) / 10000 AS jaccard
FROM j
WHERE 6 * common >= na + nb
"""


N_SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8
N_SIMHASH_BANDS = N_SIMHASH_BITS // SIMHASH_BAND_BITS  # 4 bands
SIMHASH_MAX_HAMMING = N_SIMHASH_BANDS - 1  # pigeonhole-exact radius

# loud-failure bound for a single Hamming band bucket, derived from the
# in-bucket PAIR expansion the bucket would cost (n*(n-1)/2), not raw
# member count (VERDICT r03: a 100k-member bucket is far under any sane
# member cap yet already expands 5x10^9 pairs).  A bucket over the
# budget means the corpus needs exact dedup first (or wider bands) —
# the job fails with that message instead of OOMing an executor.
SIMHASH_BUCKET_PAIR_BUDGET = 10_000_000


def _members_for_pair_budget(budget: int) -> int:
    """Largest bucket size whose pair expansion n*(n-1)/2 fits budget."""
    import math

    return int((1 + math.sqrt(1 + 8 * budget)) / 2)


SIMHASH_GUARD_MAX = _members_for_pair_budget(SIMHASH_BUCKET_PAIR_BUDGET)  # ~4472


def _hamming_banded(fp, bands):
    """``fp`` (doc_id + fingerprint words) exploded to one row per
    (doc, band), with the band's index and value (``bands[b]``)."""
    structs = [
        F.struct(F.lit(b).alias("band"), v.alias("value"))
        for b, v in enumerate(bands)
    ]
    return fp.select(*fp.columns, F.explode(F.array(*structs)).alias("bb")).select(
        *fp.columns, "bb.band", "bb.value"
    )


def _hamming_band_pairs(fp, bands):
    """The Hamming-band join of both fingerprint widths: docs are
    equi-joined on (band, band value), and ``_bucket_hamming_batches``
    expands each bucket's member pairs and keeps those within the
    pigeonhole radius.

    NO bucket cap is allowed here — dropping a bucket would break the
    pigeonhole recall-1.0 guarantee — so instead of silently OOMing on
    a degenerate bucket, a window ``count`` sizes every bucket BEFORE
    any member list is collected and ``assert_true`` fails the job
    LOUDLY at ``SIMHASH_GUARD_MAX`` (read at call time) with the remedy
    in the message (run exact dedup first / widen the bands).  The
    guard sits in a ``filter`` so Catalyst cannot prune it away.

    r07 (guide §4.2): per-bucket pair expansion + Hamming filter in ONE
    Arrow kernel.  The lambda form materialized every in-bucket pair as
    an interpreted struct (~19M at 50k docs — avg bucket is
    n/2^band_bits) and ran DISTINCT on all of them before the hamming
    filter; the kernel XOR/popcounts the bucket matrix in numpy and
    emits only qualifying pairs, so the dedup shuffle carries the
    output-sized survivor set.  36 -> ~3 s at 50k docs."""
    sized = _hamming_banded(fp, bands).withColumn(
        "n", F.count("*").over(Window.partitionBy("band", "value"))
    )
    guarded = sized.filter(
        F.assert_true(
            F.col("n") <= SIMHASH_GUARD_MAX,
            F.concat(
                F.lit("simhash Hamming band (band="),
                F.col("band").cast("string"),
                F.lit(", value="),
                F.col("value").cast("string"),
                F.lit(f") holds > {SIMHASH_GUARD_MAX} docs (pair budget"
                      f" {SIMHASH_BUCKET_PAIR_BUDGET} pairs/bucket); a cap"
                      " would break the pigeonhole recall guarantee — run"
                      " exact dedup upstream or widen the fingerprint/bands"
                      " (see simhash_band_stats / simhash_wide_band_stats)"),
            ),
        ).isNull()
    )
    buckets = (
        guarded.filter(F.col("n") > 1)
        .groupBy("band", "value")
        .agg(F.sort_array(F.collect_set(F.struct(*fp.columns))).alias("members"))
    )
    id_t = dict(fp.dtypes)["doc_id"]
    pairs = map_batches(
        buckets.select("members"),
        _bucket_hamming,
        f"doc_a {id_t}, doc_b {id_t}, hamming int",
    )
    return pairs.distinct()


def _band_stats(fp, bands, size):
    """Per band of a Hamming-band join: bucket count, candidate-pair
    mass and the largest bucket, where ``size`` is the per-(band,
    value) member-count aggregate."""
    sizes = _hamming_banded(fp, bands).groupBy("band", "value").agg(size.alias("n"))
    pair_mass = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    return (
        sizes.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(F.col("n") > 1, pair_mass).otherwise(0))
            .cast("long")
            .alias("candidate_pairs"),
            F.max("n").cast("long").alias("max_bucket"),
        )
        .orderBy("band")
    )


def _simhash_bands():
    """The 4 disjoint 8-bit band values of the 32-bit ``simhash``."""
    return [
        F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS).bitwiseAND(
            (1 << SIMHASH_BAND_BITS) - 1
        )
        for b in range(N_SIMHASH_BANDS)
    ]


def simhash(spark, sf_dir):
    """SimHash: per-word portable hash, signed bit-count vote per bit,
    packed into a 32-bit fingerprint.

    Round-7 shape (guide §4.2): one zero-shuffle mapInArrow stage —
    C-regex tokenization, hashlib md5, 32 numpy cumsum-segment vote
    reductions over the batch's word hashes.  Values are identical to
    the oracle's array form: vote_b set <=> 2 * ones_b > total, with
    duplicate-preserving counts either way, and the hash is the same
    md5 prefix read as a big-endian 32-bit int.  The previous
    array-native ``aggregate()`` HOF measured 8.3 s at sf1.0/local[32]
    (higher-order functions are CodegenFallback: interpreted md5+conv
    plus a fresh 33-element array per word); an explode+codegen
    HashAggregate rewrite reached 5.1 s; this form ~1 s.  Only
    (doc_id, text) crosses the Python boundary."""
    return map_docs(spark, sf_dir, _simhash, "simhash bigint")


def _simhash_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) > len(hs)"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(N_SIMHASH_BITS)
    )
    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
h AS (SELECT doc_id, list_transform(words, w -> {_duck_hash('w')}) AS hs FROM w)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h
"""


def simhash_neardup_pairs(spark, sf_dir):
    """SimHash consumer: near-dup pairs at Hamming distance <=
    ``SIMHASH_MAX_HAMMING``, found by Hamming-band LSH.

    The 32-bit fingerprint is split into 4 disjoint 8-bit bands and
    docs are equi-joined on (band, band value) — by pigeonhole, any
    pair within Hamming distance 3 agrees exactly on at least one of
    the 4 bands, so the banding is EXACT (recall 1.0) for that radius;
    the per-candidate popcount filter removes the false positives.
    Same single-shuffle shape as ``lsh_candidate_pairs``; at 10^12
    docs you widen to a 64-bit fingerprint with 16-bit bands so each
    band has 65k buckets (``simhash_wide_neardup_pairs``).  The join,
    its loud pair-budget guard and the kernel are
    ``_hamming_band_pairs``."""
    return _hamming_band_pairs(simhash(spark, sf_dir), _simhash_bands())


def _simhash_neardup_sql() -> str:
    # the banding is exact for hamming <= 3, so the oracle is the
    # direct all-pairs definition (fine at sf0.01; the Spark side is
    # the scale path)
    return f"""
WITH s AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) <= {SIMHASH_MAX_HAMMING}
"""


# near-dup planting: the driver's synthetic embeddings have no pair
# above the 0.5 cosine threshold, so round 2's green oracle verified
# nothing (0 rows both engines).  Both engines now append PLANTED
# near-duplicates — the first N_PLANTED_NEARDUP vectors, copied with a
# +0.05 perturbation on dimension 0, round-tripped through FLOAT so
# the bits are identical in Spark and DuckDB — which guarantees the
# oracle compares real >0.5-cosine pairs.
N_PLANTED_NEARDUP = 8
_PLANT_ID_OFFSET = 1_000_000
_PLANT_PERTURB = "0.05"
NEARDUP_MIN_COSINE = 0.5


def _with_planted(e):
    """embeddings ∪ planted near-duplicates (Spark side)."""
    planted = e.filter(F.col("vec_id") < N_PLANTED_NEARDUP).select(
        (F.col("vec_id") + F.lit(_PLANT_ID_OFFSET)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0"
            f" THEN CAST(x AS DOUBLE) + {_PLANT_PERTURB}D"
            " ELSE CAST(x AS DOUBLE) END AS FLOAT))"
        ).alias("embedding"),
        F.col("label"),
    )
    return e.select("vec_id", "embedding", "label").unionByName(planted)


def _hyperplane_sigs(X, planes):
    """int64 hyperplane signature per row of the float64 matrix ``X``:
    bit b is set iff the exact sequential-fold dot with ``planes[b]``
    is strictly > 0 — the signature the oracles compute with
    ``similarity._sig_expr_duck``."""
    P = _np.asarray(planes, dtype=_np.float64)
    above = fold_dot(X[:, None, :], P[None, :, :]) > 0
    bits = _np.arange(len(P), dtype=_np.int64)
    return (above.astype(_np.int64) << bits).sum(axis=1)


def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup, LABEL-FREE: blocking is the 8-bit
    random-hyperplane signature (the same fixed hyperplanes as
    ``ann_hyperplane_topk``) — real corpora carry no labels, and two
    near-identical vectors land in the same signature bucket, so the
    quadratic pair expansion happens only inside a bucket (1/256 of
    the corpus on average; widen the signature at 10^9+ vectors).

    r07 shape (guide §4.2/§8): both the signature and the per-pair
    cosine verify ran as interpreted higher-order-function folds — the
    in-bucket pair mass is n^2/256 (1.5M pairs at 20k vectors), so the
    verify paid ~1.5M interpreted 64-dim folds (32 s).  Session 3: the
    embeddings are collected ONCE (the verify already needed the full
    float table on the driver); signatures come from the same
    ``_hyperplane_sigs`` run driver-side (bit-identical), so the
    self-join runs over the tiny parallelized (vec_id, sig)
    table instead of re-running the sig kernel once per join side, and
    the verify kernel gathers from the packed broadcast matrix —
    32 -> ~2 s, bit-identical membership and values."""
    from .similarity import HYPERPLANES

    sig, packed = _collected_sigs(spark, sf_dir, HYPERPLANES)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(b, "sig")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )
    return _cosine_pair_verify(spark, packed, pairs)


# driver bound of the collected embedding table (see below): 2M vectors
# x 64 dims is ~0.5 GB of float32 plus the 1 GB float64 verify matrix;
# past it the collect raises instead of exhausting the driver
EMBEDDINGS_COLLECT_MAX = 2_000_000


def _collected_sigs(spark, sf_dir, planes):
    """ONE job: the (planted) embedding table collected to the driver
    (broadcast-class: dim x 4 B per vector, up to
    ``EMBEDDINGS_COLLECT_MAX`` vectors; the embeddings table is the
    SMALL side of this design at any corpus scale where all-pairs
    banding is viable), returned as the (vec_id, sig) DataFrame the
    band join runs over and the (sorted vec_id vector, float64 matrix)
    pair the verify broadcasts.  Rationale (r07 session 3): the sig
    kernel subtree re-ran once per self-join side (exchange reuse never
    fires across mapInArrow subtrees), and the verify already needs
    this table, so one driver ``_hyperplane_sigs`` over ~20k vectors
    replaces two distributed kernel passes.  Null embeddings are
    dropped from both: their sig is null, and a null key joins nothing
    in an equi-join, so the candidate set is unchanged."""
    e = _with_planted(read(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    tbl = collect_within(e, EMBEDDINGS_COLLECT_MAX, "near-dup embedding table")
    X, valid = embedding_matrix(tbl.column("embedding"), len(planes[0]))
    ids, X = tbl.column("vec_id").to_numpy()[valid], X[valid]
    sig = spark.createDataFrame(
        list(zip(ids.tolist(), _hyperplane_sigs(X, planes).tolist())),
        "vec_id bigint, sig bigint",
    )
    order = _np.argsort(ids, kind="stable")
    return sig, (ids[order], X[order])


def _cosine_pair_verify(spark, packed, pairs):
    """Exact near-dup verify for candidate (vec_a, vec_b) rows: look
    both vectors up in the broadcast float table ``packed`` (from
    ``_collected_sigs``) and reproduce the JVM fold arithmetic
    bit-for-bit (``fold_dot`` == the sequential
    ``aggregate(zip_with(...))`` fold), ``>= NEARDUP_MIN_COSINE`` on
    the raw double, floor-rounded output only.

    r07 session 3: the broadcast is a (sorted id vector, float64
    matrix) pair — numpy buffers unpickle at C-speed (the per-worker
    dict rebuild of 20k arrays cost ~0.5 s x workers), and each batch
    gathers its rows with two fancy-index ops instead of a Python
    dict-lookup-and-stack loop per pair."""
    bc = spark.sparkContext.broadcast(packed)

    def cosine_pair_verify(batch):
        import numpy as np
        import pyarrow as pa

        ids_s, M = bc.value
        n_ids = len(ids_s)

        def idx(col):
            v = col.to_numpy(zero_copy_only=False)
            if n_ids == 0:
                raise KeyError("pair vec_id missing from embedding table")
            ix = np.searchsorted(ids_s, v)
            bad = (ix >= n_ids) | (ids_s[np.minimum(ix, n_ids - 1)] != v)
            if bad.any():
                raise KeyError("pair vec_id missing from embedding table")
            return ix

        A = M[idx(batch.column("vec_a"))]
        B = M[idx(batch.column("vec_b"))]
        cos = fold_dot(A, B) / (np.sqrt(fold_dot(A, A)) * np.sqrt(fold_dot(B, B)))
        keep = cos >= NEARDUP_MIN_COSINE
        mask = pa.array(keep)
        return {
            "vec_a": batch.column("vec_a").filter(mask),
            "vec_b": batch.column("vec_b").filter(mask),
            "cosine": np.floor(cos[keep] * 10000 + 0.5) / 10000,
        }

    return map_batches(
        pairs, cosine_pair_verify, "vec_a bigint, vec_b bigint, cosine double"
    )


def _neardup_sql() -> str:
    from .similarity import _sig_expr_duck

    return f"""
WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
planted AS (
  SELECT vec_id + {_PLANT_ID_OFFSET} AS vec_id, label,
         CAST(CAST(list_transform(range(1, len(emb) + 1),
                i -> CASE WHEN i = 1 THEN emb[i] + {_PLANT_PERTURB} ELSE emb[i] END)
              AS FLOAT[]) AS DOUBLE[]) AS emb
  FROM base WHERE vec_id < {N_PLANTED_NEARDUP}
),
e AS (
  SELECT vec_id, emb, {_sig_expr_duck('emb')} AS sig
  FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(list_reduce(list_transform(range(1, len(a.emb) + 1),
                                        i -> a.emb[i] * b.emb[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.emb, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.emb, x -> x * x), (x, y) -> x + y)))
             * 10000 + 0.5) / 10000
         AS cosine
FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE list_reduce(list_transform(range(1, len(a.emb) + 1),
                                 i -> a.emb[i] * b.emb[i]), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(a.emb, x -> x * x), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(b.emb, x -> x * x), (x, y) -> x + y)))
      >= {NEARDUP_MIN_COSINE}
"""


NEARDUP_SQL = _neardup_sql()


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "minhash_signatures": (minhash_signatures, _minhash_sql()),
    "lsh_candidate_pairs": (lsh_candidate_pairs, _lsh_sql()),
    "lsh_bucket_stats": (lsh_bucket_stats, _lsh_stats_sql()),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, _jaccard_sql()),
    "simhash": (simhash, _simhash_sql()),
    "simhash_neardup_pairs": (simhash_neardup_pairs, _simhash_neardup_sql()),
    "embedding_neardup_pairs": (embedding_neardup_pairs, NEARDUP_SQL),
}


def mllib_minhash_pairs(spark, sf_dir):
    """Spark-ML LSH candidate stage + exact verify: HashingTF shingle
    vectors -> MinHashLSH.approxSimilarityJoin (the built-in
    distributed LSH, the 10^9+-docs scale path), then each candidate
    pair is verified with the EXACT portable shingle-set Jaccard and
    kept at >= 0.5.

    The verify stage is what makes a value oracle possible: the ML hash
    family isn't DuckDB-expressible, but the verified OUTPUT is — the
    corpus has no >=0.5 pair the LSH misses (24 pairs at ~1.0, one at
    0.9, next cluster at ~0.1; a miss at j>=0.5 has probability
    (1-j)^numHashTables <= 0.5^8 per pair, and the fixed seed makes the
    run deterministic), so the result equals the closed-form all-pairs
    SQL.

    r07 shape (guide §8 / §2.3): the hash family stays Spark-ML
    (HashingTF features, MinHashLSH fit/transform, same tables+seed —
    the candidate RECALL guarantee is unchanged), but everything around
    it sheds payload:

    - the candidate join runs natively over the exploded
      (table, hashValue) keys, so the shuffle carries 24-byte rows
      instead of the shingle arrays + 2^18-dim sparse vectors
      approxSimilarityJoin ships (and the self-join's two sides
      canonicalize to ONE reused exchange);
    - the single-table-collision candidate mass is real (3.6M raw pairs
      at 50k docs — common-vocabulary corpora collide constantly), so
      the old vec_dist <= 0.7 pre-filter is replaced by an equally
      conservative one that needs no per-pair array shuffle at all: a
      mapInArrow kernel intersects each pair's sorted 64-bit
      shingle-hash sets from a BROADCAST side table (~8 B per shingle
      per doc, built by one corpus pass).  The keep condition
      ``3*c + 6 >= na + nb`` is Jaccard >= 0.5 with a 2-collision
      slack: 64-bit collisions occur with p ~ 1e-13 per pair, and a
      pair would need THREE collisions among its own shingles to be
      wrongly dropped — far below the 0.5^8 LSH miss probability the
      operator already accepts.  (The old 0.3-vector filter was itself
      not collision-free: hashed-bucket Jaccard can fall below string
      Jaccard when common shingles collide.)
    - only the handful of surviving pairs re-attach their shingle
      STRINGS (two broadcast joins against the corpus scan) for the
      exact verify that defines the output — payload moves once,
      decisions ride keys.

    Shingle strings/hashes come from the same C-regex tokenization
    kernel as minhash_signatures (bit-identical to the array form,
    oracle-pinned).  Broadcast budget: the hash side table is
    8 B x shingles/doc x docs — fine to ~1e7 docs per executor GB; past
    that, band the candidate join (lsh_candidate_pairs' cap machinery)
    before prefiltering.  89 -> ~12 s at 50k docs."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    d = docs(spark, sf_dir)
    nonempty = (
        "size(shingles) > 0 AND (size(shingles) > 1"
        " OR element_at(shingles, 1) <> '')"
    )
    shingled = map_docs(spark, d, _shingle, "shingles array<string>").filter(nonempty)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    exploded = (
        model.transform(feats)
        .select("doc_id", F.posexplode("hashes").alias("entry", "hv"))
        .select("doc_id", "entry", vector_to_array("hv")[0].alias("h"))
    )
    # NOTE (r07 session 3, measured): do NOT replace this self-join
    # with a collected local signature table — the planner-inserted
    # ENSURE_REQUIREMENTS exchanges of a self-join DO get reused (the
    # exploded subtree computes once), and local tables additionally
    # rob the downstream prefilter of its (entry, h) partitioning
    # (11.3 s vs 5.2 s end to end).  Only user repartition() exchanges
    # fail to reuse across mapInArrow subtrees.
    a, b = exploded.alias("a"), exploded.alias("b")
    raw_pairs = a.join(
        b,
        (F.col("a.entry") == F.col("b.entry"))
        & (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # Jaccard >= 0.5 with 2-collision slack (see docstring); prefilter
    # runs BEFORE the distinct, so the dedup shuffle only carries
    # survivors
    pairs = _pair_hash_prefilter(
        spark,
        raw_pairs,
        _shingle_hash_map(spark, d),
        lambda c, na, nb: 3 * c + 6 >= na + nb,
    ).distinct()
    return (
        _survivor_verify(spark, d, pairs, nonempty)
        # jaccard >= 0.5  <=>  3*common >= na+nb (exact integers);
        # output rounding is the portable floor form
        .filter(3 * F.col("common") >= F.size("sa") + F.size("sb"))
        .withColumn("jaccard", _jaccard_rounded())
        .select("doc_a", "doc_b", "jaccard")
    )


_MLLIB_SQL = f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
sets AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS shingles FROM w
),
nonempty AS (
  SELECT doc_id, shingles FROM sets
  WHERE len(list_filter(shingles, x -> x <> '')) > 0
),
j AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles)) AS common,
         len(a.shingles) AS na, len(b.shingles) AS nb
  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       floor(common / (na + nb - common) * 10000 + 0.5) / 10000 AS jaccard
FROM j
WHERE 3 * common >= na + nb
"""

QUERIES["mllib_minhash_pairs"] = (mllib_minhash_pairs, _MLLIB_SQL)


def simhash_band_stats(spark, sf_dir):
    """Audit for the Hamming-band join ("no silent blowups"): per band,
    bucket count, candidate-pair mass, and the largest bucket.  Unlike
    the MinHash LSH path there is NO cap here — capping would break the
    pigeonhole recall-1.0 guarantee — so this query is the dashboard
    that tells an operator when the band width must grow (at 10^12
    docs: 64-bit fingerprints, 16-bit bands) or exact dedup must run
    first (a giant bucket of identical boilerplate)."""
    return _band_stats(
        simhash(spark, sf_dir), _simhash_bands(), F.countDistinct("doc_id")
    )


def _simhash_band_stats_sql() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" (simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} AS value FROM s"
        for b in range(N_SIMHASH_BANDS)
    )
    return f"""
WITH s AS ({_simhash_sql()}),
bands AS ({bands}),
sizes AS (
  SELECT band, value, count(DISTINCT doc_id) AS n FROM bands GROUP BY band, value
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN n > 1 THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS candidate_pairs,
       CAST(max(n) AS BIGINT) AS max_bucket
FROM sizes
GROUP BY band
ORDER BY band
"""


QUERIES["simhash_band_stats"] = (simhash_band_stats, _simhash_band_stats_sql())


# -- log2(n)-scaled fingerprint widths (VERDICT r03 item 3) -----------------
# A FIXED bucket space is quadratic in corpus size no matter how wide:
# candidate volume ~ n_bands * n^2 / 2^band_bits.  The scale rule is
# band_bits ~ log2(n_docs): then 2^band_bits ~ n and candidate volume
# stays ~ n_bands * n (linear), pinned by
# tests/test_dedup.py::test_wide_bands_candidate_volume_scales_linearly.
# The 32-bit/8-bit operators above stay as the oracle-checked
# small-scale config; the 64-bit fingerprint + 16-bit bands below are
# the corpus-scale path (2^16 buckets/band covers n ~ 10^5 per the
# rule; beyond that, exact dedup upstream collapses the mass the
# fingerprint can't spread).
SIMHASH_WIDE_BITS = 64
SIMHASH_WIDE_BAND_BITS = 16
N_SIMHASH_WIDE_BANDS = SIMHASH_WIDE_BITS // SIMHASH_WIDE_BAND_BITS  # 4
# pigeonhole radius is bands-1 regardless of band width
SIMHASH_WIDE_MAX_HAMMING = N_SIMHASH_WIDE_BANDS - 1


def recommended_band_bits(n_docs: int) -> int:
    """Band width keeping expected in-bucket pair volume ~linear:
    ceil(log2(n)) clamped to [8, 16] (4 bands over a 32..64-bit
    fingerprint).  Pure sizing helper — callers pick the operator
    (8-bit = ``simhash_neardup_pairs``, 16-bit = the wide variant)."""
    import math

    return max(8, min(16, math.ceil(math.log2(max(n_docs, 2)))))


def simhash_wide(spark, sf_dir):
    """64-bit SimHash as two packed 32-bit words (fp_lo = votes over
    md5 hex chars 1-8 — bit-identical to ``simhash`` —, fp_hi = votes
    over hex chars 9-16 of the SAME md5).  Two non-negative bigints
    sidestep the int64 sign bit in both engines; Hamming distance is
    bit_count(lo^lo') + bit_count(hi^hi').

    Round-7: same Arrow kernel as ``simhash`` (guide §4.2) — one md5
    per word yields both words' hash halves (digest bytes 0-3 / 4-7 ==
    hex chars 1-8 / 9-16), numpy vote reduction per half."""
    return map_docs(spark, sf_dir, _simhash_wide, "fp_lo bigint, fp_hi bigint")


def _simhash_wide_sql() -> str:
    def terms(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN 2 * len(list_filter({col}, h -> (h >> {b}) & 1 = 1))"
            f" > len({col}) THEN {1 << b} ELSE 0 END)"
            for b in range(32)
        )

    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
m AS (SELECT doc_id, list_transform(words, w -> md5(w)) AS ms FROM w),
h AS (SELECT doc_id,
             list_transform(ms, m -> CAST(('0x' || substr(m, 1, 8)) AS BIGINT)) AS hlo,
             list_transform(ms, m -> CAST(('0x' || substr(m, 9, 8)) AS BIGINT)) AS hhi
      FROM m)
SELECT doc_id,
       CAST({terms('hlo')} AS BIGINT) AS fp_lo,
       CAST({terms('hhi')} AS BIGINT) AS fp_hi
FROM h
"""


def _wide_band_value(b: int, band_bits: int, shl, shr) -> str:
    """Band ``b``'s value (bits [b*band_bits, (b+1)*band_bits) of the
    64-bit fingerprint) from the (fp_lo, fp_hi) packed words — at most
    TWO fingerprint-column references (shift+mask, straddle-aware), so
    even a worst-case Catalyst inline of the vote aggregate duplicates
    a linear pass a bounded number of times, never per-bit.  ``shl`` /
    ``shr`` are callables rendering the engine's shift syntax."""
    start, end = b * band_bits, (b + 1) * band_bits
    mask = (1 << band_bits) - 1
    if end <= 32:
        return f"({shr('fp_lo', start)} & {mask})"
    if start >= 32:
        return f"({shr('fp_hi', start - 32)} & {mask})"
    n_lo = 32 - start  # straddling band: low bits from fp_lo, rest fp_hi
    return (
        f"(({shr('fp_lo', start)} & {(1 << n_lo) - 1})"
        f" + {shl(f'(fp_hi & {(1 << (band_bits - n_lo)) - 1})', n_lo)})"
    )


def _wide_band_value_spark(b: int, band_bits: int) -> str:
    return _wide_band_value(
        b,
        band_bits,
        lambda e, k: f"shiftleft({e}, {k})",
        lambda e, k: f"shiftright({e}, {k})",
    )


def _wide_band_value_duck(b: int, band_bits: int) -> str:
    return _wide_band_value(
        b,
        band_bits,
        lambda e, k: f"({e} << {k})",
        lambda e, k: f"({e} >> {k})",
    )


def _wide_bands():
    """The 4 disjoint 16-bit band values of the 64-bit fingerprint."""
    return [
        F.expr(_wide_band_value_spark(b, SIMHASH_WIDE_BAND_BITS))
        for b in range(N_SIMHASH_WIDE_BANDS)
    ]


def simhash_wide_neardup_pairs(spark, sf_dir):
    """The corpus-scale Hamming-band join: 64-bit fingerprint, 4 bands
    of 16 bits — 2^16 buckets per band instead of 2^8, so candidate
    volume on a diverse corpus is n^2/65536 per band and the log2(n)
    sizing rule (``recommended_band_bits``) keeps it ~linear up to
    n ~ 10^5 per width step.  Pigeonhole recall is still EXACT for
    Hamming distance <= 3 (any such pair agrees on one of the 4
    disjoint bands).  Same ``_hamming_band_pairs`` join, guard and
    kernel as the 8-bit operator; the kernel sums the two words'
    popcounts."""
    return _hamming_band_pairs(simhash_wide(spark, sf_dir), _wide_bands())


def _simhash_wide_neardup_sql() -> str:
    # banding is pigeonhole-exact for hamming <= 3, so the oracle is
    # the direct all-pairs definition over the 64-bit fingerprint
    ham = (
        "bit_count(CAST(xor(a.fp_lo, b.fp_lo) AS BIT))"
        " + bit_count(CAST(xor(a.fp_hi, b.fp_hi) AS BIT))"
    )
    return f"""
WITH s AS ({_simhash_wide_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {ham} <= {SIMHASH_WIDE_MAX_HAMMING}
"""


QUERIES["simhash_wide"] = (simhash_wide, _simhash_wide_sql())
QUERIES["simhash_wide_neardup_pairs"] = (
    simhash_wide_neardup_pairs,
    _simhash_wide_neardup_sql(),
)


def simhash_wide_band_stats(spark, sf_dir):
    """The wide-path twin of ``simhash_band_stats`` ("no silent
    blowups"): per 16-bit band, bucket count, candidate-pair mass and
    the largest bucket — the dashboard that shows the log2(n) width
    rule holding (compare ``candidate_pairs`` against the 8-bit audit
    on the same corpus) and tells an operator when exact dedup must
    run first.  (band, value, doc_id) is unique by construction (one
    fingerprint row per doc), so plain count == distinct count without
    the two-phase distinct aggregation."""
    return _band_stats(simhash_wide(spark, sf_dir), _wide_bands(), F.count("*"))


def _simhash_wide_band_stats_sql() -> str:
    # same straddle-aware band extraction as the Spark side — a
    # hardcoded 2-bands-per-word layout would silently break for any
    # band width where 32 % band_bits != 0
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" {_wide_band_value_duck(b, SIMHASH_WIDE_BAND_BITS)} AS value FROM s"
        for b in range(N_SIMHASH_WIDE_BANDS)
    )
    return f"""
WITH s AS ({_simhash_wide_sql()}),
bands AS ({bands}),
sizes AS (
  SELECT band, value, count(DISTINCT doc_id) AS n FROM bands GROUP BY band, value
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN n > 1 THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS candidate_pairs,
       CAST(max(n) AS BIGINT) AS max_bucket
FROM sizes
GROUP BY band
ORDER BY band
"""


QUERIES["simhash_wide_band_stats"] = (
    simhash_wide_band_stats,
    _simhash_wide_band_stats_sql(),
)


# hyperplane-signature width follows the same log2(n) rule as the
# Hamming bands: the 8-bit signature in embedding_neardup_pairs is the
# oracle-checked small-scale config; this 32-bit signature banded into
# 2 x 16-bit halves is the corpus-scale path (65536 buckets per band,
# so in-bucket pair volume is n^2/65536 per band instead of n^2/256),
# and the banding doubles as multi-probe: two vectors whose signatures
# differ in <= 1 bit still share a band (pigeonhole over 2 bands).
EMB_WIDE_SIG_BITS = 32
EMB_WIDE_BAND_BITS = 16
N_EMB_WIDE_BANDS = EMB_WIDE_SIG_BITS // EMB_WIDE_BAND_BITS  # 2


def embedding_neardup_pairs_wide(spark, sf_dir):
    """Corpus-scale embedding near-dup: 32-hyperplane signature (the
    8 fixed planes of ``ann_hyperplane_topk`` + 24 LCG-generated, all
    literal-embedded in both engines), banded into two 16-bit halves;
    candidates are pairs sharing either half (covers any single
    signature-bit flip), exact cosine >= ``NEARDUP_MIN_COSINE`` keeps
    real near-dups.  Same single-shuffle (band, value) join shape as
    the Hamming-band operators.

    r07: same Arrow shape as the narrow variant — signature kernel,
    id-only band join, exact-fold cosine verify kernel against the
    broadcast float table (the interpreted 32-plane HOF signature alone
    was most of the old 8.5 s)."""
    from .similarity import WIDE_HYPERPLANES

    sig, packed = _collected_sigs(spark, sf_dir, WIDE_HYPERPLANES)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                f"(shiftright(sig, {b * EMB_WIDE_BAND_BITS})"
                f" & {(1 << EMB_WIDE_BAND_BITS) - 1})"
            ).alias("value"),
        )
        for b in range(N_EMB_WIDE_BANDS)
    ]
    banded = sig.select(
        "vec_id", F.explode(F.array(*bands)).alias("bb")
    ).select("vec_id", "bb.band", "bb.value")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "value"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return _cosine_pair_verify(spark, packed, cand)


def _neardup_wide_sql() -> str:
    from .similarity import WIDE_HYPERPLANES, _sig_expr_duck

    mask = (1 << EMB_WIDE_BAND_BITS) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, emb, {b} AS band,"
        f" (sig >> {b * EMB_WIDE_BAND_BITS}) & {mask} AS value FROM e"
        for b in range(N_EMB_WIDE_BANDS)
    )
    cos_raw = (
        "(list_reduce(list_transform(range(1, len(ea.emb) + 1),"
        " i -> ea.emb[i] * eb.emb[i]), (x, y) -> x + y)"
        " / (sqrt(list_reduce(list_transform(ea.emb, x -> x * x), (x, y) -> x + y))"
        " * sqrt(list_reduce(list_transform(eb.emb, x -> x * x), (x, y) -> x + y))))"
    )
    cos = f"floor({cos_raw} * 10000 + 0.5) / 10000"
    return f"""
WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
planted AS (
  SELECT vec_id + {_PLANT_ID_OFFSET} AS vec_id, label,
         CAST(CAST(list_transform(range(1, len(emb) + 1),
                i -> CASE WHEN i = 1 THEN emb[i] + {_PLANT_PERTURB} ELSE emb[i] END)
              AS FLOAT[]) AS DOUBLE[]) AS emb
  FROM base WHERE vec_id < {N_PLANTED_NEARDUP}
),
e AS (
  SELECT vec_id, emb, {_sig_expr_duck('emb', WIDE_HYPERPLANES)} AS sig
  FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)
),
b AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM b a JOIN b bb ON a.band = bb.band AND a.value = bb.value
                    AND a.vec_id < bb.vec_id
)
SELECT vec_a, vec_b, {cos} AS cosine
FROM cand
JOIN e ea ON ea.vec_id = vec_a
JOIN e eb ON eb.vec_id = vec_b
WHERE {cos_raw} >= {NEARDUP_MIN_COSINE}
"""


QUERIES["embedding_neardup_pairs_wide"] = (
    embedding_neardup_pairs_wide,
    _neardup_wide_sql(),
)


# -- asymmetric containment (doc-in-doc duplication) ------------------------
# Jaccard misses the quote/aggregator case: a short article wholly
# embedded in a long page has |A∩B|/|A∪B| ~ |A|/|B| (small) but
# containment C(A in B) = |A∩B|/|A| ~ 1.  MinHash LSH CANNOT feed
# this operator: band-collision probability is ~jaccard^band_size, so
# a 0.15-Jaccard/0.95-containment pair is found with ~9% probability
# (a planted short-in-long test proved the miss).  The scalable exact
# candidate stage is PREFIX FILTERING (Chaudhuri et al.): order all
# shingles by a GLOBAL rarity order (document frequency, then hash);
# if |A∩B| >= ceil(0.5 * min(|A|,|B|)) then A's smaller-side prefix —
# its floor(n/2)+1 rarest shingles — must intersect B's full set, so
# joining prefixes against full sets on the shingle hash finds every
# such pair.  Rarity ordering is also the skew defense: hot
# boilerplate shingles sort LAST and (df-capped) never enter a
# prefix, so the candidate join only ever keys on rare shingles.
CONTAINMENT_MIN = 0.5
# prefix-side df cap: shingles appearing in more documents than this
# never enter a prefix.  Recall caveat (documented, audited by the df
# table itself): a pair whose entire shared half is super-hot
# boilerplate is exact-dedup's / paragraph_dedup's job, not
# containment's — the same division of labor as MAX_LSH_BUCKET.
CONTAINMENT_MAX_DF = 1000
# survivor-pair collect bound for the verify stage (same class as
# CC_SMALL_GRAPH_MAX_EDGES: the prefiltered pair set is output-sized
# and orders of magnitude smaller than the corpus; a limit probe keeps
# the oversize case off the driver and falls back to the full-corpus
# broadcast-join verify)
CONTAINMENT_VERIFY_COLLECT_MAX = 2_000_000


def _survivor_verify(spark, d, pairs, keep=None):
    """The exact shingle-overlap verify of the candidate ``pairs``
    (doc_a, doc_b) over the docs ``d``: (doc_a, doc_b, sa, sb, common)
    with each side's distinct shingle strings (``_shingle``; rows
    failing the SQL predicate ``keep``, when given, drop out) and
    ``common`` = |sa ∩ sb|.  The prefiltered pair set is output-sized,
    so it is collected (bounded) and shipped back as a local table with
    the docs cut to those in a surviving pair — the kernel then
    tokenizes only survivor docs.  Past
    ``CONTAINMENT_VERIFY_COLLECT_MAX`` pairs the verify falls back to
    the distributed pairs against the whole corpus ``d``.  Three
    broadcast joins attach the two shingle sets: payload moves once,
    decisions ride keys."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = bounded_collect(pairs, CONTAINMENT_VERIFY_COLLECT_MAX)
    if tbl is not None:
        a, b = tbl.column("doc_a"), tbl.column("doc_b")
        ids = pc.unique(pa.chunked_array(a.chunks + b.chunks, type=a.type))
        ids_df = spark.createDataFrame(pa.table({"doc_id": ids}))
        pairs = spark.createDataFrame(tbl)
        d = d.join(F.broadcast(ids_df), "doc_id")
    sets = map_docs(spark, d, _shingle, "shingles array<string>")
    if keep is not None:
        sets = sets.filter(keep)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    with_a = sa.join(F.broadcast(pairs), "doc_a")
    with_b = sb.join(F.broadcast(pairs), "doc_b").select("doc_a", "doc_b", "sb")
    return with_a.join(F.broadcast(with_b), ["doc_a", "doc_b"]).withColumn(
        "common", F.size(F.array_intersect("sa", "sb"))
    )


def _containment_candidates(spark, d):
    """The distinct, prefilter-surviving candidate pair set of the
    containment join (the phase before the exact string verify) — its
    own function so the candidate plan shape (sh_h join keys, df cap
    before the join) stays pin-able after the verify phase collects
    this set eagerly."""
    ex = map_docs(spark, d, _shingle_h60, "n int, sh_h bigint")
    df_tbl = ex.groupBy("sh_h").agg(F.count("*").alias("df"))
    ranked = ex.join(df_tbl, "sh_h")
    w = Window.partitionBy("doc_id").orderBy("df", "sh_h")
    prefix = (
        ranked.withColumn("idx", F.row_number().over(w))
        .filter(F.col("idx") <= F.expr("CAST(n DIV 2 AS INT) + 1"))
        .filter(F.col("df") <= CONTAINMENT_MAX_DF)
        .select(F.col("doc_id").alias("doc_p"), "sh_h")
    )
    cand_raw = (
        prefix.join(ex.select(F.col("doc_id").alias("doc_f"), "sh_h"), "sh_h")
        .filter(F.col("doc_p") != F.col("doc_f"))
        .select(
            F.least("doc_p", "doc_f").alias("doc_a"),
            F.greatest("doc_p", "doc_f").alias("doc_b"),
        )
    )
    return _pair_hash_prefilter(
        spark,
        cand_raw,
        _shingle_hash_map(spark, d),
        lambda c, na, nb: 2 * c + 6 >= _np.minimum(na, nb),
    ).distinct()


def containment_pairs(spark, sf_dir):
    """(doc_a, doc_b, containment_a, containment_b) for every pair
    with max-directional shingle containment >= ``CONTAINMENT_MIN``
    (subject to the ``CONTAINMENT_MAX_DF`` prefix cap) — catches
    subset-duplication that symmetric Jaccard under-scores.

    Plan (r07 Arrow shape): the exploded (doc_id, n, sh_h) table comes
    from ONE mapInArrow kernel (C-regex shingles + C md5 — the JVM
    explode + interpreted md5/conv chain measured 17 s per subtree at
    50k docs; the kernel still runs once per consumer — measured, a
    pinned repartition only adds shuffles because exchange reuse never
    fires across mapInArrow subtrees, while AQE broadcasts the df
    table so the probe side needs no shuffle at all), then df groupBy
    (map-side partial, 60-bit hash keys), the per-doc row_number
    window in the global (df, hash) order, the prefix-vs-full
    equi-join on the shingle hash (prefix side rare-only by
    construction).  RAW candidate pairs (5.7M distinct at 50k docs) go
    through the broadcast 64-bit shingle-hash prefilter BEFORE the
    dedup shuffle — 2*c + 6 >= min(na, nb) is the exact condition with
    a 2-collision slack — and the survivor set (output-sized; bounded
    by a limit probe like the dedup_clusters edge collect) is
    collected so the exact array_intersect verify tokenizes ONLY
    survivor docs instead of the whole corpus twice; past
    ``CONTAINMENT_VERIFY_COLLECT_MAX`` pairs the verify falls back to
    the full-corpus broadcast-join form."""
    d = docs(spark, sf_dir)
    return (
        _survivor_verify(spark, d, _containment_candidates(spark, d))
        # threshold on the EXACT rational (2*common >= n — integer
        # compare, engine-identical, and precisely the prefix-filter
        # guarantee common >= ceil(n/2)); rounding is output-only and
        # floor-based (engine-portable, see common.floor_round — round()
        # is decimal-string HALF_UP in Spark vs binary in DuckDB)
        .filter(
            (2 * F.col("common") >= F.size("sa"))
            | (2 * F.col("common") >= F.size("sb"))
        )
        .withColumn(
            "containment_a", floor_round(F.col("common") / F.size("sa"), 4)
        )
        .withColumn(
            "containment_b", floor_round(F.col("common") / F.size("sb"), 4)
        )
        .select("doc_a", "doc_b", "containment_a", "containment_b")
    )


def _containment_sql() -> str:
    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
sets AS (SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS shingles FROM w),
ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle
  FROM sets
),
exh AS (SELECT doc_id, n, {_duck_hash60('shingle')} AS sh_h FROM ex),
dft AS (SELECT sh_h, count(*) AS df FROM exh GROUP BY sh_h),
ranked AS (
  SELECT exh.doc_id, exh.n, exh.sh_h, dft.df,
         row_number() OVER (PARTITION BY exh.doc_id ORDER BY dft.df, exh.sh_h) AS idx
  FROM exh JOIN dft USING (sh_h)
),
prefix AS (
  SELECT doc_id AS doc_p, sh_h FROM ranked
  WHERE idx <= n // 2 + 1 AND df <= {CONTAINMENT_MAX_DF}
),
cand AS (
  SELECT DISTINCT least(doc_p, f.doc_id) AS doc_a,
                  greatest(doc_p, f.doc_id) AS doc_b
  FROM prefix JOIN exh f USING (sh_h)
  WHERE doc_p != f.doc_id
),
j AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b,
       floor(common / na * 10000 + 0.5) / 10000 AS containment_a,
       floor(common / nb * 10000 + 0.5) / 10000 AS containment_b
FROM j
WHERE 2 * common >= na OR 2 * common >= nb
"""


QUERIES["containment_pairs"] = (containment_pairs, _containment_sql())


def containment_stats(spark, sf_dir):
    """The audit for ``containment_pairs``'s df cap ("no silent caps",
    VERDICT r04 item 6; ``lsh_bucket_stats`` is the template): how many
    shingles the ``CONTAINMENT_MAX_DF`` prefix cap excludes, how much
    occurrence mass they carry, and how many documents actually lost
    prefix entries to the cap — the operator's recall caveat, sized
    instead of assumed.  Pure integer aggregates over the same
    explode + df-groupBy + rank window the pair query runs (from the
    same r07 Arrow kernel); one row."""
    ex = map_docs(spark, sf_dir, _shingle_h60, "n int, sh_h bigint")
    df_tbl = ex.groupBy("sh_h").agg(F.count("*").alias("df"))
    sh_stats = df_tbl.agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("df") > CONTAINMENT_MAX_DF, 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped_shingles"),
        F.max("df").cast("bigint").alias("max_df"),
        F.sum("df").cast("bigint").alias("n_occurrences"),
        F.sum(
            F.when(F.col("df") > CONTAINMENT_MAX_DF, F.col("df")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_capped_occurrences"),
    )
    w = Window.partitionBy("doc_id").orderBy("df", "sh_h")
    doc_stats = (
        ex.join(df_tbl, "sh_h")
        .withColumn("idx", F.row_number().over(w))
        .filter(F.col("idx") <= F.expr("CAST(n DIV 2 AS INT) + 1"))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("df") > CONTAINMENT_MAX_DF, 1).otherwise(0)
            ).alias("capped")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("capped").cast("bigint").alias("n_docs_prefix_capped"),
        )
    )
    return sh_stats.crossJoin(doc_stats)


def _containment_stats_sql() -> str:
    return f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
sets AS (SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS shingles FROM w),
ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle
  FROM sets
),
exh AS (SELECT doc_id, n, {_duck_hash60('shingle')} AS sh_h FROM ex),
dft AS (SELECT sh_h, count(*) AS df FROM exh GROUP BY sh_h),
sh AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN df > {CONTAINMENT_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_capped_shingles,
         CAST(max(df) AS BIGINT) AS max_df,
         CAST(sum(df) AS BIGINT) AS n_occurrences,
         CAST(sum(CASE WHEN df > {CONTAINMENT_MAX_DF} THEN df ELSE 0 END) AS BIGINT)
           AS n_capped_occurrences
  FROM dft
),
ranked AS (
  SELECT exh.doc_id, exh.n, dft.df,
         row_number() OVER (PARTITION BY exh.doc_id ORDER BY dft.df, exh.sh_h) AS idx
  FROM exh JOIN dft USING (sh_h)
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN df > {CONTAINMENT_MAX_DF} THEN 1 ELSE 0 END) AS capped
  FROM ranked
  WHERE idx <= n // 2 + 1
  GROUP BY doc_id
),
docs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(capped) AS BIGINT) AS n_docs_prefix_capped
  FROM per_doc
)
SELECT * FROM sh, docs
"""


QUERIES["containment_stats"] = (containment_stats, _containment_stats_sql())


# -- incremental dedup: a new crawl batch vs the committed corpus ----------
# The production shape at 100 TB: the committed corpus is petabytes,
# the daily increment is small.  The increment NEVER joins the raw
# committed text — only its content-hash set (bucketed/partitioned on
# the hash in production, a broadcast-able skeleton at any increment
# size); within the increment, the canonical representative is the
# minimum doc_id, computed by one hash groupBy.  Split rule for the
# demo: doc_id < INCREMENT_SPLIT is "committed", the rest is the new
# batch — deterministic, so the whole operator has a closed-form SQL
# oracle.
INCREMENT_SPLIT = 250


def dedup_incremental(spark, sf_dir):
    """New-batch dedup against the committed corpus: per new document,
    whether its normalized content already exists in the committed set
    (left-semi on content hash -> flag) and its canonical doc within
    the batch.  r07: spread the single-split scan so the normalize+md5
    projection parallelizes (guide §2.5, the dedup_exact fix)."""
    hashed = docs(spark, sf_dir).select("doc_id", content_hash().alias("content_hash"))
    committed = (
        hashed.filter(F.col("doc_id") < INCREMENT_SPLIT)
        .select("content_hash")
        .distinct()
    )
    batch = hashed.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    flagged = batch.join(
        F.broadcast(committed.withColumn("_seen", F.lit(True))),
        "content_hash",
        "left",
    ).withColumn("already_committed", F.coalesce(F.col("_seen"), F.lit(False)))
    canon = batch.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_in_batch")
    )
    return (
        flagged.join(canon, "content_hash")
        .select(
            "doc_id",
            "already_committed",
            "canonical_in_batch",
            (F.col("doc_id") == F.col("canonical_in_batch")).alias("is_batch_canonical"),
        )
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS content_hash
  FROM documents
),
committed AS (
  SELECT DISTINCT content_hash FROM hashed WHERE doc_id < {INCREMENT_SPLIT}
),
batch AS (SELECT * FROM hashed WHERE doc_id >= {INCREMENT_SPLIT}),
canon AS (
  SELECT content_hash, min(doc_id) AS canonical_in_batch FROM batch GROUP BY content_hash
)
SELECT b.doc_id AS doc_id,
       (c.content_hash IS NOT NULL) AS already_committed,
       canon.canonical_in_batch AS canonical_in_batch,
       b.doc_id = canon.canonical_in_batch AS is_batch_canonical
FROM batch b
LEFT JOIN committed c USING (content_hash)
JOIN canon USING (content_hash)
"""

QUERIES["dedup_incremental"] = (dedup_incremental, DEDUP_INCREMENTAL_SQL)


# -- benchmark decontamination ---------------------------------------------
# The training-data-pipeline operator every eval-aware corpus needs:
# flag corpus documents that share any N-gram with a benchmark/eval
# set, so eval text never leaks into training data.  Scale shape: the
# eval set is tiny (benchmarks are KBs-MBs) -> its distinct gram-hash
# set is BROADCAST; the corpus side is a map-side gram explode +
# broadcast semi-join + doc-level any() — no corpus-keyed shuffle
# beyond one groupBy on doc_id, no skew (grams are deduped per doc
# before the join).  Demo split: doc_id < EVAL_SET_SIZE is the "eval
# set" — deterministic, so the operator has a closed-form SQL oracle.
EVAL_SET_SIZE = 20
DECON_NGRAM = 8


def _gram_expr_duck(n: int) -> str:
    parts = " || ' ' || ".join(f"words[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(words) >= {n} THEN"
        f" [{parts} FOR i IN range(1, len(words) - {n - 2})]"
        f" ELSE [] END"
    )


def _gram_h60(n: int):
    """Kernel factory: exploded DISTINCT n-gram 60-bit md5 ints per doc
    over ``tokenize_batch``'s words.  Distinctness is on the HASH
    (exactly like the oracle's array form); < n words or null text
    explodes to nothing."""

    def grams(ids, texts):
        out_ids, out_h = [], []
        for did, ws in zip(ids, tokenize_batch(texts)):
            if ws is None or len(ws) < n:
                continue
            hs = dict.fromkeys(
                h60(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)).tolist()
            )
            out_ids += [did] * len(hs)
            out_h += hs
        return {"doc_id": out_ids, "gram": out_h}

    return grams


def decontaminate_against_eval(spark, sf_dir):
    """Per non-eval document: does it share any {DECON_NGRAM}-gram with
    the eval set, and how many distinct grams overlap.  Grams are
    60-bit md5 ints from the start — the broadcast eval set and the
    explode+groupBy shuffle carry 8-byte keys, never gram strings.

    r07: gram extraction + hashing run in one Arrow kernel per side
    (the JVM ``transform(grams, g -> md5/conv)`` paid an interpreted
    hash per gram — 19.5 -> ~3 s at 50k docs); the eval-side doc_id
    filter sits below its kernel so it pushes to the parquet scan."""
    base = read(spark, sf_dir, "documents").select("doc_id", "text")
    gk = _gram_h60(DECON_NGRAM)
    eval_docs = base.filter(F.col("doc_id") < EVAL_SET_SIZE)
    corpus_docs = spread(spark, base.filter(F.col("doc_id") >= EVAL_SET_SIZE))
    eval_grams = map_docs(spark, eval_docs, gk, "gram bigint").select("gram").distinct()
    corpus_grams = map_docs(spark, corpus_docs, gk, "gram bigint")
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_grams"))
    )
    return (
        base.filter(F.col("doc_id") >= EVAL_SET_SIZE)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("overlap_grams"), F.lit(0)).alias("overlap_grams"),
            (F.coalesce(F.col("overlap_grams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


DECONTAMINATE_SQL = f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
grams AS (SELECT doc_id,
                 list_distinct(list_transform({_gram_expr_duck(DECON_NGRAM)},
                                              g -> {_duck_hash60('g')})) AS grams
          FROM w),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE doc_id < {EVAL_SET_SIZE}
),
corpus AS (SELECT * FROM grams WHERE doc_id >= {EVAL_SET_SIZE}),
hits AS (
  SELECT doc_id, count(*) AS overlap_grams
  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) c
  WHERE gram IN (SELECT gram FROM eval_grams)
  GROUP BY doc_id
)
SELECT corpus.doc_id AS doc_id,
       coalesce(hits.overlap_grams, 0) AS overlap_grams,
       coalesce(hits.overlap_grams, 0) > 0 AS contaminated
FROM corpus LEFT JOIN hits ON corpus.doc_id = hits.doc_id
"""

QUERIES["decontaminate_against_eval"] = (
    decontaminate_against_eval,
    DECONTAMINATE_SQL,
)


# -- duplicate clusters: connected components over verified pairs ----------
# Pairs are only half the dedup story: A~B and B~C must collapse into
# ONE cluster {A,B,C} with one canonical doc.  Connected components via
# iterative minimum-label propagation + pointer doubling — the
# large-graph algorithm (hash-joins per round, no single-machine
# union-find): each round every vertex adopts the min label among
# itself and its neighbors (one hop), then jumps to its label's label
# (pointer doubling — the "small-star" move of Kiveris et al.'s
# alternating algorithm).  The hop moves the min one edge per round;
# the jump compresses label chains exponentially, so a PATH graph of n
# vertices (the worst case: a chained-near-dup crawl A~B~C~...)
# converges in O(log n) combined rounds instead of O(n) — 20 rounds
# covers components of diameter far beyond any real corpus.
# Convergence is checked by an aggregate-only fixpoint probe (count of
# changed labels — never a collect of data).
MAX_CC_ROUNDS = 20
# labels.localCheckpoint every this many rounds: min-label propagation
# lineage grows one join+groupBy per round, and past ~10 rounds the
# re-planned DAG dominates round time on a real cluster; checkpointing
# materializes the labels and truncates the chain.
CC_CHECKPOINT_EVERY = 5


class CCNotConverged(RuntimeError):
    """Raised when min-label propagation hits the round cap with labels
    still changing — returning the partial labels would silently split
    one long duplicate chain into several clusters ("no silent caps")."""


def connected_components(edges, max_rounds=MAX_CC_ROUNDS, checkpoint_release=None):
    """Connected components over a (doc_a, doc_b) edge DataFrame ->
    (doc_id, cluster_id = min reachable doc_id), by min-label
    propagation with pointer doubling.

    Each round: (1) every vertex takes the min label over itself and
    its neighbors (one hop), (2) every vertex jumps to its label's
    label (pointer doubling).  The doubling step compresses label
    chains exponentially, so even a PATH graph (chained near-dups,
    the O(diameter) killer for plain propagation) converges in
    O(log n) combined rounds — a correct fixpoint is still a fixpoint
    of step (1) alone, so labels are constant across every edge when
    the change count hits zero.  If ``max_rounds`` is hit with labels
    still changing the result is WRONG (one component split into
    several), so this raises :class:`CCNotConverged` instead of
    returning it ("no silent caps").

    ``checkpoint_release``: optional list — a zero-arg callable
    releasing the FINAL ``localCheckpoint`` backing the returned
    DataFrame is appended to it.  The final checkpoint is the
    recompute root of the result, so it cannot be freed here; if the
    caller never invokes the callable, a long-lived session
    accumulates one materialized label table per call until JVM GC
    (harmless for a batch job, real for a service — ADVICE r04).
    """
    bidir = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        bidir.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
    )
    # small graph per cluster: cache the edge list once; each round is
    # one join + one groupBy
    bidir = bidir.cache()
    sc = edges.sparkSession.sparkContext

    def _persistent_ids():
        m = sc._jsc.sc().getPersistentRDDs()
        lst = m.toList()
        return {lst.apply(i)._1() for i in range(m.size())}

    def _unpersist_ids(ids):
        # localCheckpoint'ed RDDs never register with the CacheManager
        # (Dataset.unpersist is a no-op on them, is_cached stays
        # False), so superseded checkpoints must be released via the
        # SparkContext's persistent-RDD map — otherwise storage grows
        # by one label-table copy per checkpoint until JVM GC.
        # LIFETIME RULE: a checkpoint is a lineage-truncated recompute
        # root for every cached round that follows it, so it is only
        # released AFTER the next checkpoint materializes (see the
        # loop) — dropping it earlier would make a later cache-block
        # eviction unrecoverable.  Id attribution assumes this loop is
        # the only code persisting RDDs on the session while it runs
        # (true for a batch dedup job; a concurrently-persisting
        # session could be mis-attributed by the snapshot diff).
        m = sc._jsc.sc().getPersistentRDDs()
        lst = m.toList()
        for i in range(m.size()):
            pair = lst.apply(i)
            if pair._1() in ids:
                pair._2().unpersist(False)

    labels_ckpt_ids: set = set()
    changed = 0
    try:
        for rnd in range(1, max_rounds + 1):
            neighbor_min = (
                bidir.join(labels, bidir.doc_b == labels.doc_id)
                .groupBy(bidir.doc_a)
                .agg(F.min("label").alias("nmin"))
                .withColumnRenamed("doc_a", "doc_id")
            )
            new_labels = (
                labels.join(neighbor_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    ).alias("label"),
                )
            )
            # pointer doubling: label <- label-of-label.  Labels always
            # name a vertex of the same component (init label = doc_id,
            # the hop takes mins of labels, the jump maps through
            # labels), so the left join hits whenever the label vertex
            # exists — coalesce only guards the theoretical miss.  The
            # self-joined min-prop subtree shares its Exchange via
            # ReusedExchange, so the round stays one shuffle heavier,
            # not recomputed twice.
            ptr = new_labels.select(
                F.col("doc_id").alias("_ptr"), F.col("label").alias("_plabel")
            )
            new_labels = (
                new_labels.join(ptr, new_labels.label == ptr._ptr, "left")
                .select(
                    "doc_id",
                    F.coalesce("_plabel", "label").alias("label"),
                )
            )
            new_ckpt_ids: set = set()
            if rnd % CC_CHECKPOINT_EVERY == 0:
                # truncate the join-per-round lineage (eager = also
                # materialized, so dropping the old cache below is safe)
                before = _persistent_ids()
                new_labels = new_labels.localCheckpoint(eager=True)
                new_ckpt_ids = _persistent_ids() - before
            else:
                new_labels = new_labels.cache()
            changed = (
                labels.withColumnRenamed("label", "old")
                .join(new_labels, "doc_id")
                .filter(F.col("old") != F.col("label"))
                .count()
            )
            # the changed-count just materialized new_labels, so the
            # previous round's copy is dead weight from here on — without
            # this, executor storage grows O(rounds x labels) and evicts
            # hot blocks on a large corpus
            if labels.is_cached:
                labels.unpersist()
            if new_ckpt_ids:
                # a NEW lineage-truncated root now exists and the last
                # pre-checkpoint cache was just dropped, so no live
                # plan can recompute through the OLD checkpoint — only
                # now is it safe to release (see _unpersist_ids rule)
                if labels_ckpt_ids:
                    _unpersist_ids(labels_ckpt_ids)
                labels_ckpt_ids = new_ckpt_ids
            labels = new_labels
            if changed == 0:
                break
    finally:
        bidir.unpersist()
    if changed != 0:
        # nothing useful will be returned — free the working state
        # before raising (ADVICE r05: the last checkpoint otherwise
        # leaks until JVM GC with no release handle)
        if labels.is_cached:
            labels.unpersist()
        if labels_ckpt_ids:
            _unpersist_ids(labels_ckpt_ids)
        raise CCNotConverged(
            f"connected_components still had {changed} changing labels after"
            f" {max_rounds} rounds — with pointer doubling that means a"
            f" component needing more than ~2^{max_rounds} propagation"
            " steps (or a pathological label cycle); raise max_rounds"
            " (each round is two joins + one groupBy) or run exact dedup"
            " upstream to collapse the chain"
        )
    if checkpoint_release is not None:
        # the final labels may be (a) only cached (converged before the
        # first checkpoint round — ADVICE r05's uncovered case), (b) a
        # localCheckpoint, or (c) a cache whose recompute root is the
        # last checkpoint: release the cache first, then the checkpoint
        _final_labels = labels
        _final_ids = set(labels_ckpt_ids)

        def _release():
            if _final_labels.is_cached:
                _final_labels.unpersist()
            if _final_ids:
                _unpersist_ids(_final_ids)

        checkpoint_release.append(_release)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# Session-scoped release registry for the batch path (VERDICT r05
# item 5): the final label table of a connected_components call cannot
# be freed before the caller consumes the result, so each
# dedup_clusters call parks its release callable here and DRAINS the
# previous call's — storage holds at most ONE label table at a time
# across back-to-back runs in a session (pinned by
# tests/test_checkpoint_release.py).  Safe under the batch model where
# a result is consumed before the next builder runs; a caller that
# interleaves two live cluster DataFrames should pass its own
# ``checkpoint_release`` list instead.
_CC_PENDING_RELEASES: list = []


def drain_cc_releases():
    """Release label tables parked by previous dedup_clusters calls."""
    while _CC_PENDING_RELEASES:
        _CC_PENDING_RELEASES.pop()()


# Edge-count gate for the driver-side union-find fast path: the edge
# list is the VERIFIED near-dup pair set — the output of an oracled
# query, orders of magnitude smaller than the corpus — so up to this
# many edges it is broadcast-class and a single-pass union-find beats
# ~10 distributed label-propagation rounds of per-round job overhead
# (measured 15 s of rounds for a few-hundred-edge graph at local[32]).
# Past the gate the distributed pointer-doubling path runs unchanged —
# the same two-regime design as GraphX/GraphFrames CC.
CC_SMALL_GRAPH_MAX_EDGES = 2_000_000


def _union_find_clusters(edge_rows):
    """min-reachable-id labels for a small edge list (exact twin of the
    distributed fixpoint: cluster_id = min doc_id in the component)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    cluster_min: dict = {}
    for v in parent:
        r = find(v)
        m = cluster_min.get(r)
        if m is None or v < m:
            cluster_min[r] = v
    return [(v, cluster_min[find(v)]) for v in parent]


def dedup_clusters(spark, sf_dir):
    """(doc_id, cluster_id) for every doc in a verified near-dup pair;
    cluster_id = min doc_id reachable through the pair graph.  Raises
    :class:`CCNotConverged` rather than ever returning split clusters
    from an un-converged propagation.

    r07: graphs up to ``CC_SMALL_GRAPH_MAX_EDGES`` verified pairs run
    a driver-side union-find over the collected edge list (bounded by
    a limit probe, so the oversize case never materializes on the
    driver) — identical labels by construction, none of the per-round
    scheduling overhead.  Bigger graphs take the distributed
    pointer-doubling path, whose final label table (cache or
    localCheckpoint) is parked on the session release registry and
    freed when the NEXT dedup_clusters call starts (or via
    :func:`drain_cc_releases`)."""
    import pyarrow as pa

    edges = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    tbl = bounded_collect(edges, CC_SMALL_GRAPH_MAX_EDGES)
    if tbl is not None:
        labels = _union_find_clusters(
            zip(tbl.column("doc_a").to_pylist(), tbl.column("doc_b").to_pylist())
        )
        id_type = tbl.schema.field("doc_a").type
        return spark.createDataFrame(
            pa.table(
                {
                    "doc_id": pa.array([v for v, _ in labels], type=id_type),
                    "cluster_id": pa.array([c for _, c in labels], type=id_type),
                }
            )
        )
    drain_cc_releases()
    return connected_components(edges, checkpoint_release=_CC_PENDING_RELEASES)


def _clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_jaccard_sql()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


QUERIES["dedup_clusters"] = (dedup_clusters, _clusters_sql())


def dedup_cluster_stats(spark, sf_dir):
    """The audit for ``dedup_clusters`` (house audited-caps pattern —
    every multi-stage op ships its audit): cluster count, clustered
    docs, the largest cluster, and how many clusters are CHAINS
    (size >= 3 — components that exist only because of transitive
    near-dup edges, the class pointer doubling exists for).  Exact
    integers; one groupBy over the label table + single-row rollup."""
    c = dedup_clusters(spark, sf_dir)
    per = c.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return per.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs_clustered"),
        F.max("sz").cast("bigint").alias("max_cluster_size"),
        F.sum(F.when(F.col("sz") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_transitive_clusters"),
    )


def _cluster_stats_sql() -> str:
    return f"""
WITH labels AS ({_clusters_sql()}),
per AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
       CAST(max(sz) AS BIGINT) AS max_cluster_size,
       CAST(sum(CASE WHEN sz >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_transitive_clusters
FROM per
"""


QUERIES["dedup_cluster_stats"] = (dedup_cluster_stats, _cluster_stats_sql())


# -- deterministic dataset split --------------------------------------------
# Train/val/test assignment must be a PURE FUNCTION of the document id
# (stable under re-runs, resumes, and corpus growth — never a random()
# that reshuffles docs between splits on every run).  The portable
# 32-bit hash keys the split so both engines agree bit-for-bit; at
# 100 TB this is a map-side projection, zero shuffle.
SPLIT_BUCKETS = 100
VAL_PCT = 5
TEST_PCT = 5
_SPLIT_BUCKET = f"pmod({_spark_hash('CAST(doc_id AS STRING)')}, {SPLIT_BUCKETS})"
# the split label of doc_id: dataset_split, split_leakage_audit and
# extraction.build_training_set all assign it with this one CASE
_SPARK_SPLIT = (
    f"CASE WHEN {_SPLIT_BUCKET} < {VAL_PCT} THEN 'val'"
    f" WHEN {_SPLIT_BUCKET} < {VAL_PCT + TEST_PCT} THEN 'test'"
    f" ELSE 'train' END"
)


def dataset_split(spark, sf_dir):
    """(doc_id, bucket, split) — hash-stable train/val/test labels."""
    return read(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SPLIT_BUCKET} AS bucket", f"{_SPARK_SPLIT} AS split"
    )


DATASET_SPLIT_SQL = f"""
SELECT doc_id,
       {_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS} AS bucket,
       CASE WHEN {_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS} < {VAL_PCT} THEN 'val'
            WHEN {_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS} < {VAL_PCT + TEST_PCT} THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""

QUERIES["dataset_split"] = (dataset_split, DATASET_SPLIT_SQL)


# -- split-leakage audit -----------------------------------------------------
# The eval-integrity check every training pipeline must run AFTER
# splitting: does any content hash span two splits?  Splits key on
# doc_id, so a re-crawled duplicate (same content, new id) can land
# its copies in train AND val — exactly the leak that inflates eval.
# The driver corpus has no exact duplicates, so redelivery is
# SIMULATED deterministically (the non-vacuous-oracle rule, same as
# events_dedup_replayed's planted redeliveries): every doc_id % 25 ==
# 0 is re-crawled under doc_id + RECRAWL_OFFSET.
RECRAWL_MOD = 25
RECRAWL_OFFSET = 1_000_000


def split_leakage_audit(spark, sf_dir):
    """Single-row audit: content hashes and documents whose hash spans
    more than one train/val/test split.  Exact integers only.

    Scale shape: one content-hash groupBy (map-side partial agg; the
    countDistinct over the 3-value split column is a tiny state per
    key) + a single-row rollup — the same plan at any corpus size.
    The remediation path for real leaks is exact dedup BEFORE
    splitting (dedup_exact / build_training_set do exactly that)."""
    d = read(spark, sf_dir, "documents")
    recrawl = d.filter(F.col("doc_id") % RECRAWL_MOD == 0).select(
        (F.col("doc_id") + RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    u = d.select("doc_id", "text").unionByName(recrawl)
    # this query's entire output hinges on the content hash (see
    # common.content_hash for its engine-portable whitespace class)
    hashed = u.select(
        content_hash().alias("content_hash"), F.expr(_SPARK_SPLIT).alias("split")
    )
    per_hash = hashed.groupBy("content_hash").agg(
        F.count("*").alias("n_docs_h"),
        F.countDistinct("split").alias("n_splits"),
    )
    return per_hash.agg(
        F.sum("n_docs_h").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_content_hashes"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaked_hashes"),
        F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs_h")).otherwise(0))
        .cast("bigint")
        .alias("n_leaked_docs"),
    )


SPLIT_LEAKAGE_SQL = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {RECRAWL_OFFSET}, text FROM documents
  WHERE doc_id % {RECRAWL_MOD} = 0
),
h AS (
  SELECT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS content_hash,
         CASE WHEN {_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS} < {VAL_PCT} THEN 'val'
              WHEN {_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS} < {VAL_PCT + TEST_PCT} THEN 'test'
              ELSE 'train' END AS split
  FROM u
),
p AS (
  SELECT content_hash, count(*) AS n_docs_h, count(DISTINCT split) AS n_splits
  FROM h GROUP BY content_hash
)
SELECT CAST(sum(n_docs_h) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_content_hashes,
       CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_hashes,
       CAST(sum(CASE WHEN n_splits > 1 THEN n_docs_h ELSE 0 END) AS BIGINT) AS n_leaked_docs
FROM p
"""

QUERIES["split_leakage_audit"] = (split_leakage_audit, SPLIT_LEAKAGE_SQL)
