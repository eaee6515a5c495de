"""Focused unit tests for the r07 session-3 kernel internals.

``_pair_hash_prefilter``'s vectorized sweep (composite-key sort,
32-bit truncation, per-task memo) and ``_bucket_hamming``'s
row-chunked LUT popcount both replaced per-pair Python loops; these
tests pin their semantics directly against brute-force references —
conservative keep (never drops a pair the exact rule keeps), duplicate
tolerance, chunk-boundary correctness, and the missing-id guard.
"""

import numpy as np
import pyarrow as pa
import pytest

from swift_readability_spark.operators.dedup import (
    SIMHASH_MAX_HAMMING,
    _bucket_hamming,
    _pair_hash_prefilter,
)


def _pack_map(sets):
    """(ids, offsets, flat) in the _shingle_hash_map layout from a
    {doc_id: iterable-of-uint64} dict."""
    packed = sorted((i, np.sort(np.array(list(v), dtype=np.uint64))) for i, v in sets.items())
    ids = np.array([i for i, _ in packed])
    lens = np.array([len(a) for _, a in packed], dtype=np.int64)
    offs = np.zeros(len(packed) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = (
        np.concatenate([a for _, a in packed])
        if packed
        else np.empty(0, dtype=np.uint64)
    )
    return ids, offs, flat


def _exact_survivors(sets, pairs, keep_scalar):
    out = []
    for a, b in pairs:
        ha, hb = set(sets[a]), set(sets[b])
        c = len(ha & hb)
        if keep_scalar(c, len(ha), len(hb)):
            out.append((a, b))
    return sorted(set(out))


@pytest.mark.parametrize("id_kind", ["int", "str"])
def test_prefilter_matches_bruteforce_with_duplicates(spark, id_kind):
    """Random hash sets, candidate stream WITH duplicates: the kernel's
    survivors equal the brute-force exact-rule set (the 32-bit
    truncation can only ADD survivors; on 48-bit-spread values at this
    size no truncation collision occurs, so equality holds), and
    duplicate candidate rows all receive the same verdict."""
    rng = np.random.default_rng(7)
    mk = (lambda i: i) if id_kind == "int" else (lambda i: f"doc-{i:03d}")
    sets = {}
    base = rng.integers(1, 1 << 48, size=40, dtype=np.uint64)
    for i in range(30):
        # overlapping sets: share a sliding window of the base pool
        take = base[(i % 10): (i % 10) + 12]
        extra = rng.integers(1, 1 << 48, size=5, dtype=np.uint64)
        sets[mk(i)] = np.unique(np.concatenate([take, extra]))
    pairs = []
    for i in range(30):
        for j in range(i + 1, 30):
            if rng.random() < 0.5:
                pairs.append((mk(i), mk(j)))
    # duplicate every third pair 5x (the pre-distinct candidate shape)
    dup_stream = []
    for k, p in enumerate(pairs):
        dup_stream.extend([p] * (5 if k % 3 == 0 else 1))
    id_t = "bigint" if id_kind == "int" else "string"
    df = spark.createDataFrame(dup_stream, f"doc_a {id_t}, doc_b {id_t}")
    got = _pair_hash_prefilter(
        spark,
        df,
        _pack_map(sets),
        lambda c, na, nb: 2 * c + 6 >= np.minimum(na, nb),
    ).distinct()
    got_pairs = sorted((r["doc_a"], r["doc_b"]) for r in got.collect())
    want = _exact_survivors(
        sets, pairs, lambda c, na, nb: 2 * c + 6 >= min(na, nb)
    )
    assert got_pairs == want
    assert len(want) > 0  # the test corpus must actually exercise keeps
    assert len(want) < len(set(pairs))  # ... and drops


def test_prefilter_conservative_under_truncation(spark):
    """Two values that collide in their high 32 bits but differ in the
    low bits: the truncated count INFLATES c, so the pair is KEPT (a
    false positive for the exact verify downstream) — never dropped."""
    a_vals = [np.uint64((5 << 32) | 1), np.uint64((9 << 32) | 2)]
    b_vals = [np.uint64((5 << 32) | 3), np.uint64((11 << 32) | 4)]
    # exact c = 0; truncated c = 1 (the 5<<32 prefix collides)
    sets = {0: a_vals, 1: b_vals}
    df = spark.createDataFrame([(0, 1)], "doc_a bigint, doc_b bigint")
    got = _pair_hash_prefilter(
        spark,
        df,
        _pack_map(sets),
        # rule chosen so c=0 drops and c=1 keeps at na=nb=2
        lambda c, na, nb: 2 * c >= np.minimum(na, nb),
    ).collect()
    assert len(got) == 1  # kept BECAUSE truncation is inflation-only


def test_prefilter_missing_doc_raises(spark):
    sets = {0: [np.uint64(1)], 1: [np.uint64(2)]}
    df = spark.createDataFrame([(0, 99)], "doc_a bigint, doc_b bigint")
    out = _pair_hash_prefilter(
        spark, df, _pack_map(sets), lambda c, na, nb: c >= 0
    )
    with pytest.raises(Exception, match="missing from hash map"):
        out.collect()


def test_prefilter_long_string_id_does_not_alias(spark):
    """A candidate id longer than every mapped id whose prefix IS a
    mapped id must not be truncated onto that id: it is unknown, so the
    guard raises KeyError instead of using the wrong doc's hash set."""
    sets = {"doc-1": [np.uint64(1)], "doc-2": [np.uint64(2)]}
    df = spark.createDataFrame(
        [("doc-1", "doc-2-unmapped")], "doc_a string, doc_b string"
    )
    out = _pair_hash_prefilter(
        spark, df, _pack_map(sets), lambda c, na, nb: c >= 0
    )
    with pytest.raises(Exception, match="KeyError.*missing from hash map"):
        out.collect()


def _brute_hamming_pairs(members, words):
    """Reference: all pairs whose popcount(xor) summed over the
    fingerprint ``words`` is <= SIMHASH_MAX_HAMMING, doc_a < doc_b in
    member (sorted) order; members with a null word are skipped."""
    out = []
    live = [m for m in members if all(m[w] is not None for w in words)]
    for i in range(len(live)):
        for j in range(i + 1, len(live)):
            h = sum(bin(live[i][w] ^ live[j][w]).count("1") for w in words)
            if h <= SIMHASH_MAX_HAMMING:
                out.append((live[i]["doc_id"], live[j]["doc_id"], h))
    return out


def _members_batch(members, words):
    """One bucket row: ``members`` as list<struct<doc_id, *words>>."""
    fields = [("doc_id", pa.int64())] + [(w, pa.int64()) for w in words]
    return pa.RecordBatch.from_arrays(
        [pa.array([members], type=pa.list_(pa.struct(fields)))], ["members"]
    )


def _hamming_pairs(batch):
    out = _bucket_hamming(batch)
    return list(zip(out["doc_a"], out["doc_b"], out["hamming"]))


def test_bucket_hamming_chunking_matches_bruteforce():
    """A bucket big enough to engage the row-chunk loop (n^2 > the 4M
    slot budget) produces exactly the brute-force pair set — chunk
    boundaries lose no pairs and duplicate none — for the 32-bit
    ``simhash`` members and for the two-word (fp_lo, fp_hi) 64-bit
    members of the wide operator."""
    for words in (("simhash",), ("fp_lo", "fp_hi")):
        bits = 32 * len(words)
        rng = np.random.default_rng(3)
        n = 2200  # n^2 = 4.84M slots -> 2+ chunks
        # cluster fingerprints so qualifying pairs exist across the bucket
        centers = rng.integers(0, 1 << bits, size=12, dtype=np.uint64)
        fps = []
        for i in range(n):
            c = int(centers[i % 12])
            if i % 3:
                c ^= 1 << int(rng.integers(0, bits))  # hamming 1 from center
            fps.append(c)
        # word k holds fingerprint bits [32k, 32k + 32)
        members = [
            {"doc_id": i, **{w: fp >> 32 * k & 0xFFFFFFFF for k, w in enumerate(words)}}
            for i, fp in enumerate(fps)
        ]
        members[100][words[-1]] = None  # null-fingerprint member skipped
        got = _hamming_pairs(_members_batch(members, words))
        want = _brute_hamming_pairs(members, words)
        assert sorted(got) == sorted(want)
        assert len(want) > 1000  # the cluster design must yield real mass


@pytest.mark.parametrize("word", [-1, 1 << 32])
def test_bucket_hamming_rejects_word_outside_uint32(word):
    """A fingerprint word the uint32 XOR cannot hold raises instead of
    wrapping silently onto another fingerprint."""
    members = [{"doc_id": 0, "simhash": 5}, {"doc_id": 1, "simhash": word}]
    with pytest.raises(ValueError, match="outside"):
        _hamming_pairs(_members_batch(members, ("simhash",)))
