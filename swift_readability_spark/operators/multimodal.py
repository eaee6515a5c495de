"""Multimodal-column plumbing: opaque binary payloads with typed
metadata, processed in per-batch Arrow stages.

The container has no image/audio codecs, so the actual decode is a
clearly-marked stub (``decode_image_real`` raises NotImplementedError;
``_fake_decode`` is a deterministic arithmetic stand-in).  Everything
Spark-side — the binary column, the Arrow batch shape, the
schema, the partition behavior — is real and oracle-checked where the
stub arithmetic is SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..pipeline.session import map_batches
from .common import read


def payload_features(spark, sf_dir):
    """Binary payload stats, pure built-ins: byte length + sha256.
    The payload is the utf-8 encoding of ``text`` (stand-in for an
    image/audio blob column)."""
    d = read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(F.encode("text", "utf-8")).cast("bigint").alias("payload_bytes"),
        F.sha2(F.col("text"), 256).alias("payload_sha256"),
    )


PAYLOAD_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real decode path — requires an image codec, absent here."""
    raise NotImplementedError(
        "image decoding requires PIL/libvips, not available in this "
        "environment; the pipeline uses the deterministic stub instead"
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: 'dimensions' derived from the
    byte length, 'frames' from the first byte."""
    n = len(payload)
    width = n % 1024
    height = (n // 1024) % 1024
    n_frames = (payload[0] % 8 + 1) if payload else 0
    return width, height, n_frames


def media_decode_stub(spark, sf_dir):
    """Arrow decode stage over the binary column: one batch of payloads
    in, one feature row per payload out.  This is the exact plumbing a
    real decode/resize/frame-sample stage uses — swap ``_fake_decode``
    for the codec call on a cluster with codecs installed."""
    d = read(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def decode(batch):
        decoded = zip(*map(_fake_decode, batch.column("payload").to_pylist()))
        return dict(zip(("width", "height", "n_frames"), decoded))

    return map_batches(
        d, decode, "doc_id bigint, width bigint, height bigint, n_frames bigint"
    )


# the stub arithmetic is SQL-expressible, so even the Arrow stage gets
# a full value oracle: ascii() of the first char == first utf-8 byte
# for this ASCII corpus
DECODE_STUB_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) % 1024 AS BIGINT) AS width,
       CAST((octet_length(encode(text)) // 1024) % 1024 AS BIGINT) AS height,
       CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                 ELSE ascii(substr(text, 1, 1)) % 8 + 1 END AS BIGINT) AS n_frames
FROM documents
"""


QUERIES = {
    "payload_features": (payload_features, PAYLOAD_SQL),
    "media_decode_stub": (media_decode_stub, DECODE_STUB_SQL),
}


FRAME_SAMPLE_K = 4

def media_frame_sample(spark, sf_dir):
    """Frame sampling over the binary column — the 1->N shape a video
    pipeline uses (decode emits one row per *frame*, so output
    cardinality differs from input): up to FRAME_SAMPLE_K frames at a
    uniform byte stride per payload.  The 'frame' here is the byte at
    the sampled offset (deterministic stand-in — no video codecs in
    this container); the Spark-side batch shape, exploded output
    schema, and partition behavior are the real thing."""
    d = read(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def sample_frames(batch):
        doc_ids, idxs, offsets, fbytes = [], [], [], []
        for doc_id, p in zip(
            batch.column("doc_id").to_pylist(), batch.column("payload").to_pylist()
        ):
            n = len(p)
            if n == 0:
                continue
            k = min(FRAME_SAMPLE_K, n)
            stride = n // k
            for i in range(k):
                off = i * stride
                doc_ids.append(doc_id)
                idxs.append(i)
                offsets.append(off)
                fbytes.append(p[off])
        return {
            "doc_id": doc_ids,
            "frame_idx": idxs,
            "frame_offset": offsets,
            "frame_byte": fbytes,
        }

    return map_batches(
        d,
        sample_frames,
        "doc_id bigint, frame_idx int, frame_offset bigint, frame_byte int",
    )


# ASCII corpus: byte at offset == ascii(char at offset+1)
FRAME_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
f AS (
  SELECT doc_id, text, n,
         unnest(range(least({FRAME_SAMPLE_K}, n))) AS frame_idx
  FROM d WHERE n > 0
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * (n // least({FRAME_SAMPLE_K}, n)) AS BIGINT) AS frame_offset,
       CAST(ascii(substr(text, CAST(frame_idx * (n // least({FRAME_SAMPLE_K}, n)) AS INTEGER) + 1, 1)) AS INTEGER) AS frame_byte
FROM f
"""

QUERIES["media_frame_sample"] = (media_frame_sample, FRAME_SAMPLE_SQL)
