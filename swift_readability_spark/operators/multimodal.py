"""Multimodal-column plumbing: opaque binary payloads with typed
metadata, processed in Arrow-batched Pandas stages.

The container has no image/audio codecs, so the actual decode is a
clearly-marked stub (``decode_image_real`` raises NotImplementedError;
``_fake_decode`` is a deterministic arithmetic stand-in).  Everything
Spark-side — the binary column, the mapInPandas batch shape, the
schema, the partition behavior — is real and oracle-checked where the
stub arithmetic is SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

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


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def media_decode_stub(spark, sf_dir):
    """mapInPandas decode stage over the binary column: Arrow batches
    in, feature rows out.  This is the exact plumbing a real
    decode/resize/frame-sample stage uses — swap ``_fake_decode`` for
    the codec call on a cluster with codecs installed."""
    from ..pipeline.session import ensure_package_on_workers, on_worker

    ensure_package_on_workers(spark)
    d = read(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def decode_batches(iterator):
        import pandas as pd

        for pdf in iterator:
            decoded = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                }
            )

    return d.mapInPandas(on_worker(decode_batches), _DECODE_SCHEMA)


# the stub arithmetic is SQL-expressible, so even the Pandas stage gets
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

_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_byte", T.IntegerType()),
    ]
)


def media_frame_sample(spark, sf_dir):
    """Frame sampling over the binary column — the 1->N mapInPandas
    shape a video pipeline uses (decode emits one row per *frame*, so
    output cardinality differs from input): up to FRAME_SAMPLE_K
    frames at a uniform byte stride per payload.  The 'frame' here is
    the byte at the sampled offset (deterministic stand-in — no video
    codecs in this container); the Spark-side batch shape, exploded
    output schema, and partition behavior are the real thing."""
    from ..pipeline.session import ensure_package_on_workers, on_worker

    ensure_package_on_workers(spark)
    d = read(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def sample_batches(iterator):
        import pandas as pd

        for pdf in iterator:
            doc_ids, idxs, offsets, fbytes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
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
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_offset": pd.Series(offsets, dtype="int64"),
                    "frame_byte": pd.Series(fbytes, dtype="int32"),
                }
            )

    return d.mapInPandas(on_worker(sample_batches), _FRAME_SCHEMA)


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
