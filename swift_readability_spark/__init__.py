"""swift_readability_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of
lake-of-fire/swift-readability (a Swift port of Mozilla Readability.js
v0.6.0) as a Spark-first pipeline:

- ``core/``     pure-Python readability core (DOM, scoring, cleaning,
                metadata) — runs vectorized inside Arrow batches.
- ``spans/``    HTML <-> interleaved (kind, text, media_ref, offset)
                span-sequence codec (the corpus data model).
- ``pipeline/`` DataFrame-native corpus layer: one hash route on
                ``doc_id``, mapInArrow extraction, lineage + resume.
- ``operators/``corpus-level demo operators (top-k, dedup, similarity
                search, text analytics) expressed as native DataFrame
                plans with DuckDB-checkable SQL oracles.
"""

__version__ = "0.1.0"
