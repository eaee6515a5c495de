import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from swift_readability_spark.pipeline.session import build_session

    spark = build_session(
        app_name="srs-tests", master="local[*]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Small deterministic spans corpus: 40 synthetic docs (one
    mega-doc, ``syn-42-39``) plus all 130 fixtures when the reference
    checkout is present."""
    from swift_readability_spark.corpus.synth import FIXTURES_DIR, build_corpus

    out = tmp_path_factory.mktemp("corpus")
    build_corpus(
        str(out),
        n_synth=40,
        seed=42,
        include_fixtures=FIXTURES_DIR.is_dir(),
        mega_every=40,
    )
    return str(out)
