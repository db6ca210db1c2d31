from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from quality_filter.session import get_spark
from quality_filter.synth import synth_transcripts


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "quality_filter_tests",
        cores=4,  # 8 shuffle partitions (2 × cores)
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcript table (~200 convs, skew included)."""
    df = synth_transcripts(spark, n_convs=60, seed=42, max_turns=25,
                           skew_convs=1, skew_turns=400)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcript_rows(transcripts):
    """Collected rows for oracle-side computation."""
    return transcripts.collect()
