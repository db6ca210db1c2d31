"""Known-defect pins for ``synth`` and ``session``: the synthetic seed is
mixed in 64-bit arithmetic, and ``get_spark`` leaves the local-dir choice
to a caller who made one."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import quality_filter.session as session
from quality_filter.synth import synth_transcripts


def test_synth_seed_mixes_in_64_bits(spark, transcripts):
    # the conftest table (seed 42); digest taken before the 64-bit fix
    digest = transcripts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*transcripts.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    assert (digest["n"], int(digest["h"])) == (1157, -144894414896642040712)
    # seed * 97 overflowed 32-bit arithmetic above ~2.2e7
    assert len(synth_transcripts(spark, n_convs=5, seed=30_000_000).collect()) > 0


class _RecordingConf:
    """Stands in for ``SparkSession.builder``: records ``get_spark``'s
    configuration instead of starting Spark."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.mark.parametrize(
    "extra_conf, env_dirs, tmpfs_default",
    [
        (None, None, True),
        ({"spark.local.dir": "/caller/dir"}, None, False),
        (None, "/env/dir", False),
    ],
)
def test_get_spark_tmpfs_local_dir_only_by_default(
    monkeypatch, extra_conf, env_dirs, tmpfs_default
):
    recorder, made = _RecordingConf(), []
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=recorder))
    monkeypatch.setattr(os.path, "isdir", lambda p: p == "/dev/shm")
    monkeypatch.setattr(os, "makedirs", lambda p, **_: made.append(p))
    if env_dirs is None:
        monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    else:
        monkeypatch.setenv("SPARK_LOCAL_DIRS", env_dirs)

    session.get_spark("t", cores=1, extra_conf=extra_conf)

    if tmpfs_default:
        assert made == ["/dev/shm/spark_local"]
        assert recorder.conf["spark.local.dir"] == "/dev/shm/spark_local"
    else:
        assert made == []
        assert recorder.conf.get("spark.local.dir") == (extra_conf or {}).get("spark.local.dir")
