"""CLI entry points."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from quality_filter.synth import synth_transcripts


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="qf_scs_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cli_filter_roundtrip(spark, tmpdir):
    from quality_filter.cli import main

    df = synth_transcripts(spark, n_convs=25, seed=4)
    df.write.mode("overwrite").parquet(f"{tmpdir}/in")
    main([
        "filter", "--data-path", f"{tmpdir}/in", "--save-path", f"{tmpdir}/out",
        "--quality-labels", "all", "--filter", "--cores", "4",
    ])
    # the CLI reuses (and must NOT stop) the active test session
    out = spark.read.parquet(f"{tmpdir}/out")
    assert out.count() > 0
    assert out.filter("label != 'Clean'").count() == 0


def test_cli_checkpointed_run_matches_plain_run(spark, tmpdir):
    """`--manifest-path` runs the same pipeline bucket batch by bucket
    batch, and a second run with the same run id skips every bucket."""
    from quality_filter.cli import main

    synth_transcripts(spark, n_convs=25, seed=4).write.parquet(f"{tmpdir}/in")
    args = ["filter", "--data-path", f"{tmpdir}/in", "--quality-labels", "all", "--trim"]
    main(args + ["--save-path", f"{tmpdir}/plain"])
    ckpt = args + [
        "--save-path", f"{tmpdir}/ckpt",
        "--manifest-path", f"{tmpdir}/markers", "--run-id", "r1",
    ]
    main(ckpt)
    main(ckpt)  # resume: every bucket has its marker

    def rows(path):
        df = spark.read.parquet(path)
        return sorted(df.select("conv_id", "turn_idx", "text").collect())

    assert rows(f"{tmpdir}/ckpt") == rows(f"{tmpdir}/plain") != []


def test_cli_mutual_exclusion(tmpdir):
    from quality_filter.cli import main

    with pytest.raises(ValueError):
        main([
            "filter", "--data-path", "x", "--save-path", "y",
            "--quality-labels", "all", "--filter", "--trim",
        ])


def test_cli_salvage_min_doc_length_passthrough(spark, tmpdir):
    """--min-doc-length 1 must disable the gate (not silently remap to
    250), and the salvage default must be 250."""
    from quality_filter.cli import main

    # raw transcripts: the salvage job computes the language itself
    synth_transcripts(spark, n_convs=40, seed=9).write.mode("overwrite").parquet(
        f"{tmpdir}/in"
    )

    main(["salvage", "--data-path", f"{tmpdir}/in",
          "--save-path", f"{tmpdir}/out1", "--filter", "--min-doc-length", "1"])
    n_open = spark.read.parquet(f"{tmpdir}/out1").count()

    main(["salvage", "--data-path", f"{tmpdir}/in",
          "--save-path", f"{tmpdir}/out250", "--filter"])
    n_default = spark.read.parquet(f"{tmpdir}/out250").count()

    # the 250-char doc gate must drop strictly more than the open gate
    assert n_open > n_default, (n_open, n_default)
