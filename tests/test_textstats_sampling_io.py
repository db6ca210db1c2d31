"""Text stats, sampling/splits and IO round-trips."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quality_filter.io import (
    read_jsonl,
    read_jsonl_repair,
    repair_stringified_array,
    write_jsonl,
    write_tsv_freq,
)
from quality_filter.sampling import (
    deterministic_split,
    downsample_label,
    sample_uniform,
    seeded_shuffle,
    shard,
    stratified_split_sampled,
)
from quality_filter.textstats import with_quality_score


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="qf_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_quality_score_orders(spark):
    df = spark.createDataFrame(
        [
            (1, "The committee reviewed the proposal and agreed on the next "
                "steps for the project with a clear timeline in mind."),
            (2, "$$$ ### !!!"),
            (3, "word word word word word word"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert got[1] > got[3] > got[2]


def test_quality_score_hand_computed(spark):
    """quality_score equals the formula restated in plain Python (ASCII
    text, so ``str.isalpha`` counts what ``\\p{L}`` counts): length
    saturation at 500 chars, letter density, distinct-word ratio and
    stopword share, banker's-rounded to 3 decimals."""
    import re

    from quality_filter.textstats import STOPWORDS
    from tests.oracle import _bround3

    def ref(text):
        words = re.split(r"[ \t\n\x0b\f\r]+", text.lower())
        n = len(text)
        stop = sum(1 for w in words if w in STOPWORDS) / max(1, len(words))
        alpha = sum(1 for ch in text if ch.isalpha()) / max(1, n)
        rep = len(set(words)) / max(1, len(words))
        len_sat = min(n, 500) / 500.0
        return _bround3(
            0.3 * len_sat + 0.25 * alpha + 0.25 * rep + 0.2 * min(stop * 4.0, 1.0)
        )

    texts = [
        "The committee reviewed the proposal and agreed on the next steps.",
        "$$$ ### !!!",
        "word word word word word word",
        "",
        "Tabs\tand  double  spaces, 42 digits",
        " ".join(["the data is clean and it is fine"] * 20),
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {r["id"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}


# --- sampling --------------------------------------------------------------

def test_deterministic_split_weights_and_stability(spark):
    df = spark.range(10000).withColumnRenamed("id", "key")
    s1 = deterministic_split(df, "key")
    s2 = deterministic_split(df.repartition(7), "key")
    c = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(c["train"] / 10000 - 0.7) < 0.02
    assert abs(c["val"] / 10000 - 0.15) < 0.02
    m1 = {r["key"]: r["split"] for r in s1.collect()}
    m2 = {r["key"]: r["split"] for r in s2.collect()}
    assert m1 == m2  # partition-invariant


def test_sampled_family_runs(spark):
    df = spark.createDataFrame(
        [(i, "Clean" if i % 5 else "Junk") for i in range(1000)], "id long, label string"
    )
    assert sample_uniform(df, 10).count() == 10
    down = downsample_label(df, "label", "Clean", 0.1)
    counts = {r["label"]: r["n"] for r in down.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert counts["Junk"] == 200 and counts["Clean"] < 200
    tr, va, te = stratified_split_sampled(df, "label")
    assert tr.count() + va.count() + te.count() == 1000
    assert shard(df, "id", 5, 0).count() + sum(shard(df, "id", 5, i).count() for i in range(1, 5)) == 1000
    assert seeded_shuffle(df).first() is not None


# --- io --------------------------------------------------------------------

def test_jsonl_roundtrip_unicode(spark, tmpdir):
    df = spark.createDataFrame(
        [(1, "héllo wörld 中文"), (2, 'quotes "and" backslash \\')],
        "id long, text string",
    )
    write_jsonl(df, f"{tmpdir}/out")
    back = read_jsonl(spark, f"{tmpdir}/out", T.StructType([
        T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]))
    got = {r["id"]: r["text"] for r in back.collect()}
    assert got == {1: "héllo wörld 中文", 2: 'quotes "and" backslash \\'}
    # ensure_ascii=False equivalence: raw bytes contain the unicode chars
    import glob
    raw = b"".join(open(f, "rb").read() for f in glob.glob(f"{tmpdir}/out/part-*"))
    assert "héllo".encode() in raw and "中文".encode() in raw


def test_compressed_roundtrip(spark, tmpdir):
    """S2/S12 at runtime.  Text-file zstd needs the native hadoop codec
    (absent in this sandbox: only bzip2/deflate/snappy/lz4/gzip), so the
    compressed-JSONL path is exercised with gzip and zstd is attempted
    first; the parquet writer's zstd (bundled zstd-jni, the S12 recompress
    analog for table storage) is asserted unconditionally."""
    import glob

    df = spark.createDataFrame(
        [(i, f"zeile {i} mit ünïcode 中文") for i in range(100)],
        "id long, text string",
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("text", T.StringType())])

    codec, ext, magic = "zstd", ".zst", b"\x28\xb5\x2f\xfd"
    try:
        write_jsonl(df, f"{tmpdir}/z", compression=codec)
    except Exception:
        codec, ext, magic = "gzip", ".gz", b"\x1f\x8b"
        write_jsonl(df, f"{tmpdir}/z", compression=codec)
    files = glob.glob(f"{tmpdir}/z/part-*")
    assert files and all(f.endswith(ext) for f in files), files
    assert all(open(f, "rb").read(len(magic)) == magic for f in files)
    back = read_jsonl(spark, f"{tmpdir}/z", schema)
    got = {r["id"]: r["text"] for r in back.collect()}
    assert len(got) == 100 and got[7] == "zeile 7 mit ünïcode 中文"

    # parquet zstd: works everywhere (zstd-jni ships with Spark)
    df.write.mode("overwrite").option("compression", "zstd").parquet(f"{tmpdir}/pz")
    pfiles = glob.glob(f"{tmpdir}/pz/part-*.parquet")
    assert pfiles and ".zstd." in pfiles[0]
    assert spark.read.parquet(f"{tmpdir}/pz").count() == 100


def test_jsonl_repair(spark, tmpdir):
    import os
    os.makedirs(f"{tmpdir}/in")
    with open(f"{tmpdir}/in/data.jsonl", "w") as f:
        f.write('{"id": 1, "text": "ok"}\n')
        f.write("this is not json\n")
        f.write('{"id": 2, "text": "also ok"}\n')
        f.write("\n")  # blank line skipped (S1 semantics)
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("text", T.StringType())])
    good, bad = read_jsonl_repair(spark, f"{tmpdir}/in", schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 2]
    assert bad.count() == 1


def test_repair_stringified_array(spark):
    df = spark.createDataFrame(
        [(1, "[0.1, 0.2]"), (2, "[1.0]")], "id long, line_quality string"
    )
    out = {r["id"]: r["line_quality"] for r in
           repair_stringified_array(df, "line_quality").collect()}
    assert out[1] == [0.1, 0.2] and out[2] == [1.0]


def test_tsv_freq_sink(spark, tmpdir):
    df = spark.createDataFrame(
        [(x,) for x in ["a", "b", "a", "c", "a", "b"]], "label string"
    )
    write_tsv_freq(df, f"{tmpdir}/freq")
    import glob
    lines = open(glob.glob(f"{tmpdir}/freq/part-*")[0]).read().strip().split("\n")
    assert lines == ["a\t3", "b\t2", "c\t1"]
