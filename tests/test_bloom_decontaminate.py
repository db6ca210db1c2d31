"""Bloom-filter decontamination (quality_filter.curation): superset
guarantee vs the exact operator, bounded false positives, persistence
round-trip, broadcast-probe plan shape."""

import pytest


def _world(spark):
    """Training docs where ids 0-9 each embed one benchmark 8-gram and
    the rest are clean; a 3-doc benchmark."""
    bench_rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "one two three four five six seven eight nine ten eleven"),
        (2, "red orange yellow green blue indigo violet ultra infra deep"),
    ]
    docs = []
    for i in range(60):
        filler = " ".join(f"w{i}x{j}" for j in range(30))
        if i < 10:
            planted = bench_rows[i % 3][1]
            docs.append((i, f"{filler} {planted} {filler}"))
        else:
            docs.append((i, filler))
    return (
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(bench_rows, "doc_id long, text string"),
    )


def test_bloom_superset_of_exact_and_bounded_fp(spark):
    from quality_filter.cluster import decontaminate
    from quality_filter.curation import (
        build_decontamination_filter,
        decontaminate_bloom,
    )

    docs, bench = _world(spark)
    exact = {
        r["doc_id"]
        for r in decontaminate(docs, bench).filter("contaminated").collect()
    }
    assert exact == set(range(10))  # the planted world behaves

    bits, meta = build_decontamination_filter(bench)
    bloom_rows = decontaminate_bloom(docs, bits, meta).collect()
    bloom = {r["doc_id"] for r in bloom_rows if r["contaminated"]}
    assert bloom >= exact  # NO false negatives, ever
    assert len(bloom - exact) <= 2  # deterministic small FP margin
    # every doc gets a row, n_overlap >= 1 exactly for flagged docs
    assert len(bloom_rows) == 60
    assert all((r["n_overlap"] > 0) == r["contaminated"] for r in bloom_rows)


def test_bloom_filter_roundtrip(spark, tmp_path):
    from quality_filter.curation import (
        build_decontamination_filter,
        decontaminate_bloom,
        read_decontamination_filter,
        write_decontamination_filter,
    )

    docs, bench = _world(spark)
    bits, meta = build_decontamination_filter(bench)
    path = str(tmp_path / "bloomflt")
    write_decontamination_filter(bits, meta, path)
    bits2, meta2 = read_decontamination_filter(spark, path)
    assert meta2 == meta
    a = sorted(map(tuple, decontaminate_bloom(docs, bits, meta).collect()))
    b = sorted(map(tuple, decontaminate_bloom(docs, bits2, meta2).collect()))
    assert a == b


def test_bloom_filter_reader_rejects_old_scheme(spark, tmp_path):
    """A filter persisted under a different bit-positioning scheme (or a
    pre-versioning one, read as v1) must be rejected, not silently
    probed: different positions mean false NEGATIVES (ADVICE r8 #1)."""
    from quality_filter.curation import (
        build_decontamination_filter,
        read_decontamination_filter,
        write_decontamination_filter,
    )

    _, bench = _world(spark)
    bits, meta = build_decontamination_filter(bench)
    path = str(tmp_path / "bloomflt_old")
    write_decontamination_filter(bits, meta, path)
    # simulate a pre-r8 filter: meta row without the version column
    spark.createDataFrame(
        [(int(meta["m"]), int(meta["k"]), int(meta["n"]))], "m long, k int, n int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="scheme v1"):
        read_decontamination_filter(spark, path)


def test_bloom_probe_plan_is_broadcast_jvm_only(spark):
    """The 'join' probe (the unbounded-bitset fallback) stays pure-JVM:
    position explode + broadcast hash join, no Python nodes."""
    from quality_filter.curation import (
        build_decontamination_filter,
        decontaminate_bloom,
    )

    docs, bench = _world(spark)
    bits, meta = build_decontamination_filter(bench)
    plan = (
        decontaminate_bloom(docs, bits, meta, probe_impl="join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # all-JVM operator: no Python evaluation nodes anywhere
    assert "Python" not in plan and "MapInPandas" not in plan


def test_bloom_vector_probe_plan_and_parity(spark):
    """The r9 'vector' probe (the default at driver-safe bitset sizes)
    replaces the k-way position explode + join with ONE batched Arrow
    predicate per gram row: the plan carries an ArrowEvalPython node, no
    bitset join, and no position Generate; output is row-identical to
    the join probe."""
    from quality_filter.curation import (
        build_decontamination_filter,
        decontaminate_bloom,
    )

    docs, bench = _world(spark)
    bits, meta = build_decontamination_filter(bench)
    vec = decontaminate_bloom(docs, bits, meta, probe_impl="vector")
    plan = vec._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" not in plan.split("ArrowEvalPython")[0]
    a = sorted(map(tuple, vec.collect()))
    b = sorted(
        map(tuple, decontaminate_bloom(docs, bits, meta, probe_impl="join").collect())
    )
    assert a == b
    with pytest.raises(ValueError, match="probe_impl"):
        decontaminate_bloom(docs, bits, meta, probe_impl="nope")


def test_corpus_build_bloom_decontaminate_agrees(spark):
    """build_pretrain_corpus(decontaminate_impl='bloom') removes at
    least the exact impl's removals (superset flags → subset survivors)
    and agrees exactly at the default sizing on the planted world."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_corpus import _benchmark, _corpus

    from quality_filter.corpus import build_pretrain_corpus

    outs = {}
    for impl in ("exact", "bloom"):
        kept = build_pretrain_corpus(
            _corpus(spark), benchmark=_benchmark(spark),
            jaccard_threshold=0.5, decontaminate_impl=impl,
        )
        outs[impl] = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert outs["bloom"] <= outs["exact"]
    assert outs["bloom"] == outs["exact"]  # tiny world: no FPs at 24 bits
    with pytest.raises(ValueError, match="decontaminate_impl"):
        build_pretrain_corpus(
            _corpus(spark), benchmark=_benchmark(spark),
            decontaminate_impl="bogus",
        )
