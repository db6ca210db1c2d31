"""Property-based parity for the round-4 operators: eval report vs a
Python confusion-matrix implementation and Cohen's kappa vs its closed
form.

Pattern as in test_property_parity.py: hypothesis generates all examples
up front (deterministic), then ONE Spark job checks the whole batch."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st


def _gather(strategy, n_batches=12):
    out = []

    @settings(max_examples=n_batches, deadline=None, database=None, derandomize=True)
    @given(strategy)
    def g(x):
        out.append(x)

    g()
    return out


CLASSES = ["A", "B", "C", "D"]
PAIRS = st.lists(
    st.tuples(st.sampled_from(CLASSES), st.sampled_from(CLASSES)),
    min_size=1,
    max_size=60,
)


def _py_report(pairs):
    cm = Counter(pairs)
    classes = {c for p in pairs for c in p}
    rep = {}
    for c in classes:
        support = sum(n for (l, _), n in cm.items() if l == c)
        predicted = sum(n for (_, p), n in cm.items() if p == c)
        tp = cm.get((c, c), 0)
        prec = tp / predicted if predicted else 0.0
        rec = tp / support if support else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        rep[c] = (support, predicted, tp, prec, rec, f1)
    return rep


def _py_kappa(pairs):
    rep = _py_report(pairs)
    n = len(pairs)
    po = sum(v[2] for v in rep.values()) / n
    pe = sum(v[0] * v[1] for v in rep.values()) / (n * n)
    return (po - pe) / (1 - pe) if pe < 1.0 else 0.0


def test_eval_report_and_kappa_match_python(spark):
    from quality_filter.evalreport import cohen_kappa, eval_report

    examples = _gather(PAIRS)
    rows = [
        (ex_id, l, p)
        for ex_id, pairs in enumerate(examples)
        for l, p in pairs
    ]
    df = spark.createDataFrame(rows, "ex long, label string, prediction string")
    for ex_id, pairs in enumerate(examples):
        sub = df.filter(df.ex == ex_id)
        got = {
            r["class"]: (r["support"], r["predicted"], r["tp"],
                         r["precision"], r["recall"], r["f1"])
            for r in eval_report(sub).collect()
        }
        want = _py_report(pairs)
        assert set(got) == set(want), ex_id
        for c in want:
            assert got[c][:3] == want[c][:3], (ex_id, c)
            for g, w in zip(got[c][3:], want[c][3:]):
                assert g == pytest.approx(w), (ex_id, c)
        k = cohen_kappa(sub).collect()[0]["kappa"]
        assert k == pytest.approx(_py_kappa(pairs))
        assert -1.0 - 1e-9 <= k <= 1.0 + 1e-9
