"""Property-based parity for the round-3 operators: connected
components vs a Python union-find and exact-substring dedup vs a direct
Python implementation of the spec.

Pattern as in test_property_parity.py: hypothesis generates all examples
up front (deterministic), then ONE Spark job checks the whole batch —
per-example Spark jobs would be minutes of overhead."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from quality_filter.cluster import connected_components
from quality_filter.dedup import substring_dedup

NS = 1_000_000  # id namespace per generated example


def _gather(strategy, n_batches=12):
    out = []

    @settings(max_examples=n_batches, deadline=None, database=None, derandomize=True)
    @given(strategy)
    def g(x):
        out.append(x)

    g()
    return out


# -- connected components vs union-find --------------------------------------

GRAPHS = st.tuples(
    st.integers(min_value=1, max_value=30),  # n nodes
    st.lists(
        st.tuples(st.integers(0, 29), st.integers(0, 29)), max_size=40
    ),
)


def _union_find(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    rep = {}
    for v in range(n):
        r = find(v)
        rep.setdefault(r, v)  # v ascending -> first seen is min
    return {v: rep[find(v)] for v in range(n)}


def test_connected_components_vs_union_find(spark):
    graphs = _gather(GRAPHS)
    nodes, edges, expected = [], [], {}
    for gi, (n, es) in enumerate(graphs):
        base = gi * NS
        es = [(a % n, b % n) for a, b in es]
        nodes += [base + v for v in range(n)]
        edges += [(base + a, base + b) for a, b in es]
        for v, r in _union_find(n, es).items():
            expected[base + v] = base + r
    ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id bigint")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "a bigint, b bigint"
    )
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == expected


# -- substring dedup vs python spec -------------------------------------------

WORDS = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=25
)
DOCS = st.lists(WORDS, min_size=1, max_size=12)


def _py_substring_dedup(docs: dict[int, list[str]], k: int = 5):
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for did in sorted(docs):
        ws = docs[did]
        for p in range(len(ws) - k + 1):
            occ.setdefault(tuple(ws[p : p + k]), []).append((did, p))
    marked: set[tuple[int, int]] = set()
    for gram, places in occ.items():
        if len(places) > 1:
            canon = min(places)
            for did, p in places:
                if (did, p) != canon:
                    marked.update((did, p + j) for j in range(k))
    out = {}
    for did, ws in docs.items():
        kept = [w for i, w in enumerate(ws) if (did, i) not in marked]
        out[did] = (" ".join(kept), len(ws) - len(kept))
    return out


def test_substring_dedup_vs_python(spark):
    batches = _gather(DOCS)
    docs: dict[int, list[str]] = {}
    for gi, batch in enumerate(batches):
        for di, ws in enumerate(batch):
            # empty word list is not constructible from a text column
            # (split('') is ['']) — represent as ['']
            docs[gi * NS + di] = ws or [""]
    df = spark.createDataFrame(
        [(did, " ".join(ws)) for did, ws in docs.items()],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in substring_dedup(df, k=5).collect()
    }
    assert got == _py_substring_dedup(docs, k=5)
