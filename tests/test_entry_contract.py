"""Per-operator DuckDB parity: each case in ``tests/duckdb_parity.py`` runs
a library operator at sf=0.01 and compares it against its DuckDB oracle
SQL — row count, column names, and exact sorted-row value equality."""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from tests.duckdb_parity import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rows_sorted(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    rel = ddb.sql(ORACLES[name])
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    a = _rows_sorted(scols, srows)
    b = _rows_sorted(dcols, drows)
    mism = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mism, f"{name}: {len(mism)} mismatched rows, first 3: {mism[:3]}"
