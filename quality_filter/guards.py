"""Driver-pull guards shared across modules.

Policy: the ONLY ``.collect()``s allowed in this package are (a) one-row
scalars that steer control flow (thresholds, convergence signatures) and
(b) BOUNDED vocabularies (label columns, the 9-label taxonomy) that
become broadcast literals.  ``bounded_collect`` enforces (b): it turns an
unbounded-cardinality misuse into a loud error instead of an unbounded
driver pull.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Distinct-value ceiling for vocabulary-style driver collects.
MAX_DRIVER_CARDINALITY = 100_000


def bounded_collect(df: DataFrame, what: str) -> list:
    """Collect a small aggregate to the driver with a cardinality guard
    (legitimate control-flow pull — thresholds, vocabularies — never
    data)."""
    rows = df.limit(MAX_DRIVER_CARDINALITY + 1).collect()
    if len(rows) > MAX_DRIVER_CARDINALITY:
        raise ValueError(
            f"{what} exceeds {MAX_DRIVER_CARDINALITY} distinct values — "
            "this operator assumes a bounded vocabulary (data sources / "
            "label taxonomy); use a join-based formulation for unbounded keys"
        )
    return rows
