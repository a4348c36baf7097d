"""Label encoding (reference operator P10/F7, SURVEY.md §2.2).

The reference maps the activity string to a double class id with an
if/else chain (job/RecognizeActivity.java:187-200, duplicated at
:205-218).  The mapping is FIXED, not frequency-ordered — so the Spark
primitive is a ``F.when`` chain, *not* ``StringIndexer`` (which orders
by frequency and would scramble the class ids).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import EVENT_TYPE_LABELS


def encode_label(col: str | Column, mapping: Mapping[str, float]) -> Column:
    """CASE chain string -> double class id; unknown -> 0.0 (the
    reference's trailing ``else label = 0`` fallthrough,
    job/RecognizeActivity.java:199-200 initializes to 0)."""
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for name, code in mapping.items():
        expr = (
            F.when(c == name, F.lit(code))
            if expr is None
            else expr.when(c == name, F.lit(code))
        )
    assert expr is not None
    return expr.otherwise(F.lit(0.0))


def encode_event_type() -> Column:
    return encode_label("event_type", EVENT_TYPE_LABELS)


def label_case_sql(col: str, mapping: Mapping[str, float]) -> str:
    """The same CASE chain as ANSI SQL (for the DuckDB oracle)."""
    whens = " ".join(
        f"WHEN {col} = '{name}' THEN {code}" for name, code in mapping.items()
    )
    return f"CASE {whens} ELSE 0.0 END"
