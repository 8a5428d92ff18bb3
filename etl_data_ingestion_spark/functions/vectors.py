"""Vector expressions over array<float|double> columns — all JVM-side
(zip_with / aggregate / transform); no Python, no explode, no UDF.

At 100 TB the difference between these and a row-at-a-time Python UDF
is ~2 orders of magnitude; a Pandas UDF is the fallback only when the
math outgrows fold expressions (see similarity.py for where we draw
that line).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ as a JVM fold over the zipped arrays."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
