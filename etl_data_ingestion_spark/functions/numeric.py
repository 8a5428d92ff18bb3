"""Cross-engine-deterministic numeric devices shared by operators.

The house float-parity discipline (COVERAGE.md round 7/8): decimal
snapping must NOT use ROUND — DuckDB's fuzzy double ROUND and
Spark's HALF_UP can disagree on the SAME input double at a
decimal-half boundary. The floor device below is pure IEEE
multiply/add/floor, bit-identical across engines on identical
inputs; oracles mirror it literally as
FLOOR(x * 10^d + 0.5) / 10^d. Halves of negative values snap toward
+inf (not away-from-zero); applied identically in both engines, so
the published quantity is well-defined.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def snap(col, decimals: int):
    """FLOOR(x*10^d + 0.5)/10^d — deterministic half-up decimal snap."""
    scale = float(10**decimals)
    return F.floor(col * scale + F.lit(0.5)) / scale
