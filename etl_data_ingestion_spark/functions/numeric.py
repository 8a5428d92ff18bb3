"""The floor snap: the one place the registry's decimal-rounding
policy is written.

Every floating output is published at a fixed scale d, identically in
the operator and its oracle (SURVEY.md §7.4), as

    FLOOR(x * 10^d + 0.5) / 10^d

and never as ROUND: DuckDB's fuzzy double ROUND and Spark's HALF_UP
can disagree on the SAME input double at a decimal-half boundary,
while multiply/add/floor is pure IEEE and bit-identical across engines
on identical inputs. Halves of negative values snap toward +inf (not
away from zero); applied identically in both engines, so the
published quantity is well-defined. Oracles spell the expression out
literally.

``snap`` gives the double result, ``fixed`` the BIGINT count of 10^-d
units (cents at d=2, micro at d=6, nano at d=9) that exact integer
sums are built from, and ``units`` the floored count itself, for a
numpy array or a Python float as well as a Column. The scale is the
Python int 10^d: on a double column Catalyst folds it to the same
double literal a float scale gives, and on a decimal or bigint column
it keeps the multiply in the column's own type, as an int literal in
the expression does. A caller that wants the double multiply there
casts its input to double first.

The snapped input is often a partition-order-dependent double sum, so
a value within one ulp of a half-unit boundary could floor differently
in the two engines (or across Spark shuffle orders). The snap does not
remove that residual nondeterminism; it narrows it to the measure-zero
boundary set. The mitigations, in order of preference: (1) sum exact
INTEGERS upstream (cents, counts, 2x-scaled ranks, ``fixed``) so the
snapped quantity is order-free and the snap is exact; (2) where a
double sum is unavoidable (revenue aggregates feeding a ratio), snap
at a scale coarse enough that both engines' sums agree to well under
half a unit at every sweep scale. That is verified empirically by the
multi-scale parity sweep, not proven; a boundary hit surfaces there as
a mismatch first. No operator treats the snap as a proof.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def units(x, decimals: int, floor=F.floor):
    """FLOOR(x*10^d + 0.5): ``x`` in whole 10^-d units (no multiply at
    d=0). ``floor`` is ``np.floor`` for a numpy array and
    ``math.floor`` for a Python float."""
    return floor((x * 10**decimals if decimals else x) + 0.5)


def snap(x, decimals: int, floor=F.floor):
    """FLOOR(x*10^d + 0.5)/10^d — the deterministic half-up decimal
    snap."""
    return units(x, decimals, floor) / 10**decimals


def fixed(col, decimals: int):
    """FLOOR(x*10^d + 0.5) as BIGINT: the count of 10^-d units."""
    return units(col, decimals).cast("long")
