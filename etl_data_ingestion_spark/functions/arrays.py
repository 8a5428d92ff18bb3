"""Array devices shared by operators."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def ordered_pairs(arr, left: str, right: str) -> Column:
    """All in-order pairs of an array as array<struct<left, right>>:
    element i pairs with every element after it. Over a sorted array
    of distinct elements that is exactly the x < y pairs a self-join
    on `a.x < b.x` would produce, expanded in-row by codegen'd
    transforms instead of a join; arrays shorter than 2 yield an
    empty array. Elements may be structs (read the fields as
    `p.<left>.<field>`)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(left), y.alias(right)),
            ),
        )
    )
