"""Array expressions shared by the pair-generating operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_pairs(arr: Column) -> Column:
    """Every pair ``(arr[i], arr[j])`` with ``i < j`` as
    ``array<struct<a, b>>``, in one pure-JVM indexed transform (no
    self-join, no Python): element ``i`` pairs with the slice after it.
    Over a sorted distinct array (``sort_array(collect_set(..))``) every
    pair has ``a < b``."""
    return F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + 2, F.size(arr)),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
