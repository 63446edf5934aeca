"""Cross-module shared store — the set_internal/get_internal analog.

Reference: BaseModule.setInternal/getInternal
(/root/reference/lumbermill/BaseModule.py:234-235) backed by a
per-process dict, with utils/MultiProcessDataStore.py syncing values
across worker processes.

Spark shape: the driver holds the dict; a value consumed inside a plan
becomes either a literal (plan-build substitution — the common case:
tags, thresholds, lookup paths) or an ``sc.broadcast`` handle when a
module needs the value on executors inside a UDF. Unlike the reference
there is no mutation mid-stream: values are fixed at plan build, which
is exactly the semantics a distributed immutable plan can honor
(documented divergence; the reference's mid-run mutation is racy even
there).

``version`` counts ``set()`` calls. A plan built from the store's
values is stale once it moves: ``CompiledPipeline`` rebuilds its kept
DAG then (``set()`` also unpersists the old value's broadcast, which
such a plan may still use).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession


class InternalStore:
    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._values: dict[str, Any] = {}
        self._bc: dict[str, Any] = {}
        self.version = 0

    def set(self, key: str, value: Any = None) -> None:
        self._values[key] = value
        self.version += 1
        # invalidate any stale broadcast of the old value
        old = self._bc.pop(key, None)
        if old is not None:
            old.unpersist()

    def get(self, key: str, default: Any = None) -> Any:
        return self._values.get(key, default)

    def __contains__(self, key: str) -> bool:
        return key in self._values

    def broadcast(self, key: str):
        """sc.broadcast handle for executor-side consumption (UDFs);
        created lazily, cached per key."""
        if key not in self._bc:
            self._bc[key] = self._spark.sparkContext.broadcast(
                self._values[key])
        return self._bc[key]

    def resolve(self, value: Any) -> Any:
        """Config-value substitution: strings of the form
        '@internal:<key>' are replaced by the stored value at plan
        build (raises KeyError with the key named if unset)."""
        if isinstance(value, str) and value.startswith("@internal:"):
            key = value[len("@internal:"):]
            if key not in self._values:
                raise KeyError(
                    f"internal store has no value for {key!r} "
                    "(set it with misc.SetInternal or store.set)")
            return self._values[key]
        if isinstance(value, dict):
            return {k: self.resolve(v) for k, v in value.items()}
        if isinstance(value, list):
            return [self.resolve(v) for v in value]
        return value
