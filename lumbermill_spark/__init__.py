"""lumbermill_spark — a PySpark-native log/telemetry pipeline engine.

A from-scratch re-expression of the LumberMill (dstore-dbap/LumberMill)
parse -> modify -> route -> output dataflow model as idiomatic PySpark:

- events are DataFrame rows (not mutable dicts),
- parsers/modifiers are Catalyst column expressions or Arrow-batched
  Python stages (vectorized kernels such as RE2 per batch; a per-row
  loop only where no vectorized engine runs the pattern),
- routing is filter-based DataFrame fan-out to per-sink parquet writes,
- enrichment is broadcast joins,
- interval aggregations (Facet/Metrics/Throttle/SimpleStats) are
  groupBy/window aggregates,
- durability (EventBuffer analog) is a checkpoint/lineage table plus
  idempotent per-sink overwrites.

Reference semantics are cited per-module as /root/reference/<file>:<line>.
No code is copied from the reference; it is a threads+queues Python
interpreter engine, this is a Spark plan builder.
"""

__version__ = "0.1.0"
