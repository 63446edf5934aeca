"""Dynamic value templates: ``$(field.path)`` -> Spark Column.

The reference embeds ``$(field)`` references in config strings and
resolves them per event with printf formatting
(/root/reference/lumbermill/utils/DynamicValues.py:152-215); ``%Y-%m-%d``
strftime patterns expand against *current UTC time* (:155-166), used for
time-partitioned sink paths.

Here the template compiles ONCE (driver side) into a ``concat`` of
literals and column references — per-row work is a JVM string concat.
Differences from the reference, on purpose:

- null field values render as '' (the reference renders Python ``None``
  or leaves the whole template unresolved on missing keys; both are
  artifacts of dict formatting, not semantics worth keeping);
- strftime expansion takes an explicit ``now`` (a datetime) instead of
  wall clock, so plans are deterministic and re-runnable (BASELINE
  determinism requirement).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

_REF_RE = re.compile(r"\$\(([\w.\-]+)\)")


def has_dynamic_refs(template: str) -> bool:
    return bool(_REF_RE.search(template))


def dynamic_or_lit(value, columns: list[str] | None = None) -> Column:
    """A config value as a Column: a string with ``$(field)`` refs
    compiles with dynamic_value_col, anything else is a literal."""
    if isinstance(value, str) and has_dynamic_refs(value):
        return dynamic_value_col(value, columns)
    return F.lit(value)


def dynamic_fields(template: str) -> list[str]:
    return _REF_RE.findall(template)


def dynamic_value_col(
    template: str,
    columns: list[str] | None = None,
    now: datetime | None = None,
) -> Column:
    """Compile a ``$(field)``/strftime template into a Column.

    columns: known column names; refs to unknown columns stay literal
    text (the reference leaves unresolvable templates as-is,
    DynamicValues.py:197-204). Dots in refs become struct access.
    """
    if now is None:
        now = datetime(1970, 1, 1, tzinfo=timezone.utc)
    if "%" in template:
        template = now.strftime(template)
    parts: list[Column] = []
    pos = 0
    for m in _REF_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        name = m.group(1)
        root = name.split(".")[0]
        if columns is None or root in columns:
            parts.append(F.coalesce(F.col(name).cast("string"), F.lit("")))
        else:
            parts.append(F.lit(m.group(0)))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)
