"""modifier.Field — the 26-action field multiplexer, as DataFrame transforms.

Reference: /root/reference/lumbermill/modifier/Field.py (action dispatch
:272-281, each action cited below). Every action is a Catalyst column
expression; only count-limited string_replace needs an Arrow UDF.

Semantics notes preserved from the reference:
- concat skips missing fields and treats them as '' (Field.py:418-433);
- map writes to ``{src}_mapped`` by default; unmappable values are kept
  only with keep_unmappable (Field.py:562-580);
- cast_to_int goes via float and bad values become 0 (Field.py:762-773);
- hash prefixes the salt: hash(salt + value) (Field.py:826-839);
- split/strip/join silently no-op when the source is missing/null.

Meta columns (doc_id/tokens/n_tok/source/event_type) are this engine's
analog of the reference's protected 'lumbermill' sub-dict, which ``keep``
never deletes (Field.py:370-373).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lumbermill_spark.functions.dynamic import dynamic_or_lit

META_COLUMNS = ("doc_id", "tokens", "n_tok", "source", "event_type")

_HASH_FUNCS = {
    "md5": F.md5,
    "sha1": F.sha1,
    "sha224": lambda c: F.sha2(c, 224),
    "sha256": lambda c: F.sha2(c, 256),
    "sha384": lambda c: F.sha2(c, 384),
    "sha512": lambda c: F.sha2(c, 512),
    # 32-bit murmur3 (Spark's builtin hash). Numeric, not hexdigest:
    # documented divergence from the reference's mmh3 option.
    "murmur": lambda c: F.hash(c).cast("string"),
    "xxhash64": lambda c: F.xxhash64(c).cast("string"),
}


def _java_quote(s: str) -> str:
    """Literal string -> Java regex matching it verbatim."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


# --------------------------------------------------------------------- #
# each action: (df, **config) -> DataFrame


def keep(df: DataFrame, source_fields: list[str], meta=META_COLUMNS) -> DataFrame:
    # Field.py:363-376 — unlisted fields dropped, engine metadata kept.
    cols = [c for c in df.columns if c in source_fields or c in meta]
    return df.select(*cols)


def delete(df: DataFrame, source_fields: list[str]) -> DataFrame:
    # Field.py:378-403
    return df.drop(*[c for c in source_fields if c in df.columns])


def insert(df: DataFrame, target_field: str, value: str) -> DataFrame:
    # Field.py:405-416 — if value names an existing field, copy it;
    # else resolve dynamic refs.
    if isinstance(value, str) and value in df.columns:
        col = F.col(value)
    else:
        col = dynamic_or_lit(value, df.columns)
    return df.withColumn(target_field, col)


def concat(df: DataFrame, source_fields: list[str], target_field: str) -> DataFrame:
    # Field.py:418-433 — missing fields contribute ''
    parts = [
        F.coalesce(F.col(fld).cast("string"), F.lit(""))
        for fld in source_fields
        if fld in df.columns
    ]
    return df.withColumn(target_field, F.concat(*parts) if parts else F.lit(""))


def _per_field(df, source_fields, target_fields, fn):
    targets = target_fields or source_fields
    out = df
    for src, tgt in zip(source_fields, targets):
        out = out.withColumn(tgt, fn(F.col(src)))
    return out


def lower(df: DataFrame, source_fields: list[str],
          target_fields: list[str] | None = None) -> DataFrame:
    return _per_field(df, source_fields, target_fields, F.lower)  # Field.py:435-448


def upper(df: DataFrame, source_fields: list[str],
          target_fields: list[str] | None = None) -> DataFrame:
    return _per_field(df, source_fields, target_fields, F.upper)  # Field.py:450-463


def slice_(df: DataFrame, source_field: str, target_field: str | None = None,
           start: int = 0, end: int | None = None) -> DataFrame:
    # Field.py:465-476 — python slice semantics v[start:end]
    tgt = target_field or source_field
    col = F.col(source_field)
    length = F.length(col)
    s = F.lit(start) if start >= 0 else F.greatest(length + start, F.lit(0))
    if end is None:
        e = length
    else:
        e = F.lit(end) if end >= 0 else F.greatest(length + end, F.lit(0))
    return df.withColumn(
        tgt, F.substring(col, (s + 1).cast("int"), F.greatest(e - s, F.lit(0)).cast("int"))
    )


def replace(df: DataFrame, source_field: str, regex: str, with_: str = "") -> DataFrame:
    # Field.py:478-489 — regex sub, in place
    return df.withColumn(source_field,
                         F.regexp_replace(F.col(source_field), regex, with_))


def string_replace(df: DataFrame, source_field: str, old: str, new: str,
                   max: int = -1) -> DataFrame:
    # Field.py:549-560 — str.replace with count limit
    if max is None or max < 0:
        return df.withColumn(source_field,
                             F.replace(F.col(source_field), F.lit(old), F.lit(new)))
    limit = int(max)

    @F.pandas_udf("string")
    def _repl(s: pd.Series) -> pd.Series:
        return s.str.replace(old, new, n=limit, regex=False)

    return df.withColumn(source_field, _repl(F.col(source_field)))


def rename(df: DataFrame, source_field: str, target_field: str) -> DataFrame:
    # Field.py:491-502
    return df.withColumnRenamed(source_field, target_field)


def rename_regex(df: DataFrame, regex: str, replace: str = "") -> DataFrame:
    # Field.py:504-526 — schema-level rename; driver-side loop, zero row work
    pat = _re.compile(regex)
    out = df
    for c in df.columns:
        nc = pat.sub(replace, c)
        if nc != c:
            out = out.withColumnRenamed(c, nc)
    return out


def rename_replace(df: DataFrame, old: str, new: str) -> DataFrame:
    # Field.py:528-547
    out = df
    for c in df.columns:
        nc = c.replace(old, new)
        if nc != c:
            out = out.withColumnRenamed(c, nc)
    return out


def map_(df: DataFrame, source_field: str, map: dict, target_field: str | None = None,
         keep_unmappable: bool = False) -> DataFrame:
    # Field.py:562-580 — tiny dict: literal create_map (codegen'd);
    # a large table would be a broadcast join (see operators/enrich.py).
    tgt = target_field or f"{source_field}_mapped"
    kv = []
    for k, v in map.items():
        kv += [F.lit(str(k)), F.lit(v)]
    # try_element_at: missing map key must be null (-> unmapped policy),
    # but ANSI mode makes plain element_at throw on a missing key
    lookup = F.try_element_at(F.create_map(*kv),
                              F.col(source_field).cast("string"))
    if keep_unmappable:
        lookup = F.coalesce(lookup, F.col(source_field).cast("string"))
    return df.withColumn(tgt, lookup)


def key_value(df: DataFrame, source_field: str, kv_separator: str,
              line_separator: str | None = None, target_field: str | None = None,
              prefix: str | None = None) -> DataFrame:
    # Field.py:582-614 — kv split into a map column. The reference merges
    # pairs into the event (schemaless); a DataFrame needs a map column,
    # so the default target is '{src}_kv' when none is given.
    tgt = target_field or f"{source_field}_kv"
    if line_separator is None:
        # reference without line_separator returns a LIST split at kv_sep
        return df.withColumn(
            tgt, F.split(F.col(source_field), _java_quote(kv_separator)))
    m = F.str_to_map(F.col(source_field), F.lit(_java_quote(line_separator)),
                     F.lit(_java_quote(kv_separator)))
    if prefix:
        m = F.map_from_arrays(
            F.transform(F.map_keys(m), lambda k: F.concat(F.lit(prefix), k)),
            F.map_values(m),
        )
    return df.withColumn(tgt, m)


def key_value_regex(df: DataFrame, source_field: str, regex: str,
                    target_field: str | None = None,
                    prefix: str | None = None) -> DataFrame:
    # Field.py:617-645 — regex with 2 groups, findall -> dict
    tgt = target_field or f"{source_field}_kv"
    keys = F.regexp_extract_all(F.col(source_field), F.lit(regex), 1)
    vals = F.regexp_extract_all(F.col(source_field), F.lit(regex), 2)
    if prefix:
        keys = F.transform(keys, lambda k: F.concat(F.lit(prefix), k))
    return df.withColumn(tgt, F.map_from_arrays(keys, vals))


def split(df: DataFrame, source_field: str, separator: str,
          target_field: str | None = None) -> DataFrame:
    # Field.py:648-669 — literal (non-regex) separator
    tgt = target_field or source_field
    return df.withColumn(tgt, F.split(F.col(source_field), _java_quote(separator)))


def split_list(df: DataFrame, source_field: str,
               target_field: str | None = None) -> DataFrame:
    # Field.py:671-695 — 1->N events; exploded value replaces the list.
    tgt = target_field or source_field
    exploded = df.withColumn("__item", F.explode(F.col(source_field)))
    exploded = exploded.drop(source_field).withColumnRenamed("__item", tgt)
    return exploded


def strip(df: DataFrame, source_field: str,
          target_field: str | None = None) -> DataFrame:
    # Field.py:697-717
    tgt = target_field or source_field
    return df.withColumn(tgt, F.trim(F.col(source_field)))


def merge(df: DataFrame, source_fields: list[str], target_field: str) -> DataFrame:
    # Field.py:719-733 — missing fields skipped
    cols = [F.col(c) for c in source_fields if c in df.columns]
    return df.withColumn(target_field, F.array(*cols))


def join(df: DataFrame, source_field: str, target_field: str,
         separator: str = ",") -> DataFrame:
    # Field.py:735-747
    return df.withColumn(target_field,
                         F.array_join(F.col(source_field), separator))


def cast_to_int(df: DataFrame, source_fields: list[str]) -> DataFrame:
    # Field.py:762-773 — int(float(v)); ValueError -> 0; missing -> skip
    out = df
    for fld in source_fields:
        if fld not in df.columns:
            continue
        c = F.col(fld)
        out = out.withColumn(
            fld, F.coalesce(c.try_cast("double").cast("long"), F.lit(0)))
    return out


def cast_to_float(df: DataFrame, source_fields: list[str]) -> DataFrame:
    # Field.py:775-786
    out = df
    for fld in source_fields:
        if fld not in df.columns:
            continue
        out = out.withColumn(
            fld, F.coalesce(F.col(fld).try_cast("double"), F.lit(0.0)))
    return out


def cast_to_str(df: DataFrame, source_fields: list[str]) -> DataFrame:
    # Field.py:788-799
    out = df
    for fld in source_fields:
        if fld in df.columns:
            out = out.withColumn(fld, F.col(fld).cast("string"))
    return out


def cast_to_bool(df: DataFrame, source_fields: list[str]) -> DataFrame:
    # Field.py:801-812 — python truthiness for strings = non-empty
    out = df
    for fld in source_fields:
        if fld not in df.columns:
            continue
        c = F.col(fld)
        dt = dict(df.dtypes)[fld]
        if dt == "string":
            out = out.withColumn(fld, c.isNotNull() & (F.length(c) > 0))
        else:
            out = out.withColumn(
                fld, F.coalesce(c.try_cast("boolean"), F.lit(False)))
    return out


def hash_(df: DataFrame, source_fields: list[str],
          target_fields: list[str] | None = None,
          algorithm: str = "md5", salt: str = "") -> DataFrame:
    # Field.py:826-839 — hash(salt + value), hexdigest
    try:
        fn = _HASH_FUNCS[algorithm]
    except KeyError:
        raise ValueError(f"unsupported hash algorithm {algorithm!r}")
    targets = target_fields or source_fields
    out = df
    for src, tgt in zip(source_fields, targets):
        val = F.concat(F.lit(salt), F.col(src).cast("string"))
        out = out.withColumn(tgt, fn(val))
    return out


ACTIONS = {
    "keep": keep,
    "delete": delete,
    "insert": insert,
    "concat": concat,
    "lower": lower,
    "upper": upper,
    "slice": slice_,
    "replace": replace,
    "string_replace": string_replace,
    "rename": rename,
    "rename_regex": rename_regex,
    "rename_replace": rename_replace,
    "map": map_,
    "key_value": key_value,
    "key_value_regex": key_value_regex,
    "split": split,
    "split_list": split_list,
    "strip": strip,
    "merge": merge,
    "join": join,
    "cast_to_int": cast_to_int,
    "cast_to_float": cast_to_float,
    "cast_to_str": cast_to_str,
    "cast_to_bool": cast_to_bool,
    "hash": hash_,
}


def action_options(config: dict) -> dict:
    """``config`` with the YAML name 'with' (a Python keyword) renamed to
    the replace action's parameter ``with_``."""
    if "with" not in config:
        return config
    config = dict(config)
    config["with_"] = config.pop("with")
    return config


def apply_action(df: DataFrame, action: str, **config) -> DataFrame:
    """Dispatch one modify.Field action (Field.py:272-281)."""
    if action not in ACTIONS:
        raise ValueError(f"unknown field action {action!r}")
    return ACTIONS[action](df, **action_options(config))
