"""Config-driven pipeline compiler: YAML/dict stage list -> DataFrame DAG.

The reference compiles a YAML list of module configs into a linked module
graph and pushes events through it
(/root/reference/lumbermill/LumberMill.py:105-310). Here the same shape
of config compiles into a chain of DataFrame transformations ending in a
routed fan-out write; Catalyst replaces steps analyze/optimize/physical
(SURVEY.md §3.1).

Spec shape (YAML-safe dict list, module names mirror the reference):

    pipeline:
      - input.Tokens:   {path: /data/tokens}          # or input.Synthetic
      - parser.Regex:   {source: tokens, field_extraction_patterns: [...]}
      - modifier.Field: {action: map, source_field: http_status, map: {...}}
      - output.Parquet: {name: parsed, filter: "$(event_type) != 'Unknown'",
                         partition_by: [event_type]}
      - output.DevNull: {name: unmatched, filter: "$(event_type) == 'Unknown'"}

Engine-primitive config keys honored on every module
(BaseModule.py:151-236):

- ``filter``: input filter — non-matching rows BYPASS the module
  unchanged (not dropped): split -> transform -> unionByName;
- ``add_fields`` / ``delete_fields`` / ``set_event_type``: common
  actions applied to handled rows.
"""

from __future__ import annotations

import difflib
import inspect
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.functions.dynamic import dynamic_value_col, has_dynamic_refs
from lumbermill_spark.functions.filters import filter_to_column
from lumbermill_spark.functions.skew import salted_repartition
from lumbermill_spark.internal import InternalStore
from lumbermill_spark.operators import (
    collectd, enrichers, escape, field_actions, lookup, netflow, parsers,
    stateful, stats)
from lumbermill_spark.operators.regex_parser import RegexParser
from lumbermill_spark.router import SinkSpec, route_and_write

try:  # optional: pyyaml isn't a hard dependency
    import yaml as _yaml
except ImportError:  # pragma: no cover
    _yaml = None


# ----------------------------------------------------------------------- #
# module builders: (df, config) -> df

def _in_tokens(spark: SparkSession, cfg: dict) -> DataFrame:
    return spark.read.format(cfg.get("format", "parquet")).load(cfg["path"])


def _in_synth(spark: SparkSession, cfg: dict) -> DataFrame:
    return synth_tokens(spark, int(cfg.get("rows", 10000)),
                        int(cfg.get("seed", 42)))


def _m_regex(df: DataFrame, cfg: dict) -> DataFrame:
    parser = RegexParser(
        cfg["field_extraction_patterns"],
        source_field=cfg.get("source_field", "data"),
        mark_unmatched_as=cfg.get("mark_unmatched_as", "Unknown"),
        break_on_match=cfg.get("break_on_match", True),
    )
    tokens_col = cfg.get("tokens_col")
    if cfg.get("optimize_rule_order"):
        # plan-build hot_rules_first analog: sample-measured selectivity
        parser.optimize_rule_order(df, tokens_col=tokens_col)
    return parser.apply(df, tokens_col=tokens_col,
                        drop_tokens=cfg.get("drop_tokens", False))


def _m_geo(df: DataFrame, cfg: dict) -> DataFrame:
    from lumbermill_spark.operators.enrichers import geo_enrich

    geo = df.sparkSession.read.parquet(cfg["geo_table_path"])
    return geo_enrich(df, geo, cfg["source_fields"],
                      prefix_len=cfg.get("prefix_len", 3),
                      target_field=cfg.get("target_field", "geo_info"))


def _m_field(df: DataFrame, cfg: dict) -> DataFrame:
    cfg = dict(cfg)
    action = cfg.pop("action")
    return field_actions.apply_action(df, action, **cfg)


def _m_drop(df: DataFrame, cfg: dict) -> DataFrame:
    # modifier.DropEvent (/root/reference/lumbermill/modifier/DropEvent.py:21-22)
    # is only meaningful under an input filter; standalone it drops all.
    return df.limit(0)


def _wrap(fn):
    wrapper = lambda df, cfg: fn(df, **cfg)  # noqa: E731
    wrapper._raw = fn
    return wrapper


def _m_throttle(df: DataFrame, cfg: dict) -> DataFrame:
    """misc.Throttle: ``timeframe`` as a date_trunc unit over ``ts_field``
    (the YAML-safe stand-in for an arbitrary frame Column)."""
    cfg = dict(cfg)
    unit = cfg.pop("timeframe", None)
    ts_field = cfg.pop("ts_field", "ts")
    frame = F.date_trunc(unit, F.col(ts_field)) if unit else None
    return stats.throttle(df, cfg.pop("key"), timeframe_col=frame, **cfg)


TRANSFORMS = {
    "parser.Regex": _m_regex,
    "parser.Csv": _wrap(parsers.parse_csv),
    "parser.Json": _wrap(parsers.parse_json),
    "parser.JsonEncode": _wrap(parsers.encode_json),
    "parser.Line": _wrap(parsers.parse_line),
    "parser.DateTime": _wrap(parsers.parse_datetime),
    "parser.Url": _wrap(parsers.parse_url),
    "parser.UrlEncode": _wrap(parsers.encode_url),
    "parser.SyslogPrival": _wrap(parsers.parse_syslog_prival),
    "parser.Base64": _wrap(parsers.base64_codec),
    "parser.Encoding": _wrap(parsers.recode_charset),
    "parser.Inflate": _wrap(parsers.inflate),
    "parser.MsgPack": _wrap(parsers.parse_msgpack),
    "parser.XPath": _wrap(parsers.parse_xpath),
    "parser.DomainName": _wrap(enrichers.split_domain),
    "parser.UserAgent": _wrap(enrichers.parse_user_agent),
    "parser.NetFlow": _wrap(netflow.parse_netflow),
    "parser.Collectd": _wrap(collectd.parse_collectd),
    "modifier.AddGeoInfo": _m_geo,
    "modifier.Field": _m_field,
    "modifier.AddDateTime": _wrap(parsers.add_datetime),
    "modifier.DropEvent": _m_drop,
    "modifier.Math": _wrap(stats.math_op),
    "modifier.MergeEvent": _wrap(stateful.merge_event),
    "modifier.Permutate": _wrap(stateful.permutate),
    "modifier.Lookup": _wrap(lookup.enrich_from_dict),
    "misc.Facet": _wrap(stats.facet),
    "misc.Metrics": _wrap(stats.metrics),
    "misc.SimpleStats": _wrap(stats.simple_stats),
    "misc.Throttle": _m_throttle,
    "misc.SaltedRepartition": _wrap(salted_repartition),
    "misc.Noop": lambda df, cfg: df,
    # ExecPython escape hatch (modifier/ExecPython.py:41-65): user
    # Python over Arrow batches via mapInPandas
    "modifier.ExecPython": _wrap(escape.exec_python),
}

# valid option keys for modules whose builder isn't a _wrap'ed function
# (BaseModule-style docstring schemas -> explicit sets here)
_EXPLICIT_KEYS: dict[str, set[str] | None] = {
    # hot_rules_first: the reference key is accepted and has no effect
    # (rule order is fixed at plan build, see optimize_rule_order)
    "parser.Regex": {"field_extraction_patterns", "source_field",
                     "mark_unmatched_as", "break_on_match",
                     "hot_rules_first", "tokens_col",
                     "optimize_rule_order", "drop_tokens"},
    "modifier.AddGeoInfo": {"geo_table_path", "source_fields",
                            "prefix_len", "target_field"},
    "modifier.Field": None,  # validated per-action below
    "modifier.DropEvent": set(),
    "misc.Throttle": {"key", "timeframe", "ts_field", "min_count",
                      "max_count"},
    "misc.Noop": set(),
    "misc.SetInternal": {"key", "value"},
}


def _fn_keys(fn) -> set[str] | None:
    params = list(inspect.signature(fn).parameters.values())[1:]  # drop df
    if any(p.kind == inspect.Parameter.VAR_KEYWORD for p in params):
        return None  # **kwargs: can't enumerate, skip validation
    return {p.name for p in params}


# required options for modules whose builder isn't a _wrap'ed function
# (mirrors the reference's docstring-schema required flags,
# utils/ConfigurationValidator.py:47-77)
_EXPLICIT_REQUIRED: dict[str, set[str]] = {
    "parser.Regex": {"field_extraction_patterns"},
    "modifier.AddGeoInfo": {"geo_table_path", "source_fields"},
    "misc.Throttle": {"key"},
    "misc.SetInternal": {"key"},
    "modifier.DropEvent": set(),
    "misc.Noop": set(),
    "modifier.Field": set(),  # per-action, handled in _validate_module
}


def _fn_required(fn) -> set[str]:
    params = list(inspect.signature(fn).parameters.values())[1:]  # drop df
    return {p.name for p in params
            if p.default is inspect.Parameter.empty
            and p.kind in (inspect.Parameter.POSITIONAL_OR_KEYWORD,
                           inspect.Parameter.KEYWORD_ONLY)}


def required_keys(name: str) -> set[str]:
    """Options a module config MUST carry (no default in the builder)."""
    if name in _EXPLICIT_REQUIRED:
        return _EXPLICIT_REQUIRED[name]
    fn = TRANSFORMS.get(name)
    raw = getattr(fn, "_raw", None)
    return _fn_required(raw) if raw is not None else set()


def valid_keys(name: str) -> set[str] | None:
    """Allowed config keys for a module (None = action-specific)."""
    if name in _EXPLICIT_KEYS:
        return _EXPLICIT_KEYS[name]
    fn = TRANSFORMS[name]
    raw = getattr(fn, "_raw", None)
    return _fn_keys(raw) if raw is not None else set()


# conditional requiredness (the reference's `is: required if <key> is
# <value>` docstring-schema clauses, utils/ConfigurationValidator.py:
# 26-45): per module, rules (when_key, when_values, required_keys) —
# every key in required_keys must be present when cfg[when_key] is in
# when_values; when_values="*" means "whenever when_key is set at all".
_REQUIRED_IF: dict[str, list[tuple[str, object, set[str]]]] = {
    # modifier.Field per-action requirements are enforced from the
    # action function's signature in _validate_module; add cross-key
    # conditional rules for other modules here as they grow them.
}

# sink-level conditional rules (outputs are compiled to SinkSpec, not
# through _validate_module): mode=merge is the ES 'update' bulk action
# analog and is meaningless without a key and a version column.
_SINK_REQUIRED_IF: list[tuple[str, object, set[str]]] = [
    ("mode", ("merge",), {"merge_key", "merge_version"}),
]


def _check_required_if(name: str, cfg: dict,
                       rules: list[tuple[str, object, set[str]]]) -> None:
    for when_key, when_values, needed in rules:
        val = cfg.get(when_key)
        if val is None:
            continue
        if when_values != "*" and val not in when_values:
            continue
        missing = needed - set(cfg)
        if missing:
            raise ValueError(
                f"module {name!r}: option(s) "
                + ", ".join(repr(k) for k in sorted(missing))
                + f" required when {when_key!r} is {val!r}")


def _validate_module(name: str, cfg: dict) -> None:
    """Compile-time config validation (the reference validates module
    configs from docstring schemas before start,
    utils/ConfigurationValidator.py:47-77): unknown module or option →
    error naming the field, before any Spark job runs."""
    known = valid_keys(name)
    required = required_keys(name)
    if name == "modifier.Field":
        action = cfg.get("action")
        if action is None:
            raise ValueError("modifier.Field requires 'action'")
        if action not in field_actions.ACTIONS:
            hint = difflib.get_close_matches(
                action, field_actions.ACTIONS, n=1)
            raise ValueError(
                f"unknown field action {action!r}"
                + (f" (did you mean {hint[0]!r}?)" if hint else ""))
        act_fn = field_actions.ACTIONS[action]
        fk = _fn_keys(act_fn)
        known = None if fk is None else fk | {"action"}
        required = _fn_required(act_fn)
    # unknown options first (the did-you-mean hint is the better error
    # when a required field was merely typo'd) …
    if known is not None:
        extra = set(cfg) - known - _COMMON_KEYS
        for k in sorted(extra):
            hint = difflib.get_close_matches(k, known | _COMMON_KEYS, n=1)
            raise ValueError(
                f"unknown option {k!r} for module {name!r}"
                + (f" (did you mean {hint[0]!r}?)" if hint else ""))
    # … then missing required options fail at compile with the field
    # named, not later as a KeyError/TypeError inside dataframe()
    missing = required - set(cfg)
    if missing:
        raise ValueError(
            f"module {name!r} missing required option(s): "
            + ", ".join(repr(k) for k in sorted(missing)))
    _check_required_if(name, cfg, _REQUIRED_IF.get(name, []))

INPUTS = {
    "input.Tokens": _in_tokens,
    "input.Synthetic": _in_synth,
}

OUTPUTS = {"output.Parquet", "output.File", "output.DevNull", "output.StdOut"}


def _common_actions(df: DataFrame, cfg: dict) -> DataFrame:
    """add_fields / delete_fields / set_event_type (BaseModule.py:217-236)."""
    for k, v in (cfg.get("add_fields") or {}).items():
        col = (dynamic_value_col(v, df.columns)
               if isinstance(v, str) and has_dynamic_refs(v) else F.lit(v))
        df = df.withColumn(k, col)
    for k in cfg.get("delete_fields") or []:
        df = df.drop(k)
    if cfg.get("set_event_type"):
        df = df.withColumn("event_type", F.lit(cfg["set_event_type"]))
    return df


_COMMON_KEYS = {"filter", "add_fields", "delete_fields", "set_event_type"}


def _apply_module(df: DataFrame, name: str, cfg: dict) -> DataFrame:
    cfg = dict(cfg or {})
    input_filter = cfg.pop("filter", None)
    common = {k: cfg.pop(k) for k in list(cfg) if k in _COMMON_KEYS}
    fn = TRANSFORMS[name]
    if input_filter is None:
        return _common_actions(fn(df, cfg), common)
    # input-filter pass-through (BaseModule.py:260-276): non-matching rows
    # bypass unchanged
    pred = filter_to_column(input_filter)
    handled = _common_actions(fn(df.filter(pred), cfg), common)
    bypassed = df.filter(~F.coalesce(pred, F.lit(False)))
    return handled.unionByName(bypassed, allowMissingColumns=True)


class CompiledPipeline:
    def __init__(self, spark: SparkSession, stages: list, sinks: list[SinkSpec],
                 source_df: DataFrame | None):
        self.spark = spark
        self.stages = stages            # [(name, cfg), ...] transform modules
        self.sinks = sinks
        self._source = source_df
        # set_internal/get_internal analog (BaseModule.py:234-235):
        # values set by misc.SetInternal stages (or .internal.set()) and
        # consumed by any later module config via '@internal:<key>'
        self.internal = InternalStore(spark)

    def dataframe(self, df: DataFrame | None = None) -> DataFrame:
        """The transform DAG output (pre-routing)."""
        cur = df if df is not None else self._source
        if cur is None:
            raise ValueError("pipeline has no input stage and no df given")
        for name, cfg in self.stages:
            if name == "misc.SetInternal":
                self.internal.set(cfg["key"], cfg.get("value"))
                continue
            cur = _apply_module(cur, name, self.internal.resolve(cfg))
        return cur

    def run(self, base: str, run_id: str | None = None, resume: bool = False,
            df: DataFrame | None = None, **route_kw) -> dict:
        out = self.dataframe(df)
        run_id = run_id or uuid.uuid4().hex[:12]
        if not self.sinks:
            raise ValueError("pipeline has no output stage")
        return route_and_write(out, self.sinks, base, run_id=run_id,
                               resume=resume, **route_kw)


def compile_pipeline(spark: SparkSession, spec: list | dict | str) -> CompiledPipeline:
    """spec: a list of {ModuleName: config} items, a {'pipeline': [...]}
    dict, or a YAML string of either."""
    if isinstance(spec, str):
        if _yaml is None:
            raise RuntimeError("pyyaml not available for YAML specs")
        spec = _yaml.safe_load(spec)
    if isinstance(spec, dict):
        spec = spec.get("pipeline", [])
    source_df = None
    stages: list = []
    sinks: list[SinkSpec] = []
    _SINK_KEYS = {"name", "filter", "path", "format", "partition_by",
                  "columns", "mode", "compression", "line_format",
                  "format_line", "merge_key", "merge_version"}
    _INPUT_KEYS = {"input.Tokens": {"path", "format"},
                   "input.Synthetic": {"rows", "seed"}}
    for item in spec:
        (name, cfg), = item.items()
        cfg = cfg or {}
        if name in INPUTS:
            extra = set(cfg) - _INPUT_KEYS[name]
            if extra:
                raise ValueError(
                    f"unknown option {sorted(extra)[0]!r} for {name!r}")
            source_df = INPUTS[name](spark, cfg)
        elif name in OUTPUTS:
            extra = set(cfg) - _SINK_KEYS
            if extra:
                raise ValueError(
                    f"unknown option {sorted(extra)[0]!r} for {name!r}")
            _check_required_if(name, cfg, _SINK_REQUIRED_IF)
            fmt = {"output.Parquet": "parquet", "output.File": "text",
                   "output.DevNull": "noop", "output.StdOut": "noop"}[name]
            sinks.append(SinkSpec(
                name=cfg.get("name", f"sink{len(sinks)}"),
                filter=cfg.get("filter"),
                path=cfg.get("path"),
                format=cfg.get("format", fmt),
                partition_by=cfg.get("partition_by", []),
                columns=cfg.get("columns"),
                mode=cfg.get("mode", "overwrite"),
                merge_key=cfg.get("merge_key"),
                merge_version=cfg.get("merge_version"),
                compression=cfg.get("compression"),
                line_format=cfg.get("line_format") or cfg.get("format_line"),
            ))
        elif name in TRANSFORMS or name == "misc.SetInternal":
            _validate_module(name, cfg)
            stages.append((name, cfg))
        else:
            hint = difflib.get_close_matches(
                name, list(TRANSFORMS) + list(INPUTS) + list(OUTPUTS)
                + ["misc.SetInternal"], n=1)
            raise ValueError(
                f"unknown module {name!r}"
                + (f" (did you mean {hint[0]!r}?)" if hint else ""))
    return CompiledPipeline(spark, stages, sinks, source_df)
