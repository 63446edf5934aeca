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
      - parser.Regex:   {tokens_col: tokens, field_extraction_patterns: [...]}
      - modifier.Field: {action: map, source_field: http_status, map: {...}}
      - output.Parquet: {name: parsed, filter: "$(event_type) != 'Unknown'",
                         partition_by: [event_type]}
      - output.DevNull: {name: unmatched, filter: "$(event_type) == 'Unknown'"}

Each option is declared once: a module's options are the keyword
parameters of the callable that takes them — its builder in INPUTS or
TRANSFORMS (after the leading spark/df), ``SinkSpec`` for every output
module, and for modifier.Field those of the chosen action. The compiler
checks each config against that signature before any Spark job runs
(unknown option with a did-you-mean hint, then missing required ones);
sink rules that span options (mode=merge needs merge_key and
merge_version) are SinkSpec's own, so the Python API gets them too.

Engine-primitive config keys honored on every transform module
(BaseModule.py:151-236):

- ``filter``: input filter — non-matching rows (and rows where it is
  null) BYPASS the module unchanged, not dropped. A module that only
  projects runs as one conditional projection: every column it defines
  is ``when(filter, new).otherwise(old)``, so the upstream plan runs
  once and ``new`` is evaluated on handled rows only. Any other module
  (rows dropped, added or aggregated, a join, a Python stage) runs as
  split -> transform -> unionByName. Either way the schema is the
  module's columns, then the input columns it dropped. A module that
  changes an input column in place to a type Spark cannot merge with the
  old one (``parser.Url`` on ``url``: string -> struct) raises a
  ValueError at build; its ``target_field`` writes a new column instead;
- ``add_fields`` / ``delete_fields`` / ``set_event_type``: common
  actions applied to handled rows.

Build once. ``compile_pipeline`` checks the spec and reads the input
stage's source (its file listing is fixed from then on); it builds no
DAG. The first ``dataframe()`` or ``run()`` of a ``CompiledPipeline``
builds the transform DAG over that source and keeps it: a plan, no rows.
Later calls reuse it, so a warm ``run()`` only persists the routed
parent, writes the sinks, commits and unpersists; a run keeps no rows.
A change of the pipeline's internal store rebuilds the DAG on the next
call. ``dataframe(df)`` / ``run(df=...)`` build a fresh DAG over ``df``
and leave the kept one alone.
"""

from __future__ import annotations

import difflib
import inspect
import re
from collections import Counter
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.functions.dynamic import dynamic_or_lit
from lumbermill_spark.functions.filters import filter_to_sql
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
# module builders: a module's options are the keyword parameters of the
# one callable that takes them (inputs: (spark, **cfg); transforms:
# (df, **cfg); outputs: SinkSpec(**cfg))

def _in_tokens(spark: SparkSession, path: str,
               format: str = "parquet") -> DataFrame:
    return spark.read.format(format).load(path)


def _in_synth(spark: SparkSession, rows: int = 10000,
              seed: int = 42) -> DataFrame:
    return synth_tokens(spark, int(rows), int(seed))


def _m_regex(df: DataFrame, field_extraction_patterns: list,
             source_field: str = "data", mark_unmatched_as: str = "Unknown",
             break_on_match: bool = True, hot_rules_first=None,
             tokens_col: str | None = None, optimize_rule_order: bool = False,
             drop_tokens: bool = False) -> DataFrame:
    # hot_rules_first: the reference key is accepted and has no effect
    # (rule order is fixed at plan build, see optimize_rule_order)
    parser = RegexParser(field_extraction_patterns, source_field=source_field,
                         mark_unmatched_as=mark_unmatched_as,
                         break_on_match=break_on_match)
    if optimize_rule_order:
        # plan-build hot_rules_first analog: sample-measured selectivity
        parser.optimize_rule_order(df, tokens_col=tokens_col)
    return parser.apply(df, tokens_col=tokens_col, drop_tokens=drop_tokens)


def _m_geo(df: DataFrame, geo_table_path: str, source_fields: list[str],
           prefix_len: int = 3, target_field: str = "geo_info") -> DataFrame:
    geo = df.sparkSession.read.parquet(geo_table_path)
    return enrichers.geo_enrich(df, geo, source_fields, prefix_len=prefix_len,
                                target_field=target_field)


def _m_drop(df: DataFrame) -> DataFrame:
    # modifier.DropEvent (/root/reference/lumbermill/modifier/DropEvent.py:21-22)
    # is only meaningful under an input filter; standalone it drops all.
    # It drops rows, so under a filter it takes _apply_module's
    # split/union path: the bypassed rows are what remains.
    return df.limit(0)


def _m_throttle(df: DataFrame, key: str, timeframe: str | None = None,
                ts_field: str = "ts", min_count: int = 1,
                max_count: int | None = None) -> DataFrame:
    """misc.Throttle: ``timeframe`` as a date_trunc unit over ``ts_field``
    (the YAML-safe stand-in for an arbitrary frame Column)."""
    frame = F.date_trunc(timeframe, F.col(ts_field)) if timeframe else None
    return stats.throttle(df, key, timeframe_col=frame, min_count=min_count,
                          max_count=max_count)


def _m_noop(df: DataFrame) -> DataFrame:
    return df


TRANSFORMS = {
    "parser.Regex": _m_regex,
    "parser.Csv": parsers.parse_csv,
    "parser.Json": parsers.parse_json,
    "parser.JsonEncode": parsers.encode_json,
    "parser.Line": parsers.parse_line,
    "parser.DateTime": parsers.parse_datetime,
    "parser.Url": parsers.parse_url,
    "parser.UrlEncode": parsers.encode_url,
    "parser.SyslogPrival": parsers.parse_syslog_prival,
    "parser.Base64": parsers.base64_codec,
    "parser.Encoding": parsers.recode_charset,
    "parser.Inflate": parsers.inflate,
    "parser.MsgPack": parsers.parse_msgpack,
    "parser.XPath": parsers.parse_xpath,
    "parser.DomainName": enrichers.split_domain,
    "parser.UserAgent": enrichers.parse_user_agent,
    "parser.NetFlow": netflow.parse_netflow,
    "parser.Collectd": collectd.parse_collectd,
    "modifier.AddGeoInfo": _m_geo,
    "modifier.Field": field_actions.apply_action,
    "modifier.AddDateTime": parsers.add_datetime,
    "modifier.DropEvent": _m_drop,
    "modifier.Math": stats.math_op,
    "modifier.MergeEvent": stateful.merge_event,
    "modifier.Permutate": stateful.permutate,
    "modifier.Lookup": lookup.enrich_from_dict,
    "misc.Facet": stats.facet,
    "misc.Metrics": stats.metrics,
    "misc.SimpleStats": stats.simple_stats,
    "misc.Throttle": _m_throttle,
    "misc.SaltedRepartition": salted_repartition,
    "misc.Noop": _m_noop,
    # ExecPython escape hatch (modifier/ExecPython.py:41-65): user
    # Python over Arrow batches via mapInPandas
    "modifier.ExecPython": escape.exec_python,
}

INPUTS = {
    "input.Tokens": _in_tokens,
    "input.Synthetic": _in_synth,
}

# output module -> its default SinkSpec format
OUTPUTS = {"output.Parquet": "parquet", "output.File": "text",
           "output.DevNull": "noop", "output.StdOut": "noop"}

# engine-primitive keys every transform module takes (BaseModule.py:151-236)
_COMMON_KEYS = {"filter", "add_fields", "delete_fields", "set_event_type"}

# prefix of the hidden columns of a conditional projection (_apply_module);
# filter strings cannot name them, they reject "__"
_HIDDEN = "__lms_bypass_"

_NAMED = (inspect.Parameter.POSITIONAL_OR_KEYWORD,
          inspect.Parameter.KEYWORD_ONLY)


def _unknown(what: str, name: str, choices, where: str = "") -> ValueError:
    hint = difflib.get_close_matches(name, choices, n=1)
    return ValueError(f"unknown {what} {name!r}{where}"
                      + (f" (did you mean {hint[0]!r}?)" if hint else ""))


def _check_options(module: str, fn, cfg: dict, skip: int = 1,
                   common: set[str] = frozenset()) -> None:
    """Compile-time config validation (the reference validates module
    configs from docstring schemas before start,
    utils/ConfigurationValidator.py:47-77): the options of ``module``
    are the keyword parameters of ``fn`` after its first ``skip``
    (df / spark / self). Unknown or missing options fail naming the
    field, before any Spark job runs."""
    params = list(inspect.signature(fn).parameters.values())[skip:]
    named = [p for p in params if p.kind in _NAMED]
    # unknown options first (the did-you-mean hint is the better error
    # when a required field was merely typo'd); **kwargs can't be listed
    if all(p.kind != inspect.Parameter.VAR_KEYWORD for p in params):
        known = {p.name for p in named} | common
        for k in sorted(set(cfg) - known):
            raise _unknown("option", k, known, f" for module {module!r}")
    missing = {p.name for p in named if p.default is p.empty} - set(cfg)
    if missing:
        raise ValueError(
            f"module {module!r} missing required option(s): "
            + ", ".join(repr(k) for k in sorted(missing)))


def _check_field(cfg: dict) -> dict:
    """modifier.Field: the options are those of the chosen action."""
    cfg = field_actions.action_options(cfg)
    _check_options("modifier.Field", field_actions.apply_action, cfg)
    action = cfg["action"]
    if action not in field_actions.ACTIONS:
        raise _unknown("field action", action, field_actions.ACTIONS)
    _check_options("modifier.Field", field_actions.ACTIONS[action],
                   {k: v for k, v in cfg.items() if k != "action"},
                   common=_COMMON_KEYS)
    return cfg


def _common_actions(df: DataFrame, cfg: dict) -> DataFrame:
    """add_fields / delete_fields / set_event_type (BaseModule.py:217-236)."""
    for k, v in (cfg.get("add_fields") or {}).items():
        df = df.withColumn(k, dynamic_or_lit(v, df.columns))
    for k in cfg.get("delete_fields") or []:
        df = df.drop(k)
    if cfg.get("set_event_type"):
        df = df.withColumn("event_type", F.lit(cfg["set_event_type"]))
    return df


def _q(name: str) -> str:
    """SQL for the column called ``name``, dots and backticks literal."""
    return "`" + name.replace("`", "``") + "`"


def _defined_columns(tagged: DataFrame, out: DataFrame):
    """(names, exprIds) of the columns the module defines on top of
    ``tagged``, when every operator it added is a Project and no column
    it defines reads or replaces a hidden one; else None."""
    node = out._jdf.queryExecution().analyzed()
    base = tagged._jdf.queryExecution().analyzed()
    names, ids = set(), set()
    while not node.equals(base):
        if node.nodeName() != "Project":
            return None
        child = node.child()
        # the items that are not a child column passed through
        items = node.projectList().diff(child.output())
        for i in range(items.size()):
            item = items.apply(i)
            if (_HIDDEN in item.name()
                    or _HIDDEN in item.references().toString()):
                return None
            names.add(item.name())
            ids.add(item.exprId().id())
        node = child
    return names, ids


def _optimized(df: DataFrame) -> tuple[Counter, set[int]]:
    """The non-Project operators of ``df``'s optimized plan, and the
    exprIds that any of its operators outputs. The session's optimizer
    is called directly: QueryExecution refuses to optimize a stream."""
    ops, ids = Counter(), set()
    optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
    stack = [optimizer.execute(df._jdf.queryExecution().analyzed())]
    while stack:
        node = stack.pop()
        if node.nodeName() != "Project":
            ops[node.nodeName()] += 1
        ids.update(map(int, re.findall(r"#(\d+)", node.output().toString())))
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return ops, ids


@contextmanager
def _in_place_types(name: str, df: DataFrame, out: DataFrame):
    """Merging ``out`` (module ``name`` over ``df``'s rows) with the
    bypassed rows fails with a ValueError, not Spark's AnalysisException
    over hidden columns, when the module changed an input column in place
    to a type Spark cannot merge with the old one (a string widens, a
    struct does not)."""
    try:
        yield
    except AnalysisException:
        was = {f.name: f.dataType for f in df.schema.fields}
        for f in out.schema.fields:
            if was.get(f.name, f.dataType) == f.dataType:
                continue
            try:
                out.selectExpr(_q(f.name)).unionByName(df.selectExpr(_q(f.name)))
            except AnalysisException:
                raise ValueError(
                    f"module {name!r} under a filter changes column "
                    f"{f.name!r} from {was[f.name].simpleString()} to "
                    f"{f.dataType.simpleString()}, but bypassed rows keep "
                    f"{was[f.name].simpleString()}; write the result to a "
                    "new column with target_field") from None
        raise


def _as_projection(df: DataFrame, name: str, module,
                   hit: str) -> DataFrame | None:
    """``module`` applied to the rows where the SQL predicate ``hit`` holds,
    as one projection over ``df``; None when the module is not one.

    The module runs once over all rows, beside hidden copies of its
    input. It qualifies when it added only Projects that leave the hidden
    columns alone, and the optimized result has the input's other
    operators: no Filter, Aggregate, Generate, Join, Window, Limit or
    Python stage, which would drop, add or regroup rows or run on
    bypassed ones. Each column it defines becomes
    ``CASE WHEN hit THEN new ELSE old END``, with ``hit`` read from the
    input's values in each (not from one flag column: Catalyst does not
    inline a non-trivial column read more than once, and would then
    compute the module's columns apart). CaseWhen evaluates ``new`` on
    handled rows only, so no operator may still output a module column
    (a Project that Catalyst did not inline into the CaseWhen computes
    it on every row).
    The schema is unionByName's: the module's columns, then the input
    columns it dropped, null on handled rows. The projections are SQL
    strings: each Column expression would cost a JVM round trip.
    """
    old = {c: f"{_HIDDEN}{i}" for i, c in enumerate(df.columns)}
    hidden = set(old.values())
    tagged = df.selectExpr("*", *[f"{_q(c)} AS {h}" for c, h in old.items()])
    out = module(tagged)
    if not hidden <= set(out.columns):
        return None
    found = _defined_columns(tagged, out)
    if found is None:
        return None
    names, ids = found
    cols = [c for c in out.columns if c not in hidden]
    new = {c: f"{_HIDDEN}new{j}" for j, c in enumerate(cols) if c in names}
    # the input under its own names again, the module's columns hidden
    both = out.selectExpr(*[f"{h} AS {_q(c)}" for c, h in old.items()],
                          *[f"{_q(c)} AS {h}" for c, h in new.items()])

    def pick(c: str) -> str:
        if c not in new:  # passed through: the input's value
            return _q(c)
        other = f" ELSE {_q(c)}" if c in old else ""
        return f"CASE WHEN {hit} THEN {new[c]}{other} END AS {_q(c)}"

    with _in_place_types(name, df, out):
        res = both.selectExpr(
            *map(pick, cols), *[f"CASE WHEN NOT {hit} THEN {_q(c)} END AS {_q(c)}"
                                for c in old if c not in cols])
    ops, outs = _optimized(res)
    if ops != _optimized(df)[0] or ids & outs:
        return None
    return res


def _apply_module(df: DataFrame, name: str, cfg: dict) -> DataFrame:
    cfg = dict(cfg or {})
    input_filter = cfg.pop("filter", None)
    common = {k: cfg.pop(k) for k in list(cfg) if k in _COMMON_KEYS}
    fn = TRANSFORMS[name]
    if input_filter is None:
        return _common_actions(fn(df, **cfg), common)
    # input-filter pass-through (BaseModule.py:260-276): rows where the
    # filter is false or null bypass the module unchanged. A module that
    # only projects does so as one projection, so the plan upstream of
    # it runs once; any other splits, transforms the handled rows and
    # unions the bypassed ones back.
    pred = filter_to_sql(input_filter)
    hit = f"coalesce(({pred}), false)"
    res = _as_projection(
        df, name, lambda d: _common_actions(fn(d, **cfg), common), hit)
    if res is not None:
        return res
    handled = _common_actions(fn(df.filter(pred), **cfg), common)
    with _in_place_types(name, df, handled):
        return handled.unionByName(df.filter(f"NOT {hit}"),
                                   allowMissingColumns=True)


class CompiledPipeline:
    """A compiled stage list, its compile-time source and its sinks.

    The transform DAG over the source is built once, on the first
    ``dataframe()`` or ``run()`` (never at compile), and kept: a plan,
    holding no rows. Later calls reuse it, so a warm ``run()`` only
    persists the routed parent, writes the sinks and commits. The
    source's file listing is fixed at compile; a change of the internal
    store (``internal.set()``, its ``version`` moves) rebuilds the DAG
    on the next call; a build that raises keeps nothing. ``df=`` builds
    a fresh DAG over that frame and leaves the kept one alone.
    """

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
        # (internal.version after the build, the DAG over _source)
        self._kept: tuple[int, DataFrame] | None = None

    def _build(self, cur: DataFrame) -> DataFrame:
        for name, cfg in self.stages:
            if name == "misc.SetInternal":
                self.internal.set(cfg["key"], cfg.get("value"))
                continue
            cur = _apply_module(cur, name, self.internal.resolve(cfg))
        return cur

    def dataframe(self, df: DataFrame | None = None) -> DataFrame:
        """The transform DAG output (pre-routing)."""
        if df is not None:
            return self._build(df)
        if self._source is None:
            raise ValueError("pipeline has no input stage and no df given")
        if self._kept is None or self._kept[0] != self.internal.version:
            self._kept = None
            out = self._build(self._source)
            # the version after the build: SetInternal stages move it
            self._kept = (self.internal.version, out)
        return self._kept[1]

    def run(self, base: str, run_id: str | None = None, resume: bool = False,
            df: DataFrame | None = None, **route_kw) -> dict:
        """Route the DAG output to the sinks (``route_and_write``). What
        the write persists it unpersists before returning: no rows
        outlive the run."""
        out = self.dataframe(df)
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
    for item in spec:
        (name, cfg), = item.items()
        cfg = cfg or {}
        if name in INPUTS:
            _check_options(name, INPUTS[name], cfg)
            source_df = INPUTS[name](spark, **cfg)
        elif name in OUTPUTS:
            cfg = {"name": f"sink{len(sinks)}", "format": OUTPUTS[name], **cfg}
            _check_options(name, SinkSpec, cfg, skip=0)
            sinks.append(SinkSpec(**cfg))
        elif name == "modifier.Field":
            stages.append((name, _check_field(cfg)))
        elif name in TRANSFORMS:
            _check_options(name, TRANSFORMS[name], cfg, common=_COMMON_KEYS)
            stages.append((name, cfg))
        elif name == "misc.SetInternal":
            # runs on the driver, not over rows: no filter or row actions
            _check_options(name, InternalStore.set, cfg)
            stages.append((name, cfg))
        else:
            raise _unknown("module", name, [*TRANSFORMS, *INPUTS, *OUTPUTS,
                                            "misc.SetInternal"])
    return CompiledPipeline(spark, stages, sinks, source_df)
