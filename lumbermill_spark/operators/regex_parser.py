"""Multi-rule named-regex parser (the reference's parser.Regex).

Reference semantics (/root/reference/lumbermill/parser/Regex.py:147-184):

- an ordered list of rules ``(event_type, pattern, flags, match_type)``;
- ``search``: first match sets the pattern's named groups as event fields;
- ``findall``: every match appends to per-group lists;
- on match, ``event_type`` is set to the rule name; with
  ``break_on_match`` (default) evaluation stops at the first match;
- if the *final evaluated* rule produced no match, ``event_type`` is set
  to ``mark_unmatched_as`` ('Unknown'). NB with break_on_match=False this
  faithfully reproduces a reference quirk: a non-matching LAST rule
  overwrites the tag even when an earlier rule matched
  (Regex.py:160-183 — matches_dict holds only the last iteration).
- grok ``%{NAME:field}`` macros are expanded before compile
  (Regex.py:128-145) — we do this at plan build, see functions/grok.py.
- ``hot_rules_first`` re-sorts rules by hit count every 10s
  (Regex.py:104-111). Here every row sees the declared order, whatever
  batch it lands in; ``optimize_rule_order`` is the sample-measured
  analog, fixed at plan build.

One kernel, ``RegexParser._parse_lines``, parses an Arrow batch of
lines. The dialect is RE2, the engine the DuckDB oracles run: a rule
RE2 compiles runs as ``pyarrow.compute.extract_regex``. The patterns
pick the leg per rule, with no option: a rule RE2 rejects (backrefs,
lookaround, conditionals, ``\\Z``, ``(?x)``) and every ``findall`` rule
runs as Python ``re`` over the rows of the same batch no earlier rule
matched.

The kernel is one Python stage. With ``tokens_col`` it runs inside the
Arrow decode ``mapInArrow``, so the line never goes back to the JVM;
with ``source_field`` it is a scalar Arrow UDF over that one column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lumbermill_spark.functions.grok import expand_grok
from lumbermill_spark.functions.tokens import _tokens_to_utf8, decode_tokens_arrow

_FLAG_MAP = {
    "re.IGNORECASE": "i", "re.I": "i",
    "re.MULTILINE": "m", "re.M": "m",
    "re.DOTALL": "s", "re.S": "s",
    "re.VERBOSE": "x", "re.X": "x",
    "re.UNICODE": "", "re.U": "",  # default in py3
}

_PY_FLAG_MAP = {
    "i": re.IGNORECASE, "m": re.MULTILINE, "s": re.DOTALL, "x": re.VERBOSE,
}

# RE2 reads these inline flags as Python does
_RE2_FLAGS = set("ims")

# an escape, a character class, or an unnamed group's '('
_UNNAMED_GROUP = re.compile(r"\\.|\[\^?\]?(?:\\.|[^\]\\])*\]|\((?!\?)")


# optimize_rule_order's probe: seeded Bernoulli sample fraction, and
# the row count at which it stops reading
_SAMPLE_FRACTION = 0.1
_SAMPLE_ROWS = 10_000


def _parse_flags(flags: str | int | None) -> str:
    """'re.MULTILINE | re.DOTALL' -> 'ms' (inline-flag letters).

    The reference eval()s the flag string (Regex.py:72); we parse the
    restricted grammar instead — no eval of config strings, ever.
    """
    if not flags:
        return ""
    if isinstance(flags, int):
        out = ""
        for letter, val in _PY_FLAG_MAP.items():
            if flags & val:
                out += letter
        return out
    letters = []
    for tok in str(flags).split("|"):
        tok = tok.strip()
        if not tok:
            continue
        if tok not in _FLAG_MAP:
            raise ValueError(f"unsupported regex flag {tok!r}")
        letters.append(_FLAG_MAP[tok])
    return "".join(letters)


@dataclass
class RegexRule:
    event_type: str
    pattern: str                      # grok-unexpanded, python named groups
    flags: str = ""                   # inline-flag letters, e.g. 'ms'
    match_type: str = "search"        # 'search' | 'findall'
    # filled by compile_rules:
    py_pattern: str = field(default="", repr=False)
    re2_pattern: str | None = field(default=None, repr=False)  # None: re leg
    group_index: dict[str, int] = field(default_factory=dict, repr=False)


def rules_from_config(field_extraction_patterns: list[dict]) -> list[RegexRule]:
    """Accept the reference's YAML shape (Regex.py:61-82):
    ``[{name: pattern}, {name: [pattern, 're.X | re.Y', 'findall']}]``."""
    rules = []
    for item in field_extraction_patterns:
        (name, spec), = item.items()
        if isinstance(spec, (list, tuple)):
            pattern = spec[0]
            flags = _parse_flags(spec[1]) if len(spec) > 1 else ""
            match_type = spec[2] if len(spec) > 2 else "search"
        else:
            pattern, flags, match_type = spec, "", "search"
        if match_type not in ("search", "findall"):
            raise ValueError(f"unsupported match_type {match_type!r}")
        rules.append(RegexRule(name, pattern, flags, match_type))
    return rules


def compile_rules(rules: list[RegexRule],
                  grok_patterns: dict[str, str] | None = None) -> list[RegexRule]:
    for r in rules:
        r.py_pattern = expand_grok(r.pattern, grok_patterns, "python")
        if r.flags:
            r.py_pattern = f"(?{r.flags})" + r.py_pattern
        r.group_index = dict(re.compile(r.py_pattern).groupindex)
        r.re2_pattern = _re2_pattern(r)
    return rules


def _re2_pattern(rule: RegexRule) -> str | None:
    """The rule as RE2 runs it, or None for the Python ``re`` leg: a
    findall rule, a flag RE2 lacks, or a pattern RE2 does not compile.
    ``extract_regex`` wants every group named, so unnamed ``(`` groups
    become ``(?:`` (the fields come from the named ones alone)."""
    if rule.match_type != "search" or set(rule.flags) - _RE2_FLAGS:
        return None
    pat = _UNNAMED_GROUP.sub(
        lambda m: "(?:" if m.group() == "(" else m.group(), rule.py_pattern)
    try:
        _match_re2(pat, bool(rule.group_index), pa.array([""]))
    except pa.ArrowInvalid:
        return None
    return pat


def _match_re2(pat: str, named: bool, lines: pa.Array):
    if not named:
        hit = pc.match_substring_regex(lines, pattern=pat)
        return pc.fill_null(hit, False), {}
    got = pc.extract_regex(lines, pattern=pat)
    return got.is_valid(), {f.name: a for f, a in zip(got.type, got.flatten())}


def _match(rule: RegexRule, lines: pa.Array):
    """(hit, {field: values}) of one rule over ``lines``: null lines never
    hit, values are null where the rule missed, and a group that took no
    part in a match reads ``""``."""
    if rule.re2_pattern is not None:
        return _match_re2(rule.re2_pattern, bool(rule.group_index), lines)
    rx = re.compile(rule.py_pattern)
    findall = rule.match_type == "findall"
    n = len(lines)
    hit = [False] * n
    vals: dict[str, list] = {f: [None] * n for f in rule.group_index}
    rows = pc.indices_nonzero(lines.is_valid())
    for i, s in zip(rows.to_pylist(), lines.take(rows).to_pylist()):
        ms = list(rx.finditer(s)) if findall else [rx.search(s)]
        if not ms or ms[0] is None:
            continue
        hit[i] = True
        for f, g in rule.group_index.items():
            got = [m.group(g) or "" for m in ms]
            vals[f][i] = got if findall else got[0]
    kind = pa.list_(lines.type) if findall else lines.type
    return (pa.array(hit, pa.bool_()),
            {f: pa.array(v, kind) for f, v in vals.items()})


def _field_types(rules: list[RegexRule]) -> dict[str, str]:
    """field name -> 'search' | 'findall' (mixed use is rejected)."""
    kinds: dict[str, str] = {}
    for r in rules:
        for g in r.group_index:
            prev = kinds.get(g)
            if prev is not None and prev != r.match_type:
                raise ValueError(
                    f"group {g!r} used by both search and findall rules; "
                    "split into differently named groups"
                )
            kinds[g] = r.match_type
    return kinds


class RegexParser:
    """Builds the parse stage. ``apply(df)`` returns df + ``event_type``
    + one column per named group (string, or array<string> for findall).
    Existing columns with clashing names are overwritten (the reference
    event.update() semantics, Regex.py:176)."""

    def __init__(
        self,
        field_extraction_patterns: list[dict] | list[RegexRule],
        source_field: str = "line",
        mark_unmatched_as: str = "Unknown",
        break_on_match: bool = True,
        grok_patterns: dict[str, str] | None = None,
    ):
        if field_extraction_patterns and isinstance(field_extraction_patterns[0], dict):
            rules = rules_from_config(field_extraction_patterns)
        else:
            rules = list(field_extraction_patterns)
        self.rules = compile_rules(rules, grok_patterns)
        self.source_field = source_field
        self.mark_unmatched_as = mark_unmatched_as
        self.break_on_match = break_on_match
        self.field_kinds = _field_types(self.rules)

    # ------------------------------------------------------------------ #
    def optimize_rule_order(self, df: DataFrame,
                            tokens_col: str | None = None) -> "RegexParser":
        """Plan-build analog of ``hot_rules_first`` (Regex.py:98-111):
        the reference re-sorts rules by observed hit count every 10 s at
        runtime; here the order is fixed at plan build, so instead we
        measure per-rule selectivity on a sample ONCE and reorder the
        rules before building the stage. With break_on_match, putting
        the hottest rule first means most rows evaluate exactly one
        regex. Reordering first-match-wins rules is only safe for rules
        that never match the same row — a general rule promoted above a
        more specific subset rule would silently steal its matches. So
        the sample measures pairwise CO-match counts too, and any pair
        that co-matches IN THE SAMPLE keeps its original relative order
        (greedy hot-first topological order under those constraints).
        The constraint is SAMPLE-DERIVED, not a guarantee: the probe is
        a seeded Bernoulli sample (``_SAMPLE_FRACTION``, early-stopped
        at ``_SAMPLE_ROWS`` — reads ~rows/fraction input rows, spread
        ~1/fraction× wider than a bare prefix limit), so an overlapping
        pair that never co-occurs in the sampled rows can still be
        reordered; keep the original rule order (skip this optimizer)
        when strict first-match precedence between overlapping rules
        must hold on every row. The sample is collected to the driver
        with ``toArrow()`` and each rule runs there with the kernel's
        own matcher, whichever leg it takes. The line comes from
        ``tokens_col`` or ``source_field``, as in :meth:`apply`.
        Returns self (mutated).
        """
        if not self.break_on_match or len(self.rules) < 2:
            return self
        col = tokens_col or self.source_field
        sample = (df.select(col).sample(fraction=_SAMPLE_FRACTION, seed=42)
                  .limit(_SAMPLE_ROWS).toArrow().column(0).combine_chunks())
        if len(sample) == 0:
            return self
        lines = _tokens_to_utf8(sample) if tokens_col else sample
        n = len(self.rules)
        matched = [_match(r, lines)[0] for r in self.rules]
        hits = [pc.sum(m).as_py() or 0 for m in matched]
        # precedence: overlapping pair (i, j), i<j, must stay i-before-j
        preds: dict[int, set[int]] = {i: set() for i in range(n)}
        for i in range(n):
            for j in range(i + 1, n):
                if pc.any(pc.and_(matched[i], matched[j])).as_py():
                    preds[j].add(i)
        order: list[int] = []
        emitted: set[int] = set()
        while len(order) < n:
            ready = [i for i in range(n)
                     if i not in emitted and preds[i] <= emitted]
            best = max(ready, key=lambda i: (hits[i], -i))
            order.append(best)
            emitted.add(best)
        self.rules = [self.rules[i] for i in order]
        return self

    def _out_fields(self) -> list[T.StructField]:
        return [T.StructField("event_type", T.StringType())] + [
            T.StructField(f, T.ArrayType(T.StringType()) if kind == "findall"
                          else T.StringType())
            for f, kind in self.field_kinds.items()]

    def apply(self, df: DataFrame, tokens_col: str | None = None,
              drop_tokens: bool = False) -> DataFrame:
        """tokens_col: decode this array<int> column and parse it in the
        same Arrow stage, instead of ``source_field``.
        drop_tokens=True skips shipping the token arrays back out of that
        stage — use it when downstream only needs the parsed fields +
        n_tok (2-4x less Arrow traffic)."""
        fields = self._out_fields()
        if tokens_col:
            return decode_tokens_arrow(df, tokens_col, drop_tokens=drop_tokens,
                                       parse=(fields, self._parse_batch))
        names = [f.name for f in fields]

        def parse(line, *prior):
            return pa.StructArray.from_arrays(self._parse_lines(line, *prior),
                                              names=names)

        prior = [F.col("event_type")] if "event_type" in df.columns else []
        parsed = F.arrow_udf(parse, T.StructType(fields))(
            F.col(self.source_field), *prior)
        out = df.withColumn("_lms_parsed", parsed)
        out = out.drop(*[c for c in names if c in df.columns])
        return out.withColumns(
            {c: F.col("_lms_parsed")[c] for c in names}).drop("_lms_parsed")

    def _parse_batch(self, lines: pa.Array, batch: pa.RecordBatch) -> list:
        names = batch.schema.names
        prior = (batch.column(names.index("event_type"))
                 if "event_type" in names else None)
        return self._parse_lines(lines, prior)

    def _parse_lines(self, lines: pa.Array, prior: pa.Array | None = None
                     ) -> list[pa.Array]:
        """The kernel: one batch of lines -> ``[event_type, *fields]`` in
        ``_out_fields`` order. Rules run in declared order. With
        break_on_match each rule sees only the rows no earlier rule hit,
        so first match wins; without it every rule sees every row, the
        tag follows the last rule, and each field comes from the last
        rule that hit and provides it. A null line hits nothing and
        keeps ``prior`` (the incoming event_type) when given."""
        n = len(self.rules)
        left = lines                  # rows no earlier rule hit
        code = pa.nulls(len(lines), pa.int32())   # index of the tagging rule
        parts: dict[str, list] = {f: [] for f in self.field_kinds}
        for i, r in enumerate(self.rules):
            hit, vals = _match(r, left)
            if self.break_on_match or i == n - 1:
                code = pc.if_else(hit, pa.scalar(i, pa.int32()), code)
            for f, v in vals.items():
                parts[f].append(v)
            if self.break_on_match and i < n - 1:
                left = pc.replace_with_mask(left, hit,
                                            pa.scalar(None, left.type))
        names = pa.array([r.event_type for r in self.rules]
                         + [self.mark_unmatched_as], pa.string())
        etype = names.take(pc.fill_null(code, n))
        if prior is not None:
            etype = pc.if_else(lines.is_valid(), etype, prior)
        out = [etype]
        for f in self.field_kinds:
            vs = parts.pop(f)
            if not self.break_on_match:
                vs.reverse()
            out.append(vs[0] if len(vs) == 1 else pc.coalesce(*vs))
        return out
