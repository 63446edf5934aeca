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
- ``hot_rules_first`` reorders rules by observed hit count every 10s
  (Regex.py:104-111); the Python-``re`` fallback reorders per batch,
  which is the micro-batch analog. The Catalyst path leaves rule order
  alone (WHEN chains already short-circuit); ``optimize_rule_order``
  is its sample-measured analog.

One engine per rule set, and the patterns pick it:

- Catalyst, whenever Java's regex runs every pattern. Each rule
  becomes an ``rlike`` predicate in a WHEN chain selecting
  ``_rule_idx``; each named group becomes ``regexp_extract`` (search) /
  ``regexp_extract_all`` (findall) guarded by ``_rule_idx``. Zero
  Python at runtime, whole-stage codegen, predicate pushdown all apply.
- Python ``re``, the semantic fallback for rule sets with a construct
  Java lacks or reads differently (``(?P=name)`` backrefs,
  ``(?(id)yes|no)`` conditionals, ``\\Z``; see ``_JAVA_UNSAFE``): one
  vectorized pandas UDF applying the compiled rule list per Arrow
  batch and returning a struct.

Both read the line from ``source_field``, or with ``tokens_col`` from
the one vectorized Arrow decode of the token arrays. The two are
semantics-equivalent on the grammar they share (tested case by case).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lumbermill_spark.functions.grok import expand_grok
from lumbermill_spark.functions.tokens import decode_tokens_arrow

_FLAG_MAP = {
    "re.IGNORECASE": "i", "re.I": "i",
    "re.MULTILINE": "m", "re.M": "m",
    "re.DOTALL": "s", "re.S": "s",
    "re.VERBOSE": "x", "re.X": "x",
    "re.UNICODE": "", "re.U": "",  # default in py3 / irrelevant in Java
}

_PY_FLAG_MAP = {
    "i": re.IGNORECASE, "m": re.MULTILINE, "s": re.DOTALL, "x": re.VERBOSE,
}


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
    java_pattern: str = field(default="", repr=False)
    group_index: dict[str, int] = field(default_factory=dict, repr=False)

    def py_flags(self) -> int:
        out = 0
        for ch in self.flags:
            out |= _PY_FLAG_MAP[ch]
        return out


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
        # Java side extracts groups by index, so named groups become plain
        # groups (Java's group-name grammar rejects '_', and names are
        # unnecessary when indices line up with the Python compile below).
        r.java_pattern = re.sub(
            r"\(\?P<\w+>", "(", expand_grok(r.pattern, grok_patterns, "plain")
        )
        if r.flags:
            prefix = f"(?{r.flags})"
            r.py_pattern = prefix + r.py_pattern
            r.java_pattern = prefix + r.java_pattern
        r.group_index = dict(re.compile(r.py_pattern, 0).groupindex)
    return rules


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
        hot_rules_first: bool = True,
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
        self.hot_rules_first = hot_rules_first
        self.field_kinds = _field_types(self.rules)

    # Java regex screen: python-only constructs that would compile under
    # java.util.regex with different meaning or fail at runtime.
    _JAVA_UNSAFE = re.compile(r"\(\?P=|\(\?\(|\\Z")

    def _expr_capable(self) -> bool:
        return not any(self._JAVA_UNSAFE.search(r.py_pattern) for r in self.rules)

    def _source(self, df: DataFrame, tokens_col: str | None,
                drop_tokens: bool = False) -> tuple[DataFrame, Column]:
        """(frame, line column): the vectorized Arrow batch decode of
        ``tokens_col`` (one buffer reinterpret per batch; the
        per-character JVM expression is ~20x slower and gets inlined
        into every regex expression by CollapseProject), else
        ``source_field``."""
        if not tokens_col:
            return df, F.col(self.source_field)
        decoded = decode_tokens_arrow(df, tokens_col, out_col="_lms_line",
                                      drop_tokens=drop_tokens)
        return decoded, F.col("_lms_line")

    # ------------------------------------------------------------------ #
    def optimize_rule_order(self, df: DataFrame,
                            tokens_col: str | None = None) -> "RegexParser":
        """Catalyst-path analog of ``hot_rules_first`` (Regex.py:98-111):
        the reference re-sorts rules by observed hit count every 10 s at
        runtime; a WHEN chain is fixed at plan build, so instead we
        measure per-rule selectivity on a sample ONCE and reorder the
        chain before building it. With break_on_match, putting the
        hottest rule first means most rows evaluate exactly one regex.
        Reordering first-match-wins rules is only safe for rules that
        never match the same row — a general rule promoted above a more
        specific subset rule would silently steal its matches. So the
        sample measures pairwise CO-match counts too, and any pair that
        co-matches IN THE SAMPLE keeps its original relative order
        (greedy hot-first topological order under those constraints).
        The constraint is SAMPLE-DERIVED, not a guarantee: the probe is
        a seeded Bernoulli sample (``_SAMPLE_FRACTION``, early-stopped
        at ``_SAMPLE_ROWS`` — reads ~rows/fraction input rows, spread
        ~1/fraction× wider than a bare prefix limit), so an overlapping
        pair that never co-occurs in the sampled rows can still be
        reordered; keep the original rule order (skip this optimizer)
        when strict first-match precedence between overlapping rules
        must hold on every row. Rule sets containing Java-unsafe
        (Python-``re``-only) patterns are left untouched — ``rlike``
        would throw on them. The line comes from ``tokens_col`` or
        ``source_field``, as in :meth:`apply`. Returns self (mutated).
        """
        if not self.break_on_match or len(self.rules) < 2:
            return self
        if not self._expr_capable():
            return self  # can't probe Java-unsafe patterns with rlike
        src_df, src = self._source(df, tokens_col)
        n = len(self.rules)
        # seeded Bernoulli sample + early-stop limit, NOT a bare prefix
        # limit: covers ~1/fraction× more of the input while still only
        # reading ~rows/fraction rows (limit stops the scan)
        sampled = src_df.sample(fraction=_SAMPLE_FRACTION, seed=42) \
            .limit(_SAMPLE_ROWS)
        flags = sampled.select(*[
            src.rlike(r.java_pattern).cast("int").alias(f"m{i}")
            for i, r in enumerate(self.rules)
        ])
        aggs = [F.sum(F.col(f"m{i}")).alias(f"h{i}") for i in range(n)]
        aggs += [
            F.sum(F.col(f"m{i}") * F.col(f"m{j}")).alias(f"o{i}_{j}")
            for i in range(n) for j in range(i + 1, n)
        ]
        counts = flags.agg(*aggs).first()
        hits = [counts[f"h{i}"] or 0 for i in range(n)]
        # precedence: overlapping pair (i, j), i<j, must stay i-before-j
        preds: dict[int, set[int]] = {i: set() for i in range(n)}
        for i in range(n):
            for j in range(i + 1, n):
                if (counts[f"o{i}_{j}"] or 0) > 0:
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

    def apply(self, df: DataFrame, tokens_col: str | None = None,
              drop_tokens: bool = False) -> DataFrame:
        """tokens_col: decode this array<int> column (vectorized Arrow
        batch decode) and parse it instead of ``source_field``.
        drop_tokens=True skips shipping the token arrays back out of the
        decode stage — use it when downstream only needs the parsed
        fields + n_tok (2-4x less Arrow traffic)."""
        src_df, src = self._source(df, tokens_col, drop_tokens)
        parse = self._apply_expr if self._expr_capable() else self._apply_arrow
        out = parse(src_df, src)
        return out.drop("_lms_line") if tokens_col else out

    # ----------------------------- Catalyst ----------------------------- #
    def _apply_expr(self, df: DataFrame, source: Column) -> DataFrame:
        # Materialize the source expression ONCE behind a projection:
        # every rule contributes ~1 rlike + 1 regexp_extract per group,
        # and without this barrier Catalyst inlines the (potentially
        # expensive — token decode!) source expression into each of
        # them. One decode per row instead of ~(rules × groups).
        df = df.withColumn("_lms_src", source)
        src = F.col("_lms_src")
        n = len(self.rules)
        # _rule_idx: index of the winning rule under break-on-first-match,
        # or -1. For break_on_match=False the winner for event_type is the
        # LAST matching rule (fields come from the last matching rule that
        # defines each group).
        order = range(n) if self.break_on_match else range(n - 1, -1, -1)
        idx_expr: Column = F.lit(-1)
        chain = None
        for i in order:
            cond = src.rlike(self.rules[i].java_pattern)
            chain = F.when(cond, F.lit(i)) if chain is None else chain.when(cond, F.lit(i))
        if chain is not None:
            idx_expr = chain.otherwise(F.lit(-1))
        out = df.withColumn("_rule_idx", idx_expr)

        names = F.array(*[F.lit(r.event_type) for r in self.rules])
        etype = F.when(
            F.col("_rule_idx") >= 0, F.element_at(names, F.col("_rule_idx") + 1)
        ).otherwise(F.lit(self.mark_unmatched_as))
        if not self.break_on_match and n > 0:
            # reference quirk: the tag tracks the LAST evaluated rule —
            # if the final rule missed, the event is marked unmatched even
            # when an earlier rule hit (Regex.py:160-183).
            etype = F.when(
                src.rlike(self.rules[-1].java_pattern),
                F.lit(self.rules[-1].event_type),
            ).otherwise(F.lit(self.mark_unmatched_as))
        # null source: the reference yields the event UNCHANGED
        # (Regex.py:152-159 KeyError/non-str guard), so a pre-existing
        # event_type survives; absent one, the unmatched tag applies.
        # Stash the prior value: the original column is dropped before
        # the new projection resolves.
        if "event_type" in df.columns:
            out = out.withColumn("_lms_prior_et", F.col("event_type"))
            prior = F.col("_lms_prior_et")
        else:
            prior = F.lit(self.mark_unmatched_as)
        etype = F.when(src.isNull(), prior).otherwise(etype)

        # NOTE on "one regexp_extract per group runs the regex G times":
        # measured alternatives lose. A single-pass rewrite
        # (regexp_replace(line, '^[\s\S]*?(?:P)[\s\S]*$', '$1\x1f$2…')
        # + split + element_at) was benchmarked at sf0.1 on the 9-group
        # grok rule: ~20% SLOWER even when all 9 groups are consumed
        # (physical subexpression elimination does not share the
        # replace+split subtree across CaseWhen branch values, and the
        # full-line wrapper adds backtracking), and strictly worse when
        # few groups are consumed, because Catalyst column-prunes unused
        # per-group extracts to zero cost while the rewrite's cost is
        # fixed. Per-group extracts + column pruning is the fast plan;
        # the Python-re fallback already does true single-pass extraction
        # for Python-only patterns.
        cols = {"event_type": etype}
        for fname, kind in self.field_kinds.items():
            expr: Column = F.lit(None).cast(
                "array<string>" if kind == "findall" else "string"
            )
            providers = [
                (i, r) for i, r in enumerate(self.rules) if fname in r.group_index
            ]
            fchain = None
            it = providers if self.break_on_match else list(reversed(providers))
            for i, r in it:
                gi = r.group_index[fname]
                if kind == "findall":
                    val = F.regexp_extract_all(src, F.lit(r.java_pattern), gi)
                else:
                    val = F.regexp_extract(src, r.java_pattern, gi)
                cond = F.col("_rule_idx") == i if self.break_on_match else src.rlike(
                    r.java_pattern
                )
                fchain = F.when(cond, val) if fchain is None else fchain.when(cond, val)
            if fchain is not None:
                expr = fchain.otherwise(expr)
            cols[fname] = expr
        out = out.drop(*[c for c in cols if c in out.columns])
        out = out.withColumns(cols)
        return out.drop("_rule_idx", "_lms_src", "_lms_prior_et")

    # ------------------------- Python re fallback ----------------------- #
    def _apply_arrow(self, df: DataFrame, source: Column) -> DataFrame:
        rules_spec = [
            (r.event_type, r.py_pattern, r.py_flags(), r.match_type,
             list(r.group_index))
            for r in self.rules
        ]
        field_kinds = dict(self.field_kinds)
        mark_unmatched = self.mark_unmatched_as
        break_on_match = self.break_on_match
        hot_first = self.hot_rules_first

        out_fields = [T.StructField("event_type", T.StringType())]
        for fname, kind in field_kinds.items():
            dtype = (T.ArrayType(T.StringType()) if kind == "findall"
                     else T.StringType())
            out_fields.append(T.StructField(fname, dtype))
        out_type = T.StructType(out_fields)
        fnames = list(field_kinds)

        # per-python-worker state: compiled rules + hit counters persist
        # across Arrow batches (the closure is unpickled once per worker),
        # so hot_rules_first reorders per batch like the reference's 10s
        # timer reorders per interval (Regex.py:104-111).
        state: dict = {}

        @F.pandas_udf(out_type)
        def parse_batch(col: pd.Series) -> pd.DataFrame:
            if "compiled" not in state:
                state["compiled"] = [
                    {"event_type": et, "re": re.compile(pat, fl),
                     "match_type": mt, "groups": grps, "hits": 0}
                    for (et, pat, fl, mt, grps) in rules_spec
                ]
            compiled = state["compiled"]
            order = list(range(len(compiled)))
            if hot_first:
                order.sort(key=lambda i: -compiled[i]["hits"])

            etypes: list[str | None] = []
            cols: dict[str, list] = {f: [] for f in fnames}
            for s in col:
                row_vals: dict[str, object] = {}
                row_et = None
                if s is None or not isinstance(s, str):
                    etypes.append(mark_unmatched)
                    for f in fnames:
                        cols[f].append(None)
                    continue
                matches: dict = {}
                for oi in order:
                    rd = compiled[oi]
                    matches = {}
                    if rd["match_type"] == "search":
                        m = rd["re"].search(s)
                        if m:
                            matches = m.groupdict()
                    else:
                        for m in rd["re"].finditer(s):
                            for k, v in m.groupdict().items():
                                matches.setdefault(k, []).append(v)
                    if matches:
                        row_vals.update(matches)
                        row_et = rd["event_type"]
                        rd["hits"] += 1
                        if break_on_match:
                            break
                if not matches:
                    # last-evaluated-rule quirk, same as the Catalyst path
                    row_et = mark_unmatched
                etypes.append(row_et if row_et is not None else mark_unmatched)
                for f in fnames:
                    cols[f].append(row_vals.get(f))
            data = {"event_type": etypes}
            data.update(cols)
            return pd.DataFrame(data)

        in_col = source
        out = df.withColumn("_parsed", parse_batch(in_col))
        # null-source pass-through parity with the reference
        # (Regex.py:152-159): a pre-existing event_type survives
        if "event_type" in df.columns:
            out = out.withColumn(
                "_prior_et", F.when(in_col.isNull(), F.col("event_type")))
        clash = [f.name for f in out_type.fields if f.name in df.columns]
        out = out.drop(*clash)
        for f in out_type.fields:
            out = out.withColumn(f.name, F.col("_parsed")[f.name])
        if "_prior_et" in out.columns:
            out = out.withColumn(
                "event_type", F.coalesce("_prior_et", "event_type")
            ).drop("_prior_et")
        return out.drop("_parsed")
