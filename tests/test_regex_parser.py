"""parser.Regex fixtures re-expressed as DataFrame assertions.

Source fixtures: /root/reference/tests/parser/TestRegex.py:10-73 and
FIXTURES.md F1.
"""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.functions.grok import expand_grok
from lumbermill_spark.functions.tokens import encode_line
from lumbermill_spark.operators.regex_parser import RegexParser

RAW = '192.168.2.20 - - [28/Jul/2006:10:27:10 -0300] "GET /cgi-bin/try/ HTTP/1.0" 200 3395'

MULTILINE = """Who shall declare this good, that ill
When good and ill so intertwine
But to fulfil the vast design of an omniscient will.
When seeming again but turns to loss
When earthly treasure proves but dross
And what seems lost but turns again
To high eternal gain."""

ACCESS_PATTERN = (
    r"(?P<remote_ip>\d+\.\d+\.\d+\.\d+)\s+(?P<identd>\w+|-)\s+(?P<user>\w+|-)\s+"
    r"\[(?P<datetime>\d+/\w+/\d+:\d+:\d+:\d+\s.\d+)\]\s+\"(?P<url>.*)\"\s+"
    r"(?P<http_status>\d+)\s+(?P<bytes_send>\d+)"
)

@pytest.fixture(params=["expr", "arrow"])
def engine(request):
    """Which leg of the one parse kernel the rules take. The ids are the
    names of the two engines these cases were first written against:
    'expr' keeps the rules as compiled (the RE2 leg wherever RE2 takes
    them), 'arrow' forces every rule onto the Python-``re`` leg."""
    return request.param


def _force_python(parser):
    for r in parser.rules:
        r.re2_pattern = None
    return parser


def _run(parser, df, engine):
    """Parse ``df`` (a ``data`` string column) on the ``engine`` leg with
    both drivers: the ``source_field`` Arrow UDF over ``data``, and the
    fused decode + parse stage over ``data``'s token array. The two must
    agree; the ``source_field`` frame is returned."""
    if engine == "arrow":
        _force_python(parser)
    by_source = parser.apply(df)
    by_tokens = parser.apply(df.withColumn("tokens", encode_line("data")),
                             tokens_col="tokens", drop_tokens=True)
    assert by_tokens.columns == by_source.columns
    assert sorted(map(repr, by_tokens.collect())) == \
        sorted(map(repr, by_source.collect()))
    return by_source


def _one_row(spark, line):
    return spark.createDataFrame([(line,)], "data string")


def test_access_log_fields(spark, engine):
    # TestRegex.testDefaultValues (/root/reference/tests/parser/TestRegex.py:23-30)
    p = RegexParser([{"http_access_log": ACCESS_PATTERN}], source_field="data")
    row = _run(p, _one_row(spark, RAW), engine).collect()[0]
    assert row["bytes_send"] == "3395"
    assert row["remote_ip"] == "192.168.2.20"
    assert row["http_status"] == "200"
    assert row["url"] == "GET /cgi-bin/try/ HTTP/1.0"
    assert row["event_type"] == "http_access_log"


def test_unmatched_marked_unknown(spark, engine):
    # Regex.py:182-183 default mark_unmatched_as
    p = RegexParser([{"http_access_log": ACCESS_PATTERN}], source_field="data")
    row = _run(p, _one_row(spark, "?? corrupt ??"), engine).collect()[0]
    assert row["event_type"] == "Unknown"
    assert row["bytes_send"] is None


def test_multiline_without_options(spark, engine):
    # TestRegex.testMultilineWithoutRegexOptions: '.*' without DOTALL only
    # captures the first line
    p = RegexParser([{"dame_irene": "(?P<poem>.*)"}], source_field="data")
    row = _run(p, _one_row(spark, MULTILINE), engine).collect()[0]
    assert row["poem"] == MULTILINE.split("\n")[0]
    assert row["event_type"] == "dame_irene"


def test_multiline_with_options(spark, engine):
    p = RegexParser(
        [{"dame_irene": ["(?P<poem>.*)", "re.MULTILINE | re.DOTALL"]}],
        source_field="data")
    row = _run(p, _one_row(spark, MULTILINE), engine).collect()[0]
    assert row["poem"] == MULTILINE
    assert row["event_type"] == "dame_irene"


def test_findall(spark, engine):
    # TestRegex.testFindAllRegexOption: expect ['When','When','When']
    p = RegexParser(
        [{"dame_irene": ["(?P<date>When)", "re.MULTILINE | re.DOTALL", "findall"]}],
        source_field="data")
    row = _run(p, _one_row(spark, MULTILINE), engine).collect()[0]
    assert list(row["date"]) == ["When", "When", "When"]
    assert row["event_type"] == "dame_irene"


def test_grok_expansion():
    # TestRegex.testLogstashPattern analog
    pat = "(?P<virtual_host_name>%{HOST}) (?P<remote_ip>%{IP})"
    expanded = expand_grok(pat)
    assert expanded != pat
    assert "%{" not in expanded
    import re as _re
    m = _re.search(expanded, "web01.example.com 10.1.2.3")
    assert m and m.group("remote_ip") == "10.1.2.3"
    assert m.group("virtual_host_name") == "web01.example.com"


def test_grok_in_rule(spark, engine):
    p = RegexParser(
        [{"host_ip": "(?P<host>%{HOSTNAME}) (?P<ip>%{IPV4})"}],
        source_field="data")
    row = _run(p, _one_row(spark, "web01.example.com 10.1.2.3"),
               engine).collect()[0]
    assert row["host"] == "web01.example.com"
    assert row["ip"] == "10.1.2.3"


def test_first_match_wins(spark, engine):
    rules = [
        {"numeric": r"^(?P<num>\d+)$"},
        {"anything": r"(?P<all>.+)"},
    ]
    p = RegexParser(rules, source_field="data")
    df = spark.createDataFrame([("123",), ("abc",)], "data string")
    rows = {r["data"]: r for r in _run(p, df, engine).collect()}
    assert rows["123"]["event_type"] == "numeric"
    assert rows["123"]["num"] == "123"
    assert rows["abc"]["event_type"] == "anything"
    assert rows["abc"]["all"] == "abc"


def test_no_break_last_rule_quirk(spark, engine):
    # Regex.py:160-183: with break_on_match=False, a non-matching final
    # rule resets the tag to Unknown even though fields were extracted.
    rules = [
        {"numeric": r"^(?P<num>\d+)$"},
        {"alpha": r"^(?P<alpha>[a-z]+)$"},
    ]
    p = RegexParser(rules, source_field="data", break_on_match=False)
    df = spark.createDataFrame([("123",), ("abc",)], "data string")
    rows = {r["data"]: r for r in _run(p, df, engine).collect()}
    assert rows["123"]["event_type"] == "Unknown"  # last rule missed
    assert rows["123"]["num"] == "123"             # but fields were set
    assert rows["abc"]["event_type"] == "alpha"


def test_null_source(spark, engine):
    p = RegexParser([{"t": r"(?P<x>\d+)"}], source_field="data")
    row = _run(p, _one_row(spark, None), engine).collect()[0]
    assert row["event_type"] == "Unknown"


def test_engines_agree_on_corpus(spark):
    """The RE2 leg and the Python-``re`` leg give the same rows over
    every output column of the flagship rules."""
    from lumbermill_spark.data.synth import synth_tokens
    from lumbermill_spark.pipelines_builtin import ACCESS_RULES

    df = synth_tokens(spark, 300).cache()
    re2 = RegexParser(ACCESS_RULES)
    assert all(r.re2_pattern for r in re2.rules)
    a, b = (p.apply(df, tokens_col="tokens", drop_tokens=True)
            for p in (re2, _force_python(RegexParser(ACCESS_RULES))))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_null_source_preserves_prior_event_type(spark):
    """Reference parity (Regex.py:152-159): null/non-string source ->
    event passes through UNCHANGED, keeping a prior event_type."""
    from pyspark.sql import functions as F

    from lumbermill_spark.operators.regex_parser import RegexParser

    df = spark.createDataFrame(
        [("a", "x=1", "earlier_type"), ("b", None, "earlier_type")],
        "id string, data string, event_type string",
    )
    rules = [{"kv": r"x=(?P<xval>\d+)"}]
    for engine in ("expr", "arrow"):
        out = {r["id"]: r["event_type"]
               for r in _run(RegexParser(rules, source_field="data"), df,
                             engine).collect()}
        assert out["a"] == "kv", engine
        assert out["b"] == "earlier_type", engine
    # without a prior event_type column, null source -> mark_unmatched_as
    df2 = spark.createDataFrame([("b", None)], "id string, data string")
    for engine in ("expr", "arrow"):
        out2 = _run(RegexParser(rules, source_field="data"), df2,
                    engine).first()
        assert out2["event_type"] == "Unknown", engine


# ------------------------------------------------------------------ #
# full grok vocabulary (reference assets/grok_patterns: grok-patterns +
# firewalls + haproxy; fixture line from tests/parser/TestRegex.py:11)

GROK_FIXTURES = {
    "COMMONAPACHELOG":
        '192.168.2.20 - - [28/Jul/2006:10:27:10 -0300] '
        '"GET /cgi-bin/try/ HTTP/1.0" 200 3395',
    "COMBINEDAPACHELOG":
        '192.168.2.20 - frank [28/Jul/2006:10:27:10 -0300] '
        '"GET /cgi-bin/try/ HTTP/1.0" 200 3395 '
        '"http://ref.example/x" "Mozilla/5.0 (X11; Linux)"',
    "SYSLOGLINE":
        "Feb 21 13:00:01 myhost sshd[1234]: Accepted password for root",
    "HAPROXYHTTP":
        'Feb  6 12:14:14 localhost haproxy[14389]: 10.0.1.2:33317 '
        '[06/Feb/2009:12:14:14.655] http-in static/srv1 10/0/30/69/109 '
        '200 2750 - - ---- 1/1/1/1/0 0/0 {1wt.eu} {} '
        '"GET /index.html HTTP/1.1"',
    "HAPROXYTCP":
        'Feb  6 12:12:56 localhost haproxy[14387]: 10.0.1.2:33313 '
        '[06/Feb/2009:12:12:51.443] fnt bck/srv1 0/0/5007 212 -- '
        '0/0/0/0/3 0/0',
    "CISCOFW106001":
        'Inbound TCP connection denied from 10.1.1.1/53770 to '
        '192.168.1.1/80 flags SYN on interface outside',
    "CISCOFW106023":
        'Deny tcp src dmz:10.1.2.30/63016 dst outside:192.0.0.8/53 '
        'by access-group "acl_dmz" [0xe3aab522, 0x0]',
    "CISCOFW106100":
        'access-list inside-out permitted tcp inside/10.1.1.1(1234) -> '
        'outside/8.8.8.8(53) hit-cnt 1 first hit [0x62c4905, 0x0]',
    "CISCOFW302013_302014_302015_302016":
        'Built inbound TCP connection 11757 for '
        'outside:100.66.98.44/56256 (100.66.98.44/56256) to '
        'inside:172.31.98.44/443 (172.31.98.44/443)',
    "CISCO_TAGGED_SYSLOG":
        '<164>Jun 21 2016 14:02:19 FW01 : %ASA-4-106023: Deny tcp ...',
    "NETSCREENSESSIONLOG":
        'Jun  2 14:53:31 fire00 aka1: NetScreen device_id=aka1 '
        '[Root]system-notification-00257(traffic): '
        'start_time="2006-06-02 14:53:30" duration=0 policy_id=120 '
        'service=udp/port:17210 proto=17 src zone=Trust dst zone=DMZ '
        'action=Deny sent=0 rcvd=0 src=192.168.2.2 dst=1.2.3.4 '
        'src_port=53 dst_port=17210',
    "HTTPD20_ERRORLOG":
        '[Mon Dec 26 16:15:55 2005] [error] [client 1.2.3.4] '
        'File does not exist: /var/www/html/favicon.ico',
    "HTTPD24_ERRORLOG":
        '[Thu Jun 09 06:07:05 2016] [core:notice] [pid 12812:tid 8735] '
        '[client 10.1.2.3:512] AH00094: Command line: /usr/sbin/apachectl',
}


def test_grok_vocabulary_expands_and_compiles():
    import re as _re

    from lumbermill_spark.functions.grok import (BUILTIN_PATTERNS,
                                                 expand_grok)

    assert len(BUILTIN_PATTERNS) >= 100  # full logstash-scale vocabulary
    for name in BUILTIN_PATTERNS:
        for style in ("python", "plain"):
            expanded = expand_grok("%%{%s:x}" % name,
                                   named_group_style=style)
            assert "%{" not in expanded, f"{name}: unresolved macro"
            _re.compile(expanded)


def test_grok_fixture_lines_match():
    import re as _re

    from lumbermill_spark.functions.grok import expand_grok

    for name, line in GROK_FIXTURES.items():
        pat = expand_grok("%%{%s}" % name)
        assert _re.search(pat, line), f"{name} failed on fixture"


def test_grok_combined_apachelog_fields():
    import re as _re

    from lumbermill_spark.functions.grok import expand_grok

    m = _re.search(expand_grok("%{COMBINEDAPACHELOG}"),
                   GROK_FIXTURES["COMBINEDAPACHELOG"])
    d = m.groupdict()
    assert d["clientip"] == "192.168.2.20"
    assert d["auth"] == "frank"
    assert d["verb"] == "GET"
    assert d["request"] == "/cgi-bin/try/"
    assert d["response"] == "200" and d["bytes"] == "3395"
    assert d["referrer"] == "http://ref.example/x"
    assert d["agent"] == "Mozilla/5.0 (X11; Linux)"


def test_grok_composites_parse(spark):
    """Each grok fixture parses to the fields Python ``re`` finds, on
    whichever leg its expansion takes: %{TIME} carries lookarounds, so
    everything built on it runs on the Python-``re`` leg."""
    import re as _re

    lines = spark.createDataFrame([(v,) for v in GROK_FIXTURES.values()],
                                  "line string")
    legs = {}
    for name, line in GROK_FIXTURES.items():
        parser = RegexParser([{name.lower(): "%%{%s}" % name}],
                             source_field="line")
        legs[name] = parser.rules[0].re2_pattern is not None
        row = parser.apply(lines).where(F.col("line") == line).first()
        assert row["event_type"] == name.lower(), name
        want = _re.search(parser.rules[0].py_pattern, line).groupdict()
        assert {f: row[f] for f in want} == \
            {f: v or "" for f, v in want.items()}, name
    assert not legs["SYSLOGLINE"] and not legs["COMBINEDAPACHELOG"]
    assert legs["CISCOFW106023"]


def test_backref_rule_takes_python_re_leg(spark):
    # a backreference is beyond RE2: the rule takes the Python-re leg
    # from its pattern alone, in the same one Arrow UDF stage
    parser = RegexParser([{"doubled": r"(?P<c>\w)(?P=c)"}],
                         source_field="line")
    assert parser.rules[0].re2_pattern is None
    df = spark.createDataFrame([("xaay",), ("ab",)], "line string")
    out = parser.apply(df)
    got = {r["line"]: (r["event_type"], r["c"]) for r in out.collect()}
    assert got == {"xaay": ("doubled", "a"), "ab": ("Unknown", None)}
    assert "ArrowEvalPython" in out._jdf.queryExecution() \
        .executedPlan().toString()


def test_rule_order_does_not_depend_on_batch(spark):
    """Declared order holds on every batch. 300 "ab" rows come first,
    so a per-batch hit-count reorder would promote ``any`` above
    ``doubled`` before the 100 "aa" rows arrive."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        df = spark.createDataFrame(
            [(i, "ab") for i in range(300)] + [(300 + i, "aa")
                                              for i in range(100)],
            "i int, line string").coalesce(1)
        parser = RegexParser([{"doubled": r"(?P<c>\w)(?P=c)"},
                              {"any": r"(?P<w>\w+)"}])
        # filter after collect: a pushed-down filter would keep the "ab"
        # rows from ever reaching the parse
        out = parser.apply(df).collect()
        assert {r["event_type"] for r in out if r["line"] == "aa"} \
            == {"doubled"}
    finally:
        spark.conf.set(key, old)


def _tag(spark, rules, line, engine="expr"):
    p = RegexParser(rules, source_field="data")
    return _run(p, _one_row(spark, line), engine).first()


# Dialect edges. RE2, Java and Python disagree on each; these assert what
# each leg ships.

def test_re2_leg_whitespace_excludes_vertical_tab(spark):
    rules = [{"ws": r"(?P<a>a)\s(?P<b>b)"}]
    assert _tag(spark, rules, "a\x0bb")["event_type"] == "Unknown"
    assert _tag(spark, rules, "a\x0bb", "arrow")["event_type"] == "ws"


def test_dot_matches_carriage_return_on_both_legs(spark):
    rules = [{"dot": r"(?P<x>a.b)"}]
    for engine in ("expr", "arrow"):
        assert _tag(spark, rules, "a\rb", engine)["x"] == "a\rb", engine


def test_re2_leg_dollar_skips_trailing_newline(spark):
    rules = [{"eol": r"(?P<x>abc)$"}]
    assert _tag(spark, rules, "abc\n")["event_type"] == "Unknown"
    assert _tag(spark, rules, "abc\n", "arrow")["x"] == "abc"


def test_verbose_and_lookaround_rules_take_python_re_leg(spark):
    rules = [{"verbose": [r"(?P<n> \d+ ) \s kg", "re.VERBOSE"]},
             {"ahead": r"(?P<w>\w+)(?=!)"}]
    p = RegexParser(rules, source_field="data")
    assert [r.re2_pattern for r in p.rules] == [None, None]
    df = spark.createDataFrame([("12 kg",), ("hey!",), ("hey",)],
                               "data string")
    got = {r["data"]: (r["event_type"], r["n"], r["w"])
           for r in _run(p, df, "expr").collect()}
    assert got == {"12 kg": ("verbose", "12", None),
                   "hey!": ("ahead", None, "hey"),
                   "hey": ("Unknown", None, None)}


def test_unnamed_groups_and_no_named_group(spark):
    rules = [{"unnamed": r"(a|b)+(?P<n>\d+)(x)?"}, {"bare": r"^(z)+$"}]
    p = RegexParser(rules, source_field="data")
    assert p.rules[0].re2_pattern == r"(?:a|b)+(?P<n>\d+)(?:x)?"
    assert p.rules[1].re2_pattern == r"^(?:z)+$"
    df = spark.createDataFrame([("ab12",), ("zz",), ("q",)], "data string")
    for engine in ("expr", "arrow"):
        got = {r["data"]: (r["event_type"], r["n"])
               for r in _run(p, df, engine).collect()}
        assert got == {"ab12": ("unnamed", "12"), "zz": ("bare", None),
                       "q": ("Unknown", None)}, engine


def test_re2_and_python_rules_share_a_field_across_batches(spark):
    """First match wins across legs: the RE2 rule owns ``k=`` lines
    even where the backref rule also matches, and each field value comes
    from the rule that tagged its row, batch after batch."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rules = [{"kv": r"k=(?P<v>\w+)"}, {"pair": r"(?P<v>\w)(?P=v)"}]
        p = RegexParser(rules, source_field="data")
        assert p.rules[0].re2_pattern and p.rules[1].re2_pattern is None
        lines = ["k=aa", "xbb", "k=1", "cd", "ee", "k=zz"]
        df = spark.createDataFrame([(x,) for x in lines],
                                   "data string").coalesce(1)
        got = {r["data"]: (r["event_type"], r["v"])
               for r in _run(p, df, "expr").collect()}
        assert got == {"k=aa": ("kv", "aa"), "xbb": ("pair", "b"),
                       "k=1": ("kv", "1"), "cd": ("Unknown", None),
                       "ee": ("pair", "e"), "k=zz": ("kv", "zz")}
    finally:
        spark.conf.set(key, old)


def test_findall_over_sliced_batch():
    import pyarrow as pa

    p = RegexParser([{"num": r"^n(?P<d>\d)"},
                     {"words": [r"(?P<w>[a-z]+)", "", "findall"]}])
    lines = pa.array(["zz", "n1", "ab cd", None, "e", "n2"]).slice(1, 4)
    et, d, w = p._parse_lines(lines)
    assert et.to_pylist() == ["num", "words", "Unknown", "words"]
    assert d.to_pylist() == ["1", None, None, None]
    assert w.to_pylist() == [None, ["ab", "cd"], None, ["e"]]


def test_null_line_keeps_prior_event_type_in_kernel():
    import pyarrow as pa

    p = RegexParser([{"kv": r"x=(?P<x>\d)"}])
    lines = pa.array([None, "x=1", None, "y"])
    et, x = p._parse_lines(lines, pa.array(["earlier", "earlier", None, "e"]))
    assert et.to_pylist() == ["earlier", "kv", None, "Unknown"]
    assert x.to_pylist() == [None, "1", None, None]
    et, _ = p._parse_lines(lines)
    assert et.to_pylist() == ["Unknown", "kv", "Unknown", "Unknown"]
