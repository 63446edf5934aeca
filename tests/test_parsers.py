"""Scalar parser fixtures re-expressed as DataFrame assertions.

Sources: /root/reference/tests/parser/Test{Csv,Json,Line,DateTime,Url,
SyslogPrival,Base64}.py and FIXTURES.md F3/F4/F6.
"""

import base64

from pyspark.sql import functions as F

from lumbermill_spark.operators import parsers as P


def _one(spark, value, schema="data string"):
    return spark.createDataFrame([(value,)], schema)


def test_csv_fixture(spark):
    # TestCsv: "It's;just;a;flesh;wound." delim ';' -> brain == 'just';
    # values beyond fieldnames dropped (Csv.py:55-61)
    df = _one(spark, "It's;just;a;flesh;wound.")
    out = P.parse_csv(df, fieldnames=["gumby", "brain", "specialist"],
                      source_field="data", delimiter=";")
    row = out.first()
    assert row["gumby"] == "It's"
    assert row["brain"] == "just"
    assert row["specialist"] == "a"
    assert "flesh" not in out.columns


def test_json_decode_merge(spark):
    df = _one(spark, '{"South African": "Swallow", "n": "5"}')
    out = P.parse_json(df, schema="`South African` string, n string")
    row = out.first()
    assert row["South African"] == "Swallow"
    assert row["n"] == "5"
    assert "data" not in out.columns  # drop_original default


def test_json_decode_map_default(spark):
    df = _one(spark, '{"a": "1", "b": "2"}')
    out = P.parse_json(df, target_field="j")
    assert out.first()["j"] == {"a": "1", "b": "2"}


def test_json_multidoc(spark):
    # concatenated JSON stream -> 1->N events (Json.py:95-99)
    df = _one(spark, '{"a": "1"} {"a": "2"}{"a": "3"}')
    out = P.parse_json(df, schema="a string", multidoc=True)
    assert sorted(r["a"] for r in out.collect()) == ["1", "2", "3"]


def test_json_encode(spark):
    df = spark.createDataFrame([("x", 1)], "s string, n int")
    out = P.encode_json(df, source_fields=["s", "n"], target_field="data")
    assert out.first()["data"] == '{"s":"x","n":1}'


def test_line_explode(spark):
    df = _one(spark, "message-a|message-b|message-c")
    out = P.parse_line(df, separator="|")
    assert sorted(r["data"] for r in out.collect()) == [
        "message-a", "message-b", "message-c"]


def test_datetime_convert(spark):
    # F6-style: reformat between string patterns
    df = _one(spark, "2018-11-07T10:05:07.431Z", "ts string")
    out = P.parse_datetime(df, "ts", "%Y-%m-%dT%H:%M:%S.%fZ",
                           "%Y-%m-%dT%H:%M:%S")
    assert out.first()["ts"] == "2018-11-07T10:05:07"


def test_datetime_tz_convert(spark):
    df = _one(spark, "28/Jul/2006 10:27:10", "ts string")
    out = P.parse_datetime(df, "ts", "%d/%b/%Y %H:%M:%S", "%Y-%m-%d %H:%M:%S",
                           source_timezone="America/Sao_Paulo",
                           target_timezone="UTC")
    assert out.first()["ts"] == "2006-07-28 13:27:10"


def test_datetime_bad_parse_keeps_original(spark):
    df = _one(spark, "not a date", "ts string")
    out = P.parse_datetime(df, "ts", "%Y-%m-%d", "%Y")
    assert out.first()["ts"] == "not a date"


def test_add_datetime_from_sources(spark):
    # AddDateTime.py:48-60 — first successful format wins
    df = _one(spark, "2018-11-07T10:05:07.431Z", "ts string")
    out = P.add_datetime(df, source_fields=["ts"],
                         source_formats=["%Y", "%Y-%m-%dT%H:%M:%S.%fZ"])
    assert out.first()["@timestamp"].startswith("2018-11-07T10:05:07")


def test_add_datetime_run_timestamp(spark):
    out = P.add_datetime(_one(spark, "x"), now="2020-01-02 03:04:05")
    assert out.first()["@timestamp"] == "2020-01-02T03:04:05"


def test_url_parse(spark):
    df = _one(spark, "http://john:pw@www.example.com:8080/p/a?k=v&x=1#frag",
              "url string")
    out = P.parse_url(df, "url", target_field="u", parse_querystring=True,
                      querystring_prefix="q_")
    row = out.first()
    u = row["u"]
    assert u["scheme"] == "http"
    assert u["hostname"] == "www.example.com"
    assert u["port"] == 8080
    assert u["path"] == "/p/a"
    assert u["query"] == "k=v&x=1"
    assert u["fragment"] == "frag"
    assert u["username"] == "john" and u["password"] == "pw"
    assert row["url_query"] == {"q_k": "v", "q_x": "1"}


def test_syslog_prival(spark):
    # TestSyslogPrival fixture: prival "14" -> user-level / Informational
    df = _one(spark, "14", "syslog_prival string")
    row = P.parse_syslog_prival(df).first()
    assert row["syslog_facility"] == "user-level"
    assert row["syslog_severity"] == "Informational"
    raw = P.parse_syslog_prival(df, map_values=False).first()
    assert raw["syslog_facility"] == 1 and raw["syslog_severity"] == 6
    # a custom name with a quote and a backslash survives the SQL map
    # literal; facility 25 (prival 203) has no name and stays numeric
    custom = {1: "user's \\ own"}
    df2 = spark.createDataFrame([("14",), ("203",)], "syslog_prival string")
    got = [(r["syslog_facility"], r["syslog_severity"]) for r in
           P.parse_syslog_prival(df2, facility_mappings=custom).collect()]
    assert got == [("user's \\ own", "Informational"), ("25", "Error")]


def test_base64_roundtrip(spark):
    encoded = base64.b64encode(b"spam & eggs").decode()
    df = _one(spark, encoded)
    out = P.base64_codec(df, "decode", "data", target_field="plain")
    assert out.first()["plain"] == "spam & eggs"
    back = P.base64_codec(out, "encode", "plain", target_field="b64")
    assert back.first()["b64"] == encoded


def test_inflate(spark):
    import zlib
    payload = zlib.compress(b"hello compressed world")
    df = spark.createDataFrame([(payload,)], "blob binary")
    out = P.inflate(df, "blob", target_field="text", compression="zlib")
    assert out.first()["text"] == "hello compressed world"


def test_xpath(spark):
    xml = "<books><book><title>A</title></book><book><title>B</title></book></books>"
    df = _one(spark, xml, "xml string")
    out = P.parse_xpath(df, "xml", "//title/text()")
    assert list(out.first()["xml_xpath"]) == ["A", "B"]


def test_recode_charset(spark):
    df = spark.createDataFrame([("héllo".encode("latin-1"),)], "raw binary")
    out = P.recode_charset(df, "raw", "latin-1", "utf-8", target_field="utf8")
    assert bytes(out.first()["utf8"]).decode("utf-8") == "héllo"


def test_msgpack_lite_roundtrip():
    from lumbermill_spark.functions import msgpack_lite as ml

    cases = [
        None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536,
        2**32 - 1, 2**32, 2**63 - 1, -1, -32, -33, -128, -129, -32768,
        -32769, -2**31, -2**63, 3.14159, -0.5, "", "hello", "日本語",
        "x" * 40, "y" * 300, b"", b"\x00\xff\x10", [1, "a", None, [2, 3]],
        {"k": 1, "nested": {"a": [True, 2.5]}, "s": "v"},
        list(range(20)), {str(i): i for i in range(20)},
    ]
    for c in cases:
        got = ml.unpackb(ml.packb(c))
        assert got == c, c
    # spec-level cross-check against the C package when present
    try:
        import msgpack as mp
    except ImportError:
        mp = None
    if mp is not None:
        for c in cases:
            assert mp.unpackb(ml.packb(c), raw=False, strict_map_key=False) == c
            assert ml.unpackb(mp.packb(c)) == c


def test_msgpack_lite_malformed():
    import pytest as _pytest

    from lumbermill_spark.functions import msgpack_lite as ml

    good = ml.packb({"a": [1, 2, 3], "b": "xyz"})
    for bad in (b"", good[:3], good[:-1], good + b"\x01",
                b"\xc7\x01\x00\x00"):  # ext8: unsupported
        with _pytest.raises(ValueError):
            ml.unpackb(bad)


def test_parse_msgpack_fallback_decoder(spark):
    from lumbermill_spark.functions.msgpack_lite import packb
    from lumbermill_spark.operators.parsers import parse_msgpack

    rows = [
        ("a", bytearray(packb({"k": 1, "v": [1.5, "s"]}))),
        ("b", bytearray(packb("plain string"))),
        ("c", bytearray(b"\xc1")),  # reserved byte: undecodable -> null
        ("d", None),
    ]
    df = spark.createDataFrame(rows, "id string, payload binary")
    out = {r["id"]: r["decoded"]
           for r in parse_msgpack(df, "payload",
                                  target_field="decoded").collect()}
    assert out["a"] == '{"k": 1, "v": [1.5, "s"]}'
    assert out["b"] == '"plain string"'
    assert out["c"] is None and out["d"] is None


def test_png_lite_roundtrip_and_filters():
    import numpy as np
    import pytest as _pytest

    from lumbermill_spark.functions import png_lite as pl

    rng = np.random.default_rng(7)
    for shape in ((5, 7), (6, 4, 3), (3, 3, 4)):
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(pl.decode_png(pl.encode_png(arr)), arr)
    # hand-built Sub/Up/Average/Paeth rows must reconstruct correctly
    import struct
    import zlib
    w, h = 4, 5
    truth = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    rows = []
    prev = np.zeros(w * 3, dtype=np.int32)
    for y, filt in enumerate([0, 1, 2, 3, 4]):
        cur = truth[y].reshape(-1).astype(np.int32)
        enc = np.zeros(w * 3, dtype=np.int32)
        for x in range(w * 3):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                    4: pl._paeth(int(a), int(b), int(c))}[filt]
            enc[x] = (cur[x] - pred) & 0xFF
        rows.append(bytes([filt]) + enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + pl._chunk(b"IHDR", ihdr)
           + pl._chunk(b"IDAT", zlib.compress(b"".join(rows)))
           + pl._chunk(b"IEND", b""))
    assert np.array_equal(pl.decode_png(png), truth)
    good = pl.encode_png(truth)
    for bad in (b"", b"notapng", good[:len(good) // 2]):
        with _pytest.raises(ValueError):
            pl.decode_png(bad)


def test_canonicalize_url(spark):
    cases = [
        # case-fold + www strip + default port + dup/trailing slash +
        # tracking strip + query sort + fragment drop
        ("HTTPS://WWW.Ex.COM:443//a/b/?utm_source=x&b=2&a=1#f",
         "https://ex.com/a/b?a=1&b=2"),
        # non-default port kept; empty path -> "/"
        ("http://Ex.org:8080?z=1", "http://ex.org:8080/?z=1"),
        # default http port dropped, gclid stripped, all-tracking query
        # vanishes entirely (no trailing "?")
        ("http://ex.org:80/p/?gclid=abc&utm_campaign=c", "http://ex.org/p"),
        # userinfo dropped, root path preserved
        ("https://u:pw@ex.com/", "https://ex.com/"),
        # no host -> null
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    out = P.canonicalize_url(df, "url", target_field="canon")
    got = {r["url"]: r["canon"] for r in out.collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw], want)


def test_html_to_text(spark):
    raw = ('<html><head><SCRIPT src="x">if(a<b){}</SCRIPT>'
           '<style>p{}</style></head><body>'
           '<p a="1">Hello &amp;&nbsp;<b>world</b></p>'
           '<br/>5 &lt; 6, &quot;q&quot;, it&#39;s</body>')
    df = _one(spark, raw)
    out = P.html_to_text(df, "data", target_field="t")
    assert out.first()["t"] == 'Hello & world 5 < 6, "q", it\'s'


def test_dissect(spark):
    df = _one(spark, '10.0.1.2 - u7 [01/Jan/2024] "GET /api" 200 extra')
    out = P.dissect(
        df, '%{ip} - %{user} [%{ts}] "%{req}" %{status} %{rest}')
    r = out.first()
    assert r["ip"] == "10.0.1.2"
    assert r["user"] == "u7"
    assert r["ts"] == "01/Jan/2024"
    assert r["req"] == "GET /api"
    assert r["status"] == "200"
    assert r["rest"] == "extra"

    # leading literal + %{} discard + format drift (missing separator):
    # the drifted field consumes the remainder, later fields are empty
    df2 = _one(spark, "LOG: a;b|c")
    r2 = P.dissect(df2, "LOG: %{x};%{}|%{z}").first()
    assert r2["x"] == "a" and r2["z"] == "c"
    r3 = P.dissect(_one(spark, "LOG: a;no-pipe-here"),
                   "LOG: %{x};%{y}|%{z}").first()
    assert r3["x"] == "a" and r3["y"] == "no-pipe-here" and r3["z"] == ""
