"""Scalar parser operators: Csv, Json, Line, DateTime, Url, SyslogPrival,
Base64, Encoding, Inflate, MsgPack, XPath.

Each mirrors one reference module (cited per function); all are column
expressions except Inflate/MsgPack, which need an Arrow pandas UDF (no
builtin per-value decompression/msgpack).
"""

from __future__ import annotations

import json as _json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lumbermill_spark.functions.timefmt import strftime_to_java


# ---------------------------------------------------------------- Csv --- #
def parse_csv(df: DataFrame, fieldnames: list[str], source_field: str = "data",
              delimiter: str = "|", quotechar: str = '"',
              escapechar: str = "\\", skipinitialspace: bool = False,
              drop_source: bool = False) -> DataFrame:
    """parser.Csv (/root/reference/lumbermill/parser/Csv.py:41-62):
    csv-parse source_field into fieldnames; values beyond fieldnames are
    dropped; fields merge into the event as string columns."""
    schema = ", ".join(f"`{n}` string" for n in fieldnames)
    opts = {
        "sep": delimiter,
        "quote": quotechar,
        "escape": escapechar,
        "ignoreLeadingWhiteSpace": str(bool(skipinitialspace)).lower(),
        "mode": "PERMISSIVE",
    }
    parsed = F.from_csv(F.col(source_field), schema, opts)
    out = df.withColumn("_csv", parsed)
    for n in fieldnames:
        out = out.withColumn(n, F.col("_csv")[n])
    out = out.drop("_csv")
    return out.drop(source_field) if drop_source else out


# --------------------------------------------------------------- Json --- #
def parse_json(df: DataFrame, source_field: str = "data",
               target_field: str | None = None,
               schema: str | None = None,
               multidoc: bool = False,
               drop_original: bool = True) -> DataFrame:
    """parser.Json decode (/root/reference/lumbermill/parser/Json.py:86-118).

    - schema given + no target: parsed fields merge into the event
      (reference event.update semantics).
    - schema given + target: struct column.
    - no schema: map<string,string> of top-level scalars (target or
      '{src}_json').
    - multidoc: concatenated JSON documents are split 1->N events first
      (ConcatJSONDecoder analog) via an Arrow UDF + explode.
    """
    out = df
    src = source_field
    if multidoc:
        @F.pandas_udf("array<string>")
        def _split_docs(s: pd.Series) -> pd.Series:
            dec = _json.JSONDecoder()

            def split_one(text):
                if text is None:
                    return None
                docs, idx, n = [], 0, len(text)
                while idx < n:
                    while idx < n and text[idx] in " \t\r\n":
                        idx += 1
                    if idx >= n:
                        break
                    try:
                        _, end = dec.raw_decode(text, idx)
                    except ValueError:
                        return [text]  # not a clean stream; keep as-is
                    docs.append(text[idx:end])
                    idx = end
                return docs
            return s.map(split_one)

        out = out.withColumn("_docs", _split_docs(F.col(src)))
        out = out.withColumn("_doc", F.explode("_docs")).drop("_docs")
        src = "_doc"

    if schema:
        parsed = F.from_json(F.col(src), schema)
        if target_field:
            out = out.withColumn(target_field, parsed)
        else:
            out = out.withColumn("_j", parsed)
            for fname in out.select("_j.*").columns:
                out = out.withColumn(fname, F.col("_j")[fname])
            out = out.drop("_j")
    else:
        tgt = target_field or f"{source_field}_json"
        out = out.withColumn(tgt, F.from_json(F.col(src), "map<string,string>"))
    if multidoc:
        out = out.drop("_doc")
    if drop_original and source_field in out.columns:
        out = out.drop(source_field)
    return out


def encode_json(df: DataFrame, source_fields: list[str] | str = "all",
                target_field: str = "data") -> DataFrame:
    """parser.Json encode (Json.py:120-140): fields -> json string."""
    if source_fields == "all" or source_fields == ["all"]:
        cols = [c for c in df.columns]
    else:
        cols = [c for c in source_fields if c in df.columns]
    return df.withColumn(
        target_field, F.to_json(F.struct(*[F.col(c) for c in cols])))


# --------------------------------------------------------------- Line --- #
def parse_line(df: DataFrame, source_field: str = "data",
               separator: str = "\n", target_field: str = "data",
               keep_original: bool = False, explode: bool = True) -> DataFrame:
    """parser.Line (/root/reference/lumbermill/parser/Line.py:47-53): split
    source at separator; with explode=True each part becomes its own
    event (the reference emits parts as new events)."""
    from lumbermill_spark.operators.field_actions import _java_quote

    parts = F.split(F.col(source_field), _java_quote(separator))
    out = df.withColumn("_parts", parts)
    if not keep_original and source_field != "_parts":
        out = out.drop(source_field)
    if explode:
        out = out.withColumn(target_field, F.explode("_parts")).drop("_parts")
    else:
        out = out.withColumnRenamed("_parts", target_field)
    return out


# ----------------------------------------------------------- DateTime --- #
def parse_datetime(df: DataFrame, source_field: str, source_date_pattern: str,
                   target_date_pattern: str, target_field: str | None = None,
                   source_timezone: str = "UTC",
                   target_timezone: str = "UTC") -> DataFrame:
    """parser.DateTime (/root/reference/lumbermill/parser/DateTime.py:53-63):
    strptime -> tz convert -> strftime, string-in/string-out. On parse
    failure the reference leaves the event unchanged; here a failed parse
    keeps the original value when target==source, else yields null."""
    tgt = target_field or source_field
    src_fmt = strftime_to_java(source_date_pattern)
    tgt_fmt = strftime_to_java(target_date_pattern)
    ts = F.to_timestamp(F.col(source_field), src_fmt)
    if source_timezone.lower() not in ("utc",) or target_timezone.lower() not in ("utc",):
        # wall time in source tz -> instant -> wall time in target tz
        ts = F.from_utc_timestamp(F.to_utc_timestamp(ts, source_timezone),
                                  target_timezone)
    formatted = F.date_format(ts, tgt_fmt)
    if tgt == source_field:
        formatted = F.coalesce(formatted, F.col(source_field))
    return df.withColumn(tgt, formatted)


def add_datetime(df: DataFrame, target_field: str = "@timestamp",
                 target_format: str = "%Y-%m-%dT%H:%M:%S",
                 source_fields: list[str] | None = None,
                 source_formats: list[str] | None = None,
                 now: str | None = None) -> DataFrame:
    """modifier.AddDateTime (/root/reference/lumbermill/modifier/AddDateTime.py:44-60).

    Without source_fields: stamp the (run-supplied, deterministic) 'now'.
    With source_fields/formats: first successful (field, format) parse
    wins — expressed as coalesce over to_timestamp attempts.
    """
    tgt_fmt = strftime_to_java(target_format)
    if not source_fields:
        base = F.lit(now).cast("timestamp") if now else F.current_timestamp()
        return df.withColumn(target_field, F.date_format(base, tgt_fmt))
    attempts = []
    for fld in source_fields:
        for fmt in source_formats or []:
            attempts.append(
                F.to_timestamp(F.col(fld), strftime_to_java(fmt)))
    return df.withColumn(target_field, F.date_format(F.coalesce(*attempts), tgt_fmt))


# ---------------------------------------------------------------- Url --- #
_URL_PARTS = ("scheme", "netloc", "path", "query", "fragment",
              "username", "password", "hostname", "port")


def parse_url(df: DataFrame, source_field: str, target_field: str | None = None,
              parse_querystring: bool = False,
              querystring_target_field: str | None = None,
              querystring_prefix: str | None = None) -> DataFrame:
    """parser.Url decode (/root/reference/lumbermill/parser/Url.py:54-86):
    urldecode + urlparse into a struct; optional query-string -> map."""
    tgt = target_field or source_field
    url = F.url_decode(F.col(source_field))
    userinfo = F.parse_url(url, F.lit("USERINFO"))
    struct = F.struct(
        F.lower(F.parse_url(url, F.lit("PROTOCOL"))).alias("scheme"),
        F.parse_url(url, F.lit("AUTHORITY")).alias("netloc"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("REF")).alias("fragment"),
        F.split_part(userinfo, F.lit(":"), F.lit(1)).alias("username"),
        F.split_part(userinfo, F.lit(":"), F.lit(2)).alias("password"),
        F.lower(F.parse_url(url, F.lit("HOST"))).alias("hostname"),
        F.regexp_extract(F.parse_url(url, F.lit("AUTHORITY")),
                         r":(\d+)$", 1).try_cast("int").alias("port"),
    )
    out = df.withColumn(tgt, struct)
    if parse_querystring:
        qtgt = querystring_target_field or f"{source_field}_query"
        q = F.parse_url(url, F.lit("QUERY"))
        m = F.str_to_map(q, F.lit("&"), F.lit("="))
        if querystring_prefix:
            m = F.map_from_arrays(
                F.transform(F.map_keys(m),
                            lambda k: F.concat(F.lit(querystring_prefix), k)),
                F.map_values(m))
        out = out.withColumn(qtgt, m)
    return out


def encode_url(df: DataFrame, source_field: str,
               target_field: str | None = None) -> DataFrame:
    tgt = target_field or source_field
    return df.withColumn(tgt, F.url_encode(F.col(source_field)))


# Tracking parameters stripped by canonicalize_url (crawl-curation
# convention; any key starting with "utm_" is stripped regardless).
TRACKING_PARAMS = (
    "gclid", "fbclid", "msclkid", "dclid", "mc_cid", "mc_eid",
    "ref", "referrer", "igshid", "spm", "yclid", "_ga",
)

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}


def canonicalize_url(df: DataFrame, source_field: str,
                     target_field: str | None = None,
                     strip_params: tuple[str, ...] = TRACKING_PARAMS,
                     strip_www: bool = True) -> DataFrame:
    """Crawl-curation URL canonicalization (extends parser.Url,
    /root/reference/lumbermill/parser/Url.py:54-86, toward the dedup
    use-case the reference routes URLs into): lowercase scheme+host,
    drop fragment and userinfo, drop the scheme's default port,
    collapse duplicate slashes and the trailing slash in the path
    (empty path -> "/"), drop tracking query params (utm_* and the
    strip_params list) and byte-sort the survivors. Two URLs that
    differ only in those respects map to one canonical string, so an
    exact groupBy on the result is URL-level dedup. Pure JVM
    expressions - no shuffle, stays in whole-stage codegen."""
    tgt = target_field or source_field
    url = F.col(source_field)
    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(F.try_parse_url(url, F.lit("AUTHORITY")),
                            r":(\d+)$", 1).try_cast("int")
    is_default = F.lit(False)
    for sch, p in _DEFAULT_PORTS.items():
        is_default = is_default | ((scheme == sch) & (port == p))
    port_part = F.when(port.isNull() | is_default, F.lit("")).otherwise(
        F.concat(F.lit(":"), port.cast("string")))
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    drop = {k.lower() for k in strip_params}
    key = lambda p: F.lower(F.split_part(p, F.lit("="), F.lit(1)))  # noqa: E731
    parts = F.filter(
        F.split(F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit("")),
                "&"),
        lambda p: (p != "") & ~key(p).startswith("utm_")
        & (~key(p).isin(*sorted(drop)) if drop else F.lit(True)))
    qnorm = F.array_join(F.array_sort(parts), "&")
    canon = F.concat(
        scheme, F.lit("://"), host, port_part, path,
        F.when(qnorm == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qnorm)))
    return df.withColumn(
        tgt, F.when(scheme.isNull() | host.isNull() | (host == ""),
                    F.lit(None)).otherwise(canon))


# -------------------------------------------------------- SyslogPrival --- #
# RFC 5424 §6.2.1 tables (public standard; also parser/SyslogPrival.py:67-99)
RFC5424_FACILITIES = {
    0: "kernel messages", 1: "user-level", 2: "mail", 3: "system",
    4: "security/authorization", 5: "syslogd", 6: "line printer",
    7: "network news", 8: "UUCP", 9: "clock", 10: "security/authorization",
    11: "FTP", 12: "NTP", 13: "log audit", 14: "log alert", 15: "clock",
    16: "local0", 17: "local1", 18: "local2", 19: "local3", 20: "local4",
    21: "local5", 22: "local6", 23: "local7",
}
RFC5424_SEVERITIES = {
    0: "Emergency", 1: "Alert", 2: "Critical", 3: "Error",
    4: "Warning", 5: "Notice", 6: "Informational", 7: "Debug",
}


def _sql_quote(v: str) -> str:
    """``v`` escaped for a single-quoted Spark SQL string literal."""
    return v.replace("\\", "\\\\").replace("'", "\\'")


def parse_syslog_prival(df: DataFrame, source_field: str = "syslog_prival",
                        map_values: bool = True,
                        facility_mappings: dict | None = None,
                        severity_mappings: dict | None = None) -> DataFrame:
    """parser.SyslogPrival (/root/reference/lumbermill/parser/SyslogPrival.py:108-125):
    facility = prival >> 3, severity = prival & 7, then name lookup."""
    prival = F.col(source_field).try_cast("int")
    fac = F.shiftright(prival, 3)
    sev = prival.bitwiseAND(F.lit(7))
    if not map_values:
        return (df.withColumn("syslog_facility", fac)
                  .withColumn("syslog_severity", sev))
    fmap = {**RFC5424_FACILITIES, **(facility_mappings or {})}
    smap = {**RFC5424_SEVERITIES, **(severity_mappings or {})}

    def _lookup(m: dict, key: Column) -> Column:
        # one SQL map literal: one JVM call per lookup, not one per key
        # and per value (each Column call costs the driver a JVM trip)
        lit = [f"{int(k)}, '{_sql_quote(str(v))}'" for k, v in m.items()]
        # unmapped ids stay numeric (reference KeyError -> pass), as
        # string; try_element_at because ANSI mode makes a missing map
        # key an error, not a null, and coalesce evaluates its first arg
        return F.coalesce(
            F.try_element_at(F.expr(f"map({', '.join(lit)})"), key),
            key.cast("string"))

    return (df.withColumn("syslog_facility", _lookup(fmap, fac))
              .withColumn("syslog_severity", _lookup(smap, sev)))


# ------------------------------------------------------ Base64/Encoding --- #
def base64_codec(df: DataFrame, action: str, source_field: str,
                 target_field: str | None = None) -> DataFrame:
    """parser.Base64 (/root/reference/lumbermill/parser/Base64.py:41-55)."""
    tgt = target_field or source_field
    col = F.col(source_field)
    if action == "encode":
        return df.withColumn(tgt, F.base64(F.encode(col, "utf-8")))
    return df.withColumn(tgt, F.decode(F.unbase64(col), "utf-8"))


# Spark's encode/decode only accept canonical charset names
_CHARSET_ALIASES = {
    "latin-1": "iso-8859-1", "latin1": "iso-8859-1", "l1": "iso-8859-1",
    "ascii": "us-ascii", "utf8": "utf-8", "utf16": "utf-16", "utf32": "utf-32",
}


def _charset(name: str) -> str:
    return _CHARSET_ALIASES.get(name.lower(), name.lower())


def recode_charset(df: DataFrame, source_field: str, from_charset: str,
                   to_charset: str, target_field: str | None = None) -> DataFrame:
    """parser.Encoding (/root/reference/lumbermill/parser/Encoding.py:51-91):
    bytes in from_charset -> string -> bytes in to_charset (binary col)."""
    tgt = target_field or source_field
    return df.withColumn(
        tgt, F.encode(F.decode(F.col(source_field), _charset(from_charset)),
                      _charset(to_charset)))


# ------------------------------------------------------------ Inflate --- #
def inflate(df: DataFrame, source_field: str,
            target_field: str | None = None,
            compression: str = "gzip") -> DataFrame:
    """parser.Inflate (/root/reference/lumbermill/parser/Inflate.py:60-85):
    per-value gzip/zlib decompression — Arrow UDF (no builtin)."""
    import zlib

    tgt = target_field or source_field
    wbits = 47 if compression == "gzip" else 15  # 47 auto-detects gzip/zlib

    @F.pandas_udf("string")
    def _inflate(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return zlib.decompress(bytes(v), wbits).decode("utf-8", "replace")
            except Exception:
                return None
        return s.map(one)

    return df.withColumn(tgt, _inflate(F.col(source_field)))


# ------------------------------------------------------------ MsgPack --- #
def parse_msgpack(df: DataFrame, source_field: str,
                  target_field: str | None = None) -> DataFrame:
    """parser.MsgPack (/root/reference/lumbermill/parser/MsgPack.py:89-134).
    Decodes to a JSON string column (schemaless payload). Uses the
    C-backed msgpack package when importable, else the bundled
    pure-Python spec-subset codec (functions/msgpack_lite) — either
    way undecodable payloads yield null, matching the reference's
    warn-and-keep behavior."""
    tgt = target_field or source_field

    @F.pandas_udf("string")
    def _unpack(s: pd.Series) -> pd.Series:
        try:
            from msgpack import unpackb as _raw_unpackb

            def _unpackb(b):
                return _raw_unpackb(b, raw=False)
        except ImportError:
            from lumbermill_spark.functions.msgpack_lite import (
                unpackb as _unpackb,
            )

        def one(v):
            if v is None:
                return None
            try:
                return _json.dumps(_unpackb(bytes(v)))
            except Exception:
                return None
        return s.map(one)

    return df.withColumn(tgt, _unpack(F.col(source_field)))


# -------------------------------------------------------------- XPath --- #
def parse_xpath(df: DataFrame, source_field: str, query: str,
                target_field: str | None = None) -> DataFrame:
    """parser.XPath (/root/reference/lumbermill/parser/XPath.py:50-82):
    xpath query -> list of string results (builtin F.xpath)."""
    tgt = target_field or f"{source_field}_xpath"
    return df.withColumn(tgt, F.xpath(F.col(source_field), F.lit(query)))


# Entity unescape order matters: &amp; LAST, else "&amp;lt;" would
# double-unescape. Mirror this exact order in any SQL twin.
HTML_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                 ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"))


def html_to_text(df: DataFrame, source_field: str,
                 target_field: str | None = None) -> DataFrame:
    """Crawl-curation HTML text extraction (the step before every text
    op when the input is raw crawl payloads): drop <script>/<style>
    blocks with their contents, strip every remaining tag to a space,
    unescape the core entity set (order-sensitive: &amp; last), then
    collapse all whitespace and trim. Pure JVM regexp/replace chain —
    RE2-safe patterns (no backreferences, inline (?is) flags only), so
    an engine-independent twin replays the identical pipeline. This is
    deliberately a text EXTRACTOR, not an HTML parser: malformed
    markup degrades to extra stripped spans, never to an error."""
    tgt = target_field or source_field
    c = F.col(source_field)
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(tgt, c)


def dissect(df: DataFrame, pattern: str, source_field: str = "data",
            drop_source: bool = False) -> DataFrame:
    """Dissect-style delimiter tokenization (the Logstash-family
    alternative to parser.Regex for FIXED log formats; the reference
    covers these cases with regex — Regex.py:160-183 — but a
    delimiter chain avoids backtracking entirely): a pattern like

        '%{ip} - %{user} [%{ts}] "%{req}" %{status}'

    alternates %{field} captures with literal separators; each field
    consumes up to the FIRST occurrence of its following literal.
    Compiled to a substring_index/substring expression chain — pure
    JVM, codegen-friendly, zero regex. A missing separator makes the
    field consume the remainder and later fields come out empty (the
    dissect convention: format drift degrades, never errors). The
    final field consumes the rest of the line. Skips '' field names
    (%{} = discard)."""
    import re as _re

    toks = _re.split(r"%\{([^}]*)\}", pattern)
    # toks = [lead_lit, field1, lit2, field2, ..., litN]
    lead, pairs = toks[0], list(zip(toks[1::2], toks[2::2] + [""]))
    rest = F.col(source_field)
    if lead:
        # consume through the first occurrence of the leading literal
        # (lenient: a prefix before it is discarded, dissect-style)
        pre = F.substring_index(rest, lead, 1)
        rest = F.substring(rest, F.length(pre) + (len(lead) + 1),
                           F.lit(2**30))
    out_cols: dict[str, Column] = {}
    for field, lit in pairs:
        if lit:
            val = F.substring_index(rest, lit, 1)
            rest = F.substring(rest,
                               F.length(val) + (len(lit) + 1), F.lit(2**30))
        else:
            val = rest
        if field:
            out_cols[field] = val
    out = df.withColumns(out_cols)
    return out.drop(source_field) if drop_source else out
