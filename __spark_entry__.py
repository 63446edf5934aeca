"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship parse→enrich→route→aggregate pipeline over a
                token table derived deterministically from the sf0.001
                events parquet (BASELINE.json input_hint shape).
queries()     — one entry per implemented operator family from
                SURVEY.md §2 + the training-data suite; each callable
                (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB twins. Omitted only for hash-based ops whose
                hashes (xxhash64 / SRP planes) DuckDB cannot compute;
                those get the driver's rows-only check.

Column names and types are aligned pairwise (counts -> BIGINT/long,
floats rounded to fixed decimals on both sides) so the driver's
order-insensitive value hash matches.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lumbermill_spark.functions.grok import expand_grok
from lumbermill_spark.functions.tokens import decode_tokens, encode_line
from lumbermill_spark.operators import field_actions, parsers, stateful, stats
from lumbermill_spark.operators.lookup import asof_join, enrich
from lumbermill_spark.operators.parsers import RFC5424_FACILITIES, RFC5424_SEVERITIES
from lumbermill_spark.operators.regex_parser import RegexParser
from lumbermill_spark.router import SinkSpec, route
from lumbermill_spark.training import dedup, multimodal, similarity, textstats


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


# ===================================================================== #
# flagship token pipeline (shared by entry + q30)

_HTTPD_LINE_RE = (
    r'^(?P<remote_ip>\d+\.\d+\.\d+\.\d+) - (?P<user>\S+) \[[^\]]+\] '
    r'"(?P<method>\w+) (?P<url>\S+) HTTP/1\.0" (?P<http_status>\d+) '
    r'(?P<bytes_send>\d+)$'
)

_STATUS_BY_TYPE = {"error": "500", "purchase": "402", "signup": "201",
                   "click": "204", "view": "200"}
_STATUS_CLASS = {"200": "success", "201": "success", "204": "success",
                 "402": "client_error", "500": "server_error"}


def _line_parts():
    """Shared column exprs for the synthesized httpd log line — ONE
    definition consumed by _events_token_table and q53 (and mirrored by
    _SQL_TOK_LINE on the oracle side) so the pieces cannot drift."""
    ip = F.format_string(
        "10.0.%d.%d", F.pmod(F.col("user_id"), F.lit(200)),
        (F.pmod(F.col("event_id"), F.lit(250)) + 1))
    user = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    status = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in _STATUS_BY_TYPE.items()
                           for x in kv]),
            F.col("event_type")),
        F.lit("418"))
    nbytes = F.floor(F.col("value")).cast("long")
    corrupt = (F.col("event_type") == "error") & (F.col("value") >= 180.0)
    return ip, user, status, nbytes, corrupt


def _events_token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (doc_id, tokens, n_tok, source) table derived from
    the events parquet: each event becomes an httpd-style log line
    (errors with value>=180 become corrupt payloads), byte-tokenized."""
    ev = _t(spark, sf_dir, "events")
    ip, user, status, nbytes, corrupt = _line_parts()
    line = F.when(
        corrupt,
        F.lit("?? corrupt frame ??"),
    ).otherwise(
        F.format_string(
            '%s - %s [01/Jan/2024:00:00:00 +0000] "GET /api/v1/items HTTP/1.0" %s %d',
            ip, user, status, nbytes,
        )
    )
    from lumbermill_spark.functions.skew import ensure_min_parallelism

    # the sf* events parquet is a single row group → one scan task;
    # fan out before the tokenize/parse work (no-op on wide inputs)
    ev = ensure_min_parallelism(ev)
    return ev.select(
        F.format_string("doc-%012d", F.col("event_id")).alias("doc_id"),
        encode_line(line).alias("tokens"),
        F.col("event_type").alias("source"),
    ).withColumn("n_tok", F.size("tokens").cast("int"))


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse (regex over decoded token view) → enrich (status map) →
    route (matched/unmatched) → per-sink aggregates."""
    tok = _events_token_table(spark, sf_dir)
    parser = RegexParser([{"httpd_access_log": _HTTPD_LINE_RE}])
    parsed = parser.apply(tok, tokens_col="tokens", drop_tokens=True)
    # pre-aggregate on parsed keys, then enrich the tiny aggregate:
    # status_class is a function of http_status, so mapping it after the
    # groupBy evaluates the parse exprs exactly once over the wide data
    pre = parsed.groupBy("event_type", "http_status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
    )
    enriched = field_actions.map_(
        pre, "http_status", _STATUS_CLASS, target_field="status_class"
    ).withColumn("status_class", F.coalesce(F.col("status_class"), F.lit("other")))
    return (
        enriched.groupBy("event_type", "status_class")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_tok").alias("sum_tok"),
        )
    )


# The synthesized-line SQL (DuckDB) used by every oracle that replays
# _events_token_table: ONE definition so the corrupt-frame rule / status
# map / printf shape can never drift apart between oracles.
_SQL_TOK_LINE = """CASE WHEN event_type = 'error' AND value >= 180.0
         THEN '?? corrupt frame ??'
         ELSE printf('%s - %s [01/Jan/2024:00:00:00 +0000] "GET /api/v1/items HTTP/1.0" %s %d',
                     printf('10.0.%d.%d', user_id % 200, (event_id % 250) + 1),
                     'u' || CAST(user_id AS VARCHAR),
                     CASE event_type WHEN 'error' THEN '500' WHEN 'purchase' THEN '402'
                          WHEN 'signup' THEN '201' WHEN 'click' THEN '204'
                          WHEN 'view' THEN '200' ELSE '418' END,
                     CAST(floor(value) AS BIGINT))
    END"""

_ORACLE_FLAGSHIP = rf"""
WITH tok AS (
  SELECT
    {_SQL_TOK_LINE} AS line
  FROM events
), parsed AS (
  SELECT line,
    CASE WHEN regexp_matches(line, '^\d+\.\d+\.\d+\.\d+ - \S+ \[[^\]]+\] "\w+ \S+ HTTP/1\.0" \d+ \d+$')
         THEN 'httpd_access_log' ELSE 'Unknown' END AS event_type,
    regexp_extract(line, ' HTTP/1\.0" (\d+) \d+$', 1) AS http_status,
    length(line) AS n_tok
  FROM tok
)
SELECT event_type,
  CASE WHEN event_type = 'Unknown' THEN 'other'
       ELSE CASE http_status WHEN '200' THEN 'success' WHEN '201' THEN 'success'
            WHEN '204' THEN 'success' WHEN '402' THEN 'client_error'
            WHEN '500' THEN 'server_error' ELSE 'other' END END AS status_class,
  count(*) AS n_rows, CAST(sum(n_tok) AS BIGINT) AS sum_tok
FROM parsed GROUP BY 1, 2
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ===================================================================== #
# queries

def _q01_simple_stats(spark, sf):
    return stats.simple_stats(_t(spark, sf, "events"))


def _q02_regex_parse(spark, sf):
    ev = _t(spark, sf, "events")
    parser = RegexParser(
        [
            {"k_high": r'"k": (?P<kval>[5-9][0-9])\}'},
            {"k_any": r'"k": (?P<kval>[0-9]+)\}'},
        ],
        source_field="props",
    )
    parsed = parser.apply(ev)
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("kval").alias("n_kvals"),
    )


def _q03_json_parse(spark, sf):
    ev = _t(spark, sf, "events")
    parsed = parsers.parse_json(ev, source_field="props", schema="k INT")
    return parsed.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


def _q04_datetime_bucket(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("hour", F.date_format("ts", "yyyy-MM-dd HH"))
        .groupBy("hour").agg(F.count(F.lit(1)).alias("n_rows"))
    )


_EVENT_CATEGORY = {"click": "engagement", "view": "engagement",
                   "signup": "conversion", "purchase": "conversion",
                   "error": "failure"}


def _q05_map_enrich(spark, sf):
    ev = _t(spark, sf, "events")
    mapped = field_actions.map_(ev, "event_type", _EVENT_CATEGORY,
                                target_field="category")
    return mapped.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q06_field_actions(spark, sf):
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 100)
    out = field_actions.insert(ev, "tag", "$(event_type)-$(user_id)")
    out = field_actions.upper(out, ["tag"])
    out = field_actions.slice_(out, "tag", target_field="tag3", start=0, end=3)
    out = field_actions.replace(out, "tag", regex="-", with_="_")
    return out.select("event_id", "tag", "tag3")


def _q07_cast_semantics(spark, sf):
    ev = _t(spark, sf, "events")
    prepped = ev.withColumn("digits", F.regexp_extract("props", r"(\d+)", 1)) \
                .withColumn("junk", F.lit("notanumber"))
    cast_df = field_actions.cast_to_int(prepped, ["digits", "junk"])
    return cast_df.agg(
        F.sum("digits").cast("long").alias("sum_digits"),
        F.sum("junk").cast("long").alias("sum_junk"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q08_syslog_prival(spark, sf):
    ev = _t(spark, sf, "events").withColumn(
        "syslog_prival", F.pmod(F.col("event_id"), F.lit(192)).cast("int")
    )
    out = parsers.parse_syslog_prival(ev, "syslog_prival")
    return out.groupBy("syslog_facility", "syslog_severity").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _q09_throttle(spark, sf):
    ev = _t(spark, sf, "events")
    passed = stats.throttle(
        ev, "user_id", timeframe_col=F.date_trunc("hour", F.col("ts")),
        min_count=2, max_count=5,
    )
    return passed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_passed"))


def _q10_facet(spark, sf):
    docs = _t(spark, sf, "documents")
    out = stats.facet(docs, "lang", "source")
    return out.select(
        "source", "facet_field", "facet_count",
        F.array_join("facets", ",").alias("facets_csv"),
    )


def _q11_metrics_summary(spark, sf):
    ev = _t(spark, sf, "events")
    out = stats.metrics(ev, "$(event_type)", value_field="value",
                        percentiles=[50, 95])
    return out.select(
        "metric", "count",
        F.round("min", 4).alias("min_v"), F.round("max", 4).alias("max_v"),
        F.round("mean", 4).alias("mean_v"), F.round("std", 4).alias("std_v"),
        F.round("p50", 4).alias("p50_v"), F.round("p95", 4).alias("p95_v"),
    )


def _q12_metrics_histogram(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn(
            "bucket",
            F.width_bucket(F.col("value"), F.lit(0.0), F.lit(200.0), 8)
            .cast("long"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _q13_math_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = stats.math_op(li, "revenue", "l_extendedprice * (1 - l_discount)")
    return out.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("revenue"), 2).alias("sum_revenue"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q14_broadcast_enrich(spark, sf):
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    out = enrich(cust, nat.withColumnRenamed("n_nationkey", "c_nationkey"),
                 on="c_nationkey", how="inner")
    out = enrich(out, reg.withColumnRenamed("r_regionkey", "n_regionkey"),
                 on="n_regionkey", how="inner")
    return out.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


def _q15_wordcount(spark, sf):
    docs = _t(spark, sf, "documents")
    words = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    return (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 100)
    )


def _q16_merge_sessions(spark, sf):
    ev = _t(spark, sf, "events")
    out = stateful.merge_event(
        ev, "user_id", "ts", "event_type",
        start_pattern=r"^signup$", glue="|",
    )
    return out.select(
        F.col("buffer_key").cast("long").alias("user_id"),
        F.col("session").cast("long").alias("session"),
        F.col("event_type").alias("chain"),
        F.col("n_merged"),
    )


def _q17_permutate(spark, sf):
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    grouped = (
        enrich(nat, reg.withColumnRenamed("r_regionkey", "n_regionkey"),
               on="n_regionkey", how="inner")
        .groupBy("r_name")
        .agg(F.sort_array(F.collect_set("n_name")).alias("names"))
    )
    return stateful.permutate(grouped, "names", ["nation_a", "nation_b"])


def _q18_dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    kept = dedup.exact_dedup(docs)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _q19_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents")
    # max_df: the Zipfian guard — shingles shared by >1000 docs within a
    # block are dropped before the pair join (a df-k shingle alone emits
    # k² join rows). At oracle scale (≤250 docs/block) the guard can
    # never trip, so the SQL twin needs no df filter; at corpus scale it
    # is what keeps the candidate space bounded.
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                     block_col="source", max_df=1000)


def _q20_minhash_lsh(spark, sf):
    """MinHash-LSH near-dup pairs, exact-verified at jaccard >= 0.2.

    Oracle-checkable because the corpus' similarity distribution is
    bimodal (no pairs in [0.15, 0.75)): every qualifying pair has
    jaccard >= 0.75, where the 16-band/2-row collision-miss probability
    is < 2e-6 per pair — the banded candidates provably cover the exact
    answer set, so the SQL twin computes exact pairs >= threshold.
    (That bound requires INDEPENDENT hash slots: round 5's sf0.1 gate
    caught the previous affine family degenerating to one correlated
    hash — see minhash_signatures — which missed j=0.9+ pairs.)"""
    docs = _t(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                   shingle_n=3, threshold=0.2)


def _q21_simhash(spark, sf):
    """SimHash near-dup pairs (hamming <= 3) with the md5-based 60-bit
    token hash so the fingerprints are bit-identical in DuckDB. The
    4-chunk banding has recall exactly 1 at distance <= 3 (pigeonhole),
    so the emitted pair set equals the exact all-pairs answer."""
    docs = _t(spark, sf, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3, bits=60,
                               hash_expr=dedup.md5_hash60)


def _q22_embedding_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, q, k=5, round_to=4)


def _q23_embedding_neardup(spark, sf):
    """Embedding near-dup pairs, SRP-bucket-BLOCKED (the scale path:
    the self-join runs within 16 hash buckets, never all-pairs; the
    DuckDB twin replays the identical bucketing from the same
    hyperplane literals). Candidate recall follows the SRP collision
    bound — the operator's contract is pairs-within-block."""
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    blocked = similarity.srp_signature(emb, dim=64, num_planes=4)
    return similarity.near_duplicate_pairs(
        blocked, threshold=0.3, block_col="srp_bucket", round_to=4)


_ANN_PLANES, _ANN_TABLES = 4, 16


def _q24_ann_lsh(spark, sf):
    """Multi-table SRP-LSH ANN top-k (h=4 planes × L=16 tables →
    recall@5 ≈ 0.94 on this corpus; L×2^h = 256 join keys on the
    (table, bucket) equi-join). Deterministic hyperplanes mean the
    DuckDB twin replays the identical bucketing from the same
    literals."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_lsh_topk(emb, q, dim=64, k=5,
                                   num_planes=_ANN_PLANES,
                                   num_tables=_ANN_TABLES, round_to=4)


def _q25_langid(spark, sf):
    docs = _t(spark, sf, "documents")
    out = textstats.detect_language(docs)
    return out.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_rows"))


def _q26_quality(spark, sf):
    docs = _t(spark, sf, "documents")
    out = textstats.quality_score(docs)
    return out.select("doc_id", "n_words", "mean_word_len",
                      "stopword_ratio", "quality")


def _q27_token_counts(spark, sf):
    docs = _t(spark, sf, "documents")
    out = textstats.token_counts(docs)
    return out.groupBy("source").agg(
        F.sum("n_ws_tokens").cast("long").alias("sum_ws_tokens"),
        F.sum("n_subword_est").cast("long").alias("sum_subword_est"),
        F.sum("n_chars_calc").cast("long").alias("sum_chars"),
    )


def _q28_fingerprint(spark, sf):
    docs = _t(spark, sf, "documents")
    return textstats.fingerprint(docs).select("doc_id", "fingerprint")


def _q29_routed_sinks(spark, sf):
    ev = _t(spark, sf, "events")
    sinks = [
        SinkSpec("errors", "$(event_type) == 'error'"),
        SinkSpec("conversions",
                 "$(event_type) in ('purchase', 'signup') and $(value) >= 150"),
        SinkSpec("rest",
                 "$(event_type) != 'error' and not "
                 "($(event_type) in ('purchase', 'signup') and $(value) >= 150)"),
    ]
    branches = route(ev, sinks)
    aggs = [
        b.agg(F.count(F.lit(1)).alias("n_rows"),
              F.round(F.sum("value"), 2).alias("sum_value"))
         .select(F.lit(name).alias("sink"), "n_rows", "sum_value")
        for name, b in branches.items()
    ]
    out = aggs[0]
    for a in aggs[1:]:
        out = out.unionByName(a)
    return out


def _q30_tokens_pipeline(spark, sf):
    return _flagship(spark, sf)


def _q31_tokens_roundtrip(spark, sf):
    """Token-array invariant: encode→decode is identity; token arrays
    survive the pipeline byte-exact (BASELINE per-row invariant)."""
    tok = _events_token_table(spark, sf)
    return tok.select(
        "doc_id",
        F.md5(decode_tokens("tokens")).alias("payload_md5"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )


# grok rule for the flagship line, RE2-safe (no lookaheads) so the same
# expanded pattern runs in DuckDB; exercises %{NAME:field} + bare %{NAME}
_GROK_LINE = (
    r'%{IPV4:clientip} %{USER:ident} %{USER:auth} '
    r'\[%{MONTHDAY}/%{MONTH}/%{YEAR}:[^\]]*\] '
    r'"%{WORD:verb} %{NOTSPACE:request} HTTP/%{NUMBER:httpversion}" '
    r'%{NONNEGINT:response} %{NONNEGINT:bytes}'
)


def _q32_grok_parse(spark, sf):
    tok = _events_token_table(spark, sf)
    parser = RegexParser([{"apache": _GROK_LINE}])
    parsed = parser.apply(tok, tokens_col="tokens", drop_tokens=True)
    return parsed.groupBy("event_type", "response").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("clientip").alias("n_ips"),
    )


def _oracle_grok() -> str:
    # DuckDB extracts by group index: expand with plain groups, strip
    # any explicit names, and take the indices from the Python compile
    plain = re.sub(r"\(\?P<\w+>", "(", expand_grok(_GROK_LINE, None, "plain"))
    pat = plain.replace("'", "''")
    gi = re.compile(expand_grok(_GROK_LINE)).groupindex
    return f"""
    WITH tok AS (
      SELECT {_SQL_TOK_LINE} AS line
      FROM events
    ), p AS (
      SELECT
        CASE WHEN regexp_matches(line, '{pat}') THEN 'apache'
             ELSE 'Unknown' END AS event_type,
        CASE WHEN regexp_matches(line, '{pat}')
             THEN regexp_extract(line, '{pat}', {gi['response']}) END AS response,
        CASE WHEN regexp_matches(line, '{pat}')
             THEN regexp_extract(line, '{pat}', {gi['clientip']}) END AS clientip
      FROM tok)
    SELECT event_type, response, count(*) AS n_rows,
           count(DISTINCT clientip) AS n_ips
    FROM p GROUP BY 1, 2
    """


def _q34_dedup_keepset(spark, sf):
    """Near-dup pairs (MinHash-LSH) resolved to a keep set via
    connected components. Oracle-checkable for the same reason as q20
    (LSH recall is provably 1 on this corpus' similarity gap); the
    DuckDB twin computes exact pairs and a recursive-CTE closure."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                    shingle_n=3, threshold=0.2)
    kept = dedup.dedup_keep_best(docs, pairs)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _q33_geo_enrich(spark, sf):
    from lumbermill_spark.operators.enrichers import geo_enrich

    ev = _t(spark, sf, "events").withColumn(
        "remote_ip",
        F.format_string("10.%d.%d.%d", F.pmod(F.col("user_id"), F.lit(25)),
                        F.pmod(F.col("event_id"), F.lit(200)), F.lit(7)),
    ).withColumn("xff", F.lit(None).cast("string"))
    nat = _t(spark, sf, "nation")
    geo = nat.select(
        F.concat(F.lit("10."), F.col("n_nationkey").cast("string"))
        .alias("ip_prefix"),
        F.col("n_name").alias("country"),
    )
    out = geo_enrich(ev, geo, ["xff", "remote_ip"], prefix_len=2)
    return out.groupBy(
        F.coalesce(F.col("geo_info.country"), F.lit("unknown")).alias("country")
    ).agg(F.count(F.lit(1)).alias("n_rows"))


# ===================================================================== #
# round-2 coverage queries: every previously pytest-only parser/
# enricher/action gets a driver-contract entry. Each synthesizes its
# input deterministically from the events table so the DuckDB twin can
# derive the expected output from the same base columns.

def _q35_csv_parse(spark, sf):
    """parser.Csv: real from_csv parse incl. a quoted field containing
    the delimiter; twin derives expectations from the base columns."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 200)
    line = F.format_string('%d|%s|"q|%d"', F.col("event_id"),
                           F.col("event_type"), F.pmod(F.col("user_id"), F.lit(7)))
    df = ev.select(F.col("event_id"), line.alias("data"))
    out = parsers.parse_csv(df, ["id", "etype", "note"], source_field="data",
                            drop_source=True)
    return out.select("event_id", "id", "etype", "note")


def _q36_line_split(spark, sf):
    """parser.Line: 1→N explode at the separator."""
    ev = _t(spark, sf, "events")
    df = ev.select(F.concat_ws("\n", F.col("event_type"),
                               F.col("user_id").cast("string"),
                               F.lit("tail")).alias("data"))
    out = parsers.parse_line(df)
    return out.groupBy(F.col("data").alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"))


def _q37_url_parse(spark, sf):
    """parser.Url: urldecode + full component split + querystring map."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 200)
    url = F.format_string(
        "https://u%d:pw@www.example.co.uk:8443/api/v%d/item%%2Dx?a=%d&b=2#frag",
        F.pmod(F.col("user_id"), F.lit(5)), F.pmod(F.col("event_id"), F.lit(3)),
        F.pmod(F.col("user_id"), F.lit(10)),
    )
    df = ev.select("event_id", url.alias("u"))
    out = parsers.parse_url(df, "u", target_field="p", parse_querystring=True,
                            querystring_target_field="q")
    return out.select(
        "event_id",
        F.col("p.scheme").alias("scheme"),
        F.col("p.hostname").alias("hostname"),
        F.col("p.port").cast("long").alias("port"),
        F.col("p.path").alias("path"),
        F.col("p.username").alias("username"),
        F.col("p.fragment").alias("fragment"),
        F.try_element_at(F.col("q"), F.lit("a")).alias("qa"),
    )


def _q38_base64(spark, sf):
    """parser.Base64 encode/decode roundtrip; the encode side is
    independently recomputed by DuckDB's base64()."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500)
    enc = parsers.base64_codec(ev.select("event_id", "props"), "encode",
                               "props", target_field="b64")
    dec = parsers.base64_codec(enc, "decode", "b64", target_field="back")
    return dec.select("event_id", "b64",
                      (F.col("back") == F.col("props")).alias("roundtrip"))


def _q39_encoding(spark, sf):
    """parser.Encoding: utf-8 → iso-8859-1 recode of binary payloads."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500)
    df = ev.select("event_id", "props",
                   F.encode(F.col("props"), "utf-8").alias("raw"))
    out = parsers.recode_charset(df, "raw", "utf-8", "latin-1",
                                 target_field="rec")
    return out.select(
        "event_id",
        F.length("rec").cast("long").alias("n_bytes"),
        (F.decode(F.col("rec"), "iso-8859-1") == F.col("props"))
        .alias("roundtrip"),
    )


def _q40_inflate(spark, sf):
    """parser.Inflate: zlib-decompress payloads compressed in-query;
    twin checks the recovered plaintext."""
    import zlib

    @F.pandas_udf("binary")
    def _deflate(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else
                     zlib.compress(v.encode("utf-8")))

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500)
    df = ev.select("event_id", _deflate(F.col("props")).alias("z"))
    out = parsers.inflate(df, "z", target_field="text", compression="zlib")
    return out.select("event_id", "text")


def _q41_netflow(spark, sf):
    """parser.NetFlow: binary v5 datagrams (synthesized per event)
    decoded 1→N with protocol names + TCP flag decode."""
    from lumbermill_spark.operators.netflow import encode_v5, parse_netflow

    @F.pandas_udf("binary")
    def _datagram(eid: pd.Series, uid: pd.Series, oc: pd.Series) -> pd.Series:
        protos = [6, 17, 1]
        return pd.Series([
            encode_v5([(int(e) & 0xFFFFFFFF, int(u) & 0xFFFFFFFF,
                        int(e) % 65536, 443, int(u) % 100 + 1, int(o),
                        protos[int(e) % 3], int(e) % 64)])
            for e, u, o in zip(eid, uid, oc)
        ])

    # NOT fanned out via ensure_min_parallelism: this query chains TWO
    # Python stages (the synth pandas_udf + the mapInPandas decode) and
    # 32-way fan-out of that pair measured unstable on the bench box
    # (1.7s single-task vs 3-17s across invocations at 32 tasks —
    # Python-worker churn dominates the tiny per-task work)
    ev = _t(spark, sf, "events")
    df = ev.select(
        F.format_string("d%d", F.col("event_id")).alias("doc_id"),
        _datagram(F.col("event_id"), F.col("user_id"),
                  F.floor(F.col("value")).cast("long")).alias("payload"),
    )
    flows = parse_netflow(df)
    return flows.groupBy("protocol").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("octets").cast("long").alias("sum_octets"),
        F.sum("packets").cast("long").alias("sum_packets"),
        F.sum(F.size("tcp_flags")).cast("long").alias("sum_flags"),
    )


def _q42_xpath(spark, sf):
    """parser.XPath: //v/text() over synthesized XML. Capped at 10k
    rows: XML DOM parse is inherently per-row-constant cost (a
    correctness operator, not a scale path), so the bench shouldn't
    spend its budget re-measuring string parsing throughput."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 10000)
    xml = F.format_string("<e><t>%s</t><v>%d</v><v>%d</v></e>",
                          F.col("event_type"),
                          F.pmod(F.col("user_id"), F.lit(10)),
                          F.pmod(F.col("event_id"), F.lit(7)))
    df = ev.select("event_id", xml.alias("xml"))
    out = parsers.parse_xpath(df, "xml", "//v/text()", target_field="vals")
    return out.select(
        "event_id",
        F.array_join("vals", ",").alias("vals_csv"),
        F.size("vals").cast("long").alias("n_vals"),
    )


def _q43_domain_split(spark, sf):
    """parser.DomainName: fqdn → tld/domain/subdomain incl. multi-label
    public suffixes."""
    from lumbermill_spark.operators.enrichers import split_domain

    ev = _t(spark, sf, "events")
    host = F.concat(
        F.lit("m"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
        F.lit("."), F.col("event_type"),
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0,
               F.lit(".co.uk")).otherwise(F.lit(".org")),
    )
    out = split_domain(ev.select(host.alias("host")), "host")
    return out.groupBy("tld", "domain").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("subdomain").alias("n_subs"),
    )


_UA_SAMPLES = [
    "Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/120.0",
    "curl/8.4.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 Chrome/119.0 Mobile",
]
def _q44_user_agent(spark, sf):
    """parser.UserAgent: dedupe-distinct → parse once per UA →
    broadcast join back; heuristic rules exercised over 6 UA families."""
    from lumbermill_spark.operators.enrichers import parse_user_agent

    ev = _t(spark, sf, "events")
    ua = F.element_at(F.array(*[F.lit(u) for u in _UA_SAMPLES]),
                      (F.pmod(F.col("user_id"), F.lit(6)) + 1).cast("int"))
    df = ev.select("event_id", ua.alias("ua"))
    out = parse_user_agent(df, "ua", target_field="i")
    return out.groupBy(
        F.col("i.browser").alias("browser"), F.col("i.os").alias("os"),
        F.col("i.is_bot").alias("is_bot"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))


def _fake_resolver(host: str) -> str:
    """Deterministic DNS stand-in (no network in this runtime)."""
    return "10.0.0." + str(len(host) % 250)


def _q45_dns_lookup(spark, sf):
    """modifier.AddDnsLookup: distinct→resolve→broadcast-join with an
    injected deterministic resolver."""
    from lumbermill_spark.operators.enrichers import dns_lookup

    ev = _t(spark, sf, "events")
    df = ev.select(F.concat(F.col("event_type"), F.lit(".example.com"))
                   .alias("host"))
    out = dns_lookup(df, "host", resolver=_fake_resolver)
    return out.groupBy("host", "dns_name").agg(
        F.count(F.lit(1)).alias("n_rows"))


def _q46_datetime_tz(spark, sf):
    """parser.DateTime with timezone conversion: string → UTC instant →
    America/New_York wall time → string."""
    ev = _t(spark, sf, "events")
    df = ev.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"))
    out = parsers.parse_datetime(
        df, "t", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H",
        target_field="ny_hour",
        source_timezone="UTC", target_timezone="America/New_York")
    return out.groupBy("ny_hour").agg(F.count(F.lit(1)).alias("n_rows"))


def _q47_merge_end_pattern(spark, sf):
    """modifier.MergeEvent with end_pattern: a 'purchase' row closes the
    session; the next row opens a new one."""
    ev = _t(spark, sf, "events")
    out = stateful.merge_event(
        ev, "user_id", "ts", "event_type",
        end_pattern=r"^purchase$", glue="|",
    )
    return out.select(
        F.col("buffer_key").cast("long").alias("user_id"),
        F.col("session").cast("long").alias("session"),
        F.col("event_type").alias("chain"),
        F.col("n_merged"),
    )


def _q48_string_actions(spark, sf):
    """Field actions string_replace (count-limited) + key_value +
    key_value_regex + hash + rename_regex in one pipeline."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 300)
    s = F.format_string("k1=%d;k2=%s;k1=%d",
                        F.pmod(F.col("user_id"), F.lit(10)),
                        F.col("event_type"),
                        F.pmod(F.col("event_id"), F.lit(5)))
    df = ev.select("event_id", "event_type", s.alias("s"))
    df = field_actions.string_replace(df, "s", "k1", "kX", max=1)
    df = field_actions.key_value(df, "s", kv_separator="=",
                                 line_separator=";", target_field="kv",
                                 prefix="p_")
    df = field_actions.key_value_regex(df, "s", r"(\w+)=(\w+)",
                                       target_field="rkv")
    df = field_actions.hash_(df, ["event_type"], ["et_md5"], "md5")
    df = field_actions.hash_(df, ["event_type"], ["et_sha"], "sha256",
                             salt="s")
    df = field_actions.rename_regex(df, r"^et_", "h_")
    return df.select(
        "event_id", "s",
        F.try_element_at(F.col("kv"), F.lit("p_k2")).alias("k2"),
        F.try_element_at(F.col("rkv"), F.lit("kX")).alias("kx"),
        "h_md5", "h_sha",
    )


def _q49_exec_python(spark, sf):
    """modifier.ExecPython escape hatch: user code over Arrow batches
    via mapInPandas (never per-row Python)."""
    from lumbermill_spark.operators.escape import exec_python

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500) \
        .select("event_id", "event_type", "value")
    out = exec_python(
        ev,
        code=("import numpy as np\n"
              "def transform(pdf):\n"
              "    pdf = pdf.copy()\n"
              "    pdf['vk'] = np.floor(pdf['value'] * 2).astype('int64')\n"
              "    return pdf[['event_id', 'event_type', 'vk']]\n"),
        schema="event_id long, event_type string, vk long",
    )
    return out


def _q51_ann_ivf(spark, sf):
    """IVF ANN top-k (the second ANN scale path beside SRP-LSH):
    FIXED-SIZE deterministic centroid sample (the 32 corpus rows with
    smallest md5(id) — quantizer size independent of corpus rows, so
    the driver-side centroid matrix never grows with the data), one
    cell per corpus vector, nprobe=3 probed cells per query, exact
    cosine within the union. The DuckDB twin replays the identical
    coarse quantization via ORDER BY md5(CAST(vec_id AS VARCHAR))."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, q, k=5, nprobe=3, num_centroids=32,
                               round_to=4)


def _oracle_ann_ivf() -> str:
    return f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
    ), base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sims AS (
      SELECT b.vec_id, c.centroid_id,
        list_inner_product(b.v, c.cv)
          / (sqrt(list_inner_product(b.v, b.v))
             * sqrt(list_inner_product(c.cv, c.cv))) AS sim
      FROM base b CROSS JOIN cents c
    ), ranked AS (
      SELECT vec_id, centroid_id,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, centroid_id) AS rk
      FROM sims
    ), cassign AS (SELECT vec_id, centroid_id AS cell FROM ranked WHERE rk = 1),
    qprobe AS (SELECT vec_id, centroid_id AS cell FROM ranked
               WHERE rk <= 3 AND vec_id < 10),
    cand AS (
      SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id,
        round(list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(b.v, b.v))), 4) AS cos
      FROM qprobe qp
      JOIN cassign ca ON ca.cell = qp.cell AND ca.vec_id <> qp.vec_id
      JOIN base a ON a.vec_id = qp.vec_id
      JOIN base b ON b.vec_id = ca.vec_id
    ), out AS (
      SELECT query_id, neighbor_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      FROM cand)
    SELECT query_id, neighbor_id, cos, rank FROM out WHERE rank <= 5
    """


def _q52_repetition(spark, sf):
    """Boilerplate/repetition curation signals per document."""
    docs = _t(spark, sf, "documents")
    out = textstats.repetition_stats(docs)
    return out.select(
        "doc_id",
        F.round("uniq_word_ratio", 6).alias("uniq_word_ratio"),
        F.round("uniq_bigram_ratio", 6).alias("uniq_bigram_ratio"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
    )


_UA_CHOICES = ["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.4.0",
               "Googlebot/2.1 (+http://www.google.com/bot.html)"]


def _q53_grok_combined(spark, sf):
    """Full grok vocabulary: ``%{COMBINEDAPACHELOG}`` (the composite a
    reference user actually configs — nested COMMONAPACHELOG plus
    referrer/agent) parsed on the Catalyst path over lines synthesized
    in-query from events columns. The DuckDB twin derives every
    expected field structurally from the same base columns (q41/q50
    recipe — the composite regex itself uses lookaheads RE2 lacks), so
    each extracted field is still value-checked end-to-end."""
    from lumbermill_spark.functions.skew import ensure_min_parallelism

    ev = ensure_min_parallelism(_t(spark, sf, "events"))
    ip, user, status, nbytes, corrupt = _line_parts()
    referrer = F.concat(F.lit("https://ref.example/p"),
                        F.pmod(F.col("event_id"), F.lit(7)).cast("string"))
    agent = F.element_at(F.array(*[F.lit(u) for u in _UA_CHOICES]),
                         (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"))
    line = F.when(
        corrupt,
        F.lit("?? corrupt frame ??"),
    ).otherwise(F.format_string(
        '%s - %s [01/Jan/2024:00:00:00 +0000] '
        '"GET /api/v1/items HTTP/1.0" %s %d "%s" "%s"',
        ip, user, status, nbytes, referrer, agent))
    df = ev.select(line.alias("line"))
    parser = RegexParser([{"apache": "%{COMBINEDAPACHELOG}"}],
                         source_field="line")
    parsed = parser.apply(df)
    return parsed.groupBy("event_type", "response", "agent").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("clientip").alias("n_ips"),
        F.count_distinct("referrer").alias("n_refs"),
        F.sum(F.col("bytes").cast("long")).alias("sum_bytes"),
    )


def _oracle_grok_combined() -> str:
    return """
    WITH base AS (
      SELECT event_id, user_id, event_type AS et, value,
             (event_type = 'error' AND value >= 180.0) AS corrupt
      FROM events
    ), fields AS (
      SELECT
        CASE WHEN corrupt THEN 'Unknown' ELSE 'apache' END AS event_type,
        CASE WHEN corrupt THEN NULL ELSE
          CASE et WHEN 'error' THEN '500' WHEN 'purchase' THEN '402'
               WHEN 'signup' THEN '201' WHEN 'click' THEN '204'
               WHEN 'view' THEN '200' ELSE '418' END END AS response,
        CASE WHEN corrupt THEN NULL ELSE
          ['Mozilla/5.0 (X11; Linux x86_64)', 'curl/8.4.0',
           'Googlebot/2.1 (+http://www.google.com/bot.html)'
          ][(user_id % 3) + 1] END AS agent,
        CASE WHEN corrupt THEN NULL ELSE
          printf('10.0.%d.%d', user_id % 200, (event_id % 250) + 1)
          END AS clientip,
        CASE WHEN corrupt THEN NULL ELSE
          'https://ref.example/p' || CAST(event_id % 7 AS VARCHAR)
          END AS referrer,
        CASE WHEN corrupt THEN NULL ELSE CAST(floor(value) AS BIGINT)
          END AS bytes
      FROM base)
    SELECT event_type, response, agent, count(*) AS n_rows,
           count(DISTINCT clientip) AS n_ips,
           count(DISTINCT referrer) AS n_refs,
           sum(bytes) AS sum_bytes
    FROM fields GROUP BY 1, 2, 3
    """


def _q54_msgpack(spark, sf):
    """parser.MsgPack with the bundled pure-Python spec-subset codec
    (functions/msgpack_lite — used when the C msgpack package is
    absent, as in this container): payload packed in-query from events
    columns, decoded 1:1 to a JSON string; every 50th payload is
    truncated and must decode to null (reference MsgPack.py warns and
    keeps the event). Oracle derives the expected JSON structurally."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 500)

    @F.pandas_udf("binary")
    def _pack(eid: pd.Series, et: pd.Series, v: pd.Series) -> pd.Series:
        from lumbermill_spark.functions.msgpack_lite import packb
        out = []
        for i, t, val in zip(eid, et, v):
            b = packb({"id": int(i), "et": str(t), "v": int(val)})
            out.append(b[:3] if int(i) % 50 == 0 else b)
        return pd.Series(out)

    df = ev.select(
        "event_id",
        _pack(F.col("event_id"), F.col("event_type"),
              F.floor("value").cast("long")).alias("payload"))
    out = parsers.parse_msgpack(df, "payload", target_field="decoded")
    return out.select("event_id", "decoded")


def _oracle_msgpack() -> str:
    return """
    SELECT event_id,
      CASE WHEN event_id % 50 = 0 THEN NULL
           ELSE printf('{"id": %d, "et": "%s", "v": %d}',
                       event_id, event_type,
                       CAST(floor(value) AS BIGINT)) END AS decoded
    FROM events WHERE event_id < 500
    """


def _q55_image_decode(spark, sf):
    """Multimodal image decode as a first-class oracle-checked op:
    grayscale PNGs synthesized in-query from events columns (the
    bundled pure-stdlib codec, functions/png_lite), decoded by
    decode_images(codec='real') — Pillow when present, png_lite
    otherwise; both yield identical dims/channels/luma. The DuckDB
    twin derives the expected features structurally (q41/q50 recipe:
    PNG itself is not SQL-expressible, the field values still
    hash-check)."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 200)

    @F.pandas_udf("binary")
    def _img(eid: pd.Series, uid: pd.Series, v: pd.Series) -> pd.Series:
        import numpy as np

        from lumbermill_spark.functions.png_lite import encode_png
        out = []
        for i, u, val in zip(eid, uid, v):
            w, h = int(i) % 16 + 1, int(u) % 8 + 1
            # abs() before the modulo: Python % is sign-of-divisor,
            # DuckDB % is sign-of-dividend — abs makes both agree even
            # if a future generator emits negative values
            fill = abs(int(val)) % 256
            out.append(encode_png(np.full((h, w), fill, dtype=np.uint8)))
        return pd.Series(out)

    media = ev.select(
        F.col("event_id").cast("string").alias("media_id"),
        _img(F.col("event_id"), F.col("user_id"),
             F.floor("value").cast("long")).alias("payload"))
    feats = multimodal.decode_images(media, codec="real")
    return feats.select("media_id", "width", "height", "channels",
                        "mean_luma")


def _oracle_image_decode() -> str:
    return """
    SELECT CAST(event_id AS VARCHAR) AS media_id,
      CAST(event_id % 16 + 1 AS INTEGER) AS width,
      CAST(user_id % 8 + 1 AS INTEGER) AS height,
      CAST(1 AS INTEGER) AS channels,
      round((abs(CAST(floor(value) AS BIGINT)) % 256) / 255.0, 6) AS mean_luma
    FROM events WHERE event_id < 200
    """


def _q56_surprisal(spark, sf):
    """Mean unigram surprisal per doc (corpus-MLE -log2 p(word)) — the
    cheap LM-quality proxy for curation; gibberish scores high."""
    docs = _t(spark, sf, "documents")
    return textstats.unigram_surprisal(docs)


def _oracle_surprisal() -> str:
    return r"""
    WITH wd AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) WHERE w <> ''
    ), tot AS (SELECT count(*) AS n FROM wd),
    cnt AS (SELECT w, count(*) AS c FROM wd GROUP BY w)
    SELECT doc_id, count(*) AS n_words,
           round(avg(-log2(CAST(c AS DOUBLE) / n)), 4) AS mean_surprisal
    FROM wd JOIN cnt USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """


def _q57_dup_spans(spark, sf):
    """Duplicated-span fraction per doc: share of its distinct word
    8-grams occurring in >= 2 docs corpus-wide (the exact-substring
    dedup curation signal). One explode + one shuffle (window df)."""
    docs = _t(spark, sf, "documents")
    return dedup.dup_span_stats(docs, n=8, min_count=2)


def _oracle_dup_spans() -> str:
    return r"""
    WITH sh AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 8 THEN
          list_transform(generate_series(1, len(w) - 7),
                         i -> array_to_string(w[i:i+7], ' '))
        ELSE [] END) AS g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents)
    ), ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
    cnt AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS gdf FROM ex),
    agg AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS n_dup_grams
      FROM cnt GROUP BY doc_id)
    SELECT d.doc_id,
      coalesce(a.n_grams, 0) AS n_grams,
      coalesce(a.n_dup_grams, 0) AS n_dup_grams,
      round(CASE WHEN coalesce(a.n_grams, 0) > 0
                 THEN CAST(a.n_dup_grams AS DOUBLE) / a.n_grams
                 ELSE 0.0 END, 6) AS dup_fraction
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _q58_packing(spark, sf):
    """GPT-style sequence packing over the token table: concat (tokens
    + EOS) ordered by doc_id, slice into 2048-token training blocks.
    The Spark side computes offsets with the two-phase range-partition
    scheme (no global sort); the DuckDB twin is the straightforward
    window cumsum — identical answers, different scalability."""
    from lumbermill_spark.training import packing

    tok = _events_token_table(spark, sf)
    return packing.pack_stats(tok, block_size=2048, id_col="doc_id")


def _oracle_packing() -> str:
    return rf"""
    WITH tok AS (
      SELECT printf('doc-%012d', event_id) AS doc_id,
        length({_SQL_TOK_LINE}) + 1 AS l
      FROM events
    ), off AS (
      SELECT doc_id, l,
        coalesce(sum(l) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM tok
    ), bl AS (
      SELECT doc_id, s, l, s + l - 1 AS e,
        unnest(generate_series(CAST(floor(s / 2048.0) AS BIGINT),
                               CAST(floor((s + l - 1) / 2048.0) AS BIGINT)))
          AS block_id
      FROM off)
    SELECT block_id,
      CAST(sum(least(e, (block_id + 1) * 2048 - 1)
               - greatest(s, block_id * 2048) + 1) AS BIGINT) AS n_tokens,
      count(*) AS n_docs,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM bl GROUP BY block_id
    """


def _q59_contamination(spark, sf):
    """Benchmark-contamination check: documents split into a pseudo
    eval set (doc_id ending 0-1) vs train set (the rest); per eval doc,
    the fraction of its distinct word 5-grams found anywhere in train
    (the n-gram-overlap decontamination pass run before training)."""
    docs = _t(spark, sf, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(10)) < 2
    return dedup.contamination_stats(
        docs.filter(~is_eval), docs.filter(is_eval), n=5)


def _oracle_contamination() -> str:
    return r"""
    WITH sh AS (
      SELECT doc_id, (doc_id % 10 < 2) AS is_eval,
        list_distinct(CASE WHEN len(w) >= 5 THEN
          list_transform(generate_series(1, len(w) - 4),
                         i -> array_to_string(w[i:i+4], ' '))
        ELSE [] END) AS g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents)
    ), tg AS (
      SELECT DISTINCT unnest(g) AS s FROM sh WHERE NOT is_eval
    ), eg AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE is_eval),
    agg AS (
      SELECT eg.doc_id, count(*) AS n_grams,
        sum(CASE WHEN tg.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM eg LEFT JOIN tg ON eg.s = tg.s GROUP BY eg.doc_id)
    SELECT d.doc_id,
      coalesce(a.n_grams, 0) AS n_grams,
      coalesce(a.n_hits, 0) AS n_hits,
      round(CASE WHEN coalesce(a.n_grams, 0) > 0
                 THEN CAST(a.n_hits AS DOUBLE) / a.n_grams
                 ELSE 0.0 END, 6) AS contamination
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.doc_id % 10 < 2
    """


def _q60_pii_scrub(spark, sf):
    """PII redaction pass (training-data curation): emails / IPv4s /
    phone-shaped digit groups replaced by typed placeholders with
    per-doc counts. Synthetic PII is injected in-query from documents
    columns; the DuckDB twin replays the IDENTICAL lookahead-free
    regexes under RE2, so counts AND the scrubbed text value-check
    across both engines."""
    docs = _t(spark, sf, "documents")
    pii = F.element_at(
        F.array(
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"),
                     F.lit("@ex.com now")),
            F.concat(F.lit(" from 10."),
                     F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
                     F.lit(".0."),
                     F.pmod(F.col("doc_id"), F.lit(250)).cast("string"),
                     F.lit(" host")),
            F.format_string(" call 555-%03d-%04d ok",
                            F.pmod(F.col("doc_id"), F.lit(1000)),
                            F.pmod(F.col("doc_id"), F.lit(10000))),
            F.lit(""),
        ),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"))
    df = docs.select("doc_id", F.concat(F.col("text"), pii).alias("text"))
    out = textstats.scrub_pii(df)
    return out.select("doc_id", "n_emails", "n_ips", "n_phones",
                      F.col("text_scrubbed").alias("scrubbed"))


def _oracle_pii_scrub() -> str:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    phone = r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b"
    return f"""
    WITH base AS (
      SELECT doc_id, text ||
        CASE doc_id % 4
          WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com now'
          WHEN 1 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                      || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' host'
          WHEN 2 THEN printf(' call 555-%03d-%04d ok',
                             doc_id % 1000, doc_id % 10000)
          ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(t, '{email}')) AS n_emails,
      len(regexp_extract_all(t, '{ipv4}')) AS n_ips,
      len(regexp_extract_all(t, '{phone}')) AS n_phones,
      regexp_replace(regexp_replace(regexp_replace(t,
        '{email}', '<EMAIL>', 'g'),
        '{ipv4}', '<IP>', 'g'),
        '{phone}', '<PHONE>', 'g') AS scrubbed
    FROM base
    """


def _q61_pack_blocks(spark, sf):
    """Assembled GPT-style training blocks (packing.pack_blocks): the
    2048-token slices of the doc_id-ordered (tokens + EOS) stream,
    value-checked per block via md5 of the comma-joined token array.
    Complements q58 (stats only): this proves the assembled ARRAYS are
    byte-identical to the window-cumsum twin, not just the offsets."""
    from lumbermill_spark.training import packing

    tok = _events_token_table(spark, sf)
    blocks = packing.pack_blocks(tok, block_size=2048, id_col="doc_id",
                                 eos_token=0)
    return blocks.select(
        "block_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(
            ",", F.transform(F.col("tokens"),
                             lambda t: t.cast("string")))).alias("block_md5"),
    )


def _oracle_pack_blocks() -> str:
    return rf"""
    WITH tok AS (
      SELECT printf('doc-%012d', event_id) AS doc_id,
        {_SQL_TOK_LINE} AS line
      FROM events
    ), t2 AS (
      SELECT doc_id,
        list_append(list_transform(generate_series(1, length(line)),
                                   i -> ascii(line[i])), 0) AS toks,
        length(line) + 1 AS l
      FROM tok
    ), off AS (
      SELECT doc_id, toks, l,
        coalesce(sum(l) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM t2
    ), bl AS (
      SELECT toks, s, l, s + l - 1 AS e,
        unnest(generate_series(CAST(floor(s / 2048.0) AS BIGINT),
                               CAST(floor((s + l - 1) / 2048.0) AS BIGINT)))
          AS block_id
      FROM off
    ), pieces AS (
      SELECT block_id, s,
        toks[(greatest(s, block_id * 2048) - s + 1)
             :(least(e, (block_id + 1) * 2048 - 1) - s + 1)] AS piece
      FROM bl
    ), asm AS (
      SELECT block_id, flatten(list(piece ORDER BY s)) AS tokens
      FROM pieces GROUP BY block_id)
    SELECT block_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
           md5(array_to_string(tokens, ',')) AS block_md5
    FROM asm
    """


def _q62_video_frames(spark, sf):
    """Video frame-sampling as a first-class oracle-checked op:
    uncompressed YUV4MPEG2 clips synthesized in-query from events
    columns (bundled pure-stdlib codec, functions/y4m_lite), sampled by
    frame_sample(codec='real') every 3rd frame; each sampled frame's
    grayscale-PNG payload is then re-decoded by decode_images to prove
    the video→image handoff. The DuckDB twin derives frame indices,
    dims and luma structurally (q55 recipe — the container format is
    not SQL-expressible, the field values still hash-check)."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 200)

    @F.pandas_udf("binary")
    def _clip(eid: pd.Series, uid: pd.Series, v: pd.Series) -> pd.Series:
        import numpy as np

        from lumbermill_spark.functions.y4m_lite import encode_y4m
        out = []
        for i, u, val in zip(eid, uid, v):
            n = int(i) % 7 + 1            # 1..7 frames
            w, h = int(u) % 8 + 2, int(u) % 4 + 2
            fill0 = abs(int(val)) % 250   # sign-stable vs SQL twin
            out.append(encode_y4m(
                [np.full((h, w), (fill0 + k) % 256, dtype=np.uint8)
                 for k in range(n)],
                colorspace="mono"))
        return pd.Series(out)

    media = ev.select(
        F.col("event_id").cast("string").alias("media_id"),
        _clip(F.col("event_id"), F.col("user_id"),
              F.floor("value").cast("long")).alias("payload"))
    frames = multimodal.frame_sample(media, every_n=3, codec="real")
    feats = multimodal.decode_images(
        frames.select(F.concat_ws("#", "media_id", "frame_idx")
                      .alias("media_id"), "payload"),
        codec="real")
    parts = F.split(F.col("media_id"), "#")
    return feats.select(
        parts[0].alias("media_id"),
        parts[1].cast("int").alias("frame_idx"),
        "width", "height", "mean_luma")


def _oracle_video_frames() -> str:
    return """
    WITH f AS (
      SELECT event_id, user_id, value,
        unnest(generate_series(0, CAST(event_id % 7 AS BIGINT), 3)) AS k
      FROM events WHERE event_id < 200)
    SELECT CAST(event_id AS VARCHAR) AS media_id,
      CAST(k AS INTEGER) AS frame_idx,
      CAST(user_id % 8 + 2 AS INTEGER) AS width,
      CAST(user_id % 4 + 2 AS INTEGER) AS height,
      round(((abs(CAST(floor(value) AS BIGINT)) % 250 + k) % 256)
            / 255.0, 6) AS mean_luma
    FROM f
    """


def _q50_collectd(spark, sf):
    """parser.Collectd: binary protocol packets (synthesized per event)
    decoded 1→N; per-plugin metric aggregates."""
    from lumbermill_spark.operators import collectd as cd

    @F.pandas_udf("binary")
    def _packet(eid: pd.Series, uid: pd.Series, et: pd.Series,
                val: pd.Series) -> pd.Series:
        return pd.Series([
            cd.encode_packet(
                f"h{int(u) % 50}", e,
                [(cd.DS_GAUGE, float(int(v))), (cd.DS_COUNTER, int(i))],
                time=1_700_000_000 + int(i) % 1000, interval=10)
            for i, u, e, v in zip(eid, uid, et, val)
        ])

    # single-task on purpose — same chained-Python-stage instability
    # as q41 (see the comment there): pandas_udf synth + mapInPandas
    # decode at 32-way fan-out intermittently costs 10x in worker churn
    ev = _t(spark, sf, "events")
    df = ev.select(
        F.format_string("c%d", F.col("event_id")).alias("doc_id"),
        _packet(F.col("event_id"), F.col("user_id"), F.col("event_type"),
                F.floor(F.col("value"))).alias("payload"),
    )
    rec = cd.parse_collectd(df)
    return rec.groupBy("plugin").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum(F.element_at("values", 1)).cast("long").alias("sum_gauge"),
        F.sum(F.element_at("values", 2)).cast("long").alias("sum_counter"),
        F.count_distinct("host").alias("n_hosts"),
        F.min("time").alias("min_time"),
    )


def _q63_gopher_rules(spark, sf):
    """Gopher-style hard quality rules (training-data curation): each
    document gets independent boolean rule flags (word-count bounds,
    mean word length, symbol/bullet/ellipsis ratios, alphabetic-word
    fraction, stopword presence) plus the conjunction gate. Rule-
    triggering decorations (bullet lines, ellipsis lines, '#' runs,
    non-alpha words) are synthesized in-query from doc_id so every
    rule exercises both outcomes; pure JVM expressions throughout."""
    docs = _t(spark, sf, "documents")
    decor = F.element_at(
        F.array(
            F.lit("\n- bullet one\n- bullet two\n* bullet three"),
            F.lit("\nwait...\nhmm…"),
            F.lit(" ### ##"),
            F.lit(" zz9 42 17 99 101 23 55 8 61 77"),
            F.lit(""),
        ),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"))
    df = docs.select("doc_id",
                     F.concat(F.col("text"), decor).alias("text"))
    out = textstats.gopher_rules(df)
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac",
        F.col("stop_hits").cast("bigint").alias("stop_hits"),
        F.col("gopher_pass").cast("int").alias("gopher_pass"),
    )


def _oracle_gopher_rules() -> str:
    stop_list = ", ".join(f"'{w}'" for w in textstats.GOPHER_STOPWORDS)
    return r"""
    WITH base AS (
      SELECT doc_id, text ||
        CASE doc_id % 5
          WHEN 0 THEN chr(10) || '- bullet one' || chr(10) ||
                      '- bullet two' || chr(10) || '* bullet three'
          WHEN 1 THEN chr(10) || 'wait...' || chr(10) || 'hmm…'
          WHEN 2 THEN ' ### ##'
          WHEN 3 THEN ' zz9 42 17 99 101 23 55 8 61 77'
          ELSE '' END AS t
      FROM documents
    ), m AS (
      SELECT doc_id, t,
        string_split_regex(trim(t), '\s+') AS ws,
        string_split_regex(t, '\n') AS ls
      FROM base
    ), v AS (
      SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        round(CASE WHEN len(ws) > 0 THEN
          length(regexp_replace(t, '\s+', '', 'g')) * 1.0 / len(ws)
          ELSE 0.0 END, 6) AS mean_word_len,
        round(CASE WHEN len(ws) > 0 THEN
          ((length(t) - length(replace(t, '#', ''))) +
           (length(t) - length(replace(t, '...', ''))) / 3) * 1.0 / len(ws)
          ELSE 0.0 END, 6) AS symbol_word_ratio,
        round(CASE WHEN len(ls) > 0 THEN
          len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]')))
            * 1.0 / len(ls) ELSE 0.0 END, 6) AS bullet_line_frac,
        round(CASE WHEN len(ls) > 0 THEN
          len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
            * 1.0 / len(ls) ELSE 0.0 END, 6) AS ellipsis_line_frac,
        round(CASE WHEN len(ws) > 0 THEN
          len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
            * 1.0 / len(ws) ELSE 0.0 END, 6) AS alpha_word_frac,
        CAST(len(list_intersect(
          list_distinct(list_transform(ws, w -> lower(w))),
          [__STOPLIST__])) AS BIGINT) AS stop_hits
      FROM m)
    SELECT *,
      CAST(n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND stop_hits >= 2 AS INTEGER) AS gopher_pass
    FROM v
    """.replace("__STOPLIST__", stop_list)


def _q64_source_mix(spark, sf):
    """Deterministic source-mix resampling (training-data curation):
    target mixture weights derived from the source name, per-source
    downsampling rates via mix_rates (largest downsample-only total),
    then a reproducible md5-threshold stratified sample. Output: one
    row per source with raw count, rate and kept count — the rate
    table is broadcast, the corpus side never shuffles for the keep
    decision."""
    from lumbermill_spark.training import sampling

    docs = _t(spark, sf, "documents")
    weight = (
        (F.pmod(F.substring(F.col("source"), 4, 10).cast("int"), F.lit(4))
         + F.lit(1)) / F.lit(50.0))
    rates = sampling.mix_rates(docs, "source", weight)
    kept = (
        sampling.stratified_sample(docs, "source", rates, id_col="doc_id")
        .groupBy("source").agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.col("rate"), 6).alias("rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint")
            .alias("n_kept"),
        )
    )


def _oracle_source_mix() -> str:
    return """
    WITH c AS (
      SELECT source, count(*) AS n_docs,
        ((CAST(substr(source, 4) AS INT) % 4) + 1) / 50.0 AS p
      FROM documents GROUP BY source
    ), t AS (
      SELECT min(n_docs / p) AS total FROM c
    ), r AS (
      SELECT source, n_docs, p * total / n_docs AS rate FROM c, t
    ), k AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN r USING (source)
      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'),
                                1, 15) AS BIGINT)
            < rate * 1152921504606846976.0
      GROUP BY d.source
    )
    SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
           round(r.rate, 6) AS rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN k USING (source)
    """


def _q65_incremental_dedup(spark, sf):
    """Incremental ingest dedup (the batch-resume complement of the
    checkpoint story): even-id documents play the already-committed
    corpus snapshot (its content-hash set), odd-id documents the new
    ingest batch. Rows whose content was already committed are dropped
    via a left-anti hash join, the survivors exact-dedupe within the
    batch (lowest id wins). The DuckDB twin anti-joins on the
    normalized text itself — hash equality == text equality, so both
    engines keep the identical row set. Null-text rows pass through
    UNGROUPED on both sides (exact_dedup keep_nulls=True semantics:
    null means content-unknown, not content-equal; the twin's
    null-k branch mirrors it explicitly)."""
    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    seen = prior.select(
        dedup.content_hash(F.col("text")).alias("content_hash"))
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    kept = dedup.exact_dedup_incremental(batch, seen)
    return kept.select("doc_id", "source")


def _oracle_incremental_dedup() -> str:
    return """
    WITH prior AS (
      SELECT DISTINCT lower(trim(text)) AS k FROM documents
      WHERE doc_id % 2 = 0
    ), batch AS (
      SELECT doc_id, source, lower(trim(text)) AS k FROM documents
      WHERE doc_id % 2 = 1
    ), fresh AS (
      SELECT b.* FROM batch b ANTI JOIN prior p USING (k)
    )
    SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
    FROM fresh WHERE k IS NOT NULL GROUP BY k
    UNION ALL
    SELECT doc_id, source FROM fresh WHERE k IS NULL
    """


def _q66_squeeze_repeats(spark, sf):
    """Within-document repetition scrub (training-data curation): runs
    of consecutively repeated words collapse to one occurrence, with
    the removed fraction reported — the removal counterpart of the
    repetition *measuring* signals (q52). Pure per-row array
    expressions: zero shuffle, zero Python."""
    docs = _t(spark, sf, "documents")
    out = textstats.squeeze_repeats(docs)
    return out.select("doc_id", "n_words", "n_kept", "text_squeezed",
                      "removed_frac")


def _oracle_squeeze_repeats() -> str:
    return r"""
    WITH m AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x <> '') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, ws,
        list_filter(ws, (x, i) -> i = 1 OR x <> ws[i - 1]) AS kept
      FROM m)
    SELECT doc_id,
      CAST(len(ws) AS BIGINT) AS n_words,
      CAST(len(kept) AS BIGINT) AS n_kept,
      array_to_string(kept, ' ') AS text_squeezed,
      round(CASE WHEN len(ws) > 0 THEN
        (len(ws) - len(kept)) * 1.0 / len(ws) ELSE 0.0 END, 6)
        AS removed_frac
    FROM s
    """


def _q67_vocab_oov(spark, sf):
    """Tokenizer-prep vocabulary build + per-document OOV rate: the
    top-20 words by corpus frequency (ties lexicographic — a total
    order both engines replay) form the vocabulary; every document is
    scored for the fraction of its tokens outside it. Vocabulary via
    TakeOrderedAndProject (no full sort), membership via broadcast
    join — the corpus never shuffles for the test."""
    from lumbermill_spark.training import tokenize

    docs = _t(spark, sf, "documents")
    return tokenize.vocab_oov(docs, vocab_size=20)


def _oracle_vocab_oov() -> str:
    return r"""
    WITH w AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '')) AS w
      FROM documents
    ), dw AS (
      SELECT doc_id, w, count(*) AS k FROM w GROUP BY doc_id, w
    ), c AS (
      SELECT w, sum(k) AS c FROM dw GROUP BY w
    ), v AS (
      SELECT w, 1 AS in_v FROM c ORDER BY c DESC, w LIMIT 20
    )
    SELECT dw.doc_id,
      CAST(sum(dw.k) AS BIGINT) AS n_words,
      CAST(sum(CASE WHEN v.in_v IS NULL THEN dw.k ELSE 0 END) AS BIGINT)
        AS n_oov,
      round(sum(CASE WHEN v.in_v IS NULL THEN dw.k ELSE 0 END) * 1.0
            / sum(dw.k), 6) AS oov_rate
    FROM dw LEFT JOIN v ON dw.w = v.w
    GROUP BY dw.doc_id
    """


def _q68_bpe_pairs(spark, sf):
    """BPE first-merge statistics (tokenizer training prep): corpus
    frequencies of adjacent character pairs inside words, top-20 merge
    candidates with deterministic (count desc, pair asc) rank. The
    ranking window runs over the aggregated pair table — bounded by
    alphabet², not corpus size."""
    from lumbermill_spark.training import tokenize

    docs = _t(spark, sf, "documents")
    out = tokenize.bpe_pair_stats(docs, top_n=20)
    return out.select(F.col("left").alias("lhs"),
                      F.col("right").alias("rhs"), "cnt", "rank")


def _oracle_bpe_pairs() -> str:
    return r"""
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), p AS (
      SELECT substr(w, i, 1) AS lhs, substr(w, i + 1, 1) AS rhs
      FROM w, unnest(generate_series(1, length(w) - 1)) AS t(i)
    ), c AS (
      SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS cnt
      FROM p GROUP BY lhs, rhs
    ), r AS (
      SELECT lhs, rhs, cnt,
        CAST(row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS INTEGER)
          AS rank
      FROM c)
    SELECT lhs, rhs, cnt, rank FROM r WHERE rank <= 20
    """


def _q69_bigram_ppl(spark, sf):
    """CCNet-style LM-perplexity bucketing: per-document mean bigram
    surprisal under an add-one-smoothed corpus bigram model, bucketed
    into head/middle/tail terciles by an inverse-CDF cutoff over the
    rounded score histogram (no exact-percentile single-reducer state,
    bit-identical in any engine)."""
    from lumbermill_spark.training import tokenize

    docs = _t(spark, sf, "documents")
    return tokenize.bigram_surprisal(docs)


def _oracle_bigram_ppl() -> str:
    return r"""
    WITH m AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM m, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ), db AS (
      SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY doc_id, w1, w2
    ), c2 AS (
      SELECT w1, w2, sum(k) AS c2 FROM db GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
    ), v AS (
      SELECT count(*) AS V FROM c1
    ), sc AS (
      SELECT db.doc_id, db.k,
        -log2(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.V AS DOUBLE))
          AS s
      FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ), pd AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        round(sum(k * s) / sum(k), 4) AS mean_surprisal
      FROM sc GROUP BY doc_id
    ), n AS (SELECT count(*) AS n FROM pd
    ), hist AS (
      SELECT mean_surprisal AS ms, count(*) AS hk
      FROM pd GROUP BY mean_surprisal
    ), cum AS (
      SELECT ms, sum(hk) OVER (ORDER BY ms) AS cum FROM hist
    ), cuts AS (
      SELECT min(CASE WHEN cum >= n.n / 3.0 THEN ms END) AS t1,
             min(CASE WHEN cum >= n.n * 2.0 / 3.0 THEN ms END) AS t2
      FROM cum CROSS JOIN n)
    SELECT doc_id, n_bigrams, mean_surprisal,
      CASE WHEN mean_surprisal <= t1 THEN 'head'
           WHEN mean_surprisal <= t2 THEN 'middle'
           ELSE 'tail' END AS ppl_bucket
    FROM pd CROSS JOIN cuts
    """


def _q70_semdedup(spark, sf):
    """SemDedup-style semantic dedup over embeddings: IVF-cell
    clustering (deterministic fixed-size md5-sample quantizer — the
    q51 recipe) then within-cell cosine pairs at threshold 0.4, greedy
    keep-lowest-id. Quadratic work bounded by cell size (max_cell
    guard), never corpus size."""
    emb = _t(spark, sf, "embeddings")
    out = similarity.semdedup(emb, threshold=0.4, num_centroids=32)
    return out.select(
        "vec_id", "cell",
        F.col("cell_skipped").cast("int").alias("cell_skipped"),
        F.col("kept").cast("int").alias("kept"),
    )


def _oracle_semdedup() -> str:
    return """
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
    ), base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sims AS (
      SELECT b.vec_id, c.centroid_id,
        list_inner_product(b.v, c.cv)
          / (sqrt(list_inner_product(b.v, b.v))
             * sqrt(list_inner_product(c.cv, c.cv))) AS sim
      FROM base b CROSS JOIN cents c
    ), ranked AS (
      SELECT vec_id, centroid_id,
        row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, centroid_id) AS rk
      FROM sims
    ), cassign AS (
      SELECT vec_id, centroid_id AS cell FROM ranked WHERE rk = 1
    ), sizes AS (
      SELECT cell, count(*) AS cn FROM cassign GROUP BY cell
    ), elig AS (
      SELECT a.vec_id, a.cell, b.v
      FROM cassign a JOIN sizes s USING (cell) JOIN base b USING (vec_id)
      WHERE s.cn <= 100000
    ), drops AS (
      SELECT DISTINCT y.vec_id
      FROM elig x JOIN elig y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE round(list_inner_product(x.v, y.v)
          / (sqrt(list_inner_product(x.v, x.v))
             * sqrt(list_inner_product(y.v, y.v))), 6) >= 0.4
    )
    SELECT a.vec_id, a.cell,
      CAST(s.cn > 100000 AS INTEGER) AS cell_skipped,
      CAST(d.vec_id IS NULL AS INTEGER) AS kept
    FROM cassign a JOIN sizes s USING (cell)
    LEFT JOIN drops d ON d.vec_id = a.vec_id
    """


def _q71_kmeans_refine(spark, sf):
    """One Lloyd refinement round of the IVF quantizer (the clustering
    primitive behind ANN/SemDedup cells): md5-sample init (q51 recipe),
    Arrow-matmul assignment, then per-(cell, position) partial-agg
    means re-assembled with a deterministic sort — shuffle volume
    O(centroids × dim), never corpus-sized; empty cells keep their
    prior centroid."""
    emb = _t(spark, sf, "embeddings")
    return similarity.kmeans_refine(emb, num_centroids=32, n_iter=1)


def _oracle_kmeans_refine() -> str:
    return """
    WITH cents AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
    ), base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sims AS (
      SELECT b.vec_id, c.cell,
        list_inner_product(b.v, c.cv)
          / (sqrt(list_inner_product(b.v, b.v))
             * sqrt(list_inner_product(c.cv, c.cv))) AS sim
      FROM base b CROSS JOIN cents c
    ), cassign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell) AS rk
        FROM sims) WHERE rk = 1
    ), vals AS (
      SELECT a.cell, t.i AS pos, b.v[t.i] AS val
      FROM cassign a JOIN base b USING (vec_id),
           unnest(generate_series(1, len(b.v))) AS t(i)
    ), means AS (
      SELECT cell, pos, avg(val) AS m, count(*) AS n
      FROM vals GROUP BY cell, pos
    ), agg AS (
      SELECT cell, list(round(m, 6) ORDER BY pos) AS centroid,
             max(n) AS n_members
      FROM means GROUP BY cell)
    SELECT c.cell,
      coalesce(a.centroid,
               list_transform(c.cv, x -> round(x, 6))) AS centroid,
      CAST(coalesce(a.n_members, 0) AS BIGINT) AS n_members
    FROM cents c LEFT JOIN agg a USING (cell)
    """



def _q72_quality_classifier(spark, sf):
    """GPT-3/CCNet-style seed quality classifier: add-one Naive Bayes
    log-odds trained on a deterministic md5 hash split (buckets <3 of
    10) with lang='en' as the seed-positive class, scoring EVERY doc.
    The model is a bounded top-200 vocabulary (TakeOrderedAndProject)
    broadcast to the scoring side; labels compare the ROUNDED score so
    the decision replays bit-identically in any engine."""
    from lumbermill_spark.training.classifier import seed_quality_classifier

    docs = _t(spark, sf, "documents")
    return seed_quality_classifier(
        docs, positive=F.col("lang") == "en",
        train_buckets=3, split_buckets=10, vocab_size=200)


def _oracle_quality_classifier() -> str:
    return r"""
    WITH tok AS (
      SELECT doc_id,
        unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')) AS w
      FROM documents
    ), train_docs AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 10 < 3
    ), tw AS (
      SELECT t.w, sum(d.y) AS cp, sum(1 - d.y) AS cn
      FROM tok t JOIN train_docs d USING (doc_id) GROUP BY t.w
    ), model AS (
      SELECT w, cp, cn FROM tw ORDER BY (cp + cn) DESC, w LIMIT 200
    ), tot AS (
      SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM model
    ), prior AS (
      SELECT sum(y) AS dp, sum(1 - y) AS dn FROM train_docs
    ), dw AS (
      SELECT doc_id, w, count(*) AS k FROM tok GROUP BY doc_id, w
    ), per_doc AS (
      SELECT dw.doc_id, sum(dw.k) AS n_words,
        sum(dw.k * (ln((coalesce(m.cp, 0) + 1)
                       / CAST(t.np + t.v AS DOUBLE))
                    - ln((coalesce(m.cn, 0) + 1)
                         / CAST(t.nn + t.v AS DOUBLE)))) AS evidence
      FROM dw LEFT JOIN model m USING (w) CROSS JOIN tot t
      GROUP BY dw.doc_id
    ), scored AS (
      SELECT d.doc_id,
        CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
        round(ln(CAST(pr.dp AS DOUBLE) / pr.dn)
              + coalesce(p.evidence, 0.0), 4) AS score
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      CROSS JOIN prior pr)
    SELECT doc_id, n_words, score,
      CASE WHEN score > 0 THEN 'pos' ELSE 'neg' END AS label
    FROM scored
    """


def _q73_substring_scrub(spark, sf):
    """Exact-substring dedup with first-occurrence-kept semantics (Lee
    et al. 2022 ExactSubstr): every word 8-gram occurrence whose gram
    appears earlier in corpus order (doc_id, position) is scrubbed;
    overlapping duplicated grams merge via the covered-index union.
    One gram-keyed shuffle (window min), linear in total grams."""
    docs = _t(spark, sf, "documents")
    return dedup.exact_substring_scrub(docs, k=8)


def _oracle_substring_scrub() -> str:
    return r"""
    WITH base AS (
      SELECT doc_id,
        CASE WHEN coalesce(trim(text), '') = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      FROM documents
    ), occ AS (
      SELECT doc_id, t.i AS pos,
        array_to_string(w[t.i:t.i + 7], ' ') AS g,
        doc_id * 1000000 + t.i AS ord
      FROM base,
        unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
    ), marked AS (
      SELECT doc_id, pos,
        ord > min(ord) OVER (PARTITION BY g) AS removed
      FROM occ
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_grams,
        sum(CASE WHEN removed THEN 1 ELSE 0 END) AS n_removed
      FROM marked GROUP BY doc_id
    ), cov AS (
      SELECT doc_id, count(DISTINCT t.i) AS covered
      FROM marked, unnest(generate_series(pos, pos + 7)) AS t(i)
      WHERE removed GROUP BY doc_id
    ), ntok AS (
      SELECT doc_id, len(w) AS n_tokens FROM base)
    SELECT n.doc_id,
      CAST(n.n_tokens AS BIGINT) AS n_tokens,
      CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(coalesce(p.n_removed, 0) AS BIGINT) AS n_removed_grams,
      CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
      CAST(n.n_tokens - coalesce(c.covered, 0) AS BIGINT)
        AS retained_tokens,
      round(CASE WHEN n.n_tokens > 0
                 THEN CAST(n.n_tokens - coalesce(c.covered, 0) AS DOUBLE)
                      / n.n_tokens
                 ELSE 1.0 END, 6) AS retained_frac
    FROM ntok n LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
    """


def _q74_url_canonical(spark, sf):
    """Crawl-curation URL canonicalization + URL-level dedup: three
    deterministic messy-URL families (mixed-case scheme/host, www
    prefix, default port, duplicate/trailing slashes, tracking params,
    unsorted query, fragment) collapse to canonical form, then an
    exact groupBy dedups at URL granularity. The twin derives each
    family's expected canonical string directly from the base columns,
    so it independently checks the whole normalization chain."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 600)
    mod3 = F.pmod(F.col("event_id"), F.lit(3))
    raw = (
        F.when(mod3 == 0, F.format_string(
            "HTTPS://WWW.Shop%d.COM:443//cat/item%d/"
            "?utm_source=nl&b=%d&a=1#top",
            F.pmod(F.col("user_id"), F.lit(3)),
            F.pmod(F.col("event_id"), F.lit(50)),
            F.pmod(F.col("user_id"), F.lit(7))))
        .when(mod3 == 1, F.format_string(
            "http://News.Example.ORG:80/story/%d?id=%d&gclid=xyz",
            F.pmod(F.col("event_id"), F.lit(40)),
            F.pmod(F.col("user_id"), F.lit(5))))
        .otherwise(F.format_string(
            "https://cdn.example.com:8443/assets/"
            "?z=%d&y=2&fbclid=f&utm_campaign=c",
            F.pmod(F.col("event_id"), F.lit(20)))))
    df = ev.select("event_id", raw.alias("u"))
    out = parsers.canonicalize_url(df, "u", target_field="canonical_url")
    return out.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("first_event"))


def _oracle_url_canonical() -> str:
    return r"""
    WITH base AS (
      SELECT event_id,
        CASE event_id % 3
          WHEN 0 THEN 'https://shop' || (user_id % 3) || '.com/cat/item'
                      || (event_id % 50) || '?a=1&b=' || (user_id % 7)
          WHEN 1 THEN 'http://news.example.org/story/' || (event_id % 40)
                      || '?id=' || (user_id % 5)
          ELSE 'https://cdn.example.com:8443/assets?y=2&z='
               || (event_id % 20)
        END AS canonical_url
      FROM events WHERE event_id < 600
    )
    SELECT canonical_url, count(*) AS n_rows, min(event_id) AS first_event
    FROM base GROUP BY canonical_url
    """


def _q75_docs_multiline(spark, sf):
    """Shared input for the line-dedup queries: deterministic 5-line
    docs built from the documents table — a corpus-wide boilerplate
    line, a quasi-unique content prefix, a 20-way shared section
    header, a blank structural line, and a unique tail."""
    docs = _t(spark, sf, "documents")
    text2 = F.concat_ws(
        "\n",
        F.lit("COOKIE BANNER ACCEPT"),
        F.substring(F.col("text"), 1, 40),
        F.format_string("section %d", F.pmod(F.col("doc_id"), F.lit(20))),
        F.lit(""),
        F.format_string("tail %d", F.col("doc_id")))
    return docs.select("doc_id", text2.alias("text"))


_ORACLE_MULTILINE = r"""
    WITH base AS (
      SELECT doc_id,
        'COOKIE BANNER ACCEPT' || chr(10) || substr(text, 1, 40)
        || chr(10) || 'section ' || (doc_id % 20)
        || chr(10) || chr(10) || 'tail ' || doc_id AS t
      FROM documents
    ), arr AS (
      SELECT doc_id, string_split(t, chr(10)) AS w FROM base
    ), lines AS (
      SELECT doc_id, t.i - 1 AS pos, w[t.i] AS line
      FROM arr, unnest(generate_series(1, len(w))) AS t(i)
    ), marked AS (
      SELECT doc_id, pos, line,
        trim(line) <> '' AND {removed_pred} AS removed
      FROM lines
    )
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed_lines,
      coalesce(string_agg(CASE WHEN NOT removed THEN line END,
                          chr(10) ORDER BY pos), '') AS text_clean,
      round((count(*) - sum(CASE WHEN removed THEN 1 ELSE 0 END))
            / CAST(count(*) AS DOUBLE), 6) AS retained_frac
    FROM marked GROUP BY doc_id
    """


def _q75_line_dedup(spark, sf):
    """RefinedWeb/MassiveText-style boilerplate line removal: every
    non-blank line occurring >= 3 times corpus-wide is dropped from
    ALL docs, blanks keep structure, the cleaned text is reassembled
    in original order. One line-keyed window shuffle + one doc
    rebuild — linear in total lines."""
    return dedup.line_dedup(_q75_docs_multiline(spark, sf),
                            mode="drop_frequent", min_count=3)


def _oracle_line_dedup() -> str:
    return _ORACLE_MULTILINE.format(
        removed_pred="count(*) OVER (PARTITION BY line) >= 3")


def _q76_line_dedup_keepfirst(spark, sf):
    """C4-style keep-first line dedup on the same synthesized corpus:
    only the globally-first occurrence (corpus order = (doc_id, pos))
    of each non-blank line survives."""
    return dedup.line_dedup(_q75_docs_multiline(spark, sf),
                            mode="keep_first")


def _oracle_line_dedup_keepfirst() -> str:
    return _ORACLE_MULTILINE.format(
        removed_pred="(doc_id * 1000000 + pos) > "
                     "min(doc_id * 1000000 + pos) OVER (PARTITION BY line)")


def _q77_normalize_text(spark, sf):
    """Unicode normalization scrub: deterministic messy text (combining
    accent, zero-width chars, NBSP, tabs, a control byte, padded ends)
    built from each document, then normalize_text (zero-width strip ->
    NFC -> control strip -> horizontal-whitespace collapse + trim).
    The DuckDB twin replays the pipeline with its own NFC
    (utf8proc) + RE2, so the hash check is engine-independent."""
    from lumbermill_spark.training.textstats import normalize_text

    docs = _t(spark, sf, "documents")
    messy = F.concat(
        F.lit("  Cafe\u0301\u200b \u00a0"),
        F.substring(F.col("text"), 1, 30),
        F.lit("\t\tend"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"))
    df = docs.select("doc_id", messy.alias("text"))
    out = normalize_text(df, target_col="clean")
    return out.select(
        "doc_id", "clean",
        F.length("clean").cast("bigint").alias("n_chars"))


def _oracle_normalize_text() -> str:
    return r"""
    WITH messy AS (
      SELECT doc_id,
        '  Cafe' || chr(769) || chr(8203) || ' ' || chr(160)
        || substr(text, 1, 30) || chr(9) || chr(9) || 'end' || chr(7)
        || CAST(doc_id % 5 AS VARCHAR) AS t
      FROM documents
    ), norm AS (
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(
            nfc_normalize(regexp_replace(
              t, '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g')),
            '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
          '[ \t\x{a0}]+', ' ', 'g')) AS clean
      FROM messy)
    SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
    FROM norm
    """


def _q78_chunk_sequences(spark, sf):
    """Context-window chunking of the token table (HF overflow
    convention: max_len windows at stride, short last window kept).
    The tokens are the line's bytes, so each chunk's md5 equals the
    md5 of the corresponding substring — the twin checks exact chunk
    boundaries AND content without ever materializing arrays."""
    from lumbermill_spark.training.packing import chunk_sequences

    tok = _events_token_table(spark, sf)
    out = chunk_sequences(tok, max_len=24, stride=16)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("n_chunk").cast("bigint").alias("n_chunk"),
        F.md5(decode_tokens(F.col("chunk"))).alias("chunk_md5"))


def _oracle_chunk_sequences() -> str:
    return f"""
    WITH tok AS (
      SELECT printf('doc-%012d', event_id) AS doc_id,
             {_SQL_TOK_LINE} AS line
      FROM events
    ), base AS (
      SELECT doc_id, line, len(line) AS n FROM tok
    )
    SELECT doc_id,
      CAST(t.i AS BIGINT) AS chunk_idx,
      CAST(least(24, n - t.i * 16) AS BIGINT) AS n_chunk,
      md5(substr(line, t.i * 16 + 1, 24)) AS chunk_md5
    FROM base, unnest(generate_series(
      0, CAST(ceil(greatest(n - 24, 0) / 16.0) AS INT))) AS t(i)
    WHERE n > 0
    """


def _q79_dsir(spark, sf):
    """DSIR importance weights (hashed unigram+bigram buckets, B=1024,
    engine-portable md5-hex8 bucketing) with lang='en' as the target
    distribution; keep = rounded log-weight above the rounded pool
    average (relative selection — DSIR resamples by rank). The twin
    rebuilds the same hashed feature space and both smoothed
    distributions from scratch in DuckDB."""
    from lumbermill_spark.training.classifier import dsir_weights

    docs = _t(spark, sf, "documents")
    return dsir_weights(docs, target=F.col("lang") == "en", buckets=1024)


def _oracle_dsir() -> str:
    return r"""
    WITH base AS (
      SELECT doc_id, lang = 'en' AS y,
        list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                          '\s+'), x -> x <> '') AS w
      FROM documents
    ), uni AS (
      SELECT doc_id, y, w[t.i] AS g
      FROM base, unnest(generate_series(1, len(w))) AS t(i)
    ), bi AS (
      SELECT doc_id, y, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM base, unnest(generate_series(1, greatest(len(w) - 1, 0)))
        AS t(i)
    ), feats AS (
      SELECT doc_id, y,
        CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 1024 AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ), dw AS (
      SELECT doc_id, y, b, count(*) AS k FROM feats GROUP BY doc_id, y, b
    ), bt AS (
      SELECT b, sum(k) AS s, sum(CASE WHEN y THEN k ELSE 0 END) AS t
      FROM dw GROUP BY b
    ), tot AS (
      SELECT sum(s) AS ns, sum(t) AS nt FROM bt
    ), scored AS (
      SELECT dw.doc_id, sum(dw.k) AS n_feats,
        sum(dw.k * (ln((bt.t + 1) / CAST(tot.nt + 1024 AS DOUBLE))
                  - ln((bt.s + 1) / CAST(tot.ns + 1024 AS DOUBLE))))
          AS lw
      FROM dw JOIN bt USING (b) CROSS JOIN tot
      GROUP BY dw.doc_id
    ), mstat AS (
      SELECT avg(lw) AS mlw FROM scored)
    SELECT d.doc_id,
      CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
      round(coalesce(sc.lw, 0.0), 4) AS log_weight,
      coalesce(sc.n_feats, 0) > 0
        AND round(coalesce(sc.lw, 0.0), 4) > round(m.mlw, 4) AS keep
    FROM documents d LEFT JOIN scored sc USING (doc_id)
    CROSS JOIN mstat m
    """


def _q80_sliding_window(spark, sf):
    """Sliding event-time windows (10 min length, 5 min slide —
    every event lands in exactly two windows) with per-event_type
    counts + value sums, via Spark's native F.window expansion. The
    identical expression runs under Structured Streaming with a
    watermark; the twin re-derives both window assignments
    arithmetically from the epoch."""
    ev = _t(spark, sf, "events")
    out = stats.sliding_window_agg(
        ev, "ts", "10 minutes", "5 minutes", ["event_type"],
        [F.count(F.lit(1)).alias("n_rows"),
         F.round(F.sum("value"), 2).alias("sum_value")])
    return out.select(
        F.date_format("window_start",
                      "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end",
                      "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type", "n_rows", "sum_value")


def _oracle_sliding_window() -> str:
    return r"""
    WITH e AS (
      SELECT event_type, value,
        CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS slot
      FROM events
    ), w AS (
      SELECT event_type, value, slot - t.k * 300 AS ws
      FROM e, unnest([0, 1]) AS t(k)
    )
    SELECT
      strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
        AS window_start,
      strftime(make_timestamp((ws + 600) * 1000000), '%Y-%m-%d %H:%M:%S')
        AS window_end,
      event_type,
      CAST(count(*) AS BIGINT) AS n_rows,
      round(sum(value), 2) AS sum_value
    FROM w GROUP BY ws, event_type
    """


def _q81_image_ahash(spark, sf):
    """Perceptual image hash (aHash) as a first-class oracle-checked
    op: grayscale gradient PNGs (pixel = (base + 16r + c) mod 256) at
    8x8 and 16x16 synthesized in-query, hashed by decode -> floor-
    nearest 8x8 sample -> mean threshold -> hex. The DuckDB twin
    recomputes every sampled pixel, the exact float64 mean, the bit
    pattern AND the hex packing from the same formulas — full
    numeric parity, not a structural check."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 200)

    @F.pandas_udf("binary")
    def _img(eid: pd.Series, v: pd.Series) -> pd.Series:
        import numpy as np

        from lumbermill_spark.functions.png_lite import encode_png
        out = []
        for i, val in zip(eid, v):
            size = 8 if int(i) % 2 == 0 else 16
            base = abs(int(val)) % 256
            r = np.arange(size).reshape(-1, 1)
            c = np.arange(size).reshape(1, -1)
            out.append(encode_png(
                ((base + 16 * r + c) % 256).astype(np.uint8)))
        return pd.Series(out)

    media = ev.select(
        F.col("event_id").cast("string").alias("media_id"),
        _img(F.col("event_id"),
             F.floor("value").cast("long")).alias("payload"))
    return multimodal.ahash(media, hash_size=8)


def _oracle_image_ahash() -> str:
    return r"""
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS media_id,
        abs(CAST(floor(value) AS BIGINT)) % 256 AS b,
        CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS s
      FROM events WHERE event_id < 200
    ), px AS (
      SELECT media_id, r.i AS r, c.i AS c,
        CAST((b + 16 * (r.i * s) + (c.i * s)) % 256 AS DOUBLE) AS v
      FROM base,
        unnest(generate_series(0, 7)) AS r(i),
        unnest(generate_series(0, 7)) AS c(i)
    ), m AS (
      SELECT media_id, avg(v) AS mean FROM px GROUP BY media_id
    ), bits AS (
      SELECT p.media_id, p.r * 8 + p.c AS idx,
        CASE WHEN p.v > m.mean THEN 1 ELSE 0 END AS bit
      FROM px p JOIN m USING (media_id)
    ), nib AS (
      SELECT media_id, idx // 4 AS j,
        sum(bit * (CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                   WHEN 2 THEN 2 ELSE 1 END)) AS nv
      FROM bits GROUP BY media_id, j
    ), agg AS (
      SELECT media_id,
        string_agg(printf('%x', CAST(nv AS INTEGER)), '' ORDER BY j)
          AS ahash
      FROM nib GROUP BY media_id
    ), cnt AS (
      SELECT media_id, CAST(sum(bit) AS INTEGER) AS n_on
      FROM bits GROUP BY media_id)
    SELECT a.media_id, a.ahash, c.n_on
    FROM agg a JOIN cnt c USING (media_id)
    """


def _q82_html_to_text(spark, sf):
    """Crawl HTML text extraction: deterministic messy markup built
    around each document's text (script+style blocks, attributes,
    self-closing tags, the core entity set), then html_to_text. The
    twin replays the identical RE2-safe strip/unescape chain."""
    docs = _t(spark, sf, "documents")
    html = F.format_string(
        '<html><head><script type="text/js">var x=1;</script>'
        '<style>.a{color:red}</style></head><body><h1>Title %d</h1>'
        '<p class="c">%s &amp; more &lt;tags&gt;</p>'
        '<br/>&nbsp;tail&#39;s</body></html>',
        F.pmod(F.col("doc_id"), F.lit(7)),
        F.substring(F.col("text"), 1, 40))
    df = docs.select("doc_id", html.alias("raw"))
    out = parsers.html_to_text(df, "raw", target_field="text")
    return out.select("doc_id", "text",
                      F.length("text").cast("bigint").alias("n_chars"))


def _oracle_html_to_text() -> str:
    return r"""
    WITH raw AS (
      SELECT doc_id,
        '<html><head><script type="text/js">var x=1;</script>'
        || '<style>.a{color:red}</style></head><body><h1>Title '
        || (doc_id % 7) || '</h1><p class="c">' || substr(text, 1, 40)
        || ' &amp; more &lt;tags&gt;</p><br/>&nbsp;tail&#39;s'
        || '</body></html>' AS h
      FROM documents
    ), stripped AS (
      SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(h, '(?is)<script\b[^>]*>.*?</script>',
                               ' ', 'g'),
                '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<[^>]*>', ' ', 'g'),
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          '\s+', ' ', 'g')) AS t
      FROM raw)
    SELECT doc_id, t AS text, CAST(length(t) AS BIGINT) AS n_chars
    FROM stripped
    """


def _q83_dissect(spark, sf):
    """Dissect-style delimiter tokenization of a fixed log format —
    the no-regex fast path for rigid formats, compiled to a
    substring_index chain. The twin derives every field from the base
    columns, independently checking the whole chain, plus dissect's
    drift semantics on corrupt rows (missing quote separator: the
    drifted field swallows the remainder, later fields are '')."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 2000)
    line = F.when(
        F.pmod(F.col("event_id"), F.lit(10)) == 9,
        # corrupt row: closing quote+status missing (format drift)
        F.format_string('10.0.%d.%d - u%d [01/Jan/2024] "GET /v%d',
                        F.pmod(F.col("user_id"), F.lit(200)),
                        F.pmod(F.col("event_id"), F.lit(250)) + 1,
                        F.col("user_id"),
                        F.pmod(F.col("event_id"), F.lit(3)))
    ).otherwise(
        F.format_string(
            '10.0.%d.%d - u%d [01/Jan/2024] "GET /v%d" %d t%d',
            F.pmod(F.col("user_id"), F.lit(200)),
            F.pmod(F.col("event_id"), F.lit(250)) + 1,
            F.col("user_id"),
            F.pmod(F.col("event_id"), F.lit(3)),
            F.lit(200) + F.pmod(F.col("event_id"), F.lit(4)),
            F.pmod(F.col("user_id"), F.lit(5))))
    df = ev.select("event_id", line.alias("data"))
    out = parsers.dissect(
        df, '%{ip} - %{user} [%{ts}] "%{req}" %{status} %{tail}',
        drop_source=True)
    return out.select("event_id", "ip", "user", "ts", "req",
                      "status", "tail")


def _oracle_dissect() -> str:
    return r"""
    SELECT event_id,
      '10.0.' || (user_id % 200) || '.' || (event_id % 250 + 1) AS ip,
      'u' || user_id AS "user",
      '01/Jan/2024' AS ts,
      CASE WHEN event_id % 10 = 9
           THEN 'GET /v' || (event_id % 3)
           ELSE 'GET /v' || (event_id % 3) END AS req,
      CASE WHEN event_id % 10 = 9 THEN ''
           ELSE CAST(200 + event_id % 4 AS VARCHAR) END AS status,
      CASE WHEN event_id % 10 = 9 THEN ''
           ELSE 't' || (user_id % 5) END AS tail
    FROM events WHERE event_id < 2000
    """


def _q84_heavy_hitters(spark, sf):
    """Top-3 users per (hourly window, event_type) by event count —
    the alerting heavy-hitters pattern: pre-aggregate counts (the
    window input is one row per key), then row_number over a
    deterministic total order (count desc, user_id asc)."""
    ev = _t(spark, sf, "events")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"),
        "event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    top = stats.top_k_per_group(agg, ["w", "event_type"], "n", 3,
                                tiebreak_fields=["user_id"])
    return top.select(
        F.date_format(F.col("w.start"),
                      "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "user_id", "n",
        F.col("rank").cast("bigint").alias("rank"))


def _oracle_heavy_hitters() -> str:
    return r"""
    WITH c AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS ws,
        event_type, user_id, count(*) AS n
      FROM events GROUP BY ws, event_type, user_id
    ), r AS (
      SELECT ws, event_type, user_id, n,
        row_number() OVER (PARTITION BY ws, event_type
                           ORDER BY n DESC, user_id) AS rank
      FROM c)
    SELECT strftime(make_timestamp(ws * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, user_id, n, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 3
    """


def _q85_zscore(spark, sf):
    """Per-event_type z-score outlier flags on value: one partial-
    aggregated mean/stddev pass broadcast back over the events. The
    flag compares the ROUNDED z so the decision replays identically
    in any engine."""
    ev = _t(spark, sf, "events")
    out = stats.zscore_flags(ev, "value", ["event_type"],
                             threshold=2.5)
    return out.select("event_id", "event_type",
                      F.round("value", 2).alias("value"),
                      "zscore", "is_outlier")


def _oracle_zscore() -> str:
    return r"""
    WITH g AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    ), z AS (
      SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
        CASE WHEN g.sd > 0
             THEN round((e.value - g.mu) / g.sd, 4) END AS zscore
      FROM events e JOIN g USING (event_type))
    SELECT event_id, event_type, value, zscore,
      coalesce(abs(zscore) > 2.5, FALSE) AS is_outlier
    FROM z
    """


def _q86_asof_enrich(spark, sf):
    """Point-in-time (as-of) enrichment: each event picks up the config
    version that was active at its event time — an SCD-2 deploy history
    synthesized deterministically from the corpus itself (4 versions per
    event_type at quartile marks of that type's time range). Union-marker
    window join (operators/lookup.asof_join): one shuffle, no
    fact×versions blow-up. Epoch-second integers on both sides so the
    timestamp arithmetic replays exactly in any engine."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type", F.unix_timestamp("ts").alias("es"))
    b = ev.groupBy("event_type").agg(
        F.min("es").alias("t0"), F.max("es").alias("t1"))
    vers = (
        b.select(
            "event_type", "t0",
            F.floor((F.col("t1") - F.col("t0")) / F.lit(4)).cast("long").alias("step"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"))
        .select(
            "event_type",
            (F.col("t0") + F.col("k") * F.col("step")).alias("valid_from"),
            F.concat(F.lit("v"), (F.col("k") + 1).cast("string")).alias("cfg"))
        # (key, valid_from) must be unique for as-of; on a degenerate
        # corpus (t0 == t1) all four marks collide -> keep the newest.
        .groupBy("event_type", "valid_from").agg(F.max("cfg").alias("cfg")))
    out = asof_join(ev, vers, on="event_type", ts="es", dim_ts="valid_from")
    return out.select("event_id", "event_type", "es", "cfg")


def _oracle_asof_enrich() -> str:
    return r"""
    WITH e AS (
      SELECT event_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), b AS (
      SELECT event_type, min(es) AS t0, max(es) AS t1
      FROM e GROUP BY event_type
    ), v0 AS (
      SELECT event_type,
        t0 + k * CAST(floor((t1 - t0) / 4.0) AS BIGINT) AS valid_from,
        'v' || CAST(k + 1 AS VARCHAR) AS cfg
      FROM b, unnest([0, 1, 2, 3]) AS u(k)
    ), v AS (
      SELECT event_type, valid_from, max(cfg) AS cfg
      FROM v0 GROUP BY 1, 2)
    SELECT e.event_id, e.event_type, e.es, v.cfg
    FROM e ASOF LEFT JOIN v
      ON e.event_type = v.event_type AND e.es >= v.valid_from
    """


def _q87_sessionize_gap(spark, sf):
    """Batch gap-based sessionization (30-min silence splits a user's
    session), then per-session aggregates. One window shuffle on the
    user key (operators/stateful.sessionize_gap) + one groupBy that
    reuses the same partitioning. Epoch seconds on both sides."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.unix_timestamp("ts").alias("es"))
    s = stateful.sessionize_gap(ev, key="user_id", ts="es", gap=1800)
    return (s.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("es").alias("start_es"),
                 F.max("es").alias("end_es")))


def _oracle_sessionize_gap() -> str:
    return r"""
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ), b AS (
      SELECT user_id, es,
        CASE WHEN lag(es) OVER w IS NULL
                  OR es - lag(es) OVER w > 1800 THEN 1 ELSE 0 END AS nb
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es)
    ), s AS (
      SELECT user_id, es,
        sum(nb) OVER (PARTITION BY user_id ORDER BY es
                      ROWS UNBOUNDED PRECEDING) - 1 AS sid
      FROM b)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
      count(*) AS n_events, min(es) AS start_es, max(es) AS end_es
    FROM s GROUP BY 1, 2
    """


def _q88_cohort_retention(spark, sf):
    """Weekly cohort retention matrix: cohort = a user's first 7-day
    period (integer day buckets from the epoch — no locale-dependent
    week truncation), n_users = distinct users active K periods later.
    Two partial-aggregated shuffles on the user key."""
    ev = _t(spark, sf, "events")
    return stats.cohort_retention(ev, user="user_id", ts="ts",
                                  period_days=7)


def _oracle_cohort_retention() -> str:
    return r"""
    WITH per AS (
      SELECT user_id AS u,
        CAST(floor(floor(epoch(ts) / 86400) / 7) AS BIGINT) AS p
      FROM events
    ), f AS (
      SELECT u, min(p) AS p0 FROM per GROUP BY u
    ), a AS (SELECT DISTINCT u, p FROM per)
    SELECT f.p0 AS cohort_period, a.p - f.p0 AS periods_since,
      count(DISTINCT a.u) AS n_users
    FROM a JOIN f ON a.u = f.u
    GROUP BY 1, 2
    """


def _q89_funnel(spark, sf):
    """Ordered view -> click -> purchase funnel: each step counts users
    whose earliest qualifying occurrence is at-or-after their previous
    step's frontier time. K min-aggregations joined on the user key,
    frames shrinking monotonically down the funnel."""
    ev = _t(spark, sf, "events")
    return stats.funnel_counts(ev, steps=["view", "click", "purchase"],
                               user="user_id", ts="ts")


def _oracle_funnel() -> str:
    return r"""
    WITH e AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        event_type AS et
      FROM events
    ), s1 AS (
      SELECT u, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY u
    ), s2 AS (
      SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
      WHERE et = 'click' AND t >= t1 GROUP BY e.u
    ), s3 AS (
      SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
      WHERE et = 'purchase' AND t >= t2 GROUP BY e.u)
    SELECT CAST(step AS BIGINT) AS step, step_name,
      CAST(n_users AS BIGINT) AS n_users
    FROM (VALUES
      (1, 'view', (SELECT count(*) FROM s1)),
      (2, 'click', (SELECT count(*) FROM s2)),
      (3, 'purchase', (SELECT count(*) FROM s3))
    ) AS v(step, step_name, n_users)
    """


def _q90_rollup(spark, sf):
    """Hierarchical subtotals in one pass: GROUP BY ROLLUP over
    (event_type, day) — Catalyst's Expand gives every subtotal level
    for one shuffle. Subtotal rows labeled 'ALL' via grouping() so real
    nulls stay distinguishable. Integer floor(value) sums so the
    aggregate replays bit-exactly in any engine."""
    ev = _t(spark, sf, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor("value").cast("long").alias("fv"))
    return stats.rollup_agg(
        ev, ["event_type", "day"],
        [F.count(F.lit(1)).alias("n"), F.sum("fv").alias("sum_fv")])


def _oracle_rollup() -> str:
    return r"""
    WITH e AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        CAST(floor(value) AS BIGINT) AS fv
      FROM events)
    SELECT
      CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
           ELSE event_type END AS event_type,
      CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE day END AS day,
      count(*) AS n, sum(fv) AS sum_fv
    FROM e GROUP BY ROLLUP(event_type, day)
    """


def _q91_pivot(spark, sf):
    """Wide crosstab day x event_type with EXPLICIT pivot values: one
    partial-aggregated shuffle, no distinct-values pre-job, and a batch
    -independent schema. Missing combos are 0."""
    ev = _t(spark, sf, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
    return stats.pivot_counts(
        ev, "day", "event_type",
        ["click", "error", "purchase", "signup", "view"])


def _oracle_pivot() -> str:
    return r"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
      count(*) FILTER (event_type = 'click') AS click,
      count(*) FILTER (event_type = 'error') AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup') AS signup,
      count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1
    """


def _q92_rolling_avg(spark, sf):
    """Trailing 7-row rolling mean per event_type (telemetry
    smoothing). The order is TOTAL (es, then event_id) so the row frame
    is tie-independent; integer floor(value) sums + one exact double
    division keep the float engine-identical. Scale note: event_type is
    a 5-value demo key — at corpus scale partition the window on a
    high-cardinality key (device, source host) or a (key, day) compound
    so no task owns a whole type's timeline."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.unix_timestamp("ts").alias("es"),
        F.floor("value").cast("long").alias("fv"))
    out = stats.rolling_agg(ev, key="event_type",
                            order_by=["es", "event_id"],
                            value_field="fv", n=7)
    return out.select("event_id", "event_type",
                      "roll_sum", "roll_n", "roll_avg")


def _oracle_rolling_avg() -> str:
    return r"""
    WITH e AS (
      SELECT event_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS es,
        CAST(floor(value) AS BIGINT) AS fv
      FROM events)
    SELECT event_id, event_type,
      sum(fv) OVER w AS roll_sum,
      count(*) OVER w AS roll_n,
      round(CAST(sum(fv) OVER w AS DOUBLE) / (count(*) OVER w), 4)
        AS roll_avg
    FROM e WINDOW w AS (PARTITION BY event_type ORDER BY es, event_id
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """


def _q93_tfidf(spark, sf):
    """Top-3 terms per document by smoothed tf-idf (curation keyword
    tagging): (doc,term) counts partial-aggregated from one scan, df
    aggregated over that counts frame, N broadcast; ranking on the
    ROUNDED score with a term tiebreak (training/textstats.py)."""
    docs = _t(spark, sf, "documents")
    return textstats.tf_idf_top_terms(docs, k=3)


def _oracle_tfidf() -> str:
    return r"""
    WITH t AS (
      SELECT doc_id, lower(w) AS term FROM (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) WHERE w <> ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
    ), dfq AS (
      SELECT term, count(*) AS dfreq FROM tf GROUP BY 1
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.dfreq,
        round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE)
                         / (dfq.dfreq + 1)), 4) AS score
      FROM tf JOIN dfq USING (term), n
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS rank FROM s)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
      CAST(dfreq AS BIGINT) AS dfreq, score,
      CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 3
    """


def _q94_inverted_index(spark, sf):
    """Search-index prep: term -> document frequency + first 10 sorted
    doc-id postings (comma-joined string so the row replays across
    engines). Explode -> distinct pairs -> one term-keyed groupBy."""
    from lumbermill_spark.training import tokenize

    docs = _t(spark, sf, "documents")
    return tokenize.inverted_index(docs, max_postings=10)


def _oracle_inverted_index() -> str:
    return r"""
    WITH t AS (
      SELECT DISTINCT lower(w) AS term, doc_id AS d FROM (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) WHERE w <> '')
    SELECT term, count(*) AS dfreq,
      array_to_string(list_slice(list_sort(list(d)), 1, 10), ',')
        AS postings
    FROM t GROUP BY term
    """


def _q95_json_profile(spark, sf):
    """Schema discovery over heterogeneous JSON: per-type payloads
    (purchase ships amount+currency, error ships code, the rest ship
    the raw props) profiled into key -> presence count + pct. The
    profiling is the operator (stats.json_key_profile); the payload
    synthesis is format_string mirrored by printf on the oracle side."""
    ev = _t(spark, sf, "events")
    j = ev.select(
        F.when(F.col("event_type") == "purchase",
               F.format_string('{"k": %d, "amount": %d, "currency": "usd"}',
                               F.col("user_id"),
                               F.floor("value").cast("long")))
         .when(F.col("event_type") == "error",
               F.format_string('{"k": %d, "code": 500}', F.col("user_id")))
         .otherwise(F.col("props")).alias("p"))
    return stats.json_key_profile(j, "p")


def _oracle_json_profile() -> str:
    return r"""
    WITH j AS (
      SELECT CASE event_type
        WHEN 'purchase' THEN printf('{"k": %d, "amount": %d, "currency": "usd"}',
                                    user_id, CAST(floor(value) AS BIGINT))
        WHEN 'error' THEN printf('{"k": %d, "code": 500}', user_id)
        ELSE props END AS p
      FROM events
    ), t AS (SELECT count(*) AS n FROM events),
    k AS (SELECT unnest(json_keys(p)) AS key FROM j)
    SELECT key, count(*) AS n_present,
      round(count(*) * 100.0 / (SELECT n FROM t), 2) AS pct
    FROM k GROUP BY key
    """


def _q96_ntile_buckets(spark, sf):
    """Equal-frequency decile bucketing per event_type on floor(value)
    (curriculum/difficulty binning), aggregated to one row per
    (type, decile). The ntile order is TOTAL (fv, event_id) so bucket
    edges are tie-independent."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.floor("value").cast("long").alias("fv"))
    b = stats.ntile_buckets(ev, key="event_type",
                            order_by=["fv", "event_id"], n=10)
    return (b.groupBy("event_type",
                      F.col("bucket").cast("int").alias("decile"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("fv").alias("min_fv"), F.max("fv").alias("max_fv")))


def _oracle_ntile_buckets() -> str:
    return r"""
    WITH e AS (
      SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS fv
      FROM events
    ), b AS (
      SELECT event_type, fv,
        ntile(10) OVER (PARTITION BY event_type
                        ORDER BY fv, event_id) AS decile
      FROM e)
    SELECT event_type, CAST(decile AS INTEGER) AS decile,
      count(*) AS n, min(fv) AS min_fv, max(fv) AS max_fv
    FROM b GROUP BY 1, 2
    """


def _q97_inter_arrival(spark, sf):
    """Per-type inter-arrival-time profile (stream burstiness / rate
    health): gap since the type's previous event, then count / mean /
    exact interpolated p50+p95. Order totalized with event_id so equal
    timestamps never make gaps run-dependent. Scale note: as with q92,
    key the window on the emitting host/source at corpus scale, then
    roll the per-host profiles up to the type level."""
    ev = _t(spark, sf, "events")
    return stats.inter_arrival_stats(ev, key="event_type", ts="ts",
                                     id_col="event_id")


def _oracle_inter_arrival() -> str:
    return r"""
    WITH e AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id
      FROM events
    ), g AS (
      SELECT event_type,
        es - lag(es) OVER (PARTITION BY event_type
                           ORDER BY es, event_id) AS gap
      FROM e)
    SELECT event_type, count(*) AS n_gaps,
      round(avg(gap), 2) AS avg_gap,
      round(quantile_cont(gap, 0.5), 2) AS p50_gap,
      round(quantile_cont(gap, 0.95), 2) AS p95_gap
    FROM g WHERE gap IS NOT NULL GROUP BY event_type
    """


def _q98_dedup_keep_best(spark, sf):
    """q34's near-dup keep-set with the keep policy real curation
    pipelines use: per duplicate cluster keep the LONGEST member
    (RefinedWeb), ties to the lowest doc_id — not the lowest id
    unconditionally. Same LSH pairs + connected components; one extra
    score join + one component window."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                    shingle_n=3, threshold=0.2)
    kept = dedup.dedup_keep_best(docs, pairs, order_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"))


def _oracle_dedup_keep_best() -> str:
    return f"""
    WITH RECURSIVE {_exact_pairs_cte(0.2)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT node, least(node, min(r)) AS component
             FROM reach GROUP BY node),
    ranked AS (
      SELECT m.node,
        row_number() OVER (PARTITION BY m.component
                           ORDER BY d.n_chars DESC, m.node) AS rn
      FROM comp m JOIN documents d ON d.doc_id = m.node),
    drops AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.source, count(*) AS n_kept,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d LEFT JOIN drops ON drops.node = d.doc_id
    WHERE drops.node IS NULL
    GROUP BY 1
    """


def _q99_active_users(spark, sf):
    """DAU + trailing-7-day WAU per observed day. Spark windows can't
    COUNT DISTINCT, so the plan is contribution-explode over the
    already-deduped (day,user) pair table — fixed 7x expansion, second
    distinct, count; linear in user-days (stats.active_users)."""
    ev = _t(spark, sf, "events")
    return stats.active_users(ev, user="user_id", ts="ts",
                              window_days=7)


def _oracle_active_users() -> str:
    return r"""
    WITH p AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        user_id AS u
      FROM events
    ), days AS (SELECT DISTINCT d FROM p),
    dau AS (SELECT d, count(*) AS dau FROM p GROUP BY d),
    contrib AS (
      SELECT DISTINCT p.d + k AS d, p.u
      FROM p, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(k)
    ), wau AS (
      SELECT c.d, count(*) AS wau
      FROM contrib c JOIN days USING (d) GROUP BY c.d)
    SELECT dau.d AS day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.d = wau.d
    """


def _q100_star_join(spark, sf):
    """TPC-H Q5-shaped star join (local-supplier volume, ASIA, 1996):
    the OLAP counterpart to the pipeline queries. lineitem joins orders
    on the fact keys (big-big: one shuffle pair, AQE-planned), the
    dimension chain customer->supplier->nation->region rides broadcast
    joins, and the date + region filters push into the scans so the
    fact side is pruned before the first shuffle. The same-nation
    predicate (customer's nation == supplier's nation) is the join
    condition that makes Q5 'local volume'."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    out = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
           .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
           .join(F.broadcast(s),
                 (F.col("l_suppkey") == s["s_suppkey"])
                 & (F.col("c_nationkey") == s["s_nationkey"]))
           .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
           .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"]))
    return (out.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def _oracle_star_join() -> str:
    return r"""
    SELECT n_name,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      count(*) AS n_items
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
                   AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """


def _q101_budget_trim(spark, sf):
    """Budget-constrained corpus selection: per source keep documents
    in md5-hash order until the next doc would push cumulative n_chars
    past 50k ('<=1B tokens per source, reproducibly' at corpus scale).
    One window shuffle; totals never exceed the budget
    (training/sampling.token_budget_trim)."""
    from lumbermill_spark.training import sampling

    docs = _t(spark, sf, "documents")
    kept = sampling.token_budget_trim(docs, budget=50_000,
                                      strata_col="source",
                                      tokens_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"))


def _oracle_budget_trim() -> str:
    return r"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':budget'),
                            1, 15) AS BIGINT) AS hv
      FROM documents
    ), c AS (
      SELECT source, n_chars,
        sum(n_chars) OVER (PARTITION BY source ORDER BY hv, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM h)
    SELECT source, count(*) AS n_kept,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM c WHERE cum <= 50000 GROUP BY source
    """


def _q102_unigram_drift(spark, sf):
    """Corpus drift: per-term smoothed KL contribution between the
    even- and odd-doc_id halves of the documents table — the
    distribution-shift monitor a curation pipeline runs between crawl
    batches. One scan, conditional sums in one term aggregation
    (textstats.unigram_drift)."""
    docs = _t(spark, sf, "documents")
    return textstats.unigram_drift(
        docs, split=F.pmod(F.col("doc_id"), F.lit(2)), top_k=10)


def _oracle_unigram_drift() -> str:
    return r"""
    WITH t AS (
      SELECT doc_id % 2 AS s, lower(w) AS term FROM (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) WHERE w <> ''
    ), c AS (
      SELECT term,
        count(*) FILTER (s = 0) AS n_a,
        count(*) FILTER (s = 1) AS n_b
      FROM t GROUP BY term
    ), tot AS (
      SELECT sum(n_a) AS na, sum(n_b) AS nb, count(*) AS v FROM c
    ), sc AS (
      SELECT term, n_a, n_b,
        round(((n_a + 1.0) / (na + v))
              * ln(((n_a + 1.0) / (na + v))
                   / ((n_b + 1.0) / (nb + v))), 6) AS kl_term
      FROM c, tot
    ), r AS (
      SELECT *, row_number() OVER (ORDER BY kl_term DESC, term) AS rank
      FROM sc)
    SELECT term, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      kl_term, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 10
    """


def _q103_pmi_pairs(spark, sf):
    """Document-level PMI co-occurrence over the documents table:
    pairs generated only within the top-30 vocab (pure JVM indexed
    array transform per doc — no self-join, bounded V^2), doc
    frequencies and pair counts off one corpus scan
    (textstats.pmi_pairs)."""
    docs = _t(spark, sf, "documents")
    return textstats.pmi_pairs(docs, vocab_size=30, min_pair_docs=5,
                               top_k=15)


def _oracle_pmi_pairs() -> str:
    return r"""
    WITH dt AS (
      SELECT DISTINCT doc_id AS d, lower(w) AS term FROM (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) WHERE w <> ''
    ), dfreq AS (
      SELECT term, count(*) AS df FROM dt GROUP BY term
    ), vocab AS (
      SELECT term, df FROM (
        SELECT term, df,
          row_number() OVER (ORDER BY df DESC, term) AS r
        FROM dfreq) WHERE r <= 30
    ), n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    iv AS (SELECT dt.d, dt.term FROM dt JOIN vocab USING (term)),
    pairs AS (
      SELECT x.term AS a, y.term AS b, count(*) AS n_pair
      FROM iv x JOIN iv y ON x.d = y.d AND x.term < y.term
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), sc AS (
      SELECT p.a, p.b, p.n_pair,
        round(ln(CAST(p.n_pair * n.n AS DOUBLE) / (va.df * vb.df)), 4)
          AS pmi
      FROM pairs p
        JOIN vocab va ON va.term = p.a
        JOIN vocab vb ON vb.term = p.b, n
    ), r AS (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, a, b) AS rank
      FROM sc)
    SELECT a AS term_a, b AS term_b, CAST(n_pair AS BIGINT) AS n_pair,
      pmi, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 15
    """


def _q104_upsert_latest(spark, sf):
    """SCD-1 merge compaction: base = even events, incoming batch =
    odd events re-keyed onto even ids with bumped value (so half the
    keys get updated, half of the batch inserts new keys). Keep the
    highest event-time row per key — one union + one max_by, no join,
    no window sort (stateful.upsert_latest). Output: per-type counts +
    how many rows came from the update batch."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type", F.unix_timestamp("ts").alias("es"),
        F.floor("value").cast("long").alias("fv"))
    base = ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    # batch: ids ==1 (mod 4) update their even sibling; ids ==3 (mod 4)
    # insert brand-new keys above the id space
    updates = (ev.where(F.pmod(F.col("event_id"), F.lit(2)) == 1)
               .select(F.when(F.pmod(F.col("event_id"), F.lit(4)) == 1,
                              F.col("event_id") - 1)
                        .otherwise(F.col("event_id") + 1000000)
                        .alias("event_id"),
                       "event_type",
                       (F.col("es") + 1).alias("es"),
                       (F.col("fv") + 1000).alias("fv")))
    merged = stateful.upsert_latest(base, updates, key="event_id",
                                    version="es")
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("fv") >= 1000, 1).otherwise(0))
         .cast("bigint").alias("n_updated"),
        F.sum("fv").alias("sum_fv"))


def _oracle_upsert_latest() -> str:
    return r"""
    WITH ev AS (
      SELECT event_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS es,
        CAST(floor(value) AS BIGINT) AS fv
      FROM events
    ), base AS (
      SELECT event_id, event_type, es, fv, 0 AS upd
      FROM ev WHERE event_id % 2 = 0
    ), upd AS (
      SELECT CASE WHEN event_id % 4 = 1 THEN event_id - 1
                  ELSE event_id + 1000000 END AS event_id,
        event_type, es + 1 AS es, fv + 1000 AS fv, 1 AS upd
      FROM ev WHERE event_id % 2 = 1
    ), allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    won AS (
      -- (es, upd) ordering as one scalar: update wins at equal es
      SELECT event_id,
        arg_max(event_type, es * 2 + upd) AS event_type,
        arg_max(es, es * 2 + upd) AS es,
        arg_max(fv, es * 2 + upd) AS fv
      FROM allr GROUP BY event_id)
    SELECT event_type, count(*) AS n_rows,
      CAST(sum(CASE WHEN fv >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_updated,
      sum(fv) AS sum_fv
    FROM won GROUP BY event_type
    """


def _q105_snapshot_diff(spark, sf):
    """CDC snapshot diff: 'new' is the events table after a simulated
    backfill (every 5th row's value bumped, every 7th row dropped, 500
    synthetic rows appended). One full outer join on the key, null-safe
    struct comparison (stateful.snapshot_diff). Output: status counts +
    value sums per status."""
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.floor("value").cast("long").alias("fv"))
    old = ev
    new = (ev.where(F.pmod(F.col("event_id"), F.lit(7)) != 0)
           .select("event_id", "event_type",
                   F.when(F.pmod(F.col("event_id"), F.lit(5)) == 0,
                          F.col("fv") + 1).otherwise(F.col("fv"))
                    .alias("fv"))
           .unionByName(
               _t(spark, sf, "events").select(
                   (F.col("event_id") + 1000000).alias("event_id"),
                   "event_type",
                   F.floor("value").cast("long").alias("fv"))
               .where(F.pmod(F.col("event_id"), F.lit(20)) == 1)))
    d = stateful.snapshot_diff(old, new, key="event_id")
    return d.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_new")["fv"]).alias("sum_new_fv"))


def _oracle_snapshot_diff() -> str:
    return r"""
    WITH ev AS (
      SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS fv
      FROM events
    ), new AS (
      SELECT event_id, event_type,
        CASE WHEN event_id % 5 = 0 THEN fv + 1 ELSE fv END AS fv
      FROM ev WHERE event_id % 7 <> 0
      UNION ALL
      SELECT event_id + 1000000, event_type, fv
      FROM ev WHERE (event_id + 1000000) % 20 = 1
    ), j AS (
      SELECT coalesce(o.event_id, n.event_id) AS event_id,
        o.event_id IS NULL AS is_added,
        n.event_id IS NULL AS is_removed,
        o.event_type AS ot, o.fv AS ofv,
        n.event_type AS nt, n.fv AS nfv
      FROM ev o FULL OUTER JOIN new n ON o.event_id = n.event_id
    ), st AS (
      SELECT CASE WHEN is_added THEN 'added'
                  WHEN is_removed THEN 'removed'
                  WHEN ot IS NOT DISTINCT FROM nt
                   AND ofv IS NOT DISTINCT FROM nfv THEN 'unchanged'
                  ELSE 'changed' END AS status,
        nfv
      FROM j)
    SELECT status, count(*) AS n, sum(nfv) AS sum_new_fv
    FROM st GROUP BY status
    """


def _q106_fuzzy_prefix(spark, sf):
    """Edit-distance near-dup candidates over 20-char document
    prefixes (levenshtein <= 2): length-band multi-probe blocking with
    guaranteed length recall, capped degenerate bands, JVM-side
    levenshtein verify (dedup.fuzzy_prefix_pairs). Output: per-distance
    pair counts (pairs themselves are order-insensitive but large)."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.fuzzy_prefix_pairs(docs, prefix_len=20, max_dist=2)
    return pairs.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"))


def _oracle_fuzzy_prefix() -> str:
    return r"""
    WITH p AS (
      SELECT doc_id AS id, substr(text, 1, 20) AS p,
        CAST(floor(length(substr(text, 1, 20)) / 3.0) AS BIGINT) AS band
      FROM documents
      WHERE text IS NOT NULL AND substr(text, 1, 20) <> ''
    ), sized AS (
      SELECT *, count(*) OVER (PARTITION BY band) AS bn FROM p
    ), capped AS (SELECT id, p, band FROM sized WHERE bn <= 1000),
    probe AS (
      SELECT id, p, band + k AS band
      FROM capped, unnest([-1, 0, 1]) AS t(k)
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        levenshtein(a.p, b.p) AS dist
      FROM probe a JOIN capped b ON a.band = b.band AND a.id < b.id)
    SELECT CAST(dist AS INTEGER) AS dist, count(*) AS n_pairs,
      sum(id_a + id_b) AS id_sum
    FROM cand WHERE dist <= 2 GROUP BY dist
    """


def _q107_session_paths(spark, sf):
    """Top-10 session journey paths: 30-min gap sessions, each
    session's first 5 steps in (es, event_id) total order joined as
    'a>b>c'. Sessionize window + one per-session collect + one
    path-keyed count (stateful.session_paths)."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").alias("es"))
    return stateful.session_paths(ev, key="user_id", ts="es",
                                  gap=1800, max_steps=5, top_k=10,
                                  order_cols=["event_id"])


def _oracle_session_paths() -> str:
    return r"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), b AS (
      SELECT *, CASE WHEN lag(es) OVER w IS NULL
                     OR es - lag(es) OVER w > 1800 THEN 1 ELSE 0 END AS nb
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), s AS (
      SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY es, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS sid
      FROM b
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                   ORDER BY es, event_id) AS rn
      FROM s
    ), paths AS (
      SELECT string_agg(event_type, '>' ORDER BY es, event_id) AS path
      FROM r WHERE rn <= 5 GROUP BY user_id, sid
    ), counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path)
        AS rank
      FROM counted)
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
      CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 10
    """


def _q108_association_rules(spark, sf):
    """Session market-basket: which event types co-occur in the same
    30-min user session (support / directional confidence / lift).
    Transactions = (user, session) from the q87 sessionizer; pair
    generation is the PMI-style bounded array transform
    (stats.association_rules)."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("es"))
    s = stateful.sessionize_gap(ev, key="user_id", ts="es", gap=1800)
    txn = s.select(
        F.concat_ws("#", F.col("user_id").cast("string"),
                    F.col("session_id").cast("string")).alias("txn_id"),
        F.col("event_type").alias("item"))
    return stats.association_rules(txn, min_pair_count=5)


def _oracle_association_rules() -> str:
    return r"""
    WITH e AS (
      SELECT user_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), b AS (
      SELECT *, CASE WHEN lag(es) OVER w IS NULL
                     OR es - lag(es) OVER w > 1800 THEN 1 ELSE 0 END AS nb
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es)
    ), s AS (
      SELECT user_id, event_type,
        sum(nb) OVER (PARTITION BY user_id ORDER BY es
                      ROWS UNBOUNDED PRECEDING) - 1 AS sid
      FROM b
    ), ti AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) || '#'
        || CAST(sid AS VARCHAR) AS t, event_type AS i
      FROM s
    ), n_txn AS (SELECT count(DISTINCT t) AS n FROM ti),
    ic AS (SELECT i, count(*) AS ni FROM ti GROUP BY i),
    pairs AS (
      SELECT x.i AS a, y.i AS b, count(*) AS n_pair
      FROM ti x JOIN ti y ON x.t = y.t AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 5)
    SELECT p.a AS item_a, p.b AS item_b,
      CAST(p.n_pair AS BIGINT) AS n_pair,
      round(CAST(p.n_pair AS DOUBLE) / n.n, 4) AS support,
      round(CAST(p.n_pair AS DOUBLE) / ca.ni, 4) AS conf_ab,
      round(CAST(p.n_pair AS DOUBLE) / cb.ni, 4) AS conf_ba,
      round(CAST(p.n_pair AS DOUBLE) * n.n / (ca.ni * cb.ni), 4) AS lift
    FROM pairs p
      JOIN ic ca ON ca.i = p.a
      JOIN ic cb ON cb.i = p.b, n_txn n
    """


def _q109_mad_outliers(spark, sf):
    """Robust (median/MAD) outlier flags per event_type — the
    heavy-tail companion to q85's z-score: modified z =
    0.6745*(x-median)/MAD, flag at |mz| > 3.5 (stats.mad_flags). The
    flag compares the ROUNDED mz so the decision replays identically
    in any engine."""
    ev = _t(spark, sf, "events")
    out = stats.mad_flags(ev, "value", ["event_type"], threshold=3.5)
    return out.select("event_id", "event_type",
                      F.round("value", 2).alias("value"),
                      "mzscore", "is_outlier")


def _oracle_mad_outliers() -> str:
    return r"""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
        abs(e.value - m.med) AS adev
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM d GROUP BY event_type
    ), z AS (
      SELECT d.event_id, d.event_type, round(d.value, 2) AS value,
        -- floor(x*1e4 + 0.5)/1e4, NOT round(): plain IEEE ops replay
        -- bit-exactly across engines, engine round() half-way
        -- conventions do not; |x| > 9e14 passes through unrounded
        -- (int64 floor overflow guard) — matches stats.mad_flags
        CASE WHEN md.mad > 0 THEN
          CASE WHEN abs(0.6745 * (d.value - d.med) / md.mad) <= 9e14
               THEN floor(0.6745 * (d.value - d.med) / md.mad
                          * 10000.0 + 0.5) / 10000.0
               ELSE 0.6745 * (d.value - d.med) / md.mad END
        END AS mzscore
      FROM d JOIN md USING (event_type))
    SELECT event_id, event_type, value, mzscore,
      coalesce(abs(mzscore) > 3.5, FALSE) AS is_outlier
    FROM z
    """


def _q110_hash_split(spark, sf):
    """Deterministic train/val/test split (sampling.hash_split): each
    doc lands in the split whose cumulative-weight interval contains
    md5_hash60(id:salt)/2^60 — reproducible across retries, resumes
    and cluster sizes (randomSplit is partitioning-dependent; this
    never is). Zero shuffle on the assignment; the aggregate below is
    the verification surface."""
    from lumbermill_spark.training import sampling

    docs = _t(spark, sf, "documents")
    out = sampling.hash_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"))


def _oracle_hash_split() -> str:
    return r"""
    WITH h AS (
      SELECT source, n_chars,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                            1, 15) AS BIGINT) AS hv
      FROM documents
    ), s AS (
      SELECT source, n_chars,
        CASE WHEN hv < 0.9 * 1152921504606846976.0 THEN 'train'
             WHEN hv < 0.95 * 1152921504606846976.0 THEN 'val'
             ELSE 'test' END AS split
      FROM h)
    SELECT split, source, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split, source
    """


def _q111_blocklist_filter(spark, sf):
    """RefinedWeb-style domain-blocklist filter: rows whose host's
    REGISTRABLE domain (multi-label public suffixes honored, so
    m3.click.co.uk matches a click.co.uk entry) appears in the
    blocklist are dropped via ONE broadcast anti equi-join — never a
    per-entry LIKE scan (at a 100k-entry blocklist that is the
    difference between a broadcast hash join and a nested loop)."""
    from lumbermill_spark.operators.enrichers import blocklist_filter

    ev = _t(spark, sf, "events")
    host = F.concat(
        F.lit("m"), F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
        F.lit("."), F.col("event_type"),
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0,
               F.lit(".co.uk")).otherwise(F.lit(".org")),
    )
    bl = spark.createDataFrame([("click.co.uk",), ("ERROR.org",)],
                               "domain string")
    out = blocklist_filter(ev.select(host.alias("host")), bl, "host")
    return out.groupBy("host").agg(F.count(F.lit(1)).alias("n_rows"))


def _oracle_blocklist_filter() -> str:
    from lumbermill_spark.operators.enrichers import MULTI_SUFFIXES

    multi = ", ".join(f"'{s}'" for s in MULTI_SUFFIXES)
    return f"""
    WITH h AS (
      SELECT 'm' || CAST(user_id % 5 AS VARCHAR) || '.' || event_type ||
        CASE WHEN event_id % 2 = 0 THEN '.co.uk' ELSE '.org' END AS host
      FROM events
    ), r AS (
      -- lower(trim()) mirrors split_domain's host normalization
      -- exactly (latent on this data — the generated hosts are clean
      -- lowercase — but the twin should not depend on that)
      SELECT host, string_split(lower(trim(host)), '.') AS l FROM h
    ), g AS (
      SELECT host,
        CASE WHEN l[len(l)-1] || '.' || l[len(l)] IN ({multi})
             THEN l[len(l)-2] || '.' || l[len(l)-1] || '.' || l[len(l)]
             ELSE l[len(l)-1] || '.' || l[len(l)] END AS reg
      FROM r)
    SELECT host, count(*) AS n_rows FROM g
    WHERE reg NOT IN ('click.co.uk', 'error.org')
    GROUP BY host
    """


def _q112_token_contamination(spark, sf):
    """TOKEN-level benchmark decontamination over the pre-tokenized
    sequence table (the graft's native payload — no detokenize
    round-trip): per train sequence, distinct token-8-grams shared with
    the eval inventory (every 97th sequence), aggregated per source.
    Gram keys are xxhash64 over each token slice (the operator's
    hashed=True default — 8-byte keys, no per-gram strings); the eval
    inventory distinct is broadcast by AQE at runtime. The twin counts
    the same grams as ascii-code strings of character 8-grams of the
    same log lines (byte tokenization makes the gram SETS identical by
    construction; the count parity additionally assumes zero xxhash64
    collisions within a document's + the eval inventory's grams —
    ~1e5 grams vs 2^64, collision odds < 1e-9, same contract as every
    hash-keyed operator here)."""
    from lumbermill_spark.training import tokenize

    tok = _events_token_table(spark, sf)
    eid = F.substring("doc_id", 5, 12).cast("long")
    eval_df = tok.filter(F.pmod(eid, F.lit(97)) == 0)
    out = tokenize.token_contamination(tok, eval_df, n=8)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_grams").cast("long").alias("sum_grams"),
        F.sum("n_contaminated").cast("long").alias("sum_contaminated"),
        F.sum(F.when(F.col("n_contaminated") > 0, 1).otherwise(0))
        .cast("long").alias("n_contaminated_seqs"))


def _oracle_token_contamination() -> str:
    return rf"""
    WITH tok AS (
      SELECT event_id, event_type AS source, {_SQL_TOK_LINE} AS line
      FROM events
    ), tg AS (
      SELECT t.event_id, t.source,
        array_to_string(list_transform(generate_series(i.i, i.i + 7),
                                       j -> ascii(substr(t.line, j, 1))),
                        ',') AS g
      FROM tok t,
        unnest(generate_series(1, greatest(length(t.line) - 7, 0))) AS i(i)
    ), tgd AS (
      SELECT DISTINCT event_id, source, g FROM tg
    ), eg AS (
      SELECT DISTINCT g FROM tg WHERE event_id % 97 = 0
    ), per AS (
      SELECT d.event_id, d.source, count(*) AS n_grams,
        count(e.g) AS n_hit
      FROM tgd d LEFT JOIN eg e USING (g)
      GROUP BY d.event_id, d.source)
    SELECT source, count(*) AS n_seqs,
      CAST(sum(n_grams) AS BIGINT) AS sum_grams,
      CAST(sum(n_hit) AS BIGINT) AS sum_contaminated,
      CAST(count(*) FILTER (WHERE n_hit > 0) AS BIGINT)
        AS n_contaminated_seqs
    FROM per GROUP BY source
    """


def _q113_epoch_shuffle(spark, sf):
    """Epoch-stable deterministic shuffle order (sampling.
    epoch_shuffle_key): the first 20 documents of epoch 1's permutation
    plus each one's epoch-2 key — identical across retries/resumes/
    cluster sizes, independent across epochs. The top-k is a
    TakeOrderedAndProject (no global sort/rank); at scale the order is
    materialized with repartitionByRange + sortWithinPartitions."""
    from lumbermill_spark.training import sampling

    docs = _t(spark, sf, "documents")
    k1 = sampling.epoch_shuffle_key(docs, epoch=1, key_col="k1")
    k2 = sampling.epoch_shuffle_key(k1, epoch=2, key_col="k2")
    return (k2.orderBy("k1", "doc_id").limit(20)
            .select("doc_id", "source", "k1", "k2"))


def _oracle_epoch_shuffle() -> str:
    return r"""
    SELECT doc_id, source,
      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1:shuffle'),
                          1, 15) AS BIGINT) AS k1,
      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2:shuffle'),
                          1, 15) AS BIGINT) AS k2
    FROM documents
    ORDER BY k1, doc_id LIMIT 20
    """


def _q114_audio_features(spark, sf):
    """Multimodal AUDIO decode as a first-class oracle-checked op (the
    audio leg beside q55 image / q62 video): PCM16 WAVs synthesized
    in-query from events columns (bundled pure-stdlib codec,
    functions/wav_lite), decoded by multimodal.decode_audio. Every
    feature is exact-integer or deterministic-IEEE (rms =
    sqrt(exact_int_sum_sq / n)), so the DuckDB twin re-derives them
    structurally from the same sample formula (q41/q50/q55 recipe —
    WAV itself is not SQL-expressible, the field values still
    hash-check)."""
    from lumbermill_spark.training import multimodal

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 300)

    @F.pandas_udf("binary")
    def _wav(eid: pd.Series) -> pd.Series:
        import numpy as np

        from lumbermill_spark.functions.wav_lite import encode_wav
        out = []
        for e in eid:
            e = int(e)
            n = 64 + (e % 5) * 16
            i = np.arange(n, dtype=np.int64)
            s = ((e * 7919 + i * 2531) % 20001 - 10000).astype(np.int16)
            out.append(encode_wav(s, 8000))
        return pd.Series(out)

    media = ev.select(
        F.col("event_id").cast("string").alias("media_id"),
        _wav(F.col("event_id")).alias("payload"))
    feats = multimodal.decode_audio(media)
    return feats.select("media_id", "sample_rate", "n_samples",
                        "duration_ms", "rms", "peak", "zero_cross")


def _oracle_audio_features() -> str:
    # s(e, i) = ((e*7919 + i*2531) % 20001) - 10000 — all operands
    # nonnegative, so Python %, numpy %, and DuckDB % agree
    return r"""
    WITH e AS (
      SELECT event_id AS eid, 64 + (event_id % 5) * 16 AS n
      FROM events WHERE event_id < 300
    ), s AS (
      SELECT eid, n, i.i AS i,
        ((eid * 7919 + i.i * 2531) % 20001) - 10000 AS v
      FROM e, unnest(generate_series(0, n - 1)) AS i(i)
    ), s2 AS (
      SELECT eid, n, i, v,
        lag(v) OVER (PARTITION BY eid ORDER BY i) AS pv
      FROM s)
    SELECT CAST(eid AS VARCHAR) AS media_id,
      CAST(8000 AS INTEGER) AS sample_rate,
      CAST(any_value(n) AS BIGINT) AS n_samples,
      CAST(any_value(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
      sqrt(CAST(sum(v * v) AS BIGINT) * 1.0 / any_value(n)) AS rms,
      CAST(max(abs(v)) AS INTEGER) AS peak,
      CAST(count(*) FILTER (WHERE pv IS NOT NULL AND v * pv < 0)
           AS BIGINT) AS zero_cross
    FROM s2 GROUP BY eid
    """


def _q115_token_fertility(spark, sf):
    """Tokenizer fertility per source over the graft's native
    pre-tokenized table (tokenize.fertility): tokens per whitespace
    word and per character of the decoded text — the tokenizer-health
    metric that flags sources the tokenizer fragments. One Arrow
    buffer-reinterpret decode pass + a JVM split projection + one
    map-side-combined integer-sum groupBy; ratios are IEEE divisions
    of int64 sums, floor-rounded (replayable in both engines)."""
    from lumbermill_spark.training import tokenize

    tok = _events_token_table(spark, sf)
    return tokenize.fertility(tok, "tokens", "source")


def _oracle_token_fertility() -> str:
    return rf"""
    WITH tok AS (
      SELECT event_type AS source, {_SQL_TOK_LINE} AS line FROM events
    ), per AS (
      SELECT source, length(line) AS t,
        len(string_split_regex(trim(line), '\s+')) AS w
      FROM tok
    ), s AS (
      SELECT source, count(*) AS n_seqs,
        CAST(sum(t) AS BIGINT) AS sum_tok,
        CAST(sum(w) AS BIGINT) AS sum_words
      FROM per GROUP BY source)
    SELECT source, n_seqs, sum_tok, sum_words,
      floor(sum_tok * 1.0 / sum_words * 1e6 + 0.5) / 1e6
        AS tokens_per_word,
      floor(sum_tok * 1.0 / sum_tok * 1e6 + 0.5) / 1e6
        AS tokens_per_char
    FROM s
    """


def _q116_dup_clusters(spark, sf):
    """Exact-duplicate cluster-size histogram (dedup.
    cluster_size_histogram) over the decoded token lines — the
    corpus-health table a dedup run reports first. The event-line
    corpus has a REAL cluster distribution (singleton lines, ip-cycle
    pair collisions, and one corrupt-frame megacluster), so every
    digit bucket is exercised. Bucket key = decimal digit count of the
    cluster size: integer/string ops only, engine-exact (unlike
    floor(log2(n)) whose IEEE log can land powers on either side).
    Plan: decode (one Arrow pass) → content-hash count shuffle →
    groupBy over one row per CLUSTER."""
    from lumbermill_spark.functions.tokens import decode_tokens_arrow
    from lumbermill_spark.training import dedup

    tok = _events_token_table(spark, sf)
    lines = decode_tokens_arrow(tok.select("tokens"), "tokens",
                                out_col="line", drop_tokens=True)
    return dedup.cluster_size_histogram(lines, "line")


def _oracle_dup_clusters() -> str:
    return rf"""
    WITH l AS (
      SELECT lower(trim({_SQL_TOK_LINE})) AS k FROM events
    ), c AS (
      SELECT k, count(*) AS s FROM l GROUP BY k
    )
    SELECT length(CAST(s AS VARCHAR)) AS size_digits,
      count(*) AS n_clusters,
      CAST(sum(s) AS BIGINT) AS n_docs,
      CAST(sum(s - 1) AS BIGINT) AS n_redundant,
      CAST(min(s) AS BIGINT) AS min_size,
      CAST(max(s) AS BIGINT) AS max_size
    FROM c GROUP BY size_digits
    """


def _q117_stratified_cap(spark, sf):
    """Exact deterministic per-stratum cap (sampling.stratified_cap):
    the ≤10 docs per source with the smallest md5_hash60(id:salt) —
    the "exactly K per source" eval-set contract, reproducible across
    reruns/resumes/cluster sizes. The scale path prefilters to
    ~8·cap/n_s of each stratum before the rank window (per-stratum
    counts broadcast), with a detected-shortfall fallback keeping the
    result EXACT; the verification aggregate below checks kept-set
    MEMBERSHIP (sum of ids), not just counts."""
    from lumbermill_spark.training import sampling

    docs = _t(spark, sf, "documents")
    kept = sampling.stratified_cap(docs, "source", cap=10)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"))


def _oracle_stratified_cap() -> str:
    return r"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'),
                            1, 15) AS BIGINT) AS u
      FROM documents
    ), r AS (
      SELECT source, doc_id, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
      FROM h)
    SELECT source, count(*) AS n_kept,
      CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM r WHERE rn <= 10 GROUP BY source
    """


def _q118_filter_cascade(spark, sf):
    """Curation-gate survival report (textstats.filter_cascade): how
    many documents each filter stage drops, computed in ONE corpus
    pass (per-row first-failing-stage index + a tiny groupBy) instead
    of K filtered counts — at 100 TB that is one job, not K. Stages:
    length floor/ceiling, repetition (distinct-word ratio), then
    keep-English — each gate actually bites on this corpus."""
    from lumbermill_spark.training import textstats

    docs = _t(spark, sf, "documents")
    w = F.split(F.trim("text"), r"\s+")
    uniq_ratio = (F.size(F.array_distinct(w)).cast("double") /
                  F.size(w).cast("double"))
    stages = [
        ("min_chars", F.col("n_chars") >= 200),
        ("max_chars", F.col("n_chars") <= 450),
        ("uniq_ratio", uniq_ratio >= 0.30),
        ("lang_en", F.col("lang") == "en"),
    ]
    return textstats.filter_cascade(docs, stages)


def _oracle_filter_cascade() -> str:
    return r"""
    WITH f AS (
      SELECT CASE
        WHEN NOT coalesce(n_chars >= 200, false) THEN 0
        WHEN NOT coalesce(n_chars <= 450, false) THEN 1
        WHEN NOT coalesce(
          len(list_distinct(string_split_regex(trim(text), '\s+'))) * 1.0 /
          len(string_split_regex(trim(text), '\s+')) >= 0.30, false) THEN 2
        WHEN NOT coalesce(lang = 'en', false) THEN 3
        ELSE 4 END AS ff
      FROM documents
    ), g AS (
      SELECT * FROM (VALUES (0, 'min_chars'), (1, 'max_chars'),
                            (2, 'uniq_ratio'), (3, 'lang_en'))
        t(stage_idx, stage)
    ), j AS (
      SELECT g.stage_idx, g.stage,
        count(*) FILTER (WHERE f.ff >= g.stage_idx) AS n_in,
        count(*) FILTER (WHERE f.ff > g.stage_idx) AS n_out
      FROM g CROSS JOIN f GROUP BY g.stage_idx, g.stage)
    SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
      CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
      floor((n_in - n_out) * 1.0 /
            (CASE WHEN n_in > 0 THEN n_in ELSE 1 END) * 1e6 + 0.5) / 1e6
        AS drop_rate
    FROM j
    """


def _q119_zipf_slope(spark, sf):
    """Zipf rank–frequency slope per language (textstats.zipf_stats):
    least-squares fit of ln(freq) on ln(rank) over the ranked
    vocabulary head — the corpus-health diagnostic (natural text ≈ −1;
    templated corpora flatten). The slope uses explicit sum-form least
    squares so BOTH engines evaluate the same IEEE expression tree
    (regr_slope internals may accumulate differently), floor-rounded
    to 4 decimals."""
    from lumbermill_spark.training import textstats

    docs = _t(spark, sf, "documents")
    return textstats.zipf_stats(docs, by="lang", min_count=2, top_k=200)


def _oracle_zipf_slope() -> str:
    return r"""
    WITH w AS (
      SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ), f AS (
      SELECT lang, w, count(*) AS c FROM w GROUP BY lang, w
      HAVING count(*) >= 2
    ), r AS (
      SELECT lang,
        ln(CAST(row_number() OVER
             (PARTITION BY lang ORDER BY c DESC, w ASC) AS DOUBLE)) AS x,
        ln(CAST(c AS DOUBLE)) AS y,
        row_number() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) AS rn
      FROM f QUALIFY rn <= 200)
    SELECT lang, count(*) AS n_ranked,
      floor((count(*) * sum(x * y) - sum(x) * sum(y)) /
            (count(*) * sum(x * x) - sum(x) * sum(x)) * 1e4 + 0.5) / 1e4
        AS slope
    FROM r GROUP BY lang
    """


def _q120_seq_len_profile(spark, sf):
    """Sequence-length histogram + pad-waste profile over the token
    table (packing.sequence_length_profile): the planning table read
    BEFORE choosing a packing strategy — pad_waste is the token count
    naive pad-to-context batching would burn, which q58/q61 packing
    drives to ~zero. Pure per-row integer projection + one
    map-side-combined groupBy; bucket math is integer-exact in any
    engine."""
    from lumbermill_spark.training import packing

    tok = _events_token_table(spark, sf)
    return packing.sequence_length_profile(
        tok, "n_tok", "source", bucket_width=16, context_len=128)


def _oracle_seq_len_profile() -> str:
    return rf"""
    WITH tok AS (
      SELECT event_type AS source, length({_SQL_TOK_LINE}) AS n
      FROM events
    )
    SELECT source, CAST(n // 16 * 16 AS BIGINT) AS len_bucket,
      count(*) AS n_seqs,
      CAST(sum(n) AS BIGINT) AS sum_tok,
      CAST(sum((n + 127) // 128 * 128 - n) AS BIGINT) AS pad_waste
    FROM tok GROUP BY source, len_bucket
    """


def _q121_vocab_coverage(spark, sf):
    """Head-of-vocabulary token-mass coverage per source over the
    native pre-tokenized table (tokenize.vocab_coverage): the fraction
    of each source's token MASS landing in the corpus-global top-20
    token ids — the distribution-shape diagnostic beside fertility
    (q115). Plan: explode → map-side-combined groupBy(source, id)
    (shuffled rows bounded by sources x vocab, not token count) →
    vocab-bounded top-k rank → broadcast semi-join back; the coverage
    ratio divides two int64 sums (exact) and floor-rounds."""
    from lumbermill_spark.training import tokenize

    tok = _events_token_table(spark, sf)
    return tokenize.vocab_coverage(tok, "tokens", "source", top_k=20)


def _oracle_vocab_coverage() -> str:
    return rf"""
    WITH tok AS (
      SELECT event_type AS source, {_SQL_TOK_LINE} AS line FROM events
    ), ch AS (
      SELECT source, unnest(string_split(line, '')) AS c FROM tok
    ), per AS (
      SELECT source, unicode(c) AS id, count(*) AS cnt
      FROM ch GROUP BY source, id
    ), tot AS (
      SELECT id, sum(cnt) AS tc FROM per GROUP BY id
    ), topk AS (
      SELECT id FROM (
        SELECT id, row_number() OVER (ORDER BY tc DESC, id ASC) AS rn
        FROM tot) WHERE rn <= 20
    )
    SELECT per.source, CAST(sum(per.cnt) AS BIGINT) AS n_tok,
      CAST(sum(CASE WHEN topk.id IS NOT NULL THEN per.cnt ELSE 0 END)
           AS BIGINT) AS n_topk_tok,
      count(*) AS n_ids,
      floor(sum(CASE WHEN topk.id IS NOT NULL THEN per.cnt ELSE 0 END)
            * 1.0 / sum(per.cnt) * 1e6 + 0.5) / 1e6 AS coverage
    FROM per LEFT JOIN topk ON per.id = topk.id
    GROUP BY per.source
    """


def _q122_dup_leakage(spark, sf):
    """Cross-source exact-duplicate leakage matrix (dedup.
    dup_leakage_matrix) over documents: per source pair, distinct
    contents present in both plus duplicate doc-pair counts; the
    diagonal reports internal duplication. The audit that decides
    whether dedup must run ACROSS dumps rather than per-dump. Plan:
    content-hash groupBy → self equi-join on the uniform 64-hex key
    (per-key fan-out bounded by |groups|²) → tiny pair groupBy."""
    from lumbermill_spark.training import dedup

    docs = _t(spark, sf, "documents")
    return dedup.dup_leakage_matrix(docs, "text", "source")


def _oracle_dup_leakage() -> str:
    return r"""
    WITH h AS (
      SELECT lower(trim(text)) AS k, source AS g FROM documents
      WHERE text IS NOT NULL
    ), cnt AS (
      SELECT k, g, count(*) AS c FROM h GROUP BY k, g
    ), x AS (
      SELECT a.g AS group_a, b.g AS group_b,
        count(*) AS n_contents,
        CAST(sum(a.c * b.c) AS BIGINT) AS n_doc_pairs
      FROM cnt a JOIN cnt b ON a.k = b.k AND a.g < b.g
      GROUP BY a.g, b.g
    ), diag AS (
      SELECT g AS group_a, g AS group_b,
        count(*) AS n_contents,
        CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_doc_pairs
      FROM cnt WHERE c >= 2 GROUP BY g
    )
    SELECT * FROM x UNION ALL SELECT * FROM diag
    """


def _q123_gram_novelty(spark, sf):
    """Per-ingest-batch 3-gram novelty rate (dedup.gram_novelty):
    fraction of each batch's distinct word grams never seen in an
    earlier batch — the redundancy-growth curve that decides whether
    the marginal crawl still adds information. Batches are derived
    deterministically (doc_id % 4 = four ingest waves). Plan: explode
    distinct grams → distinct(gram, batch) → min-batch per gram →
    co-partitioned join back → tiny groupBy(batch); linear in gram
    volume, no pairwise work."""
    from lumbermill_spark.training import dedup

    docs = _t(spark, sf, "documents").withColumn(
        "batch", (F.col("doc_id") % 4).cast("long"))
    return dedup.gram_novelty(docs, "text", "batch", n=3)


def _oracle_gram_novelty() -> str:
    return r"""
    WITH d AS (
      SELECT doc_id % 4 AS b,
        regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ), sh AS (
      SELECT b, list_distinct(CASE WHEN len(w) >= 3 THEN
        list_transform(generate_series(1, len(w) - 2),
                       i -> array_to_string(w[i:i+2], ' '))
      ELSE [] END) AS g
      FROM d
    ), gb AS (
      SELECT DISTINCT b, unnest(g) AS gram FROM sh
    ), fb AS (
      SELECT gram, min(b) AS f FROM gb GROUP BY gram
    )
    SELECT CAST(gb.b AS BIGINT) AS batch, count(*) AS n_grams,
      CAST(sum(CASE WHEN fb.f = gb.b THEN 1 ELSE 0 END) AS BIGINT)
        AS n_new,
      floor(sum(CASE WHEN fb.f = gb.b THEN 1 ELSE 0 END) * 1.0
            / count(*) * 1e6 + 0.5) / 1e6 AS novelty
    FROM gb JOIN fb USING (gram) GROUP BY gb.b
    """


def _q124_token_entropy(spark, sf):
    """Unigram token-id Shannon entropy per source (tokenize.
    token_entropy) over the pre-tokenized table — the corpus-health
    scalar beside coverage (q121): near-uniform sources spike toward
    ln(|vocab|), templated sources collapse toward 0. Computed as
    ln(T) - sum(c*ln c)/T over integer counts so both engines evaluate
    one identical IEEE expression tree; floor-rounded to 4 decimals."""
    from lumbermill_spark.training import tokenize

    tok = _events_token_table(spark, sf)
    return tokenize.token_entropy(tok, "tokens", "source")


def _oracle_token_entropy() -> str:
    return rf"""
    WITH tok AS (
      SELECT event_type AS source, {_SQL_TOK_LINE} AS line FROM events
    ), ch AS (
      SELECT source, unnest(string_split(line, '')) AS c FROM tok
    ), per AS (
      SELECT source, unicode(c) AS id, count(*) AS cnt
      FROM ch GROUP BY source, id
    ), s AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tok,
        count(*) AS n_ids,
        sum(cnt * ln(cnt)) AS sl
      FROM per GROUP BY source
    )
    SELECT source, n_tok, n_ids,
      floor((ln(n_tok) - sl / n_tok) * 1e4 + 0.5) / 1e4 AS entropy
    FROM s
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_simple_stats": _q01_simple_stats,
        "q02_regex_parse": _q02_regex_parse,
        "q03_json_parse": _q03_json_parse,
        "q04_datetime_bucket": _q04_datetime_bucket,
        "q05_map_enrich": _q05_map_enrich,
        "q06_field_actions": _q06_field_actions,
        "q07_cast_semantics": _q07_cast_semantics,
        "q08_syslog_prival": _q08_syslog_prival,
        "q09_throttle": _q09_throttle,
        "q10_facet": _q10_facet,
        "q11_metrics_summary": _q11_metrics_summary,
        "q12_metrics_histogram": _q12_metrics_histogram,
        "q13_math_revenue": _q13_math_revenue,
        "q14_broadcast_enrich": _q14_broadcast_enrich,
        "q15_wordcount": _q15_wordcount,
        "q16_merge_sessions": _q16_merge_sessions,
        "q17_permutate": _q17_permutate,
        "q18_dedup_exact": _q18_dedup_exact,
        "q19_ngram_jaccard": _q19_ngram_jaccard,
        "q20_minhash_lsh": _q20_minhash_lsh,
        "q21_simhash": _q21_simhash,
        "q22_embedding_topk": _q22_embedding_topk,
        "q23_embedding_neardup": _q23_embedding_neardup,
        "q24_ann_lsh": _q24_ann_lsh,
        "q25_langid": _q25_langid,
        "q26_quality": _q26_quality,
        "q27_token_counts": _q27_token_counts,
        "q28_fingerprint": _q28_fingerprint,
        "q29_routed_sinks": _q29_routed_sinks,
        "q30_tokens_pipeline": _q30_tokens_pipeline,
        "q31_tokens_roundtrip": _q31_tokens_roundtrip,
        "q32_grok_parse": _q32_grok_parse,
        "q33_geo_enrich": _q33_geo_enrich,
        "q34_dedup_keepset": _q34_dedup_keepset,
        "q35_csv_parse": _q35_csv_parse,
        "q36_line_split": _q36_line_split,
        "q37_url_parse": _q37_url_parse,
        "q38_base64": _q38_base64,
        "q39_encoding": _q39_encoding,
        "q40_inflate": _q40_inflate,
        "q41_netflow": _q41_netflow,
        "q42_xpath": _q42_xpath,
        "q43_domain_split": _q43_domain_split,
        "q44_user_agent": _q44_user_agent,
        "q45_dns_lookup": _q45_dns_lookup,
        "q46_datetime_tz": _q46_datetime_tz,
        "q47_merge_end_pattern": _q47_merge_end_pattern,
        "q48_string_actions": _q48_string_actions,
        "q49_exec_python": _q49_exec_python,
        "q50_collectd": _q50_collectd,
        "q51_ann_ivf": _q51_ann_ivf,
        "q52_repetition": _q52_repetition,
        "q53_grok_combined": _q53_grok_combined,
        "q54_msgpack": _q54_msgpack,
        "q55_image_decode": _q55_image_decode,
        "q56_surprisal": _q56_surprisal,
        "q57_dup_spans": _q57_dup_spans,
        "q58_packing": _q58_packing,
        "q59_contamination": _q59_contamination,
        "q60_pii_scrub": _q60_pii_scrub,
        "q61_pack_blocks": _q61_pack_blocks,
        "q62_video_frames": _q62_video_frames,
        "q63_gopher_rules": _q63_gopher_rules,
        "q64_source_mix": _q64_source_mix,
        "q65_incremental_dedup": _q65_incremental_dedup,
        "q66_squeeze_repeats": _q66_squeeze_repeats,
        "q67_vocab_oov": _q67_vocab_oov,
        "q68_bpe_pairs": _q68_bpe_pairs,
        "q69_bigram_ppl": _q69_bigram_ppl,
        "q70_semdedup": _q70_semdedup,
        "q71_kmeans_refine": _q71_kmeans_refine,
        "q72_quality_classifier": _q72_quality_classifier,
        "q73_substring_scrub": _q73_substring_scrub,
        "q74_url_canonical": _q74_url_canonical,
        "q75_line_dedup": _q75_line_dedup,
        "q76_line_dedup_keepfirst": _q76_line_dedup_keepfirst,
        "q77_normalize_text": _q77_normalize_text,
        "q78_chunk_sequences": _q78_chunk_sequences,
        "q79_dsir": _q79_dsir,
        "q80_sliding_window": _q80_sliding_window,
        "q81_image_ahash": _q81_image_ahash,
        "q82_html_to_text": _q82_html_to_text,
        "q83_dissect": _q83_dissect,
        "q84_heavy_hitters": _q84_heavy_hitters,
        "q85_zscore": _q85_zscore,
        "q86_asof_enrich": _q86_asof_enrich,
        "q87_sessionize_gap": _q87_sessionize_gap,
        "q88_cohort_retention": _q88_cohort_retention,
        "q89_funnel": _q89_funnel,
        "q90_rollup": _q90_rollup,
        "q91_pivot": _q91_pivot,
        "q92_rolling_avg": _q92_rolling_avg,
        "q93_tfidf": _q93_tfidf,
        "q94_inverted_index": _q94_inverted_index,
        "q95_json_profile": _q95_json_profile,
        "q96_ntile_buckets": _q96_ntile_buckets,
        "q97_inter_arrival": _q97_inter_arrival,
        "q98_dedup_keep_best": _q98_dedup_keep_best,
        "q99_active_users": _q99_active_users,
        "q100_star_join": _q100_star_join,
        "q101_budget_trim": _q101_budget_trim,
        "q102_unigram_drift": _q102_unigram_drift,
        "q103_pmi_pairs": _q103_pmi_pairs,
        "q104_upsert_latest": _q104_upsert_latest,
        "q105_snapshot_diff": _q105_snapshot_diff,
        "q106_fuzzy_prefix": _q106_fuzzy_prefix,
        "q107_session_paths": _q107_session_paths,
        "q108_association_rules": _q108_association_rules,
        "q109_mad_outliers": _q109_mad_outliers,
        "q110_hash_split": _q110_hash_split,
        "q111_blocklist_filter": _q111_blocklist_filter,
        "q112_token_contamination": _q112_token_contamination,
        "q113_epoch_shuffle": _q113_epoch_shuffle,
        "q114_audio_features": _q114_audio_features,
        "q115_token_fertility": _q115_token_fertility,
        "q116_dup_clusters": _q116_dup_clusters,
        "q117_stratified_cap": _q117_stratified_cap,
        "q118_filter_cascade": _q118_filter_cascade,
        "q119_zipf_slope": _q119_zipf_slope,
        "q120_seq_len_profile": _q120_seq_len_profile,
        "q121_vocab_coverage": _q121_vocab_coverage,
        "q122_dup_leakage": _q122_dup_leakage,
        "q123_gram_novelty": _q123_gram_novelty,
        "q124_token_entropy": _q124_token_entropy,
    }


# ===================================================================== #
# oracle SQL (DuckDB dialect)

def _oracle_syslog() -> str:
    fac_case = " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in RFC5424_FACILITIES.items()
    )
    sev_case = " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in RFC5424_SEVERITIES.items()
    )
    return f"""
    WITH p AS (SELECT CAST(event_id % 192 AS INTEGER) AS prival FROM events)
    SELECT
      coalesce(CASE (prival // 8) {fac_case} END,
               CAST(prival // 8 AS VARCHAR)) AS syslog_facility,
      coalesce(CASE (prival % 8) {sev_case} END,
               CAST(prival % 8 AS VARCHAR)) AS syslog_severity,
      count(*) AS n_rows
    FROM p GROUP BY 1, 2
    """


_SW = textstats.STOPWORDS


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _SW[lang]) + "]"


def _oracle_langid() -> str:
    langs = list(_SW)
    score_cols = ", ".join(
        f"len(list_intersect(dw, {_sw_list(lang)})) AS s_{lang}" for lang in langs
    )
    # fold in dict order with strict > (ties keep the earlier language)
    best_lang = f"'{langs[0]}'"
    best_score = f"s_{langs[0]}"
    for lang in langs[1:]:
        best_lang = f"CASE WHEN s_{lang} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"greatest({best_score}, s_{lang})"
    return f"""
    WITH dwt AS (
      SELECT list_distinct(list_transform(
               regexp_split_to_array(trim(text), '\\s+'), x -> lower(x))) AS dw
      FROM documents
    ), s AS (SELECT {score_cols} FROM dwt)
    SELECT CASE WHEN {best_score} >= 1 THEN {best_lang} ELSE 'und' END AS lang_pred,
           count(*) AS n_rows
    FROM s GROUP BY 1
    """


def _oracle_quality() -> str:
    en = _sw_list("en")
    return f"""
    WITH b AS (
      SELECT doc_id,
        regexp_split_to_array(trim(text), '\\s+') AS w,
        length(text) AS nc
      FROM documents
    ), m AS (
      SELECT doc_id,
        CAST(len(w) AS INTEGER) AS n_words,
        CASE WHEN len(w) > 0 THEN CAST(nc AS DOUBLE) / len(w) ELSE 0.0 END AS mwl,
        CASE WHEN len(w) > 0 THEN
          CAST(len(list_filter(list_transform(w, x -> lower(x)),
                               x -> list_contains({en}, x))) AS DOUBLE) / len(w)
        ELSE 0.0 END AS swr
      FROM b
    )
    SELECT doc_id, n_words,
      round(mwl, 6) AS mean_word_len,
      round(swr, 6) AS stopword_ratio,
      round(least(n_words / 100.0, 1.0) * 0.4
            + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
            + least(swr * 5.0, 1.0) * 0.3, 6) AS quality
    FROM m
    """


def _oracle_ngram_jaccard() -> str:
    return """
    WITH sh AS (
      SELECT doc_id, source,
        list_distinct(CASE WHEN len(w) >= 3 THEN
          list_transform(generate_series(1, len(w) - 2),
                         i -> array_to_string(w[i:i+2], ' '))
        ELSE [] END) AS g
      FROM (SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0 THEN
        CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / len(list_distinct(list_concat(a.g, b.g)))
      ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0 THEN
        CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / len(list_distinct(list_concat(a.g, b.g)))
      ELSE 0.0 END, 6) >= 0.05
    """


def _exact_pairs_cte(threshold: float) -> str:
    """Exact n-gram-Jaccard pair set >= threshold (no blocking) via the
    shared-shingle explode-join — the ground truth that the MinHash-LSH
    candidates provably cover on this corpus (see _q20_minhash_lsh)."""
    return rf"""
    sh AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 3 THEN
          list_transform(generate_series(1, len(w) - 2),
                         i -> array_to_string(w[i:i+2], ' '))
        ELSE [] END) AS g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents)
    ), ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(g) AS n FROM sh),
    pairs AS (
      SELECT id_a, id_b,
        round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {threshold}
    )"""


def _oracle_minhash_lsh() -> str:
    return f"WITH {_exact_pairs_cte(0.2)} SELECT id_a, id_b, jaccard FROM pairs"


def _oracle_keepset() -> str:
    """Keep-set twin: exact pairs -> undirected edges -> recursive-CTE
    transitive closure -> component = min reachable id -> drop every
    non-minimum node -> per-source aggregates."""
    return f"""
    WITH RECURSIVE {_exact_pairs_cte(0.2)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT node, least(node, min(r)) AS component
             FROM reach GROUP BY node),
    drops AS (SELECT node FROM comp WHERE node <> component)
    SELECT d.source, count(*) AS n_kept,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d LEFT JOIN drops ON drops.node = d.doc_id
    WHERE drops.node IS NULL
    GROUP BY 1
    """


_SIMHASH_BITS = 60


def _oracle_simhash_pairs() -> str:
    """60-bit md5-hash simhash per doc, then exact all-pairs hamming
    <= 3 via bit_count(xor) — equals the Spark chunk-banded pair set
    because 4-chunk banding has recall exactly 1 at distance <= 3."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(_SIMHASH_BITS)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM t
    ), v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def _sql_srp_bucket(num_planes: int, seed: int) -> str:
    """SQL twin of srp_signature: same deterministic hyperplane
    literals, same sign-bit bucket."""
    planes = [similarity._hyperplane(64, p, seed)
              for p in range(num_planes)]
    return " + ".join(
        "(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(x) for x in pl)
        + f"]) > 0 THEN {1 << p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    )


def _oracle_ann_lsh() -> str:
    """Replays ann_lsh_topk exactly: the SRP hyperplanes are
    deterministic literals, so the twin embeds the same doubles per
    table (seed 42 + 1000·t), computes the same sign-bit buckets,
    unions candidates across tables (DISTINCT pair, like the Spark
    dropDuplicates), and ranks with the same tie-break."""
    def bucket_expr(t: int) -> str:
        return _sql_srp_bucket(_ANN_PLANES, 42 + 1000 * t)

    c_sel = ", ".join(f"({bucket_expr(t)}) AS b{t}"
                      for t in range(_ANN_TABLES))
    match = " OR ".join(f"c.b{t} = q.b{t}" for t in range(_ANN_TABLES))
    return f"""
    WITH sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {c_sel}
      FROM embeddings
    ), cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_inner_product(q.v, c.v)
              / (sqrt(list_inner_product(q.v, q.v))
                 * sqrt(list_inner_product(c.v, c.v))), 4) AS cos
      FROM sig q JOIN sig c ON ({match})
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      FROM cand)
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
    """


_ORACLE_COSINE = """
    round(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                     CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])))), 4)
"""


def oracle_sql() -> dict[str, str]:
    category_case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _EVENT_CATEGORY.items()
    )
    return {
        "q01_simple_stats": """
            SELECT event_type, count(*) AS events_received
            FROM events GROUP BY 1
        """,
        "q02_regex_parse": r"""
            WITH p AS (
              SELECT CASE
                  WHEN regexp_matches(props, '"k": [5-9][0-9]\}') THEN 'k_high'
                  WHEN regexp_matches(props, '"k": [0-9]+\}') THEN 'k_any'
                  ELSE 'Unknown' END AS event_type,
                CASE
                  WHEN regexp_matches(props, '"k": [5-9][0-9]\}')
                    THEN regexp_extract(props, '"k": ([5-9][0-9])\}', 1)
                  WHEN regexp_matches(props, '"k": [0-9]+\}')
                    THEN regexp_extract(props, '"k": ([0-9]+)\}', 1)
                  END AS kval
              FROM events)
            SELECT event_type, count(*) AS n_rows,
                   count(DISTINCT kval) AS n_kvals
            FROM p GROUP BY 1
        """,
        "q03_json_parse": """
            SELECT event_type,
              CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
              round(avg(json_extract_string(props, '$.k')::INT), 4) AS avg_k
            FROM events GROUP BY 1
        """,
        "q04_datetime_bucket": """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour, count(*) AS n_rows
            FROM events GROUP BY 1
        """,
        "q05_map_enrich": f"""
            SELECT CASE event_type {category_case} END AS category,
                   count(*) AS n_rows, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "q06_field_actions": """
            SELECT event_id,
              replace(upper(event_type || '-' || CAST(user_id AS VARCHAR)),
                      '-', '_') AS tag,
              substr(upper(event_type || '-' || CAST(user_id AS VARCHAR)),
                     1, 3) AS tag3
            FROM events WHERE event_id < 100
        """,
        "q07_cast_semantics": r"""
            SELECT
              CAST(sum(coalesce(CAST(trunc(TRY_CAST(
                regexp_extract(props, '(\d+)', 1) AS DOUBLE)) AS BIGINT), 0))
                AS BIGINT) AS sum_digits,
              CAST(sum(coalesce(CAST(trunc(TRY_CAST('notanumber' AS DOUBLE))
                AS BIGINT), 0)) AS BIGINT) AS sum_junk,
              count(*) AS n_rows
            FROM events
        """,
        "q08_syslog_prival": _oracle_syslog(),
        "q09_throttle": """
            WITH c AS (
              SELECT event_type,
                count(*) OVER (PARTITION BY user_id, date_trunc('hour', ts)) AS n
              FROM events)
            SELECT event_type, count(*) AS n_passed
            FROM c WHERE n BETWEEN 2 AND 5 GROUP BY 1
        """,
        "q10_facet": """
            SELECT source, 'lang' AS facet_field,
              count(DISTINCT lang) AS facet_count,
              array_to_string(list_sort(list(DISTINCT lang)), ',') AS facets_csv
            FROM documents GROUP BY source
        """,
        "q11_metrics_summary": """
            SELECT event_type AS metric, count(*) AS count,
              round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
              round(avg(value), 4) AS mean_v,
              round(stddev_pop(value), 4) AS std_v,
              round(quantile_cont(value, 0.5), 4) AS p50_v,
              round(quantile_cont(value, 0.95), 4) AS p95_v
            FROM events GROUP BY 1
        """,
        "q12_metrics_histogram": """
            SELECT event_type,
              CAST(CASE WHEN value < 0 THEN 0
                        WHEN value >= 200 THEN 9
                        ELSE CAST(floor(value / 25.0) AS INTEGER) + 1
                   END AS BIGINT) AS bucket,
              count(*) AS n_rows
            FROM events GROUP BY 1, 2
        """,
        "q13_math_revenue": """
            SELECT l_returnflag, l_linestatus,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
              round(avg(l_quantity), 4) AS avg_qty,
              count(*) AS n_rows
            FROM lineitem GROUP BY 1, 2
        """,
        "q14_broadcast_enrich": """
            SELECT r.r_name, count(*) AS n_customers,
              round(sum(c.c_acctbal), 2) AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "q15_wordcount": r"""
            SELECT word, count(*) AS n_occurrences
            FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
                  FROM documents)
            GROUP BY 1 HAVING count(*) > 100
        """,
        "q16_merge_sessions": """
            WITH s AS (
              SELECT user_id, ts, event_type,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts) AS session
              FROM events)
            SELECT user_id, CAST(session AS BIGINT) AS session,
              string_agg(event_type, '|' ORDER BY ts, event_type) AS chain,
              count(*) AS n_merged
            FROM s GROUP BY 1, 2
        """,
        "q17_permutate": """
            SELECT r.r_name, n1.n_name AS nation_a, n2.n_name AS nation_b
            FROM region r
            JOIN nation n1 ON n1.n_regionkey = r.r_regionkey
            JOIN nation n2 ON n2.n_regionkey = r.r_regionkey
            WHERE n1.n_name <> n2.n_name
        """,
        "q18_dedup_exact": """
            WITH k AS (
              SELECT md5(lower(trim(text))) AS h,
                     min(doc_id) AS keep_id
              FROM documents GROUP BY 1)
            SELECT count(*) AS n_kept,
              CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
            FROM k JOIN documents d ON d.doc_id = k.keep_id
        """,
        "q19_ngram_jaccard": _oracle_ngram_jaccard(),
        "q20_minhash_lsh": _oracle_minhash_lsh(),
        "q21_simhash": _oracle_simhash_pairs(),
        "q24_ann_lsh": _oracle_ann_lsh(),
        "q34_dedup_keepset": _oracle_keepset(),
        "q22_embedding_topk": f"""
            WITH scored AS (
              SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                {_ORACLE_COSINE} AS cos
              FROM embeddings a, embeddings b
              WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
            ), ranked AS (
              SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
        """,
        "q23_embedding_neardup": f"""
            WITH s AS (
              SELECT vec_id, embedding, ({_sql_srp_bucket(4, 42)}) AS bk
              FROM embeddings WHERE vec_id < 200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              {_ORACLE_COSINE} AS cos
            FROM s a JOIN s b ON a.bk = b.bk AND a.vec_id < b.vec_id
            WHERE {_ORACLE_COSINE} >= 0.3
        """,
        "q25_langid": _oracle_langid(),
        "q26_quality": _oracle_quality(),
        "q27_token_counts": r"""
            SELECT source,
              CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS sum_ws_tokens,
              CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT))
                AS BIGINT) AS sum_subword_est,
              CAST(sum(length(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY 1
        """,
        "q28_fingerprint": r"""
            SELECT doc_id,
              md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                AS fingerprint
            FROM documents
        """,
        "q29_routed_sinks": """
            WITH t AS (
              SELECT CASE
                  WHEN event_type = 'error' THEN 'errors'
                  WHEN event_type IN ('purchase', 'signup') AND value >= 150
                    THEN 'conversions'
                  ELSE 'rest' END AS sink,
                value
              FROM events)
            SELECT sink, count(*) AS n_rows, round(sum(value), 2) AS sum_value
            FROM t GROUP BY 1
        """,
        "q30_tokens_pipeline": _ORACLE_FLAGSHIP,
        "q32_grok_parse": _oracle_grok(),
        "q33_geo_enrich": """
            SELECT coalesce(n.n_name, 'unknown') AS country,
                   count(*) AS n_rows
            FROM events e
            LEFT JOIN nation n ON n.n_nationkey = e.user_id % 25
            GROUP BY 1
        """,
        "q31_tokens_roundtrip": """
            WITH tok AS (
              SELECT event_id,
                CASE WHEN event_type = 'error' AND value >= 180.0
                     THEN '?? corrupt frame ??'
                     ELSE printf('%s - %s [01/Jan/2024:00:00:00 +0000] "GET /api/v1/items HTTP/1.0" %s %d',
                                 printf('10.0.%d.%d', user_id % 200, (event_id % 250) + 1),
                                 'u' || CAST(user_id AS VARCHAR),
                                 CASE event_type WHEN 'error' THEN '500'
                                      WHEN 'purchase' THEN '402' WHEN 'signup' THEN '201'
                                      WHEN 'click' THEN '204' WHEN 'view' THEN '200'
                                      ELSE '418' END,
                                 CAST(floor(value) AS BIGINT))
                END AS line
              FROM events)
            SELECT printf('doc-%012d', event_id) AS doc_id,
              md5(line) AS payload_md5,
              CAST(length(line) AS BIGINT) AS n_tok
            FROM tok
        """,
        "q35_csv_parse": """
            SELECT event_id, CAST(event_id AS VARCHAR) AS id,
                   event_type AS etype,
                   printf('q|%d', user_id % 7) AS note
            FROM events WHERE event_id < 200
        """,
        "q36_line_split": """
            SELECT part, count(*) AS n_rows
            FROM (SELECT unnest(string_split(
                    event_type || chr(10) || CAST(user_id AS VARCHAR)
                    || chr(10) || 'tail', chr(10))) AS part
                  FROM events)
            GROUP BY 1
        """,
        "q37_url_parse": """
            SELECT event_id, 'https' AS scheme,
                   'www.example.co.uk' AS hostname,
                   CAST(8443 AS BIGINT) AS port,
                   printf('/api/v%d/item-x', event_id % 3) AS path,
                   'u' || CAST(user_id % 5 AS VARCHAR) AS username,
                   'frag' AS fragment,
                   CAST(user_id % 10 AS VARCHAR) AS qa
            FROM events WHERE event_id < 200
        """,
        "q38_base64": """
            SELECT event_id, base64(encode(props)) AS b64,
                   true AS roundtrip
            FROM events WHERE event_id < 500
        """,
        "q39_encoding": """
            SELECT event_id,
                   CAST(octet_length(encode(props)) AS BIGINT) AS n_bytes,
                   true AS roundtrip
            FROM events WHERE event_id < 500
        """,
        "q40_inflate": """
            SELECT event_id, props AS text
            FROM events WHERE event_id < 500
        """,
        "q41_netflow": """
            SELECT CASE event_id % 3 WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp'
                        ELSE 'icmp' END AS protocol,
                   count(*) AS n_flows,
                   CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
                     AS sum_octets,
                   CAST(sum(user_id % 100 + 1) AS BIGINT) AS sum_packets,
                   CAST(sum(bit_count(CAST(event_id % 64 AS BIGINT)))
                     AS BIGINT) AS sum_flags
            FROM events GROUP BY 1
        """,
        "q42_xpath": """
            SELECT event_id,
                   printf('%d,%d', user_id % 10, event_id % 7) AS vals_csv,
                   CAST(2 AS BIGINT) AS n_vals
            FROM events WHERE event_id < 10000
        """,
        "q43_domain_split": """
            WITH h AS (
              SELECT CASE WHEN event_id % 2 = 0 THEN 'co.uk'
                          ELSE 'org' END AS tld,
                     event_type AS domain,
                     'm' || CAST(user_id % 5 AS VARCHAR) AS subdomain
              FROM events)
            SELECT tld, domain, count(*) AS n_rows,
                   count(DISTINCT subdomain) AS n_subs
            FROM h GROUP BY 1, 2
        """,
        "q44_user_agent": """
            WITH x AS (
              SELECT CASE user_id % 6
                WHEN 0 THEN ('Chrome', 'Windows', false)
                WHEN 1 THEN ('curl', 'Other', false)
                WHEN 2 THEN ('Safari', 'macOS', false)
                WHEN 3 THEN ('Firefox', 'Linux', false)
                WHEN 4 THEN ('bot', 'Other', true)
                ELSE ('Chrome', 'Android', false) END AS e
              FROM events)
            SELECT e[1] AS browser, e[2] AS os,
                   CAST(e[3] AS BOOLEAN) AS is_bot, count(*) AS n_rows
            FROM x GROUP BY 1, 2, 3
        """,
        "q45_dns_lookup": """
            WITH h AS (SELECT event_type || '.example.com' AS host
                       FROM events)
            SELECT host,
                   '10.0.0.' || CAST(length(host) % 250 AS VARCHAR)
                     AS dns_name,
                   count(*) AS n_rows
            FROM h GROUP BY 1, 2
        """,
        "q46_datetime_tz": """
            SELECT strftime(timezone('America/New_York',
                     CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)
                     AT TIME ZONE 'UTC'), '%Y-%m-%d %H') AS ny_hour,
                   count(*) AS n_rows
            FROM events GROUP BY 1
        """,
        "q47_merge_end_pattern": """
            WITH p AS (
              SELECT user_id, ts, event_type,
                lag(event_type, 1, '') OVER
                  (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events
            ), s AS (
              SELECT user_id, ts, event_type,
                sum(CASE WHEN prev = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts) AS session
              FROM p)
            SELECT user_id, CAST(session AS BIGINT) AS session,
              string_agg(event_type, '|' ORDER BY ts) AS chain,
              count(*) AS n_merged
            FROM s GROUP BY 1, 2
        """,
        "q48_string_actions": """
            WITH b AS (
              SELECT event_id, event_type,
                regexp_replace(
                  printf('k1=%d;k2=%s;k1=%d', user_id % 10, event_type,
                         event_id % 5),
                  'k1', 'kX') AS s,
                CAST(user_id % 10 AS VARCHAR) AS kx
              FROM events WHERE event_id < 300)
            SELECT event_id, s, event_type AS k2, kx,
                   md5(event_type) AS h_md5,
                   sha256('s' || event_type) AS h_sha
            FROM b
        """,
        "q49_exec_python": """
            SELECT event_id, event_type,
                   CAST(floor(value * 2) AS BIGINT) AS vk
            FROM events WHERE event_id < 500
        """,
        "q50_collectd": """
            SELECT event_type AS plugin, count(*) AS n_vals,
                   CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
                     AS sum_gauge,
                   CAST(sum(event_id) AS BIGINT) AS sum_counter,
                   count(DISTINCT 'h' || CAST(user_id % 50 AS VARCHAR))
                     AS n_hosts,
                   CAST(1700000000 + min(event_id % 1000) AS DOUBLE)
                     AS min_time
            FROM events GROUP BY 1
        """,
        "q51_ann_ivf": _oracle_ann_ivf(),
        "q53_grok_combined": _oracle_grok_combined(),
        "q54_msgpack": _oracle_msgpack(),
        "q55_image_decode": _oracle_image_decode(),
        "q56_surprisal": _oracle_surprisal(),
        "q57_dup_spans": _oracle_dup_spans(),
        "q58_packing": _oracle_packing(),
        "q59_contamination": _oracle_contamination(),
        "q60_pii_scrub": _oracle_pii_scrub(),
        "q61_pack_blocks": _oracle_pack_blocks(),
        "q62_video_frames": _oracle_video_frames(),
        "q63_gopher_rules": _oracle_gopher_rules(),
        "q64_source_mix": _oracle_source_mix(),
        "q65_incremental_dedup": _oracle_incremental_dedup(),
        "q66_squeeze_repeats": _oracle_squeeze_repeats(),
        "q67_vocab_oov": _oracle_vocab_oov(),
        "q68_bpe_pairs": _oracle_bpe_pairs(),
        "q69_bigram_ppl": _oracle_bigram_ppl(),
        "q70_semdedup": _oracle_semdedup(),
        "q71_kmeans_refine": _oracle_kmeans_refine(),
        "q72_quality_classifier": _oracle_quality_classifier(),
        "q73_substring_scrub": _oracle_substring_scrub(),
        "q74_url_canonical": _oracle_url_canonical(),
        "q75_line_dedup": _oracle_line_dedup(),
        "q76_line_dedup_keepfirst": _oracle_line_dedup_keepfirst(),
        "q77_normalize_text": _oracle_normalize_text(),
        "q78_chunk_sequences": _oracle_chunk_sequences(),
        "q79_dsir": _oracle_dsir(),
        "q80_sliding_window": _oracle_sliding_window(),
        "q81_image_ahash": _oracle_image_ahash(),
        "q82_html_to_text": _oracle_html_to_text(),
        "q83_dissect": _oracle_dissect(),
        "q84_heavy_hitters": _oracle_heavy_hitters(),
        "q85_zscore": _oracle_zscore(),
        "q86_asof_enrich": _oracle_asof_enrich(),
        "q87_sessionize_gap": _oracle_sessionize_gap(),
        "q88_cohort_retention": _oracle_cohort_retention(),
        "q89_funnel": _oracle_funnel(),
        "q90_rollup": _oracle_rollup(),
        "q91_pivot": _oracle_pivot(),
        "q92_rolling_avg": _oracle_rolling_avg(),
        "q93_tfidf": _oracle_tfidf(),
        "q94_inverted_index": _oracle_inverted_index(),
        "q95_json_profile": _oracle_json_profile(),
        "q96_ntile_buckets": _oracle_ntile_buckets(),
        "q97_inter_arrival": _oracle_inter_arrival(),
        "q98_dedup_keep_best": _oracle_dedup_keep_best(),
        "q99_active_users": _oracle_active_users(),
        "q100_star_join": _oracle_star_join(),
        "q101_budget_trim": _oracle_budget_trim(),
        "q102_unigram_drift": _oracle_unigram_drift(),
        "q103_pmi_pairs": _oracle_pmi_pairs(),
        "q104_upsert_latest": _oracle_upsert_latest(),
        "q105_snapshot_diff": _oracle_snapshot_diff(),
        "q106_fuzzy_prefix": _oracle_fuzzy_prefix(),
        "q107_session_paths": _oracle_session_paths(),
        "q108_association_rules": _oracle_association_rules(),
        "q109_mad_outliers": _oracle_mad_outliers(),
        "q110_hash_split": _oracle_hash_split(),
        "q111_blocklist_filter": _oracle_blocklist_filter(),
        "q112_token_contamination": _oracle_token_contamination(),
        "q113_epoch_shuffle": _oracle_epoch_shuffle(),
        "q114_audio_features": _oracle_audio_features(),
        "q115_token_fertility": _oracle_token_fertility(),
        "q116_dup_clusters": _oracle_dup_clusters(),
        "q117_stratified_cap": _oracle_stratified_cap(),
        "q118_filter_cascade": _oracle_filter_cascade(),
        "q119_zipf_slope": _oracle_zipf_slope(),
        "q120_seq_len_profile": _oracle_seq_len_profile(),
        "q121_vocab_coverage": _oracle_vocab_coverage(),
        "q122_dup_leakage": _oracle_dup_leakage(),
        "q123_gram_novelty": _oracle_gram_novelty(),
        "q124_token_entropy": _oracle_token_entropy(),
        "q52_repetition": r"""
            WITH b AS (
              SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS w,
                length(trim(text)) AS lt
              FROM documents
            ), m AS (
              SELECT doc_id, w,
                CASE WHEN lt > 0 THEN len(w) ELSE 0 END AS nw,
                CASE WHEN lt > 0 AND len(w) >= 2 THEN
                  list_transform(generate_series(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+1], ' '))
                ELSE [] END AS bi
              FROM b
            ), top AS (
              SELECT doc_id,
                max(c) AS maxc
              FROM (SELECT doc_id, count(*) AS c
                    FROM (SELECT doc_id, unnest(w) AS word FROM m
                          WHERE nw > 0)
                    GROUP BY doc_id, word)
              GROUP BY doc_id
            )
            SELECT m.doc_id,
              round(CASE WHEN nw > 0 THEN
                CAST(len(list_distinct(w)) AS DOUBLE) / nw
              ELSE 0.0 END, 6) AS uniq_word_ratio,
              round(CASE WHEN len(bi) > 0 THEN
                CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi)
              ELSE 0.0 END, 6) AS uniq_bigram_ratio,
              round(CASE WHEN nw > 0 THEN
                coalesce(CAST(top.maxc AS DOUBLE), 0.0) / nw
              ELSE 0.0 END, 6) AS top_word_frac
            FROM m LEFT JOIN top ON top.doc_id = m.doc_id
        """,
    }
