"""The BASELINE north-rule correctness trio, end-to-end:

1. per-sink aggregate counts match an independent computation;
2. routed-row SET equality (doc_id sets per sink);
3. exact token-array equality per doc_id through the whole pipeline.

Run over the full pipeline (synth -> parse -> enrich -> route -> write)
both in the per-sink-branch form and the single-pass form (route_tag +
one partitionBy(sink) sink), plus kill/resume idempotence on the branch
form.
"""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.operators import field_actions
from lumbermill_spark.operators.regex_parser import RegexParser
from lumbermill_spark.pipelines_builtin import ACCESS_RULES, HTTP_STATUS_MAP
from lumbermill_spark.router import SinkSpec, route_and_write, route_tag

N_ROWS = 4000


@pytest.fixture(scope="module")
def pipeline_out(spark):
    tok = synth_tokens(spark, N_ROWS)
    parsed = RegexParser(ACCESS_RULES).apply(
        tok, tokens_col="tokens")
    return field_actions.map_(parsed, "http_status", HTTP_STATUS_MAP,
                              target_field="status_class")


def _sinks():
    # filter STRINGS (compiled lazily) — Column literals need a live
    # SparkContext at module import time
    return [
        SinkSpec("web",
                 "$(event_type) in ('httpd_access_log', 'nginx_access_log')"),
        SinkSpec("firewall", "$(event_type) == 'iptables_log'"),
        SinkSpec("unmatched", "$(event_type) == 'Unknown'"),
    ]


def _expected(spark, pipeline_out):
    """Independent per-sink truth computed directly (no router code)."""
    tag = (
        F.when(F.col("event_type").isin("httpd_access_log",
                                        "nginx_access_log"), "web")
        .when(F.col("event_type") == "iptables_log", "firewall")
        .otherwise("unmatched")
    )
    rows = pipeline_out.withColumn("sink", tag) \
        .select("sink", "doc_id", "n_tok").collect()
    by_sink: dict = {}
    for r in rows:
        s = by_sink.setdefault(r["sink"], {"n": 0, "tok": 0, "ids": set()})
        s["n"] += 1
        s["tok"] += r["n_tok"]
        s["ids"].add(r["doc_id"])
    return by_sink


def test_branch_writer_invariants(spark, pipeline_out, tmp_path):
    base = str(tmp_path / "branch")
    res = route_and_write(pipeline_out, _sinks(), base, run_id="north1")
    # the single-pass form of the same routing
    tagged = str(tmp_path / "tagged")
    one = route_and_write(route_tag(pipeline_out, _sinks()),
                          [SinkSpec("routed", partition_by=["sink"])],
                          tagged, run_id="north2")["routed"]
    exp = _expected(spark, pipeline_out)
    assert one["rows"] == sum(e["n"] for e in exp.values())
    assert one["tokens"] == sum(e["tok"] for e in exp.values())
    outputs = {
        "branch": lambda name: spark.read.parquet(f"{base}/{name}"),
        "tagged": lambda name: spark.read.parquet(f"{tagged}/routed")
        .filter(F.col("sink") == name),
    }
    source = synth_tokens(spark, N_ROWS).select("doc_id", "tokens")
    for name in exp:
        # 1. per-sink aggregate counts (router metrics AND written data)
        assert res[name]["rows"] == exp[name]["n"]
        assert res[name]["tokens"] == exp[name]["tok"]
        for read in outputs.values():
            written = read(name)
            assert written.count() == exp[name]["n"]
            assert written.agg(F.sum("n_tok")).first()[0] == exp[name]["tok"]
            # 2. routed-row set equality
            got_ids = {r["doc_id"] for r in written.select("doc_id").collect()}
            assert got_ids == exp[name]["ids"]
            # 3. token-array equality per doc_id (byte-exact through the
            # pipeline)
            diff = (
                written.select("doc_id", F.col("tokens").alias("tokens_out"))
                .join(source, "doc_id")
                .filter(F.col("tokens_out") != F.col("tokens"))
                .count()
            )
            assert diff == 0


def test_resume_reproduces_identical_outputs(spark, pipeline_out, tmp_path):
    base = str(tmp_path / "resume")
    route_and_write(pipeline_out, _sinks(), base, run_id="northr")
    first = {
        name: spark.read.parquet(f"{base}/{name}")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.md5(F.col("doc_id")).substr(1, 8).cast("string").isNotNull()
                   .cast("int")).alias("chk")).first()
        for name in ("web", "firewall", "unmatched")
    }
    # resume with same run_id: everything already committed -> all skipped
    res2 = route_and_write(pipeline_out, _sinks(), base, run_id="northr",
                           resume=True)
    assert all(v["skipped"] for v in res2.values())
    for name, f in first.items():
        again = spark.read.parquet(f"{base}/{name}").count()
        assert again == f["n"]
