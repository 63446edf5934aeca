"""Routing, sinks, checkpoint/resume, pipeline compiler — F9 fixtures.

Golden checks per sink: count(*), sum(n_tok), doc_id set equality, exact
token-array pass-through (BASELINE.json invariant), resume-without-
reprocessing (EventBuffer analog).
"""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark import checkpoint as ckpt
from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.functions.filters import filter_to_sql
from lumbermill_spark.pipeline import compile_pipeline
from lumbermill_spark.pipelines_builtin import ACCESS_RULES
from lumbermill_spark.router import SinkSpec, route, route_and_write


def test_filter_translation():
    assert filter_to_sql("if $(remote_ip) == '1.2.3.4'") == "`remote_ip` == '1.2.3.4'"
    assert (filter_to_sql("$(a) == 1 and re.match('GET', $(url))")
            == "`a` == 1 and (`url` rlike '^GET')")
    with pytest.raises(ValueError):
        filter_to_sql("__import__('os').system('x')")


@pytest.fixture(scope="module")
def parsed(spark):
    from lumbermill_spark.operators.regex_parser import RegexParser
    df = synth_tokens(spark, 2000)
    return RegexParser(ACCESS_RULES).apply(
        df, tokens_col="tokens").cache()


def test_route_partition_of_rows(spark, parsed):
    sinks = [
        SinkSpec("parsed", "$(event_type) != 'Unknown'"),
        SinkSpec("unmatched", "$(event_type) == 'Unknown'"),
    ]
    branches = route(parsed, sinks)
    n_all = parsed.count()
    n_p = branches["parsed"].count()
    n_u = branches["unmatched"].count()
    assert n_p + n_u == n_all and n_u > 0


def test_route_and_write_golden(spark, parsed, tmp_path):
    base = str(tmp_path / "out")
    sinks = [
        SinkSpec("parsed", "$(event_type) != 'Unknown'",
                 partition_by=["event_type"]),
        SinkSpec("unmatched", "$(event_type) == 'Unknown'"),
    ]
    res = route_and_write(parsed, sinks, base, run_id="r1")
    # per-sink golden counts vs direct computation
    expect_p = parsed.filter("event_type != 'Unknown'")
    assert res["parsed"]["rows"] == expect_p.count()
    assert res["parsed"]["tokens"] == expect_p.agg(F.sum("n_tok")).first()[0]

    back = spark.read.parquet(f"{base}/parsed")
    # routed-row set equality on doc_id
    a = {r["doc_id"] for r in back.select("doc_id").collect()}
    b = {r["doc_id"] for r in expect_p.select("doc_id").collect()}
    assert a == b
    # exact token-array pass-through per doc_id (BASELINE invariant)
    src = parsed.select("doc_id", F.col("tokens").alias("t_src"))
    joined = back.join(src, "doc_id")
    assert joined.filter(F.col("tokens") != F.col("t_src")).count() == 0

    # checkpoint table carries rows/tokens + per-partition lineage
    cp = ckpt.read_checkpoints(spark, base)
    row = cp.filter("sink = 'parsed'").first()
    assert row["rows"] == res["parsed"]["rows"]
    assert row["tokens"] == res["parsed"]["tokens"]
    assert sum(x["rows"] for x in row["lineage"]) == row["rows"]


def test_resume_skips_committed(spark, parsed, tmp_path):
    base = str(tmp_path / "out2")
    sinks = [
        SinkSpec("parsed", "$(event_type) != 'Unknown'"),
        SinkSpec("unmatched", "$(event_type) == 'Unknown'"),
    ]
    first = route_and_write(parsed, sinks, base, run_id="rr", resume=True)
    assert not first["parsed"]["skipped"]
    # "killed after commit" restart: same run_id -> both sinks skipped,
    # no reprocessing
    second = route_and_write(parsed, sinks, base, run_id="rr", resume=True)
    assert second["parsed"]["skipped"] and second["unmatched"]["skipped"]
    # different run -> processed again
    third = route_and_write(parsed, sinks, base, run_id="rr2", resume=True)
    assert not third["parsed"]["skipped"]
    assert third["parsed"]["rows"] == first["parsed"]["rows"]


def test_partial_crash_resume(spark, parsed, tmp_path):
    # simulate: sink1 committed, job died before sink2 -> resume rewrites
    # only sink2
    base = str(tmp_path / "out3")
    s1 = [SinkSpec("parsed", "$(event_type) != 'Unknown'")]
    route_and_write(parsed, s1, base, run_id="rz", resume=True)
    both = s1 + [SinkSpec("unmatched", "$(event_type) == 'Unknown'")]
    res = route_and_write(parsed, both, base, run_id="rz", resume=True)
    assert res["parsed"]["skipped"] is True
    assert res["unmatched"]["skipped"] is False
    total = (spark.read.parquet(f"{base}/parsed").count()
             + spark.read.parquet(f"{base}/unmatched").count())
    assert total == parsed.count()


def test_pipeline_compiler_end_to_end(spark, tmp_path):
    base = str(tmp_path / "pipe")
    spec = [
        {"input.Synthetic": {"rows": 1000}},
        {"parser.Regex": {"field_extraction_patterns": ACCESS_RULES,
                          "tokens_col": "tokens"}},
        {"modifier.Field": {"action": "map", "source_field": "http_status",
                            "map": {"200": "OK", "301": "Moved", "304": "Not Modified",
                                    "400": "Bad Request", "404": "Not Found",
                                    "500": "Server Error"}}},
        {"output.Parquet": {"name": "parsed",
                            "filter": "$(event_type) != 'Unknown'",
                            "partition_by": ["event_type"]}},
        {"output.Parquet": {"name": "unmatched",
                            "filter": "$(event_type) == 'Unknown'"}},
    ]
    pipe = compile_pipeline(spark, spec)
    res = pipe.run(base, run_id="p1")
    assert res["parsed"]["rows"] + res["unmatched"]["rows"] == 1000
    back = spark.read.parquet(f"{base}/parsed")
    assert "http_status_mapped" in back.columns
    assert back.filter("event_type = 'httpd_access_log'").count() > 0


def test_pipeline_input_filter_passthrough(spark):
    # BaseModule.py:260-276: non-matching events bypass the module UNCHANGED
    df = spark.createDataFrame([("a", "keep"), ("b", "skip")], "v string, tag string")
    spec = [
        {"modifier.Field": {"action": "upper", "source_fields": ["v"],
                            "filter": "$(tag) == 'keep'"}},
    ]
    pipe = compile_pipeline(spark, spec)
    rows = {r["tag"]: r["v"] for r in pipe.dataframe(df).collect()}
    assert rows == {"keep": "A", "skip": "b"}


def test_pipeline_common_actions(spark):
    df = spark.createDataFrame([("x",)], "v string")
    spec = [
        {"misc.Noop": {"add_fields": {"greeting": "hello $(v)"},
                       "set_event_type": "tagged"}},
    ]
    out = compile_pipeline(spark, spec).dataframe(df).first()
    assert out["greeting"] == "hello x"
    assert out["event_type"] == "tagged"


def test_pipeline_extended_modules(spark):
    """New registry entries: Math, Throttle, SimpleStats, Salted
    repartition compile and run from a YAML-shaped spec."""
    from lumbermill_spark.pipeline import compile_pipeline

    spec = [
        {"input.Synthetic": {"rows": 2000}},
        {"misc.SaltedRepartition": {"key": "source", "buckets": 4,
                                    "num_partitions": 8}},
        {"modifier.Math": {"target_field": "tok2", "function": "n_tok * 2"}},
        {"misc.SimpleStats": {"group_field": "source"}},
    ]
    pipe = compile_pipeline(spark, spec)
    out = pipe.dataframe()
    got = {r["source"]: r["events_received"] for r in out.collect()}
    assert sum(got.values()) == 2000
    assert set(got) == {"apache", "nginx", "syslog", "unknown"}


def test_pipeline_throttle_module(spark):
    from lumbermill_spark.pipeline import compile_pipeline

    spec = [
        {"misc.Throttle": {"key": "k", "min_count": 2}},
    ]
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    out = compile_pipeline(spark, spec).dataframe(df)
    assert [r["k"] for r in out.collect()] == ["a", "a"]


def test_file_sink_line_format(spark, tmp_path):
    from lumbermill_spark.router import SinkSpec, route_and_write

    df = spark.createDataFrame(
        [("e1", "click", 3), ("e2", "error", 5)],
        "doc_id string, event_type string, n_tok int",
    )
    base = str(tmp_path / "out")
    res = route_and_write(
        df,
        [SinkSpec("lines", format="text",
                  line_format="$(doc_id)|$(event_type)|$(n_tok)")],
        base, run_id="r1",
    )
    assert res["lines"]["rows"] == 2
    got = sorted(r["value"] for r in spark.read.text(f"{base}/lines").collect())
    assert got == ["e1|click|3", "e2|error|5"]


def test_route_tag_single_pass_write(spark, tmp_path):
    # route_tag + one partitionBy(sink) spec: one scan and one write for
    # all disjoint sinks, first matching sink wins
    from lumbermill_spark.router import route_tag

    df = spark.createDataFrame(
        [("d1", "click", 3), ("d2", "error", 5), ("d3", "click", 2)],
        "doc_id string, event_type string, n_tok int",
    )
    sinks = [
        SinkSpec("errs", "$(event_type) == 'error'"),
        SinkSpec("rest", None),
    ]
    base = str(tmp_path / "tagged")
    res = route_and_write(route_tag(df, sinks),
                          [SinkSpec("routed", partition_by=["sink"])],
                          base, run_id="t1")
    assert res["routed"]["rows"] == 3 and res["routed"]["tokens"] == 10
    # data lands under sink= partitions and is readable per sink
    back = spark.read.parquet(f"{base}/routed")
    per_sink = {r["sink"]: (r["n"], r["tok"]) for r in back.groupBy("sink")
                .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tok"))
                .collect()}
    assert per_sink == {"errs": (1, 5), "rest": (2, 5)}
    assert [r["doc_id"] for r in back.filter("sink = 'errs'").collect()] == ["d2"]
    # one commit row, with lineage
    cp = ckpt.read_checkpoints(spark, base).filter("run_id = 't1'").collect()
    assert len(cp) == 1 and sum(x["rows"] for x in cp[0]["lineage"]) == 3


def test_filter_struct_field_access(spark):
    from pyspark.sql import functions as F

    from lumbermill_spark.functions.filters import filter_to_column

    df = spark.createDataFrame([(1,)], "id int").withColumn(
        "geo", F.struct(F.lit("DE").alias("country"))
    )
    assert df.filter(filter_to_column("$(geo.country) == 'DE'")).count() == 1
    assert df.filter(filter_to_column("$(geo.country) == 'US'")).count() == 0


def test_pipeline_enricher_modules(spark, tmp_path):
    from lumbermill_spark.pipeline import compile_pipeline

    geo_path = str(tmp_path / "geo")
    spark.createDataFrame([("10.0.1", "DE")], "ip_prefix string, country string") \
        .write.parquet(geo_path)
    spec = [
        {"parser.DomainName": {"source_field": "host"}},
        {"parser.UserAgent": {"source_field": "ua"}},
        {"modifier.AddGeoInfo": {"geo_table_path": geo_path,
                                 "source_fields": ["ip"], "prefix_len": 3}},
    ]
    df = spark.createDataFrame(
        [("www.example.co.uk", "curl/8.0.1", "10.0.1.9")],
        "host string, ua string, ip string",
    )
    out = compile_pipeline(spark, spec).dataframe(df).first()
    assert out["domain"] == "example" and out["tld"] == "co.uk"
    assert out["user_agent_info"]["browser"] == "curl"
    assert out["geo_info"]["country"] == "DE"


def test_route_and_write_explicit_paths(spark, tmp_path):
    # a sink with an explicit path writes there, not under {base}/{name}
    df = spark.createDataFrame(
        [("d%d" % i, "error" if i % 3 == 0 else "click", i)
         for i in range(60)],
        "doc_id string, event_type string, n_tok int",
    )
    sinks = [
        SinkSpec("errs", "$(event_type) == 'error'",
                 path=str(tmp_path / "errs")),
        SinkSpec("rest", "$(event_type) != 'error'",
                 path=str(tmp_path / "rest")),
    ]
    base = tmp_path / "base"
    res = route_and_write(df, sinks, str(base), run_id="np")
    assert res["errs"]["rows"] == 20 and res["rest"]["rows"] == 40
    assert spark.read.parquet(str(tmp_path / "errs")).count() == 20
    assert spark.read.parquet(str(tmp_path / "rest")).count() == 40
    assert not (base / "errs").exists() and not (base / "rest").exists()


def test_route_and_write_runs_upstream_once(spark, tmp_path):
    # several sinks share one persisted parent: the upstream plan runs
    # once for all sink writes and lineage passes, not once per pass
    n = 300
    seen = spark.sparkContext.accumulator(0)

    def count_row(x):
        seen.add(1)
        return x

    counted = F.udf(count_row, "int")
    df = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        counted(F.col("id").cast("int")).alias("n_tok"))
    sinks = [SinkSpec(name) for name in ("a", "b", "c")]
    res = route_and_write(df, sinks, str(tmp_path / "once"), run_id="once")
    assert [res[s.name]["rows"] for s in sinks] == [n, n, n]
    assert seen.value == n


def test_damaged_checkpoint_fails_closed(spark, tmp_path):
    # only an ABSENT checkpoint table means "nothing committed": a
    # truncated commit file must make a resume and a merge raise, not
    # redo the run or merge onto an empty history
    import glob
    import os

    base = str(tmp_path / "ck")
    merge = [SinkSpec("docs", None, mode="merge",
                      merge_key="doc_id", merge_version="version")]
    b1 = spark.createDataFrame([(1, 1, 3), (2, 1, 4)],
                               "doc_id long, version long, n_tok long")
    route_and_write(b1, merge, base, run_id="c1")
    part, = glob.glob(f"{base}/_checkpoint/part-*.parquet")
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        route_and_write(b1, [SinkSpec("plain")], base, run_id="c1",
                        resume=True)
    assert not os.path.exists(f"{base}/plain")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        route_and_write(b1, merge, base, run_id="c2")
    assert not os.path.exists(f"{base}/docs/snap=c2")


def test_commit_runs_no_job_and_round_trips(spark, tmp_path):
    # a commit is one small file written by this process: no Spark job
    # runs, and the row reads back equal, including the tokens=None /
    # lineage=None shape a line_format text sink commits
    import glob

    base = str(tmp_path / "nojob")
    sc = spark.sparkContext
    lineage = [{"partition_id": 1, "rows": 2, "tokens": 7},
               {"partition_id": 0, "rows": 3, "tokens": None}]
    sc.setJobGroup("ckpt-commit", "commit")
    try:
        ckpt.commit(spark, base, "r1", "route", "parsed", 5, 7, lineage)
        ckpt.commit(spark, base, "r1", "route", "lines", 2, None, None)
        assert list(sc.statusTracker().getJobIdsForGroup("ckpt-commit")) == []
        # the tracker does see this thread's jobs: the read-back runs one
        sc.setJobGroup("ckpt-read", "read")
        back = ckpt.read_checkpoints(spark, base).collect()
        assert list(sc.statusTracker().getJobIdsForGroup("ckpt-read"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {r["sink"]: r.asDict(recursive=True) for r in back}
    assert all(isinstance(g.pop("committed_at"), float) for g in got.values())
    assert got == {
        "parsed": {"run_id": "r1", "stage": "route", "sink": "parsed",
                   "rows": 5, "tokens": 7, "n_partitions": 2,
                   "lineage": lineage},
        "lines": {"run_id": "r1", "stage": "route", "sink": "lines",
                  "rows": 2, "tokens": None, "n_partitions": None,
                  "lineage": None},
    }
    assert len(glob.glob(f"{base}/_checkpoint/part-*.parquet")) == 2
    assert not glob.glob(f"{base}/_checkpoint/.*.tmp")


def test_mixed_format_and_half_written_checkpoint(spark, tmp_path):
    # Spark-written and single-file commit rows read as one table; a
    # hidden temp file left by a crash mid-commit is ignored, so its sink
    # reads as not committed and a resume rewrites it
    import os
    import time

    from lumbermill_spark.router import merge_snapshot_path

    base = str(tmp_path / "mixed")
    # a row as Spark's own parquet writer stores it (part-*-c000 file
    # plus _SUCCESS), the layout of existing tables
    old = [("old", "route", "docs", 2, 5, 1, time.time() - 60, [(0, 2, 5)])]
    (spark.createDataFrame(old, ckpt.CHECKPOINT_SCHEMA).coalesce(1)
        .write.mode("append").parquet(f"{base}/_checkpoint"))
    ckpt.commit(spark, base, "new", "route", "docs", 3, 9,
                [{"partition_id": 0, "rows": 3, "tokens": 9}])
    assert os.path.exists(f"{base}/_checkpoint/_SUCCESS")
    got = sorted((r["run_id"], r["sink"], r["rows"], r["lineage"][0]["tokens"])
                 for r in ckpt.read_checkpoints(spark, base).collect())
    assert got == [("new", "docs", 3, 9), ("old", "docs", 2, 5)]
    assert ckpt.committed_sinks(spark, base, "old") == {"docs"}
    assert ckpt.committed_sinks(spark, base, "new") == {"docs"}
    # newest committed snapshot first, across both formats
    for run in ("old", "new"):
        os.makedirs(f"{base}/docs/snap={run}")
    assert merge_snapshot_path(spark, base, "docs").endswith("snap=new")
    os.rmdir(f"{base}/docs/snap=new")
    assert merge_snapshot_path(spark, base, "docs").endswith("snap=old")

    # crash mid-commit of sink "plain": half a commit file under the
    # hidden temp name, in a table with rows and in one without
    scratch = str(tmp_path / "scratch")
    ckpt.commit(spark, scratch, "new", "route", "plain", 2, 7, None)
    part, = [f for f in os.listdir(f"{scratch}/_checkpoint")
             if f.startswith("part-")]
    with open(f"{scratch}/_checkpoint/{part}", "rb") as f:
        half = f.read()[:100]
    df = spark.createDataFrame([("d1", 3), ("d2", 4)],
                               "doc_id string, n_tok long")
    empty = str(tmp_path / "first-commit-crashed")
    for b, before in ((base, 2), (empty, 0)):
        os.makedirs(f"{b}/_checkpoint", exist_ok=True)
        with open(f"{b}/_checkpoint/.{part}.tmp", "wb") as f:
            f.write(half)
        assert ckpt.read_checkpoints(spark, b).count() == before
        assert "plain" not in ckpt.committed_sinks(spark, b, "new")
        res = route_and_write(df, [SinkSpec("plain")], b, run_id="new",
                              resume=True)
        assert res["plain"]["skipped"] is False and res["plain"]["rows"] == 2
        assert "plain" in ckpt.committed_sinks(spark, b, "new")
        assert ckpt.read_checkpoints(spark, b).count() == before + 1


def _sink_contents(spark, base, spec):
    from lumbermill_spark.router import read_merged

    df = (read_merged(spark, base, spec.name) if spec.mode == "merge"
          else spark.read.parquet(f"{base}/{spec.name}"))
    return sorted(tuple(r) for r in
                  df.select("doc_id", "version", "event_type", "n_tok")
                  .collect())


class _Crash(RuntimeError):
    pass


# Crash points in run r1 (two sinks, after a clean run r0), resumed with
# the same run_id: "before_commit" fails sink b's commit after its write,
# "before_write" fails sink b after sink a's commit. ("append",
# "before_commit") is left out: it is the documented re-append gap (see
# streaming run_routed) — an append sink written but not committed is
# appended again on resume.
@pytest.mark.parametrize("mode,point", [
    ("overwrite", "before_write"), ("overwrite", "before_commit"),
    ("append", "before_write"),
    ("merge", "before_write"), ("merge", "before_commit"),
])
def test_crash_point_resume_matches_uninterrupted(spark, tmp_path,
                                                  monkeypatch, mode, point):
    from lumbermill_spark import router

    schema = "doc_id long, version long, event_type string, n_tok long"
    batches = [
        spark.createDataFrame([(1, 1, "click", 3), (2, 1, "error", 4),
                               (3, 1, "click", 5)], schema),
        spark.createDataFrame([(1, 2, "click", 6), (2, 0, "error", 9),
                               (4, 1, "error", 2)], schema),
    ]
    merge = ({"merge_key": "doc_id", "merge_version": "version"}
             if mode == "merge" else {})
    sinks = [SinkSpec("a", "$(event_type) == 'click'", mode=mode, **merge),
             SinkSpec("b", "$(event_type) != 'click'", mode=mode, **merge)]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for i, b in enumerate(batches):
        route_and_write(b, sinks, clean, run_id=f"r{i}")
    route_and_write(batches[0], sinks, crashed, run_id="r0")

    if point == "before_commit":
        commit = ckpt.commit

        def failing(spark, base, run_id, stage, sink, *rest):
            if sink == "b":
                raise _Crash
            commit(spark, base, run_id, stage, sink, *rest)

        monkeypatch.setattr(ckpt, "commit", failing)
    else:
        write_sink = router._write_sink

        def failing(df, spec, *rest):
            if spec.name == "b":
                raise _Crash
            return write_sink(df, spec, *rest)

        monkeypatch.setattr(router, "_write_sink", failing)
    with pytest.raises(_Crash):
        route_and_write(batches[1], sinks, crashed, run_id="r1", resume=True)
    monkeypatch.undo()

    res = route_and_write(batches[1], sinks, crashed, run_id="r1",
                          resume=True)
    assert res["a"]["skipped"] is True and res["b"]["skipped"] is False
    for s in sinks:
        assert _sink_contents(spark, crashed, s) == _sink_contents(
            spark, clean, s)


def test_merge_mode_sink(spark, tmp_path):
    # ES 'update' bulk-action analog (ElasticSearch.py:166-194): two
    # batches with overlapping doc_ids route into a merge-mode sink;
    # the sink's committed snapshot holds exactly the latest-version
    # row per doc_id, survives a re-run of the same run_id (resume),
    # and an uncommitted snapshot dir is ignored (crash before commit).
    from lumbermill_spark.router import merge_snapshot_path, read_merged

    base = str(tmp_path / "m")
    spec = [SinkSpec("docs", None, mode="merge",
                     merge_key="doc_id", merge_version="version")]
    b1 = spark.createDataFrame(
        [(1, 1, "a1", 3), (2, 1, "b1", 4), (3, 1, "c1", 5)],
        "doc_id long, version long, body string, n_tok long")
    r1 = route_and_write(b1, spec, base, run_id="m1")
    assert r1["docs"]["rows"] == 3 and r1["docs"]["tokens"] == 12
    # batch 2: doc 2 updated (v2), doc 3 STALE (v0 loses), doc 4 new
    b2 = spark.createDataFrame(
        [(2, 2, "b2", 7), (3, 0, "c0", 9), (4, 1, "d1", 6)],
        "doc_id long, version long, body string, n_tok long")
    r2 = route_and_write(b2, spec, base, run_id="m2")
    assert r2["docs"]["rows"] == 4
    snap = {r["doc_id"]: (r["version"], r["body"])
            for r in read_merged(spark, base, "docs").collect()}
    assert snap == {1: (1, "a1"), 2: (2, "b2"), 3: (1, "c1"), 4: (1, "d1")}
    # resume: same run_id skips (no double merge)
    r2b = route_and_write(b2, spec, base, run_id="m2", resume=True)
    assert r2b["docs"]["skipped"] is True
    assert read_merged(spark, base, "docs").count() == 4
    # crash before commit: a bare snapshot dir with no checkpoint row
    # must NOT become current
    stale = spark.createDataFrame([(9, 9, "x", 1)],
                                  "doc_id long, version long, body string, n_tok long")
    stale.write.mode("overwrite").parquet(f"{base}/docs/snap=crashed")
    cur = merge_snapshot_path(spark, base, "docs")
    assert cur is not None and cur.endswith("snap=m2")
    # next increment merges on top of m2, not the crashed dir
    b3 = spark.createDataFrame([(1, 5, "a5", 2)],
                               "doc_id long, version long, body string, n_tok long")
    route_and_write(b3, spec, base, run_id="m3")
    snap3 = {r["doc_id"]: r["body"]
             for r in read_merged(spark, base, "docs").collect()}
    assert snap3 == {1: "a5", 2: "b2", 3: "c1", 4: "d1"}


def test_merge_mode_requires_key_and_version():
    # rejected at construction, before route_and_write writes anything
    with pytest.raises(ValueError, match="merge_key and merge_version"):
        SinkSpec("d", None, mode="merge", merge_key="doc_id")


def test_unknown_sink_mode_rejected():
    with pytest.raises(ValueError, match="mode must be one of.*'upsert'"):
        SinkSpec("d", None, mode="upsert")


def test_dynamic_path_text_gzip_sink(spark, tmp_path):
    # output.File / output.WebHdfs path semantics (File.py:113-142,
    # WebHdfs.py:142): the reference renders "%Y-%m-%d/$(event_type).log"
    # per event; the scalable equivalent is partition columns, so a
    # dynamic path template becomes partition_by on derived columns.
    # Golden: partitioned text+gzip write, then byte-compare one
    # partition's decompressed payload.
    import glob
    import gzip

    df = spark.createDataFrame(
        [("e1", "click", "2024-03-01 10:00:00", 3),
         ("e2", "error", "2024-03-01 11:00:00", 5),
         ("e3", "click", "2024-03-02 09:00:00", 2)],
        "doc_id string, event_type string, ts string, n_tok int",
    ).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    base = str(tmp_path / "dyn")
    res = route_and_write(
        df,
        [SinkSpec("logs", format="text", compression="gzip",
                  partition_by=["day", "event_type"],
                  line_format="$(doc_id)|$(n_tok)")],
        base, run_id="d1",
    )
    assert res["logs"]["rows"] == 3
    part = f"{base}/logs/day=2024-03-01/event_type=click"
    files = glob.glob(f"{part}/*.txt.gz") or glob.glob(f"{part}/*.gz")
    assert files, f"no gzip part files under {part}"
    raw = b"".join(gzip.open(f, "rb").read() for f in sorted(files))
    assert raw == b"e1|3\n"
    # the other day partition holds exactly its own row
    part2 = glob.glob(f"{base}/logs/day=2024-03-02/event_type=click/*.gz")
    assert b"".join(gzip.open(f, "rb").read()
                    for f in sorted(part2)) == b"e3|2\n"
    # spark can read it back partition-pruned
    back = spark.read.text(f"{base}/logs/day=2024-03-01/event_type=error")
    assert [r["value"] for r in back.collect()] == ["e2|5"]


def test_merge_mode_rejects_noop_format():
    with pytest.raises(ValueError, match="persistent snapshot"):
        SinkSpec("d", None, mode="merge", format="noop",
                 merge_key="doc_id", merge_version="v")


def test_duplicate_sink_names_rejected_before_write(spark, tmp_path):
    # a sink name keys the default path, the metrics and the commit
    # rows: two sinks named alike would overwrite each other and commit
    # as one, so the writer refuses before anything is written
    import os

    base = tmp_path / "dup"
    df = spark.createDataFrame([("d1", "click", 3), ("d2", "error", 4)],
                               "doc_id string, event_type string, n_tok long")
    sinks = [SinkSpec("web", "$(event_type) == 'click'"),
             SinkSpec("rest"),
             SinkSpec("web", "$(event_type) == 'error'")]
    with pytest.raises(ValueError, match=r"duplicate sink name.*'web'"):
        route_and_write(df, sinks, str(base), run_id="d1")
    assert not base.exists() or os.listdir(base) == []


def test_checkpoint_readers_absent_and_not_a_directory(spark, tmp_path):
    # read_checkpoints is the one reader of _checkpoint: an absent table
    # reads as "nothing committed" in every reader built on it, and a
    # _checkpoint that is not a directory makes each of them raise
    from lumbermill_spark.router import merge_snapshot_path, sink_stats

    absent = str(tmp_path / "absent")
    empty = ckpt.read_checkpoints(spark, absent)
    assert empty.schema == ckpt.CHECKPOINT_SCHEMA and empty.count() == 0
    assert sink_stats(spark, absent).count() == 0
    assert ckpt.committed_sinks(spark, absent, "r1") == set()
    assert merge_snapshot_path(spark, absent, "docs") is None

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "_checkpoint").write_bytes(b"not a directory")
    readers = [
        lambda: ckpt.read_checkpoints(spark, str(bad)).collect(),
        lambda: sink_stats(spark, str(bad)).collect(),
        lambda: ckpt.committed_sinks(spark, str(bad), "r1"),
        lambda: merge_snapshot_path(spark, str(bad), "docs"),
    ]
    for read in readers:
        with pytest.raises(NotADirectoryError, match="_checkpoint"):
            read()


def _three_sinks():
    return [SinkSpec("a", "$(event_type) == 'click'"),
            SinkSpec("b", "$(event_type) == 'error'"),
            SinkSpec("c", None)]


def test_failed_sink_lets_the_others_commit(spark, tmp_path, monkeypatch):
    # the sinks write concurrently: a failing sink does not stop the
    # others, route_and_write raises once all have ended, and a resume
    # rewrites exactly the failed sink
    import time

    from lumbermill_spark import router

    schema = "doc_id long, version long, event_type string, n_tok long"
    df = spark.createDataFrame(
        [(i, 1, ("click", "error", "view")[i % 3], i) for i in range(30)],
        schema)
    sinks = _three_sinks()
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    route_and_write(df, sinks, clean, run_id="r1")

    write_sink = router._write_sink
    written = []

    def failing(fail, delay=None):
        def write(df, spec, *rest):
            if spec.name in fail:
                time.sleep((delay or {}).get(spec.name, 0))
                raise _Crash(spec.name)
            written.append(spec.name)
            return write_sink(df, spec, *rest)
        return write

    # b fails at once, before a and c have written anything
    monkeypatch.setattr(router, "_write_sink", failing({"b"}))
    with pytest.raises(_Crash, match="^b$"):
        route_and_write(df, sinks, crashed, run_id="r1", resume=True)
    assert ckpt.committed_sinks(spark, crashed, "r1") == {"a", "c"}

    written.clear()
    monkeypatch.setattr(router, "_write_sink", failing(set()))
    res = route_and_write(df, sinks, crashed, run_id="r1", resume=True)
    assert written == ["b"]
    assert [res[s.name]["skipped"] for s in sinks] == [True, False, True]
    for s in sinks:
        assert _sink_contents(spark, crashed, s) == _sink_contents(
            spark, clean, s)

    # two sinks fail: the error raised is the first failed sink's in
    # declared order, though c fails before b does
    monkeypatch.setattr(router, "_write_sink",
                        failing({"b", "c"}, delay={"b": 0.5}))
    with pytest.raises(_Crash) as err:
        route_and_write(df, sinks, str(tmp_path / "two"), run_id="r2")
    assert err.value.args == ("b",)
    assert err.value.__notes__ == ["sink 'c' also failed: _Crash('c')"]
    assert ckpt.committed_sinks(spark, str(tmp_path / "two"), "r2") == {"a"}


def test_more_sink_threads_than_cores_all_commit(spark, tmp_path):
    # eight sink threads on four cores, switching threads as often as the
    # interpreter allows: every sink's result and commit row is kept
    import sys

    df = spark.range(40).selectExpr("id AS doc_id", "id % 8 AS k",
                                    "1L AS n_tok")
    sinks = [SinkSpec(f"s{i}", f"$(k) == {i}") for i in range(8)]
    base = str(tmp_path / "many")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = route_and_write(df, sinks, base, run_id="m1")
    finally:
        sys.setswitchinterval(interval)
    assert [(n, r["rows"], r["tokens"]) for n, r in res.items()] == [
        (s.name, 5, 5) for s in sinks]
    assert ckpt.committed_sinks(spark, base, "m1") == {s.name for s in sinks}


def test_sink_threads_keep_caller_local_properties(spark, tmp_path):
    # every job of a multi-sink write runs in the caller's job group and
    # scheduler pool, though the sinks write on their own threads
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    jsc.listenerBus().waitUntilEmpty()
    before = {j.jobId() for j in seq(jsc.statusStore().jobsList(None))}
    df = spark.createDataFrame(
        [(i, 1, ("click", "error")[i % 2], i) for i in range(20)],
        "doc_id long, version long, event_type string, n_tok long")
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel", "spark.scheduler.pool")
    saved = [sc.getLocalProperty(k) for k in props]
    sc.setJobGroup("caller-group", "three sinks")
    sc.setLocalProperty("spark.scheduler.pool", "caller-pool")
    try:
        route_and_write(df, _three_sinks(), str(tmp_path / "props"),
                        run_id="p1")
    finally:
        for k, v in zip(props, saved):
            sc.setLocalProperty(k, v)
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = [j for j in seq(store.jobsList(None)) if j.jobId() not in before]
    assert jobs
    groups = {j.jobGroup().get() if j.jobGroup().isDefined() else None
              for j in jobs}
    assert groups == {"caller-group"}
    stage_ids = {sid for j in jobs for sid in seq(j.stageIds())}
    # a skipped stage never runs, so it has no pool of its own
    ran = [st for st in seq(store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None))
        if st.stageId() in stage_ids and str(st.status()) != "SKIPPED"]
    assert ran
    assert {st.schedulingPool() for st in ran} == {"caller-pool"}
