"""Structured Streaming pipeline: file source → parse → sinks,
watermarked aggregates, stateful throttle."""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.operators.regex_parser import RegexParser
from lumbermill_spark.pipelines_builtin import ACCESS_RULES
from lumbermill_spark.router import SinkSpec
from lumbermill_spark.streaming import pipeline as sp


@pytest.fixture(scope="module")
def token_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream") / "tokens"
    synth_tokens(spark, 2000).write.mode("overwrite").parquet(str(d))
    return str(d)


def test_stream_parse_to_parquet(spark, token_dir, tmp_path):
    src = sp.stream_source(spark, token_dir)
    assert src.isStreaming
    parsed = RegexParser(ACCESS_RULES).apply(
        src, tokens_col="tokens", drop_tokens=True)
    out = str(tmp_path / "out")
    sp.run_to_parquet(parsed.select("doc_id", "event_type", "n_tok"),
                      out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out)
    assert got.count() == 2000
    types = {r["event_type"] for r in got.select("event_type").distinct().collect()}
    assert "httpd_access_log" in types and "Unknown" in types
    # equivalence with the batch plan on the same table (streaming and
    # batch must route identically)
    batch = RegexParser(ACCESS_RULES).apply(
        spark.read.parquet(token_dir), tokens_col="tokens", drop_tokens=True)
    bcounts = {r["event_type"]: r["count"]
               for r in batch.groupBy("event_type").count().collect()}
    scounts = {r["event_type"]: r["count"]
               for r in got.groupBy("event_type").count().collect()}
    assert bcounts == scounts


def test_stream_windowed_counts(spark, tmp_path):
    rows = [("2024-01-01 00:00:05", "a"), ("2024-01-01 00:00:30", "a"),
            ("2024-01-01 00:01:10", "b"), ("2024-01-01 00:05:00", "a")]
    src_dir = tmp_path / "ev"
    spark.createDataFrame(rows, "ts_s string, k string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .write.parquet(str(src_dir))
    stream = spark.readStream.schema("k string, ts timestamp").parquet(str(src_dir))
    agg = sp.windowed_counts(stream, ts_col="ts", window="1 minute",
                             watermark="2 minutes", keys=["k"], token_col=None)
    out = str(tmp_path / "agg")
    sp.run_to_parquet(agg.select(F.col("window.start").alias("ws"), "k", "n_rows"),
                      out, str(tmp_path / "ckpt2"))
    got = {(str(r["ws"]), r["k"]): r["n_rows"]
           for r in spark.read.parquet(out).collect()}
    assert got[("2024-01-01 00:00:00", "a")] == 2
    assert got[("2024-01-01 00:01:00", "b")] == 1
    # append mode emits only watermark-closed windows: max event time is
    # 00:05:00, watermark 2min -> the 00:05 window is still open and
    # correctly withheld (the reference's interval flush would emit it
    # half-filled and silently drop stragglers; we bound late data)
    assert ("2024-01-01 00:05:00", "a") not in got


def test_stream_facet(spark, tmp_path):
    rows = [("2024-01-01 00:00:05", "s1", "en"), ("2024-01-01 00:00:30", "s1", "de"),
            ("2024-01-01 00:00:40", "s1", "en"), ("2024-01-01 00:00:50", "s2", "fr"),
            # advances the watermark past the first window so it closes
            ("2024-01-01 00:10:00", "s3", "it")]
    src_dir = tmp_path / "docs"
    spark.createDataFrame(rows, "ts_s string, src string, lang string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .write.parquet(str(src_dir))
    stream = spark.readStream.schema("src string, lang string, ts timestamp") \
        .parquet(str(src_dir))
    agg = sp.facet_stream(stream, "lang", "src", window="1 minute")
    out = str(tmp_path / "fout")
    sp.run_to_parquet(agg.select("src", "facets", "facet_count"),
                      out, str(tmp_path / "ckpt3"))
    got = {r["src"]: (list(r["facets"]), r["facet_count"])
           for r in spark.read.parquet(out).collect()}
    assert got["s1"] == (["de", "en"], 2)
    assert got["s2"] == (["fr"], 1)
    assert "s3" not in got  # its window is still open


def test_stream_throttle_state(spark, tmp_path):
    rows = [(f"k{(i % 2)}", i) for i in range(20)]
    src_dir = tmp_path / "thr"
    spark.createDataFrame(rows, "k string, i long").write.parquet(str(src_dir))
    stream = spark.readStream.schema("k string, i long").parquet(str(src_dir))
    limited = sp.throttle_stream(stream, "k", max_count=3)
    out = str(tmp_path / "tout")
    sp.run_to_parquet(limited, out, str(tmp_path / "ckpt4"))
    got = spark.read.parquet(out).groupBy("k").count().collect()
    assert {r["k"]: r["count"] for r in got} == {"k0": 3, "k1": 3}


def test_stream_throttle_state_across_batches(spark, tmp_path):
    # the per-key count carries over from one micro-batch to the next:
    # three one-file batches of two rows per key pass three rows per key
    src = str(tmp_path / "thr3")
    schema = "k string, i long"
    for b in range(3):
        spark.createDataFrame(
            [(k, b * 10 + i) for k in ("k0", "k1") for i in range(2)],
            schema).coalesce(1).write.mode("append").parquet(src)
    stream = sp.stream_source(spark, src, schema=schema,
                              max_files_per_trigger=1)
    out = str(tmp_path / "tout3")
    q = sp.run_to_parquet(sp.throttle_stream(stream, "k", max_count=3),
                          out, str(tmp_path / "ckpt7"))
    assert q.lastProgress["batchId"] >= 2
    got = spark.read.parquet(out).groupBy("k").count().collect()
    assert {r["k"]: r["count"] for r in got} == {"k0": 3, "k1": 3}


def test_stream_throttle_foreach_batch(spark, tmp_path):
    rows = ([("k0", i) for i in range(4)] + [("k1", 0)]
            + [("k2", i) for i in range(7)])
    src_dir = tmp_path / "thr2"
    spark.createDataFrame(rows, "k string, i long").write.parquet(str(src_dir))
    stream = spark.readStream.schema("k string, i long").parquet(str(src_dir))
    base = str(tmp_path / "tout2")
    sp.run_throttled_batches(stream, "k", base, str(tmp_path / "ckpt6"),
                             min_count=2, max_count=5)
    got = {r["k"]: r["count"]
           for r in spark.read.parquet(base).groupBy("k").count().collect()}
    # k0 in [2,5] passes; k1 under min and k2 over max are blocked
    assert got == {"k0": 4}


def test_stream_throttle_replay_writes_once(spark, tmp_path):
    # a throttled micro-batch replayed after a crash between the sink
    # commit and the stream commit is skipped, not appended twice
    import glob
    import os

    src = str(tmp_path / "src")
    schema = "k string, i long"
    for b in range(3):
        spark.createDataFrame(
            [("k0", b * 10 + i) for i in range(3)] + [("k1", b)], schema,
        ).coalesce(1).write.mode("append").parquet(src)
    base, ck = str(tmp_path / "tout"), str(tmp_path / "ck")

    def run():
        stream = sp.stream_source(spark, src, schema=schema,
                                  max_files_per_trigger=1)
        sp.run_throttled_batches(stream, "k", base, ck,
                                 min_count=2, max_count=5)
        return {r["k"]: r["count"] for r in
                spark.read.parquet(base).groupBy("k").count().collect()}

    first = run()
    assert first == {"k0": 9}  # k1 is under min_count in every window
    last = max(glob.glob(f"{ck}/commits/[0-9]*"),
               key=lambda p: int(os.path.basename(p)))
    for p in (last, os.path.join(os.path.dirname(last),
                                 f".{os.path.basename(last)}.crc")):
        if os.path.exists(p):
            os.remove(p)
    assert run() == first


def test_stream_routed_fanout(spark, token_dir, tmp_path):
    src = sp.stream_source(spark, token_dir)
    parsed = RegexParser(ACCESS_RULES).apply(
        src, tokens_col="tokens", drop_tokens=True)
    sinks = [
        SinkSpec("matched", F.col("event_type") != "Unknown",
                 columns=["doc_id", "event_type", "n_tok"], mode="append"),
        SinkSpec("unmatched", F.col("event_type") == "Unknown",
                 columns=["doc_id", "n_tok"], mode="append"),
    ]
    base = str(tmp_path / "routed")
    sp.run_routed(parsed, sinks, base, str(tmp_path / "ckpt5"))
    m = spark.read.parquet(f"{base}/matched").count()
    u = spark.read.parquet(f"{base}/unmatched").count()
    assert m + u == 2000 and u > 0
    # an overwrite sink would replace each micro-batch with the next
    with pytest.raises(ValueError, match="overwrite"):
        sp.run_routed(parsed, [SinkSpec("all", None)], base,
                      str(tmp_path / "ckpt5b"))


def test_stream_routed_replay_writes_once(spark, tmp_path):
    # a micro-batch replayed after a crash between the sink commits and
    # the stream commit is skipped by the router, not appended twice
    import glob
    import os

    from lumbermill_spark import checkpoint as ckpt

    src = str(tmp_path / "src")
    schema = "doc_id string, event_type string, n_tok int"
    for i in range(3):
        spark.createDataFrame(
            [(f"d{i}-{j}", "error" if j % 3 == 0 else "click", j)
             for j in range(30)], schema,
        ).coalesce(1).write.mode("append").parquet(src)
    sinks = [SinkSpec("errs", "$(event_type) == 'error'", mode="append"),
             SinkSpec("rest", "$(event_type) != 'error'", mode="append")]
    base, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        stream = sp.stream_source(spark, src, schema=schema,
                                  max_files_per_trigger=1)
        sp.run_routed(stream, sinks, base, ck)
        return {s.name: spark.read.parquet(f"{base}/{s.name}").count()
                for s in sinks}

    first = run()
    assert first == {"errs": 30, "rest": 60}
    last = max(glob.glob(f"{ck}/commits/[0-9]*"),
               key=lambda p: int(os.path.basename(p)))
    for p in (last, os.path.join(os.path.dirname(last),
                                 f".{os.path.basename(last)}.crc")):
        if os.path.exists(p):
            os.remove(p)
    assert run() == first
    # one commit row per (batch, sink)
    rows = ckpt.read_checkpoints(spark, base).select("run_id", "sink")
    assert rows.count() == rows.distinct().count() == 3 * len(sinks)


def test_drivers_return_finished_query(spark, tmp_path):
    # every driver processes what is available, stops and returns the
    # finished query with its output written; none takes a trigger
    # option (availableNow=True is the only trigger that runs)
    from lumbermill_spark.router import read_merged

    src = str(tmp_path / "src")
    schema = "doc_id long, version long, k string"
    spark.createDataFrame([(1, 1, "k0"), (2, 1, "k0"), (3, 1, "k1")],
                          schema).write.parquet(src)

    def stream():
        return sp.stream_source(spark, src, schema=schema)

    out = {d: str(tmp_path / d) for d in ("parquet", "routed", "merged",
                                          "throttled")}
    merge = SinkSpec("docs", None, mode="merge",
                     merge_key="doc_id", merge_version="version")
    runs = {
        "parquet": lambda ck, **kw: sp.run_to_parquet(
            stream(), out["parquet"], ck, **kw),
        "routed": lambda ck, **kw: sp.run_routed(
            stream(), [SinkSpec("all", None, mode="append")],
            out["routed"], ck, **kw),
        "merged": lambda ck, **kw: sp.run_merged(
            stream(), merge, out["merged"], ck, **kw),
        "throttled": lambda ck, **kw: sp.run_throttled_batches(
            stream(), "k", out["throttled"], ck, min_count=2, **kw),
    }
    for name, run in runs.items():
        with pytest.raises(TypeError, match="available_now"):
            run(str(tmp_path / f"ck-{name}-x"), available_now=True)
        q = run(str(tmp_path / f"ck-{name}"))
        assert not q.isActive and q.exception() is None, name
    assert spark.read.parquet(out["parquet"]).count() == 3
    assert spark.read.parquet(f"{out['routed']}/all").count() == 3
    assert read_merged(spark, out["merged"], "docs").count() == 3
    assert {r["k"] for r in
            spark.read.parquet(out["throttled"]).collect()} == {"k0"}


def test_namespace_marker_is_crash_safe(spark, tmp_path, monkeypatch):
    # the namespace marker is written through write_atomic: an empty
    # marker gets a fresh namespace that then sticks, a hidden temp file
    # left by a crash mid-write is not read as a namespace, and a failed
    # rename raises instead of leaving a marker behind
    from lumbermill_spark.functions import fsutil

    cp = tmp_path / "cp"
    cp.mkdir()
    (cp / "__lms_ns").write_text("")
    ns = sp._checkpoint_namespace(spark, str(cp))
    assert ns and (cp / "__lms_ns").read_text() == ns
    assert sp._checkpoint_namespace(spark, str(cp)) == ns

    cp2 = tmp_path / "cp2"
    cp2.mkdir()
    (cp2 / ".__lms_ns.tmp").write_text(ns[:5])
    ns2 = sp._checkpoint_namespace(spark, str(cp2))
    assert len(ns2) == len(ns) and ns2 not in (ns, ns[:5])
    assert (cp2 / "__lms_ns").read_text() == ns2
    assert not (cp2 / ".__lms_ns.tmp").exists()

    class NoRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            return False

    real_fs = fsutil._fs

    def no_rename_fs(spark, path):
        jvm, fs, p = real_fs(spark, path)
        return jvm, NoRename(fs), p

    monkeypatch.setattr(fsutil, "_fs", no_rename_fs)
    with pytest.raises(OSError, match="could not rename"):
        sp._checkpoint_namespace(spark, str(tmp_path / "cp3"))
    monkeypatch.undo()
    assert not (tmp_path / "cp3" / "__lms_ns").exists()


def test_stream_merge_sessions(spark, tmp_path):
    # two sessions for u1 (gap > 1 minute between 00:00:40 and 00:10:00),
    # one for u2; the last session stays open past the watermark and is
    # correctly withheld in append mode
    rows = [("2024-01-01 00:00:05", "u1", "a"),
            ("2024-01-01 00:00:40", "u1", "b"),
            ("2024-01-01 00:10:00", "u1", "c"),
            ("2024-01-01 00:00:10", "u2", "x"),
            ("2024-01-01 00:30:00", "u2", "flush-mark")]
    src_dir = tmp_path / "mev"
    spark.createDataFrame(rows, "ts_s string, u string, data string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .write.parquet(str(src_dir))
    stream = spark.readStream.schema("u string, data string, ts timestamp") \
        .parquet(str(src_dir))
    merged = sp.merge_sessions_stream(stream, "u", ts_col="ts",
                                      match_field="data", gap="1 minute",
                                      watermark="2 minutes", glue="|")
    out = str(tmp_path / "merged")
    sp.run_to_parquet(merged, out, str(tmp_path / "ckpt_m"))
    got = {(r["u"], str(r["session_start"])): (r["data"], r["n_merged"])
           for r in spark.read.parquet(out).collect()}
    assert got[("u1", "2024-01-01 00:00:05")] == ("a|b", 2)
    assert got[("u1", "2024-01-01 00:10:00")] == ("c", 1)
    assert got[("u2", "2024-01-01 00:00:10")] == ("x", 1)
    # the 00:30 session is beyond the final watermark -> withheld
    assert ("u2", "2024-01-01 00:30:00") not in got


def test_stream_dedup_exact(spark, tmp_path):
    rows = [(1, "the quick brown fox", "2024-01-01 00:00:01"),
            (2, "THE QUICK BROWN FOX  ", "2024-01-01 00:00:02"),  # dup of 1
            (3, "something else", "2024-01-01 00:00:03"),
            (4, "the quick brown fox", "2024-01-01 00:09:00"),    # dup of 1
            (5, "late unique doc", "2024-01-01 00:09:30")]
    src_dir = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .coalesce(1).write.parquet(str(src_dir))
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp") \
        .parquet(str(src_dir))

    # unbounded-state form: one survivor per distinct normalized text
    out = str(tmp_path / "kept")
    sp.run_to_parquet(sp.dedup_stream(stream), out, str(tmp_path / "ck1"))
    got = spark.read.parquet(out).collect()
    texts = sorted(r["text"].strip().lower() for r in got)
    assert texts == ["late unique doc", "something else",
                     "the quick brown fox"]
    assert {r["doc_id"] for r in got} <= {1, 2, 3, 4, 5}

    # watermarked form: same single-batch input -> same survivors, and
    # the query runs with state-expiry wiring (the scale path)
    out2 = str(tmp_path / "kept_wm")
    sp.run_to_parquet(
        sp.dedup_stream(stream, ts_col="ts", watermark="5 minutes"),
        out2, str(tmp_path / "ck2"))
    assert spark.read.parquet(out2).count() == 3


def test_stream_merge_sink(spark, tmp_path):
    # streaming SCD-1 ingestion: two source files arriving across two
    # stream RESTARTS merge into one latest-version snapshot; the
    # checkpoint ensures the second run processes only the new file.
    from lumbermill_spark.router import SinkSpec, read_merged

    src = tmp_path / "src"
    base = str(tmp_path / "m")
    ckpt = str(tmp_path / "ck")
    spec = SinkSpec("docs", None, mode="merge",
                    merge_key="doc_id", merge_version="version")
    schema = "doc_id long, version long, body string"
    spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1")], schema
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    sp.run_merged(stream, spec, base, ckpt)
    snap1 = {r["doc_id"]: r["body"]
             for r in read_merged(spark, base, "docs").collect()}
    assert snap1 == {1: "a1", 2: "b1"}
    # second file: update doc 2 (v2), stale doc 1 (v0), new doc 3
    spark.createDataFrame(
        [(2, 2, "b2"), (1, 0, "a0"), (3, 1, "c1")], schema
    ).write.mode("append").parquet(str(src))
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    sp.run_merged(stream2, spec, base, ckpt)
    snap2 = {r["doc_id"]: (r["version"], r["body"])
             for r in read_merged(spark, base, "docs").collect()}
    assert snap2 == {1: (1, "a1"), 2: (2, "b2"), 3: (1, "c1")}
    # non-merge spec is rejected
    import pytest as _pt
    with _pt.raises(ValueError, match="mode='merge'"):
        sp.run_merged(stream2, SinkSpec("x", None), base, ckpt)
    # checkpoint REBUILD (the reprocess-from-scratch ops move): batch
    # ids restart at 0, but the fresh namespace means the replayed
    # batches are NOT resume-skipped against the old run_ids — the
    # merge still applies (doc 2 advances to v3)
    import shutil
    shutil.rmtree(ckpt)
    spark.createDataFrame([(2, 3, "b3")], schema) \
        .write.mode("append").parquet(str(src))
    stream3 = spark.readStream.schema(schema).parquet(str(src))
    sp.run_merged(stream3, spec, base, ckpt)
    snap3 = {r["doc_id"]: r["body"]
             for r in read_merged(spark, base, "docs").collect()}
    assert snap3[2] == "b3" and snap3[1] == "a1" and snap3[3] == "c1"
