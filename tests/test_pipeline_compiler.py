"""Compiler-level features: config validation, set_internal store,
ExecPython escape hatch, Kafka option wiring."""

import pytest
from pyspark.sql import functions as F

from lumbermill_spark.pipeline import compile_pipeline


@pytest.fixture()
def ev(spark):
    return spark.createDataFrame(
        [(1, "click", 3.0), (2, "error", 5.0), (3, "click", 2.0)],
        "event_id long, event_type string, value double",
    )


# ------------------------------------------------------------------ #
# config validation (ConfigurationValidator.py analog)

def test_unknown_module_fails_at_compile(spark):
    with pytest.raises(ValueError, match="unknown module.*parser.Regx"):
        compile_pipeline(spark, [{"parser.Regx": {}}])


def test_unknown_module_suggests(spark):
    with pytest.raises(ValueError, match="did you mean 'parser.Regex'"):
        compile_pipeline(spark, [{"parser.Regex2": {}}])


def test_unknown_option_fails_before_any_job(spark):
    with pytest.raises(ValueError,
                       match="unknown option 'sourcefield'.*parser.Csv"):
        compile_pipeline(spark, [
            {"parser.Csv": {"fieldnames": ["a"], "sourcefield": "x"}},
        ])


def test_unknown_option_suggests(spark):
    with pytest.raises(ValueError, match="did you mean 'source_field'"):
        compile_pipeline(spark, [
            {"parser.Csv": {"fieldnames": ["a"], "sourcefield": "x"}},
        ])


def test_regex_engine_is_not_an_option(spark):
    # the patterns pick the regex engine; there is no key to set it
    with pytest.raises(ValueError,
                       match="unknown option 'engine'.*parser.Regex"):
        compile_pipeline(spark, [
            {"parser.Regex": {"field_extraction_patterns": [{"a": "(?P<x>a)"}],
                              "engine": "expr"}},
        ])


def test_unknown_field_action_fails(spark):
    with pytest.raises(ValueError, match="unknown field action 'uper'"):
        compile_pipeline(spark, [{"modifier.Field": {"action": "uper"}}])


def test_field_action_option_validated(spark, ev):
    with pytest.raises(ValueError,
                       match="unknown option 'sourcefield'.*modifier.Field"):
        compile_pipeline(spark, [
            {"modifier.Field": {"action": "upper", "sourcefield": ["x"]}},
        ])
    # YAML says 'with' (a Python keyword) for the replace action's with_
    p = compile_pipeline(spark, [
        {"modifier.Field": {"action": "replace", "source_field": "event_type",
                            "regex": "^cl", "with": "CL"}},
    ])
    out = {r["event_id"]: r["event_type"] for r in p.dataframe(ev).collect()}
    assert out == {1: "CLick", 2: "error", 3: "CLick"}


def test_missing_required_option_fails_at_compile(spark):
    # ADVICE r2: a misc.SetInternal without 'key' used to die later with
    # a bare KeyError inside dataframe(); _wrap'ed modules missing a
    # required param used to surface as TypeError from the builder.
    # Both must fail at compile naming the field.
    with pytest.raises(ValueError,
                       match="misc.SetInternal.*missing required.*'key'"):
        compile_pipeline(spark, [{"misc.SetInternal": {"value": "x"}}])
    with pytest.raises(ValueError,
                       match="parser.Csv.*missing required.*'fieldnames'"):
        compile_pipeline(spark, [{"parser.Csv": {"source_field": "x"}}])
    with pytest.raises(ValueError,
                       match="parser.Regex.*'field_extraction_patterns'"):
        compile_pipeline(spark, [{"parser.Regex": {}}])
    with pytest.raises(ValueError,
                       match="modifier.Field.*missing required"):
        compile_pipeline(spark, [{"modifier.Field": {"action": "rename"}}])
    with pytest.raises(ValueError,
                       match="input.Tokens.*missing required option.*'path'"):
        compile_pipeline(spark, [{"input.Tokens": {"format": "parquet"}}])


def test_sink_and_input_options_validated(spark):
    with pytest.raises(ValueError, match="unknown option 'filtr'"):
        compile_pipeline(spark, [{"output.Parquet": {"filtr": "x"}}])
    with pytest.raises(ValueError, match="unknown option 'rows'"):
        compile_pipeline(spark, [{"input.Tokens": {"rows": 5}}])
    # an unknown sink mode fails at compile, not after earlier sinks
    # of the run have written and committed
    with pytest.raises(ValueError, match="mode must be one of.*'upsert'"):
        compile_pipeline(spark, "pipeline:\n"
                                "  - output.Parquet: {name: a}\n"
                                "  - output.Parquet: {name: b, mode: upsert}\n")


_COMMON = {"filter": "$(event_type) == 'x'", "add_fields": {"k": "v"},
           "delete_fields": ["k"], "set_event_type": "y"}
_SINK = {"name": "s", "filter": "$(event_type) == 'x'", "path": "/unused/s",
         "format": "parquet", "partition_by": ["event_type"],
         "columns": ["doc_id", "event_type"], "mode": "merge",
         "compression": "snappy", "line_format": "$(doc_id)",
         "merge_key": "doc_id", "merge_version": "n_tok"}
_MERGE_REQUIRED = ["merge_key", "merge_version"]  # because mode is merge
_PINNED = [
    ("parser.Regex",
     {"field_extraction_patterns": [{"a": "(?P<x>a)"}], "source_field": "data",
      "mark_unmatched_as": "Unknown", "break_on_match": True,
      "hot_rules_first": True, "tokens_col": "tokens",
      "optimize_rule_order": False, "drop_tokens": False, **_COMMON},
     ["field_extraction_patterns"]),
    ("modifier.AddGeoInfo",
     {"geo_table_path": "/unused/geo", "source_fields": ["ip"],
      "prefix_len": 3, "target_field": "geo_info", **_COMMON},
     ["geo_table_path", "source_fields"]),
    ("modifier.DropEvent", dict(_COMMON), []),
    ("misc.Throttle",
     {"key": "source", "timeframe": "hour", "ts_field": "ts", "min_count": 1,
      "max_count": 5, **_COMMON},
     ["key"]),
    ("misc.Noop", dict(_COMMON), []),
    ("misc.SetInternal", {"key": "k", "value": 1}, ["key"]),
    ("input.Tokens", {"path": "TABLE", "format": "parquet"}, ["path"]),
    ("input.Synthetic", {"rows": 10, "seed": 7}, []),
    ("output.Parquet", dict(_SINK), _MERGE_REQUIRED),
    ("output.File", dict(_SINK), _MERGE_REQUIRED),
    ("output.DevNull", dict(_SINK), _MERGE_REQUIRED),
    ("output.StdOut", dict(_SINK), _MERGE_REQUIRED),
]


@pytest.mark.parametrize("module,cfg,required", _PINNED,
                         ids=[m for m, _, _ in _PINNED])
def test_module_option_sets_pinned(spark, tmp_path, module, cfg, required):
    # every option these modules took before their declarations moved
    # into builder signatures still compiles, and each required one is
    # still required by name
    cfg = dict(cfg)
    if cfg.get("path") == "TABLE":
        cfg["path"] = str(tmp_path / "tokens")
        spark.range(3).write.parquet(cfg["path"])
    compile_pipeline(spark, [{module: cfg}])
    for key in required:
        short = {k: v for k, v in cfg.items() if k != key}
        # KeyError: input.Tokens named its missing path that way before
        with pytest.raises((ValueError, KeyError), match=f"'{key}'"):
            compile_pipeline(spark, [{module: short}])


def test_shipped_yaml_compiles(spark, tmp_path):
    # the YAML the repo ships: the example, and the benchmark's copy
    # with its TOKENS placeholder pointed at a real token table
    import os

    import yaml

    from lumbermill_spark.data.synth import synth_tokens

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tokens = str(tmp_path / "tokens")
    synth_tokens(spark, 20, num_partitions=1).write.parquet(tokens)
    with open(os.path.join(root, "examples", "flagship.yaml")) as f:
        example = f.read()
    with open(os.path.join(root, "lmbench", "flagship_routed.yaml")) as f:
        routed = yaml.safe_load(f)
    assert routed["pipeline"][0] == {"input.Tokens": {"path": "TOKENS"}}
    routed["pipeline"][0] = {"input.Tokens": {"path": tokens}}
    for spec in (example, routed):
        p = compile_pipeline(spark, spec)
        assert [n for n, _ in p.stages] == [
            "misc.SaltedRepartition", "parser.Regex", "modifier.Field",
            "parser.SyslogPrival"]
        assert [(s.name, s.format, s.filter, s.line_format, s.compression)
                for s in p.sinks] == [
            ("web", "parquet",
             "$(event_type) in ('httpd_access_log', 'nginx_access_log')",
             None, None),
            ("firewall", "parquet", "$(event_type) == 'iptables_log'",
             None, None),
            ("unmatched", "text", "$(event_type) == 'Unknown'",
             "$(doc_id) $(n_tok)", "gzip"),
        ]
        assert {"event_type", "status_class"} <= set(p.dataframe().columns)


def test_common_keys_still_accepted(spark, ev):
    p = compile_pipeline(spark, [
        {"modifier.Field": {"action": "upper", "source_fields": ["event_type"],
                            "filter": "$(value) > 2.5"}},
    ])
    out = {r["event_id"]: r["event_type"] for r in p.dataframe(ev).collect()}
    assert out == {1: "CLICK", 2: "ERROR", 3: "click"}


# ------------------------------------------------------------------ #
# input filters: one conditional projection, or split/union

_ROUTED = [
    (1, "a", "x", "12", "13", 1.5, "l1\nl2"),
    (2, "b", "y", "7", "30", 2.0, "l3"),
    (3, None, "z", "oops", "165", None, None),
    (4, "a", None, None, None, 4.0, "l4\nl5\nl6"),
    (5, "b", "x", "3.9", "7", -1.0, "l7"),
]
_ROUTED_SCHEMA = ("id long, kind string, v string, n string, prival string, "
                  "x double, data string")


@pytest.fixture()
def routed(spark):
    # kind 'a' is handled; 'b' and null (a null predicate) bypass. The
    # repartition keeps the optimizer from folding the rows into the
    # plan, so the projection runs in a real task.
    return spark.createDataFrame(_ROUTED, _ROUTED_SCHEMA).repartition(2)


def _split_union(df, name, cfg):
    """The reference bypass: split, transform the handled rows, union."""
    from lumbermill_spark.functions.filters import filter_to_column
    from lumbermill_spark.pipeline import TRANSFORMS, _COMMON_KEYS, _common_actions

    cfg = dict(cfg)
    pred = filter_to_column(cfg.pop("filter"))
    common = {k: cfg.pop(k) for k in list(cfg) if k in _COMMON_KEYS}
    handled = _common_actions(TRANSFORMS[name](df.filter(pred), **cfg), common)
    return handled.unionByName(df.filter(~F.coalesce(pred, F.lit(False))),
                               allowMissingColumns=True)


def _bag(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _has_union(df) -> bool:
    # the analyzed plan: the optimizer drops a union with an empty side
    return "Union" in df._jdf.queryExecution().analyzed().toString()


_A = {"filter": "$(kind) == 'a'"}
_PROJECTING = [
    ("modifier.Field", {"action": "map", "source_field": "v",
                        "map": {"x": "ex", "y": "why"},
                        "target_field": "v_class", **_A}),
    ("modifier.Field", {"action": "upper", "source_fields": ["v"], **_A}),
    ("modifier.Field", {"action": "cast_to_int", "source_fields": ["n"], **_A}),
    ("modifier.Field", {"action": "delete", "source_fields": ["v", "n"], **_A}),
    ("parser.SyslogPrival", {"source_field": "prival", **_A}),
    ("modifier.Math", {"target_field": "x", "function": "x * 2 + id", **_A}),
    ("misc.Noop", {"add_fields": {"greet": "hi $(v)", "n": "set"},
                   "delete_fields": ["data"], "set_event_type": "t", **_A}),
]
_NOT_PROJECTING = [
    ("parser.Line", {"source_field": "data", **_A}),
    ("modifier.DropEvent", dict(_A)),
    ("misc.Throttle", {"key": "v", "min_count": 2, **_A}),
    ("modifier.Field", {"action": "keep", "source_fields": ["id", "v"], **_A}),
    ("modifier.Field", {"action": "string_replace", "source_field": "v",
                        "old": "x", "new": "X", "max": 1, **_A}),
    # reads every column, so it would see the hidden copies
    ("parser.JsonEncode", {"target_field": "json", **_A}),
    # renames every column, the hidden copies too
    ("modifier.Field", {"action": "rename_regex", "regex": "^_*", "replace": "c_",
                        **_A}),
]


def _ids(cases):
    return [f"{n}:{c.get('action', '')}" for n, c in cases]


@pytest.mark.parametrize("name,cfg", _PROJECTING, ids=_ids(_PROJECTING))
def test_filtered_projection_matches_split_union(spark, routed, name, cfg):
    from lumbermill_spark.pipeline import _apply_module

    got, ref = _apply_module(routed, name, cfg), _split_union(routed, name, cfg)
    assert not _has_union(got)
    assert got.schema == ref.schema
    assert _bag(got) == _bag(ref)
    # bypassed rows, the null-predicate row among them, are unchanged
    keep = [c for c in routed.columns if c in got.columns]
    bypassed = "kind IS NULL OR kind != 'a'"
    assert _bag(got.filter(bypassed).select(keep)) == \
        _bag(routed.filter(bypassed).select(keep))


@pytest.mark.parametrize("name,cfg", _NOT_PROJECTING, ids=_ids(_NOT_PROJECTING))
def test_filtered_non_projection_keeps_split_union(spark, routed, name, cfg):
    from lumbermill_spark.pipeline import _apply_module

    got, ref = _apply_module(routed, name, cfg), _split_union(routed, name, cfg)
    assert _has_union(got)
    assert got.schema == ref.schema
    assert _bag(got) == _bag(ref)


@pytest.mark.parametrize("extra,projection", [
    ({"add_fields": {"seen": "yes"}}, True),
    # x feeds two more columns, so Catalyst keeps the Project computing
    # it apart from the CaseWhen: that module takes split/union
    ({"add_fields": {"seen": "$(x)", "again": "$(x)"}}, False),
], ids=["inlined", "reused"])
def test_filtered_module_skips_bypassed_rows(spark, extra, projection):
    # new values are computed on handled rows only: a function that
    # raises on every other row runs, and bypassed rows stay identical.
    # Local rows: the optimizer evaluates while planning any Project it
    # cannot merge into the CaseWhen, over every row.
    local = spark.createDataFrame(_ROUTED, _ROUTED_SCHEMA)
    p = compile_pipeline(spark, [{"modifier.Math": {
        "target_field": "x", "filter": "$(kind) == 'a'",
        "function": "if(kind = 'a', x * 10, raise_error('bypassed row'))",
        **extra}}])
    out = p.dataframe(local)
    assert _has_union(out) != projection
    got = {r["id"]: r for r in out.collect()}
    for row in _ROUTED:
        if row[1] != "a":
            assert [got[row[0]][c] for c in local.columns] == list(row)
            assert got[row[0]]["seen"] is None
    assert [got[i]["x"] for i in (1, 4)] == [15.0, 40.0]


def test_filtered_projection_on_a_stream(spark, tmp_path):
    # a streaming frame cannot be optimized through its QueryExecution;
    # the filtered projection still compiles and runs on it
    src = str(tmp_path / "src")
    spark.createDataFrame([("a", "keep"), ("b", "skip"), ("c", None)],
                          "v string, tag string").write.parquet(src)
    stream = spark.readStream.schema("v string, tag string").parquet(src)
    p = compile_pipeline(spark, [{"modifier.Field": {
        "action": "upper", "source_fields": ["v"], "filter": "$(tag) == 'keep'"}}])
    out = p.dataframe(stream)
    assert out.isStreaming and not _has_union(out)
    q = (out.writeStream.format("memory").queryName("filtered_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.table("filtered_stream").collect()
    assert sorted(tuple(r) for r in got) == [
        ("A", "keep"), ("b", "skip"), ("c", None)]


# ------------------------------------------------------------------ #
# set_internal (BaseModule.py:234-235 analog)

def test_set_internal_feeds_later_module(spark, ev):
    p = compile_pipeline(spark, [
        {"misc.SetInternal": {"key": "run_tag", "value": "r42"}},
        {"modifier.Field": {"action": "insert", "target_field": "tag",
                            "value": "@internal:run_tag"}},
    ])
    out = p.dataframe(ev)
    assert {r["tag"] for r in out.collect()} == {"r42"}
    # programmatic surface + broadcast handle
    p.internal.set("threshold", 2.5)
    assert p.internal.get("threshold") == 2.5
    assert p.internal.broadcast("threshold").value == 2.5


@pytest.mark.parametrize("key", sorted(_COMMON))
def test_set_internal_rejects_common_keys(spark, key):
    # SetInternal sets a driver-side value; a row filter or row action
    # on it would compile and then be ignored
    with pytest.raises(ValueError, match=f"unknown option '{key}' for "
                                         "module 'misc.SetInternal'"):
        compile_pipeline(spark, [{"misc.SetInternal": {
            "key": "k", "value": 1, key: _COMMON[key]}}])


def test_internal_unset_key_raises(spark, ev):
    p = compile_pipeline(spark, [
        {"modifier.Field": {"action": "insert", "target_field": "tag",
                            "value": "@internal:nope"}},
    ])
    with pytest.raises(KeyError, match="nope"):
        p.dataframe(ev)


# ------------------------------------------------------------------ #
# ExecPython escape hatch (modifier/ExecPython.py analog)

def test_exec_python_fn(spark, ev):
    from lumbermill_spark.operators.escape import exec_python

    def double(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"] * 2
        return pdf

    out = exec_python(ev, fn=double)
    assert {r["value"] for r in out.collect()} == {6.0, 10.0, 4.0}
    assert out.schema == ev.schema


def test_exec_python_code_via_pipeline(spark, ev):
    code = (
        "def transform(pdf):\n"
        "    pdf = pdf.copy()\n"
        "    pdf['event_type'] = pdf['event_type'].str.upper()\n"
        "    return pdf\n"
    )
    p = compile_pipeline(spark, [{"modifier.ExecPython": {"code": code}}])
    out = {r["event_type"] for r in p.dataframe(ev).collect()}
    assert out == {"CLICK", "ERROR"}


def test_exec_python_schema_change(spark, ev):
    from lumbermill_spark.operators.escape import exec_python

    out = exec_python(
        ev,
        code=("def transform(pdf):\n"
              "    import pandas as pd\n"
              "    return pd.DataFrame({'n': [len(pdf)]})\n"),
        schema="n long",
    )
    assert sum(r["n"] for r in out.collect()) == 3


def test_exec_python_arg_validation(spark, ev):
    from lumbermill_spark.operators.escape import exec_python

    with pytest.raises(ValueError, match="exactly one"):
        exec_python(ev)
    with pytest.raises(ValueError, match="exactly one"):
        exec_python(ev, fn=lambda p: p, code="x = 1")


# ------------------------------------------------------------------ #
# Kafka option wiring (jar-gated; no broker needed)

def test_kafka_option_wiring():
    from lumbermill_spark.streaming.kafka import (
        kafka_read_options, kafka_write_options)

    r = kafka_read_options(brokers=["b1:9092", "b2:9092"],
                           topics=["logs", "metrics"],
                           group_id="lm", starting_offsets="earliest")
    assert r == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "logs,metrics",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "kafka.group.id": "lm",
    }
    w = kafka_write_options(brokers="b1:9092", topic="out")
    assert w == {"kafka.bootstrap.servers": "b1:9092", "topic": "out"}


def test_kafka_source_fails_fast_without_jar(spark):
    from lumbermill_spark.streaming.kafka import kafka_source

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_source(spark, brokers="b:9092", topics="t")


# ------------------------------------------------------------------ #
# multimodal real codec (conditional on Pillow)

def test_decode_images_real_codec_runs(spark):
    # real codec must execute in ANY runtime: Pillow when present, the
    # bundled pure-stdlib PNG codec otherwise (stub is video-only now)
    import numpy as np

    from lumbermill_spark.functions import png_lite
    from lumbermill_spark.training import multimodal

    rgb = np.zeros((6, 8, 3), dtype=np.uint8)
    rgb[:, :, 0] = 255                        # pure red
    gray = np.full((4, 5), 128, dtype=np.uint8)
    df = spark.createDataFrame(
        [("m-rgb", bytearray(png_lite.encode_png(rgb))),
         ("m-gray", bytearray(png_lite.encode_png(gray)))],
        "media_id string, payload binary")
    rows = {r["media_id"]: r
            for r in multimodal.decode_images(df, codec="real").collect()}
    r = rows["m-rgb"]
    assert (r["width"], r["height"], r["channels"]) == (8, 6, 3)
    assert abs(r["mean_luma"] - 0.299) < 2 / 255  # ITU-R 601-2 red luma
    g = rows["m-gray"]
    assert (g["width"], g["height"], g["channels"]) == (5, 4, 1)
    assert abs(g["mean_luma"] - 128 / 255) < 1e-6
    # non-image payloads still fail loudly, not silently
    media = multimodal.synth_media(spark, 2)
    with pytest.raises(Exception,
                       match="not a PNG|cannot identify|image"):
        multimodal.decode_images(media, codec="real").collect()


def test_resize_real_codec(spark):
    import numpy as np

    from lumbermill_spark.functions import png_lite
    from lumbermill_spark.training import multimodal

    arr = np.arange(12 * 10 * 3, dtype=np.uint8).reshape(12, 10, 3)
    df = spark.createDataFrame(
        [("m-1", bytearray(png_lite.encode_png(arr)))],
        "media_id string, payload binary")
    out = multimodal.resize(df, 5, 6, codec="real").first()
    assert (out["width"], out["height"]) == (5, 6)
    back = png_lite.decode_png(bytes(out["payload"]))
    assert back.shape == (6, 5, 3)


def test_iceberg_option_wiring():
    from lumbermill_spark.iceberg import iceberg_catalog_conf, read_options

    c = iceberg_catalog_conf(catalog="lm", warehouse="file:///tmp/w")
    assert c == {
        "spark.sql.catalog.lm": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.lm.type": "hadoop",
        "spark.sql.catalog.lm.warehouse": "file:///tmp/w",
    }
    # non-hadoop catalogs carry no warehouse key
    assert "spark.sql.catalog.h.warehouse" not in iceberg_catalog_conf(
        catalog="h", catalog_type="hive")
    assert read_options(snapshot_id=42) == {"snapshot-id": "42"}
    assert read_options(as_of_ms=1700000000000) == {
        "as-of-timestamp": "1700000000000"}
    assert read_options() == {}
    with pytest.raises(ValueError, match="not both"):
        read_options(snapshot_id=1, as_of_ms=2)


def test_iceberg_fails_fast_without_jar(spark):
    from lumbermill_spark.iceberg import read_table, write_table

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_table(spark, "lm.db.tokens")
    df = spark.range(1)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_table(df, "lm.db.tokens")
    # mode vocabulary: full overwrite and dynamic partition overwrite
    # are distinct modes (overwritePartitions only replaces partitions
    # present in df — not what the name "overwrite" promises)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_table(df, "lm.db.tokens", mode="overwrite_partitions")
    with pytest.raises(ValueError, match="mode must be"):
        write_table(df, "lm.db.tokens", mode="replace")


def test_iceberg_last_snapshot_id_from_metadata(spark, tmp_path):
    # a path-based table's newest snapshot comes from its metadata file
    # in pure Python: no runtime jar is on this session's classpath
    import gzip
    import json

    from lumbermill_spark.iceberg import (last_snapshot_id,
                                          metadata_last_snapshot_id)

    table = str(tmp_path / "tbl")
    meta = tmp_path / "tbl" / "metadata"
    meta.mkdir(parents=True)

    def version(n, snapshots, name="v{}.metadata.json"):
        doc = {"format-version": 2, "table-uuid": "9c1f0d2e",
               "location": table,
               "current-snapshot-id": (snapshots[0]["snapshot-id"]
                                       if snapshots else -1),
               "snapshots": snapshots}
        text = json.dumps(doc)
        if ".gz" in name:
            (meta / name.format(n)).write_bytes(gzip.compress(text.encode()))
        else:
            (meta / name.format(n)).write_text(text)

    version(1, [])
    assert metadata_last_snapshot_id(table) is None
    s1 = {"snapshot-id": 3051729675574597004, "timestamp-ms": 1700000000000}
    s2 = {"snapshot-id": 1278532908462301785, "timestamp-ms": 1700000360000}
    s3 = {"snapshot-id": 5520394011853301777, "timestamp-ms": 1700000720000}
    s4 = {"snapshot-id": 8815307162045963120, "timestamp-ms": 1700001080000}
    version(2, [s1])
    # without a version hint the highest version is current
    assert metadata_last_snapshot_id(table) == s1["snapshot-id"]
    (meta / "version-hint.text").write_text("2\n")
    assert last_snapshot_id(spark, table) == s1["snapshot-id"]
    # a commit cut between renaming v3 into place and rewriting the
    # hint: v3 is current although the hint still names 2
    version(3, [s2, s1])   # the newest commit, listed first
    assert metadata_last_snapshot_id(f"file://{table}") == s2["snapshot-id"]
    # gzip-compressed metadata, both names Iceberg writes or reads
    version(4, [s3, s2, s1], "v{}.gz.metadata.json")
    assert metadata_last_snapshot_id(table) == s3["snapshot-id"]
    version(5, [s4, s3, s2, s1], "v{}.metadata.json.gz")
    assert metadata_last_snapshot_id(table) == s4["snapshot-id"]
    (meta / "version-hint.text").write_text("5")
    assert last_snapshot_id(spark, table) == s4["snapshot-id"]
    (meta / "version-hint.text").write_text("7")
    with pytest.raises(FileNotFoundError, match="version 7"):
        metadata_last_snapshot_id(table)
    # a catalog table still needs the runtime
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        last_snapshot_id(spark, "lm.db.tokens")


def test_required_if_sink_merge(spark):
    # conditional config validation (reference `is: required if ...`
    # clauses, ConfigurationValidator.py:26-45): a merge-mode output
    # without merge_key/merge_version must fail AT COMPILE, naming the
    # missing options, before any Spark job runs
    from lumbermill_spark.pipeline import compile_pipeline

    bad = [{"input.Synthetic": {"rows": 10}},
           {"output.Parquet": {"name": "docs", "mode": "merge"}}]
    with pytest.raises(ValueError,
                       match="required when 'mode' is 'merge'"):
        compile_pipeline(spark, bad)
    ok = [{"input.Synthetic": {"rows": 10}},
          {"output.Parquet": {"name": "docs", "mode": "merge",
                              "merge_key": "doc_id",
                              "merge_version": "seq"}}]
    compiled = compile_pipeline(spark, ok)
    assert compiled.sinks[0].merge_key == "doc_id"
