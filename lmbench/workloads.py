"""The three benchmark workloads, each driven through the program's public API.

Each workload:

- ``prepare()`` builds its inputs from the seed and its oracle reference
  (no Spark; both cached by seed and size);
- ``compile(spark)`` does the set-up a user pays once: building the plan,
  pipeline or stream definition;
- ``warm(spark)`` runs the workload, unchecked, until the JVM and the
  Python workers are warm;
- ``iterate(spark, tracer)`` runs the workload once, timed;
- ``check(spark, it)`` compares that run's outputs with the reference;
- ``ladder(spark)`` returns the cumulative noop-sink rungs that attribute
  time to the lazy layers: each rung is the previous one plus one layer;
- ``layer_metrics(...)`` turns the spans, rungs and stage metrics of one
  traced run into the per-layer figures this workload exercises.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import oracle
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes per scale.  "full" is what the benchmark measures; "tiny" is for
# the self-tests.
SCALES = {
    "full": {"agg_rows": 150_000, "yaml_rows": 5_000,
             "merge_k": 3, "merge_rows": 3_000},
    "tiny": {"agg_rows": 3_000, "yaml_rows": 1_000,
             "merge_k": 3, "merge_rows": 300},
}
REDELIVER = 0.2        # share of an increment's doc_ids re-sent by the next
TABLE_FILES = 8        # parquet files per token table (2 per core on 4 cores)
# agg_flagship warm-up: the JIT keeps speeding up the regex stage for
# several runs
WARM_SECONDS = 10.0

# Eager calls timed as spans in the traced run: (module, attribute, span).
# pipeline.route_and_write and router.route_and_write are the same
# function, reached from CompiledPipeline.run and from the streaming
# driver respectively.
WRAPPED = [
    ("lumbermill_spark.checkpoint", "commit", "checkpoint.commit"),
    ("lumbermill_spark.checkpoint", "partition_lineage", "checkpoint.partition_lineage"),
    ("lumbermill_spark.checkpoint", "committed_sinks", "checkpoint.committed_sinks"),
    ("lumbermill_spark.checkpoint", "read_checkpoints", "checkpoint.read_checkpoints"),
    ("lumbermill_spark.router", "merge_snapshot_path", "router.merge_snapshot_path"),
    ("lumbermill_spark.pipeline", "route_and_write", "router.route_and_write"),
    ("lumbermill_spark.router", "route_and_write", "router.route_and_write"),
    ("lumbermill_spark.operators.stateful", "upsert_latest", "stateful.upsert_latest"),
]
CKPT_READS = {"checkpoint.read_checkpoints", "checkpoint.committed_sinks",
              "router.merge_snapshot_path"}


@dataclass
class Iteration:
    secs: float
    seqs: int
    toks: int
    batch_secs: list[float] = field(default_factory=list)
    bad: list[str] = field(default_factory=list)
    attempted: int = 1      # checked units: runs, plus micro-batches


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _json_cached(path: str, build):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = build()
    with open(path + ".tmp", "w") as f:
        json.dump(val, f)
    os.replace(path + ".tmp", path)
    return val


def _count_files(path: str, suffixes: tuple[str, ...]) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(suffixes)
                 and not f.startswith((".", "_")))
    return n


def _scan_nodes(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan")


class Workload:
    name = ""

    def __init__(self, cache: str, seed: int, scale: str):
        self.seed = seed
        self.size = SCALES[scale]
        self.inputs = os.path.join(cache, "inputs")
        self.work = os.path.join(cache, "work", self.name)
        os.makedirs(self.inputs, exist_ok=True)

    def _token_table(self, rows: int) -> tuple[str, str]:
        """(cache dir, parquet dir) of the seeded token table."""
        d = gen.cached(self.inputs, f"tokens-s{self.seed}-n{rows}",
                       lambda d: gen.write_table(gen.token_table(self.seed, rows),
                                                 os.path.join(d, "data"), TABLE_FILES))
        return d, os.path.join(d, "data")

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm(self, spark) -> None:
        # the first run is cold: codegen, Python workers, JIT
        self.iterate(spark)

    def layer_metrics(self, spark, spans, rungs, groups) -> dict:
        return {}


# ---------------------------------------------------------------- agg_flagship

class AggFlagship(Workload):
    """scan -> RegexParser(ACCESS_RULES), default engine -> pre-aggregate ->
    field_actions.map_ -> route_tag -> per-sink aggregate collect()."""

    name = "agg_flagship"

    def prepare(self) -> None:
        ref_dir, self.tokens = self._token_table(self.size["agg_rows"])
        table = pq.read_table(self.tokens)
        self.n_seq = table.num_rows
        self.n_tok = sum(table.column("n_tok").to_pylist())
        ref = _json_cached(os.path.join(ref_dir, "ref-agg.json"), lambda: [
            [*k, *v] for k, v in oracle.agg_reference(table).items()])
        self.ref = {tuple(r[:3]): r[3:] for r in ref}

    def _parsed(self, spark):
        from lumbermill_spark.operators.regex_parser import RegexParser
        from lumbermill_spark.pipelines_builtin import ACCESS_RULES

        df = spark.read.parquet(self.tokens)
        return RegexParser(ACCESS_RULES).apply(df, tokens_col="tokens",
                                               drop_tokens=True)

    @staticmethod
    def _pre(parsed):
        from pyspark.sql import functions as F

        return parsed.groupBy("event_type", "http_status").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_tok").cast("long").alias("sum_tok"))

    @staticmethod
    def _enrich(pre):
        from lumbermill_spark.operators import field_actions
        from lumbermill_spark.pipelines_builtin import HTTP_STATUS_MAP

        return field_actions.map_(pre, "http_status", HTTP_STATUS_MAP,
                                  target_field="status_class")

    @staticmethod
    def _route(enriched):
        from pyspark.sql import functions as F
        from lumbermill_spark.router import SinkSpec, route_tag

        sinks = [SinkSpec("web", F.col("event_type").isin(*oracle.WEB)),
                 SinkSpec("firewall", F.col("event_type") == "iptables_log"),
                 SinkSpec("unmatched", None)]
        return route_tag(enriched, sinks).groupBy(
            "sink", "event_type", "status_class").agg(
            F.sum("n_rows").alias("n_rows"), F.sum("sum_tok").alias("sum_tok"))

    def plan(self, spark):
        return self._route(self._enrich(self._pre(self._parsed(spark))))

    def compile(self, spark) -> None:
        self.plan(spark)

    def warm(self, spark) -> None:
        end = time.perf_counter() + WARM_SECONDS
        while time.perf_counter() < end:
            self.iterate(spark)

    def iterate(self, spark, tracer=None) -> Iteration:
        t0 = time.perf_counter()
        self.rows = self.plan(spark).collect()
        return Iteration(time.perf_counter() - t0, self.n_seq, self.n_tok)

    def check(self, spark, it: Iteration) -> None:
        got = [(r["sink"], r["event_type"], r["status_class"], r["n_rows"],
                r["sum_tok"]) for r in self.rows]
        it.bad += oracle.check_agg(got, self.ref)

    def ladder(self, spark) -> list:
        from lumbermill_spark.functions.tokens import decode_tokens_arrow

        read = lambda: spark.read.parquet(self.tokens)  # noqa: E731
        return [
            ("scan", lambda: noop(read())),
            ("decode", lambda: noop(decode_tokens_arrow(read(), "tokens",
                                                        drop_tokens=True))),
            ("parse", lambda: noop(self._parsed(spark).select(
                "event_type", "http_status", "n_tok"))),
            ("aggregate", lambda: self._pre(self._parsed(spark)).collect()),
            ("enrich", lambda: self._enrich(self._pre(self._parsed(spark))).collect()),
            ("tag", lambda: self.plan(spark).collect()),
        ]

    def layer_metrics(self, spark, spans, rungs, groups) -> dict:
        return {"pipeline.plan_scan_nodes": _scan_nodes(self.plan(spark))}


# ---------------------------------------------------------------- yaml_routed

class YamlRouted(Workload):
    """The flagship.yaml stage list on the generated table through
    compile_pipeline(spark, spec).run(base)."""

    name = "yaml_routed"

    def prepare(self) -> None:
        import yaml

        ref_dir, self.tokens = self._token_table(self.size["yaml_rows"])
        table = pq.read_table(self.tokens)
        self.n_seq = table.num_rows
        self.n_tok = sum(table.column("n_tok").to_pylist())

        def build():
            r = oracle.routed_reference(table)
            return {"sinks": r["sinks"], "unmatched_lines": dict(r["unmatched_lines"])}

        ref = _json_cached(os.path.join(ref_dir, "ref-routed.json"), build)
        self.ref = {"sinks": ref["sinks"],
                    "unmatched_lines": Counter(ref["unmatched_lines"])}
        with open(os.path.join(HERE, "flagship_routed.yaml")) as f:
            self.spec = yaml.safe_load(f)
        self.compile_s: list[float] = []

    def _spec(self, path: str) -> dict:
        spec = {"pipeline": list(self.spec["pipeline"])}
        spec["pipeline"][0] = {"input.Tokens": {"path": path}}
        return spec

    def compile(self, spark) -> None:
        from lumbermill_spark.pipeline import compile_pipeline

        t0 = time.perf_counter()
        self.pipeline = compile_pipeline(spark, self._spec(self.tokens))
        self.compile_s.append(time.perf_counter() - t0)

    def iterate(self, spark, tracer=None) -> Iteration:
        base = self._fresh("run")
        t0 = time.perf_counter()
        if tracer is None:
            self.pipeline.run(base)
        else:
            with tracer.span("pipeline.run"):
                self.pipeline.run(base)
        self.base = base
        return Iteration(time.perf_counter() - t0, self.n_seq, self.n_tok)

    def check(self, spark, it: Iteration) -> None:
        it.bad += oracle.check_routed(oracle.read_routed(self.base), self.ref)

    def _prefix(self, spark, k: int):
        from lumbermill_spark.pipeline import CompiledPipeline

        p = self.pipeline
        return CompiledPipeline(spark, p.stages[:k], p.sinks,
                                spark.read.parquet(self.tokens)).dataframe()

    def ladder(self, spark) -> list:
        from lumbermill_spark.functions.tokens import decode_tokens_arrow
        from lumbermill_spark.router import route_tag

        names = [n for n, _ in self.pipeline.stages]
        salt = names.index("misc.SaltedRepartition") + 1
        parse = names.index("parser.Regex") + 1
        return [
            ("scan", lambda: noop(self._prefix(spark, 0))),
            ("salt", lambda: noop(self._prefix(spark, salt))),
            ("decode", lambda: noop(decode_tokens_arrow(
                self._prefix(spark, salt), "tokens", out_col="_line"))),
            ("parse", lambda: noop(self._prefix(spark, parse))),
            ("enrich", lambda: noop(self._prefix(spark, len(names)))),
            ("tag", lambda: noop(route_tag(self._prefix(spark, len(names)),
                                           self.pipeline.sinks))),
        ]

    def layer_metrics(self, spark, spans, rungs, groups) -> dict:
        salt = rungs["salt"]
        return {
            "pipeline.compile_s": statistics.median(self.compile_s),
            "pipeline.plan_scan_nodes": _scan_nodes(
                self._prefix(spark, len(self.pipeline.stages))),
            "skew.shuffle_write_bytes": salt["stats"].shuffle_write_bytes,
            "skew.task_skew": salt["stats"].task_skew,
            **_write_metrics(spans, groups, self.base, self.n_seq),
        }


def _write_metrics(spans, groups, base: str, n_input: int) -> dict:
    """Router and checkpoint figures of one traced routed write."""
    from sparkstats import merged

    write_groups = {s.group for s in spans if s.name == "router.route_and_write"}
    read_groups = {s.group for s in spans if s.name in CKPT_READS}
    write = merged(groups, lambda g: g in write_groups)
    scanned = merged(groups, lambda g: g not in read_groups)
    commit_s, commit_n = tr.totals(spans, {"checkpoint.commit"})
    lineage_s, lineage_n = tr.totals(spans, {"checkpoint.partition_lineage"})
    read_s, read_n = tr.totals(spans, CKPT_READS, self_only=True)
    return {
        "router.write_s": tr.totals(spans, {"router.route_and_write"}, True)[0],
        "router.output_bytes": write.output_bytes,
        "router.files_written": sum(
            _count_files(os.path.join(base, d), (".parquet", ".gz", ".txt"))
            for d in os.listdir(base) if not d.startswith(("_", "."))),
        "router.input_scans": scanned.input_records / n_input,
        "checkpoint.commit_s": commit_s, "checkpoint.commit_n": commit_n,
        "checkpoint.lineage_s": lineage_s, "checkpoint.lineage_n": lineage_n,
        "checkpoint.read_s": read_s, "checkpoint.read_n": read_n,
        "checkpoint.files": _count_files(os.path.join(base, "_checkpoint"),
                                         (".parquet",)),
    }


# ---------------------------------------------------------------- merge_ingest

class MergeIngest(Workload):
    """K seeded increments, one parquet file each, drained by
    streaming.pipeline.run_merged with maxFilesPerTrigger=1 into a
    mode="merge" sink keyed on doc_id."""

    name = "merge_ingest"

    def prepare(self) -> None:
        k, rows = self.size["merge_k"], self.size["merge_rows"]

        def build(d):
            os.makedirs(os.path.join(d, "src"))
            for i, t in enumerate(gen.increments(self.seed, k, rows, REDELIVER)):
                p = os.path.join(d, "src", f"inc-{i:04d}.parquet")
                pq.write_table(t, p)
                os.utime(p, (1e9 + i, 1e9 + i))   # stream order = version order

        self.dir = gen.cached(self.inputs, f"inc-s{self.seed}-k{k}-n{rows}-r{REDELIVER}",
                              build)
        self.src = os.path.join(self.dir, "src")
        incs = [pq.read_table(os.path.join(self.src, f))
                for f in sorted(os.listdir(self.src))]
        self.last_inc = os.path.join(self.src, sorted(os.listdir(self.src))[-1])
        self.k = k
        self.n_seq = sum(t.num_rows for t in incs)
        self.n_tok = sum(sum(t.column("n_tok").to_pylist()) for t in incs)
        self.ref = {d: tuple(v) for d, v in _json_cached(
            os.path.join(self.dir, "ref-merge.json"),
            lambda: oracle.merge_reference(incs)).items()}

    def _sink(self):
        from lumbermill_spark.router import SinkSpec

        return SinkSpec("docs", mode="merge", merge_key="doc_id",
                        merge_version="version")

    def _stream(self, spark):
        return (spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1).parquet(self.src))

    def compile(self, spark) -> None:
        self.schema = spark.read.parquet(self.src).schema
        self._stream(spark)
        self._sink()

    def _drain(self, spark):
        from lumbermill_spark.streaming.pipeline import run_merged

        base, ck = self._fresh("run", "sink"), self._fresh("run", "ck")
        t0 = time.perf_counter()
        q = run_merged(self._stream(spark), self._sink(), base, ck)
        secs = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return base, secs, progress

    def iterate(self, spark, tracer=None) -> Iteration:
        if tracer is None:
            base, secs, progress = self._drain(spark)
        else:
            with tracer.span("streaming.run_merged"):
                base, secs, progress = self._drain(spark)
        self.base, self.progress = base, progress
        batch = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        return Iteration(secs, self.n_seq, self.n_tok, batch,
                         attempted=1 + self.k)

    def check(self, spark, it: Iteration) -> None:
        from lumbermill_spark.router import read_merged

        snap = read_merged(spark, self.base, "docs").select(
            "doc_id", "tokens", "version").toArrow()
        self.snapshot_rows = snap.num_rows
        it.bad += oracle.check_merge(snap, self.ref)
        if len(self.progress) != self.k:
            it.bad.append(f"micro-batches: got {len(self.progress)} want {self.k}")

    def ladder(self, spark) -> list:
        from lumbermill_spark.operators.stateful import upsert_latest
        from lumbermill_spark.router import merge_snapshot_path

        snap = merge_snapshot_path(spark, self.base, "docs")
        prev = lambda: spark.read.parquet(snap)  # noqa: E731
        inc = lambda: spark.read.parquet(self.last_inc)  # noqa: E731
        return [
            ("scan", lambda: noop(prev().unionByName(inc()))),
            ("upsert", lambda: noop(upsert_latest(prev(), inc(), "doc_id",
                                                  "version"))),
        ]

    def layer_metrics(self, spark, spans, rungs, groups) -> dict:
        from sparkstats import merged

        write_groups = {s.group for s in spans if s.name == "router.route_and_write"}
        inside = tr.totals(spans, {"router.route_and_write"})[0]
        trig = sum(p["durationMs"]["triggerExecution"] for p in self.progress) / 1e3
        nb = len(self.progress)
        return {
            "stateful.upsert_s": rungs["upsert"]["secs"] - rungs["scan"]["secs"],
            "stateful.shuffle_write_bytes":
                merged(groups, lambda g: g in write_groups).shuffle_write_bytes,
            "stateful.snapshot_rows": self.snapshot_rows,
            "streaming.batches": nb,
            "streaming.batch_overhead_s": (trig - inside) / nb if nb else 0.0,
            **_write_metrics(spans, groups, self.base, self.n_seq),
        }


WORKLOADS = {w.name: w for w in (AggFlagship, YamlRouted, MergeIngest)}

# Which rung deltas feed which per-layer time, per workload:
# metric -> (rung, previous rung or None).
LADDER_LAYERS = {
    "agg_flagship": {"scan.s": ("scan", None),
                     "tokens.decode_s": ("decode", "scan"),
                     "regex_parser.parse_s": ("parse", "decode"),
                     "field_actions.enrich_s": ("enrich", "aggregate"),
                     "router.tag_s": ("tag", "enrich")},
    "yaml_routed": {"scan.s": ("scan", None),
                    "tokens.decode_s": ("decode", "salt"),
                    "regex_parser.parse_s": ("parse", "decode"),
                    "field_actions.enrich_s": ("enrich", "parse"),
                    "router.tag_s": ("tag", "enrich")},
    "merge_ingest": {"scan.s": ("scan", None)},
}
CPU_LAYERS = {"tokens.cpu_s": "tokens.decode_s",
              "regex_parser.cpu_s": "regex_parser.parse_s"}
