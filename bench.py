"""Benchmark harness (driver contract).

Headline: the flagship parse→enrich→route→aggregate pipeline over the
deterministic synthetic token table (BASELINE.md target metric —
sequences/sec and tokens/sec). Plus per-query wall times for every
``queries()`` entry at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (the FINAL stdout line — the driver
tail-captures stdout and the 109-entry per-query map outgrew its
window in round 4, leaving BENCH_r04.json "parsed": null):
  {"metric": "...", "value": <flagship secs>, "unit": "sec",
   "sf": ..., "seq_per_sec": ..., "tok_per_sec": ...,
   "n_queries": N, "queries_total_secs": ...,
   "queries_sidecar": "BENCH_QUERIES.json"}
The full per-query wall-time map is written to BENCH_QUERIES.json
next to this script (and echoed on an EARLIER stdout line for
humans reading the log top-down).

Env knobs:
  SPARK_GRAFT_SF_DIR     (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       (default: nproc, via local[*])
  LMS_BENCH_ROWS         token-table rows (default 2_000_000)
  LMS_BENCH_SKIP_QUERIES set to skip the per-query section
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from lumbermill_spark.data.synth import synth_tokens  # noqa: E402
from lumbermill_spark.operators import field_actions  # noqa: E402
from lumbermill_spark.operators.regex_parser import RegexParser  # noqa: E402
from lumbermill_spark.pipelines_builtin import ACCESS_RULES, HTTP_STATUS_MAP  # noqa: E402
from lumbermill_spark.router import SinkSpec, route_and_write, route_tag  # noqa: E402
from lumbermill_spark.session import get_spark  # noqa: E402

TOKEN_PATH = "/tmp/lms_bench/tokens"

_CALIB_ITERS = 20_000_000


def calibrate_once() -> float:
    """Single-core host-load probe: ops/sec of a fixed pure-Python loop
    (no Spark, no memory traffic). The box's idle reference is recorded
    in BENCH.md; a bench invocation whose probe lands far below it was
    running against host load and its wall-times are inflated — the
    round-3 driver bench was exactly this (2.2x inflation, adjudicated
    in VERDICT.md). Run twice (before warm-up and after the query
    sweep) so load arriving mid-run is visible too."""
    t0 = time.perf_counter()
    x = 0
    for i in range(_CALIB_ITERS):
        x += i * i
    return _CALIB_ITERS / (time.perf_counter() - t0)


def prepare_tokens(spark, n_rows: int) -> None:
    """Materialize the token table once (generation is not the thing
    being measured)."""
    marker = f"{TOKEN_PATH}/_n{n_rows}"
    if os.path.exists(marker):
        return
    import shutil

    shutil.rmtree(TOKEN_PATH, ignore_errors=True)
    synth_tokens(spark, n_rows).write.mode("overwrite").parquet(TOKEN_PATH)
    open(marker, "w").close()


def flagship_once(spark) -> dict:
    """One timed end-to-end run: read → regex parse (Catalyst path over
    decoded token view) → pre-aggregate on the parsed keys → map-enrich
    + 3-way route applied to the TINY aggregate → per-sink aggregates.

    Routing tag and status class are pure functions of the group keys
    (event_type, http_status), so they are applied after the
    aggregation: the wide data is scanned once and every parsed column
    is evaluated exactly once (Catalyst re-inlines derived expressions
    across projections — deriving them pre-agg costs ~3x)."""
    t0 = time.time()
    df = spark.read.parquet(TOKEN_PATH)
    parsed = RegexParser(ACCESS_RULES).apply(
        df, tokens_col="tokens", drop_tokens=True)
    pre = parsed.groupBy("event_type", "http_status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
    )
    enriched = field_actions.map_(
        pre, "http_status", HTTP_STATUS_MAP, target_field="status_class"
    )
    sinks = [
        SinkSpec("web", F.col("event_type").isin(
            "httpd_access_log", "nginx_access_log")),
        SinkSpec("firewall", F.col("event_type") == "iptables_log"),
        SinkSpec("unmatched", None),
    ]
    tagged = route_tag(enriched, sinks)
    rows = tagged.groupBy("sink", "event_type", "status_class").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_tok").alias("sum_tok"),
    ).collect()
    secs = time.time() - t0
    n_seq = sum(r["n_rows"] for r in rows)
    n_tok = sum(r["sum_tok"] for r in rows)
    return {"secs": secs, "n_seq": n_seq, "n_tok": n_tok,
            "n_sinks": len(set(r["sink"] for r in rows))}


def write_pipeline_once(spark) -> dict:
    """Full write path: parse → enrich → 3-way routed parquet write with
    observe metrics, lineage and a checkpoint commit row (router.py).
    The single-pass form: route_tag, then one partitionBy(sink) sink
    through route_and_write — complements the aggregate-only flagship
    number."""
    import shutil

    base = "/tmp/lms_bench/sinks"
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.time()
    df = spark.read.parquet(TOKEN_PATH)
    parsed = RegexParser(ACCESS_RULES).apply(
        df, tokens_col="tokens")
    enriched = field_actions.map_(
        parsed, "http_status", HTTP_STATUS_MAP, target_field="status_class")
    sinks = [
        SinkSpec("web", F.col("event_type").isin(
            "httpd_access_log", "nginx_access_log")),
        SinkSpec("firewall", F.col("event_type") == "iptables_log"),
        SinkSpec("unmatched", None),
    ]
    res = route_and_write(route_tag(enriched, sinks),
                          [SinkSpec("routed", partition_by=["sink"])],
                          base, run_id="bench")["routed"]
    secs = time.time() - t0
    return {"secs": secs, "n_seq": res["rows"], "n_tok": res["tokens"] or 0}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_rows = int(os.environ.get("LMS_BENCH_ROWS", "2000000"))
    load_pre = os.getloadavg()[0]
    calib_pre = calibrate_once()
    spark = get_spark("lms-bench")

    prepare_tokens(spark, n_rows)
    flagship_once(spark)            # warm-up (JIT, codegen, file listing)
    flagship_once(spark)            # second warm-up: C2 JIT of codegen'd regex
    # best of 3: single-run numbers on this shared box can be inflated
    # several-fold by residual scheduler load from other JVMs
    r = min((flagship_once(spark) for _ in range(3)), key=lambda d: d["secs"])
    w = (None if os.environ.get("LMS_BENCH_SKIP_WRITE")
         else write_pipeline_once(spark))

    query_secs: dict[str, float] = {}
    if not os.environ.get("LMS_BENCH_SKIP_QUERIES"):
        for name, fn in entrymod.queries().items():
            t0 = time.time()
            fn(spark, sf_dir).collect()
            query_secs[name] = round(time.time() - t0, 3)
        # q21 deliberately benches the md5-basis oracle variant (DuckDB
        # can replay that hash); the PRODUCTION default is xxhash64 —
        # time it too so the published number reflects the fast plan.
        # Bench-only: identical operator, different token hash, so the
        # oracle contract stays with q21.
        from lumbermill_spark.training import dedup as _dedup
        docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        t0 = time.time()
        _dedup.simhash_pairs(docs, max_hamming=3, bits=64).collect()
        query_secs["q21b_simhash_fast"] = round(time.time() - t0, 3)

    calib_post = calibrate_once()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "flagship_parse_route_aggregate_secs",
        "value": round(r["secs"], 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_rows": n_rows,
        "seq_per_sec": round(r["n_seq"] / r["secs"], 1),
        "tok_per_sec": round(r["n_tok"] / r["secs"], 1),
        "n_queries": len(query_secs),
        "queries_total_secs": round(sum(query_secs.values()), 3),
        "queries_sidecar": "BENCH_QUERIES.json",
    }
    if w is not None:
        out["write_pipeline_secs"] = round(w["secs"], 3)
        out["write_seq_per_sec"] = round(w["n_seq"] / w["secs"], 1)
    # worst probe = worst host load seen during the run (see BENCH.md
    # "Load calibration" for the idle reference to compare against)
    out["calib_ops_per_sec"] = round(min(calib_pre, calib_post))
    out["calib_pre_post"] = [round(calib_pre), round(calib_post)]
    # host 1-min loadavg pre/post: co-tenant MULTI-core load can inflate
    # wall-times while the single-core probe still reads idle (observed
    # round 5: a sweep with calib 13.5M ran ~40% slow; loadavg caught it)
    out["loadavg_pre_post"] = [round(load_pre, 2),
                               round(os.getloadavg()[0], 2)]
    # Full per-query map → sidecar file + an early stdout line; the
    # compact summary must be the LAST line (driver tail-capture).
    if query_secs:  # don't clobber the sidecar on SKIP_QUERIES spot runs
        sidecar = dict(out)
        sidecar["queries"] = query_secs
        sidecar_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_QUERIES.json")
        with open(sidecar_path, "w") as f:
            json.dump(sidecar, f, indent=1, sort_keys=True)
    print(json.dumps({"queries": query_secs}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
