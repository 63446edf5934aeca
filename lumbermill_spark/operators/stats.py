"""Statistics / aggregation operators: Facet, Metrics, SimpleStats, Math.

Reference modules:
- modifier.Facet  (/root/reference/lumbermill/modifier/Facet.py:162-205
  collect, :72-112 emit): per group_by key, collect unique values of
  source_field over an interval, emit one ``facet`` event per key.
- misc.Metrics    (/root/reference/lumbermill/misc/Metrics.py:173-200
  accumulate, :129-166 emit): counters keyed by dynamic name, optional
  histogram buckets (numpy.digitize) and percentiles/min/max/mean/std
  (numpy.percentile) per interval.
- misc.SimpleStats (/root/reference/lumbermill/misc/SimpleStats.py:213-220):
  events_received + per-event_type counts per interval.
- modifier.Math   (/root/reference/lumbermill/modifier/Math.py:46-106):
  per-event arithmetic into target_field; interval variant aggregates
  results_function over a window.

Batch semantics: one run == one interval (the reference's flush-on-stop
guarantee, LumberMill.py:505-531 — a finite input gets exactly one final
flush). Streaming variants live in lumbermill_spark/streaming/.

Scale notes: every aggregate here is a partial-agg-friendly groupBy
(map-side combine), so the shuffle carries one row per (key) per input
partition, not per event. collect_set is the one exception — its state
is the distinct set itself; at 100 TB cap facet cardinality with
``max_facets`` (slice) or switch to approx_count_distinct where only the
count is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lumbermill_spark.functions.arrays import array_pairs
from lumbermill_spark.functions.dynamic import dynamic_value_col, has_dynamic_refs


def facet(
    df: DataFrame,
    source_field: str,
    group_by: str | list[str],
    other_event_fields: list[str] | None = None,
    max_facets: int | None = None,
) -> DataFrame:
    """One output row per group: sorted unique values of ``source_field``.

    Output schema mirrors the reference's facet event
    (Facet.py:88-104): {facet_field, facet_count, facets} plus the
    grouping key(s). ``other_event_fields`` keeps a sample of context
    fields from the first-seen event per group (Facet.py:183-193; order
    sensitivity resolved deterministically with min_by on the facet
    value).
    """
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    facets = F.sort_array(F.collect_set(source_field))
    if max_facets:
        facets = F.slice(facets, 1, max_facets)
    aggs = [
        F.lit(source_field).alias("facet_field"),
        F.count_distinct(F.col(source_field)).alias("facet_count"),
        facets.alias("facets"),
    ]
    if other_event_fields:
        sample = F.min_by(
            F.struct(*[F.col(c) for c in other_event_fields]), F.col(source_field)
        )
        aggs.append(sample.alias("sample"))
    return df.groupBy(*keys).agg(*aggs)


def simple_stats(df: DataFrame, group_field: str = "event_type") -> DataFrame:
    """Per-event_type counts (SimpleStats.py:213-220). Emit one row per
    type; the 'events_received' total is the sum — derivable, not stored
    twice."""
    return df.groupBy(group_field).agg(F.count(F.lit(1)).alias("events_received"))


def metrics(
    df: DataFrame,
    name: str | Column,
    value_field: str | None = None,
    buckets: list[float] | None = None,
    percentiles: list[float] = (50, 75, 95, 99),
) -> DataFrame:
    """Counter + optional numeric summary per metric name.

    ``name`` may be a dynamic value template ("$(event_type)_seen" —
    Metrics.py:55-66) or a Column. With ``value_field``: min/max/mean/std
    and exact percentiles (numpy.percentile analog → Spark `percentile`,
    linear interpolation, same definition). With ``buckets``: histogram
    counts via width_bucket (numpy.digitize right=False analog).
    """
    if isinstance(name, str):
        name_col = (dynamic_value_col(name, df.columns)
                    if has_dynamic_refs(name) else F.lit(name))
    else:
        name_col = name
    base = df.withColumn("_metric_name", name_col)
    aggs: list[Column] = [F.count(F.lit(1)).alias("count")]
    if value_field is not None:
        v = F.col(value_field).cast("double")
        aggs += [
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.avg(v).alias("mean"),
            F.stddev_pop(v).alias("std"),
        ]
        for p in percentiles:
            aggs.append(
                F.percentile(v, F.lit(p / 100.0)).alias(f"p{p:g}".replace(".", "_"))
            )
    out = base.groupBy(F.col("_metric_name").alias("metric")).agg(*aggs)
    if buckets and value_field is not None:
        # numpy.digitize(right=False) analog over the ACTUAL edge list:
        # bucket index = count of edges <= v, one codegen'd comparison
        # per edge. Never width_bucket's (lo, hi, n) form — it silently
        # mis-bins non-uniform edges, and even for uniform edges its
        # (v-lo)·n/(hi-lo) float division can flip boundary values
        # that direct comparison bins exactly (hypothesis-found).
        v = F.col(value_field).cast("double")
        bucket_expr = sum(
            (v >= F.lit(float(e))).cast("long") for e in buckets
        )
        hist = (
            base.withColumn("bucket", bucket_expr)
            .groupBy(F.col("_metric_name").alias("metric"), F.col("bucket"))
            .agg(F.count(F.lit(1)).alias("bucket_count"))
        )
        return out.join(
            hist.groupBy("metric").agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("bucket", "bucket_count")))
                ).alias("histogram")
            ),
            "metric",
        )
    return out


def math_op(
    df: DataFrame,
    target_field: str,
    function: str,
    interval_key: Column | str | None = None,
    results_function: str | None = None,
) -> DataFrame:
    """modifier.Math. ``function`` is a SQL arithmetic expression over
    columns (the reference eval()s Python — we compile SQL once,
    Math.py:98-106). Without interval: adds ``target_field`` per row.
    With ``interval_key`` + ``results_function`` (an aggregate SQL expr
    over ``target_field``): emits one aggregated row per key
    (Math.py:67-94's timed-flush analog)."""
    out = df.withColumn(target_field, F.expr(function))
    if interval_key is None:
        return out
    key = F.col(interval_key) if isinstance(interval_key, str) else interval_key
    agg = F.expr((results_function or f"sum({target_field})"))
    return out.groupBy(key.alias("interval_key")).agg(agg.alias(target_field))


def throttle(
    df: DataFrame,
    key: str | Column,
    timeframe_col: Column | None = None,
    min_count: int = 1,
    max_count: int | None = None,
) -> DataFrame:
    """misc.Throttle (/root/reference/lumbermill/misc/Throttle.py:60-110):
    pass an event only when the number of events sharing its ``key``
    within the timeframe is in [min_count, max_count].

    Batch form: the timeframe is ``timeframe_col`` (e.g.
    ``F.window('ts', '1 hour')`` or a date_trunc column); None = whole
    input as one frame. Implemented as groupBy-count + join-back filter
    rather than a window function (which would shuffle the full fact
    table on (key, frame)). The count table is (keys × frames) rows;
    when it fits the broadcast threshold Spark/AQE broadcasts it and
    the big side never shuffles — deliberately NOT a forced broadcast,
    because at 10^12 events a high-cardinality key would OOM the
    driver; past the threshold it degrades gracefully to a shuffled
    equi-join.
    """
    kcol = F.col(key) if isinstance(key, str) else key
    keyed = df.withColumn("_thr_key", kcol)
    group = ["_thr_key"]
    if timeframe_col is not None:
        keyed = keyed.withColumn("_thr_frame", timeframe_col)
        group.append("_thr_frame")
    counts = keyed.groupBy(*group).agg(F.count(F.lit(1)).alias("_thr_n"))
    cond = counts["_thr_n"] >= min_count
    if max_count is not None:
        cond = cond & (counts["_thr_n"] <= max_count)
    passing = counts.filter(cond).select(*group)
    out = keyed.join(passing, on=group, how="inner")
    return out.drop("_thr_key", "_thr_frame", "_thr_n")


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    slide: str,
    group_fields: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation — the batch twin of the
    reference's timed-function interval stats (misc/SimpleStats.py
    flush loop) generalized to OVERLAPPING windows: each event counts
    toward every window of length ``window`` that contains it, windows
    starting every ``slide``. Expressed directly as Spark's
    ``F.window`` (each row expands to window/slide assignments inside
    the Generate node — no self-join, no shuffle beyond the final
    groupBy), so the identical expression runs under Structured
    Streaming with a watermark for the streaming path.

    Output: (window_start, window_end, *group_fields, *aggs).
    """
    aggs = aggs or [F.count(F.lit(1)).alias("n_rows")]
    group_fields = group_fields or []
    w = F.window(F.col(ts_col), window, slide)
    out = df.groupBy(w.alias("w"), *group_fields).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"])


def top_k_per_group(df: DataFrame, group_fields: list[str],
                    order_field: str, k: int,
                    tiebreak_fields: list[str] | None = None,
                    descending: bool = True) -> DataFrame:
    """Top-K heavy hitters per group (the alerting companion to Facet:
    "top N users per event_type per window"). row_number over a
    (group)-partitioned window with a DETERMINISTIC total order
    (order_field, then tiebreak_fields ascending) — ties never make
    the result run-dependent. One shuffle on the group key; the sort
    is per-partition. For corpus-scale K-extraction prefer the
    aggregated input this usually runs on (counts per key), not raw
    events — then the window input is already one row per key."""
    from pyspark.sql import Window

    ordc = F.col(order_field).desc() if descending \
        else F.col(order_field).asc()
    order = [ordc] + [F.col(f).asc() for f in (tiebreak_fields or [])]
    w = Window.partitionBy(*group_fields).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k))


def zscore_flags(df: DataFrame, value_field: str,
                 group_fields: list[str] | None = None,
                 threshold: float = 3.0,
                 round_to: int = 4) -> DataFrame:
    """Per-group z-score outlier flags (modifier.Math's interval
    aggregate — stats.py math_op — taken one step further into the
    alerting use-case): mean/stddev_samp per group computed in ONE
    partial-aggregated pass, broadcast back, each row annotated with
    its rounded z-score and an is_outlier flag at |z| > threshold.
    Groups with stddev 0/null (constant or single-row groups) flag
    nothing. Adds columns: zscore, is_outlier."""
    group_fields = group_fields or []
    aggs = df.groupBy(*group_fields).agg(
        F.avg(value_field).alias("_mu"),
        F.stddev_samp(value_field).alias("_sd"))
    joined = (df.join(F.broadcast(aggs), on=group_fields)
              if group_fields else df.crossJoin(F.broadcast(aggs)))
    z = F.round((F.col(value_field) - F.col("_mu")) / F.col("_sd"),
                round_to)
    z = F.when(F.col("_sd") > 0, z)
    return (joined
            .withColumn("zscore", z)
            .withColumn("is_outlier",
                        F.coalesce(F.abs(z) > threshold, F.lit(False)))
            .drop("_mu", "_sd"))


def rollup_agg(df: DataFrame, dims: list[str], aggs: list[Column],
               total_label: str = "ALL") -> DataFrame:
    """Hierarchical subtotals: GROUP BY ROLLUP over ``dims`` with every
    subtotal level in one pass (Catalyst expands the rollup into a
    single Expand + one partial-aggregated shuffle — K levels for the
    price of ~1 aggregation, vs K separate groupBy jobs).

    Subtotal rows are labeled ``total_label`` via ``grouping()`` so a
    REAL null in a dim value stays distinguishable from the rollup's
    synthetic null. Dims are emitted as strings (label and value share
    a column).
    """
    gcols = [F.grouping(d).alias(f"_g_{d}") for d in dims]
    out = df.rollup(*dims).agg(*aggs, *gcols)
    sel = [
        F.when(F.col(f"_g_{d}") == 1, F.lit(total_label))
         .otherwise(F.col(d).cast("string")).alias(d)
        for d in dims
    ]
    keep = [c for c in out.columns
            if c not in dims and not c.startswith("_g_")]
    return out.select(*sel, *keep)


def cohort_retention(df: DataFrame, user: str = "user_id",
                     ts: str = "ts", period_days: int = 7) -> DataFrame:
    """Cohort retention matrix: bucket time into fixed ``period_days``
    periods from the epoch (integer day arithmetic — replays exactly in
    any engine, unlike locale-sensitive date_trunc('week')), cohort =
    each user's first period, and count distinct users active K periods
    later.

    Plan: two partial-aggregated shuffles on the user key (first-period
    min, then user-period distinct), then a count over (cohort, K) —
    all map-side combinable; no row-scaled state anywhere.

    Output: (cohort_period, periods_since, n_users).
    """
    period = (F.floor(F.unix_timestamp(F.col(ts)) / 86400)
              / period_days)
    per = df.select(F.col(user).alias("u"),
                    F.floor(period).cast("bigint").alias("p"))
    first = per.groupBy("u").agg(F.min("p").alias("p0"))
    active = per.distinct()
    return (active.join(first, on="u")
            .groupBy(F.col("p0").alias("cohort_period"),
                     (F.col("p") - F.col("p0")).alias("periods_since"))
            .agg(F.count_distinct("u").alias("n_users")))


def funnel_counts(df: DataFrame, steps: list[str],
                  user: str = "user_id", ts: str = "ts",
                  event_type: str = "event_type") -> DataFrame:
    """Ordered-funnel analysis: how many users performed step 1, then
    step 2 AT OR AFTER their first step-1 time, then step 3 at or after
    that, ... (the classic product-analytics funnel; each step's
    timestamp is the user's EARLIEST qualifying occurrence, which
    maximizes downstream conversion — the standard semantics).

    Plan: ONE shuffle total. Events are filtered to the funnel's step
    types and partitioned once on the user; K chained whole-partition
    window columns compute each step's frontier time as
    min(t | type = step_i AND t >= frontier_{i-1}) — each window uses
    the same partitioning (no order), so Catalyst plans one exchange
    with K window passes over it, and the per-user + global count
    aggregations reuse the same partitioning. The previous
    formulation (K sequential frontier joins, one ACTION per step) was
    K jobs re-scanning the input; this is one job, one scan. Per-user
    state is the partition group buffered by WindowExec — bounded by a
    user's own funnel-type event count, the same per-entity envelope as
    sessionization (WindowExec spills past
    spark.sql.windowExec.buffer.spill.threshold, so a runaway power
    user degrades to disk, not OOM).

    Output: (step bigint 1-based, step_name, n_users) — one row per
    step, monotonically non-increasing n_users.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    tcol = F.unix_timestamp(F.col(ts))
    base = (df.select(F.col(user).alias("u"), tcol.alias("t"),
                      F.col(event_type).alias("e"))
            .where(F.col("e").isin(list(steps))))
    w = Window.partitionBy("u")
    cur = base
    prev: str | None = None
    for i, step in enumerate(steps):
        qual = F.col("e") == step
        if prev is not None:
            qual = qual & F.col(prev).isNotNull() & (F.col("t") >= F.col(prev))
        cur = cur.withColumn(f"_t{i}", F.min(F.when(qual, F.col("t"))).over(w))
        prev = f"_t{i}"
    k = len(steps)
    per_user = cur.groupBy("u").agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(k)])
    # null-user semantics (matches the previous join-based formulation
    # and a SQL twin's equi-join): a NULL user forms a group and may
    # count at step 1, but never advances — a join on the user key
    # can't match null, and a window partition must not resurrect it
    step_ok = [
        F.col(f"_t{i}").isNotNull() if i == 0
        else (F.col(f"_t{i}").isNotNull() & F.col("u").isNotNull())
        for i in range(k)
    ]
    counts = per_user.agg(
        *[F.coalesce(F.sum(F.when(step_ok[i], 1).otherwise(0)), F.lit(0))
          .cast("long").alias(f"_n{i}")
          for i in range(k)]).collect()[0]
    rows = [(i + 1, step, counts[f"_n{i}"]) for i, step in enumerate(steps)]
    return spark.createDataFrame(
        rows, "step bigint, step_name string, n_users bigint")


def pivot_counts(df: DataFrame, row_key: str | Column, pivot_col: str,
                 values: list[str]) -> DataFrame:
    """Wide crosstab: one row per ``row_key``, one count column per
    ``pivot_col`` value. ``values`` is EXPLICIT (required): Spark then
    plans the pivot as one partial-aggregated shuffle with no extra
    distinct-values job, and the output schema is stable regardless of
    which values happen to appear in a given batch — both properties
    you want when the batch is one slice of a 100 TB table. Missing
    combinations are 0, not null."""
    key = F.col(row_key).alias(row_key) if isinstance(row_key, str) else row_key
    out = df.groupBy(key).pivot(pivot_col, values).agg(
        F.count(F.lit(1)))
    return out.select(
        out.columns[0],
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("bigint").alias(v)
          for v in values])


def rolling_agg(df: DataFrame, key: str, order_by: list[str],
                value_field: str, n: int = 7,
                round_to: int = 4) -> DataFrame:
    """Trailing n-row rolling mean per key (telemetry smoothing).
    ``order_by`` must be a TOTAL order (include a unique id after the
    timestamp) or the frame contents — and therefore the result — are
    tie-dependent. One sort/shuffle on the key; the frame is row-based
    so state per row is O(1). Adds roll_sum / roll_n / roll_avg."""
    from pyspark.sql import Window

    w = (Window.partitionBy(key)
         .orderBy(*[F.col(c) for c in order_by])
         .rowsBetween(-(n - 1), Window.currentRow))
    s = F.sum(value_field).over(w)
    c = F.count(F.lit(1)).over(w)
    # roll_sum keeps Spark's natural sum type (long for integral input,
    # double for doubles) — a bigint cast here silently truncated
    # fractional sums for double-typed telemetry values
    return (df.withColumn("roll_sum", s)
              .withColumn("roll_n", c.cast("bigint"))
              .withColumn("roll_avg",
                          F.round(s.cast("double") / c, round_to)))


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Schema discovery over heterogeneous JSON payloads: top-level key
    -> rows containing it + presence percentage (how a pipeline learns
    what fields a new log source actually ships before anyone writes a
    parser for it; the reference's parser.Json decodes blind —
    /root/reference/lumbermill/parser/Json.py — this is the profiling
    step in front of it).

    Plan: json_object_keys is a pure JVM expression; explode -> one
    partial-aggregated key count; total row count is a 1-row broadcast.
    Malformed/null JSON contributes no keys but still counts in the
    denominator. Output: (key, n_present, pct 2dp).
    """
    total = df.select(F.count(F.lit(1)).alias("_n"))
    keys = (df.select(
                F.explode(
                    F.coalesce(F.json_object_keys(F.col(json_col)),
                               F.array().cast("array<string>"))
                ).alias("key"))
            .groupBy("key").agg(F.count(F.lit(1)).alias("n_present")))
    return (keys.crossJoin(F.broadcast(total))
            .select("key",
                    F.col("n_present").cast("bigint").alias("n_present"),
                    F.round(F.col("n_present") * 100.0 / F.col("_n"), 2)
                     .alias("pct")))


def ntile_buckets(df: DataFrame, key: str, order_by: list[str],
                  n: int = 10) -> DataFrame:
    """Equal-frequency quantile bucketing per key (difficulty /
    curriculum binning): ntile(n) over a TOTAL order — include a unique
    id in ``order_by`` or bucket edges are tie-dependent. One
    sort/shuffle on the key; adds ``bucket`` (1-based int)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_by])
    return df.withColumn("bucket", F.ntile(n).over(w).cast("int"))


def inter_arrival_stats(df: DataFrame, key: str, ts: str = "ts",
                        id_col: str | None = None) -> DataFrame:
    """Per-key inter-arrival-time profile (burstiness / rate health of
    a telemetry stream): gap = time since the key's previous event,
    then count / mean / exact interpolated p50+p95 per key. Ordering is
    totalized with ``id_col`` so equal timestamps don't make gaps
    run-dependent. One window shuffle on the key; the percentile is an
    exact aggregate over the gaps (fine per key; for corpus-wide
    percentiles at 100 TB switch to approx_percentile).

    Output: (key, n_gaps, avg_gap, p50_gap, p95_gap) — seconds, 2dp.
    """
    from pyspark.sql import types as T
    from pyspark.sql import Window

    tcol = F.col(ts)
    if isinstance(df.schema[ts].dataType,
                  (T.TimestampType, T.TimestampNTZType)):
        tcol = F.unix_timestamp(tcol)
    order = [tcol] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    gaps = (df.withColumn("_gap", tcol - F.lag(tcol).over(w))
              .where(F.col("_gap").isNotNull()))
    return gaps.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("_gap"), 2).alias("avg_gap"),
        F.round(F.percentile("_gap", F.lit(0.5)), 2).alias("p50_gap"),
        F.round(F.percentile("_gap", F.lit(0.95)), 2).alias("p95_gap"))


def active_users(df: DataFrame, user: str = "user_id", ts: str = "ts",
                 window_days: int = 7) -> DataFrame:
    """Daily + trailing-window active users (DAU/WAU — the telemetry
    health metric every log pipeline ends up computing). Spark windows
    can't COUNT DISTINCT, so the scale-safe plan is contribution
    explode: each distinct (day, user) pair supports the trailing
    windows of days day..day+W-1 — a fixed W-fold expansion of the
    ALREADY-DEDUPED pair table (one row per user-day, not per event),
    then a second distinct + count. Linear in user-days, no per-day
    re-scan, no quadratic self-join; W is a constant.

    Trailing days are restricted to days observed in the data.
    Output: (day = epoch-day number, dau, wau).
    """
    d = F.floor(F.unix_timestamp(F.col(ts)) / 86400).cast("long")
    p = df.select(d.alias("d"), F.col(user).alias("u")).distinct()
    days = p.select("d").distinct()
    dau = p.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (p.select(
        F.explode(F.sequence(F.col("d"),
                             F.col("d") + (window_days - 1))).alias("d"),
        "u").distinct())
    wau = (contrib.join(days, on="d")
           .groupBy("d").agg(F.count(F.lit(1)).alias("wau")))
    return (dau.join(wau, on="d")
            .select(F.col("d").alias("day"),
                    F.col("dau").cast("bigint").alias("dau"),
                    F.col("wau").cast("bigint").alias("wau")))


def association_rules(txn: DataFrame, txn_col: str = "txn_id",
                      item_col: str = "item",
                      min_pair_count: int = 1) -> DataFrame:
    """Market-basket association statistics over (transaction, item)
    rows — for a log pipeline, 'which event types co-occur in the same
    session far more than chance': support, directional confidence and
    lift per unordered item pair.

    Plan: distinct (txn, item) once; item counts and per-txn sorted
    item sets come off that one frame; pair generation is
    :func:`array_pairs` (no self-join, bounded items²/txn); frequencies
    attach via two item-keyed joins (AQE broadcasts when the item
    dimension is small).
    Transaction count is a 1-row broadcast.

    Output: (item_a, item_b, n_pair, support, conf_ab, conf_ba, lift),
    floats rounded 4, pairs below ``min_pair_count`` dropped.
    """
    ti = txn.select(F.col(txn_col).alias("t"),
                    F.col(item_col).alias("i")).distinct()
    n_txn = ti.select(F.count_distinct("t").alias("n"))
    item_counts = ti.groupBy("i").agg(F.count(F.lit(1)).alias("ni"))
    per_txn = ti.groupBy("t").agg(
        F.sort_array(F.collect_set("i")).alias("items"))
    pairs = (per_txn.select(F.explode(array_pairs(F.col("items"))).alias("p"))
             .groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n_pair"))
             .where(F.col("n_pair") >= min_pair_count))
    ca = item_counts.select(F.col("i").alias("a"), F.col("ni").alias("n_a"))
    cb = item_counts.select(F.col("i").alias("b"), F.col("ni").alias("n_b"))
    out = (pairs.join(ca, on="a").join(cb, on="b")
           .crossJoin(F.broadcast(n_txn)))
    npair = F.col("n_pair").cast("double")
    return out.select(
        F.col("a").alias("item_a"), F.col("b").alias("item_b"),
        F.col("n_pair").cast("bigint").alias("n_pair"),
        F.round(npair / F.col("n"), 4).alias("support"),
        F.round(npair / F.col("n_a"), 4).alias("conf_ab"),
        F.round(npair / F.col("n_b"), 4).alias("conf_ba"),
        F.round(npair * F.col("n") / (F.col("n_a") * F.col("n_b")), 4)
         .alias("lift"))


def mad_flags(df: DataFrame, value_field: str,
              group_fields: list[str] | None = None,
              threshold: float = 3.5,
              round_to: int = 4) -> DataFrame:
    """Robust outlier flags via median absolute deviation — the
    companion to :func:`zscore_flags` for telemetry whose outliers are
    heavy enough to drag the mean/stddev themselves (a z-score of a
    500x latency spike barely flags when the spike is IN the stddev).
    Modified z = 0.6745 * (x - median) / MAD (Iglewicz-Hoaglin);
    |mz| > threshold flags.

    Plan: two partial-aggregated passes over the group (median of x,
    then median of |x - median|) broadcast back — exact percentile per
    group, fine for grouped telemetry; at corpus scale swap in
    approx_percentile. MAD-0 groups (constant majority) flag nothing.
    Adds: mzscore, is_outlier.
    """
    group_fields = group_fields or []
    med = df.groupBy(*group_fields).agg(
        F.percentile(value_field, F.lit(0.5)).alias("_med"))
    j1 = (df.join(F.broadcast(med), on=group_fields)
          if group_fields else df.crossJoin(F.broadcast(med)))
    mad = j1.groupBy(*group_fields).agg(
        F.percentile(F.abs(F.col(value_field) - F.col("_med")),
                     F.lit(0.5)).alias("_mad"))
    j2 = (j1.join(F.broadcast(mad), on=group_fields)
          if group_fields else j1.crossJoin(F.broadcast(mad)))
    # explicit floor(x*s + 0.5)/s rounding instead of F.round: every op
    # is plain IEEE arithmetic, so any engine replays it bit-exactly.
    # Engine round() implementations disagree on exact .5 boundaries at
    # the target precision (Spark's BigDecimal HALF_UP vs DuckDB —
    # caught by the sf0.1 oracle gate on this query), while med/MAD
    # themselves replay bit-identically.
    scale = float(10 ** round_to)
    raw = (F.lit(0.6745) * (F.col(value_field) - F.col("_med"))
           / F.col("_mad"))
    # floor() returns LONG, so raw*scale must stay inside int64
    # (overflow = ARITHMETIC_OVERFLOW under ANSI, garbage otherwise).
    # The safe bound is DERIVED from the scale (9e18/scale, under
    # Long.Max 9.22e18) — a constant tuned for round_to=4 would still
    # overflow at round_to=6. Scores past the bound are astronomically
    # outlying anyway and pass through unrounded.
    rounded = F.floor(raw * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
    mz = F.when(F.abs(raw) <= F.lit(9.0e18 / scale), rounded).otherwise(raw)
    mz = F.when(F.col("_mad") > 0, mz)
    return (j2.withColumn("mzscore", mz)
            .withColumn("is_outlier",
                        F.coalesce(F.abs(mz) > threshold, F.lit(False)))
            .drop("_med", "_mad"))
