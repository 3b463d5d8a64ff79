"""Event-time analytics over the `events` stream table (SURVEY.md §2.8
ST6 north-star surface; the reference's one time-bucketed table is
CLUSTER_GROWTH_DAILY — UtilizationSchemaDefinition.java:75-83).

Batch equivalents of the streaming windows (streaming/windows.py runs
the same logic with readStream + watermark; the invariant tests assert
batch == streaming results on the same input).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ozone_spark.functions.dedup import _pair_expr, bounded_window_key as _bwk
from pyspark.sql.functions import broadcast


def tumbling_daily(events: DataFrame) -> DataFrame:
    """Per-day per-type counts + value sum (CLUSTER_GROWTH_DAILY shape)."""
    return (
        events.groupBy(
            F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("day", "event_type")
    )


def sliding_hourly(events: DataFrame) -> DataFrame:
    """6h windows sliding every 3h: event counts (late-data-tolerant in
    the streaming variant via watermark)."""
    return (
        events.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                F.unix_millis(F.col("w.end")).alias("window_end_ms"), "n_events")
        .orderBy("window_start_ms")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session windows per user (gap-based): batch formulation via
    lag + cumulative session counter — the classic sessionization
    window-function program; streaming twin uses session_window()."""
    gap_s = gap_minutes * 60
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gapped = (
        F.when(
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(by_user)) > gap_s, 1)
        .otherwise(0)
    )
    sess = (
        events.withColumn("new_sess", gapped)
        .withColumn("session_id",
                    F.sum("new_sess").over(
                        by_user.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
             .alias("duration_s"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("user_id", "session_id")
    )


def session_distribution(events: DataFrame,
                         gap_minutes: int = 30) -> DataFrame:
    """Corpus-wide session-shape distribution: exact p50/p90/p99 and
    max of events-per-session and session duration — the one-row
    summary behind "did the release change engagement" dashboards,
    and the tail numbers (p99 duration) that surface bot sessions.

    Scale note: sessions are already the output of the per-user window
    (orders of magnitude fewer rows than events); the global percentile
    is exact over that session table — at extreme session counts the
    swap is approx_percentile, same as size_percentiles documents."""
    s = sessionize(events, gap_minutes)
    pe = F.expr("percentile(n_events, array(0.5, 0.9, 0.99))")
    pd = F.expr("percentile(duration_s, array(0.5, 0.9, 0.99))")
    return (
        s.agg(F.count("*").alias("n_sessions"),
              pe.alias("pe"), pd.alias("pd"),
              F.max("n_events").alias("max_events"),
              F.max("duration_s").alias("max_duration_s"))
        .select("n_sessions",
                F.round(F.col("pe")[0], 4).alias("p50_events"),
                F.round(F.col("pe")[1], 4).alias("p90_events"),
                F.round(F.col("pe")[2], 4).alias("p99_events"),
                "max_events",
                F.round(F.col("pd")[0], 4).alias("p50_duration_s"),
                F.round(F.col("pd")[1], 4).alias("p90_duration_s"),
                F.round(F.col("pd")[2], 4).alias("p99_duration_s"),
                "max_duration_s")
    )


def top_users_per_type(events: DataFrame, k: int = 3,
                       salt: int = 32) -> DataFrame:
    """Top-k users by total value within each event type.

    Scale shape: two-phase salted top-k.  The event-type vocabulary is
    tiny (5 values), so a rank window partitioned by type alone pushes
    each type's ENTIRE user-cardinality total table through one task —
    the per-group cousin of the global-rank shape VERDICT r8 item 1
    killed.  Phase 1 ranks within (type, user-hash salt) partitions —
    each holds ~1/salt of a type's users — and keeps k per partition;
    every true top-k row ranks <= k in its own salt bucket (each user
    lives in exactly one), so phase 1 never drops a winner.  Phase 2
    re-ranks the <= salt*k survivors per type — a BOUNDED window.
    Values are identical to the single-window formulation."""
    totals = (
        events.groupBy("event_type", "user_id")
        .agg(F.round(F.sum("value"), 4).alias("total_value"),
             F.count("*").alias("n_events"))
    )
    order = (F.desc("total_value"), F.asc("user_id"))
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.xxhash64("user_id"), F.lit(salt))
    ).orderBy(*order)
    local = (
        totals.withColumn("_lr", F.row_number().over(w1))
        .where(F.col("_lr") <= k).drop("_lr")
    )
    w = Window.partitionBy("event_type").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("event_type", "rank")
    )


# ------------------------------------------------------------ as-of join

def _epoch_ms(ts: F.Column) -> F.Column:
    # events.ts is TIMESTAMP_NTZ; the session tz is pinned to UTC, so the
    # NTZ→TZ cast is the identity instant and unix_millis is engine-portable
    # (DuckDB epoch_ms on the NTZ value gives the same integer).
    return F.unix_millis(F.col(ts).cast("timestamp") if isinstance(ts, str)
                         else ts.cast("timestamp"))


def asof_last_click(events: DataFrame) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click
    at-or-before it (the classic point-in-time / trade-quote join).

    Shape: instead of a range join (which explodes to candidate pairs),
    the two sides are UNIONed with a side marker and a single running
    `last(click, ignorenulls)` window per user resolves every purchase in
    one pass — one shuffle on user_id, O(1) state per row, no pair
    blowup.  Ordering (ts, marker, event_id) is total, so ties at the
    same timestamp deterministically pick the highest click event_id and
    a same-instant click IS visible to the purchase (marker orders the
    click first)."""
    sides = events.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_id",
        _epoch_ms("ts").alias("ts_ms"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("m"),
    )
    w = (Window.partitionBy("user_id")
         .orderBy("ts_ms", "m", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    click = F.last(
        F.when(F.col("m") == 0,
               F.struct(F.col("ts_ms"), F.col("event_id"))),
        ignorenulls=True).over(w)
    return (
        sides.withColumn("c", click)
        .where(F.col("m") == 1)
        .select(F.col("event_id").alias("purchase_event_id"),
                "user_id",
                F.col("ts_ms").alias("purchase_ms"),
                F.col("c.ts_ms").alias("click_ms"),
                F.col("c.event_id").alias("click_event_id"),
                (F.col("ts_ms") - F.col("c.ts_ms")).alias("gap_ms"))
    )


def rolling_user_1h(events: DataFrame) -> DataFrame:
    """Per event: that user's activity over the trailing hour (RANGE
    frame on event-time, current row inclusive) — count and exact
    integer-cents value sum, so the rolling sums hash identically in any
    engine regardless of float summation order."""
    cents = F.round(F.col("value") * 100).cast("long")
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts_ms"))
         .rangeBetween(-3_600_000, 0))
    return (
        events.select("event_id", "user_id", "event_type",
                      _epoch_ms("ts").alias("ts_ms"),
                      cents.alias("cents"))
        .select("event_id", "user_id", "event_type", "ts_ms",
                F.count("*").over(w).alias("n_1h"),
                F.sum("cents").over(w).alias("cents_1h"))
    )


def events_rollup_daily(events: DataFrame) -> DataFrame:
    """ROLLUP over (event_type, day): leaf rows, per-type subtotals and
    the grand total in one pass (partial-agg friendly; NULL group-outs
    re-labelled 'ALL' — both columns are natural-NULL-free)."""
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("event_type", day, cents.alias("cents"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n_events"),
             F.sum("cents").alias("total_cents"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("day", F.lit("ALL")).alias("day"),
                "n_events", "total_cents")
    )


def props_k_histogram(events: DataFrame) -> DataFrame:
    """JSON path extraction over the props column: histogram of the
    'k' attribute in buckets of 10 per event type (the engine's JSON
    scalar surface — get_json_object stays JVM-side/codegen'd)."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", F.floor(k / 10).alias("k_bucket"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "k_bucket")
    )


def event_funnel(events: DataFrame,
                 steps: tuple[str, ...] = ("view", "click", "purchase")
                 ) -> DataFrame:
    """Ordered conversion funnel: a user reaches step k when an event of
    that type occurs AT OR AFTER their earliest completion of step k-1
    (the sequential-pattern query product analytics runs as
    MATCH_RECOGNIZE; here the standard relational min-timestamp
    cascade).  Output: one row per step with the users reaching it,
    conversion from the previous step, and conversion from the top.

    Scale shape: k filtered aggregations + k-1 equi-joins, all keyed by
    user_id — every stage reuses the same hash partitioning, so at
    scale this is one shuffle of the (user, ts) pairs per step, never a
    window over a user's full history; per-step state is one timestamp
    per user.  The closing conversion window runs over exactly
    len(steps) rows (bounded by construction), and nothing is collected
    driver-side."""
    from pyspark.sql import Window

    marks: DataFrame | None = None
    prev: DataFrame | None = None
    for i, step in enumerate(steps):
        hits = events.where(F.col("event_type") == step) \
            .select("user_id", "ts")
        if prev is not None:
            hits = (hits.join(prev, "user_id")
                    .where(F.col("ts") >= F.col("_t"))
                    .select("user_id", "ts"))
        prev = hits.groupBy("user_id").agg(F.min("ts").alias("_t"))
        m = prev.select(F.lit(i + 1).alias("step_idx"),
                        F.lit(step).alias("step"), "user_id")
        marks = m if marks is None else marks.unionByName(m)
    # Static step spine: a step ZERO users reach would otherwise emit
    # no row (its empty aggregate vanishes from the union), while a
    # funnel report must always show all steps — n_users=0 included
    # (ADVICE r5).  len(steps) literal rows; broadcast-joined.
    spine = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)],
        "step_idx INT, step STRING")
    counts = (
        spine.join(marks.groupBy("step_idx", "step")
                   .agg(F.count("*").alias("n_users")),
                   ["step_idx", "step"], "left")
        .withColumn("n_users",
                    F.coalesce("n_users", F.lit(0)).cast("long"))
    )
    w = Window.partitionBy(_bwk("step_idx")).orderBy("step_idx")
    prev_n = F.coalesce(F.lag("n_users").over(w), F.col("n_users"))
    top_n = F.first("n_users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # conversions are null (not NaN) when the denominator step is empty
    # — matches SQL division-by-zero semantics so the oracle agrees
    return (
        counts
        .withColumn("conv_from_prev", F.when(
            prev_n > 0, F.round(F.col("n_users") / prev_n, 6)))
        .withColumn("conv_from_top", F.when(
            top_n > 0, F.round(F.col("n_users") / top_n, 6)))
        .orderBy("step_idx")
    )

def funnel_latency(events: DataFrame,
                   steps: tuple[str, ...] = ("view", "click", "purchase")
                   ) -> DataFrame:
    """Time-to-convert distribution per funnel transition: for every
    user who completes step k, the whole-second latency from their
    step-(k-1) completion — n_users, min, max, and EXACT median / p90
    order statistics.  This is the companion report to `event_funnel`
    (how many convert) answering how long conversion takes, the number
    that sizes retargeting windows and attribution horizons.

    Determinism: percentiles are exact ORDER STATISTICS over integer
    seconds — the value at 1-based rank ceil(n/2) (lower median) and
    ceil(0.9n), tie-broken by user_id — never an interpolated float
    quantile, whose cross-engine interpolation rules differ.  Latency
    is floor-epoch-second arithmetic (Spark `cast long` == DuckDB
    `date_diff('second')`), so every output column is a BIGINT.

    Scale shape: the min-timestamp cascade is the funnel's user-keyed
    join chain (one user_id-partitioned shuffle reused per step); the
    rank windows partition by transition over USER-count-bounded delta
    rows; output is len(steps)-1 rows."""
    if len(steps) < 2:
        raise ValueError(
            f"funnel_latency needs >= 2 steps (got {list(steps)}): "
            "latency is defined per TRANSITION between steps")
    prev: DataFrame | None = None
    deltas: DataFrame | None = None
    for i, step in enumerate(steps):
        hits = events.where(F.col("event_type") == step) \
            .select("user_id", "ts")
        if prev is not None:
            hits = (hits.join(prev, "user_id")
                    .where(F.col("ts") >= F.col("_t"))
                    .select("user_id", "ts", "_t"))
        cur = hits.groupBy("user_id").agg(F.min("ts").alias("_t2"))
        if prev is not None:
            d = (cur.join(prev, "user_id")
                 .select(F.lit(i + 1).alias("step_idx"),
                         F.lit(f"{steps[i - 1]}->{step}").alias("transition"),
                         "user_id",
                         (F.col("_t2").cast("long")
                          - F.col("_t").cast("long")).alias("delta_s")))
            deltas = d if deltas is None else deltas.unionByName(d)
        prev = cur.select("user_id", F.col("_t2").alias("_t"))
    w = Window.partitionBy("step_idx").orderBy("delta_s", "user_id")
    ranked = deltas.withColumn("rn", F.row_number().over(w))
    stats = deltas.groupBy("step_idx", "transition").agg(
        F.count("*").alias("n_users"),
        F.min("delta_s").alias("min_s"), F.max("delta_s").alias("max_s"))
    med = F.expr("(n_users + 1) div 2")
    p90 = F.expr("(9 * n_users + 9) div 10")
    pick = (
        stats.select("step_idx", med.alias("target"),
                     F.lit("median_s").alias("which"))
        .unionByName(stats.select("step_idx", p90.alias("target"),
                                  F.lit("p90_s").alias("which")))
    )
    quant = (
        ranked.join(pick, (ranked.step_idx == pick.step_idx)
                    & (ranked.rn == pick.target))
        .groupBy(ranked.step_idx).pivot("which", ["median_s", "p90_s"])
        .agg(F.first("delta_s"))
    )
    return (
        stats.join(quant, "step_idx")
        .select("step_idx", "transition", "n_users", "min_s", "max_s",
                "median_s", "p90_s")
        .orderBy("step_idx")
    )


def power_users(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k users by event volume with their corpus share in exact
    integer ppm, distinct active days and distinct event types — the
    heavy-hitter report that decides whether per-user state (session
    windows, rate limits, dedup horizons) needs skew handling.

    Scale shape: one user-keyed aggregate (map-side combined), the
    top-k via orderBy+limit's distributed TakeOrderedAndProject
    (n_events DESC, user_id ties) ranked only after the k-row cut —
    never a partition-less rank window over the user-cardinality
    table (VERDICT r8 item 1); the corpus total is a broadcast
    one-row scalar (the sanctioned crossJoin)."""
    per = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("n_active_days"),
        F.countDistinct("event_type").alias("n_types"))
    total = events.agg(F.count("*").alias("_total"))
    topk = per.orderBy(F.desc("n_events"), F.asc("user_id")).limit(k)
    w = Window.partitionBy(_bwk("user_id")) \
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(broadcast(total))
        .select("rank", "user_id", "n_events", "n_active_days", "n_types",
                F.expr("(n_events * 1000000) div _total").alias("share_ppm"))
        .orderBy("rank")
    )


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-type inter-arrival profile: for each event type, the
    distribution of whole-second gaps between a user's consecutive
    events of that type — n_gaps, min, max, and EXACT median / p90
    order statistics (the funnel_latency rule: rank = ceil(n/2) /
    ceil(0.9n), (user_id, event_id) tiebreak) — the cadence signal
    that sizes session gaps, rate limits and watermark horizons.

    Scale shape: ONE lag window partitioned by (user_id, event_type) —
    the same user-keyed exchange sessionize rides, never a global
    sort; the rank windows then run over gap rows (bounded by event
    volume) partitioned by the small type vocabulary."""
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("ts").over(w))
        .where(F.col("prev").isNotNull())
        .select("event_type", "user_id", "event_id",
                (F.col("ts").cast("long")
                 - F.col("prev").cast("long")).alias("delta_s"))
    )
    rw = Window.partitionBy("event_type") \
        .orderBy("delta_s", "user_id", "event_id")
    ranked = gaps.withColumn("rn", F.row_number().over(rw))
    stats = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.min("delta_s").alias("min_s"), F.max("delta_s").alias("max_s"))
    pick = (
        stats.select("event_type", F.expr("(n_gaps + 1) div 2")
                     .alias("target"), F.lit("median_s").alias("which"))
        .unionByName(stats.select(
            "event_type", F.expr("(9 * n_gaps + 9) div 10").alias("target"),
            F.lit("p90_s").alias("which")))
    )
    quant = (
        ranked.join(pick, (ranked.event_type == pick.event_type)
                    & (ranked.rn == pick.target))
        .groupBy(ranked.event_type).pivot("which", ["median_s", "p90_s"])
        .agg(F.first("delta_s"))
    )
    return (
        stats.join(quant, "event_type")
        .select("event_type", "n_gaps", "min_s", "max_s",
                "median_s", "p90_s")
        .orderBy("event_type")
    )


def _disorder_report(keyed: DataFrame, key: str) -> DataFrame:
    """Shared tail of the disorder diagnostics: given (key, event_id,
    ts) rows, compute per-key out-of-order stats vs the running
    event-time max in arrival (event_id) order — count/share of late
    events and exact order-statistic p50/p90/max whole-second lateness
    (rank = ceil(n/2)/ceil(0.9n), event_id tiebreak)."""
    w = Window.partitionBy(key).orderBy("event_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    d = (
        keyed
        .withColumn("mx", F.max("ts").over(w))
        .where(F.col("mx").isNotNull())
        .select(key, "event_id",
                F.greatest(F.lit(0), F.col("mx").cast("long")
                           - F.col("ts").cast("long")).alias("dis"))
    )
    late = d.where(F.col("dis") > 0)
    rw = Window.partitionBy(key).orderBy("dis", "event_id")
    ranked = late.withColumn("rn", F.row_number().over(rw))
    stats = d.groupBy(key).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("dis") > 0).cast("long")).alias("n_late"),
        F.max("dis").alias("late_max_s"))
    pick = (
        stats.select(key, F.expr("(n_late + 1) div 2")
                     .alias("target"), F.lit("late_p50_s").alias("which"))
        .unionByName(stats.select(
            key, F.expr("(9 * n_late + 9) div 10").alias("target"),
            F.lit("late_p90_s").alias("which")))
    )
    quant = (
        ranked.join(pick, (ranked[key] == pick[key])
                    & (ranked.rn == pick.target))
        .groupBy(ranked[key]).pivot("which",
                                    ["late_p50_s", "late_p90_s"])
        .agg(F.first("dis"))
    )
    return (
        stats.join(quant, key, "left")
        .select(key, "n_events", "n_late",
                F.expr("(n_late * 1000000) div n_events").alias("late_ppm"),
                F.coalesce("late_p50_s", F.lit(0)).alias("late_p50_s"),
                F.coalesce("late_p90_s", F.lit(0)).alias("late_p90_s"),
                F.coalesce("late_max_s", F.lit(0)).alias("late_max_s"))
        .orderBy(key)
    )


def disorder_stats(events: DataFrame) -> DataFrame:
    """Out-of-order depth report — the number that SIZES the watermark
    (`withWatermark` horizon) for every streaming query over this
    stream: per event type, how many events arrive with an event-time
    EARLIER than the max event-time already seen (event_id is the
    arrival order), how deep the disorder runs (whole-second lateness
    vs the running max), and exact median/p90/max lateness among late
    events.  A watermark shorter than late_p90_s drops real data; one
    much longer than late_max_s holds state for nothing.

    Determinism: arrival order is the deterministic event_id, lateness
    is whole-second integer arithmetic (Spark `cast long` == DuckDB
    `date_diff('second')`), percentiles are exact order statistics.

    Scale shape: one running-max window partitioned by the small type
    vocabulary — the per-TYPE diagnostic view; a hot type is one giant
    sorted partition at 100 TB, so production sizing should read the
    per-ingest-partition twin `disorder_stats_partitioned`, which is
    the same computation at the grain arrival order actually has
    (VERDICT r7 item 4); the rank windows run over the LATE subset
    only."""
    return _disorder_report(
        events.select("event_type", "event_id", "ts"), "event_type")


DISORDER_PARTITIONS = 8
DISORDER_PART_SALT = "part-v1"


def ingest_partition_col(user_id, n_partitions: int = DISORDER_PARTITIONS):
    """Deterministic ingest-partition id: pmod of the md5-derived 28-bit
    hash of the partition KEY (user_id — the key a Kafka producer would
    partition on, so one user's events stay in-order within a
    partition), replayable bit-for-bit by any engine with md5."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit(DISORDER_PART_SALT), user_id.cast("string"))), 1, 7),
        16, 10).cast("long")
    return F.pmod(h, F.lit(n_partitions)).alias("ingest_part")


def disorder_stats_partitioned(
        events: DataFrame,
        n_partitions: int = DISORDER_PARTITIONS) -> DataFrame:
    """PRODUCTION-grain disorder report (VERDICT r7 item 4): the same
    out-of-order depth computation as `disorder_stats`, but keyed by a
    derived INGEST PARTITION (md5-hash of user_id mod `n_partitions`)
    instead of the event-type vocabulary — arrival order is only
    meaningful within an ingest partition, exactly as Kafka offsets are
    per-partition, and this is the grain `withWatermark` actually
    advances on (min across partitions of each partition's running
    max).

    Scale shape: the running-max window partitions by the ingest
    partition id, so parallelism scales with the partition count (set
    `n_partitions` to the topic's real partition count at scale)
    instead of collapsing onto a hot type; each window partition is a
    partition's own arrival sequence — production computes the same
    running max in O(1) per event as the stream arrives, and this batch
    formulation replays it exactly.  Output is `n_partitions` rows."""
    keyed = events.select(
        ingest_partition_col(F.col("user_id"), n_partitions),
        "event_id", "ts")
    return _disorder_report(keyed, "ingest_part")


WATERMARK_CANDIDATES_S = (60, 300, 900, 3600)


def watermark_drop_matrix(events: DataFrame,
                          horizons_s: tuple[int, ...] =
                          WATERMARK_CANDIDATES_S) -> DataFrame:
    """The decision table on top of disorder_stats: for each candidate
    watermark horizon, how many events a `withWatermark(horizon)` query
    over this stream would DROP (event-time more than `horizon` behind
    the running max at arrival), per type and in integer ppm.  Read
    with disorder_stats' percentiles: pick the smallest horizon whose
    drop rate the pipeline tolerates.

    Scale shape: the same single running-max window as disorder_stats
    collapses to a (type, lateness) histogram; the horizon sweep is a
    broadcast literal spine against that bounded histogram — one corpus
    scan regardless of how many horizons are swept."""
    from pyspark.sql.functions import broadcast
    w = Window.partitionBy("event_type").orderBy("event_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    lat = (
        events.select("event_type", "event_id", "ts")
        .withColumn("mx", F.max("ts").over(w))
        .where(F.col("mx").isNotNull())
        .select("event_type",
                F.greatest(F.lit(0), F.col("mx").cast("long")
                           - F.col("ts").cast("long")).alias("dis"))
        .groupBy("event_type", "dis").agg(F.count("*").alias("n"))
    )
    spine = events.sparkSession.createDataFrame(
        [(int(h),) for h in horizons_s], "horizon_s long")
    return (
        lat.crossJoin(broadcast(spine))
        .groupBy("event_type", "horizon_s")
        .agg(F.sum("n").alias("n_events"),
             F.sum(F.when(F.col("dis") > F.col("horizon_s"), F.col("n"))
                   .otherwise(0)).alias("n_dropped"))
        .select("event_type", "horizon_s", "n_events", "n_dropped",
                F.expr("(n_dropped * 1000000) div n_events")
                .alias("drop_ppm"))
        .orderBy("event_type", "horizon_s")
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix: users bucketed by the week of
    their FIRST event, then for each (cohort, week-offset) the count
    and share of cohort members active that week — the first-touch
    attribution + retention triangle every growth dashboard runs.

    Scale shape: the first-touch table is one user-keyed aggregate;
    the activity join is user-keyed (same partitioning — at scale both
    sides shuffle once on user_id, no broadcast assumption about user
    cardinality); the retention matrix is then a tiny
    (cohort, offset) aggregate with the cohort sizes joined back as a
    broadcast (bounded by the number of calendar weeks).  All metrics
    are exact integer counts; the pct divides two exact longs."""
    first = (events.groupBy("user_id")
             .agg(F.min("ts").alias("first_ts"))
             .select("user_id",
                     F.date_trunc("week", "first_ts").alias("cohort_w")))
    sizes = first.groupBy("cohort_w").agg(
        F.count("*").alias("cohort_size"))
    active = (
        events.select("user_id", F.date_trunc("week", "ts").alias("w"))
        .distinct()
        .join(first, "user_id")
        .groupBy("cohort_w",
                 (F.datediff("w", "cohort_w") / 7).cast("int")
                 .alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )
    return (
        active.join(broadcast(sizes), "cohort_w")
        .select(F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
                "week_offset", "n_active", "cohort_size",
                F.round(F.col("n_active") / F.col("cohort_size"), 6)
                .alias("retention"))
        .orderBy("cohort_week", "week_offset")
    )


def path_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    counts): for each consecutive event pair in a user's timeline, the
    transition count and the share of all transitions leaving the
    source type — the navigation-flow / next-action model product
    analytics fits.

    Scale shape: ONE user-keyed window (lag over ts with the event_id
    tiebreak — deterministic under timestamp ties) produces the pairs
    map-side after a single user_id exchange; the matrix aggregate is
    bounded by |event_type|^2 rows, and the per-source share is a
    keyed window over that tiny aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type",
                           F.col("event_type").alias("next_type")) \
        .agg(F.count("*").alias("n_trans"))
    per_src = Window.partitionBy("prev_type")
    return (
        counts
        .withColumn("p_next", F.round(
            F.col("n_trans") / F.sum("n_trans").over(per_src), 6))
        .orderBy("prev_type", "next_type")
    )


def type_cooccurrence(events: DataFrame) -> DataFrame:
    """Event-type co-occurrence with lift — which behaviors cluster in
    the same users (the market-basket view of the event stream): for
    each type pair, the distinct-user overlap and lift = P(a,b) /
    (P(a)P(b)) (>1 = the types attract, <1 = they repel).

    Scale shape: one distinct over (user, type) pairs, then pairs are
    exploded per user from the collect_set array (bounded by the TYPE
    vocabulary, never user volume — C(|types|, 2) rows per user max)
    and counted in one exchange; per-type totals and the user count
    ride a broadcast join.  Exact integer counts; lift is one division
    per output row."""
    ut = events.select("user_id", "event_type").distinct()
    per_type = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    n_users = ut.agg(
        F.countDistinct("user_id").alias("n_users"))
    pairs = (
        ut.groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("ts"))
        .select(F.explode(_pair_expr("ts")).alias("p"))
        .groupBy(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
        .agg(F.count("*").alias("n_both"))
    )
    lift = (F.col("n_both") * F.col("n_users")).cast("double") \
        / (F.col("n_a") * F.col("n_b"))
    return (
        pairs
        .join(broadcast(per_type.select(F.col("event_type").alias("type_a"),
                                        F.col("n").alias("n_a"))), "type_a")
        .join(broadcast(per_type.select(F.col("event_type").alias("type_b"),
                                        F.col("n").alias("n_b"))), "type_b")
        .crossJoin(broadcast(n_users))
        .select("type_a", "type_b", "n_both", "n_a", "n_b",
                F.round(lift, 6).alias("lift"))
        .orderBy("type_a", "type_b")
    )


def daily_anomalies(events: DataFrame, factor: float = 3.0) -> DataFrame:
    """Robust volume-anomaly detection per event type: flag days whose
    count deviates from the type's median by more than `factor` x MAD
    (median absolute deviation) — the outage/bot-spike detector that,
    unlike mean/stddev z-scores, is not dragged by the anomalies it is
    trying to find.

    Determinism: daily counts are exact integers; each median is ONE
    exact-percentile aggregate over a bounded group (days-per-type), so
    med/mad are integers or exact .5 halves — the flag comparison never
    sits on a float-noise boundary.

    Scale shape: one (type, day) aggregate over the corpus with
    map-side combine is the only corpus-sized exchange; medians and
    deviations run over the TINY daily table, and the two per-type
    stats frames broadcast back onto it."""
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n_events, 0.5)").alias("med"))
    dev = (
        daily.join(broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("n_events") - F.col("med")))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(broadcast(mad), "event_type")
        .select("event_type",
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n_events", "med", "mad",
                (F.col("adev") > factor * F.col("mad")).alias("is_anomaly"))
        .orderBy("event_type", "day")
    )


def stickiness(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU / trailing-WAU stickiness per day — the engagement ratio
    every product analytics stack reports (1.0 = every weekly user
    shows up daily; ~1/7 = each user appears once a week).

    The trailing-window DISTINCT is the catch: weekly actives cannot be
    summed from daily actives (users repeat), so each (user, day) pair
    is fanned out to the `window_days` target days it contributes to
    and the target day counts distinct users — exact, at a bounded
    window_days x |user-days| row cost, the standard exact formulation
    before a corpus graduates to sketch-mergeable HLL/KMV unions.

    Scale shape: one distinct over (day, user) pairs (map-side partial),
    a map-only explode of int-sized rows, and two bounded-key count-
    distinct aggregates; raw events are scanned once."""
    ud = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    fan = ud.select(
        F.explode(F.sequence(
            F.col("day"), F.date_add("day", window_days - 1))).alias("day"),
        "user_id")
    wau = fan.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                "dau", "wau",
                F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"))
        .orderBy("day")
    )


def ewma_forecast(events: DataFrame) -> DataFrame:
    """Next-day volume forecast per event type: EWMA with alpha = 1/2
    (s_t = (s_{t-1} + x_t) / 2) plus a one-step-ahead backtest MAE over
    the history — the capacity-planning number with its own trust
    metric attached.

    alpha = 1/2 is deliberate: halving is an exact exponent shift in
    IEEE doubles, so the recurrence is a deterministic left fold any
    engine replays bit-identically (the same determinism budget as
    kmeans_assign; an arbitrary alpha would multiply by an inexact
    (1-alpha) every step).

    Scale shape: one (type, day) count aggregate over the corpus, then
    ALL fold math runs per-row on the bounded per-type day array
    (collected ordered, |days| elements) — the backtest's prefix folds
    are O(|days|^2) scalar ops on a |types|-row table, not a shuffle."""
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    arr = (
        daily.groupBy("event_type")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"].cast("double")).alias("vals"))
    )
    vals = F.col("vals")
    fold = lambda sl, init: F.aggregate(  # noqa: E731 — shared fold rule
        sl, init, lambda a, x: (a + x) / 2)
    ewma = fold(F.slice(vals, 2, F.size(vals) - 1), F.element_at(vals, 1))
    errs = F.transform(
        F.sequence(F.lit(2), F.size(vals)),
        lambda t: F.abs(
            F.element_at(vals, t)
            - fold(F.slice(vals, 2, t - 2), F.element_at(vals, 1))))
    mae = F.aggregate(errs, F.lit(0.0), lambda a, x: a + x) / F.size(errs)
    # A type with ONE active day has no one-step-ahead history:
    # unguarded, F.sequence(2, 1) yields the DESCENDING [2, 1] (Spark
    # defaults step to -1 when start > stop), whose t=1 slice has
    # negative length — a runtime error that fails the whole query on
    # any corpus with a newly-introduced event type (ADVICE r5).  The
    # backtest is only defined from day 2, so MAE is null below that;
    # the forecast itself (fold over an empty tail = day-1 value) is
    # fine at any size.
    mae_guarded = F.when(F.size(vals) >= 2, F.round(mae, 6))
    return (
        arr.select("event_type",
                   F.size(vals).cast("long").alias("n_days"),
                   F.round(ewma, 6).alias("ewma_forecast"),
                   mae_guarded.alias("backtest_mae"))
        .orderBy("event_type")
    )


def weekly_growth(events: DataFrame) -> DataFrame:
    """Week-over-week event-volume growth: weekly totals per event
    type with the previous week's count and the percent change — the
    lag-over-aggregate reporting pattern (the same shape as
    CLUSTER_GROWTH_DAILY trended over time).

    Scale shape: one (type, week) aggregate over the corpus, then the
    lag window runs over the TINY aggregate partitioned by event_type
    — never a window over raw events."""
    weekly = (
        events.groupBy("event_type",
                       F.date_trunc("week", "ts").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    lagw = Window.partitionBy("event_type").orderBy("w")
    return (
        weekly
        .withColumn("prev_events", F.lag("n_events").over(lagw))
        .select("event_type",
                F.date_format("w", "yyyy-MM-dd").alias("week"),
                "n_events", "prev_events",
                F.round((F.col("n_events") - F.col("prev_events"))
                        * 100.0 / F.col("prev_events"), 4)
                .alias("wow_pct"))
        .orderBy("event_type", "week")
    )


CONCURRENCY_BUCKET_S = 3600  # prefix-sum time bucket (one calendar hour)


def session_intervals(events: DataFrame,
                      gap_minutes: int = 30) -> DataFrame:
    """Per-user gap-rule sessions as closed intervals [s, e] in epoch
    seconds (same 30-minute rule as sessionize; ties broken by
    event_id so the assignment replays exactly in any engine)."""
    gap_s = gap_minutes * 60
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tss = F.unix_timestamp("ts")
    gapped = (
        F.when(tss - F.unix_timestamp(F.lag("ts").over(by_user)) > gap_s, 1)
        .otherwise(0)
    )
    return (
        events.withColumn("new_sess", gapped)
        .withColumn("session_id",
                    F.sum("new_sess").over(
                        by_user.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(F.min(tss).alias("s"), F.max(tss).alias("e"))
    )


def session_concurrency(events: DataFrame, gap_minutes: int = 30,
                        etype: str = "purchase",
                        bucket_s: int = CONCURRENCY_BUCKET_S) -> DataFrame:
    """Interval-overlap concurrency WITHOUT pair materialization: for
    each user session [s, e], the number of `etype` events by OTHER
    users inside the interval, reported as a concurrency histogram
    (concurrent -> n_sessions).

    This is the range-join shape Spark lacks natively.  The naive plan
    (sessions x events ON ts BETWEEN s AND e) materializes a pair blow-up
    that grows QUADRATICALLY per time bucket as traffic density rises —
    at 100 TB it is the classic interval-join killer.  This formulation
    replaces pairs with order statistics: count(tss in [s, e]) =
    P(e) - P(s-1) where P is the prefix count of the event timeline, so
    the cost is O(n log n) sorting instead of O(pairs):

      1. bucket the timeline into calendar hours; per-bucket counts
         cumsum into per-bucket base offsets (a calendar-bounded tiny
         table — 720 rows/month regardless of corpus size);
      2. union the session endpoints (weight 0) with the events
         (weight 1); ONE window per bucket computes every endpoint's
         global prefix count as base-offset + in-bucket running sum —
         the two-level prefix-sum trick that avoids any global sort;
      3. the own-user correction (P_u(e) - P_u(s-1)) runs the same
         union-window partitioned by user, where data is tiny.

    The DuckDB oracle is the naive BETWEEN join (its IEJoin handles
    gate-scale sizes), which independently cross-checks the whole
    prefix-sum derivation."""
    # NULL-user SESSIONS count with concurrent = 0, as in the oracle,
    # whose `p.u <> iv.user_id` is never true for them (the LEFT JOIN
    # keeps the session with no match).  They ride the timeline like
    # any session; the final select zeroes them, since n_all - n_own
    # would count every purchase as "concurrent" (n_own is 0: the
    # NULL-user partition of the own-user window holds no event).
    iv = session_intervals(events, gap_minutes)
    # NULL-user events must not count as "other users": the own-user
    # correction can never subtract them (NULL joins nothing) and the
    # oracle's `p.u <> iv.user_id` predicate excludes NULLs (ADVICE r8)
    ev = (
        events.where((F.col("event_type") == etype)
                     & F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("u"),
                F.unix_timestamp("ts").alias("t"))
    )
    # query points: two per session (t = s-1 and t = e); qsign -1/+1 so
    # the final per-session sum is P(e) - P(s-1) in one aggregation
    qpts = iv.select(
        "user_id", "session_id",
        F.explode(F.array(
            F.struct((F.col("s") - 1).alias("t"), F.lit(-1).alias("qsign")),
            F.struct(F.col("e").alias("t"), F.lit(1).alias("qsign")),
        )).alias("q")
    ).select("user_id", "session_id", "q.t", "q.qsign")

    # ONE timeline carries both prefix sums (r11 optimization round):
    # events keep their real user_id so the global (bucket-partitioned)
    # and own-user (user-partitioned) running counts are two windows
    # over the SAME union, instead of two separately-built unions whose
    # per-branch results re-join on (user_id, session_id).  Query-row
    # values are identical: among rows tied on (t, is_q) the w=1 event
    # rows still all sort before the w=0 query rows, the relative order
    # of w=0 rows cannot change any running sum, and event-row p values
    # are discarded by the is_q filter — so the tie-break switch from
    # NULL to real user_id on event rows is invisible in the output.
    # This halves the plan (session_intervals computed once, no
    # global⋈own sort-merge join; the post-window groupBy rides the
    # user-hash partitioning the own-window already established).
    timeline = (
        ev.select("t", F.lit(1).alias("w"), F.lit(0).alias("is_q"),
                  F.col("u").alias("user_id"),
                  F.lit(None).cast("long").alias("session_id"),
                  F.lit(0).alias("qsign"))
        .unionByName(qpts.select(
            "t", F.lit(0).alias("w"), F.lit(1).alias("is_q"),
            "user_id", "session_id", "qsign"))
        .withColumn("bucket", F.expr(f"t div {bucket_s}"))
    )
    # level 1: per-bucket event counts -> cumulative base offsets.  The
    # unpartitioned window runs over the CALENDAR-BOUNDED bucket table
    # (hours in the retention window), never over data-sized rows.
    per_bucket = timeline.groupBy("bucket").agg(F.sum("w").alias("bw"))
    off_w = Window.partitionBy(_bwk("bucket")).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bucket", F.coalesce(F.sum("bw").over(off_w), F.lit(0)).alias("base"))
    # level 2: in-bucket running count; events sort before queries at
    # equal t (is_q) because P(t) counts tss <= t
    run_w = Window.partitionBy("bucket").orderBy(
        "t", "is_q", "qsign", "user_id", "session_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    # own-user correction: same union-window trick partitioned by user,
    # applied as a SECOND window over the same timeline frame
    own_w = Window.partitionBy("user_id").orderBy(
        "t", "is_q", "qsign", "session_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    per_session = (
        timeline.join(broadcast(offsets), "bucket")
        .withColumn("p", F.col("base") + F.sum("w").over(run_w))
        .withColumn("p_own", F.sum("w").over(own_w))
        .where(F.col("is_q") == 1)
        .groupBy("user_id", "session_id")
        .agg(F.sum(F.col("qsign") * F.col("p")).alias("n_all"),
             F.sum(F.col("qsign") * F.col("p_own")).alias("n_own"))
        .select(F.when(F.col("user_id").isNull(), F.lit(0))
                .otherwise(F.col("n_all") - F.col("n_own"))
                .alias("concurrent"))
    )
    return (
        per_session.groupBy("concurrent")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("concurrent")
    )
