"""Event-time analytics over the `events` table — the windowed-aggregation
family (SURVEY §2 Part B "Window functions / Streaming" rows) expressed with
Spark's built-in event-time operators:

* :func:`tumbling_window_agg` — `F.window` tumbling windows (the same
  operator Structured Streaming uses with a watermark; here exercised in
  batch where it is oracle-checkable).
* :func:`sessionize` — `F.session_window` gap-based sessions (merge-on-gap
  semantics, streaming-capable; the classic training-pipeline
  "user activity session" rollup).
* :func:`approx_stats` — the 100 TB cardinality/quantile path
  (`approx_count_distinct` = HLL++, `percentile_approx` = GK sketch), both
  mergeable partial aggregates, i.e. one shuffle of sketch bytes instead of
  a shuffle of raw values.

The driver parquet carries TIMESTAMP(NANOS) which Spark reads as long nanos
(`nanosAsLong`); helpers convert to microsecond timestamps. All query
outputs use epoch-microsecond BIGINT columns so the DuckDB oracle is
bit-comparable without timezone ambiguity (session timezone is pinned to
UTC for window alignment).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SESSION_GAP_MIN = 30
WINDOW = "1 hour"


def ts_micros(col: Column) -> Column:
    """Long nanoseconds → long microseconds.

    Integer division via decimal: a plain ``/`` is double division, and
    doubles lose unit precision above 2^53 — epoch *nanos* (~1.7e18) land
    there, so the naive path is off by ±1 us.
    """
    return (col.cast("decimal(20,0)") / F.lit(1000)).cast("long")


def ts_from_nanos(col: Column) -> Column:
    """Long nanoseconds → TimestampType (microsecond precision)."""
    return F.timestamp_micros(ts_micros(col))


def tumbling_window_agg(
    df: DataFrame,
    ts_col: Column,
    group_cols: list[str],
    aggs: list[Column],
    window: str = WINDOW,
) -> DataFrame:
    """Tumbling event-time windows via the built-in ``F.window`` operator.

    One shuffle on (window, *group_cols) with map-side partial aggregation;
    the identical plan serves streaming with ``withWatermark`` upstream.
    """
    return (
        df.withColumn("__w", F.window(ts_col, window))
        .groupBy(F.col("__w"), *group_cols)
        .agg(*aggs)
        .withColumn("ws_us", F.unix_micros(F.col("__w.start")))
        .drop("__w")
    )


def sessionize(
    df: DataFrame,
    ts_col: Column,
    key_cols: list[str],
    aggs: list[Column],
    gap_minutes: int = SESSION_GAP_MIN,
) -> DataFrame:
    """Gap-based sessions via the built-in ``F.session_window``: events of
    one key belong to one session while consecutive gaps stay under
    ``gap_minutes``; session end = last event + gap.

    Streaming-capable as-is (session_window + watermark); at batch scale it
    is one shuffle on the key with window merging inside the aggregation —
    no self-join, no per-user collect.
    """
    w = F.session_window(ts_col, f"{gap_minutes} minutes")
    return (
        df.groupBy(w.alias("__s"), *key_cols)
        .agg(*aggs)
        .withColumn("sess_start_us", F.unix_micros(F.col("__s.start")))
        .withColumn("sess_end_us", F.unix_micros(F.col("__s.end")))
        .drop("__s")
    )


def approx_stats(
    df: DataFrame,
    distinct_cols: list[str],
    quantile_col: str,
    quantiles: list[float],
    rsd: float = 0.05,
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-based distinct counts + quantiles (E5). Both aggregates are
    mergeable partials — at 100 TB the shuffle carries kilobyte sketches,
    never raw columns."""
    exprs = [
        F.approx_count_distinct(c, rsd).alias(f"approx_distinct_{c}")
        for c in distinct_cols
    ]
    exprs.append(
        F.percentile_approx(quantile_col, quantiles, accuracy).alias("approx_quantiles")
    )
    return df.agg(*exprs)


_GRAIN_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _grain_seconds(grain: str) -> int:
    """Parse a window duration like '6 hours' to seconds (the subset of
    CalendarInterval syntax F.window accepts for fixed-length windows)."""
    parts = grain.strip().split()
    if (
        len(parts) != 2
        or not parts[0].isdigit()
        or int(parts[0]) <= 0
        or parts[1] not in _GRAIN_UNIT_SECONDS
    ):
        raise ValueError(
            f"unsupported grain {grain!r}: use '<N> "
            f"{'|'.join(sorted(set(_GRAIN_UNIT_SECONDS)))}' with N >= 1"
        )
    return int(parts[0]) * _GRAIN_UNIT_SECONDS[parts[1]]


def multi_grain_rollup(
    df: DataFrame,
    ts_col: Column,
    group_cols: list[str],
    value_col: str,
    grains: list[str] = ("1 hour", "1 day"),
) -> dict[str, DataFrame]:
    """Hypertable-style continuous-aggregate rollup at several time
    granularities (fine → coarse). Returns ``{grain: DataFrame}`` with
    columns ``(ws_us, *group_cols, n_events, sum_value)``.

    The finest grain aggregates the raw events (one shuffle); every
    coarser grain's PLAN re-aggregates the previous grain's partials —
    count and sum are mergeable, so daily == sum of its hours by
    construction, and each coarsening shuffles only rollup rows. The
    plans are lazy: materializing each returned level independently would
    re-execute the raw scan per level. To scan raw once across all
    levels, write each level out fine→coarse and build the next level
    from the written table (the production pattern).

    ``grains`` must run fine → coarse with each grain an exact multiple of
    the previous (1 hour → 1 day, not 7 minutes → 1 hour) — otherwise a
    fine window straddling a coarse boundary would be assigned wholly to
    the window containing its start and the coarse totals would be
    silently wrong. Validated up front.
    """
    if not grains:
        raise ValueError("grains must be non-empty")
    secs = [_grain_seconds(g) for g in grains]
    for (ga, sa), (gb, sb) in zip(zip(grains, secs), zip(grains[1:], secs[1:])):
        if sb < sa or sb % sa != 0:
            raise ValueError(
                f"grain {gb!r} must be an exact multiple of {ga!r} "
                f"({sb}s vs {sa}s)"
            )
    out: dict[str, DataFrame] = {}
    fine = (
        df.withColumn("__w", F.window(ts_col, grains[0]))
        .groupBy(F.col("__w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .withColumn("ws_us", F.unix_micros(F.col("__w.start")))
        .drop("__w")
    )
    out[grains[0]] = fine
    prev = fine
    for grain in grains[1:]:
        prev = (
            prev.withColumn("__w", F.window(F.timestamp_micros(F.col("ws_us")), grain))
            .groupBy(F.col("__w"), *group_cols)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
            .withColumn("ws_us", F.unix_micros(F.col("__w.start")))
            .drop("__w")
        )
        out[grain] = prev
    return out


# ---------------------------------------------------------------------------
# Driver-checked queries + oracles
# ---------------------------------------------------------------------------

def ts_any_to_nanos(df: DataFrame, col: str) -> Column:
    """``col`` as long epoch NANOSECONDS whatever its physical type.

    The driver's synthetic events table has shipped two representations
    across rounds: TIMESTAMP(NANOS) (readable only as long, via
    ``nanosAsLong``) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    Everything downstream works in nanos longs, so normalize at the read.
    The NTZ wall time is interpreted in the session timezone (pinned to
    UTC by :func:`load_events`), matching DuckDB's ``epoch_us`` on the
    same naive timestamp."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema[col].dataType, LongType):
        return F.col(col)
    return (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` normalized to long epoch nanos."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return df.withColumn("ts", ts_any_to_nanos(df, "ts"))


_events = load_events


def q32_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + sum(value).

    round(sum,2) is bit-stable across engines: values carry 2 decimals, so
    the true sum is a multiple of 0.01 and fp accumulation error (~1e-11)
    cannot cross a rounding boundary.
    """
    ev = _events(spark, sf_dir)
    out = tumbling_window_agg(
        ev,
        ts_from_nanos(F.col("ts")),
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )
    return out.select("ws_us", "event_type", "n_events", "sum_value").orderBy(
        "ws_us", "event_type"
    )


def q33_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user via session_window."""
    ev = _events(spark, sf_dir)
    out = sessionize(
        ev,
        ts_from_nanos(F.col("ts")),
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )
    return out.select(
        "user_id", "sess_start_us", "sess_end_us", "n_events", "sum_value"
    ).orderBy("user_id", "sess_start_us")


#: q34 bounds: HLL++ rsd and the 3-sigma relative-error gate; GK sketch
#: rank accuracy (error <= 1/accuracy) and the rank margin the bounds
#: check allows (5x the guarantee, absorbing order-statistic interpolation
#: slop at small N).
_Q34_RSD = 0.05
_Q34_REL_BOUND = 3 * _Q34_RSD
_Q34_ACCURACY = 1000
_Q34_RANK_MARGIN = 0.005
_Q34_PCTS = (0.5, 0.95, 0.99)


def q34_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 sketch aggregates, reformulated as a BOUNDS CHECK so the driver
    can hash it (VERDICT r3 item 2): the sketch values themselves are
    engine-specific, but their accuracy guarantees are not — HLL++ holds
    |approx - exact| within ~rsd·exact (3-sigma gate), and the GK quantile
    sketch guarantees rank error <= 1/accuracy, i.e. the approx p-quantile
    lies between the exact (p±margin)-quantiles. Exact counts and the
    booleans are deterministic (HLL++ register-max merge and GK bounds are
    merge-order-independent), so the oracle is plain SQL over the same
    events: the exact aggregates plus literal ``true`` per guarantee.
    One aggregation pass computes exact and approx side by side."""
    ev = _events(spark, sf_dir)
    lo_hi = [b for p in _Q34_PCTS for b in
             (p - _Q34_RANK_MARGIN, min(p + _Q34_RANK_MARGIN, 1.0))]
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.countDistinct("event_type").alias("distinct_event_types"),
        F.approx_count_distinct("user_id", rsd=_Q34_RSD).alias("__ad_u"),
        F.approx_count_distinct("event_type", rsd=_Q34_RSD).alias("__ad_e"),
        F.percentile_approx(
            "value",
            F.array(*[F.lit(p) for p in _Q34_PCTS]),
            F.lit(_Q34_ACCURACY),
        ).alias("__aq"),
        F.percentile(
            "value", F.array(*[F.lit(b) for b in lo_hi])
        ).alias("__bounds"),
    )

    def _within(i: int):
        aq = F.element_at("__aq", i + 1)
        lo = F.element_at("__bounds", 2 * i + 1)
        hi = F.element_at("__bounds", 2 * i + 2)
        return (aq >= lo) & (aq <= hi)

    rel_ok = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact))
        <= F.lit(_Q34_REL_BOUND) * F.col(exact)
    )
    return agg.select(
        "n_events",
        "distinct_users",
        "distinct_event_types",
        rel_ok("__ad_u", "distinct_users").alias("approx_users_ok"),
        rel_ok("__ad_e", "distinct_event_types").alias("approx_event_types_ok"),
        _within(0).alias("p50_ok"),
        _within(1).alias("p95_ok"),
        _within(2).alias("p99_ok"),
    )


def q47_daily_rollup_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type rollup computed by MERGING the hourly rollup's
    partials (multi_grain_rollup) — the oracle aggregates raw events
    directly, so a hash match proves the coarsening is lossless."""
    ev = _events(spark, sf_dir)
    daily = multi_grain_rollup(
        ev, ts_from_nanos(F.col("ts")), ["event_type"], "value",
        grains=["1 hour", "1 day"],
    )["1 day"]
    return daily.select(
        "ws_us", "event_type", "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("ws_us", "event_type")


def q48_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the latest order of the same
    customer at-or-before the event time (operators/temporal.asof_join —
    union + carry-forward window, one shuffle, no pair blow-up). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    import os

    from elephantdb_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", ts_micros(F.col("ts")).alias("ts_us")
    )
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_custkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        "o_orderkey",
        "o_totalprice",
    )
    joined = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts_us", right_ts="od_us",
        value_cols=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return joined.select(
        "event_id", "user_id", "ts_us",
        F.col("o_orderkey").alias("last_order_key"),
        F.round("o_totalprice", 2).alias("last_order_price"),
    ).orderBy("event_id")


def q49_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/temporal.range_join — grid-bucketed
    equi-join, no nested loop): every event matched to the gap-session
    interval that contains it. Each event belongs to exactly one session
    by construction, so the result has one row per event."""
    from elephantdb_spark.operators.temporal import range_join

    ev = _events(spark, sf_dir)
    points = ev.select("event_id", "user_id", ts_micros(F.col("ts")).alias("ts_us"))
    sessions = sessionize(
        ev, ts_from_nanos(F.col("ts")), ["user_id"], [F.count(F.lit(1)).alias("n")]
    ).select("user_id", "sess_start_us", "sess_end_us")
    joined = range_join(
        points, sessions,
        point_key="user_id", interval_key="user_id",
        point_ts="ts_us", start_col="sess_start_us", end_col="sess_end_us",
        bucket_width=3_600_000_000,  # 1 h in microseconds
    )
    return joined.select(
        "event_id", "user_id", "ts_us", "sess_start_us", "sess_end_us"
    ).orderBy("event_id")


def grouped_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """EXACT per-group percentiles (linear interpolation — the
    ``quantile_cont`` definition, bit-identical to DuckDB's for identical
    inputs, hence oracle-hashable without rounding).

    Scale caveat, by design: Spark's exact ``percentile`` buffers each
    group's values in the aggregation state, so this is for
    bounded-cardinality groups (event types, sources, languages — the
    dashboard shape). For percentiles over UNBOUNDED value streams use
    :func:`approx_stats` (GK sketch, mergeable partials, q34) — the two
    operators are the exact/approx twins of the same need.
    """
    aggs = [
        F.percentile(value_col, p).alias(f"p{int(p * 100)}") for p in percentiles
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def q66_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event value per event type. Unrounded: the
    interpolation arithmetic is bit-identical cross-engine, and rounding
    identical doubles is the riskier operation (engines' round() can
    differ by an ulp on the same input)."""
    ev = _events(spark, sf_dir)
    return grouped_percentiles(ev, ["event_type"], "value").orderBy("event_type")


ANALYTICS_QUERIES = {
    "q32_event_window_agg": q32_event_window_agg,
    "q66_grouped_percentiles": q66_grouped_percentiles,
    "q33_event_sessions": q33_event_sessions,
    "q34_approx_stats": q34_approx_stats,
    "q47_daily_rollup_from_hourly": q47_daily_rollup_from_hourly,
    "q48_asof_join": q48_asof_join,
    "q49_range_join": q49_range_join,
}

_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

ANALYTICS_ORACLES = {
    "q66_grouped_percentiles": (
        "SELECT event_type, quantile_cont(value, 0.5) AS p50, "
        "quantile_cont(value, 0.95) AS p95, quantile_cont(value, 0.99) AS p99 "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "q32_event_window_agg": (
        "SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type, "
        "COUNT(*) AS n_events, round(SUM(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"
    ),
    # gap>30min starts a new session; session_end = last event + gap
    # (matches F.session_window's [first, last+gap) semantics)
    "q33_event_sessions": (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events), "
        "marked AS (SELECT *, CASE WHEN us - lag(us) OVER w > "
        f"{_GAP_US} OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)), "
        "sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id "
        "ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM marked) "
        "SELECT user_id, MIN(us) AS sess_start_us, "
        f"MAX(us) + {_GAP_US} AS sess_end_us, "
        "COUNT(*) AS n_events, round(SUM(value), 2) AS sum_value "
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start_us"
    ),
    # q34: the sketch VALUES are engine-specific, but the accuracy
    # guarantees are deterministic — the oracle checks the exact aggregates
    # and asserts each guarantee held (the Spark side computes the booleans
    # from exact-vs-approx in one pass; see q34_approx_stats)
    "q34_approx_stats": (
        "SELECT COUNT(*) AS n_events, "
        "COUNT(DISTINCT user_id) AS distinct_users, "
        "COUNT(DISTINCT event_type) AS distinct_event_types, "
        "true AS approx_users_ok, true AS approx_event_types_ok, "
        "true AS p50_ok, true AS p95_ok, true AS p99_ok FROM events"
    ),
    # q47's oracle aggregates RAW events at day grain — the engine path
    # merges hourly partials, so the hash match proves lossless coarsening
    "q47_daily_rollup_from_hourly": (
        "SELECT epoch_us(date_trunc('day', ts)) AS ws_us, event_type, "
        "COUNT(*) AS n_events, round(SUM(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"
    ),
    # q49: recompute the session intervals (same CTE as q33) and join each
    # event into its containing interval with a plain BETWEEN predicate —
    # the engine side proves the bucketed equi-join computes the same set
    "q49_range_join": (
        "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events), "
        "marked AS (SELECT *, CASE WHEN us - lag(us) OVER w > "
        f"{_GAP_US} OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)), "
        "sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id "
        "ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM marked), "
        "ivl AS (SELECT user_id, MIN(us) AS sess_start_us, "
        f"MAX(us) + {_GAP_US} AS sess_end_us FROM sess GROUP BY user_id, sid) "
        "SELECT e.event_id, e.user_id, e.us AS ts_us, "
        "i.sess_start_us, i.sess_end_us "
        "FROM e JOIN ivl i ON e.user_id = i.user_id "
        "AND e.us >= i.sess_start_us AND e.us < i.sess_end_us "
        "ORDER BY event_id"
    ),
    "q48_asof_join": (
        "WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS od_us, "
        "  o_orderkey, o_totalprice FROM orders "
        "  QUALIFY row_number() OVER (PARTITION BY o_custkey, "
        "    epoch_us(o_orderdate) ORDER BY o_orderkey DESC) = 1), "
        "e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events) "
        "SELECT e.event_id, e.user_id, e.ts_us, "
        "o.o_orderkey AS last_order_key, "
        "round(o.o_totalprice, 2) AS last_order_price "
        "FROM e ASOF LEFT JOIN o "
        "ON e.user_id = o.o_custkey AND e.ts_us >= o.od_us "
        "ORDER BY event_id"
    ),
}
