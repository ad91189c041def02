"""Window-function queries (SURVEY §2.2 'Window functions').

Each window is partitioned on a real key so the sort happens per-partition
after one shuffle — never a global ``Window.orderBy()`` without
``partitionBy`` (which serializes the whole table through one task and is
the classic window scale bug). Every ORDER BY carries a unique tie-break
key (SURVEY §2.4.3).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ._util import dec, t
from .registry import query


@query(
    "q_win_ranking",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey) AS rn,
           RANK() OVER (PARTITION BY o_orderstatus
                        ORDER BY CAST(o_orderdate AS DATE) DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus
                              ORDER BY CAST(o_orderdate AS DATE) DESC) AS drnk,
           NTILE(4) OVER (PARTITION BY o_orderstatus
                          ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey) AS nt
    FROM orders
    """,
    tags=("window", "ranking"),
)
def q_win_ranking(spark, sf_dir):
    """row_number / rank / dense_rank / ntile per status partition. rank and
    dense_rank order by date alone (real ties → gaps vs dense); the total
    orders add the key for determinism."""
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    by_date = W.partitionBy("o_orderstatus").orderBy(d.desc())
    total = W.partitionBy("o_orderstatus").orderBy(d.desc(), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.row_number().over(total).alias("rn"),
        F.rank().over(by_date).alias("rnk"),
        F.dense_rank().over(by_date).alias("drnk"),
        F.ntile(4).over(total).alias("nt"),
    )


@query(
    "q_win_analytic",
    oracle="""
    SELECT event_id,
           user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           FIRST_VALUE(event_id) OVER w AS first_event,
           LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "analytic"),
)
def q_win_analytic(spark, sf_dir):
    """lag / lead / first_value / last_value per user ordered by event time
    (last_value over the full-frame window, the standard gotcha)."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(wfull).alias("last_event"),
    )


@query(
    "q_win_frame_rows",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS order_seq
    FROM orders
    """,
    tags=("window", "frame"),
)
def q_win_frame_rows(spark, sf_dir):
    """Running sum per customer, ROWS frame — decimal accumulation so the
    prefix sums are exact at any scale."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.to_date("o_orderdate"), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "q_win_frame_range",
    oracle="""
    SELECT o_orderkey, o_orderstatus, price_cents,
           COUNT(*) OVER w AS n_in_band,
           CAST(SUM(price_cents) OVER w AS BIGINT) AS sum_cents_in_band
    FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
          FROM orders)
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY price_cents
                 RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "frame"),
)
def q_win_frame_range(spark, sf_dir):
    """RANGE frame over a numeric key: all orders within $10k (1e6 cents)
    below the current price. The money key is projected to integer cents —
    range frames need integral bounds in Spark, and integer arithmetic
    makes the frame membership and sums exact. Peers (equal prices) are
    included by RANGE semantics, so no tie-break is needed."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("price_cents")
        .rangeBetween(-1000000, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "price_cents",
        F.count("*").over(w).alias("n_in_band"),
        F.sum("price_cents").over(w).cast("bigint").alias("sum_cents_in_band"),
    )


@query(
    "q_win_frame_groups",
    # DuckDB v1.0 has no GROUPS mode either, so the oracle is the
    # INDEPENDENT formulation: dense_rank peer-group ids + a band self-
    # join (b.dr BETWEEN a.dr-2 AND a.dr) — quadratic-ish but exact, and
    # structurally different from the Spark emulation it checks.
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_date,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    ), d AS (
        SELECT *, DENSE_RANK() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_date) AS dr
        FROM base
    )
    SELECT a.o_orderkey, a.o_orderstatus, a.o_date,
           CAST(SUM(b.price_cents) AS BIGINT) AS sum_cents_3g,
           CAST(COUNT(*) AS BIGINT) AS n_rows_3g
    FROM d a JOIN d b
      ON a.o_orderstatus = b.o_orderstatus AND b.dr BETWEEN a.dr - 2 AND a.dr
    GROUP BY a.o_orderkey, a.o_orderstatus, a.o_date
    """,
    tags=("window", "frame", "groups"),
)
def q_win_frame_groups(spark, sf_dir):
    """SQL-standard GROUPS frame (``GROUPS BETWEEN 2 PRECEDING AND
    CURRENT ROW``): per order status, the spend and row count over the
    current ORDER-DATE PEER GROUP plus the two preceding distinct dates.
    Spark has no GROUPS mode (PARSE_SYNTAX_ERROR, verified on 4.1), so
    the scalable composition is:

    1. aggregate to one row per peer group (status, date) — map-side
       combinable, |groups| rows;
    2. the GROUPS frame becomes a plain ROWS frame over the GROUP-LEVEL
       frame (rowsBetween(-2, 0)) — KB-scale window;
    3. broadcast-join the per-group frame values back to the fact rows
       (every row in a peer group shares the frame aggregate, which is
       exactly GROUPS-mode semantics for aggregate functions).

    At 100 TB the fact table is touched by one combinable aggregate and
    one broadcast join — no fact-table window at all; the oracle's band
    self-join is the semantics spec, not the plan. Integer-cent money
    keeps every sum exact."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("o_date"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    g = o.groupBy("o_orderstatus", "o_date").agg(
        F.sum("price_cents").alias("g_sum"), F.count("*").alias("g_cnt")
    )
    wg = (
        W.partitionBy("o_orderstatus")
        .orderBy("o_date")
        .rowsBetween(-2, W.currentRow)
    )
    gf = g.select(
        "o_orderstatus",
        "o_date",
        F.sum("g_sum").over(wg).alias("sum_cents_3g"),
        F.sum("g_cnt").over(wg).cast("long").alias("n_rows_3g"),
    )
    return o.join(F.broadcast(gf), ["o_orderstatus", "o_date"]).select(
        "o_orderkey", "o_orderstatus", "o_date", "sum_cents_3g", "n_rows_3g"
    )


@query(
    "q_win_frame_exclude",
    # DuckDB HAS the standard EXCLUDE clause — the oracle uses it
    # natively, so the Spark-side algebraic emulation is checked against
    # the real SQL-standard semantics including the empty-frame NULL.
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(price_cents) OVER (
                PARTITION BY o_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS other_spend_cents,
           CAST(COUNT(*) OVER (
                PARTITION BY o_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS n_other
    FROM (SELECT o_orderkey, o_custkey,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
          FROM orders)
    """,
    tags=("window", "frame", "exclude", "leave-one-out"),
)
def q_win_frame_exclude(spark, sf_dir):
    """SQL-standard frame exclusion (``EXCLUDE CURRENT ROW``): each
    order's leave-one-out statistics over its customer — the sum and
    count of the customer's OTHER orders. This is the primitive under
    leakage-free leave-one-out target encoding (q_ml_target_encode's
    family). Spark has no EXCLUDE clause, so the composition is
    algebraic: whole-partition aggregate minus the current row's own
    contribution — one unbounded window (no sort needed beyond the
    partition hash), exact in integer cents, with the SQL-standard
    empty-frame NULL restored for single-order customers (sum over an
    empty excluded frame is NULL, not 0). One shuffle on the key at any
    scale. HOT-KEY REMEDY (measured, BASELINE.md "Window
    frame-exclusion under a hot key"): when q_dq_join_key_skew flags a
    dominant key, switch to q_win_frame_groups' group-collapse shape —
    the unbounded-frame algebra needs only per-key TOTALS, so a
    combinable groupBy (hot key reduced to one row map-side) plus a
    broadcast join-back computes the identical answer with NO Window at
    all (2.1× faster at the 30× half-corpus hot key; checksums equal).
    Customer keys here are TPC-H-uniform, so the one-Exchange window
    plan stays the default."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    w = W.partitionBy("o_custkey")
    n = F.count("*").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.when(n > 1, F.sum("price_cents").over(w) - F.col("price_cents"))
        .cast("bigint")
        .alias("other_spend_cents"),
        (n - 1).cast("long").alias("n_other"),
    )


@query(
    "q_win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
    tags=("window", "topk"),
)
def q_win_topk_per_group(spark, sf_dir):
    """Top-3 orders by value per customer — window + filter. Catalyst
    rewrites the rank filter into a per-partition top-k (WindowGroupLimit),
    so only k rows per key survive the shuffle."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "q_win_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "distribution"),
)
def q_win_distribution(spark, sf_dir):
    """Distribution window functions: percent_rank = (rank-1)/(n-1) and
    cume_dist = |rows ≤ current|/n — both integer-ratio divisions, so the
    single IEEE division is deterministic across engines; the order key
    carries the unique o_orderkey tie-break."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "q_win_gaps_islands",
    # identical semantics (and oracle) to q_stream_session: the native
    # session_window operator and this pure-window formulation must
    # produce the same sessions — asserted against each other in
    # tests/test_session_additions.py as well as against DuckDB here.
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS sess_start,
           CAST(epoch(date_trunc('second', MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS sess_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessions GROUP BY user_id, sess_id
    """,
    tags=("window", "session", "gaps-islands"),
)
def q_win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands sessionization — the pure-window formulation of
    what ``session_window`` does natively (q_stream_session): lag() flags
    session starts (gap ≥ 30 min), a running sum of flags numbers the
    islands, and a hash aggregate per (user, island) emits the sessions.
    This is the shape you need the moment the gap rule isn't a constant
    (per-user gaps, activity-type resets) — session_window can't express
    those, two windows + one aggregate can. Same shuffle profile as the
    native operator: everything partitions by user_id; the ordering-
    sensitive windows and the aggregate ride one exchange."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-exact epoch for the gap test (unix_timestamp floors to seconds,
    # which could flip events within 1s of the boundary vs the oracle's
    # exact interval comparison; ts is NTZ → cast through TIMESTAMP under
    # the UTC-pinned session)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us).over(w_ord)
    flagged = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "sess_id",
        F.sum("is_new").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.unix_timestamp(F.min("ts")).alias("sess_start"),
        (F.unix_timestamp(F.max("ts")) + 30 * 60).alias("sess_end"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    ).drop("sess_id")


@query(
    "q_win_ntile",
    oracle="""
    WITH tiled AS (
        SELECT event_type, event_id, value,
               NTILE(4) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS quartile
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, quartile,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS lo, MAX(value) AS hi
    FROM tiled GROUP BY 1, 2
    """,
    tags=("window", "ntile", "bucketing"),
)
def q_win_ntile(spark, sf_dir):
    """Per-group NTILE(4) quartile assignment with a unique (value,
    event_id) ordering — ntile splits ties by position, so without the
    id tiebreak the bucket boundaries would be partition-order-dependent
    and unhashable. The window partitions by event_type (bounded
    cardinality → bounded per-partition sort); a GLOBAL ntile over raw
    facts is the anti-pattern this query deliberately avoids — for
    corpus-wide quantile bucketing use broadcast percentile bounds
    instead (q_ml_lift_table / q_ml_quantile_discretizer)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "q_win_period_growth",
    oracle="""
    WITH weekly AS (
        SELECT n_name,
               CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1, 2
    )
    SELECT n_name, week, revenue, n_orders,
           ROUND(revenue / LAG(revenue) OVER w - 1.0, 6) AS wow_growth,
           ROUND(revenue / FIRST_VALUE(revenue) OVER w, 6) AS vs_first_week
    FROM weekly
    WINDOW w AS (PARTITION BY n_name ORDER BY week)
    """,
    tags=("window", "growth", "period-over-period", "bi"),
)
def q_win_period_growth(spark, sf_dir):
    """Period-over-period growth (the WoW/MoM BI rollup): weekly revenue
    per nation with week-over-week growth rate and an index against the
    first week. The LAG/FIRST_VALUE windows run over the COLLAPSED
    (nation × week) frame — one combinable fact shuffle first, then
    |nations|·|weeks| rows of window work; gaps (a nation with a silent
    week) surface as missing rows, which LAG then treats as
    adjacent-known-weeks — the convention to document, or gapfill first
    via q_stream_gapfill's dense grid when calendar-strict growth is
    required. Exact decimal revenue makes the ratios deterministic.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    weekly = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    w = W.partitionBy("n_name").orderBy("week")
    return weekly.select(
        "n_name",
        "week",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1.0, 6).alias(
            "wow_growth"
        ),
        F.round(
            F.col("revenue")
            / F.first("revenue").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            6,
        ).alias("vs_first_week"),
    )


@query(
    "q_win_moving_median",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           ROUND(quantile_cont(cnt, 0.5) OVER w, 2) AS med7,
           ROUND(AVG(cnt) OVER w, 4) AS avg7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
    tags=("window", "moving-median", "smoothing", "timeseries"),
)
def q_win_moving_median(spark, sf_dir):
    """Centered rolling-median smoothing (±3-day window) of daily event
    volumes next to the rolling mean — the robust denoiser time-series
    monitoring uses where one spike day would drag a moving average
    (median ignores it). Spark evaluates the exact ``percentile``
    aggregate per frame; the frame is over the COLLAPSED (type × day)
    frame — types × days rows, never raw events — so the per-frame sort
    is over ≤7 values. The aggregate-first rule yet again: windows ride
    collapsed frames.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    return daily.select(
        "event_type",
        "day",
        "cnt",
        F.round(F.percentile("cnt", F.lit(0.5)).over(w), 2).alias("med7"),
        F.round(F.avg("cnt").over(w), 4).alias("avg7"),
    )


EWMA_ALPHA = 0.3
EWMA_TAPS = 8


@query(
    "q_win_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type, day, cnt,
               {", ".join(f"LAG(cnt, {i}) OVER (PARTITION BY event_type ORDER BY day) AS l{i}" for i in range(1, EWMA_TAPS + 1))}
        FROM daily
    )
    SELECT event_type, day, cnt,
           ROUND((
               cnt * {EWMA_ALPHA}
               + {" + ".join(f"COALESCE(l{i}, 0) * {EWMA_ALPHA} * POWER(1 - {EWMA_ALPHA}, {i})" for i in range(1, EWMA_TAPS + 1))}
           ) / (
               {EWMA_ALPHA}
               + {" + ".join(f"CASE WHEN l{i} IS NOT NULL THEN {EWMA_ALPHA} * POWER(1 - {EWMA_ALPHA}, {i}) ELSE 0 END" for i in range(1, EWMA_TAPS + 1))}
           ), 4) AS ewma
    FROM lagged
    """,
    tags=("window", "ewma", "smoothing", "timeseries"),
)
def q_win_ewma(spark, sf_dir):
    """Exponentially weighted moving average of daily event volumes —
    the finite-impulse form: {EWMA_TAPS} lag taps with weights
    α(1−α)^i, renormalized over the taps actually present (series
    heads). The infinite-recursion EWMA is not SQL-window-expressible;
    truncating at {EWMA_TAPS} taps bounds the omitted mass at
    (1−α)^{EWMA_TAPS + 1} ≈ 4% for α={EWMA_ALPHA} — the standard FIR
    approximation, stated rather than hidden. All taps come from ONE
    ordered window pass over the collapsed (type × day) frame; the
    weighted combine is pure codegen arithmetic with literal weights.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("event_type").orderBy("day")
    lags = [F.lag("cnt", i).over(w).alias(f"l{i}") for i in range(1, EWMA_TAPS + 1)]
    lagged = daily.select("event_type", "day", "cnt", *lags)
    a = EWMA_ALPHA
    num = F.col("cnt") * a
    den = F.lit(a)
    for i in range(1, EWMA_TAPS + 1):
        wi = a * (1 - a) ** i
        num = num + F.coalesce(F.col(f"l{i}"), F.lit(0)) * wi
        den = den + F.when(F.col(f"l{i}").isNotNull(), wi).otherwise(0.0)
    return lagged.select(
        "event_type", "day", "cnt", F.round(num / den, 4).alias("ewma")
    )


@query(
    "q_win_concurrency",
    oracle="""
    WITH deltas AS (
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS at, 1 AS d
        FROM events
        UNION ALL
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) + 900000000, -1
        FROM events
    ), net AS (
        SELECT event_type, at, CAST(SUM(d) AS BIGINT) AS net
        FROM deltas GROUP BY 1, 2
    ), run AS (
        SELECT event_type, at,
               SUM(net) OVER (PARTITION BY event_type ORDER BY at
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
        FROM net
    )
    SELECT event_type, CAST(peak AS BIGINT) AS peak,
           MIN(at) AS peak_at_us
    FROM (SELECT event_type, at, running,
                 MAX(running) OVER (PARTITION BY event_type) AS peak
          FROM run)
    WHERE running = peak
    GROUP BY 1, 2
    """,
    tags=("window", "sweep-line", "concurrency", "capacity"),
)
def q_win_concurrency(spark, sf_dir):
    """Peak-concurrency sweep line: each event opens a 15-minute activity
    interval [ts, ts+15m); the answer is, per event_type, the maximum
    number of simultaneously-open intervals and the earliest instant it
    is reached. The classic O(n log n) algorithm — +1/-1 boundary deltas,
    sort, running sum — expressed as union → hash-aggregate → windowed
    prefix sum. Collapsing deltas per (type, µs) BEFORE the prefix sum is
    what makes the result deterministic: simultaneous opens/closes net
    out in the aggregate, so no tie-break ordering between a +1 and a -1
    at the same instant can change the peak. Scale shape: one shuffle by
    event_type carries both the aggregate and both windows (the prefix
    sum is the distributed two-pass per key that Spark's window executes
    after the exchange); boundary timestamps are µs-floored identically
    in both engines (Spark unix_micros vs DuckDB epoch_us of the
    µs-truncated timestamp)."""
    DUR_US = 15 * 60 * 1_000_000
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    deltas = ev.select(
        "event_type", F.col("us").alias("at"), F.lit(1).alias("d")
    ).unionAll(
        ev.select("event_type", (F.col("us") + DUR_US).alias("at"), F.lit(-1).alias("d"))
    )
    net = deltas.groupBy("event_type", "at").agg(F.sum("d").alias("net"))
    w_run = (
        W.partitionBy("event_type").orderBy("at").rowsBetween(W.unboundedPreceding, 0)
    )
    run = net.withColumn("running", F.sum("net").over(w_run)).withColumn(
        "peak", F.max("running").over(W.partitionBy("event_type"))
    )
    return (
        run.filter(F.col("running") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.min("at").alias("peak_at_us"))
    )


@query(
    "q_win_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ), grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                          AS INT) AS anchor
        FROM days
    ), streaks AS (
        SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_len
        FROM grp GROUP BY user_id, anchor
    ), best AS (
        SELECT user_id, streak_start, streak_len,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY streak_len DESC, streak_start) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
        FROM streaks
    )
    SELECT user_id, streak_len AS best_streak_days, streak_start, n_streaks
    FROM best WHERE rk = 1
    """,
    tags=("window", "streak", "gaps-islands", "engagement"),
)
def q_win_streak(spark, sf_dir):
    """Longest consecutive-active-day streak per user (the engagement
    metric behind badge/retention features): distinct active days, the
    date-minus-row-number trick turns each run of consecutive days into
    a constant anchor (the day-granular cousin of gap sessionization —
    islands defined by calendar adjacency, not a time gap), one
    aggregate per island, and a deterministic top-1 (longest, earliest)
    per user. Everything partitions by user_id: distinct, window,
    island aggregate, and ranking ride one exchange. Ties beyond
    (len, start) are impossible — a user can't have two islands with
    the same start."""
    days = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("timestamp").cast("date").alias("day"))
        .distinct()
    )
    w_ord = W.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w_ord))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"), F.count("*").alias("streak_len")
    )
    w_best = W.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    return (
        streaks.withColumn("rk", F.row_number().over(w_best))
        .withColumn("n_streaks", F.count("*").over(W.partitionBy("user_id")))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("streak_len").alias("best_streak_days"),
            "streak_start",
            "n_streaks",
        )
    )


@query(
    "q_win_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS p,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS c
        FROM events GROUP BY 1
    )
    SELECT day, p, c,
           COUNT(*) OVER w AS n_window,
           ROUND(CORR(p, c) OVER w, 4) AS corr30
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "rolling-correlation", "timeseries", "stats"),
)
def q_win_rolling_corr(spark, sf_dir):
    """30-day rolling Pearson correlation between the purchase and click
    daily-count series — the co-movement monitor that flags when two
    metrics decouple (instrumentation breaks, funnel shifts). The pivot
    to (day, purchases, clicks) collapses the fact FIRST (one hash
    aggregate to ~hundreds of rows), then CORR runs as a windowed
    aggregate over a 30-row frame on the collapsed series — windows over
    raw facts would sort event volume for no reason. The global
    date-ordered window is fine precisely BECAUSE the frame is
    calendar-sized; rounded 4dp like every moment statistic here."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("timestamp").cast("date").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("p"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
        )
    )
    w = W.orderBy("day").rowsBetween(-29, 0)
    return daily.select(
        "day",
        "p",
        "c",
        F.count("*").over(w).alias("n_window"),
        F.round(F.corr("p", "c").over(w), 4).alias("corr30"),
    )


@query(
    "q_win_value_functions",
    oracle="""
    SELECT o_orderkey,
           NTH_VALUE(o_totalprice, 3) OVER w AS third_price,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
           LAG(o_totalprice, 2, -1.0) OVER w AS lag2_default
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "nth-value", "value-functions"),
)
def q_win_value_functions(spark, sf_dir):
    """Window value functions beyond first/last/lag/lead
    (q_win_analytic): NTH_VALUE over a running frame (null until the
    frame holds n rows — the semantics that trip people up) and LAG
    with an explicit default instead of null. The running frame makes
    nth_value deterministic under the unique (date, key) order; one
    status-partitioned exchange carries all three."""
    o = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        F.lag("o_totalprice", 2, -1.0).over(
            W.partitionBy("o_orderstatus").orderBy(
                F.col("o_orderdate").cast("date"), "o_orderkey"
            )
        ).alias("lag2_default"),
    )


@query(
    "q_win_cumulative_distinct",
    oracle="""
    WITH firsts AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM events
    ), runs AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_d
        FROM firsts
    )
    SELECT user_id, day, CAST(MAX(cum_d) AS BIGINT) AS distinct_types_so_far
    FROM runs GROUP BY 1, 2
    """,
    tags=("window", "cumulative-distinct"),
)
def q_win_cumulative_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) OVER — the window op SQL cannot express
    directly (distinct aggregates are unsupported in window frames in
    both engines), computed exactly via the first-occurrence trick: flag
    each (user, event_type)'s first event with a per-(user,type)
    row_number, then the running count of distinct types is a plain
    running SUM of flags over the user's timeline. Both windows are
    partitioned by user (bounded per-user frames — never a global sort);
    the day-level readout is one more hash aggregate. The same shape
    answers "cumulative unique products per customer" on a fact table at
    any scale."""
    ev = t(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    firsts = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    runs = firsts.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.sum("is_first").over(w_run).alias("cum_d"),
    )
    return runs.groupBy("user_id", "day").agg(
        F.max("cum_d").cast("bigint").alias("distinct_types_so_far")
    )


@query(
    "q_win_frame_exclude_modes",
    # DuckDB implements the full SQL-standard EXCLUDE clause — the
    # oracle uses EXCLUDE GROUP and EXCLUDE TIES natively, so the
    # Spark-side algebra is checked against the real standard semantics
    # including the empty-frame NULL when a customer's every order
    # shares one date (2 such customers exist at sf0.01).
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY od
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS sum_ex_group,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY od
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS n_ex_group,
           CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY od
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS sum_ex_ties,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY od
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS n_ex_ties
    FROM o
    """,
    tags=("window", "frame", "exclude-group", "exclude-ties"),
)
def q_win_frame_exclude_modes(spark, sf_dir):
    """The remaining SQL-standard frame-exclusion modes (Spark parses
    none of them): ``EXCLUDE GROUP`` (drop the current row AND its
    ORDER-BY peers — each order scored against the customer's OTHER
    DAYS, the leakage-free encoding when same-day rows share hidden
    state) and ``EXCLUDE TIES`` (drop the peers but keep the row
    itself). With q_win_frame_exclude's CURRENT ROW this completes the
    standard's exclusion set. The composition is pure algebra over TWO
    unbounded windows sharing ONE exchange — partition totals over the
    key, peer-group totals over (key, peer value); Catalyst plans both
    Window nodes on the same hash partitioning, so no second shuffle:

        exclude_group = part − group        (NULL when group IS the partition)
        exclude_ties  = part − group + own  (never empty: keeps the row)

    Exact integer cents throughout; the empty-frame NULL is restored
    for customers whose every order shares one date. HOT-KEY REMEDY
    (measured, BASELINE.md "Window frame-exclusion under a hot key"):
    both grouping levels collapse to combinable groupBys + broadcast
    join-backs (q_win_frame_groups' shape) — 1.5× faster at
    the 30× half-corpus hot key with equal checksums; the window plan
    stays the default on uniform keys because it saves the join."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    wp = W.partitionBy("o_custkey")
    wg = W.partitionBy("o_custkey", "od")
    part_sum, part_n = F.sum("price_cents").over(wp), F.count("*").over(wp)
    grp_sum, grp_n = F.sum("price_cents").over(wg), F.count("*").over(wg)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.when(part_n > grp_n, part_sum - grp_sum)
        .cast("bigint")
        .alias("sum_ex_group"),
        (part_n - grp_n).cast("long").alias("n_ex_group"),
        (part_sum - grp_sum + F.col("price_cents")).cast("bigint").alias("sum_ex_ties"),
        (part_n - grp_n + 1).cast("long").alias("n_ex_ties"),
    )
