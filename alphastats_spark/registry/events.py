"""Events family: sessionization, attribution, funnels, retention and
their Structured Streaming forms, each against an independent DuckDB oracle.

All gap and bucket math is integer epoch microseconds, so neither engine's
session timezone nor sub-second truncation can skew a boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark.functions import events as ev_ops
from alphastats_spark.operators import joins as join_ops
from alphastats_spark.registry.shared import (
    ROUND,
    _event_epoch,
    _event_ts,
    _event_us,
    _events,
    _gate_stream,
    _round_df,
)
from alphastats_spark.streaming import session_metrics, streaming_attribution
from alphastats_spark.streaming.metrics import streaming_funnel_levels


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event log with its epoch-microsecond instant as column ``us``."""
    ev = _events(spark, sf_dir)
    return ev.withColumn("us", _event_us(ev))


def _sessionize(spark: SparkSession, sf_dir: str):
    """Gap-based sessionization over the raw event log.

    All gap/duration math is **integer microseconds** (:func:`_event_us`,
    adaptive to the file's physical ts type) so no floating-point epoch ever
    enters a boundary comparison, and the oracle can mirror it exactly with
    ``epoch_us``. ``session_id`` is a LongType running sum; the oracle CASTs
    its window SUM to BIGINT because DuckDB types it HUGEINT (int128) by
    default and the driver's hasher is type-sensitive.
    """
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.withColumn("us", _event_us(events)).withColumn(
        "brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > F.lit(1800_000_000)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = g.withColumn("session_id", F.sum("brk").over(w))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.min("us").alias("min_us"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.expr("max_us div 1000000 - min_us div 1000000")
            .cast("bigint")
            .alias("duration_s"),
        )
    )


def register(add) -> None:
    """Register the event queries through ``add(name, query, oracle)``."""
    # ---- event-stream operators (batch form of the streaming layer) -------
    # epoch-based math throughout so neither engine's session timezone nor
    # sub-second truncation can skew gap detection or the hour bucket
    add("event_sessionization",
        lambda spark, sf_dir: _sessionize(spark, sf_dir),
        """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(epoch_us(MAX(ts)) // 1000000 - epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    # Native session windows (streaming-shared code path). Boundary differs
    # from the lag-based sessionization above: session_window starts a NEW
    # session at gap >= 30min (half-open interval), the lag variant at >.
    def _session_windows(spark, sf_dir):
        # normalise ts to a real timestamp whatever the physical encoding
        ev = _events(spark, sf_dir)
        ev = ev.withColumn("ts", _event_ts(ev))
        out = session_metrics(ev, gap="30 minutes")
        return out.select(
            "user_id",
            F.col("session_start").cast("string").alias("session_start"),
            "n_events",
            "duration_s",
        )

    add("event_session_windows", _session_windows, """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800.0 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM g
)
SELECT user_id, CAST(MIN(ts) AS VARCHAR) AS session_start, COUNT(*) AS n_events,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    def _hourly(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return ev.groupBy(
            F.floor(_event_epoch(ev) / 3600).cast("bigint").alias("hour_bucket"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), ROUND).alias("total_value"),
        )

    add("event_hourly_counts", _hourly,
        f"""SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type, COUNT(*) AS n, ROUND(SUM(value), {ROUND}) AS total_value
FROM events GROUP BY 1, 2""")

    # Exact per-hour distinct users. COUNT(DISTINCT) rewrites to a two-level
    # aggregate (partial distinct per map task, then merge) — the exact-at-
    # scale shape when per-group distincts fit; the HLL-sketch
    # approx_count_distinct variant (mergeable constant-size state, the
    # >billions path) is pinned within 5% of this in pytest, engine-specific
    # sketch values being un-oracle-able by construction.
    def _hourly_uniques(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return ev.groupBy(
            F.floor(_event_epoch(ev) / 3600).cast("bigint").alias("hour_bucket")
        ).agg(F.countDistinct("user_id").alias("n_users"))

    add("event_hourly_uniques", _hourly_uniques,
        """SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1""")

    # Per-type inter-event latency profile: lag window partitioned by user
    # (id tiebreak — simultaneous events would attribute their 0-gap to an
    # engine-dependent type), grouped exact percentiles per type. Both
    # engines order by (µs, event_id) so ns-only ties cannot diverge.
    def _event_gaps(spark, sf_dir):
        ev = _events(spark, sf_dir)
        d = ev.select(
            "user_id", "event_type", "event_id", _event_us(ev).alias("us")
        )
        return ev_ops.inter_event_gaps(d)

    add("event_gap_profile", _event_gaps, f"""
WITH g AS (
  SELECT event_type,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
)
SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap, 0.5), 1) AS median_gap_us,
       ROUND(quantile_cont(gap, 0.95), 1) AS p95_gap_us
FROM g WHERE gap IS NOT NULL GROUP BY event_type""")

    # Conversion attribution (events.attribute_conversions): per purchase,
    # the credited touch under last-/first-touch within a 1-day window.
    # ONE user-partitioned window pass over the type-filtered union —
    # never a touches × conversions self-join. Both engines order
    # (us, touch-first, event_id) so simultaneous events cannot diverge;
    # sentinels (-1/'none') instead of nulls for arrow-interchange safety.
    _ATTR_WINDOW_US = 86_400_000_000

    def _attribution(model):
        def q(spark, sf_dir):
            ev = _events_us(spark, sf_dir)
            return ev_ops.attribute_conversions(
                ev, conversion_type="purchase", touch_types=("click", "view"),
                window_us=_ATTR_WINDOW_US, model=model,
            )
        return q

    _ATTR_EV_CTE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id,
         event_type IN ('click', 'view') AS is_touch
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
)"""

    add("event_attribution", _attribution("last_touch"), _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    LAST_VALUE(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END IGNORE NULLS)
      OVER (PARTITION BY user_id
            ORDER BY us ASC, is_touch DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    add("event_attribution_first", _attribution("first_touch"), _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    MIN(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END)
      OVER (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    # Linear (multi-touch) attribution: every touch in the window shares
    # the conversion equally. Spark runs the single window pass
    # (collect_list over the trailing RANGE frame, exploded to credit
    # rows); the oracle runs the independent touches⋈conversions
    # formulation (fine at oracle scale) with a per-conversion COUNT
    # window — agreement checks the window-pass machinery against a
    # different plan shape entirely.
    def _attribution_linear(spark, sf_dir):
        return _round_df(_attribution("linear")(spark, sf_dir))

    add("event_attribution_linear", _attribution_linear, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *, COUNT(t_id) OVER (PARTITION BY event_id) AS nt FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0 ELSE 1.0 / nt END, {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Position-based (U-shaped) attribution: 40% first / 40% last / 20%
    # split across middle touches, degenerate journeys renormalized.
    # Spark sorts the collected touch list and credits by posexplode
    # position; the oracle ranks the joined touches with ROW_NUMBER over
    # the same (us, id) order — different machinery, same credits.
    def _attribution_position(spark, sf_dir):
        return _round_df(_attribution("position")(spark, sf_dir))

    add("event_attribution_position", _attribution_position, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type,
         tt.us AS t_us, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *,
        COUNT(t_id) OVER (PARTITION BY event_id) AS nt,
        ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY t_us, t_id) AS pos
      FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0
                  WHEN nt = 1 THEN 1.0
                  WHEN nt = 2 THEN 0.5
                  WHEN pos = 1 OR pos = nt THEN 0.4
                  ELSE 0.2 / (nt - 2) END, {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Time-decay attribution: weight 0.5^(gap/half_life), normalized per
    # conversion. Spark normalizes IN-ROW (array aggregate over the
    # collected touch list — no second window); the oracle normalizes
    # with a SUM window over the joined touches. 6h half-life inside the
    # 1-day window so the decay is numerically meaningful.
    _ATTR_HALF_LIFE_US = 21_600_000_000

    def _attribution_decay(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        return _round_df(ev_ops.attribute_conversions(
            ev, conversion_type="purchase", touch_types=("click", "view"),
            window_us=_ATTR_WINDOW_US, model="time_decay",
            half_life_us=_ATTR_HALF_LIFE_US,
        ))

    add("event_attribution_decay", _attribution_decay, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *,
        SUM(POWER(0.5, gap / {_ATTR_HALF_LIFE_US}.0)) OVER (PARTITION BY event_id) AS wsum
      FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0
                  ELSE POWER(0.5, gap / {_ATTR_HALF_LIFE_US}.0) / wsum END,
             {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Last-touch attribution through GENUINE stateful Structured Streaming:
    # applyInPandasWithState keyed by user, state = ONE (t_us, t_id, t_type)
    # touch struct however long the history. The staged feed is TWO
    # time-ordered files consumed as TWO micro-batches (maxFilesPerTrigger=1
    # under availableNow), split at the median event instant — so touch →
    # conversion pairs straddle the batch boundary and the cross-batch state
    # path is what the value hash certifies; the gate fails unless each half
    # ran as its own non-empty micro-batch and a straddling conversion was
    # attributed. Same oracle as the batch event_attribution.
    def _stream_attribution(spark, sf_dir):
        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id").cast("long").alias("user_id"),
            _event_us(ev).alias("us"),
            F.col("event_type"),
            F.col("event_id").cast("long").alias("event_id"),
        )
        cut = int(ev.selectExpr("percentile_approx(us, 0.5)").first()[0])
        tbl, _ = _gate_stream(
            spark, [ev.where(F.col("us") < cut), ev.where(F.col("us") >= cut)], ev.schema,
            lambda stream, _: streaming_attribution(
                stream, conversion_type="purchase", touch_types=("click", "view"),
                window_us=_ATTR_WINDOW_US,
            ),
            "as_stream_attr_",
        )
        straddle = tbl.where(
            (F.col("us") >= cut) & F.col("attributed")
            & (F.col("us") - F.col("gap_us") < cut)
        )
        if straddle.limit(1).count() == 0:
            raise AssertionError(
                "no conversion was attributed to a touch from the earlier "
                "micro-batch - the cross-batch state path was not exercised"
            )
        return tbl

    add("event_attribution_streaming", _stream_attribution, _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    LAST_VALUE(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END IGNORE NULLS)
      OVER (PARTITION BY user_id
            ORDER BY us ASC, is_touch DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    # Ordered conversion funnel (ClickHouse-windowFunnel-style), chained-min
    # semantics with a 24h per-step gap cap. Spark runs the one-shuffle
    # sorted-fold formulation (array_sort + F.aggregate step machine); the
    # oracle runs the independent chained-min CTE formulation — agreement
    # checks the fold machinery, not a shared shape. At sf0.01 the funnel is
    # genuinely selective: 150 signup -> 65 click -> 29 purchase.
    def _funnel(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        return ev_ops.funnel(
            ev, steps=["signup", "click", "purchase"], max_gap_s=86_400
        )

    # Top session journeys: first-5 event-type path per 30-min gap session,
    # corpus-wide frequency, deterministic top-20 (count desc, path asc).
    def _top_paths(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        return ev_ops.session_paths(ev, gap_s=1800, k=5, top=20)

    add("event_top_paths", _top_paths, """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM g
),
p AS (
  SELECT user_id, session_id,
         array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>')
           AS path
  FROM s GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""")

    # First-order Markov transition matrix over the same 30-min gap
    # sessions, with __start__/__end__ sentinels so entry and exit
    # probabilities are rows of the same matrix. Spark runs lag/lead
    # windows per user; the oracle builds edges the INDEPENDENT way — a
    # row_number self-join on rn+1 within each session — so agreement
    # checks the sessionizer + lead machinery, not a shared shape.
    def _transition_matrix(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        return ev_ops.path_transition_matrix(ev, gap_s=1800)

    add("event_transition_matrix", _transition_matrix, f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM g
),
r AS (
  SELECT user_id, sid, event_type, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY user_id, sid) AS cnt
  FROM s
),
e AS (
  SELECT a.event_type AS src, b.event_type AS dst
  FROM r a JOIN r b
    ON a.user_id = b.user_id AND a.sid = b.sid AND b.rn = a.rn + 1
  UNION ALL
  SELECT '__start__' AS src, event_type AS dst FROM r WHERE rn = 1
  UNION ALL
  SELECT event_type AS src, '__end__' AS dst FROM r WHERE rn = cnt
),
c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM e GROUP BY 1, 2)
SELECT src, dst, n_transitions,
       ROUND(n_transitions * 1.0 / SUM(n_transitions) OVER (PARTITION BY src),
             {ROUND}) AS prob
FROM c""")

    # Bucketized range join: events within each user's first two hours.
    # A plain BETWEEN theta-join plans as BroadcastNestedLoopJoin; the
    # operator equi-joins on (user, 30-min bucket) with the range predicate
    # as a post-filter (audit-pinned in tests). Inclusive boundary events
    # (us == start) are in every user's count, so the boundary rule is
    # driver-checked too.
    def _interval_counts(spark, sf_dir):
        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev)).select("user_id", "us", "event_id")
        iv = (
            ev.groupBy("user_id")
            .agg(F.min("us").alias("start_us"))
            .withColumn("end_us", F.col("start_us") + F.lit(7_200_000_000))
        )
        j = join_ops.interval_join(
            ev, iv, on="user_id", point_col="us",
            start_col="start_us", end_col="end_us",
        )
        return j.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events_2h")
        )

    add("event_interval_join", _interval_counts, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
iv AS (SELECT user_id, MIN(us) AS s FROM e GROUP BY 1)
SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events_2h
FROM e JOIN iv ON e.user_id = iv.user_id
               AND e.us BETWEEN iv.s AND iv.s + 7200000000
GROUP BY 1""")

    # Robust per-type value outliers: modified z-score (median/MAD ×
    # 1.4826). Median arithmetic = the same sort-based interpolated
    # percentile as corpus_length_quantiles (DuckDB quantile_cont twin).
    def _value_anoms(spark, sf_dir):
        return ev_ops.value_anomalies(_events(spark, sf_dir), z=3.0)

    add("event_value_anomalies", _value_anoms,
        f"""
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
r AS (SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS resid
      FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(resid, 0.5) AS mad FROM r GROUP BY 1)
SELECT r.event_id, r.event_type, r.value,
       ROUND(r.resid / (1.4826 * m.mad), {ROUND}) AS robust_z
FROM r JOIN mad m USING (event_type)
WHERE m.mad > 0 AND ROUND(r.resid / (1.4826 * m.mad), {ROUND}) > 3.0""")

    add("event_funnel", _funnel, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type,
       (SELECT COUNT(*) FROM t1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)""")

    # Time-to-convert distribution over completed funnels: the per-user
    # fold detail (level, first/last conversion instants) aggregated to
    # count / mean / exact median microseconds — the follow-up question
    # every funnel count raises.
    def _funnel_times(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        per = ev_ops.funnel(
            ev, steps=["signup", "click", "purchase"], max_gap_s=86_400,
            per_user=True,
        )
        done = per.where(F.col("lvl") >= 3).select(
            (F.col("t_last") - F.col("t_first")).cast("double").alias("dt")
        )
        return done.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.avg("dt"), ROUND).alias("avg_us"),
            F.round(X.percentile(F.col("dt"), 0.5), ROUND).alias("p50_us"),
        )

    add("event_funnel_times", _funnel_times, f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT COUNT(*) AS n_converted,
       ROUND(AVG(t3.t - t1.t), {ROUND}) AS avg_us,
       ROUND(quantile_cont(t3.t - t1.t, 0.5), {ROUND}) AS p50_us
FROM t3 JOIN t1 USING (user_id)""")

    # Cohort retention on epoch-anchored buckets (no calendar / locale
    # dependence; pure integer-microsecond arithmetic both engines). The
    # gate runs DAILY cohorts: the sf corpus spans only ~30 days, so weekly
    # grain would collapse to one cohort, while daily grain exercises many
    # cohort × offset cells.
    def _retention(spark, sf_dir):
        ev = _events_us(spark, sf_dir)
        return ev_ops.cohort_retention(ev, bucket_us=86_400_000_000)

    add("event_retention", _retention, """
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS wk FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cw FROM act GROUP BY 1)
SELECT CAST(c.cw AS BIGINT) AS cohort_bucket,
       CAST(a.wk - c.cw AS BIGINT) AS bucket_offset,
       COUNT(*) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY 1, 2""")

    # The same hourly rollup through GENUINE Structured Streaming: file
    # source → watermarked tumbling ``F.window`` aggregation → memory sink.
    # Complete output mode so every window is emitted at end-of-stream
    # (append mode would withhold windows the final watermark has not
    # passed — correct for an unbounded stream, unverifiable for a bounded
    # gate); state = one row per (hour, type), bounded at gate scale. The
    # watermark is still set — the production append path relies on it.
    def _stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events(spark, sf_dir)
        # watermarks demand TIMESTAMP (not NTZ): build the instant from the
        # tz-independent epoch-µs, so the UTC instant equals the naive
        # value and every downstream bucket matches the oracle whatever
        # spark.sql.session.timeZone is
        ev = ev.select(
            F.col("event_type"),
            F.timestamp_micros(_event_us(ev)).alias("ts"),
            F.col("value"),
        )
        tbl, _ = _gate_stream(
            spark, [ev], ev.schema,
            lambda stream, _: stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), ROUND).alias("total_value"),
            ),
            "as_stream_hr_", output_mode="complete",
        )
        return tbl.select(
            (F.expr("unix_micros(w.start)") / F.lit(3600_000_000))
            .cast("bigint")
            .alias("hour_bucket"),
            "event_type",
            "n",
            "total_value",
        )

    add("event_hourly_streaming", _stream_hourly,
        f"""SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type, COUNT(*) AS n, ROUND(SUM(value), {ROUND}) AS total_value
FROM events GROUP BY 1, 2""")

    # Keyed sessionization through GENUINE Structured Streaming: the same
    # streaming-shared ``session_metrics`` (native ``F.session_window``) run
    # as a stream — file source → watermarked session-window aggregation →
    # memory sink. State partitions by user_id (the 100 TB shape: sessions
    # for different users never co-reside). Complete output mode for the
    # bounded gate, same rationale as event_hourly_streaming; the
    # production append path closes a session when the watermark passes its
    # end. session_start is emitted as epoch seconds so no session-timezone
    # string formatting can skew the compare.
    def _stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id"),
            F.timestamp_micros(_event_us(ev)).alias("ts"),
        )
        tbl, _ = _gate_stream(
            spark, [ev], ev.schema,
            lambda stream, _: session_metrics(
                stream, gap="30 minutes", key_col="user_id", temporal="ts",
                watermark="1 hour",
            ),
            "as_stream_sess_", output_mode="complete",
        )
        return tbl.select(
            "user_id",
            (F.expr("unix_micros(session_start)") / F.lit(1_000_000))
            .cast("bigint")
            .alias("session_start_s"),
            "n_events",
            "duration_s",
        )

    add("event_session_streaming", _stream_sessions, """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800.0 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM g
)
SELECT user_id, CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS session_start_s,
       COUNT(*) AS n_events,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    # The conversion funnel through GENUINE stateful Structured Streaming:
    # applyInPandasWithState keyed by user, state = (level, frontier
    # instant) — two scalars per user however long the history. The staged
    # feed is a single file → a single availableNow micro-batch, where the
    # in-batch (us, type) sort makes the stateful fold exactly equal the
    # batch chained-min semantics, so the SAME oracle as event_funnel
    # value-hashes the result end to end.
    def _stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        steps = ["signup", "click", "purchase"]
        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id").cast("long").alias("user_id"),
            _event_us(ev).alias("us"),
            F.col("event_type"),
        )
        tbl, _ = _gate_stream(
            spark, [ev], ev.schema,
            lambda stream, _: streaming_funnel_levels(stream, steps=steps, max_gap_s=86_400),
            "as_stream_funnel_",
        )
        counters = [
            F.count(F.when(F.col("lvl") >= i + 1, True)).alias(f"s{i}")
            for i in range(len(steps))
        ]
        stack = ", ".join(f"{i + 1}, '{s}', s{i}" for i, s in enumerate(steps))
        return (
            tbl.agg(*counters)
            .select(F.expr(
                f"stack({len(steps)}, {stack}) AS (step, event_type, n_users)"
            ))
            .select(F.col("step").cast("int").alias("step"), "event_type", "n_users")
        )

    add("event_funnel_streaming", _stream_funnel, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type,
       (SELECT COUNT(*) FROM t1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)""")
