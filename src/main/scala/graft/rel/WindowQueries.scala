package graft.rel

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, QueryCatalog}

/** SURVEY.md §2h window functions on the events table — ranking,
  * analytic (lag/lead), frame-spec aggregates, top-k per group.
  *
  * Scale notes: every window below partitions by user_id, so execution
  * is one hash-partitioned shuffle + per-partition sort; no single-
  * partition (`Window.orderBy` without partitionBy) windows anywhere —
  * those serialize the whole dataset through one task at 100 TB.
  */
object WindowQueries extends QueryCatalog {

  private def w = Window.partitionBy("user_id")
    .orderBy(col("ts"), col("event_id"))

  /** Ranking trio over user sessions ordered by time. */
  private val ranks = Q(
    "q_window_ranks",
    """SELECT event_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |  rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
      |  dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    val we = Window.partitionBy("user_id").orderBy("event_type")
    Tables.events(s, dir)
      .select(col("event_id"),
        row_number().over(w).as("rn"),
        rank().over(we).as("rnk"),
        dense_rank().over(we).as("drnk"))
      .orderBy("event_id")
  }

  /** lag/lead analytics — previous/next event value per user. */
  private val lagLead = Q(
    "q_window_lag_lead",
    """SELECT event_id,
      |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
      |  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("event_id")
  }

  /** Running sum — ROWS UNBOUNDED PRECEDING..CURRENT ROW frame. Both
    * engines fold the frame in the same order, so the double sum is
    * reproducible; rounded anyway. */
  private val runningSum = Q(
    "q_window_running_sum",
    """SELECT event_id,
      |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        round(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"))
      .orderBy("event_id")
  }

  /** Sliding mean over a 1-hour RANGE frame keyed on the timestamp. */
  private val slidingAvg = Q(
    "q_window_sliding_avg",
    """SELECT event_id,
      |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
      |    AS avg_1h,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_1h
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    // interval RANGE frames have no Column-typed rangeBetween in the
    // Scala DSL — the SQL expression form is the supported spelling
    val frame = "OVER (PARTITION BY user_id ORDER BY ts " +
      "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
    Tables.events(s, dir)
      .select(col("event_id"),
        round(expr(s"avg(value) $frame"), 4).as("avg_1h"),
        expr(s"count(*) $frame").as("n_1h"))
      .orderBy("event_id")
  }

  /** Top-k per group — row_number <= k filter; also the "latest snapshot
    * per table" idiom generalizing SURVEY §2e O4. */
  private val topKPerGroup = Q(
    "q_window_topk_group",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value DESC, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 3 ORDER BY user_id, value DESC, event_id""".stripMargin
  ) { (s, dir) =>
    val wv = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") <= 3)
      .select("user_id", "event_id", "value")
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
  }

  /** first_value / last_value / nth_value with an explicit whole-
    * partition ROWS frame — stated in BOTH dialects because the
    * defaults differ (a running frame makes last_value = current row).
    * No arithmetic on the picked values, so doubles pass the hash
    * compare raw; (ts, event_id) makes every pick deterministic. */
  private val firstLast = Q(
    "q_window_first_last",
    """SELECT user_id, event_id,
      |  first_value(value) OVER w AS first_v,
      |  last_value(value) OVER w AS last_v,
      |  nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING
      |                      AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("user_id", "event_id")
  }

  /** Relational sessionization — the classic lag + running-sum-of-
    * boundaries pattern (a new session starts where the gap from the
    * previous event exceeds 30 minutes). Two windows over the SAME
    * (user_id, ts, event_id) order, so Spark evaluates both in one
    * Window operator after one shuffle — the batch-SQL equivalent of
    * session_window/flatMapGroupsWithState (q_stream_session), useful
    * when sessions feed further relational logic. Integer output. */
  private val sessionizeSql = Q(
    "q_window_sessionize",
    """WITH gaps AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
      |           <= 1800000000 THEN 0 ELSE 1 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, event_id,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS session_id
      |  FROM gaps
      |)
      |SELECT user_id, session_id, count(*) AS n_events
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_session",
        when(unix_micros(col("ts").cast("timestamp")) -
          lag(unix_micros(col("ts").cast("timestamp")), 1).over(w)
          <= 1800000000L, 0L).otherwise(1L))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  /** Event-time RANGE frame: per-user count of events in the trailing
    * hour — the time-interval window (RANGE BETWEEN INTERVAL ...
    * PRECEDING) as opposed to the row-count and numeric-range frames
    * covered by q_window_sliding_avg/running_sum. RANGE frames treat
    * equal-ts rows as peers, so the count is tie-order-independent by
    * construction; the presentation sort still tiebreaks on event_id.
    * This is the batch twin of what a watermarked stream computes with
    * bounded state. */
  private val timeRange = Q(
    "q_window_time_range",
    """SELECT user_id, event_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts
      |                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
      |                           AND CURRENT ROW) AS n_trailing_hour
      |FROM events ORDER BY user_id, ts, event_id LIMIT 5000""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir).createOrReplaceTempView("events_v")
    s.sql("""SELECT user_id, event_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts
      |                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
      |                           AND CURRENT ROW) AS n_trailing_hour
      |FROM events_v ORDER BY user_id, ts, event_id LIMIT 5000""".stripMargin)
  }

  /** Temporal resampling + LOCF gap-fill — the feature-pipeline
    * operator that turns an irregular event stream into a dense
    * per-entity daily series: a calendar spine (one row per user per
    * day between that user's first and last event) left-joins the
    * observed per-day aggregates, and missing days carry the last
    * observed value forward (`last_value IGNORE NULLS` over an
    * explicit running frame — frame stated in BOTH dialects per the
    * determinism contract). The in-day representative is picked by a
    * total (ts DESC, event_id DESC) order, so the fill is
    * deterministic; the filled value is a COPY of a stored double,
    * never arithmetic, so cross-engine equality is exact.
    *
    * Scale shape: the spine explodes map-side from a bounded per-user
    * min/max aggregate (30 rows per user here; at 100 TB the spine is
    * |entities| x |days| — still dwarfed by the event stream), joins
    * are keyed on (user_id, day), and the LOCF window partitions by
    * user — no single-partition window anywhere.
    */
  private val gapFill = Q(
    "q_window_gapfill",
    """WITH ev AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value, ts, event_id
      |  FROM events
      |), r AS (
      |  SELECT user_id, day, value,
      |    row_number() OVER (PARTITION BY user_id, day
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ev
      |), lastv AS (
      |  SELECT user_id, day, value AS last_val FROM r WHERE rn = 1
      |), obs AS (
      |  SELECT user_id, day, count(*) AS n_events FROM ev GROUP BY 1, 2
      |), bounds AS (
      |  SELECT user_id, min(day) AS lo, max(day) AS hi FROM ev GROUP BY 1
      |), spine AS (
      |  SELECT user_id,
      |    unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      |  FROM bounds
      |)
      |SELECT s.user_id, s.day,
      |  coalesce(o.n_events, CAST(0 AS BIGINT)) AS n_events,
      |  last_value(l.last_val IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM spine s
      |LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
      |LEFT JOIN lastv l ON l.user_id = s.user_id AND l.day = s.day
      |ORDER BY s.user_id, s.day""".stripMargin
  ) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value"), col("ts"), col("event_id"))
    val lastv = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "day")
          .orderBy(desc("ts"), desc("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("last_val"))
    val obs = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"))
    val spine = ev.groupBy("user_id")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("user_id"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    spine
      .join(obs, Seq("user_id", "day"), "left")
      .join(lastv, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_val"), ignoreNulls = true).over(
          Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("filled"))
      .orderBy("user_id", "day")
  }

  /** WITH RECURSIVE (Spark 4 recursive CTEs): the calendar-spine
    * gap-fill written the way a SQL user generates rows that exist in
    * no table — a LINEAR recursion (one row per step, UNION ALL, the
    * terminating shape Spark supports) walking day by day from the
    * corpus min to max date, left-joined to a sparse slice's daily
    * counts so absent days surface as explicit zeros (at sf0.001 the
    * slice misses 10 of 30 days; at larger SFs the spine degenerates
    * to the observed days — same semantics). The engines spell
    * date stepping differently (Spark `date_add(d, 1)`, DuckDB
    * `d + 1`), so the two SQL texts differ in that one token; the
    * recursion shape and results are identical. Scale note: the
    * recursion materializes O(days) rows on the driver-side plan —
    * a spine is metadata-sized by construction; the fact table is
    * touched once for bounds and once for the aggregate. */
  private val recursiveSpine = Q(
    "q_sql_recursive_spine",
    """WITH RECURSIVE bounds AS (
      |  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      |  FROM events
      |), spine(d, d1) AS (
      |  SELECT d0, d1 FROM bounds
      |  UNION ALL
      |  SELECT d + 1, d1 FROM spine WHERE d < d1
      |), daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type = 'purchase' AND value > 90
      |  GROUP BY 1
      |)
      |SELECT s.d, coalesce(daily.n, 0) AS n
      |FROM spine s LEFT JOIN daily ON daily.d = s.d
      |ORDER BY s.d""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        |  FROM events
        |), spine(d, d1) AS (
        |  SELECT d0, d1 FROM bounds
        |  UNION ALL
        |  SELECT date_add(d, 1), d1 FROM spine WHERE d < d1
        |), daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type = 'purchase' AND value > 90
        |  GROUP BY 1
        |)
        |SELECT s.d, coalesce(daily.n, 0) AS n
        |FROM spine s LEFT JOIN daily ON daily.d = s.d
        |ORDER BY s.d""".stripMargin)
  }

  /** Exponentially weighted moving average per user — the WEIGHTED
    * complement of [[slidingAvg]]'s uniform window: recent events
    * dominate with half-life decay, the standard smoothed-rate signal
    * of monitoring/feature pipelines. Exact cross-engine determinism
    * by construction: values integer-scale first (floor(v·10⁴+0.5) —
    * half-up, valid since values are nonnegative), the 8-term window
    * uses power-of-two weights 2⁷..2⁰ via explicit lag() terms (a
    * partition's short head simply drops missing terms from BOTH the
    * numerator and the weight sum), and the final normalization is a
    * truncating integer division — no float ever sums across rows.
    * Scale shape: one window shuffle keyed by user, 8 lags computed in
    * a single WindowExec pass (same frame), output is map-side math.
    */
  private val EwmaK = 8
  private val ewma = Q(
    "q_window_ewma", {
      val over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
      val lags = (1 until EwmaK).map(i =>
        s"lag(vi, $i) $over AS v$i").mkString(",\n      |    ")
      val num = (1 until EwmaK).map(i =>
        s"coalesce(v$i, 0) * ${1L << (EwmaK - 1 - i)}")
        .mkString(" + ")
      val den = (1 until EwmaK).map(i =>
        s"CASE WHEN v$i IS NULL THEN 0 ELSE ${1L << (EwmaK - 1 - i)} END")
        .mkString(" + ")
      s"""WITH v AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
         |  FROM events
         |), l AS (
         |  SELECT event_id, vi,
         |    $lags
         |  FROM v
         |), s AS (
         |  SELECT event_id,
         |    vi * ${1L << (EwmaK - 1)} + $num AS num,
         |    ${1L << (EwmaK - 1)} + $den AS den
         |  FROM l
         |)
         |SELECT event_id, den AS weight_sum,
         |  (num + den // 2) // den AS ewma_x10000
         |FROM s ORDER BY event_id""".stripMargin
    }
  ) { (s, dir) =>
    val over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").as("vi"))
    val withLags = base.select(Seq(col("event_id"), col("vi")) ++
      (1 until EwmaK).map(i =>
        expr(s"lag(vi, $i) $over").as(s"v$i")): _*)
    val num = (1 until EwmaK).map(i =>
      s"coalesce(v$i, 0L) * ${1L << (EwmaK - 1 - i)}L").mkString(" + ")
    val den = (1 until EwmaK).map(i =>
      s"CASE WHEN v$i IS NULL THEN 0L ELSE ${1L << (EwmaK - 1 - i)}L END")
      .mkString(" + ")
    withLags
      .select(col("event_id"),
        expr(s"vi * ${1L << (EwmaK - 1)}L + $num").as("num"),
        expr(s"${1L << (EwmaK - 1)}L + $den").as("den"))
      .select(col("event_id"), col("den").as("weight_sum"),
        expr("(num + den div 2) div den").as("ewma_x10000"))
      .orderBy("event_id")
  }

  /** Rolling median-absolute-deviation anomaly detection (round 14)
    * — the robust streaming-metrics alarm: per user, a 10-event
    * trailing window's EXACT median and MAD (mean/stddev blow up on
    * the very outliers being hunted), flagging events whose scaled
    * value deviates from the window median by > 3×MAD. Exact integer
    * math throughout: values scale ×10⁴ (the [[ewma]] discipline),
    * medians are the sorted window array's element 5 of 10 (lower
    * median — no float averaging), MAD is the lower median of the
    * absolute deviations, both via list/array sort — deterministic at
    * any parallelism, bit-equal across engines. Only full windows
    * (rn ≥ 10) score. Scale shape: one user-partitioned window (hash
    * shuffle + sort), the 10-element arrays live per row inside the
    * projection — nothing corpus-sized materializes. */
  private val madAnomaly = Q(
    "q_window_mad",
    """WITH v AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn,
      |    list_sort(list(CAST(floor(value * 10000 + 0.5) AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS win
      |  FROM events
      |), m AS (
      |  SELECT user_id, event_id, vi, win[5] AS med,
      |    list_sort(list_transform(win, x -> abs(x - win[5])))[5] AS mad
      |  FROM v WHERE rn >= 10
      |)
      |SELECT user_id, event_id, vi, med, mad,
      |  CASE WHEN abs(vi - med) > 3 * mad THEN 1 ELSE 0 END AS anomaly
      |FROM m WHERE abs(vi - med) > 3 * mad
      |ORDER BY user_id, event_id""".stripMargin
  ) { (s, dir) =>
    val wf = w.rowsBetween(-9, Window.currentRow)
    // r17 (guide §1.2 per-task work): filter pushdown inlines any
    // med/mad projection into the filter condition, so the naive
    // withColumn(med)/withColumn(mad)/filter shape evaluated the
    // interpreted array_sort lambda up to 4x per input row (plan
    // verified: the Filter node carried three copies of the window
    // sort plus the deviation sort). Two fixes, result bit-identical:
    //  - sort_array (native ordering) instead of array_sort with an
    //    explicit comparator lambda — the comparator is interpreted
    //    per COMPARISON;
    //  - the filter condition binds the sorted window ONCE via a
    //    let-expression (transform over a 1-element array, s = sorted
    //    window) — 2 sorts per input row instead of 4; med/mad
    //    re-derive only for the few surviving anomaly rows.
    Tables.events(s, dir)
      .withColumn("vi",
        expr("cast(floor(value * 10000 + 0.5) as bigint)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("winr", collect_list(col("vi")).over(wf))
      .filter(col("rn") >= 10 && expr(madIsAnomaly))
      .select(col("user_id"), col("event_id"), col("vi"),
        expr("try_element_at(sort_array(winr), 5)").as("med"),
        expr(madOfWindow).as("mad"),
        lit(1).as("anomaly"))
      .orderBy("user_id", "event_id")
  }

  /** q_window_mad's MAD of the sorted window `s`. Every lower-median
    * read is `try_element_at(…, 5)` (1-based), which yields NULL on a
    * window shorter than 5 — collect_list drops NULL values, so a row
    * with rn ≥ 10 can still carry one — instead of the ANSI
    * out-of-bounds error `s[4]` would raise. The expressions are total
    * whatever order the optimizer evaluates the filter's conjuncts in,
    * like DuckDB's `win[5]`, which is NULL past the end. */
  private val madOf =
    "try_element_at(sort_array(transform(s, x -> " +
      "abs(x - try_element_at(s, 5)))), 5)"
  private[rel] val madIsAnomaly =
    "transform(array(sort_array(winr)), s -> " +
      s"abs(vi - try_element_at(s, 5)) > 3 * $madOf)[0]"
  private[rel] val madOfWindow =
    s"transform(array(sort_array(winr)), s -> $madOf)[0]"

  override def all: Seq[Q] = Seq(
    ranks, lagLead, runningSum, slidingAvg, topKPerGroup, firstLast,
    sessionizeSql, timeRange, gapFill, recursiveSpine, ewma, madAnomaly)
}
