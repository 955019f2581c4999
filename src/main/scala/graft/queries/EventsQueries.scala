package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TemporalJoins
import graft.functions.{Analytics, ExactGrid}
import graft.OracleSql.{Chain, hashLong, idHashCtes, roundSpark, sig}
import graft.queries.QueryKit._

/** Event-log and order analytics: sessions, funnels, cohorts, time-series
  * models, experiments and causal estimators, survival, market baskets.
  */
object EventsQueries {

  /** Bootstrap replicate count and the CI ranks derived from it, read
    * by both the `events_bootstrap_ci` builder and its oracle, so the
    * two sides cannot drift apart.
    */
  private val bootstrapNBoot: Int = 200
  private val bootstrapLoRank: Int =
    math.max(1, (bootstrapNBoot * 25) / 1000)
  private val bootstrapHiRank: Int = bootstrapNBoot - bootstrapLoRank

  /** Poisson(1) pmf thresholds (k = 0..12, ≈10⁻¹⁰ tail folded into the
    * last row) — the per-row resample weights of the Poisson bootstrap
    * (Kleiner et al.'s scalable bootstrap family): w ~ Poisson(1)
    * approximates multinomial resampling without coordination, which
    * is why it is THE bootstrap that distributes.
    */
  private lazy val poissonThresholds: Seq[(Long, Long, Long)] = {
    val e1 = math.exp(-1.0)
    var fact = 1.0
    cdfThresholds((0 to 12).map { k =>
      if (k > 0) fact *= k
      k.toLong -> e1 / fact
    })
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("events_hourly", (s, dir) => {
      // batch twin of the streaming windowed aggregation
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(expr("cast(cast(round(value * 100) as bigint)" +
            " as decimal(38,0))")).cast("double") / 100.0)
            .as("total_value"))
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  sum(cast(round(value * 100) as bigint))::DOUBLE
        |    / 100.0 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    QueryDef("events_hopping", (s, dir) => {
      // hopping (sliding) windows: 1-hour windows every 15 minutes —
      // each event lands in exactly 4 windows (Spark's epoch-aligned
      // `window()` grid; the oracle replays the same grid arithmetic
      // in epoch-µs). The batch twin of the streaming sliding agg
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour", "15 minutes")
            .getField("start").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(expr("cast(cast(round(value * 100) as bigint)" +
            " as decimal(38,0))")).cast("double") / 100.0)
            .as("total_value"))
    },
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS eu FROM events),
        |w AS (
        |  SELECT make_timestamp(
        |      (eu - (eu % 900000000)) - k * 900000000) AS win_start,
        |    event_type, value
        |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS k))
        |SELECT win_start, event_type, count(*) AS n,
        |  sum(cast(round(value * 100) as bigint))::DOUBLE
        |    / 100.0 AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin),

    QueryDef("events_funnel", (s, dir) => {
      // 3-step funnel with strict ordering AND a 1-hour conversion
      // window per hop (first view -> first click within the hour ->
      // first purchase within the next hour) — per-user mins are
      // map-side-combined narrow aggregations chained by user_id joins,
      // one output row per step
      val ev = t(s, dir, "events")
      val hour = expr("INTERVAL 1 HOUR")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("ts_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("ts_view") &&
          col("ts") <= col("ts_view") + hour)
        .groupBy("user_id").agg(min("ts").as("ts_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("ts_click") &&
          col("ts") <= col("ts_click") + hour)
        .groupBy("user_id").agg(min("ts").as("ts_purchase"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("step"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("step"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("step"), col("n_users")))
    },
      """WITH v AS (
        |  SELECT user_id, min(ts) AS ts_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS ts_click
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.ts_view
        |    AND e.ts <= v.ts_view + INTERVAL 1 HOUR
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS ts_purchase
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.ts_click
        |    AND e.ts <= c.ts_click + INTERVAL 1 HOUR
        |  GROUP BY 1)
        |SELECT '1_view' AS step, count(*) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click', count(*) FROM c
        |UNION ALL
        |SELECT '3_purchase', count(*) FROM p""".stripMargin),

    QueryDef("events_retention_cohorts", (s, dir) => {
      // daily cohort retention: users grouped by first-active day,
      // distinct actives counted per (cohort, day offset) — two
      // map-side-combined narrow aggregations and one user_id join;
      // at 100 TB the distinct (user, day) frame is the only shuffled
      // state and the output is bounded by days², not events
      val days = t(s, dir, "events").select(col("user_id"),
        datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
      val cohort = days.groupBy("user_id")
        .agg(min("day").as("cohort_day"))
      days.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    },
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(datediff('day', DATE '2024-01-01', ts::DATE)
        |      AS INTEGER) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM w GROUP BY 1)
        |SELECT c.cohort_day, w.day - c.cohort_day AS day_offset,
        |  count(DISTINCT w.user_id)::BIGINT AS n_users
        |FROM w JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),

    QueryDef("events_drift", (s, dir) => {
      // week-over-week event-mix drift: L1 distance between consecutive
      // weeks' type distributions, in exact scaled-integer arithmetic
      // (shares as millionths; no order-dependent double sums) — the
      // "did my ingest mix silently change" pipeline monitor. Narrow
      // (week, type, count) aggregations; the type dimension broadcast.
      val ev = t(s, dir, "events")
        .select(date_trunc("week", col("ts")).cast("date").as("wk"),
          col("event_type"))
      val cnt = ev.groupBy("wk", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("wk").agg(sum("cnt").as("tot"))
      val share = cnt.join(tot, Seq("wk"))
        .select(col("wk"), col("event_type"),
          floor(col("cnt") * lit(1000000L) / col("tot")).cast("long")
            .as("share6"))
      val weeks = share.select("wk").distinct()
      val pairs = weeks
        .join(weeks.select(col("wk").as("nwk")),
          col("nwk") === date_add(col("wk"), 7))
      val types = share.select("event_type").distinct()
      val keys = pairs.crossJoin(broadcast(types))
      val sa = share.select(col("wk"), col("event_type"),
        col("share6").as("sa"))
      val sb = share.select(col("wk").as("nwk"), col("event_type"),
        col("share6").as("sb"))
      keys.join(sa, Seq("wk", "event_type"), "left")
        .join(sb, Seq("nwk", "event_type"), "left")
        .groupBy("wk")
        .agg(sum(abs(coalesce(col("sa"), lit(0L)) -
          coalesce(col("sb"), lit(0L)))).as("l1_millionths"))
    },
      """WITH cnt AS (
        |  SELECT date_trunc('week', ts)::DATE AS wk, event_type,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT wk, sum(cnt)::BIGINT AS tot FROM cnt GROUP BY 1),
        |share AS (
        |  SELECT c.wk, c.event_type,
        |    CAST(floor(c.cnt * 1000000 / t.tot) AS BIGINT) AS share6
        |  FROM cnt c JOIN tot t USING (wk)),
        |weeks AS (SELECT DISTINCT wk FROM share),
        |pairs AS (
        |  SELECT a.wk, b.wk AS nwk FROM weeks a
        |  JOIN weeks b ON b.wk = a.wk + 7),
        |types AS (SELECT DISTINCT event_type FROM share),
        |keys AS (SELECT p.wk, p.nwk, t.event_type FROM pairs p, types t)
        |SELECT k.wk,
        |  sum(abs(coalesce(sa.share6, 0) - coalesce(sb.share6, 0)))::BIGINT
        |    AS l1_millionths
        |FROM keys k
        |LEFT JOIN share sa ON sa.wk = k.wk
        |  AND sa.event_type = k.event_type
        |LEFT JOIN share sb ON sb.wk = k.nwk
        |  AND sb.event_type = k.event_type
        |GROUP BY k.wk""".stripMargin),

    QueryDef("events_sessions_batch", (s, dir) => {
      // gap-based sessionization in batch: a session break is >30 min
      // of user inactivity; session ids are a running sum of break
      // flags. All windows partition by user_id — bounded by one user's
      // history, never corpus-wide; the batch twin of the streaming
      // mapGroupsWithState sessions
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("us"))
      val gap = 1800L * 1000000L
      ev.withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > gap, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum("new_s").over(w))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"), min("us").as("start_us"),
          max("us").as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s2 AS (
        |  SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id)::BIGINT AS session_no
        |  FROM s1)
        |SELECT user_id, session_no, count(*)::BIGINT AS n_events,
        |  min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us,
        |  (max(us) - min(us))::BIGINT AS duration_us
        |FROM s2 GROUP BY 1, 2""".stripMargin),

    QueryDef("events_changepoint", (s, dir) => {
      // binary-segmentation changepoint over daily revenue: the split
      // day minimizing total within-segment SSE — equivalently
      // maximizing f = ΣL²/n_L + ΣR²/n_R — with every Σ an exact
      // DECIMAL(38,0) of integer cents and ONE double division per
      // candidate day (identical in both engines; argmax tie-broken by
      // day). The corpus work is one daily rollup; candidate scoring
      // runs on the calendar-bounded frame.
      val d = "decimal(38,0)"
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val tot = daily.agg(count(lit(1)).cast(d).as("n"),
        sum(col("cents").cast(d)).as("st"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n_l", sum(lit(1).cast(d)).over(wc))
        .withColumn("s_l", sum(col("cents").cast(d)).over(wc))
        .crossJoin(broadcast(tot))
        .filter(col("n_l") < col("n"))
        .withColumn("n_r", col("n") - col("n_l"))
        .withColumn("s_r", col("st") - col("s_l"))
        .withColumn("f",
          (col("s_l") * col("s_l") * col("n_r") +
            col("s_r") * col("s_r") * col("n_l")).cast("double") /
            (col("n_l") * col("n_r")).cast("double"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("f").desc, col("day").asc)))
        .filter(col("rnk") === 1)
        .select(col("day").as("split_day"),
          col("n_l").cast("long").as("n_left"),
          col("n_r").cast("long").as("n_right"),
          expr("cast(s_l as bigint) div cast(n_l as bigint)")
            .as("mean_l_cents"),
          expr("cast(s_r as bigint) div cast(n_r as bigint)")
            .as("mean_r_cents"))
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
        |      AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::HUGEINT AS n, sum(cents)::HUGEINT
        |    AS st FROM daily),
        |cum AS (
        |  SELECT day,
        |    (count(*) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      )::HUGEINT AS n_l,
        |    (sum(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      )::HUGEINT AS s_l
        |  FROM daily),
        |sc AS (
        |  SELECT day, n_l, s_l, t.n - n_l AS n_r, t.st - s_l AS s_r
        |  FROM cum CROSS JOIN tot t
        |  WHERE n_l < t.n),
        |f AS (
        |  SELECT day, n_l, n_r, s_l, s_r,
        |    (s_l * s_l * n_r + s_r * s_r * n_l)::DOUBLE
        |      / (n_l * n_r)::DOUBLE AS f
        |  FROM sc),
        |top AS (SELECT *, row_number() OVER (ORDER BY f DESC, day ASC)
        |    AS rnk FROM f)
        |SELECT day AS split_day, n_l::BIGINT AS n_left,
        |  n_r::BIGINT AS n_right,
        |  (s_l::BIGINT // n_l::BIGINT)::BIGINT AS mean_l_cents,
        |  (s_r::BIGINT // n_r::BIGINT)::BIGINT AS mean_r_cents
        |FROM top WHERE rnk = 1""".stripMargin),

    QueryDef("events_quantile_bands", (s, dir) => {
      // monitoring bands: P10/P50/P90 of hourly revenue per event type
      // — the reference envelope a live monitor compares against. One
      // hourly rollup (corpus-sized work) + exact percentiles over the
      // calendar-bounded hourly frame.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts"))
          .as("hour"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          round(expr("percentile(cents, 0.1)"), 4).as("p10_cents"),
          round(expr("percentile(cents, 0.5)"), 4).as("p50_cents"),
          round(expr("percentile(cents, 0.9)"), 4).as("p90_cents"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, count(*)::BIGINT AS n_hours,
        |  round(quantile_cont(cents, 0.1), 4) AS p10_cents,
        |  round(quantile_cont(cents, 0.5), 4) AS p50_cents,
        |  round(quantile_cont(cents, 0.9), 4) AS p90_cents
        |FROM hourly GROUP BY 1""".stripMargin),

    QueryDef("events_seasonal_anomaly", (s, dir) => {
      // seasonality-adjusted outlier days: daily revenue compared
      // against ITS OWN day-of-week population (a Monday vs Mondays),
      // so weekly rhythm never masquerades as an anomaly — the gate
      // events_anomaly can't express. Same exact-integer z machinery:
      // flag iff (n·cents − Σ)² > (n·Σc² − Σ²), i.e. |z| > 1 over the
      // dow group, decided in DECIMAL before any float appears.
      val d = "decimal(38,0)"
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .withColumn("dow", pmod(col("day"), lit(7)).cast("int"))
      val st = daily.groupBy("dow")
        .agg(count(lit(1)).cast(d).as("n"),
          sum(col("cents").cast(d)).as("sc"),
          sum(col("cents").cast(d) * col("cents").cast(d)).as("scc"))
      daily.join(broadcast(st), Seq("dow"))
        .withColumn("num", col("n") * col("cents").cast(d) - col("sc"))
        .withColumn("den2", col("n") * col("scc") - col("sc") * col("sc"))
        .filter(col("num") * col("num") > col("den2"))
        .select(col("dow"), col("day"), col("cents"),
          round(col("num").cast("double") /
            sqrt(col("den2").cast("double")), 4).as("z"))
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT
        |    AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |dd AS (SELECT day, cents,
        |  (((day % 7) + 7) % 7)::INT AS dow FROM daily),
        |st AS (
        |  SELECT dow, count(*)::HUGEINT AS n,
        |    sum(cents::HUGEINT) AS sc,
        |    sum(cents::HUGEINT * cents) AS scc
        |  FROM dd GROUP BY 1)
        |SELECT dd.dow, dd.day, dd.cents,
        |  round((st.n * dd.cents - st.sc)::DOUBLE /
        |    sqrt((st.n * st.scc - st.sc * st.sc)::DOUBLE), 4) AS z
        |FROM dd JOIN st ON dd.dow = st.dow
        |WHERE (st.n * dd.cents - st.sc) * (st.n * dd.cents - st.sc)
        |  > (st.n * st.scc - st.sc * st.sc)""".stripMargin),

    QueryDef("events_anomaly", (s, dir) => {
      // hourly-count anomaly flags per event type. The z>3 gate runs in
      // EXACT integer arithmetic — flag iff (n·cnt − Σc)² > 9·(n·Σc² −
      // (Σc)²) and cnt above mean — so no float accumulation can flip a
      // boundary; the reported z derives once per row from the same
      // exact integers (decimal sums: the squares overflow long at
      // petabyte event volumes)
      val d = "decimal(38,0)"
      val ev = t(s, dir, "events")
      val hourly = ev.groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val st = hourly.groupBy("event_type")
        .agg(count(lit(1)).cast(d).as("n"),
          sum(col("cnt").cast(d)).as("sc"),
          sum(col("cnt").cast(d) * col("cnt").cast(d)).as("scc"))
      hourly.join(broadcast(st), Seq("event_type"))
        .withColumn("num", col("n") * col("cnt").cast(d) - col("sc"))
        .withColumn("den2", col("n") * col("scc") - col("sc") * col("sc"))
        .filter(col("num") * col("num") > lit(9) * col("den2") &&
          col("num") > 0)
        .select(col("event_type"), col("hour"), col("cnt"),
          round(col("num").cast("double") /
            sqrt(col("den2").cast("double")), 4).as("z"))
    },
      // Oracle for `events_anomaly`: hourly counts per type, the z>3 gate
      // in exact HUGEINT arithmetic, z derived from the same integers with
      // the engine's IEEE association and Spark-semantics rounding.
      s"""WITH hourly AS (
         |  SELECT event_type,
         |    CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS BIGINT)
         |      AS hour,
         |    count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |st AS (
         |  SELECT event_type, count(*)::HUGEINT AS n,
         |    sum(cnt::HUGEINT) AS sc, sum(cnt::HUGEINT * cnt) AS scc
         |  FROM hourly GROUP BY event_type)
         |SELECT h.event_type, h.hour, h.cnt,
         |  ${roundSpark(
            "(n*h.cnt - sc)::DOUBLE / sqrt((n*scc - sc*sc)::DOUBLE)", 4)} AS z
         |FROM hourly h JOIN st ON st.event_type = h.event_type
         |WHERE (n*h.cnt - sc)*(n*h.cnt - sc) > 9*(n*scc - sc*sc)
         |  AND n*h.cnt - sc > 0""".stripMargin),

    QueryDef("events_transitions", (s, dir) => {
      // first-order Markov transition matrix over each user's event
      // stream: lead() pairs every event with its successor in
      // (ts, event_id) order — ONE user-partitioned sort-shuffle, no
      // self-join; the output is bounded by |event types|² and the
      // per-from-type rate is an exact integer division (per-million)
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val cnt = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("from_type").agg(sum("cnt").as("tot"))
      cnt.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("cnt"),
          expr("(cnt * 1000000) div tot").as("per_million"))
    },
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, count(*) AS cnt FROM pairs
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_type, sum(cnt)::BIGINT AS tot FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        |  ((c.cnt * 1000000) // t.tot)::BIGINT AS per_million
        |FROM cnt c JOIN tot t USING (from_type)""".stripMargin),

    QueryDef("events_top_paths", (s, dir) => {
      // dominant early user journeys: each user's FIRST FOUR event
      // types in (ts, event_id) order concatenated into a path string,
      // top-20 paths by user count. Complements events_transitions
      // (memoryless bigrams) with order-sensitive whole-prefix shapes.
      // One user-partitioned sort-shuffle; the per-user slot-pivot is a
      // bounded 4-way conditional max, never a collect; tie-break
      // (count desc, path asc) makes the limit deterministic.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4)
        .groupBy("user_id")
        .agg(concat_ws(">",
          max(when(col("rn") === 1, col("event_type"))),
          max(when(col("rn") === 2, col("event_type"))),
          max(when(col("rn") === 3, col("event_type"))),
          max(when(col("rn") === 4, col("event_type")))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path").asc)
        .limit(20)
    },
      """WITH r AS (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, concat_ws('>',
        |      max(CASE WHEN rn = 1 THEN event_type END),
        |      max(CASE WHEN rn = 2 THEN event_type END),
        |      max(CASE WHEN rn = 3 THEN event_type END),
        |      max(CASE WHEN rn = 4 THEN event_type END)) AS path
        |  FROM r WHERE rn <= 4 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin),

    QueryDef("events_attribution", (s, dir) => {
      // last-touch revenue attribution: each purchase credits the
      // user's most recent view/click at-or-before it, valid only
      // within a 3-day lookback — the one-shuffle as-of machinery
      // (no range explosion), then a penny-exact scaled-long rollup
      // per touch type ('none' = organic / stale touch)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("p_ts"),
          col("value"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts").as("t_ts"),
          col("event_type").as("touch_type"))
      TemporalJoins.asOfJoin(purchases, touches, "user_id", "p_ts",
          "t_ts", Seq("touch_type", "t_ts"))
        .withColumn("touch",
          when(col("asof_t_ts").isNotNull &&
            col("p_ts") <= col("asof_t_ts") + expr("INTERVAL 3 DAY"),
            col("asof_touch_type")).otherwise(lit("none")))
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 100).cast("long"))
            .as("revenue_cents"))
    },
      """WITH p AS (
        |  SELECT event_id, user_id, ts AS p_ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |tc AS (
        |  SELECT user_id, ts AS t_ts, event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')),
        |a AS (
        |  SELECT p.event_id, p.p_ts, p.value, tc.t_ts, tc.touch_type
        |  FROM p ASOF LEFT JOIN tc
        |    ON p.user_id = tc.user_id AND p.p_ts >= tc.t_ts)
        |SELECT CASE WHEN t_ts IS NOT NULL
        |              AND p_ts <= t_ts + INTERVAL 3 DAY
        |            THEN touch_type ELSE 'none' END AS touch,
        |  count(*) AS n_purchases,
        |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT
        |    AS revenue_cents
        |FROM a GROUP BY 1""".stripMargin),

    QueryDef("events_ewma", (s, dir) => {
      // exponentially-weighted daily revenue smoothing (alpha = 1/2) +
      // one-step-ahead forecast, in EXACT integer arithmetic: the fold
      // ewma' = (ewma + cents) div 2 runs over the day-sorted per-type
      // array, so no float accumulation order can flip a result. The
      // corpus-sized work is the (type, day) cents rollup; the per-type
      // fold array is bounded by the calendar (30 days here), which is
      // what makes collect_list safe at 100 TB.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
          .as("series"))
        .select(col("event_type"),
          size(col("series")).as("n_days"),
          expr("series[size(series) - 1].cents").as("last_cents"),
          expr("aggregate(slice(series, 2, size(series) - 1), " +
            "series[0].cents, (acc, x) -> (acc + x.cents) div 2)")
            .as("ewma_cents"))
    },
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(cents ORDER BY day) AS series
        |  FROM daily GROUP BY 1)
        |SELECT event_type, len(series)::INT AS n_days,
        |  series[-1] AS last_cents,
        |  list_reduce(series, (acc, x) -> (acc + x) // 2) AS ewma_cents
        |FROM ser""".stripMargin),

    QueryDef("events_cusum", (s, dir) => {
      // CUSUM changepoint detection over hourly event volume — the
      // drift alarm that catches slow level shifts z-score/MAD monitors
      // miss. The textbook recurrence C_t = max(0, C_{t−1} + x_t − μ − k)
      // has the closed form C_t = S_t − min(0, min_{j≤t} S_j) over
      // prefix sums S of the slack-adjusted deviations, so it runs as
      // two cumulative windows (sum, then min) instead of a sequential
      // fold — one hour-sorted shuffle per type, no recursion. All
      // integer (counts in millionths; slack = μ/20; alarm at 3μ), so
      // order-independent and oracle-exact.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val mu = hourly.groupBy("event_type")
        .agg(sum("cnt").as("tot"), count(lit(1)).as("nh"))
        .select(col("event_type"),
          expr("(tot * 1000000) div nh").as("mu_mil"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly.join(broadcast(mu), Seq("event_type"))
        .withColumn("d",
          col("cnt") * 1000000L - col("mu_mil") - expr("mu_mil div 20"))
        .withColumn("ps", sum("d").over(w))
        .withColumn("pmin", min("ps").over(w))
        .select(col("event_type"), col("hour"),
          (col("ps") - least(lit(0L), col("pmin"))).as("cusum_mil"),
          (col("ps") - least(lit(0L), col("pmin")) > col("mu_mil") * 3)
            .as("alarm"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mu AS (
        |  SELECT event_type,
        |    ((sum(cnt) * 1000000) // count(*))::BIGINT AS mu_mil
        |  FROM hourly GROUP BY 1),
        |d AS (
        |  SELECT h.event_type, h.hour, m.mu_mil,
        |    h.cnt * 1000000 - m.mu_mil - m.mu_mil // 20 AS d
        |  FROM hourly h JOIN mu m USING (event_type)),
        |s1 AS (
        |  SELECT event_type, hour, mu_mil,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS ps
        |  FROM d),
        |s2 AS (
        |  SELECT *, min(ps) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS UNBOUNDED PRECEDING) AS pmin
        |  FROM s1)
        |SELECT event_type, hour,
        |  (ps - least(0, pmin))::BIGINT AS cusum_mil,
        |  (ps - least(0, pmin)) > mu_mil * 3 AS alarm
        |FROM s2""".stripMargin),

    QueryDef("events_holt", (s, dir) => {
      // Holt double-exponential smoothing (level + trend, α = β = ½)
      // over daily revenue, exact-integer like events_ewma: the coupled
      // fold l' = (x + l + b) div 2; b' = (b + l' − l) div 2 runs over
      // the day-sorted per-type array (bounded by the calendar), seeded
      // l₁ = x₁, b₁ = 0. Adds the trend component EWMA can't express —
      // the one-step forecast l + b anticipates drift instead of
      // lagging it. Spark div and DuckDB // both truncate toward zero,
      // so negative trends reproduce exactly.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
          .as("series"))
        .select(col("event_type"),
          size(col("series")).as("n_days"),
          expr("""aggregate(slice(series, 2, size(series) - 1),
            named_struct('l', series[0].cents, 'b', cast(0 as bigint)),
            (acc, x) -> named_struct(
              'l', (x.cents + acc.l + acc.b) div 2,
              'b', (acc.b + ((x.cents + acc.l + acc.b) div 2) - acc.l)
                div 2)) AS st"""))
        .select(col("event_type"), col("n_days"),
          col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
          (col("st.l") + col("st.b")).as("forecast_cents"))
    },
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(cents ORDER BY day) AS series
        |  FROM daily GROUP BY 1),
        |holt(event_type, i, l, b) AS (
        |  SELECT event_type, 1, series[1], 0::BIGINT FROM ser
        |  UNION ALL
        |  SELECT h.event_type, h.i + 1,
        |    (s.series[h.i + 1] + h.l + h.b) // 2,
        |    (h.b + ((s.series[h.i + 1] + h.l + h.b) // 2) - h.l) // 2
        |  FROM holt h JOIN ser s USING (event_type)
        |  WHERE h.i < len(s.series))
        |SELECT s.event_type, len(s.series)::INT AS n_days,
        |  h.l AS level_cents, h.b AS trend_cents,
        |  (h.l + h.b)::BIGINT AS forecast_cents
        |FROM ser s JOIN holt h
        |  ON h.event_type = s.event_type AND h.i = len(s.series)""".stripMargin),

    QueryDef("orders_regression_discontinuity", (s, dir) => {
      // sharp regression discontinuity (Thistlethwaite–Campbell 1960;
      // local linear per Imbens–Lemieux 2008) — the causal-family
      // member the A/B/DiD/IPW/CEM kit can't express: treatment is
      // assigned by a DETERMINISTIC cutoff on a running variable
      // (here: does crossing the $250k spend threshold change the
      // urgent/high-priority rate?), so the effect is identified by
      // the jump between two local linear fits AT the cutoff, inside
      // a ±$50k bandwidth. Exact-integer: the running variable lives
      // in cents centered at the cutoff (dx), the outcome is a {0,1}
      // flag; per (status, side) the five OLS sums accumulate with
      // Σdx² in DECIMAL(38,0) FROM BIRTH (dx ≤ 5e6 → dx² ≤ 2.5e13;
      // ~1e7 in-bandwidth rows would overflow a long — the KW overflow
      // lesson applied at design time), and the cutoff intercepts come
      // from the closed-form 2×2 normal equations by Cramer (num, den
      // ≤ ~1e27 « 1e38), ONE integral division per side. Degenerate
      // guard (the KW convention): den = n·Σdx² − (Σdx)² ≥ 0 by
      // Cauchy–Schwarz, 0 only when a side has < 2 distinct dx values
      // — the clamped-to-1 twin + ok gate return a defined 0 row
      // identically in both engines. Scale: one fact scan with the
      // bandwidth filter pushed to the parquet scan, ONE 3-group
      // map-side-combined rollup, map-only Cramer over 3 rows.
      val d = "decimal(38,0)"
      val cC = 25000000L // cutoff: $250,000.00 in cents
      val hC = 5000000L  // bandwidth: ±$50,000.00 in cents
      val o = t(s, dir, "orders")
        .select(col("o_orderstatus").as("status"),
          (round(col("o_totalprice") * 100).cast("long") - cC)
            .as("dx"),
          substring(col("o_orderpriority"), 1, 1).isin("1", "2")
            .cast("long").as("y"))
        .filter(col("dx") >= -hC && col("dx") <= hC)
        .withColumn("r", (col("dx") >= 0).cast("long"))
      def sums(tag: String, side: Int) = Seq(
        expr(s"sum(case when r = $side then 1L else 0L end)")
          .as(s"n$tag"),
        expr(s"sum(case when r = $side then dx else 0L end)")
          .as(s"sx$tag"),
        expr(s"sum(case when r = $side then y else 0L end)")
          .as(s"sy$tag"),
        expr(s"sum(case when r = $side then dx * y else 0L end)")
          .as(s"sxy$tag"),
        expr(s"sum(case when r = $side then cast(dx as $d) * dx" +
          s" else cast(0 as $d) end)").as(s"sxx$tag"))
      val agg = sums("l", 0) ++ sums("r", 1)
      def alpha(tag: String): String =
        s"(sxx$tag * cast(sy$tag as $d) - cast(sx$tag as $d)" +
          s" * sxy$tag) * 1000000 div greatest(cast(n$tag as $d)" +
          s" * sxx$tag - cast(sx$tag as $d) * sx$tag, cast(1 as $d))"
      o.groupBy("status").agg(agg.head, agg.tail: _*)
        .withColumn("ok",
          (col("nl") >= 2 && col("nr") >= 2 &&
            expr(s"cast(nl as $d) * sxxl - cast(sxl as $d) * sxl") >
              expr(s"cast(0 as $d)") &&
            expr(s"cast(nr as $d) * sxxr - cast(sxr as $d) * sxr") >
              expr(s"cast(0 as $d)")).cast("long"))
        .withColumn("al", when(col("ok") === 1L,
          expr(alpha("l"))).otherwise(0L))
        .withColumn("ar", when(col("ok") === 1L,
          expr(alpha("r"))).otherwise(0L))
        .select(col("status"), col("nl").as("n_left"),
          col("nr").as("n_right"), col("ok"),
          col("al").as("alpha_left_e6"), col("ar").as("alpha_right_e6"),
          (col("ar") - col("al")).as("tau_e6"))
    },
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderstatus AS status,
        |    (round(o_totalprice * 100)::BIGINT - 25000000) AS dx,
        |    (substr(o_orderpriority, 1, 1) IN ('1', '2'))::BIGINT AS y
        |  FROM orders
        |  WHERE round(o_totalprice * 100)::BIGINT - 25000000
        |    BETWEEN -5000000 AND 5000000),
        |g AS MATERIALIZED (
        |  SELECT status,
        |    sum(CASE WHEN dx < 0 THEN 1 ELSE 0 END)::BIGINT AS nl,
        |    sum(CASE WHEN dx < 0 THEN dx ELSE 0 END)::BIGINT AS sxl,
        |    sum(CASE WHEN dx < 0 THEN y ELSE 0 END)::BIGINT AS syl,
        |    sum(CASE WHEN dx < 0 THEN dx * y ELSE 0 END)::BIGINT
        |      AS sxyl,
        |    sum(CASE WHEN dx < 0 THEN dx::HUGEINT * dx
        |      ELSE 0::HUGEINT END) AS sxxl,
        |    sum(CASE WHEN dx >= 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
        |    sum(CASE WHEN dx >= 0 THEN dx ELSE 0 END)::BIGINT AS sxr,
        |    sum(CASE WHEN dx >= 0 THEN y ELSE 0 END)::BIGINT AS syr,
        |    sum(CASE WHEN dx >= 0 THEN dx * y ELSE 0 END)::BIGINT
        |      AS sxyr,
        |    sum(CASE WHEN dx >= 0 THEN dx::HUGEINT * dx
        |      ELSE 0::HUGEINT END) AS sxxr
        |  FROM o GROUP BY 1),
        |a AS (
        |  SELECT status, nl, nr,
        |    (nl >= 2 AND nr >= 2
        |      AND nl::HUGEINT * sxxl - sxl::HUGEINT * sxl > 0
        |      AND nr::HUGEINT * sxxr - sxr::HUGEINT * sxr > 0)::BIGINT
        |      AS ok,
        |    ((sxxl * syl::HUGEINT - sxl::HUGEINT * sxyl) * 1000000
        |      // greatest(nl::HUGEINT * sxxl - sxl::HUGEINT * sxl,
        |        1::HUGEINT))::BIGINT AS al,
        |    ((sxxr * syr::HUGEINT - sxr::HUGEINT * sxyr) * 1000000
        |      // greatest(nr::HUGEINT * sxxr - sxr::HUGEINT * sxr,
        |        1::HUGEINT))::BIGINT AS ar
        |  FROM g)
        |SELECT status, nl AS n_left, nr AS n_right, ok,
        |  CASE WHEN ok = 1 THEN al ELSE 0 END AS alpha_left_e6,
        |  CASE WHEN ok = 1 THEN ar ELSE 0 END AS alpha_right_e6,
        |  CASE WHEN ok = 1 THEN ar - al ELSE 0 END AS tau_e6
        |FROM a""".stripMargin),

    locally {
      val (iters, lr) = (4, 0.5)
      QueryDef("orders_cox_ph", (s, dir) => {
        // Cox proportional-hazards regression (Cox 1972, Breslow ties) —
        // the COVARIATE-ADJUSTED member the survival family lacked: KM/
        // Nelson–Aalen describe the curve, the log-rank test compares two
        // groups, Cox quantifies per-covariate hazard ratios. Subjects =
        // customers, duration = first order → reorder (right-censored at
        // the horizon); covariates x1 = first-order value (/5e5), x2 =
        // urgent/high priority dummy. 4 full-batch gradient-ascent rounds
        // on the Breslow partial likelihood: per round ONE rollup of
        // e9-rounded per-subject risk weights (exp touched once per
        // subject, the logreg discipline) to the DISTINCT-day frame, one
        // CALENDAR-BOUNDED suffix window (risk sets are suffix sums over
        // duration — the KM single-partition discipline on a day-domain
        // frame), and a 1-row gradient collect; β state is 2 doubles on
        // the driver. All cross-engine-compared values are e6/e9 longs;
        // the oracle unrolls the identical 4 rounds. Bound stated: S0 is
        // a sum of e9 weights — exact to ~10⁹ subjects per fixture at
        // |z| ≲ 1.
        val od = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date")
            .as("od"), col("o_totalprice"), col("o_orderpriority"),
            col("o_orderkey"))
        val hz = od.agg(max(col("od")).as("hz"))
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("od"), col("o_orderkey"))
        val subj = od
          .withColumn("rn", row_number().over(w))
          .withColumn("nxt", lead("od", 1).over(w))
          .filter(col("rn") === 1)
          .crossJoin(broadcast(hz))
          .select(
            when(col("nxt").isNotNull, datediff(col("nxt"), col("od")))
              .otherwise(datediff(col("hz"), col("od")))
              .cast("long").as("dur"),
            when(col("nxt").isNotNull, lit(1L)).otherwise(lit(0L))
              .as("event"),
            (col("o_totalprice") / 500000.0).as("x1"),
            substring(col("o_orderpriority"), 1, 1).isin("1", "2")
              .cast("int").cast("double").as("x2"))
          .filter(col("dur") > 0)
          .withColumn("x1_e6", round(col("x1") * 1000000.0, 0)
            .cast("long"))
          .withColumn("x2_e6", round(col("x2") * 1000000.0, 0)
            .cast("long"))
          .localCheckpoint(false) // 4 GD rounds + final frame re-read it
          // (lazy, r15: the cnts head() materializes it in one action)
        val cnts = subj.agg(count(lit(1)).as("n"),
          sum("event").as("ne")).head()
        val nSubj = cnts.getLong(0)
        val nEvents = cnts.getLong(1)
        val wSuffix = Window.orderBy(col("dur").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def suffixFrame(b1: Double, b2: Double): DataFrame = {
          val z = lit(b1) * col("x1") + lit(b2) * col("x2")
          val wgt = exp(z)
          subj
            .withColumn("w_e9", round(wgt * 1000000000.0, 0)
              .cast("long"))
            .withColumn("wx1_e9", round(wgt * col("x1") * 1000000000.0,
              0).cast("long"))
            .withColumn("wx2_e9", round(wgt * col("x2") * 1000000000.0,
              0).cast("long"))
            .withColumn("z_e6", round(z * 1000000.0, 0).cast("long"))
            .groupBy("dur")
            .agg(sum("w_e9").as("s0"), sum("wx1_e9").as("s1"),
              sum("wx2_e9").as("s2"), sum("event").as("d"),
              sum(when(col("event") === 1, col("x1_e6")).otherwise(0L))
                .as("dx1"),
              sum(when(col("event") === 1, col("x2_e6")).otherwise(0L))
                .as("dx2"),
              sum(when(col("event") === 1, col("z_e6")).otherwise(0L))
                .as("dz"))
            .select(col("dur"), col("d"), col("dx1"), col("dx2"),
              col("dz"),
              sum("s0").over(wSuffix).as("cs0"),
              sum("s1").over(wSuffix).as("cs1"),
              sum("s2").over(wSuffix).as("cs2"))
        }
        var b1 = 0.0
        var b2 = 0.0
        for (_ <- 1 to iters) {
          val g = suffixFrame(b1, b2).filter(col("d") > 0)
            .agg(
              (sum("dx1") - sum(col("d") *
                round(col("cs1").cast("double") / col("cs0")
                  .cast("double") * 1000000.0, 0).cast("long")))
                .as("g1"),
              (sum("dx2") - sum(col("d") *
                round(col("cs2").cast("double") / col("cs0")
                  .cast("double") * 1000000.0, 0).cast("long")))
                .as("g2")).head()
          b1 += lr * ((g.getLong(0).toDouble / 1000000.0) / nEvents)
          b2 += lr * ((g.getLong(1).toDouble / 1000000.0) / nEvents)
        }
        // Breslow partial log-likelihood at the fitted betas: Σ_deaths z
        // − Σ_t d·ln(S0(t)/1e9) — the one-number fit audit
        suffixFrame(b1, b2).filter(col("d") > 0)
          .agg((sum("dz") - sum(col("d") *
            round(log(col("cs0").cast("double") / 1000000000.0)
              * 1000000.0, 0).cast("long"))).as("pll_e6"))
          .select(
            round(lit(b1) * 1000000.0, 0).cast("long").as("b1_e6"),
            round(lit(b2) * 1000000.0, 0).cast("long").as("b2_e6"),
            round(exp(lit(b1)) * 1000000.0, 0).cast("long").as("hr1_e6"),
            round(exp(lit(b2)) * 1000000.0, 0).cast("long").as("hr2_e6"),
            lit(nSubj).as("n"), lit(nEvents).as("n_events"),
            col("pll_e6"))
      }, {
        // Oracle for `orders_cox_ph`: the Breslow partial-likelihood
        // gradient ascent unrolled round by round — identical subject
        // frame (first order → reorder duration, horizon-censored),
        // identical e9-rounded risk weights (exp touched once per subject
        // per round), identical suffix-sum risk sets over the distinct-day
        // frame, identical e6 ratio/rounding and double β updates in the
        // same evaluation order. Every chain CTE is MATERIALIZED (the
        // DuckDB inlining-explosion discipline).
        val sb = new StringBuilder
        sb.append(
          s"""WITH od AS (
             |  SELECT o_custkey, o_orderdate::DATE AS od, o_totalprice,
             |    o_orderpriority, o_orderkey FROM orders),
             |hz AS (SELECT max(od) AS hz FROM od),
             |ranked AS (
             |  SELECT o_custkey, od, o_totalprice, o_orderpriority,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY od, o_orderkey) AS rn,
             |    lead(od) OVER (PARTITION BY o_custkey
             |      ORDER BY od, o_orderkey) AS nxt
             |  FROM od),
             |subj AS (
             |  SELECT CASE WHEN nxt IS NOT NULL
             |      THEN datediff('day', od, nxt)
             |      ELSE datediff('day', od, (SELECT hz FROM hz))
             |      END::BIGINT AS dur,
             |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END::BIGINT
             |      AS event,
             |    o_totalprice / 500000.0 AS x1,
             |    (substr(o_orderpriority, 1, 1) IN ('1', '2'))::INT::DOUBLE
             |      AS x2
             |  FROM ranked WHERE rn = 1),
             |subje AS MATERIALIZED (
             |  SELECT dur, event, x1, x2,
             |    round(x1 * 1000000.0)::BIGINT AS x1_e6,
             |    round(x2 * 1000000.0)::BIGINT AS x2_e6
             |  FROM subj WHERE dur > 0),
             |ne AS (SELECT sum(event)::BIGINT AS ne FROM subje),
             |bt0 AS (SELECT 0.0::DOUBLE AS b1, 0.0::DOUBLE AS b2),
             |""".stripMargin)
        for (r <- 1 to iters) {
          val sfx = "OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED " +
            "PRECEDING AND CURRENT ROW)"
          sb.append(
            s"""pw$r AS MATERIALIZED (
               |  SELECT s.dur, s.event, s.x1_e6, s.x2_e6,
               |    round(exp(b.b1 * s.x1 + b.b2 * s.x2)
               |      * 1000000000.0)::BIGINT AS w_e9,
               |    round(exp(b.b1 * s.x1 + b.b2 * s.x2) * s.x1
               |      * 1000000000.0)::BIGINT AS wx1_e9,
               |    round(exp(b.b1 * s.x1 + b.b2 * s.x2) * s.x2
               |      * 1000000000.0)::BIGINT AS wx2_e9
               |  FROM subje s CROSS JOIN bt${r - 1} b),
               |rd$r AS MATERIALIZED (
               |  SELECT dur, sum(w_e9)::BIGINT AS s0,
               |    sum(wx1_e9)::BIGINT AS s1, sum(wx2_e9)::BIGINT AS s2,
               |    sum(event)::BIGINT AS d,
               |    sum(CASE WHEN event = 1 THEN x1_e6 ELSE 0 END)::BIGINT
               |      AS dx1,
               |    sum(CASE WHEN event = 1 THEN x2_e6 ELSE 0 END)::BIGINT
               |      AS dx2
               |  FROM pw$r GROUP BY 1),
               |sf$r AS MATERIALIZED (
               |  SELECT dur, d, dx1, dx2,
               |    sum(s0) $sfx::BIGINT AS cs0,
               |    sum(s1) $sfx::BIGINT AS cs1,
               |    sum(s2) $sfx::BIGINT AS cs2
               |  FROM rd$r),
               |gr$r AS MATERIALIZED (
               |  SELECT (sum(dx1) - sum(d * round(cs1::DOUBLE / cs0::DOUBLE
               |      * 1000000.0)::BIGINT))::BIGINT AS g1,
               |    (sum(dx2) - sum(d * round(cs2::DOUBLE / cs0::DOUBLE
               |      * 1000000.0)::BIGINT))::BIGINT AS g2
               |  FROM sf$r WHERE d > 0),
               |bt$r AS MATERIALIZED (
               |  SELECT b.b1 + $lr * ((g.g1::DOUBLE / 1000000.0) / ne.ne)
               |      AS b1,
               |    b.b2 + $lr * ((g.g2::DOUBLE / 1000000.0) / ne.ne) AS b2
               |  FROM bt${r - 1} b CROSS JOIN gr$r g CROSS JOIN ne),
               |""".stripMargin)
        }
        sb.append(
          s"""pwf AS MATERIALIZED (
             |  SELECT s.dur, s.event,
             |    round((b.b1 * s.x1 + b.b2 * s.x2) * 1000000.0)::BIGINT
             |      AS z_e6,
             |    round(exp(b.b1 * s.x1 + b.b2 * s.x2)
             |      * 1000000000.0)::BIGINT AS w_e9
             |  FROM subje s CROSS JOIN bt$iters b),
             |rdf AS MATERIALIZED (
             |  SELECT dur, sum(w_e9)::BIGINT AS s0, sum(event)::BIGINT AS d,
             |    sum(CASE WHEN event = 1 THEN z_e6 ELSE 0 END)::BIGINT AS dz
             |  FROM pwf GROUP BY 1),
             |sff AS MATERIALIZED (
             |  SELECT dur, d, dz,
             |    sum(s0) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW)::BIGINT AS cs0
             |  FROM rdf),
             |nn AS (SELECT count(*)::BIGINT AS n FROM subje)
             |SELECT round(b.b1 * 1000000.0)::BIGINT AS b1_e6,
             |  round(b.b2 * 1000000.0)::BIGINT AS b2_e6,
             |  round(exp(b.b1) * 1000000.0)::BIGINT AS hr1_e6,
             |  round(exp(b.b2) * 1000000.0)::BIGINT AS hr2_e6,
             |  nn.n AS n, ne.ne AS n_events,
             |  (SELECT (sum(dz) - sum(d * round(ln(cs0::DOUBLE
             |      / 1000000000.0) * 1000000.0)::BIGINT))::BIGINT
             |   FROM sff WHERE d > 0) AS pll_e6
             |FROM bt$iters b CROSS JOIN nn CROSS JOIN ne""".stripMargin)
        sb.toString
      })
    },

    QueryDef("orders_survival_km", (s, dir) => {
      // Kaplan–Meier survival over inter-purchase gaps: time-to-next-
      // order per customer, the LAST order right-censored at the
      // table's horizon — the churn curve ("what fraction of customers
      // have NOT reordered after t days") with censoring handled
      // correctly, which a naive gap histogram gets wrong. Risk sets
      // and event counts are exact integers; the only floats are
      // ln(1−d/n) per DISTINCT gap day and the sequential running sum
      // over the day-bounded factor frame (same calendar-bounded
      // single-partition window discipline as the daily KPI frames),
      // identical in both engines. Terminal times with d = n (S would
      // hit 0, ln −∞) are excluded and documented.
      val od = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast("date")
          .as("od"))
      val hz = od.agg(max(col("od")).as("hz"))
      val dur = od
        .withColumn("nxt", lead("od", 1)
          .over(Window.partitionBy("o_custkey").orderBy("od")))
        .crossJoin(broadcast(hz))
        .select(
          when(col("nxt").isNotNull, datediff(col("nxt"), col("od")))
            .otherwise(datediff(col("hz"), col("od")))
            .cast("long").as("dur"),
          when(col("nxt").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("event"))
        .filter(col("dur") > 0)
      val ev = dur.groupBy("dur")
        .agg(sum("event").as("d"), count(lit(1)).as("cnt"))
        .localCheckpoint(true) // risk-set window + factor rows read it
      val wRisk = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = ev.withColumn("n_risk", sum(col("cnt")).over(wRisk))
      val wS = Window.orderBy(col("dur").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      risk.filter(col("d") > 0 && col("d") < col("n_risk"))
        .withColumn("lnf",
          log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")))
        .withColumn("s_e6",
          round(exp(sum(col("lnf")).over(wS)) * 1000000.0, 0)
            .cast("long"))
        .select("dur", "d", "n_risk", "s_e6")
    },
      """WITH od AS (
        |  SELECT o_custkey, o_orderdate::DATE AS od FROM orders),
        |hz AS (SELECT max(od) AS hz FROM od),
        |dur AS (
        |  SELECT CASE WHEN nxt IS NOT NULL
        |      THEN datediff('day', od, nxt)
        |      ELSE datediff('day', od, hz.hz) END AS dur,
        |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        |  FROM (SELECT o_custkey, od, lead(od) OVER (
        |      PARTITION BY o_custkey ORDER BY od) AS nxt FROM od)
        |  CROSS JOIN hz),
        |ev AS (
        |  SELECT dur, sum(event)::BIGINT AS d, count(*)::BIGINT AS cnt
        |  FROM dur WHERE dur > 0 GROUP BY 1),
        |risk AS (
        |  SELECT dur, d, sum(cnt) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk
        |  FROM ev),
        |f AS (
        |  SELECT dur, d, n_risk,
        |    ln(1.0 - d::DOUBLE / n_risk::DOUBLE) AS lnf
        |  FROM risk WHERE d > 0 AND d < n_risk)
        |SELECT dur, d, n_risk,
        |  round(exp(sum(lnf) OVER (ORDER BY dur ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    * 1000000.0)::BIGINT AS s_e6
        |FROM f""".stripMargin),

    QueryDef("orders_logrank", (s, dir) => {
      // two-sample LOG-RANK test on the reorder-time curves: does the
      // BUILDING segment reorder at a different hazard than everyone
      // else? Completes the survival family (KM curve → Nelson–Aalen
      // cumulative hazard → hypothesis test). Same duration/censoring
      // construction as orders_survival_km (time-to-next-order, last
      // order right-censored at the horizon); at each distinct event
      // time the observed group-1 events d1 are compared with the
      // hypergeometric expectation d·n1/n and variance
      // d·n1·(n−n1)·(n−d)/(n²·(n−1)) (Mantel 1966). O and the risk
      // sets are exact longs; E and V are summed in e9 fixed point
      // with per-term `div` truncation (identical in both engines);
      // χ² = (O−E)²/V lands in e6 through decimal(38,0) products —
      // no float anywhere. Scale shape: one orders scan + one keyed
      // join to the customer dim (AQE broadcasts it), then every
      // window runs on the DISTINCT-duration rollup (calendar-
      // bounded), and the statistic is a one-row total.
      val d38 = "decimal(38,0)"
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_mktsegment") === lit("BUILDING")).cast("long").as("g1"))
      val od = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate").cast("date").as("od"))
      val hz = od.agg(max(col("od")).as("hz"))
      val dur = od
        .withColumn("nxt", lead("od", 1)
          .over(Window.partitionBy("o_custkey").orderBy("od")))
        .crossJoin(broadcast(hz))
        .select(col("o_custkey"),
          when(col("nxt").isNotNull, datediff(col("nxt"), col("od")))
            .otherwise(datediff(col("hz"), col("od")))
            .cast("long").as("dur"),
          when(col("nxt").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("event"))
        .filter(col("dur") > 0)
        .join(cust, col("o_custkey") === cust("c_custkey"))
      val ev = dur.groupBy("dur")
        .agg(sum("event").as("d"), count(lit(1)).as("cnt"),
          sum(col("event") * col("g1")).as("d1"),
          sum("g1").as("cnt1"))
      val wRisk = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev
        .withColumn("n", sum(col("cnt")).over(wRisk))
        .withColumn("n1", sum(col("cnt1")).over(wRisk))
        .filter(col("d") > 0 && col("n") > 1)
        .agg(
          sum(col("d1")).as("o1"),
          sum(expr(s"(cast(d as $d38) * cast(n1 as $d38) * 1000000000)" +
            s" div cast(n as $d38)")).as("e1_e9"),
          sum(expr(s"(cast(d as $d38) * cast(n1 as $d38)" +
            s" * cast(n - n1 as $d38) * cast(n - d as $d38)" +
            s" * 1000000000)" +
            s" div (cast(n as $d38) * cast(n as $d38)" +
            s" * cast(n - 1 as $d38))")).as("v_e9"),
          count(lit(1)).as("n_times"))
        .select(col("o1"), col("e1_e9").cast("long").as("e1_e9"),
          col("v_e9").cast("long").as("v_e9"), col("n_times"),
          expr(s"cast((cast(o1 as $d38) * 1000000000 - cast(e1_e9 as $d38))" +
            s" * (cast(o1 as $d38) * 1000000000 - cast(e1_e9 as $d38))" +
            s" div (cast(v_e9 as $d38) * 1000) as long)").as("chi2_e6"))
    },
      """WITH cust AS (
        |  SELECT c_custkey,
        |    (CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
        |     END)::BIGINT AS g1
        |  FROM customer),
        |od AS (SELECT o_custkey, o_orderdate::DATE AS od FROM orders),
        |hz AS (SELECT max(od) AS hz FROM od),
        |dur AS (
        |  SELECT q.o_custkey,
        |    CASE WHEN nxt IS NOT NULL THEN datediff('day', od, nxt)
        |         ELSE datediff('day', od, hz.hz) END AS dur,
        |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        |  FROM (SELECT o_custkey, od, lead(od) OVER (
        |      PARTITION BY o_custkey ORDER BY od) AS nxt FROM od) q
        |  CROSS JOIN hz),
        |dg AS (
        |  SELECT dur.dur, dur.event, cust.g1
        |  FROM dur JOIN cust ON dur.o_custkey = cust.c_custkey
        |  WHERE dur.dur > 0),
        |ev AS (
        |  SELECT dur, sum(event)::BIGINT AS d, count(*)::BIGINT AS cnt,
        |    sum(event * g1)::BIGINT AS d1, sum(g1)::BIGINT AS cnt1
        |  FROM dg GROUP BY 1),
        |risk AS (
        |  SELECT dur, d, d1,
        |    sum(cnt) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS n,
        |    sum(cnt1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS n1
        |  FROM ev),
        |tot AS (
        |  SELECT sum(d1)::BIGINT AS o1,
        |    sum((d::HUGEINT * n1::HUGEINT * 1000000000)
        |      // n::HUGEINT)::HUGEINT AS e1_e9,
        |    sum((d::HUGEINT * n1::HUGEINT * (n - n1)::HUGEINT
        |        * (n - d)::HUGEINT * 1000000000)
        |      // (n::HUGEINT * n::HUGEINT * (n - 1)::HUGEINT))::HUGEINT
        |      AS v_e9,
        |    count(*)::BIGINT AS n_times
        |  FROM risk WHERE d > 0 AND n > 1)
        |SELECT o1, e1_e9::BIGINT AS e1_e9, v_e9::BIGINT AS v_e9,
        |  n_times,
        |  ((o1::HUGEINT * 1000000000 - e1_e9)
        |    * (o1::HUGEINT * 1000000000 - e1_e9)
        |    // (v_e9 * 1000))::BIGINT AS chi2_e6
        |FROM tot""".stripMargin),

    QueryDef("orders_purchase_gaps", (s, dir) => {
      // inter-purchase cadence: days between consecutive orders per
      // customer (lag window, partitioned by customer — shuffles the
      // fact once on its natural key), rolled up to segment-level
      // cadence stats. The repeat-purchase metric behind churn and
      // replenishment models.
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"))
        .withColumn("prev", lag("o_orderdate", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            col("prev").cast("date")).as("gap_days"))
      gaps.join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_days").cast("long")).as("sum_gap"),
          // median of ints at q=0.5 is (a+b)/2 — exactly representable,
          // so the 4-dp round is a deterministic no-op in both engines
          round(expr("percentile(gap_days, 0.5)"), 4)
            .as("median_gap_days"),
          max(col("gap_days")).as("max_gap_days"))
        .select(col("c_mktsegment"), col("n_gaps"),
          ExactGrid.eRatio(col("sum_gap"), col("n_gaps"), 10000L)
            .as("avg_gap_days"),
          col("median_gap_days"), col("max_gap_days"))
    },
      """WITH g AS (
        |  SELECT o_custkey,
        |    datediff('day',
        |      lag(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate),
        |      o_orderdate)::INT AS gap_days
        |  FROM orders),
        |j AS (
        |  SELECT c.c_mktsegment, g.gap_days
        |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |  WHERE g.gap_days IS NOT NULL)
        |SELECT c_mktsegment, count(*)::BIGINT AS n_gaps,
        |  (CAST((2 * sum(gap_days)::BIGINT * 10000 + count(*))
        |    // (2 * count(*)) AS DOUBLE) / 10000.0) AS avg_gap_days,
        |  round(quantile_cont(gap_days, 0.5), 4) AS median_gap_days,
        |  max(gap_days) AS max_gap_days
        |FROM j GROUP BY 1""".stripMargin),

    QueryDef("events_daily_kpis", (s, dir) => {
      // the composed daily KPI frame a BI layer reads: volume, penny-
      // exact revenue, EXACT distinct actives (bitmap), and first-seen
      // acquisitions, one row per day. Two narrow rollups over one
      // scan lineage + a calendar-bounded left join — composition of
      // independently-verified stages, the analytics twin of
      // training_mix.
      import graft.expressions.Bitmaps
      val ev = t(s, dir, "events")
        .select(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"),
          col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val daily = ev.groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          sum("cents").as("revenue_cents"),
          Bitmaps.bitmap_distinct(col("user_id")).as("dau"))
      val newUsers = ev.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      daily.join(newUsers, Seq("day"), "left")
        .select(col("day"), col("n_events"), col("revenue_cents"),
          col("dau"), coalesce(col("new_users"), lit(0L)).as("new_users"))
    },
      """WITH ev AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT
        |    AS day, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |daily AS (
        |  SELECT day, count(*)::BIGINT AS n_events,
        |    sum(cents)::BIGINT AS revenue_cents,
        |    count(DISTINCT user_id)::BIGINT AS dau
        |  FROM ev GROUP BY 1),
        |nu AS (
        |  SELECT day, count(*)::BIGINT AS new_users FROM (
        |    SELECT user_id, min(day) AS day FROM ev GROUP BY 1)
        |  GROUP BY 1)
        |SELECT d.day, d.n_events, d.revenue_cents, d.dau,
        |  coalesce(nu.new_users, 0)::BIGINT AS new_users
        |FROM daily d LEFT JOIN nu ON nu.day = d.day""".stripMargin),

    QueryDef("events_rolling_dau", (s, dir) => {
      // exact rolling 7-day active users via the bitmap sketch-store:
      // ONE distributed pass reduces each day to a compressed user
      // bitmap; the 7-day window is then an OR-merge over the
      // calendar-bounded daily states — exact WAU without re-scanning
      // raw events per window (the sliding-window twin of the
      // bitmap_rollup pattern). Stickiness = DAU/WAU in exact ppm.
      import graft.expressions.Bitmaps
      val ev = t(s, dir, "events")
        .select(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"), col("user_id"))
      // localCheckpoint: the self-join below references `daily` twice;
      // without materializing, Catalyst duplicates the aggregation
      // subtree and the raw events are scanned + bitmapped TWICE. The
      // daily state frame is calendar-bounded (≤365 rows of compressed
      // bitmaps), so materializing it is the 100 TB-correct trade.
      val daily = ev.groupBy("day")
        .agg(Bitmaps.bitmap_state(col("user_id")).as("bm"),
          Bitmaps.bitmap_distinct(col("user_id")).as("dau"))
        .localCheckpoint(true)
      daily.as("a")
        .join(daily.as("b"),
          col("b.day").between(col("a.day") - 6, col("a.day")))
        .groupBy(col("a.day").as("day"))
        .agg(max(col("a.dau")).as("dau"),
          Bitmaps.bitmap_merge_count(col("b.bm")).as("wau7"))
        .select(col("day"), col("dau"), col("wau7"),
          // nullif: a zero-denominator day yields NULL in BOTH engines
          // (DuckDB's // would otherwise raise where Spark returns NULL)
          expr("cast((cast(dau AS decimal(38,0)) * 1000000)" +
            " div nullif(wau7, 0) AS bigint)").as("stickiness_ppm"))
    },
      """WITH ev AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT
        |    AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau
        |  FROM ev GROUP BY 1),
        |wau AS (
        |  SELECT d.day, count(DISTINCT e.user_id)::BIGINT AS wau7
        |  FROM (SELECT DISTINCT day FROM ev) d
        |  JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau7,
        |  ((dau.dau::HUGEINT * 1000000) // nullif(wau.wau7, 0))::BIGINT
        |    AS stickiness_ppm
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin),

    locally {
      val (k, window) = (256, 7)
      QueryDef("events_rolling_quantiles", (s, dir) => {
        // rolling 7-day revenue-distribution monitor: ONE distributed
        // pass reduces each day to a 256-entry bottom-k quantile sketch
        // (deterministic hash sample, lossless merge); the trailing
        // window is then a state merge over the calendar-bounded daily
        // frame — per-transaction P50/P90 bands without re-scanning raw
        // events per window. The quantile twin of events_rolling_dau's
        // bitmap pattern, and exactly what a drift monitor stores.
        import graft.expressions.Kq
        val ev = t(s, dir, "events")
          .select(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
            col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        // localCheckpoint: the window self-join references daily twice
        // (events_rolling_dau discipline — raw rows sketched ONCE)
        val daily = ev.groupBy("day")
          .agg(Kq.kq_state(col("cents"), k, col("event_id")).as("sk"))
          .localCheckpoint(true)
        daily.as("a")
          .join(daily.as("b"),
            col("b.day").between(col("a.day") - (window - 1), col("a.day")))
          .groupBy(col("a.day").as("day"))
          .agg(Kq.kq_merge(col("b.sk")).as("msk"))
          .select(col("day"),
            Kq.kq_quantile(col("msk"), 0.5).as("p50_cents"),
            Kq.kq_quantile(col("msk"), 0.9).as("p90_cents"))
      }, {
        // Oracle for `events_rolling_quantiles`: per-day bottom-k sketch
        // states merged over a trailing `window`-day frame. Reproduces the
        // engine ([[graft.expressions.KqBuffer]]) EXACTLY: rows hash by
        // event_id (the emulated xxhash64 chain, seed 42), each day keeps
        // the k unsigned-smallest (hash → min value) pairs, the window
        // merge re-applies the same rule over the union of the member
        // days' samples (bottom-k of bottom-k unions is lossless), and the
        // quantile is the value at 1-based rank `ceil(q·m)` of the merged
        // sample's sorted values.
        val ch = new Chain("rq",
          "SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT AS day, " +
            "CAST(round(value * 100) AS DOUBLE) AS v, " +
            "event_id::HUGEINT AS ka FROM events")
        val h = hashLong(ch, "ka", "42", "p")
        s"""WITH ${ch.render},
           |dd AS (SELECT day, $h AS hv, min(v) AS v
           |       FROM ${ch.last} GROUP BY 1, 2),
           |rk AS (SELECT day, hv, v,
           |         row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
           |       FROM dd),
           |smp AS (SELECT day, hv, v FROM rk WHERE rn <= $k),
           |days AS (SELECT DISTINCT day FROM dd),
           |wm AS (SELECT t.day AS day, s.hv, min(s.v) AS v
           |       FROM days t JOIN smp s
           |         ON s.day BETWEEN t.day - ${window - 1} AND t.day
           |       GROUP BY 1, 2),
           |wrk AS (SELECT day, hv, v,
           |          row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
           |        FROM wm),
           |wsmp AS (SELECT day, v FROM wrk WHERE rn <= $k),
           |m AS (SELECT day, count(*) AS m FROM wsmp GROUP BY day),
           |vr AS (SELECT s.day, s.v,
           |         row_number() OVER (PARTITION BY s.day ORDER BY s.v) AS r
           |       FROM wsmp s)
           |SELECT vr.day,
           |  max(CASE WHEN vr.r = greatest(1, least(m.m,
           |    CAST(ceil(0.5 * m.m) AS BIGINT))) THEN vr.v END) AS p50_cents,
           |  max(CASE WHEN vr.r = greatest(1, least(m.m,
           |    CAST(ceil(0.9 * m.m) AS BIGINT))) THEN vr.v END) AS p90_cents
           |FROM vr JOIN m ON m.day = vr.day
           |GROUP BY 1""".stripMargin
      })
    },

    QueryDef("events_new_users", (s, dir) => {
      // acquisition curve: users attributed to their first-seen day,
      // plus the cumulative registered base — one narrow (user → min
      // day) rollup, a per-day count, and a running sum over the
      // calendar-bounded daily frame
      val ev = t(s, dir, "events")
        .select(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"), col("user_id"))
      val firstSeen = ev.groupBy("user_id").agg(min("day").as("day"))
      val perDay = firstSeen.groupBy("day")
        .agg(count(lit(1)).as("new_users"))
      perDay.withColumn("cum_users",
        sum("new_users").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      """WITH ev AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT
        |    AS day, user_id FROM events),
        |fs AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
        |pd AS (SELECT day, count(*)::BIGINT AS new_users
        |  FROM fs GROUP BY 1)
        |SELECT day, new_users,
        |  sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_users
        |FROM pd""".stripMargin),

    QueryDef("events_forecast_backtest", (s, dir) => {
      // seasonal-naive forecast backtest: predict day d's revenue with
      // day d-7's, score absolute percentage error in exact ppm — the
      // baseline every fancier forecaster must beat, and the shape of
      // a rolling model-quality monitor. Corpus work is one daily
      // rollup; the lag join and APE math run on the calendar frame.
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      daily.as("a")
        .join(daily.as("f"), col("a.day") === col("f.day") + 7)
        .select(col("a.day").as("day"), col("a.cents").as("actual_cents"),
          col("f.cents").as("forecast_cents"),
          // nullif: a zero-revenue day yields NULL APE in BOTH engines
          // (DuckDB's // would otherwise raise where Spark returns NULL)
          expr("cast((abs(cast(a.cents AS decimal(38,0)) - f.cents)" +
            " * 1000000) div nullif(a.cents, 0) AS bigint)").as("ape_ppm"))
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::INT
        |    AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1)
        |SELECT a.day, a.cents AS actual_cents,
        |  f.cents AS forecast_cents,
        |  ((abs(a.cents::HUGEINT - f.cents) * 1000000)
        |    // nullif(a.cents, 0))::BIGINT AS ape_ppm
        |FROM daily a JOIN daily f ON a.day = f.day + 7""".stripMargin),

    QueryDef("events_autocorr", (s, dir) => {
      // ACF of daily revenue at lags 1..7 — the periodicity detector
      // behind seasonality-aware monitors. The corpus-sized work is one
      // (day → cents) rollup; the 7 lag self-joins touch only the
      // calendar-bounded daily frame, and Pearson per lag runs on exact
      // DECIMAL sufficient statistics (bit-reproducible, see Analytics).
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      Analytics.autocorrelation(daily, "day", col("cents"), maxLag = 7)
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::HUGEINT AS cents
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT l.lag, a.cents AS x, b.cents AS y
        |  FROM (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON a.day = b.day + l.lag),
        |st AS (
        |  SELECT lag, count(*)::HUGEINT AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |    sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM lagged GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  round((n*sxy - sx*sy)::DOUBLE /
        |    sqrt(greatest((n*sxx - sx*sx)::DOUBLE, 1.0)
        |      * greatest((n*syy - sy*sy)::DOUBLE, 1.0)), 6)
        |    AS r
        |FROM st""".stripMargin),

    QueryDef("events_ljung_box", (s, dir) => {
      // Ljung–Box portmanteau test (Ljung & Box, Biometrika 1978) —
      // the INFERENTIAL member on top of events_autocorr's ACF: "is
      // there ANY autocorrelation in daily revenue up to lag 7?" as
      // one χ²(7) verdict, Q = N(N+2)·Σ_k ρ_k²/(N−k). Each ρ_k lands
      // in an integer ppm ONCE (the per-lag Pearson's one rounded
      // IEEE step — the events_autocorr discipline); from there Q is
      // pure integer arithmetic (ρ_ppm² div (N−k), then one N(N+2)
      // product, e12 → e6), so the 7-term summation is
      // order-independent — no float-sum flake surface. Reject at the
      // χ²(7) 0.95 quantile 14.067140. Scale: one daily rollup; the
      // 7 lag self-joins touch only the calendar-bounded daily frame.
      val d = "decimal(38,0)"
      val H = 7
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .localCheckpoint(true) // the N stat + 7 lag joins read it
      val base = daily.select(col("day").cast("long").as("p"),
        col("cents").cast(d).as("v"))
      val lagged = (1 to H).map { l =>
        base.as("a").join(base.as("b"), col("a.p") === col("b.p") + l)
          .select(lit(l.toLong).as("lag"), col("a.v").as("x"),
            col("b.v").as("y"))
      }.reduce(_ unionAll _)
      val st = lagged.groupBy("lag")
        .agg(count(lit(1)).cast(d).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      // degenerate guards (the KW/ANOVA convention, ADVICE r11):
      // constant daily revenue has EXACTLY zero integer variance —
      // the greatest(·,1) clamp under the sqrt makes rho a defined 0
      // (numerator is exactly 0 there) instead of NaN/Inf diverging
      // across engines; the term divisor clamps so ≤7 distinct days
      // can't raise DIVIDE_BY_ZERO, and the `ok` gate (nn > maxlag,
      // the statistic's validity condition) pins Q=0/reject=0
      // identically in both engines when it trips.
      val rho = st.select(col("lag"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") * 1000000.0 /
          sqrt(greatest((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"), lit(1.0)) *
            greatest((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"), lit(1.0))))
          .cast("long").as("rho_ppm"))
      val nstat = daily.agg(count(lit(1)).as("nn"))
      rho.crossJoin(broadcast(nstat))
        .select(col("nn"),
          expr("rho_ppm * rho_ppm div greatest(nn - lag, 1L)")
            .as("term_e12"))
        .groupBy("nn")
        .agg(sum("term_e12").as("tsum"))
        .withColumn("ok", col("nn") > H)
        .select(col("nn").as("n_days"),
          when(col("ok"), expr("nn * (nn + 2) * tsum div 1000000"))
            .otherwise(0L).as("q_e6"))
        .withColumn("reject_05",
          when(col("q_e6") >= 14067141L, 1L).otherwise(0L))
    },
      """WITH daily AS MATERIALIZED (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::HUGEINT AS cents
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT l.lag, a.cents AS x, b.cents AS y
        |  FROM (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON a.day = b.day + l.lag),
        |st AS (
        |  SELECT lag, count(*)::HUGEINT AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |    sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM lagged GROUP BY lag),
        |rho AS (
        |  SELECT lag,
        |    CAST(round((n*sxy - sx*sy)::DOUBLE * 1000000.0 /
        |      sqrt(greatest((n*sxx - sx*sx)::DOUBLE, 1.0)
        |        * greatest((n*syy - sy*sy)::DOUBLE, 1.0)))
        |      AS BIGINT) AS rho_ppm
        |  FROM st),
        |ns AS (SELECT count(*)::BIGINT AS nn FROM daily),
        |q AS (
        |  SELECT ns.nn,
        |    sum((rho_ppm * rho_ppm) // greatest(ns.nn - lag, 1))::BIGINT
        |      AS tsum
        |  FROM rho CROSS JOIN ns GROUP BY 1)
        |SELECT nn AS n_days,
        |  CASE WHEN nn > 7
        |    THEN (nn * (nn + 2) * tsum // 1000000)
        |    ELSE 0 END::BIGINT AS q_e6,
        |  CASE WHEN nn > 7
        |    AND (nn * (nn + 2) * tsum // 1000000) >= 14067141
        |    THEN 1 ELSE 0 END::BIGINT AS reject_05
        |FROM q""".stripMargin),

    QueryDef("events_seasonality", (s, dir) => {
      // day-of-week seasonal index: dow mean revenue relative to the
      // overall mean, as the cross-multiplied integer ratio
      // (s_dow·N)/(S·n_dow) — one narrow rollup plus a broadcast of the
      // single global-totals row; no window, no second scan of raw data
      val ev = t(s, dir, "events")
        .select(dayofweek(col("ts").cast("date")).as("dow"),
          round(col("value") * 100).cast("long").as("cents"))
      val byDow = ev.groupBy("dow")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      val tot = ev.agg(count(lit(1)).as("tn"), sum("cents").as("ts_"))
      // exact 6-dp grid landing (r13 determinism ledger): integer
      // half-up (2a·1e6 + b) div 2b over the exact cross-multiplied
      // ints, then ONE build-invariant int->double conversion — no
      // round(DOUBLE, 6) tail (the agg_grouping_sets hazard class)
      byDow.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_events"), col("sum_cents"),
          (expr("cast((2 * cast(sum_cents as decimal(38,0)) * tn" +
            " * 1000000 + cast(ts_ as decimal(38,0)) * n_events)" +
            " div (2 * cast(ts_ as decimal(38,0)) * n_events)" +
            " as double)") / 1000000.0).as("rev_index"))
    },
      """WITH ev AS (
        |  SELECT (dayofweek(ts::DATE) + 1)::INT AS dow,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |byd AS (SELECT dow, count(*)::BIGINT AS n_events,
        |    sum(cents)::BIGINT AS sum_cents FROM ev GROUP BY dow),
        |tot AS (SELECT count(*)::HUGEINT AS tn, sum(cents)::HUGEINT AS ts_
        |  FROM ev)
        |SELECT dow, n_events, sum_cents,
        |  ((2 * sum_cents::HUGEINT * tn * 1000000
        |      + ts_ * n_events::HUGEINT)
        |    // (2 * ts_ * n_events::HUGEINT))::DOUBLE
        |    / 1000000.0 AS rev_index
        |FROM byd CROSS JOIN tot""".stripMargin),

    QueryDef("events_streaks", (s, dir) => {
      // gaps-and-islands: longest run of consecutive days with RISING
      // daily revenue per event type — the monotone-momentum statistic
      // windows express without self-joins. rising = cents > lag;
      // island id = running count of non-rising days; streak length =
      // rising-day count per island. Two day-ordered windows + one
      // bounded agg per type, all integers.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val wo = Window.partitionBy("event_type").orderBy("day")
      val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val marked = daily
        .withColumn("rising",
          when(col("cents") > lag("cents", 1).over(wo), 1L).otherwise(0L))
        .withColumn("island", sum(lit(1L) - col("rising")).over(wc))
      marked.groupBy("event_type", "island")
        .agg(sum("rising").as("run_len"))
        .groupBy("event_type")
        .agg(max("run_len").as("longest_rising_streak"),
          sum("run_len").as("total_rising_days"),
          // every island is anchored by exactly one non-rising day
          (count(lit(1)) + sum("run_len")).as("n_days"))
    },
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, day,
        |    CASE WHEN cents > lag(cents) OVER w THEN 1 ELSE 0 END
        |      ::BIGINT AS rising
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |isl AS (
        |  SELECT event_type, rising,
        |    sum(1 - rising) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |runs AS (
        |  SELECT event_type, island, sum(rising)::BIGINT AS run_len
        |  FROM isl GROUP BY 1, 2)
        |SELECT event_type,
        |  max(run_len) AS longest_rising_streak,
        |  sum(run_len)::BIGINT AS total_rising_days,
        |  (count(*) + sum(run_len))::BIGINT AS n_days
        |FROM runs GROUP BY 1""".stripMargin),

    QueryDef("events_mad_anomaly", (s, dir) => {
      // robust twin of events_anomaly: hourly counts flagged via
      // median + MAD instead of mean + sigma, so a heavy-tailed hour
      // can't inflate its own threshold. Counts are integers; the
      // type-7 median of integers is exact at .5 resolution and the
      // MAD of those residuals at .25, so every double here is an
      // exact dyadic and the flag boundary is engine-reproducible.
      // Scale shape: the corpus-sized pass is the hourly rollup; the
      // medians run on the bounded (type × hours) count frame.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val med = hourly.groupBy("event_type")
        .agg(expr("percentile(cnt, 0.5)").as("med"))
      val mad = hourly.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), col("med"))
        .agg(expr("percentile(abs(cnt - med), 0.5)").as("mad"))
      hourly.join(broadcast(mad), Seq("event_type"))
        .filter(col("cnt") > col("med") + lit(3) * col("mad"))
        .select(col("event_type"), col("hour"), col("cnt"),
          col("med"), col("mad"))
    },
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS BIGINT)
        |      AS hour,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, median(cnt) AS med FROM hourly GROUP BY 1),
        |mad AS (
        |  SELECT h.event_type, m.med,
        |    median(abs(h.cnt - m.med)) AS mad
        |  FROM hourly h JOIN med m USING (event_type) GROUP BY 1, 2)
        |SELECT h.event_type, h.hour, h.cnt, m.med, m.mad
        |FROM hourly h JOIN mad m USING (event_type)
        |WHERE h.cnt > m.med + 3 * m.mad""".stripMargin),

    QueryDef("customer_rfm", (s, dir) => {
      // RFM segmentation — recency / frequency / monetary with FIXED
      // integer cut points (data-dependent tercile cuts would be a
      // moving target across batches; fixed cuts are the reproducible
      // production choice). One customer-grouped agg; penny-exact
      // monetary; segment code is pure integer comparison.
      val ref = lit("2001-09-01").cast("date")
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("monetary_cents"))
        .select(col("o_custkey"),
          datediff(ref, col("last_order")).as("recency_days"),
          col("frequency"), col("monetary_cents"))
        .withColumn("segment", concat(
          when(col("recency_days") <= 180, "R1")
            .when(col("recency_days") <= 720, "R2").otherwise("R3"),
          when(col("frequency") >= 20, "F1")
            .when(col("frequency") >= 10, "F2").otherwise("F3"),
          when(col("monetary_cents") >= 280000000L, "M1")
            .when(col("monetary_cents") >= 200000000L, "M2")
            .otherwise("M3")))
    },
      """WITH a AS (
        |  SELECT o_custkey, max(o_orderdate::DATE) AS last_order,
        |    count(*) AS frequency,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', last_order, DATE '2001-09-01') AS INT)
        |      AS recency_days,
        |    frequency, monetary_cents
        |  FROM a)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |  (CASE WHEN recency_days <= 180 THEN 'R1'
        |        WHEN recency_days <= 720 THEN 'R2' ELSE 'R3' END ||
        |   CASE WHEN frequency >= 20 THEN 'F1'
        |        WHEN frequency >= 10 THEN 'F2' ELSE 'F3' END ||
        |   CASE WHEN monetary_cents >= 280000000 THEN 'M1'
        |        WHEN monetary_cents >= 200000000 THEN 'M2'
        |        ELSE 'M3' END) AS segment
        |FROM r""".stripMargin),

    QueryDef("basket_lift", (s, dir) => {
      // market-basket association: part pairs co-purchased in one
      // order, ranked by support with integer-exact lift
      // (co·N·10⁶ div (c1·c2), decimal intermediates). The self-join
      // fans out only WITHIN an order (bounded items/order) — never
      // across the fact table.
      val d = "decimal(38,0)"
      // r14: pairs/counts derive map-side from the shared basket
      // frame (see orderBaskets) — the distinct + self-join shape is
      // gone; co/pc/n values are identical by construction.
      val bk = orderBaskets(s, dir)
      val n = bk.agg(count(lit(1)).as("n_orders"))
      val pc = bk.select(explode(col("items")).as("l_partkey"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("pc"))
      val pairs = basketPairs(bk)
        .groupBy(col("pa").as("part_a"), col("pb").as("part_b"))
        .agg(count(lit(1)).as("co"))
      // pc scales with the part dimension → no broadcast hint (see
      // recs_item_cosine); n is a genuine 1-row frame → hint kept.
      pairs
        .join(pc.withColumnRenamed("l_partkey", "part_a")
          .withColumnRenamed("pc", "ca"), Seq("part_a"))
        .join(pc.withColumnRenamed("l_partkey", "part_b")
          .withColumnRenamed("pc", "cb"), Seq("part_b"))
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("co"),
          expr(s"(cast(co AS $d) * n_orders * 1000000)" +
            s" div (cast(ca AS $d) * cb)").as("lift_ppm"))
        .orderBy(col("co").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
    },
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (
        |  SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM li),
        |pc AS (SELECT l_partkey, count(*) AS pc FROM li GROUP BY 1),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS co
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT pr.part_a, pr.part_b, pr.co,
        |  ((pr.co::HUGEINT * n.n_orders * 1000000)
        |    // (ca.pc::HUGEINT * cb.pc))::BIGINT AS lift_ppm
        |FROM pr
        |JOIN pc ca ON ca.l_partkey = pr.part_a
        |JOIN pc cb ON cb.l_partkey = pr.part_b
        |CROSS JOIN n
        |ORDER BY pr.co DESC, pr.part_a ASC, pr.part_b ASC
        |LIMIT 20""".stripMargin),

    QueryDef("basket_rules", (s, dir) => {
      // DIRECTIONAL association rules (Agrawal & Srikant's actual
      // output contract, which the symmetric lift frame can't give):
      // a → b with support, exact-ppm CONFIDENCE = co/count(a), and
      // lift, min-support gated, top-20 by (confidence, support).
      // Each co-purchased pair yields both directions; all ratios are
      // integral `div`s on decimal(38,0) products. The same
      // within-order fan-out as basket_lift — candidate mass bounded
      // by basket size, never the fact-table square.
      val d = "decimal(38,0)"
      val minSup = 3L
      // r14: same basket-array derivation as basket_lift
      val bk = orderBaskets(s, dir)
      val n = bk.agg(count(lit(1)).as("n_orders"))
      val pc = bk.select(explode(col("items")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("pc"))
      val co = basketPairs(bk)
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= minSup)
      val rules = co.select(col("pa").as("antecedent"),
          col("pb").as("consequent"), col("co"))
        .unionByName(co.select(col("pb").as("antecedent"),
          col("pa").as("consequent"), col("co")))
      rules
        .join(pc.withColumnRenamed("l_partkey", "antecedent")
          .withColumnRenamed("pc", "ca"), Seq("antecedent"))
        .join(pc.withColumnRenamed("l_partkey", "consequent")
          .withColumnRenamed("pc", "cc"), Seq("consequent"))
        .crossJoin(broadcast(n))
        .select(col("antecedent"), col("consequent"), col("co"),
          expr("(co * 1000000) div ca").as("confidence_ppm"),
          expr(s"(cast(co AS $d) * n_orders * 1000000)" +
            s" div (cast(ca AS $d) * cc)").as("lift_ppm"))
        .orderBy(col("confidence_ppm").desc, col("co").desc,
          col("antecedent").asc, col("consequent").asc)
        .limit(20)
    },
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders
        |  FROM li),
        |pc AS MATERIALIZED (
        |  SELECT l_partkey, count(*)::BIGINT AS pc FROM li GROUP BY 1),
        |co AS MATERIALIZED (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    count(*)::BIGINT AS co
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |rules AS (
        |  SELECT pa AS antecedent, pb AS consequent, co FROM co
        |  UNION ALL
        |  SELECT pb AS antecedent, pa AS consequent, co FROM co)
        |SELECT r.antecedent, r.consequent, r.co,
        |  ((r.co * 1000000) // ca.pc)::BIGINT AS confidence_ppm,
        |  ((r.co::HUGEINT * n.n_orders * 1000000)
        |    // (ca.pc::HUGEINT * cc.pc))::BIGINT AS lift_ppm
        |FROM rules r
        |JOIN pc ca ON ca.l_partkey = r.antecedent
        |JOIN pc cc ON cc.l_partkey = r.consequent
        |CROSS JOIN n
        |ORDER BY confidence_ppm DESC, r.co DESC, r.antecedent ASC,
        |  r.consequent ASC
        |LIMIT 20""".stripMargin),

    QueryDef("basket_frequent_triples", (s, dir) => {
      // A-priori frequent 3-itemsets (Agrawal & Srikant, VLDB'94):
      // every leg of a candidate triple is pruned against the frequent
      // PAIR set before the triple is ever counted — the downward-
      // closure property that keeps candidate generation polynomial at
      // 100 TB. Fan-out stays WITHIN an order (bounded basket size);
      // the frequent-pair frame is the only cross-order state.
      val minSup = 2L
      // r14: the (order, item) frame derives from the shared basket
      // arrays (already per-order distinct — no distinct exchange)
      val bk = orderBaskets(s, dir)
      val li = bk.select(col("l_orderkey"),
        explode(col("items")).as("l_partkey"))
      // level 1: frequent items (vacuous at tiny SF, the real first
      // prune at scale)
      val fi = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .filter(col("c") >= minSup).select("l_partkey")
      val lif = li.join(fi, Seq("l_partkey"), "left_semi")
      // level 2: frequent pairs
      val p2 = lif.as("a")
        .join(lif.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("sup"))
      // three consumers (the ab prune + two triple-leg prunes):
      // materialize the small frequent-pair set once — the corpus-sized
      // lif frame deliberately is NOT checkpointed (re-scanning beats
      // materializing it at 100 TB)
      val fp = p2.filter(col("sup") >= minSup).select("pa", "pb")
        .localCheckpoint(false) // lazy: action fusion (r15)
      // level 3: per-order triples with all three sub-pairs frequent
      val tri = lif.as("a")
        .join(lif.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .join(fp, col("a.l_partkey") === col("pa") &&
          col("b.l_partkey") === col("pb"), "left_semi")
        .select(col("a.l_orderkey").as("ok"),
          col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
        .as("ab")
        .join(lif.as("c"), col("ab.ok") === col("c.l_orderkey") &&
          col("ab.y") < col("c.l_partkey"))
        .join(fp, col("ab.x") === col("pa") &&
          col("c.l_partkey") === col("pb"), "left_semi")
        .join(fp, col("ab.y") === col("pa") &&
          col("c.l_partkey") === col("pb"), "left_semi")
        .groupBy(col("ab.x").as("part_a"), col("ab.y").as("part_b"),
          col("c.l_partkey").as("part_c"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSup)
      tri
    },
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |fi AS (SELECT l_partkey FROM li GROUP BY 1 HAVING count(*) >= 2),
        |lif AS MATERIALIZED (
        |  SELECT * FROM li WHERE l_partkey IN (SELECT l_partkey FROM fi)),
        |fp AS MATERIALIZED (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lif a JOIN lif b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  c.l_partkey AS part_c, count(*)::BIGINT AS support
        |FROM lif a
        |JOIN lif b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |JOIN lif c ON a.l_orderkey = c.l_orderkey
        |  AND b.l_partkey < c.l_partkey
        |WHERE EXISTS (SELECT 1 FROM fp
        |    WHERE fp.pa = a.l_partkey AND fp.pb = b.l_partkey)
        |  AND EXISTS (SELECT 1 FROM fp
        |    WHERE fp.pa = a.l_partkey AND fp.pb = c.l_partkey)
        |  AND EXISTS (SELECT 1 FROM fp
        |    WHERE fp.pa = b.l_partkey AND fp.pb = c.l_partkey)
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin),

    locally {
      val (lnA, lnB, up) = (182322L, -68993L, 2944439L)
      QueryDef("events_sprt", (s, dir) => {
        // Wald's Sequential Probability Ratio Test (Wald 1945) — the
        // SEQUENTIAL member the experimentation kit lacked: the A/B/
        // power/CUPED queries are fixed-horizon, but a live experiment
        // wants to STOP as soon as the evidence crosses a boundary,
        // with error rates guaranteed by construction. H0: purchase
        // share p = 0.25 vs H1: p = 0.30 on the treatment arm's event
        // stream (arm = pmod(xxhash64(user_id), 2), the events_ab_test
        // assignment), monitored daily. ZERO floats in either engine:
        // the per-trial log-likelihood increments are precomputed
        // integer constants (ln(p1/p0)·1e6 = 182322, ln(q1/q0)·1e6 =
        // −68993 — literals, not libm calls), so LLR_e6 = c·182322 +
        // (n−c)·(−68993) is exact integer arithmetic, compared against
        // the Wald boundary ±ln(0.95/0.05)·1e6 = ±2944439 (α = β =
        // 0.05). verdict: +1 accept H1, −1 accept H0, 0 continue;
        // `stopped` = has any boundary been crossed by this day (the
        // test's actual stopping rule — a cumulative max over the
        // day-domain window). Scale: one map-side-combined daily
        // rollup; the cumulative windows run over the calendar-bounded
        // daily frame, never raw events.
        val ev = t(s, dir, "events")
          .filter(pmod(xxhash64(col("user_id")), lit(2)) === 1)
          .select(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).cast("long").as("day"),
            (col("event_type") === "purchase").cast("long").as("x"))
        val daily = ev.groupBy("day")
          .agg(count(lit(1)).as("n"), sum("x").as("c"))
        val wCum = Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("n_cum", sum("n").over(wCum))
          .withColumn("conv_cum", sum("c").over(wCum))
          .withColumn("llr_e6",
            col("conv_cum") * lnA + (col("n_cum") - col("conv_cum"))
              * lnB)
          .withColumn("verdict",
            when(col("llr_e6") >= up, 1L)
              .when(col("llr_e6") <= -up, -1L).otherwise(0L))
          .withColumn("stopped", max(abs(col("verdict"))).over(wCum))
          .select("day", "n_cum", "conv_cum", "llr_e6", "verdict",
            "stopped")
      },
        // Oracle for `events_sprt`: Wald's SPRT replayed — the same
        // xxhash64 arm assignment, daily purchase rollup, cumulative
        // counts, and the PRECOMPUTED integer log-likelihood constants
        // (182322 / −68993 e6 per trial, boundary ±2944439) — pure
        // integer arithmetic end to end, no libm in either engine.
        s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
             "user_id")},
           |arm1 AS MATERIALIZED (
           |  SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
           |daily AS MATERIALIZED (
           |  SELECT datediff('day', DATE '2024-01-01', e.ts::DATE)
           |      ::BIGINT AS day,
           |    count(*)::BIGINT AS n,
           |    sum((e.event_type = 'purchase')::BIGINT)::BIGINT AS c
           |  FROM events e JOIN arm1 a USING (user_id)
           |  WHERE a.arm = 1 GROUP BY 1),
           |cum AS (
           |  SELECT day,
           |    sum(n) OVER w::BIGINT AS n_cum,
           |    sum(c) OVER w::BIGINT AS conv_cum
           |  FROM daily
           |  WINDOW w AS (ORDER BY day ASC ROWS BETWEEN UNBOUNDED
           |    PRECEDING AND CURRENT ROW)),
           |llr AS (
           |  SELECT day, n_cum, conv_cum,
           |    (conv_cum * $lnA + (n_cum - conv_cum) * ($lnB))::BIGINT
           |      AS llr_e6
           |  FROM cum),
           |v AS (
           |  SELECT day, n_cum, conv_cum, llr_e6,
           |    (CASE WHEN llr_e6 >= $up THEN 1
           |      WHEN llr_e6 <= -$up THEN -1 ELSE 0 END)::BIGINT
           |      AS verdict
           |  FROM llr)
           |SELECT day, n_cum, conv_cum, llr_e6, verdict,
           |  max(abs(verdict)) OVER (ORDER BY day ASC ROWS BETWEEN
           |    UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS stopped
           |FROM v""".stripMargin)
    },

    QueryDef("events_ab_test", (s, dir) => {
      // deterministic A/B harness: users assigned to arms by
      // pmod(xxhash64(user_id), 2) — sticky across runs and restarts,
      // no assignment table to store — then per-arm conversion and
      // revenue in exact integers (heavy-user rate — >= 14 purchases,
      // the near-mean cut, since EVERY fixture user purchases — as a
      // ppm integer div). The
      // corpus-sized work is one user-grouped agg; arms are bounded.
      val ev = t(s, dir, "events")
      val arm = ev.select("user_id").distinct()
        .withColumn("arm", pmod(xxhash64(col("user_id")), lit(2)))
      ev.join(arm, Seq("user_id"))
        .groupBy("user_id", "arm")
        .agg(count(when(col("event_type") === "purchase", 1)).as("np"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("rev"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("np") >= 14, 1L).otherwise(0L)).as("n_heavy"),
          sum("np").as("n_purchases"),
          sum("rev").as("revenue_cents"))
        .withColumn("heavy_ppm",
          expr("(n_heavy * 1000000) div n_users"))
    },
      // Oracle for `events_ab_test`: deterministic experiment assignment
      // — `arm = pmod(xxhash64(user_id), 2)` over DISTINCT users (the
      // exact hashLong emulation, so assignment is user-sticky and
      // engine-reproducible) — then per-arm funnel metrics in exact
      // integers.
      s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
           "user_id")},
         |arm AS (
         |  SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
         |m AS (
         |  SELECT e.user_id, a.arm,
         |    count(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS np,
         |    sum(CASE WHEN e.event_type = 'purchase'
         |        THEN CAST(round(e.value * 100) AS BIGINT)
         |        ELSE 0 END) AS rev
         |  FROM events e JOIN arm a USING (user_id) GROUP BY 1, 2)
         |SELECT arm, count(*) AS n_users,
         |  sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END)::BIGINT AS n_heavy,
         |  sum(np)::BIGINT AS n_purchases,
         |  sum(rev)::BIGINT AS revenue_cents,
         |  ((sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END)::BIGINT * 1000000)
         |    // count(*))::BIGINT AS heavy_ppm
         |FROM m GROUP BY 1""".stripMargin),

    QueryDef("events_bandit_replay", (s, dir) => {
      // offline BANDIT POLICY REPLAY: an epsilon-greedy agent choosing
      // one event-type "arm" per day from logged history — explore on
      // hash-gated days (pmod(xxhash64(day), 4) = 0, replayable like
      // the A/B arm assignment), exploit the argmax of the cumulative
      // PRIOR-day mean reward otherwise, with optimistic
      // initialization for never-pulled arms. Every statistic is an
      // exact integer: cumulative sums are longs, means are e6
      // integral `div`s, the argmax compares (mean_e6 desc, type asc)
      // — no float and no RNG, so the whole trajectory (choices,
      // per-day regret vs the day's best arm, cumulative regret) is
      // replayable bit-for-bit. The offline counterfactual-evaluation
      // shape experimentation stacks run before shipping a policy.
      // Scale: one corpus rollup to the (day × arm) grid; all windows
      // and argmaxes run on that calendar-bounded frame.
      val ev = t(s, dir, "events").select(
        datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"),
        col("event_type").as("typ"),
        round(col("value") * 100).cast("long").as("cents"))
      val daily = ev.groupBy("day", "typ")
        .agg(count(lit(1)).as("n"), sum("cents").as("cc"))
        .localCheckpoint(true) // grid axes + fill all read it
      val grid = daily.select("day").distinct()
        .crossJoin(broadcast(daily.select("typ").distinct()))
        .join(daily, Seq("day", "typ"), "left")
        .select(col("day"), col("typ"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("cc"), lit(0L)).as("cc"))
      val wCum = Window.partitionBy("typ").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val st = grid
        .withColumn("cn", coalesce(sum("n").over(wCum), lit(0L)))
        .withColumn("ccents", coalesce(sum("cc").over(wCum), lit(0L)))
        // cumulative cents × 1e6 is a money-sum product — unbounded
        // at corpus scale, so it clears into DECIMAL(38,0)
        // (overflow-sweep r12); longs capped the replay at ~9e12
        // cumulative cents per arm
        .withColumn("mean_e6", when(col("cn") > 0,
          expr("cast(cast(ccents as decimal(38,0)) * 1000000 div cn" +
            " as bigint)"))
          .otherwise(lit(1000000000000000L))) // optimistic init
        .withColumn("dm_e6", when(col("n") > 0,
          expr("cast(cast(cc as decimal(38,0)) * 1000000 div n" +
            " as bigint)")).otherwise(lit(0L)))
      val wDay = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      st.groupBy("day").agg(
          min(struct((-col("mean_e6")).as("nm"), col("typ").as("t")))
            .as("ex"),
          max(col("dm_e6")).as("best_e6"),
          map_from_entries(collect_list(
            struct(col("typ"), col("dm_e6")))).as("dm"),
          sort_array(collect_list(col("typ"))).as("arms"))
        .withColumn("explored",
          pmod(xxhash64(col("day")), lit(4L)) === 0)
        .withColumn("chosen_type", when(col("explored"),
          element_at(col("arms"),
            (pmod(xxhash64(col("day") + lit(777L)),
              size(col("arms")).cast("long")) + 1).cast("int")))
          .otherwise(col("ex.t")))
        .withColumn("reward_e6",
          coalesce(element_at(col("dm"), col("chosen_type")), lit(0L)))
        .withColumn("regret_e6", col("best_e6") - col("reward_e6"))
        .withColumn("cum_regret_e6", sum("regret_e6").over(wDay))
        .select("day", "chosen_type", "explored", "reward_e6",
          "best_e6", "regret_e6", "cum_regret_e6")
    }, {
      // Oracle for `events_bandit_replay`: the epsilon-greedy replay
      // rebuilt end-to-end — xxhash64(day) and xxhash64(day + 777)
      // through the exact XXH64 chain emulation on the distinct-day
      // frame, the complete (day × arm) grid with zero fill, cumulative
      // PRIOR-day stats via 1-PRECEDING windows, e6 integral-div means
      // with the same optimistic-init constant, argmax by
      // (mean_e6 DESC, typ ASC), and the regret rollup.
      val ch = new Chain("bd",
        """SELECT day, day::HUGEINT AS d1u, (day + 777)::HUGEINT AS d2u
          |  FROM (SELECT DISTINCT
          |      datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
          |        AS day
          |    FROM events) q""".stripMargin)
      val h1 = hashLong(ch, "d1u", "42::HUGEINT", "ga")
      val h2 = hashLong(ch, "d2u", "42::HUGEINT", "gb")
      ch.add("h1v", sig(h1))
      ch.add("h2v", sig(h2))
      s"""WITH ${ch.render},
         |hday AS (SELECT day, h1v, h2v FROM ${ch.last}),
         |evd AS (
         |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
         |      AS day,
         |    event_type AS typ,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |daily AS MATERIALIZED (
         |  SELECT day, typ, count(*)::BIGINT AS n,
         |    sum(cents)::BIGINT AS cc
         |  FROM evd GROUP BY 1, 2),
         |grid AS (
         |  SELECT d.day, t.typ, COALESCE(x.n, 0)::BIGINT AS n,
         |    COALESCE(x.cc, 0)::BIGINT AS cc
         |  FROM (SELECT DISTINCT day FROM daily) d
         |  CROSS JOIN (SELECT DISTINCT typ FROM daily) t
         |  LEFT JOIN daily x ON x.day = d.day AND x.typ = t.typ),
         |st AS MATERIALIZED (
         |  SELECT day, typ, n, cc,
         |    COALESCE(sum(n) OVER (PARTITION BY typ ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0)::BIGINT AS cn,
         |    COALESCE(sum(cc) OVER (PARTITION BY typ ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0)::BIGINT AS ccents
         |  FROM grid),
         |st2 AS MATERIALIZED (
         |  SELECT day, typ, n, cc,
         |    (CASE WHEN cn > 0 THEN (ccents::HUGEINT * 1000000) // cn
         |      ELSE 1000000000000000 END)::BIGINT AS mean_e6,
         |    (CASE WHEN n > 0 THEN (cc::HUGEINT * 1000000) // n
         |      ELSE 0 END)::BIGINT AS dm_e6
         |  FROM st),
         |exploit AS (
         |  SELECT day, typ AS ex_t FROM (
         |    SELECT day, typ, row_number() OVER (PARTITION BY day
         |      ORDER BY mean_e6 DESC, typ ASC) AS rn
         |    FROM st2) r WHERE rn = 1),
         |best AS (
         |  SELECT day, max(dm_e6)::BIGINT AS best_e6 FROM st2 GROUP BY 1),
         |arms AS (
         |  SELECT day, list_sort(list(typ)) AS arms FROM st2 GROUP BY 1),
         |chosen AS (
         |  SELECT h.day,
         |    ((h.h1v % 4) + 4) % 4 = 0 AS explored,
         |    CASE WHEN ((h.h1v % 4) + 4) % 4 = 0
         |      THEN a.arms[(((h.h2v % len(a.arms)) + len(a.arms))
         |        % len(a.arms) + 1)::INT]
         |      ELSE e.ex_t END AS chosen_type
         |  FROM hday h JOIN exploit e ON e.day = h.day
         |  JOIN arms a ON a.day = h.day),
         |rew AS (
         |  SELECT c.day, c.chosen_type, c.explored,
         |    COALESCE(s.dm_e6, 0)::BIGINT AS reward_e6, b.best_e6
         |  FROM chosen c JOIN best b ON b.day = c.day
         |  LEFT JOIN st2 s ON s.day = c.day AND s.typ = c.chosen_type)
         |SELECT day, chosen_type, explored, reward_e6, best_e6,
         |  (best_e6 - reward_e6)::BIGINT AS regret_e6,
         |  sum(best_e6 - reward_e6) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS cum_regret_e6
         |FROM rew""".stripMargin
    }),

    QueryDef("orders_rapid_repeat", (s, dir) => {
      // duplicate-submission / fraud audit: pairs of orders by the
      // SAME customer within 1 day of each other — the operational
      // "did this customer double-submit?" screen (the exact-amount
      // variant is empty on this fixture: prices are near-unique).
      // Equi-join on the customer key with a ±1-day band predicate on
      // top — the join stays keyed (no theta join); per-customer
      // fan-out is order-count bounded.
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") &&
            col("a.o_orderkey") < col("b.o_orderkey") &&
            abs(datediff(col("b.d"), col("a.d"))) <= 1)
        .select(col("a.o_custkey").as("custkey"),
          col("a.o_orderkey").as("key_a"),
          col("b.o_orderkey").as("key_b"),
          datediff(col("b.d"), col("a.d")).cast("long").as("gap_days"),
          col("a.cents").as("cents_a"), col("b.cents").as("cents_b"))
    },
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate::DATE AS d,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT a.o_custkey AS custkey, a.o_orderkey AS key_a,
        |  b.o_orderkey AS key_b,
        |  datediff('day', a.d, b.d)::BIGINT AS gap_days,
        |  a.cents AS cents_a, b.cents AS cents_b
        |FROM o a JOIN o b
        |  ON a.o_custkey = b.o_custkey
        |  AND a.o_orderkey < b.o_orderkey
        |  AND abs(datediff('day', a.d, b.d)) <= 1""".stripMargin),

    QueryDef("events_burstiness", (s, dir) => {
      // traffic burstiness per event type: variance-to-mean ratio
      // (dispersion index) of the daily counts in exact decimal
      // arithmetic — VMR ≈ 1 is Poisson-like, > 1 is bursty (the
      // capacity-planning discriminator between steady load and
      // thundering herds). VMR·100 = 100·(n·Σx² − (Σx)²) div
      // ((n−1)·Σx); decimal(38,0) because Σx² crosses 10¹⁸ at
      // petabyte row counts. One daily rollup, one moment pass.
      val dd = "decimal(38,0)"
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"))
        .agg(count(lit(1)).cast(dd).as("x"))
      daily.groupBy("event_type").agg(
          count(lit(1)).cast(dd).as("nd"),
          sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"),
          col("nd").cast("long").as("n_days"),
          col("sx").cast("long").as("total_events"),
          expr("CAST(100 * (nd * sxx - sx * sx) div ((nd - 1) * sx)" +
            " AS BIGINT)").as("vmr_e2"))
        .withColumn("bursty", col("vmr_e2") > 100)
    },
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    count(*)::HUGEINT AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*)::HUGEINT AS nd,
        |    sum(x) AS sx, sum(x * x) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(nd AS BIGINT) AS n_days,
        |  CAST(sx AS BIGINT) AS total_events,
        |  CAST(100 * (nd * sxx - sx * sx) // ((nd - 1) * sx) AS BIGINT)
        |    AS vmr_e2,
        |  (CAST(100 * (nd * sxx - sx * sx) // ((nd - 1) * sx) AS BIGINT)
        |    > 100) AS bursty
        |FROM m""".stripMargin),

    QueryDef("trend_mann_kendall", (s, dir) => {
      // Mann-Kendall monotonic-trend test + Theil-Sen robust slope
      // over daily revenue — the distribution-free "is this KPI
      // drifting?" primitive (Mann 1945; Sen 1968), immune to
      // outliers and to any monotone transform of the series. Corpus
      // work is ONE daily rollup; the O(d²) pair frame lives on the
      // calendar-bounded daily table (≤366 rows → ≤67k pairs), never
      // on raw events. Every test statistic is an exact integer (S,
      // the 18·Var numerator with its tie correction, the e6-scaled
      // pair slopes); the z-score and the slope median are single
      // IEEE expression chains over those integers, so the oracle
      // reproduces them bit-for-bit. `div` truncates toward zero in
      // BOTH engines (verified for negative slopes).
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .localCheckpoint(true) // pair self-join + tie rollup re-read it
      val pairs = daily.as("a")
        .join(daily.as("b"), col("a.day") < col("b.day"))
        .select((col("b.cents") - col("a.cents")).as("dc"),
          (col("b.day") - col("a.day")).as("dd"))
      val sAgg = pairs.agg(
        sum(when(col("dc") > 0, 1L).when(col("dc") < 0, -1L)
          .otherwise(0L)).as("s_stat"),
        // dc is a daily-cents difference (money-sum class): the ×1e6
        // product clears into DECIMAL(38,0) and the per-pair slope
        // lands back in a long before the percentile (overflow-sweep
        // r12 — value-identical, same percentile input type)
        expr("percentile(cast(cast(dc as decimal(38,0)) * 1000000" +
          " div dd as bigint), 0.5d)")
          .as("sen_slope_e6"))
      val nn = daily.agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("cents")
        .agg(count(lit(1)).as("t")).filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1)
          * (lit(2) * col("t") + 5)), lit(0L)).as("tie_corr"))
      sAgg.crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
        .withColumn("var18",
          col("n_days") * (col("n_days") - 1)
            * (lit(2) * col("n_days") + 5) - col("tie_corr"))
        .withColumn("z", round(
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double")
            / sqrt(col("var18").cast("double") / 18.0))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double")
            / sqrt(col("var18").cast("double") / 18.0))
          .otherwise(0.0), 4))
        .select(col("n_days"), col("s_stat"), col("var18"), col("z"),
          when(col("z") > 1.96, "up").when(col("z") < -1.96, "down")
            .otherwise("none").as("trend"),
          col("sen_slope_e6"))
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
        |    AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |pairs AS (
        |  SELECT (b.cents - a.cents)::BIGINT AS dc,
        |    (b.day - a.day)::BIGINT AS dd
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |sagg AS (
        |  SELECT sum(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1
        |    ELSE 0 END)::BIGINT AS s_stat,
        |    median(((dc::HUGEINT * 1000000) // dd)::BIGINT)
        |      AS sen_slope_e6 FROM pairs),
        |nn AS (SELECT count(*)::BIGINT AS n_days FROM daily),
        |tt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
        |  AS tie_corr
        |  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY cents) g
        |  WHERE t > 1),
        |v AS (SELECT n_days, s_stat, sen_slope_e6,
        |    (n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr)::BIGINT
        |      AS var18
        |  FROM sagg, nn, tt)
        |SELECT n_days, s_stat, var18,
        |  round(CAST(CAST((CASE
        |    WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END) AS VARCHAR) AS DECIMAL(38,20)), 4)::DOUBLE AS z,
        |  CASE WHEN z > 1.96 THEN 'up' WHEN z < -1.96 THEN 'down'
        |    ELSE 'none' END AS trend,
        |  sen_slope_e6
        |FROM v""".stripMargin),

    QueryDef("events_sequence_detect", (s, dir) => {
      // CEP-style sequence detection in batch (the MATCH_RECOGNIZE /
      // Flink-pattern shape): per user, view → click → purchase with
      // each step ≤ 12 h after the previous (the fixture is a sparse
      // ~3-events/user/day stream; real clickstreams would use
      // minutes), LAST-match semantics —
      // for every purchase, the latest qualifying click, and for that
      // click the latest qualifying view (ties broken by event id).
      // Two user-key equi-joins with time-band predicates + two
      // windows partitioned by the purchase id — per-partition state
      // is one user's in-window neighborhood, never the stream. The
      // streaming twin is an interval join + dedup; this is the
      // offline-audit form.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      def typed(tp: String, p: String) =
        ev.filter(col("event_type") === tp)
          .select(col("user_id"), col("event_id").as(s"${p}_id"),
            col("us").as(s"${p}_us"))
      val v = typed("view", "v")
      val c = typed("click", "c")
      val pu = typed("purchase", "p")
      val win = 43200L * 1000000L
      val pc = pu.join(c, Seq("user_id"))
        .filter(col("c_us") < col("p_us") &&
          col("p_us") - col("c_us") <= win)
      val wpc = Window.partitionBy("p_id")
        .orderBy(col("c_us").desc, col("c_id").desc)
      val lastClick = pc.withColumn("rn", row_number().over(wpc))
        .filter(col("rn") === 1).drop("rn")
      val vc = lastClick.join(v, Seq("user_id"))
        .filter(col("v_us") < col("c_us") &&
          col("c_us") - col("v_us") <= win)
      val wvc = Window.partitionBy("p_id")
        .orderBy(col("v_us").desc, col("v_id").desc)
      vc.withColumn("rn2", row_number().over(wvc))
        .filter(col("rn2") === 1)
        .select(col("user_id"), col("v_id"), col("c_id"), col("p_id"),
          expr("(c_us - v_us) div 1000000").as("gap1_s"),
          expr("(p_us - c_us) div 1000000").as("gap2_s"))
    },
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(ts)::BIGINT AS us FROM events),
        |v AS (SELECT user_id, event_id AS v_id, us AS v_us
        |  FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS c_id, us AS c_us
        |  FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS p_id, us AS p_us
        |  FROM ev WHERE event_type = 'purchase'),
        |pc AS (SELECT p.user_id, p.p_id, p.p_us, c.c_id, c.c_us,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY c.c_us DESC, c.c_id DESC) AS rn
        |  FROM p JOIN c USING (user_id)
        |  WHERE c.c_us < p.p_us AND p.p_us - c.c_us <= 43200000000),
        |lc AS (SELECT user_id, p_id, p_us, c_id, c_us
        |  FROM pc WHERE rn = 1),
        |vc AS (SELECT lc.user_id, lc.p_id, lc.p_us, lc.c_id, lc.c_us,
        |    v.v_id, v.v_us,
        |    row_number() OVER (PARTITION BY lc.p_id
        |      ORDER BY v.v_us DESC, v.v_id DESC) AS rn2
        |  FROM lc JOIN v USING (user_id)
        |  WHERE v.v_us < lc.c_us AND lc.c_us - v.v_us <= 43200000000)
        |SELECT user_id, v_id, c_id, p_id,
        |  ((c_us - v_us) // 1000000)::BIGINT AS gap1_s,
        |  ((p_us - c_us) // 1000000)::BIGINT AS gap2_s
        |FROM vc WHERE rn2 = 1""".stripMargin),

    QueryDef("events_bootstrap_ci", (s, dir) => {
      // Poisson bootstrap CI for mean daily revenue: 200 deterministic
      // replicates, each reweighting every day by a Poisson(1) draw
      // seeded from xxhash64(11, replicate, day) through the
      // precomputed inverse-CDF table (privacy_dp_counts discipline —
      // zero runtime float ops). Replicate means are exact integer
      // divisions; the 95% CI comes from ORDER STATISTICS (ranks
      // derived from the shared [[bootstrapNBoot]] constant — the same
      // bootstrapLoRank/HiRank its oracle reads), never
      // float interpolation, so the oracle matches
      // bit-for-bit. Scale shape: the corpus collapses to the daily
      // frame first; the bootstrap fan-out (366 × 200 rows) and
      // everything after runs on the calendar-bounded frame — at
      // 100 TB the resampling cost is independent of event volume.
      import s.implicits._
      val tab = poissonThresholds.toDF("w", "lo", "hi")
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .localCheckpoint(true) // nBoot-replicate fan-out + obs mean
      val reps = daily.crossJoin(
          s.range(bootstrapNBoot.toLong).select(col("id").as("b")))
        .withColumn("m", pmod(
          xxhash64(lit(11L), col("b"), col("day")), lit(1L << 40)))
        .join(broadcast(tab),
          col("m") >= col("lo") && col("m") < col("hi"))
        .groupBy("b")
        .agg(sum(col("w") * col("cents")).as("wsum"),
          sum(col("w")).as("wn"))
        .filter(col("wn") > 0)
        .select(col("b"), expr("wsum div wn").as("mean_cents"))
      val ranked = reps.withColumn("rk", row_number().over(
        Window.orderBy(col("mean_cents").asc, col("b").asc)))
      val obs = daily.agg(
        expr("sum(cents) div count(1)").as("mean_obs_cents"),
        count(lit(1)).as("n_days"))
      ranked.agg(count(lit(1)).as("n_boot"),
          min(when(col("rk") === bootstrapLoRank, col("mean_cents")))
            .as("lo95_cents"),
          min(when(col("rk") === bootstrapHiRank, col("mean_cents")))
            .as("hi95_cents"))
        .crossJoin(broadcast(obs))
        .select(col("n_days"), col("n_boot"), col("mean_obs_cents"),
          col("lo95_cents"), col("hi95_cents"))
    }, {
      // Oracle for `events_bootstrap_ci`: the daily rollup fanned out to
      // `nBoot` replicates, Poisson(1) weights drawn through the SAME
      // xxhash64(11, b, day) chain and threshold literals as the engine,
      // replicate means by integer division, CI via order statistics.
      val nBoot = bootstrapNBoot
      val vals = poissonThresholds
        .map { case (w, lo, hi) => s"($w, ${lo}::HUGEINT, ${hi}::HUGEINT)" }
        .mkString(", ")
      val ch = new Chain("bs",
        "SELECT d.day::HUGEINT AS day, d.cents, rb.b::HUGEINT AS b " +
          "FROM daily d CROSS JOIN " +
          s"(SELECT unnest(range(0, $nBoot)) AS b) rb")
      val h1 = hashLong(ch, "11::HUGEINT", "42::HUGEINT", "q")
      val h2 = hashLong(ch, "b", h1, "r")
      val h3 = hashLong(ch, "day", h2, "s")
      val m = ch.add("m", s"($h3) % ${1L << 40}")
      s"""WITH daily AS MATERIALIZED (
         |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
         |    AS day,
         |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
         |  FROM events GROUP BY 1),
         |${ch.render},
         |tab(w, lo, hi) AS (SELECT * FROM (VALUES $vals)),
         |wts AS (SELECT day, cents, b, w FROM ${ch.last}
         |  JOIN tab ON $m >= lo AND $m < hi),
         |means AS (SELECT b,
         |    (sum(w * cents) // sum(w))::BIGINT AS mean_cents
         |  FROM wts GROUP BY b HAVING sum(w) > 0),
         |ranked AS (SELECT b, mean_cents,
         |  row_number() OVER (ORDER BY mean_cents ASC, b ASC) AS rk
         |  FROM means),
         |ci AS (SELECT count(*)::BIGINT AS n_boot,
         |  min(CASE WHEN rk = $bootstrapLoRank THEN mean_cents END)::BIGINT
         |    AS lo95_cents,
         |  min(CASE WHEN rk = $bootstrapHiRank THEN mean_cents END)::BIGINT
         |    AS hi95_cents
         |  FROM ranked),
         |obs AS (SELECT count(*)::BIGINT AS n_days,
         |  (sum(cents) // count(*))::BIGINT AS mean_obs_cents FROM daily)
         |SELECT o.n_days, c.n_boot, o.mean_obs_cents,
         |  c.lo95_cents, c.hi95_cents
         |FROM ci c CROSS JOIN obs o""".stripMargin
    }),

    QueryDef("orders_cohort_ltv", (s, dir) => {
      // revenue LTV curves by acquisition cohort: customers grouped by
      // first-order month, cumulative revenue per cohort over months-
      // since-acquisition — the "do newer cohorts monetize faster?"
      // read that retention_cohorts (user counts) can't give. One
      // shuffle to find first months, one rollup to (cohort, t); the
      // cumulative window runs on the months² cohort frame (~3k rows
      // at any corpus size), and per-customer normalization is exact
      // integer division. The per-cohort customer-count frame scales
      // with the customer dimension → no broadcast hint on its join
      // (the sized frame here is cohort-bounded, ~80 rows, so the
      // hint IS safe).
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val first = o.groupBy("o_custkey").agg(min("m").as("cohort_m"))
      val sized = first.groupBy("cohort_m")
        .agg(count(lit(1)).as("n_cust"))
      val facts = o.join(first, Seq("o_custkey"))
        .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("t"))
        .agg(sum("cents").as("rev_cents"))
      val w = Window.partitionBy("cohort_m").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      facts.withColumn("cum_rev_cents", sum("rev_cents").over(w))
        .join(broadcast(sized), Seq("cohort_m"))
        .select(col("cohort_m"), col("t"), col("n_cust"),
          col("rev_cents"), col("cum_rev_cents"),
          expr("cum_rev_cents div n_cust").as("cum_per_cust_cents"))
    },
      """WITH o AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT
        |      AS m,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
        |sz AS (SELECT cohort_m, count(*)::BIGINT AS n_cust
        |  FROM f GROUP BY 1),
        |facts AS (SELECT f.cohort_m, (o.m - f.cohort_m)::BIGINT AS t,
        |    sum(o.cents)::BIGINT AS rev_cents
        |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |cum AS (SELECT cohort_m, t, rev_cents,
        |  sum(rev_cents) OVER (PARTITION BY cohort_m ORDER BY t)::BIGINT
        |    AS cum_rev_cents FROM facts)
        |SELECT c.cohort_m, c.t, s.n_cust, c.rev_cents, c.cum_rev_cents,
        |  (c.cum_rev_cents // s.n_cust)::BIGINT AS cum_per_cust_cents
        |FROM cum c JOIN sz s USING (cohort_m)""".stripMargin),

    QueryDef("events_diff_in_diff", (s, dir) => {
      // difference-in-differences estimator on the A/B frame: arm-1
      // post-minus-pre change minus arm-0's — the adjustment that
      // removes any shared time trend a naive post-only compare
      // absorbs. Completes the experimentation kit (harness → CUPED →
      // power → DiD): one user-grouped pass of exact integers, four
      // mean divisions as the only IEEE steps.
      val per = t(s, dir, "events")
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(
          sum(when(col("day") < 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("x"),
          sum(when(col("day") >= 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(xxhash64(col("user_id")), lit(2)))
      val arms = per.groupBy("arm").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"))
      val a0 = arms.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("sx").as("sx0"),
          col("sy").as("sy0"))
      val a1 = arms.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("sx").as("sx1"),
          col("sy").as("sy1"))
      // exact 4-dp grids (r13 determinism ledger): integer half-up
      // over the exact cross-multiplied ints; the signed DiD uses the
      // half-away-from-zero form (2a ± b) div 2b (both engines'
      // integer division truncates toward zero — verified)
      val dd = "decimal(38,0)"
      def mean4(sc: String, nc: String) =
        s"cast((2 * cast($sc as $dd) * 10000 + $nc) div" +
          s" (2 * cast($nc as $dd)) as double) / 10000.0"
      val aN = s"((cast(sy1 as $dd) - cast(sx1 as $dd)) * cast(n0 as $dd)" +
        s" - (cast(sy0 as $dd) - cast(sx0 as $dd)) * cast(n1 as $dd))"
      val bD = s"(cast(n0 as $dd) * cast(n1 as $dd))"
      a0.crossJoin(broadcast(a1))
        .select(col("n0"), col("n1"),
          expr(mean4("sx0", "n0")).as("pre0"),
          expr(mean4("sy0", "n0")).as("post0"),
          expr(mean4("sx1", "n1")).as("pre1"),
          expr(mean4("sy1", "n1")).as("post1"),
          expr(s"cast((2 * $aN * 10000 + (case when $aN >= 0 then $bD" +
            s" else -$bD end)) div (2 * $bD) as double) / 10000.0")
            .as("did_cents"))
    },
      // Oracle for `events_diff_in_diff`: the same arm hash and pre/post
      // per-user revenue as the `events_ab_cuped` oracle, four mean divisions,
      // the DiD contrast as the identical IEEE chain.
      s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
           "user_id")},
         |arm AS (SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
         |per AS (
         |  SELECT e.user_id,
         |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
         |          e.ts::DATE) < 15 AND e.event_type = 'purchase'
         |        THEN CAST(round(e.value * 100) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS x,
         |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
         |          e.ts::DATE) >= 15 AND e.event_type = 'purchase'
         |        THEN CAST(round(e.value * 100) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS y
         |  FROM events e GROUP BY 1),
         |pa AS MATERIALIZED (SELECT p.x, p.y, a.arm
         |  FROM per p JOIN arm a USING (user_id)),
         |arms AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |  sum(y)::BIGINT AS sy FROM pa GROUP BY 1),
         |a0 AS (SELECT n AS n0, sx AS sx0, sy AS sy0 FROM arms
         |  WHERE arm = 0),
         |a1 AS (SELECT n AS n1, sx AS sx1, sy AS sy1 FROM arms
         |  WHERE arm = 1)
         |SELECT n0, n1,
         |  ((2 * sx0::HUGEINT * 10000 + n0) // (2 * n0::HUGEINT))::DOUBLE
         |    / 10000.0 AS pre0,
         |  ((2 * sy0::HUGEINT * 10000 + n0) // (2 * n0::HUGEINT))::DOUBLE
         |    / 10000.0 AS post0,
         |  ((2 * sx1::HUGEINT * 10000 + n1) // (2 * n1::HUGEINT))::DOUBLE
         |    / 10000.0 AS pre1,
         |  ((2 * sy1::HUGEINT * 10000 + n1) // (2 * n1::HUGEINT))::DOUBLE
         |    / 10000.0 AS post1,
         |  ((2 * ((sy1::HUGEINT - sx1::HUGEINT) * n0
         |        - (sy0::HUGEINT - sx0::HUGEINT) * n1) * 10000
         |      + (CASE WHEN (sy1::HUGEINT - sx1::HUGEINT) * n0
         |            - (sy0::HUGEINT - sx0::HUGEINT) * n1 >= 0
         |          THEN n0::HUGEINT * n1 ELSE -(n0::HUGEINT * n1) END))
         |    // (2 * n0::HUGEINT * n1))::DOUBLE / 10000.0 AS did_cents
         |FROM a0, a1""".stripMargin),

    QueryDef("events_power_analysis", (s, dir) => {
      // experiment sizing from the engine's own exact moments: users
      // per arm to detect a 5% lift in post-period per-user revenue at
      // α=0.05 / power 0.80 — n = ⌈2(z_α/2+z_β)²σ²/δ²⌉ with
      // z constants as literals and σ² from one pass of decimal
      // sufficient statistics (sample variance). The design-time twin
      // of events_ab_cuped: CUPED shrinks σ², this prices the shrink.
      val d = "decimal(38,0)"
      val per = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .filter(col("day") >= 15)
        .groupBy("user_id").agg(sum("cents").as("y"))
      val m = per.agg(count(lit(1)).cast(d).as("n"),
        sum(col("y").cast(d)).as("sy"),
        sum(col("y").cast(d) * col("y")).as("syy"))
      m.select(col("n").cast("long").as("n_users"),
          expr("cast(sy div n AS bigint)").as("mean_cents"),
          col("sy"), col("syy"), col("n"))
        .withColumn("var_c2", expr(
          "cast(n*syy - sy*sy AS double) / cast(n*(n-1) AS double)"))
        .withColumn("mde_cents_raw",
          col("mean_cents").cast("double") / 20.0)
        .select(col("n_users"), col("mean_cents"),
          // exact 4-dp grids (r13 determinism ledger): variance is the
          // exact int ratio (n·syy − sy²)/(n(n−1)) half-up'd; the mde
          // grid value is exactly mean_cents·500 (half_up(m·1e4/20)).
          // n_per_arm stays on the UNrounded IEEE chain both engines
          // replay identically (its ceil input is not a grid value).
          (expr("cast((2 * (n*syy - sy*sy) * 10000 + n*(n-1)) div" +
            " (2 * n*(n-1)) as double)") / 10000.0).as("var_cents2"),
          (expr("cast(mean_cents * 500 as double)") / 10000.0)
            .as("mde_cents"),
          ceil(lit(2.0) * (lit(1.96) + lit(0.84)) * (lit(1.96)
            + lit(0.84)) * col("var_c2")
            / (col("mde_cents_raw") * col("mde_cents_raw")))
            .cast("long").as("n_per_arm"))
    },
      """WITH per AS (
        |  SELECT user_id,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
        |  FROM events WHERE event_type = 'purchase'
        |    AND datediff('day', DATE '2024-01-01', ts::DATE) >= 15
        |  GROUP BY 1),
        |m AS (SELECT count(*)::HUGEINT AS n, sum(y::HUGEINT) AS sy,
        |    sum(y::HUGEINT * y) AS syy FROM per),
        |c AS (SELECT CAST(n AS BIGINT) AS n_users,
        |    CAST(sy // n AS BIGINT) AS mean_cents,
        |    (n*syy - sy*sy) AS vnum, (n*(n-1)) AS vden,
        |    (n*syy - sy*sy)::DOUBLE / (n*(n-1))::DOUBLE AS var_c2,
        |    (CAST(sy // n AS BIGINT))::DOUBLE / 20.0 AS mde
        |  FROM m)
        |SELECT n_users, mean_cents,
        |  ((2 * vnum * 10000 + vden) // (2 * vden))::DOUBLE / 10000.0
        |    AS var_cents2,
        |  (mean_cents::HUGEINT * 500)::DOUBLE / 10000.0 AS mde_cents,
        |  CAST(ceil(2.0 * (1.96 + 0.84) * (1.96 + 0.84) * var_c2
        |    / (mde * mde)) AS BIGINT) AS n_per_arm
        |FROM c""".stripMargin),

    QueryDef("events_holt_winters", (s, dir) => {
      // Holt-Winters ADDITIVE SEASONAL forecast (triple exponential
      // smoothing) of daily revenue, weekly period m=7 — the
      // seasonality-aware upgrade of events_holt. Smoothing constants
      // are powers of two (α=1/4, β=1/8, γ=1/4) so every update is
      // exact integer arithmetic with `div` (truncation toward zero,
      // verified identical in both engines); the whole recursion is
      // ONE sequential fold over the ordered daily array (state = a
      // 9-long struct: level, trend, 7 seasonals), the KM/EWMA
      // calendar-bounded-fold discipline. Corpus work is the daily
      // rollup; the fold costs 365 steps on the driver-side-free
      // single-row frame. Emits the 7-day-ahead forecast
      // L + h·B + S_h.
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val arr = daily
        .agg(array_sort(collect_list(struct(col("day"), col("cents"))))
          .as("a"))
        .select(expr("transform(a, x -> x.cents)").as("c"))
      val l0 = "aggregate(slice(c, 1, 7), 0L, (a, x) -> a + x) div 7"
      val newL =
        "(y - element_at(acc.s, 1)) div 4 + (3 * (acc.l + acc.b)) div 4"
      val folded = arr.select(expr(
        s"""aggregate(
           |  slice(c, 8, size(c) - 7),
           |  named_struct('l', $l0, 'b', 0L,
           |    's', transform(slice(c, 1, 7), x -> x - ($l0))),
           |  (acc, y) -> named_struct(
           |    'l', $newL,
           |    'b', (($newL) - acc.l) div 8 + (7 * acc.b) div 8,
           |    's', concat(slice(acc.s, 2, 6),
           |      array((y - ($newL)) div 4
           |        + (3 * element_at(acc.s, 1)) div 4))))""".stripMargin)
        .as("st"))
      folded
        .select(col("st"), posexplode(expr(
          "transform(st.s, (sv, i) -> st.l + (i + 1) * st.b + sv)")))
        .select((col("pos") + 1).cast("int").as("h"),
          col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
          col("col").as("forecast_cents"))
    },
      // NOTE: a list_reduce fold is NOT usable here — DuckDB 1.0
      // evaluates lambda struct-literal fields sequentially, rebinding
      // acc fields as they are computed (verified with a minimal
      // repro), so a repeated sub-expression across fields reads the
      // half-updated state. The recursive CTE + LATERAL binds newL
      // exactly once per step instead.
      """WITH RECURSIVE daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
        |    AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |arr AS (SELECT list(cents ORDER BY day) AS c FROM daily),
        |ini AS (SELECT c,
        |  (list_sum(c[1:7]) // 7)::BIGINT AS l0 FROM arr),
        |hw(t, l, b, s) AS (
        |  SELECT 7::BIGINT, l0, 0::BIGINT,
        |    list_transform(c[1:7], x -> x - l0) FROM ini
        |  UNION ALL
        |  SELECT hw.t + 1, q.newL,
        |    (q.newL - hw.l) // 8 + (7 * hw.b) // 8,
        |    list_concat(hw.s[2:7],
        |      [(q.y - q.newL) // 4 + (3 * hw.s[1]) // 4])
        |  FROM hw, arr, LATERAL (SELECT arr.c[hw.t + 1] AS y,
        |    ((arr.c[hw.t + 1] - hw.s[1]) // 4
        |      + (3 * (hw.l + hw.b)) // 4)::BIGINT AS newL) q
        |  WHERE hw.t < len(arr.c)),
        |fin AS (SELECT l, b, s FROM hw, arr WHERE hw.t = len(arr.c))
        |SELECT gs.h::INT AS h, fin.l AS level_cents,
        |  fin.b AS trend_cents,
        |  (fin.l + gs.h * fin.b + fin.s[gs.h])::BIGINT
        |    AS forecast_cents
        |FROM fin, LATERAL (SELECT
        |  unnest(generate_series(1, 7)) AS h) gs""".stripMargin),

    QueryDef("events_stl_decompose", (s, dir) => {
      // STL-style seasonal decomposition of daily revenue by MOVING
      // MEDIANS — the robust, integer-exact profiling twin of the
      // Holt-Winters forecast fold: trend = centered 7-day moving
      // median of daily cents (odd window ⇒ the median IS an element:
      // exact long, no interpolation), seasonal = per-day-of-week
      // median of the detrended series (carried ×2 so the even-count
      // midpoint mean stays integral), remainder = the rest.
      // Decomposition SHOWS the weekly shape the forecasters model —
      // the monitoring view every pipeline dashboard wants. Scale:
      // one corpus rollup to the calendar-bounded daily frame; the
      // trend window runs on ≤ 366 rows, the seasonal frame is 7.
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val wT = Window.orderBy("day").rowsBetween(-3, 3)
      val tr = daily
        .withColumn("wnd", collect_list("cents").over(wT))
        .filter(size(col("wnd")) === 7) // full windows only
        .withColumn("trend_cents", element_at(sort_array(col("wnd")), 4))
        .withColumn("detr", col("cents") - col("trend_cents"))
        .withColumn("dow", pmod(col("day"), lit(7)))
        .drop("wnd")
        .localCheckpoint(true) // seasonal agg + final join both read it
      val seas = tr.groupBy("dow")
        .agg(sort_array(collect_list(col("detr"))).as("arr"))
        .select(col("dow"),
          (element_at(col("arr"),
            expr("cast((size(arr) + 1) div 2 as int)")) +
            element_at(col("arr"),
              expr("cast(size(arr) div 2 + 1 as int)")))
            .as("seasonal_x2"))
      tr.join(broadcast(seas), Seq("dow"))
        .select(col("day"), col("cents"), col("trend_cents"),
          col("seasonal_x2"),
          (col("detr") * 2 - col("seasonal_x2")).as("remainder_x2"))
    },
      // the engine's array fold is replayed as a bounded recursion (one
      // step per day) — DuckDB 1.0's list_reduce corrupts multi-field
      // struct accumulators mid-chain, so the lambda form is not usable
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT
        |      AS day,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT day, cents, wnd, dow FROM (
        |    SELECT day, cents,
        |      list(cents) OVER (ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wnd,
        |      (day % 7)::BIGINT AS dow
        |    FROM daily) q
        |  WHERE len(wnd) = 7),
        |dt AS (
        |  SELECT day, cents, dow,
        |    list_sort(wnd)[4]::BIGINT AS trend_cents,
        |    (cents - list_sort(wnd)[4])::BIGINT AS detr
        |  FROM tr),
        |seas AS (
        |  SELECT dow,
        |    (arr[((n + 1) // 2)::INT] + arr[(n // 2 + 1)::INT])::BIGINT
        |      AS seasonal_x2
        |  FROM (SELECT dow, list_sort(list(detr)) AS arr,
        |          count(*)::BIGINT AS n
        |        FROM dt GROUP BY dow) g)
        |SELECT dt.day, dt.cents, dt.trend_cents, seas.seasonal_x2,
        |  (dt.detr * 2 - seas.seasonal_x2)::BIGINT AS remainder_x2
        |FROM dt JOIN seas USING (dow)""".stripMargin),

    QueryDef("events_ab_cuped", (s, dir) => {
      // CUPED variance reduction for the A/B harness (Deng et al.
      // WSDM'13, the standard experimentation-platform adjustment):
      // per-user PRE-period revenue (days < 15) is the covariate;
      // θ = cov(X,Y)/var(X) from ONE pooled pass of exact decimal
      // moments; per-arm adjusted mean Ȳ − θ(X̄_arm − X̄); variance
      // reduction = corr²(X,Y), derived ALGEBRAICALLY from the same
      // exact moments (never a per-user float residual sum — parallel
      // float summation would flake the hash). Corpus work: one
      // user-grouped agg; everything after runs on per-arm rows.
      val d = "decimal(38,0)"
      val per = t(s, dir, "events")
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(
          sum(when(col("day") < 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("x"),
          sum(when(col("day") >= 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(xxhash64(col("user_id")), lit(2)))
        .localCheckpoint(true) // pooled + per-arm aggs read it
      val pooled = per.agg(count(lit(1)).cast(d).as("n"),
        sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
        sum(col("x").cast(d) * col("x")).as("sxx"),
        sum(col("x").cast(d) * col("y")).as("sxy"),
        sum(col("y").cast(d) * col("y")).as("syy"))
      val arms = per.groupBy("arm").agg(count(lit(1)).as("n_users"),
        sum("x").as("sx_arm"), sum("y").as("sy_arm"))
      arms.crossJoin(broadcast(pooled))
        .withColumn("th", expr(
          "cast(n*sxy - sx*sy AS double) / cast(n*sxx - sx*sx AS double)"))
        .select(col("arm"), col("n_users"), col("sx_arm"), col("sy_arm"),
          round(col("th"), 6).as("theta"),
          round(col("sy_arm").cast("double") / col("n_users")
            - col("th") * (col("sx_arm").cast("double") / col("n_users")
              - col("sx").cast("double") / col("n").cast("double")), 4)
            .as("adj_mean_y_cents"),
          round(expr("cast(n*sxy - sx*sy AS double)") *
            expr("cast(n*sxy - sx*sy AS double)") /
            (expr("cast(n*sxx - sx*sx AS double)") *
              expr("cast(n*syy - sy*sy AS double)")), 6)
            .as("var_reduction"))
    },
      // Oracle for `events_ab_cuped`: the same arm hash as
      // the `events_ab_test` oracle, pre/post per-user revenue, pooled exact
      // moments, θ/adjusted-mean/variance-reduction as the identical
      // IEEE chains over those integers.
      s"""WITH ${idHashCtes("(SELECT DISTINCT user_id FROM events)",
           "user_id")},
         |arm AS (SELECT user_id, ((hv % 2) + 2) % 2 AS arm FROM hashed),
         |per AS (
         |  SELECT e.user_id,
         |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
         |          e.ts::DATE) < 15 AND e.event_type = 'purchase'
         |        THEN CAST(round(e.value * 100) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS x,
         |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
         |          e.ts::DATE) >= 15 AND e.event_type = 'purchase'
         |        THEN CAST(round(e.value * 100) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS y
         |  FROM events e GROUP BY 1),
         |pa AS (SELECT p.user_id, p.x, p.y, a.arm
         |  FROM per p JOIN arm a USING (user_id)),
         |pooled AS (SELECT count(*)::HUGEINT AS n,
         |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
         |    sum(y::HUGEINT * y) AS syy FROM pa),
         |arms AS (SELECT arm, count(*)::BIGINT AS n_users,
         |    sum(x)::BIGINT AS sx_arm, sum(y)::BIGINT AS sy_arm
         |  FROM pa GROUP BY 1),
         |j AS (SELECT a.arm, a.n_users, a.sx_arm, a.sy_arm,
         |    p.n, p.sx, p.sy, p.sxx, p.sxy, p.syy,
         |    (p.n*p.sxy - p.sx*p.sy)::DOUBLE /
         |      (p.n*p.sxx - p.sx*p.sx)::DOUBLE AS th
         |  FROM arms a CROSS JOIN pooled p)
         |SELECT arm, n_users, sx_arm, sy_arm,
         |  ${roundSpark("th", 6)} AS theta,
         |  ${roundSpark(
               "sy_arm::DOUBLE / n_users - th * (sx_arm::DOUBLE / n_users" +
                 " - sx::DOUBLE / n::DOUBLE)", 4)} AS adj_mean_y_cents,
         |  ${roundSpark(
               "(n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE / " +
                 "((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)",
               6)} AS var_reduction
         |FROM j""".stripMargin),

    locally {
      val (dim, topN) = (24, 8) // hour bins per profile, users compared
      QueryDef("events_dtw_pairs", (s, dir) => {
        // dynamic-time-warping similarity between user activity SHAPES:
        // each of the 8 most-active users gets a 24-bin hour-of-day
        // profile (exact Long counts), then every pair is scored with
        // the native dtw_distance expression — elastic alignment, so a
        // user who does the same thing 2 hours later still scores close.
        // The profile rollup is one map-side-combined pass over events
        // (24 conditional sums, no shuffle beyond the groupBy); the pair
        // join is top-8 × top-8 (bounded, broadcast), and the DP itself
        // is a codegen'd scalar — at 100 TB the only data-sized cost is
        // the single profile scan.
        import graft.expressions.DtwDistanceCol.dtw_distance
        val prof = t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            array((0 until dim).map(h =>
              sum(when(hour(col("ts")) === h, 1L).otherwise(0L))): _*)
              .as("prof"))
        // materialize the 8-row top frame: both pair-join sides read it,
        // and an uncut plan would run the full profile scan TWICE
        val top = prof.orderBy(col("n_events").desc, col("user_id"))
          .limit(topN).select(col("user_id"), col("prof"))
          .localCheckpoint(true)
        top.select(col("user_id").as("user_a"), col("prof").as("pa"))
          .join(
            top.select(col("user_id").as("user_b"), col("prof").as("pb")),
            col("user_a") < col("user_b"))
          .select(col("user_a"), col("user_b"),
            dtw_distance(col("pa"), col("pb")).as("dtw_cost"))
      }, {
        // Oracle for `events_dtw_pairs`: replays the engine's full DTW DP
        // (exact Long |a−b| cost, min over up/left/diag) as a recursive CTE
        // that fills the dim×dim grid ONE cell per iteration in row-major
        // order, carrying the grid as a growing BIGINT list — recursion
        // materializes every step, so the 3-reference-per-cell recurrence
        // can't hit DuckDB's CTE-inlining explosion (pitfall the chained-
        // alias form would). Cell (i,j) lives at 1-based list position
        // i*dim+j+1; unavailable neighbors take a large sentinel that can
        // never win `least` (every cell after the first has ≥1 real
        // neighbor). Profiles and the top-N frame are MATERIALIZED (each
        // referenced twice by the pair self-join).
        require(dim >= 2 && topN >= 2, s"need dim/topN >= 2: $dim/$topN")
        val lastK = dim * dim - 1
        val sent = "4611686018427387904" // 2^62: never wins least()
        s"""WITH RECURSIVE grid AS (
           |  SELECT e.user_id, x.h,
           |    sum(CASE WHEN extract(hour FROM e.ts) = x.h
           |        THEN 1 ELSE 0 END)::BIGINT AS cnt
           |  FROM events e
           |    CROSS JOIN (SELECT unnest(range($dim)) AS h) x
           |  GROUP BY e.user_id, x.h),
           |prof AS MATERIALIZED (
           |  SELECT user_id, sum(cnt)::BIGINT AS n_events,
           |    list(cnt ORDER BY h) AS prof
           |  FROM grid GROUP BY user_id),
           |top AS MATERIALIZED (
           |  SELECT user_id, prof FROM prof
           |  ORDER BY n_events DESC, user_id LIMIT $topN),
           |pairs AS MATERIALIZED (
           |  SELECT a.user_id AS user_a, b.user_id AS user_b,
           |    a.prof AS av, b.prof AS bv
           |  FROM top a JOIN top b ON a.user_id < b.user_id),
           |dp AS (
           |  SELECT user_a, user_b, av, bv, 0 AS k,
           |    [abs(av[1] - bv[1])] AS cells
           |  FROM pairs
           |  UNION ALL
           |  SELECT user_a, user_b, av, bv, k + 1,
           |    list_append(cells,
           |      abs(av[(k + 1) // $dim + 1] - bv[(k + 1) % $dim + 1]) +
           |      least(
           |        CASE WHEN (k + 1) // $dim > 0
           |          THEN cells[k - ${dim - 2}] ELSE $sent END,
           |        CASE WHEN (k + 1) % $dim > 0
           |          THEN cells[k + 1] ELSE $sent END,
           |        CASE WHEN (k + 1) // $dim > 0 AND (k + 1) % $dim > 0
           |          THEN cells[k - ${dim - 1}] ELSE $sent END))
           |  FROM dp WHERE k < $lastK)
           |SELECT user_a, user_b, cells[${lastK + 1}]::BIGINT AS dtw_cost
           |FROM dp WHERE k = $lastK""".stripMargin
      })
    },

    QueryDef("events_cem_att", (s, dir) => {
      // coarsened exact matching (Iacus–King–Porro 2012) — the
      // OBSERVATIONAL causal design the randomized A/B family can't
      // cover: "treatment" here is self-selected (habitual purchasing:
      // a purchase on >= 5 DISTINCT pre-period days — "any purchase"
      // is degenerate on this fixture, every user has one), so naive
      // treated-vs-control outcome diffs are
      // confounded by activity. CEM coarsens the confounders
      // (pre-period event count, pre-period active days) into bins,
      // keeps only strata containing BOTH groups, and estimates the
      // ATT as the treated-weighted mean of within-stratum outcome
      // gaps — all in integer e2 fixed point (means via div), so the
      // result is hash-exact. Matching is a hash-groupBy on the bin
      // signature — no per-pair nearest-neighbor join — which is why
      // CEM is the matching design that survives 100 TB: one user
      // rollup, one stratum rollup, a 1-row summary broadcast back.
      val per = t(s, dir, "events")
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(
          sum(when(col("day") < 15, 1L).otherwise(0L)).as("n_pre"),
          countDistinct(when(col("day") < 15, col("day"))).as("d_pre"),
          countDistinct(when(
            col("day") < 15 && col("event_type") === "purchase",
            col("day"))).as("purch_days"),
          sum(when(col("day") >= 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("y"))
        .withColumn("treated",
          when(col("purch_days") >= 5, 1L).otherwise(0L))
      val grp = per
        .withColumn("b1", expr("least(n_pre div 5, 8)"))
        .withColumn("b2", expr("least(d_pre div 3, 4)"))
        .groupBy("b1", "b2")
        .agg(sum("treated").as("m_treated"),
          sum(expr("1 - treated")).as("m_control"),
          sum(expr("CASE WHEN treated = 1 THEN y ELSE 0 END")).as("syt"),
          sum(expr("CASE WHEN treated = 0 THEN y ELSE 0 END")).as("syc"))
        .filter(col("m_treated") > 0 && col("m_control") > 0)
        .withColumn("yt_e2", expr("syt * 100 div m_treated"))
        .withColumn("yc_e2", expr("syc * 100 div m_control"))
        .localCheckpoint(true) // stratum rows + the ATT rollup read it
      val summary = grp.agg(
        expr("sum(m_treated * (yt_e2 - yc_e2)) div sum(m_treated)")
          .as("att_e2_overall"))
      grp.crossJoin(broadcast(summary))
        .select(col("b1"), col("b2"), col("m_treated"),
          col("m_control"), col("yt_e2"), col("yc_e2"),
          col("att_e2_overall"))
    },
      // e2 means via integer div (non-negative sums; the ATT numerator
      // may be negative — // and Spark div both truncate toward zero)
      """WITH per AS (
        |  SELECT e.user_id,
        |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
        |        e.ts::DATE) < 15 THEN 1 ELSE 0 END)::BIGINT AS n_pre,
        |    count(DISTINCT CASE WHEN datediff('day', DATE '2024-01-01',
        |        e.ts::DATE) < 15
        |      THEN datediff('day', DATE '2024-01-01', e.ts::DATE)
        |      END)::BIGINT AS d_pre,
        |    (CASE WHEN count(DISTINCT CASE WHEN
        |          datediff('day', DATE '2024-01-01', e.ts::DATE) < 15
        |          AND e.event_type = 'purchase'
        |        THEN datediff('day', DATE '2024-01-01', e.ts::DATE)
        |        END) >= 5 THEN 1 ELSE 0 END)::BIGINT AS treated,
        |    sum(CASE WHEN datediff('day', DATE '2024-01-01',
        |          e.ts::DATE) >= 15 AND e.event_type = 'purchase'
        |        THEN CAST(round(e.value * 100) AS BIGINT)
        |        ELSE 0 END)::BIGINT AS y
        |  FROM events e GROUP BY 1),
        |grp AS MATERIALIZED (
        |  SELECT least(n_pre // 5, 8) AS b1, least(d_pre // 3, 4) AS b2,
        |    sum(treated)::BIGINT AS m_treated,
        |    sum(1 - treated)::BIGINT AS m_control,
        |    sum(CASE WHEN treated = 1 THEN y ELSE 0 END)::BIGINT AS syt,
        |    sum(CASE WHEN treated = 0 THEN y ELSE 0 END)::BIGINT AS syc
        |  FROM per GROUP BY 1, 2
        |  HAVING sum(treated) > 0 AND sum(1 - treated) > 0),
        |g2 AS MATERIALIZED (
        |  SELECT b1, b2, m_treated, m_control,
        |    (syt * 100 // m_treated)::BIGINT AS yt_e2,
        |    (syc * 100 // m_control)::BIGINT AS yc_e2
        |  FROM grp),
        |summary AS (
        |  SELECT (sum(m_treated * (yt_e2 - yc_e2))
        |      // sum(m_treated))::BIGINT AS att_e2_overall
        |  FROM g2)
        |SELECT b1, b2, m_treated, m_control, yt_e2, yc_e2,
        |  s.att_e2_overall
        |FROM g2, summary s""".stripMargin),

    QueryDef("events_ipw_att", (s, dir) => {
      // inverse-propensity-weighted ATT (Horvitz–Thompson/Hájek) — the
      // MODEL-BASED half of the observational-causal pair: where
      // events_cem_att matches on coarsened-bin signatures, IPW fits a
      // logistic propensity e(x) = P(treated | n_pre, d_pre) with the
      // engine's distributed-GD machinery (3 full-batch rounds,
      // per-sample gradient rounded to e6 BEFORE the sum → exact
      // integer reduction under any partitioning, same discipline as
      // ml_logreg_train) and reweights CONTROLS by w = e/(1−e)
      // (truncated at 20 — standard stabilization against near-1
      // propensities). Weights round to e6 longs before the outcome
      // products, so the ATT arithmetic is decimal-exact and the
      // unrolled SQL oracle reproduces it bit-for-bit. Scale shape:
      // one user rollup (map-side combined), 3 one-row GD aggregates
      // over the checkpointed feature frame, one final one-row agg —
      // nothing driver-side beyond 3 doubles of model state.
      val per = t(s, dir, "events")
        .select(col("user_id"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(
          sum(when(col("day") < 15, 1L).otherwise(0L)).as("n_pre"),
          countDistinct(when(col("day") < 15, col("day"))).as("d_pre"),
          countDistinct(when(
            col("day") < 15 && col("event_type") === "purchase",
            col("day"))).as("purch_days"),
          sum(when(col("day") >= 15 && col("event_type") === "purchase",
            col("cents")).otherwise(0L)).as("y"))
        .select(
          (col("n_pre").cast("double") / 100.0).as("x1"),
          (col("d_pre").cast("double") / 15.0).as("x2"),
          when(col("purch_days") >= 5, 1L).otherwise(0L).as("tr"),
          col("y"))
        .localCheckpoint(true) // 3 GD rounds + the ATT agg re-read it
      val n = per.count()
      val lr = 0.1
      var w = Array(0.0, 0.0, 0.0) // bias, w1, w2
      for (_ <- 1 to 3) {
        val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        def g(x: Column) = sum(
          round((p - col("tr").cast("double")) * x * 1000000.0, 0)
            .cast("long"))
        val r = per.agg(g(lit(1.0)).as("gb"), g(col("x1")).as("g1"),
          g(col("x2")).as("g2")).head()
        w = Array.tabulate(3)(j =>
          w(j) - lr * ((r.getLong(j).toDouble / 1000000.0) / n))
      }
      val zf = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      val pf = lit(1.0) / (lit(1.0) + exp(-zf))
      val d = "decimal(38,0)"
      per
        .withColumn("w_e6",
          least(round(pf / (lit(1.0) - pf) * 1000000.0, 0).cast("long"),
            lit(20000000L)))
        .agg(
          sum(col("tr")).as("n_treated"),
          sum(lit(1L) - col("tr")).as("n_control"),
          sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("syt"),
          sum(when(col("tr") === 0,
            col("w_e6").cast(d) * col("y").cast(d))
            .otherwise(lit(0).cast(d))).as("swy"),
          sum(when(col("tr") === 0, col("w_e6")).otherwise(0L))
            .cast(d).as("sw"))
        .select(
          col("n_treated"), col("n_control"),
          round(lit(w(0)) * 1000000.0, 0).cast("long").as("b_e6"),
          round(lit(w(1)) * 1000000.0, 0).cast("long").as("w1_e6"),
          round(lit(w(2)) * 1000000.0, 0).cast("long").as("w2_e6"),
          expr("syt * 100 div n_treated").as("yt_e2"),
          // `div` = integral division (truncation) on the exact
          // decimals — decimal `/` would round at its result scale
          // first and can disagree with the oracle's integer `//`
          expr("(swy * 100) div sw").as("yc_ipw_e2"),
          (expr("syt * 100 div n_treated") -
            expr("(swy * 100) div sw")).as("att_e2"))
    }, {
      def z(w: String) = s"($w.b + $w.w1*f.x1 + $w.w2*f.x2)"
      def p(w: String) = s"(1.0/(1.0 + exp(-${z(w)})))"
      def g(w: String, x: String) =
        s"sum(round(((${p(w)} - f.tr::DOUBLE) * $x) * 1000000.0)" +
          "::BIGINT)::BIGINT"
      val sb = new StringBuilder
      sb ++=
        s"""WITH per AS MATERIALIZED (
           |  SELECT user_id,
           |    sum(CASE WHEN day < 15 THEN 1 ELSE 0 END)::BIGINT
           |      AS n_pre,
           |    count(DISTINCT CASE WHEN day < 15 THEN day END)::BIGINT
           |      AS d_pre,
           |    count(DISTINCT CASE WHEN day < 15
           |      AND event_type = 'purchase' THEN day END)::BIGINT
           |      AS purch_days,
           |    sum(CASE WHEN day >= 15 AND event_type = 'purchase'
           |      THEN cents ELSE 0 END)::BIGINT AS y
           |  FROM (SELECT user_id,
           |      datediff('day', DATE '2024-01-01', ts::DATE) AS day,
           |      event_type, CAST(round(value * 100) AS BIGINT) AS cents
           |    FROM events) e
           |  GROUP BY 1),
           |feat AS MATERIALIZED (
           |  SELECT (n_pre::DOUBLE / 100.0) AS x1,
           |    (d_pre::DOUBLE / 15.0) AS x2,
           |    (CASE WHEN purch_days >= 5 THEN 1 ELSE 0 END)::BIGINT
           |      AS tr,
           |    y
           |  FROM per),
           |c AS (SELECT count(*)::BIGINT AS n FROM feat),
           |w0 AS (SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1,
           |       0.0::DOUBLE AS w2)""".stripMargin
      for (i <- 1 to 3) {
        val pw = s"w${i - 1}"
        sb ++=
          s""",
             |g$i AS (SELECT ${g("w", "1.0")} AS gb,
             |  ${g("w", "f.x1")} AS g1,
             |  ${g("w", "f.x2")} AS g2
             |  FROM feat f CROSS JOIN $pw w),
             |w$i AS (SELECT
             |  w.b - 0.1::DOUBLE * ((g.gb::DOUBLE / 1000000.0) / c.n)
             |    AS b,
             |  w.w1 - 0.1::DOUBLE * ((g.g1::DOUBLE / 1000000.0) / c.n)
             |    AS w1,
             |  w.w2 - 0.1::DOUBLE * ((g.g2::DOUBLE / 1000000.0) / c.n)
             |    AS w2
             |  FROM $pw w, g$i g, c)""".stripMargin
      }
      sb ++=
        s"""
           |, fin AS (SELECT f.tr, f.y,
           |  least(round((${p("w")} / (1.0 - ${p("w")}))
           |    * 1000000.0)::BIGINT, 20000000) AS w_e6
           |  FROM feat f CROSS JOIN w3 w),
           |m AS (SELECT sum(tr)::BIGINT AS n_treated,
           |  sum(1 - tr)::BIGINT AS n_control,
           |  sum(CASE WHEN tr = 1 THEN y ELSE 0 END)::BIGINT AS syt,
           |  sum(CASE WHEN tr = 0 THEN w_e6 * y ELSE 0 END)::BIGINT
           |    AS swy,
           |  sum(CASE WHEN tr = 0 THEN w_e6 ELSE 0 END)::BIGINT AS sw
           |  FROM fin)
           |SELECT m.n_treated, m.n_control,
           |  round(w.b * 1000000.0)::BIGINT AS b_e6,
           |  round(w.w1 * 1000000.0)::BIGINT AS w1_e6,
           |  round(w.w2 * 1000000.0)::BIGINT AS w2_e6,
           |  (m.syt * 100 // m.n_treated)::BIGINT AS yt_e2,
           |  ((m.swy * 100) // m.sw)::BIGINT AS yc_ipw_e2,
           |  ((m.syt * 100 // m.n_treated) - ((m.swy * 100) // m.sw))
           |    ::BIGINT AS att_e2
           |FROM w3 w CROSS JOIN m""".stripMargin
      sb.toString
    }),

    QueryDef("orders_nelson_aalen", (s, dir) => {
      // Nelson–Aalen cumulative-hazard estimator over the same
      // censored inter-purchase-gap frame as orders_survival_km — the
      // OTHER classical survival estimator (sum of hazard increments
      // d/n rather than the product-limit), and unlike KM it needs NO
      // floating point at all: each increment is the exact rational
      // d/n_risk in e9 fixed point (integer div), and H(t) is a
      // running sum of longs over the day-bounded distinct-gap frame.
      // Same 100 TB shape as KM: one per-customer lead window, one
      // gap-day rollup, then windows over the ~day-count-sized frame.
      val od = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast("date")
          .as("od"))
      val hz = od.agg(max(col("od")).as("hz"))
      val dur = od
        .withColumn("nxt", lead("od", 1)
          .over(Window.partitionBy("o_custkey").orderBy("od")))
        .crossJoin(broadcast(hz))
        .select(
          when(col("nxt").isNotNull, datediff(col("nxt"), col("od")))
            .otherwise(datediff(col("hz"), col("od")))
            .cast("long").as("dur"),
          when(col("nxt").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("event"))
        .filter(col("dur") > 0)
      val ev = dur.groupBy("dur")
        .agg(sum("event").as("d"), count(lit(1)).as("cnt"))
      val wRisk = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = ev.withColumn("n_risk", sum(col("cnt")).over(wRisk))
      val wH = Window.orderBy(col("dur").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      risk.filter(col("d") > 0)
        .withColumn("h_e9", expr("d * 1000000000 div n_risk"))
        .withColumn("cumhaz_e9", sum(col("h_e9")).over(wH))
        .select("dur", "d", "n_risk", "h_e9", "cumhaz_e9")
    },
      """WITH od AS (
        |  SELECT o_custkey, o_orderdate::DATE AS od FROM orders),
        |hz AS (SELECT max(od) AS hz FROM od),
        |dur AS (
        |  SELECT CASE WHEN nxt IS NOT NULL
        |      THEN datediff('day', od, nxt)
        |      ELSE datediff('day', od, hz.hz) END AS dur,
        |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        |  FROM (SELECT o_custkey, od, lead(od) OVER (
        |      PARTITION BY o_custkey ORDER BY od) AS nxt FROM od)
        |  CROSS JOIN hz),
        |ev AS (
        |  SELECT dur, sum(event)::BIGINT AS d, count(*)::BIGINT AS cnt
        |  FROM dur WHERE dur > 0 GROUP BY 1),
        |risk AS (
        |  SELECT dur, d, sum(cnt) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk
        |  FROM ev),
        |h AS (
        |  SELECT dur, d, n_risk,
        |    (d * 1000000000 // n_risk)::BIGINT AS h_e9
        |  FROM risk WHERE d > 0)
        |SELECT dur, d, n_risk, h_e9,
        |  sum(h_e9) OVER (ORDER BY dur ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cumhaz_e9
        |FROM h""".stripMargin),

    QueryDef("events_mann_whitney", (s, dir) => {
      // Mann–Whitney U (Wilcoxon rank-sum) two-sample test: do
      // purchase and view order VALUES come from the same
      // distribution? The nonparametric sibling of events_ab_test's
      // t-statistic — rank-based, so one fat-tail outlier can't move
      // it. Everything is exact integers: values in cents, midranks
      // kept 2×-scaled (2·cum_before + t + 1 — integer even under
      // ties), U from the rank sum, and instead of a float z the
      // output is z² in e6 fixed point via one DECIMAL(38,0) division
      // of the tie-corrected closed form
      //   z² = 3·d²·N(N−1) / (nA·nB·((N+1)N(N−1) − Σ(t³−t)))
      // with d = 2U_A − nA·nB (sign emitted separately). Scale: one
      // map-side-combined rollup to the DISTINCT-VALUE frame (the
      // cents domain, not the row count) and windows over that
      // vocabulary-sized frame only.
      val d = "decimal(38,0)"
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").cast("long")
            .as("is_a"),
          round(col("value") * 100, 0).cast("long").as("v"))
      val byV = ev.groupBy("v").agg(
          sum(col("is_a")).as("na_v"),
          sum(lit(1L) - col("is_a")).as("nb_v"))
        .withColumn("t", col("na_v") + col("nb_v"))
      val wCum = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = byV.withColumn("cum",
        coalesce(sum(col("t")).over(wCum), lit(0L)))
      val agg = ranked.agg(
          sum("na_v").as("n_a"), sum("nb_v").as("n_b"),
          sum(col("na_v") * (lit(2L) * col("cum") + col("t") + 1L))
            .as("r2_a"),
          sum(col("t") * col("t") * col("t") - col("t"))
            .as("tie_term"))
        .select(col("n_a"), col("n_b"), col("tie_term"),
          (col("r2_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
          (col("n_a") + col("n_b")).as("nn"))
      // z² = (D/2)² / Var with D = u2_a − nA·nB and the tie-corrected
      // Var = nA·nB·(N(N−1)(N+1) − T)/(12N(N−1)); the 12/4 collapses
      // into the 3 in K. The single product K·D² overflows
      // DECIMAL(38,0) near N ~ 10⁷ (found LOUDLY at the 100× events
      // fixture), so the floor is taken by STAGED exact division:
      // D² = q·B + r against B = nA·nB first, then
      //   floor(K·D²/(B·C)) = floor(K·q/C) + floor((xr·B + K·r)/(B·C))
      // with xr = K·q mod C — algebraically the same floor, every
      // intermediate ≤ ~10³⁴ up to N ≈ 5·10⁷ (hash-exact at the 100×
      // fixture's 8M samples; past the bound ANSI still fails loudly,
      // never silently wrong).
      agg
        .withColumn("dd", expr(s"cast(u2_a - n_a * n_b as $d)" +
          s" * cast(u2_a - n_a * n_b as $d)"))
        .withColumn("bb", expr(s"cast(n_a as $d) * cast(n_b as $d)"))
        .withColumn("cc", expr(s"cast(nn + 1 as $d) * cast(nn as $d)" +
          s" * cast(nn - 1 as $d) - cast(tie_term as $d)"))
        .withColumn("kk", expr(s"cast(3 as $d) * cast(nn as $d)" +
          s" * cast(nn - 1 as $d) * 1000000"))
        .withColumn("qq", expr("dd div bb"))
        .withColumn("rr", expr(s"dd - cast(qq as $d) * bb"))
        .withColumn("kq", expr(s"kk * cast(qq as $d)"))
        .withColumn("xx", expr("kq div cc"))
        .withColumn("xr", expr(s"kq - cast(xx as $d) * cc"))
        .withColumn("yy", expr("(xr * bb + kk * rr) div (bb * cc)"))
        .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
          when(col("u2_a") > col("n_a") * col("n_b"), 1)
            .when(col("u2_a") < col("n_a") * col("n_b"), -1)
            .otherwise(0).as("direction"),
          (col("xx") + col("yy")).cast("long").as("z2_e6"))
    },
      """WITH ev AS (
        |  SELECT (event_type = 'purchase')::BIGINT AS is_a,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |byv AS (SELECT v, sum(is_a)::BIGINT AS na_v,
        |    sum(1 - is_a)::BIGINT AS nb_v, count(*)::BIGINT AS t
        |  FROM ev GROUP BY 1),
        |rk AS (SELECT v, na_v, nb_v, t,
        |    coalesce(sum(t) OVER (ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::BIGINT AS cum
        |  FROM byv),
        |ag AS (SELECT sum(na_v)::BIGINT AS n_a, sum(nb_v)::BIGINT
        |      AS n_b,
        |    sum(na_v * (2 * cum + t + 1))::BIGINT AS r2_a,
        |    sum(t * t * t - t)::BIGINT AS tie_term FROM rk),
        |fin AS (SELECT n_a, n_b, tie_term,
        |    (r2_a - n_a * (n_a + 1))::BIGINT AS u2_a,
        |    (n_a + n_b)::BIGINT AS nn FROM ag),
        |f2 AS (SELECT n_a, n_b, u2_a, tie_term, nn,
        |    (u2_a - n_a * n_b)::HUGEINT * (u2_a - n_a * n_b) AS dd,
        |    n_a::HUGEINT * n_b AS bb,
        |    (nn + 1)::HUGEINT * nn * (nn - 1) - tie_term AS cc,
        |    3::HUGEINT * nn * (nn - 1) * 1000000 AS kk
        |  FROM fin),
        |s1 AS (SELECT *, dd // bb AS qq, dd % bb AS rr FROM f2),
        |s2 AS (SELECT *, kk * qq AS kq FROM s1),
        |s3 AS (SELECT *, kq // cc AS xx, kq % cc AS xr FROM s2)
        |SELECT n_a, n_b, u2_a, tie_term,
        |  (CASE WHEN u2_a > n_a * n_b THEN 1
        |        WHEN u2_a < n_a * n_b THEN -1 ELSE 0 END)::INT
        |    AS direction,
        |  (xx + (xr * bb + kk * rr) // (bb * cc))::BIGINT AS z2_e6
        |FROM s3""".stripMargin),

    QueryDef("events_anova_f", (s, dir) => {
      // one-way ANOVA F (Fisher) — the PARAMETRIC k-sample twin of
      // events_kruskal_wallis (same three samples; KW tests rank
      // distributions, F tests means under equal-variance normality —
      // a pipeline wants both because they disagree exactly when the
      // data is heavy-tailed). Exact integers end to end: per-group
      // n_g, S_g = Σcents (longs; bound stated — S_g ≤ 9·10¹⁸ cents),
      // Q = Σcents² in DECIMAL(38,0) FROM BIRTH (cents² ~ 10¹² × 10⁸
      // rows overflows a long — the profile_abc lesson applied at
      // design time); the between/within sums of squares use the KW
      // exact floor decomposition floor(S²/n) = a²n + 2aρ + ⌊ρ²/n⌋
      // so every division quotient fits a long while products stay in
      // pure-multiply decimals. Each floor loses < 1 cent² —
      // identically in both engines. Verdict against the F(2, ∞)
      // critical value 2.9957 (α = 0.05; df₂ ≥ 10⁵ at every gated
      // fixture, where the asymptote is exact to 5 decimals).
      // Degenerate guards (KW convention): missing group or zero
      // within-variance → defined F=0/reject=0 row under `ok`.
      val d = "decimal(38,0)"
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view", "click"))
        .select(
          when(col("event_type") === "purchase", 0L)
            .when(col("event_type") === "view", 1L)
            .otherwise(2L).as("g"),
          round(col("value") * 100, 0).cast("long").as("v"))
      def gsum(gi: Int, e: String) =
        expr(s"sum(case when g = $gi then $e else 0L end)")
      val agg = ev.agg(
        gsum(0, "1L").as("n0"), gsum(1, "1L").as("n1"),
        gsum(2, "1L").as("n2"),
        gsum(0, "v").as("s0"), gsum(1, "v").as("s1"),
        gsum(2, "v").as("s2"),
        expr(s"sum(cast(v as $d) * v)").as("q"))
      // floor(S²/n) decomposed: a = S div n, r = S − a·n
      def tg(sC: String, nC: String) =
        s"(cast($sC div greatest($nC, 1L) as $d)" +
          s" * ($sC div greatest($nC, 1L)) * $nC" +
          s" + 2 * cast($sC div greatest($nC, 1L) as $d)" +
          s" * ($sC - ($sC div greatest($nC, 1L)) * $nC)" +
          s" + cast(($sC - ($sC div greatest($nC, 1L)) * $nC)" +
          s" * ($sC - ($sC div greatest($nC, 1L)) * $nC)" +
          s" div greatest($nC, 1L) as $d))"
      agg
        .withColumn("nn", col("n0") + col("n1") + col("n2"))
        .withColumn("ss", col("s0") + col("s1") + col("s2"))
        .withColumn("tsum", expr(s"${tg("s0", "n0")} + ${tg("s1", "n1")}" +
          s" + ${tg("s2", "n2")}"))
        .withColumn("gg", expr(tg("ss", "nn")))
        .withColumn("ssb", expr(s"tsum - gg"))
        .withColumn("ssw", expr(s"q - tsum"))
        .withColumn("ok", col("n0") > 0 && col("n1") > 0 &&
          col("n2") > 0 && col("nn") > 3 &&
          expr(s"ssw > cast(0 as $d)"))
        .withColumn("f_e6", when(col("ok"),
          expr(s"cast(ssb * (nn - 3) * 1000000 div (ssw * 2)" +
            s" as long)")).otherwise(0L))
        .select(col("n0").as("n_purchase"), col("n1").as("n_view"),
          col("n2").as("n_click"), col("f_e6"),
          when(col("ok") && col("f_e6") >= 2995733L, 1L)
            .otherwise(0L).as("reject_05"))
    }, {
      // Oracle for `events_anova_f`: the same per-group sums, HUGEINT
      // Σv², the identical floor decomposition of S²/n, and the same
      // staged integral division — engine-identical to the last cent².
      def tg(sC: String, nC: String): String = {
        val a = s"($sC // greatest($nC, 1))"
        val r = s"($sC - $a * $nC)"
        s"($a::HUGEINT * $a * $nC + 2 * $a::HUGEINT * $r" +
          s" + ($r * $r // greatest($nC, 1))::HUGEINT)"
      }
      s"""WITH ev AS MATERIALIZED (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 0
         |      WHEN event_type = 'view' THEN 1 ELSE 2 END AS g,
         |    CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events
         |  WHERE event_type IN ('purchase', 'view', 'click')),
         |a AS (
         |  SELECT
         |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         |    sum(CASE WHEN g = 0 THEN v ELSE 0 END)::BIGINT AS s0,
         |    sum(CASE WHEN g = 1 THEN v ELSE 0 END)::BIGINT AS s1,
         |    sum(CASE WHEN g = 2 THEN v ELSE 0 END)::BIGINT AS s2,
         |    sum(v::HUGEINT * v) AS q
         |  FROM ev),
         |b AS (
         |  SELECT n0, n1, n2, (n0 + n1 + n2)::BIGINT AS nn,
         |    (s0 + s1 + s2)::BIGINT AS ss, s0, s1, s2, q
         |  FROM a),
         |c AS (
         |  SELECT n0, n1, n2, nn, q,
         |    (${tg("s0", "n0")} + ${tg("s1", "n1")}
         |      + ${tg("s2", "n2")}) AS tsum,
         |    ${tg("ss", "nn")} AS gg
         |  FROM b),
         |e AS (
         |  SELECT n0, n1, n2, nn, (tsum - gg) AS ssb, (q - tsum) AS ssw
         |  FROM c),
         |f AS (
         |  SELECT n0, n1, n2,
         |    (n0 > 0 AND n1 > 0 AND n2 > 0 AND nn > 3 AND ssw > 0)
         |      AS ok,
         |    CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0 AND nn > 3
         |        AND ssw > 0
         |      THEN (ssb * (nn - 3) * 1000000 // (ssw * 2))::BIGINT
         |      ELSE 0 END AS f_e6
         |  FROM e)
         |SELECT n0 AS n_purchase, n1 AS n_view, n2 AS n_click, f_e6,
         |  CASE WHEN ok AND f_e6 >= 2995733 THEN 1 ELSE 0 END::BIGINT
         |    AS reject_05
         |FROM f""".stripMargin
    }),

    QueryDef("events_kruskal_wallis", (s, dir) => {
      // Kruskal–Wallis H — the k-SAMPLE extension of
      // events_mann_whitney (one-way ANOVA on ranks): do purchase,
      // view AND click values share a distribution? Same exact-integer
      // machinery as MW: one rollup to the DISTINCT-cents frame,
      // 2×-scaled midranks (2·cum + t + 1), tie term Σ(t³−t), and the
      // tie-corrected H = [3·ΣR2²/n_g/(N(N+1)) − 3(N+1)] · (N³−N)/C
      // in e6 via the SAME staged DECIMAL(38,0) division that fixed
      // MW's overflow (every intermediate ≤ ~10³⁵ to N ≈ 10⁷).
      // Two floor-truncation artifacts, stated: the per-group
      // w_g div n_g drops Σr_g/n_g < 3 e6-grains pre-division-by-
      // N(N+1) (≤ 3/(N(N+1)) of a grain after), and P clamps at 0
      // (mathematically H ≥ 0; the clamp only removes the ≤3-unit
      // floor residue at exact rank equality, and keeps every operand
      // non-negative so Spark trunc-div ≡ DuckDB floor-div). Verdict
      // column: reject at α=0.05 against the χ²(df=2) critical value.
      val d = "decimal(38,0)"
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view", "click"))
        .select(
          when(col("event_type") === "purchase", 0L)
            .when(col("event_type") === "view", 1L)
            .otherwise(2L).as("g"),
          round(col("value") * 100, 0).cast("long").as("v"))
      val byV = ev.groupBy("v").agg(
          sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === 2L, 1L).otherwise(0L)).as("c2"))
        .withColumn("t", col("c0") + col("c1") + col("c2"))
      val wCum = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = byV
        .withColumn("cum", coalesce(sum(col("t")).over(wCum), lit(0L)))
        .withColumn("m2", lit(2L) * col("cum") + col("t") + 1L)
      // the tie term sums t³ per DISTINCT value — a hot cents value
      // holding >2.1M rows (clicks at 10M events) overflows a long,
      // found LOUDLY at the 100× fixture: it lives in DECIMAL(38,0)
      // from birth, and the output reports the bounded tie FRACTION
      // (ppm of N³−N) instead of the raw sum
      val agg = ranked.agg(
        sum("c0").as("n0"), sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c0") * col("m2")).as("r0"),
        sum(col("c1") * col("m2")).as("r1"),
        sum(col("c2") * col("m2")).as("r2"),
        sum(expr(s"cast(t as $d) * cast(t as $d) * cast(t as $d)" +
          s" - cast(t as $d)")).as("tie_term"))
      // Spark's integral `div` returns LONG whatever the operand type,
      // so the naive (3e6·r²) div n quotient (~10²⁶ at 6M samples)
      // overflows — found LOUDLY at the 100× fixture. The floor
      // decomposes exactly instead: with a = r div n, ρ = r mod n,
      // floor(r²/n) = a²n + 2aρ + floor(ρ²/n) — every div quotient
      // fits a long (a ≲ 2N, ρ²/n < n), the big values live only in
      // pure-multiply decimals. S = 3e6·Σ floor(r_g²/n_g) drops ≤
      // 3·(3e6−1) pre-division-by-N(N+1) — identical in both engines
      // and < 1 e6-grain of H for N ≥ 250.
      // degenerate guards (ADVICE r10): a fixture missing one of the
      // three event types gives n_g = 0, an all-tied value column
      // gives cc = ee − tie_term = 0 (and nn ≤ 1 gives ee = 0) —
      // every divisor gets a clamped-to-1 twin and the verdict columns
      // collapse to a DEFINED H = 0 / reject = 0 under `ok`, so both
      // engines return the same degenerate row instead of failing
      // divergently (Spark ANSI DIVIDE_BY_ZERO vs DuckDB // error).
      // On any fixture with all three types and at least two distinct
      // values the clamps are identity — output unchanged.
      val qg = (g: Int) =>
        s"cast(a$g as $d) * cast(a$g as $d) * cast(n$g as $d)" +
          s" + cast(2 as $d) * cast(a$g as $d) * cast(o$g as $d)" +
          s" + cast(o$g * o$g div greatest(n$g, 1L) as $d)"
      agg
        .withColumn("n0", coalesce(col("n0"), lit(0L)))
        .withColumn("n1", coalesce(col("n1"), lit(0L)))
        .withColumn("n2", coalesce(col("n2"), lit(0L)))
        .withColumn("r0", coalesce(col("r0"), lit(0L)))
        .withColumn("r1", coalesce(col("r1"), lit(0L)))
        .withColumn("r2", coalesce(col("r2"), lit(0L)))
        .withColumn("tie_term",
          coalesce(col("tie_term"), lit(0).cast(d)))
        .withColumn("nn", col("n0") + col("n1") + col("n2"))
        .withColumn("a0", expr("r0 div greatest(n0, 1L)"))
        .withColumn("o0", expr("r0 - a0 * n0"))
        .withColumn("a1", expr("r1 div greatest(n1, 1L)"))
        .withColumn("o1", expr("r1 - a1 * n1"))
        .withColumn("a2", expr("r2 div greatest(n2, 1L)"))
        .withColumn("o2", expr("r2 - a2 * n2"))
        .withColumn("s", expr(s"cast(3000000 as $d)" +
          s" * ((${qg(0)}) + (${qg(1)}) + (${qg(2)}))"))
        .withColumn("p", expr(s"greatest(cast(s as $d)" +
          s" - cast(3000000 as $d) * cast(nn as $d)" +
          s" * cast(nn + 1 as $d) * cast(nn + 1 as $d)," +
          s" cast(0 as $d))"))
        .withColumn("bb", expr(s"cast(nn as $d) * cast(nn + 1 as $d)"))
        .withColumn("bbs", expr(s"greatest(bb, cast(1 as $d))"))
        .withColumn("ee", expr(s"cast(nn as $d) * cast(nn as $d)" +
          s" * cast(nn as $d) - cast(nn as $d)"))
        .withColumn("cc", expr(s"cast(ee as $d)" +
          s" - cast(tie_term as $d)"))
        .withColumn("ccs", expr(s"greatest(cc, cast(1 as $d))"))
        .withColumn("ok", col("n0") > 0 && col("n1") > 0 &&
          col("n2") > 0 && col("cc") > 0)
        .withColumn("qq", expr("p div bbs"))
        .withColumn("rr", expr(s"p - cast(qq as $d) * bbs"))
        .withColumn("qe", expr(s"cast(qq as $d) * ee"))
        .withColumn("xx", expr("qe div ccs"))
        .withColumn("xr", expr(s"qe - cast(xx as $d) * ccs"))
        .withColumn("yy", expr("(xr * bbs + rr * ee) div (bbs * ccs)"))
        .select(col("n0").as("n_purchase"), col("n1").as("n_view"),
          col("n2").as("n_click"),
          when(col("ee") > 0,
            expr(s"cast((cast(tie_term as $d) * 1000000)" +
              s" div greatest(ee, cast(1 as $d)) as long)"))
            .otherwise(0L).as("tie_ppm"),
          when(col("ok"), (col("xx") + col("yy")).cast("long"))
            .otherwise(0L).as("h_e6"),
          when(col("ok") &&
            (col("xx") + col("yy")).cast("long") >= 5991465L, 1L)
            .otherwise(0L).as("reject_05"))
    },
      """WITH ev AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 0
        |      WHEN event_type = 'view' THEN 1 ELSE 2 END::BIGINT AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events
        |  WHERE event_type IN ('purchase', 'view', 'click')),
        |byv AS (SELECT v,
        |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS c2,
        |    count(*)::BIGINT AS t
        |  FROM ev GROUP BY 1),
        |rk AS (SELECT c0, c1, c2, t,
        |    2 * coalesce(sum(t) OVER (ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::BIGINT + t + 1 AS m2
        |  FROM byv),
        |ag AS (SELECT coalesce(sum(c0), 0)::BIGINT AS n0,
        |    coalesce(sum(c1), 0)::BIGINT AS n1,
        |    coalesce(sum(c2), 0)::BIGINT AS n2,
        |    coalesce(sum(c0 * m2), 0)::BIGINT AS r0,
        |    coalesce(sum(c1 * m2), 0)::BIGINT AS r1,
        |    coalesce(sum(c2 * m2), 0)::BIGINT AS r2,
        |    coalesce(sum(t::HUGEINT * t * t - t), 0)::HUGEINT
        |      AS tie_term FROM rk),
        |f0 AS (SELECT *,
        |    r0 // greatest(n0, 1) AS a0, r0 % greatest(n0, 1) AS o0,
        |    r1 // greatest(n1, 1) AS a1, r1 % greatest(n1, 1) AS o1,
        |    r2 // greatest(n2, 1) AS a2, r2 % greatest(n2, 1) AS o2
        |  FROM ag),
        |f1 AS (SELECT *, (n0 + n1 + n2)::HUGEINT AS nn,
        |    3000000::HUGEINT * (
        |      (a0::HUGEINT * a0 * n0 + 2::HUGEINT * a0 * o0
        |        + (o0 * o0) // greatest(n0, 1))
        |      + (a1::HUGEINT * a1 * n1 + 2::HUGEINT * a1 * o1
        |        + (o1 * o1) // greatest(n1, 1))
        |      + (a2::HUGEINT * a2 * n2 + 2::HUGEINT * a2 * o2
        |        + (o2 * o2) // greatest(n2, 1))) AS s
        |  FROM f0),
        |f2 AS (SELECT *, greatest(s - 3000000::HUGEINT * nn
        |      * (nn + 1) * (nn + 1), 0::HUGEINT) AS p,
        |    nn * (nn + 1) AS bb,
        |    greatest(nn * (nn + 1), 1::HUGEINT) AS bbs,
        |    nn * nn * nn - nn AS ee FROM f1),
        |f3 AS (SELECT *, ee - tie_term AS cc,
        |    greatest(ee - tie_term, 1::HUGEINT) AS ccs,
        |    p // bbs AS qq, p % bbs AS rr FROM f2),
        |f4 AS (SELECT *, qq * ee AS qe,
        |    (n0 > 0 AND n1 > 0 AND n2 > 0 AND ee - tie_term > 0)
        |      AS ok FROM f3),
        |f5 AS (SELECT *, qe // ccs AS xx, qe % ccs AS xr FROM f4)
        |SELECT n0 AS n_purchase, n1 AS n_view, n2 AS n_click,
        |  CASE WHEN ee > 0 THEN
        |    ((tie_term * 1000000) // greatest(ee, 1::HUGEINT))::BIGINT
        |    ELSE 0 END AS tie_ppm,
        |  CASE WHEN ok THEN
        |    (xx + (xr * bbs + rr * ee) // (bbs * ccs))::BIGINT
        |    ELSE 0 END AS h_e6,
        |  CASE WHEN ok AND xx + (xr * bbs + rr * ee) // (bbs * ccs)
        |    >= 5991465 THEN 1 ELSE 0 END::BIGINT AS reject_05
        |FROM f5""".stripMargin),

    QueryDef("events_concurrency", (s, dir) => {
      // sweep-line max concurrency: sessionize each user's day (30-min
      // gap rule), explode sessions to +1/-1 boundary events, and take
      // the max of the running sum per day — "how many sessions were
      // open at once", the load number a capacity planner actually
      // wants and a naive per-hour count gets wrong. All integer
      // microsecond arithmetic. Ties: starts sort before ends at the
      // same microsecond (touching sessions count as concurrent), and
      // the running MAX is invariant to order within equal (t, delta),
      // so the sweep is deterministic. Scale: sessionization windows
      // are (user, day)-keyed; the sweep window is day-partitioned —
      // boundary rows per day are session-bounded, far below raw
      // events.
      val ev = t(s, dir, "events").select(col("user_id"),
        datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"),
        unix_micros(col("ts")).as("us"))
      val wu = Window.partitionBy("user_id", "day").orderBy("us")
      val sess = ev
        .withColumn("prev", lag("us", 1).over(wu))
        .withColumn("new_sess",
          (col("prev").isNull ||
            col("us") - col("prev") > 30L * 60 * 1000000).cast("long"))
        .withColumn("sid", sum("new_sess").over(wu))
        .groupBy("user_id", "day", "sid")
        .agg(min("us").as("st"), max("us").as("en"))
        .localCheckpoint(true) // both boundary projections read it
      val bounds = sess.select(col("day"), col("st").as("t"),
          lit(1L).as("delta"))
        .unionByName(sess.select(col("day"), col("en").as("t"),
          lit(-1L).as("delta")))
      val ws = Window.partitionBy("day")
        .orderBy(col("t").asc, col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds.withColumn("open", sum("delta").over(ws))
        .groupBy("day")
        .agg(expr("count(1) div 2").as("n_sessions"),
          max("open").as("max_concurrent"))
    },
      """WITH ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    epoch_us(ts) AS us
        |  FROM events),
        |lagd AS (
        |  SELECT user_id, day, us, lag(us) OVER (
        |    PARTITION BY user_id, day ORDER BY us) AS prev
        |  FROM ev),
        |marked AS (
        |  SELECT user_id, day, us,
        |    (CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END)::BIGINT AS new_sess
        |  FROM lagd),
        |sess AS MATERIALIZED (
        |  SELECT user_id, day, sid, min(us) AS st, max(us) AS en
        |  FROM (SELECT user_id, day, us, sum(new_sess) OVER (
        |      PARTITION BY user_id, day ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |    FROM marked)
        |  GROUP BY 1, 2, 3),
        |bounds AS (
        |  SELECT day, st AS t, 1::BIGINT AS delta FROM sess
        |  UNION ALL
        |  SELECT day, en AS t, -1::BIGINT AS delta FROM sess),
        |swept AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day
        |    ORDER BY t ASC, delta DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM bounds)
        |SELECT day, (count(*) // 2)::BIGINT AS n_sessions,
        |  max(open)::BIGINT AS max_concurrent
        |FROM swept GROUP BY 1""".stripMargin),

    QueryDef("events_fdr_bh", (s, dir) => {
      // Benjamini–Hochberg FDR control across a FAMILY of tests — the
      // multiple-comparisons discipline the single-metric A/B queries
      // don't exercise: 20 segments (event type × 6-hour bucket), each
      // a Welch z-test of weekend-vs-weekday mean spend. Moment sums
      // are exact integers (cents, cents²); each segment touches
      // doubles in ONE deterministic expression (z, then the
      // Abramowitz–Stegun 7.1.26 erfc for the two-sided p), rounds to
      // fixed point, and the BH step-up runs entirely on e9 LONGS
      // (adj_i = min_{j≥i} floor(p_j·m/j), a reverse running min) —
      // so the adjusted p-values and reject set are hash-exact.
      // Weekend is pure arithmetic (2024-01-01 is a Monday; day%7 ∈
      // {5,6}), no engine dow() semantics involved. Scale: one
      // map-side-combined rollup to 40 moment rows; everything after
      // is constant-size.
      val d = "decimal(38,0)"
      val seg = t(s, dir, "events")
        .select(col("event_type"),
          expr("cast(hour(ts) as long) div 6").as("bucket"),
          (pmod(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")), lit(7)) >= 5)
            .cast("long").as("we"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "bucket", "we")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sv"),
          sum(col("cents").cast(d) * col("cents").cast(d)).as("qv"))
      val wd = seg.filter(col("we") === 0)
        .select(col("event_type"), col("bucket"), col("n").as("n1"),
          col("sv").as("s1"), col("qv").as("q1"))
      val wePart = seg.filter(col("we") === 1)
        .select(col("event_type"), col("bucket"), col("n").as("n2"),
          col("sv").as("s2"), col("qv").as("q2"))
      val m = wd.join(wePart, Seq("event_type", "bucket"))
        .withColumn("z", expr(
          """(s1 / cast(n1 as double) - s2 / cast(n2 as double)) /
            |sqrt(
            |  ((cast(q1 as double) - cast(s1 as double) * s1 / n1)
            |     / (n1 - 1)) / n1 +
            |  ((cast(q2 as double) - cast(s2 as double) * s2 / n2)
            |     / (n2 - 1)) / n2)""".stripMargin))
        // two-sided p = erfc(|z|/√2), A&S 7.1.26 (same literal
        // constants in the oracle — each step is IEEE-exact)
        .withColumn("x", expr("abs(z) / sqrt(2.0)"))
        .withColumn("tt", expr("1.0 / (1.0 + 0.3275911 * x)"))
        .withColumn("p", expr(
          """(0.254829592 * tt - 0.284496736 * tt * tt
            | + 1.421413741 * tt * tt * tt
            | - 1.453152027 * tt * tt * tt * tt
            | + 1.061405429 * tt * tt * tt * tt * tt)
            | * exp(-x * x)""".stripMargin))
        .select(col("event_type"), col("bucket"), col("n1"), col("n2"),
          expr("cast(round(z * 1000000.0) as long)").as("z_e6"),
          expr("cast(round(p * 1000000000.0) as long)").as("p_e9"))
      val nTests = m.count()
      val wRank = Window.orderBy(col("p_e9").asc,
        col("event_type").asc, col("bucket").asc)
      val wMin = Window.orderBy(col("p_e9").desc,
          col("event_type").desc, col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("bh_adj_e9",
          least(min(expr(s"p_e9 * $nTests div rank")).over(wMin),
            lit(1000000000L)))
        .withColumn("reject",
          (col("bh_adj_e9") <= 100000000L).cast("long"))
        .select("event_type", "bucket", "n1", "n2", "z_e6", "p_e9",
          "rank", "bh_adj_e9", "reject")
    },
      """WITH seg AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) // 6 AS bucket,
        |    (CASE WHEN (datediff('day', DATE '2024-01-01', ts::DATE)
        |        % 7) >= 5 THEN 1 ELSE 0 END)::BIGINT AS we,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |mo AS (
        |  SELECT event_type, bucket, we, count(*)::BIGINT AS n,
        |    sum(cents)::BIGINT AS sv,
        |    sum(cents::HUGEINT * cents::HUGEINT)::HUGEINT AS qv
        |  FROM seg GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT a.event_type, a.bucket, a.n AS n1, a.sv AS s1,
        |    a.qv AS q1, b.n AS n2, b.sv AS s2, b.qv AS q2
        |  FROM mo a JOIN mo b
        |    ON a.event_type = b.event_type AND a.bucket = b.bucket
        |    AND a.we = 0 AND b.we = 1),
        |zz AS (
        |  SELECT event_type, bucket, n1, n2,
        |    (s1 / n1::DOUBLE - s2 / n2::DOUBLE) /
        |    sqrt(
        |      ((q1::DOUBLE - s1::DOUBLE * s1 / n1) / (n1 - 1)) / n1 +
        |      ((q2::DOUBLE - s2::DOUBLE * s2 / n2) / (n2 - 1)) / n2)
        |      AS z
        |  FROM j),
        |pp AS MATERIALIZED (
        |  SELECT event_type, bucket, n1, n2,
        |    CAST(round(z * 1000000.0) AS BIGINT) AS z_e6,
        |    CAST(round(
        |      (0.254829592 * tt - 0.284496736 * tt * tt
        |       + 1.421413741 * tt * tt * tt
        |       - 1.453152027 * tt * tt * tt * tt
        |       + 1.061405429 * tt * tt * tt * tt * tt)
        |      * exp(-x * x) * 1000000000.0) AS BIGINT) AS p_e9
        |  FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt
        |    FROM (SELECT *, abs(z) / sqrt(2.0) AS x FROM zz))),
        |cnt AS (SELECT count(*)::BIGINT AS m FROM pp),
        |rk AS (
        |  SELECT pp.*, cnt.m, row_number() OVER (
        |    ORDER BY p_e9 ASC, event_type ASC, bucket ASC) AS rank
        |  FROM pp CROSS JOIN cnt)
        |SELECT event_type, bucket, n1, n2, z_e6, p_e9, rank,
        |  least(min(p_e9 * m // rank) OVER (
        |    ORDER BY p_e9 DESC, event_type DESC, bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    1000000000)::BIGINT AS bh_adj_e9,
        |  (CASE WHEN least(min(p_e9 * m // rank) OVER (
        |    ORDER BY p_e9 DESC, event_type DESC, bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    1000000000) <= 100000000 THEN 1 ELSE 0 END)::BIGINT
        |    AS reject
        |FROM rk""".stripMargin),

    QueryDef("events_seq_mining", (s, dir) => {
      // sequential-pattern support (the PrefixSpan counting core):
      // for every event-type triple a→b→c, how many users exhibit it
      // as a (possibly gapped) SUBSEQUENCE — distinct from
      // events_top_paths' contiguous windows. Existence is decided by
      // the greedy first-occurrence chain (first a, first b after it,
      // first c after that), which is exact for subsequence existence
      // and turns the naive O(len³) per-user scan into three keyed
      // joins whose intermediates are (users × type²)-bounded — the
      // shape that survives 100 TB because nothing ever enumerates
      // position triples. Ties in the event order break by event_id.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("et"),
          row_number().over(Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))).as("rn"))
        .localCheckpoint(true) // read three times (first/pair/triple)
      val firstA = ev.groupBy(col("user_id"), col("et").as("a"))
        .agg(min("rn").as("fa"))
      val pairAB = firstA.join(ev, Seq("user_id"))
        .filter(col("rn") > col("fa"))
        .groupBy(col("user_id"), col("a"), col("et").as("b"))
        .agg(min("rn").as("fab"))
      val support = pairAB.join(ev, Seq("user_id"))
        .filter(col("rn") > col("fab"))
        .select(col("user_id"), col("a"), col("b"),
          col("et").as("c")).distinct()
        .groupBy("a", "b", "c")
        .agg(countDistinct("user_id").as("support"))
      support.orderBy(col("support").desc, col("a").asc, col("b").asc,
          col("c").asc)
        .limit(20)
    },
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, event_type AS et, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |fa AS (
        |  SELECT user_id, et AS a, min(rn)::BIGINT AS fa
        |  FROM ev GROUP BY 1, 2),
        |pab AS (
        |  SELECT f.user_id, f.a, e.et AS b, min(e.rn)::BIGINT AS fab
        |  FROM fa f JOIN ev e
        |    ON e.user_id = f.user_id AND e.rn > f.fa
        |  GROUP BY 1, 2, 3),
        |tri AS (
        |  SELECT DISTINCT p.user_id, p.a, p.b, e.et AS c
        |  FROM pab p JOIN ev e
        |    ON e.user_id = p.user_id AND e.rn > p.fab),
        |sup AS (
        |  SELECT a, b, c, count(DISTINCT user_id)::BIGINT AS support
        |  FROM tri GROUP BY 1, 2, 3)
        |SELECT a, b, c, support FROM sup
        |ORDER BY support DESC, a ASC, b ASC, c ASC
        |LIMIT 20""".stripMargin),

    QueryDef("attribution_shapley", (s, dir) => {
      // exact SHAPLEY attribution over touch channels — the
      // cooperative-game credit split (Zhao et al. 2018) that
      // last-touch (events_attribution) structurally can't give:
      // v(S) = share of users converting with their touch set ⊆ S,
      // and each channel's value is the weighted marginal-contribution
      // sum over all 2³ coalitions. With 3 channels the factorial
      // weights are sixths, so φ·6N is pure integer arithmetic and
      // the e6 output is hash-exact; efficiency (Σφ = v(grand) −
      // v(∅)) is emitted as a checkable column. Scale: one user
      // rollup to 3 booleans + an 8-row broadcast coalition frame —
      // the cross join is coalition-bounded, never users × users.
      val per = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          max((col("event_type") === "view").cast("long")).as("hv"),
          max((col("event_type") === "click").cast("long")).as("hc"),
          max((col("event_type") === "signup").cast("long")).as("hs"),
          max((col("event_type") === "purchase").cast("long"))
            .as("conv"))
        .localCheckpoint(false) // coalition counts + N read it
      val nUsers = per.count() // the count materializes the blocks
      val coal = s.range(0, 8).select(
        (col("id") % 2).as("sv"),
        expr("id div 2 % 2").as("sc"),
        expr("id div 4 % 2").as("ss"))
      val cOfS = per.crossJoin(broadcast(coal))
        .filter(col("hv") <= col("sv") && col("hc") <= col("sc") &&
          col("hs") <= col("ss"))
        .groupBy("sv", "sc", "ss")
        .agg(sum("conv").as("cs"))
        .localCheckpoint(false) // three per-channel marginals read it
      // Shapley marginal weights for n=3, scaled by 3! = 6:
      // |S|=0 → 2, |S|=1 → 1, |S|=2 → 2
      def phi(ch: String): Column = {
        val others = Seq("sv", "sc", "ss").filterNot(_ == ch)
        val w = expr(s"case ${others(0)} + ${others(1)} " +
          "when 0 then 2 when 1 then 1 else 2 end")
        sum(when(col(ch) === 1, w * col("cs"))
          .otherwise(-(w * col("cs"))))
      }
      val num = cOfS.agg(phi("sv").as("nv"), phi("sc").as("nc"),
        phi("ss").as("ns"))
      num.select(
        lit(nUsers).as("n_users"),
        expr(s"nv * 1000000 div (6 * $nUsers)").as("phi_view_e6"),
        expr(s"nc * 1000000 div (6 * $nUsers)").as("phi_click_e6"),
        expr(s"ns * 1000000 div (6 * $nUsers)").as("phi_signup_e6"),
        expr(s"(nv + nc + ns) * 1000000 div (6 * $nUsers)")
          .as("efficiency_e6"))
    }, {
      def w(a: String, b: String) =
        s"(CASE $a + $b WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END)"
      def num(ch: String, o1: String, o2: String) =
        s"sum(CASE WHEN $ch = 1 THEN ${w(o1, o2)} * cs " +
          s"ELSE -(${w(o1, o2)} * cs) END)::BIGINT"
      s"""WITH per AS MATERIALIZED (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      ::BIGINT AS hv,
         |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      ::BIGINT AS hc,
         |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         |      ::BIGINT AS hs,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      ::BIGINT AS conv
         |  FROM events GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n_users FROM per),
         |coal AS (SELECT (i % 2)::BIGINT AS sv,
         |    (i // 2 % 2)::BIGINT AS sc, (i // 4 % 2)::BIGINT AS ss
         |  FROM range(0, 8) t(i)),
         |cs AS MATERIALIZED (
         |  SELECT c.sv, c.sc, c.ss, sum(p.conv)::BIGINT AS cs
         |  FROM per p CROSS JOIN coal c
         |  WHERE p.hv <= c.sv AND p.hc <= c.sc AND p.hs <= c.ss
         |  GROUP BY 1, 2, 3),
         |num AS (SELECT
         |  ${num("sv", "sc", "ss")} AS nv,
         |  ${num("sc", "sv", "ss")} AS nc,
         |  ${num("ss", "sv", "sc")} AS ns
         |  FROM cs)
         |SELECT nn.n_users,
         |  (nv * 1000000 // (6 * nn.n_users))::BIGINT AS phi_view_e6,
         |  (nc * 1000000 // (6 * nn.n_users))::BIGINT AS phi_click_e6,
         |  (ns * 1000000 // (6 * nn.n_users))::BIGINT AS phi_signup_e6,
         |  ((nv + nc + ns) * 1000000 // (6 * nn.n_users))::BIGINT
         |    AS efficiency_e6
         |FROM num CROSS JOIN nn""".stripMargin
    }),

    QueryDef("events_ar2", (s, dir) => {
      // AR(2) one-step forecast by Yule–Walker — the autoregressive
      // model class the smoothing family (EWMA/Holt/Holt-Winters)
      // doesn't cover. Everything is EXACT rational arithmetic:
      // centering clears denominators (X' = n·x − S, so x−x̄ = X'/n),
      // the lag-k autocovariance sums g0/g1/g2 are decimal(38,0)
      // integer sums over day pairs exactly 1 apart, and the YW
      // solutions φ₁ = g1(g0−g2)/(g0²−g1²), φ₂ = (g2·g0−g1²)/(g0²−g1²)
      // plus the forecast emit as integral divisions of those exact
      // decimals — no float ever touches the pipeline. Scale: one
      // map-side-combined daily rollup; the lag window runs on the
      // calendar-bounded daily frame.
      val d = "decimal(38,0)"
      val daily = t(s, dir, "events")
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val cent = daily.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), col("sx"),
          (col("x").cast(d) * col("n").cast(d) - col("sx").cast(d))
            .as("xc"))
      val wDay = Window.orderBy("day")
      val lagged = cent
        .withColumn("d1", lag("day", 1).over(wDay))
        .withColumn("x1", lag("xc", 1).over(wDay))
        .withColumn("d2", lag("day", 2).over(wDay))
        .withColumn("x2", lag("xc", 2).over(wDay))
      val g = lagged.agg(
        first("n").as("n"), first("sx").as("sx"),
        sum(col("xc") * col("xc")).as("g0"),
        sum(when(col("day") - col("d1") === 1, col("xc") * col("x1"))
          .otherwise(lit(0).cast(d))).as("g1"),
        sum(when(col("day") - col("d2") === 2, col("xc") * col("x2"))
          .otherwise(lit(0).cast(d))).as("g2"),
        max(struct(col("day"), col("xc"))).as("lst"),
        max(struct(col("d1").isNotNull, col("d1"), col("x1"))).as("prv"))
      g.select(col("n").as("n_days"),
          expr("sx * 100 div n").as("mean_e2"),
          expr("(g1 * (g0 - g2) * 1000000) div (g0 * g0 - g1 * g1)")
            .as("phi1_e6"),
          expr("((g2 * g0 - g1 * g1) * 1000000) div (g0 * g0 - g1 * g1)")
            .as("phi2_e6"),
          (expr("sx * 100 div n") +
            expr("""((g1 * (g0 - g2)) * lst.xc * 100
                   | + ((g2 * g0 - g1 * g1)) * prv.x1 * 100)
                   | div ((g0 * g0 - g1 * g1) * n)""".stripMargin))
            .as("forecast_e2"))
    },
      """WITH daily AS (
        |  SELECT datediff('day', DATE '2024-01-01', ts::DATE) AS day,
        |    count(*)::BIGINT AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
        |  FROM daily),
        |cent AS (
        |  SELECT day, n, sx,
        |    (x::HUGEINT * n::HUGEINT - sx::HUGEINT) AS xc
        |  FROM daily CROSS JOIN tot),
        |lagged AS (
        |  SELECT day, n, sx, xc,
        |    lag(day, 1) OVER (ORDER BY day) AS d1,
        |    lag(xc, 1) OVER (ORDER BY day) AS x1,
        |    lag(day, 2) OVER (ORDER BY day) AS d2,
        |    lag(xc, 2) OVER (ORDER BY day) AS x2
        |  FROM cent),
        |g AS (
        |  SELECT any_value(n) AS n, any_value(sx) AS sx,
        |    sum(xc * xc) AS g0,
        |    sum(CASE WHEN day - d1 = 1 THEN xc * x1
        |      ELSE 0::HUGEINT END) AS g1,
        |    sum(CASE WHEN day - d2 = 2 THEN xc * x2
        |      ELSE 0::HUGEINT END) AS g2,
        |    max_by(xc, day) AS lst_xc,
        |    max_by(x1, CASE WHEN d1 IS NOT NULL THEN day END) AS prv_x1
        |  FROM lagged)
        |SELECT n::BIGINT AS n_days,
        |  (sx * 100 // n)::BIGINT AS mean_e2,
        |  ((g1 * (g0 - g2) * 1000000) // (g0 * g0 - g1 * g1))::BIGINT
        |    AS phi1_e6,
        |  (((g2 * g0 - g1 * g1) * 1000000)
        |    // (g0 * g0 - g1 * g1))::BIGINT AS phi2_e6,
        |  ((sx * 100 // n) +
        |    ((g1 * (g0 - g2)) * lst_xc * 100
        |      + (g2 * g0 - g1 * g1) * prv_x1 * 100)
        |    // ((g0 * g0 - g1 * g1) * n))::BIGINT AS forecast_e2
        |FROM g""".stripMargin)
  )
}
