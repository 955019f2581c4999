package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Scale
import graft.functions.{Analytics, ExactGrid}
import graft.OracleSql.{Chain, hashLong, roundSpark, sig, u}
import graft.queries.QueryKit._

/** Data profiling and privacy: distribution statistics, goodness-of-fit
  * and independence tests, robust regressions, k-anonymity family and
  * differentially private releases.
  */
object ProfileQueries {

  /** Inverse-CDF threshold table for the ε=0.2 discrete Laplace
    * (two-sided geometric) mechanism, scaled to the 2⁴⁰ hash domain:
    * rows (noise k, lo, hi) with m ∈ [lo, hi) → noise k. Computed once
    * at query-build time; the SAME literals are baked into the Spark
    * plan and the DuckDB oracle, so the runtime has zero float ops.
    * Tail mass beyond |k|=25 (≈0.7%) is redistributed proportionally
    * across all buckets by the divide-by-total normalization (the
    * truncated pmf is renormalized, not folded into the extremes).
    */
  private[graft] lazy val dpGeomThresholds: Seq[(Long, Long, Long)] = {
    val alpha = math.exp(-0.2)
    cdfThresholds((-25 to 25).map(k =>
      k.toLong -> (1 - alpha) / (1 + alpha) * math.pow(alpha, math.abs(k))))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("privacy_t_closeness", (s, dir) => {
      // t-closeness audit (Li et al., ICDE'07) — the refinement after
      // [k-anonymity, l-diversity]: a quasi-group whose sensitive
      // DISTRIBUTION diverges from the global one leaks information
      // even when diverse. Categorical EMD = total-variation distance
      // = L1/2, in exact integer ppm over the full (group × priority)
      // grid (absent priorities contribute their global share). One
      // join + narrow rollups; the 5-value priority enum broadcasts.
      val j = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("o_orderpriority"))
        .localCheckpoint(true) // grid, group totals, global shares
      val cnt = j.groupBy("c_nationkey", "c_mktsegment",
        "o_orderpriority").agg(count(lit(1)).as("c"))
      val tot = j.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      val gcnt = j.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("gc"))
      val gtot = j.count()
      val grid = tot.crossJoin(broadcast(gcnt))
        .join(cnt, Seq("c_nationkey", "c_mktsegment", "o_orderpriority"),
          "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("diff", abs(
          expr("(c * 1000000L) div n") -
            expr(s"(gc * 1000000L) div ${gtot}L")))
      grid.groupBy("c_nationkey", "c_mktsegment")
        .agg(max(col("n")).as("n_orders"),
          expr("sum(diff) div 2").as("tvd_ppm"))
        .withColumn("compliant", (col("tvd_ppm") <= 300000).cast("int"))
    },
      """WITH j AS MATERIALIZED (
        |  SELECT c_nationkey, c_mktsegment, o_orderpriority
        |  FROM customer JOIN orders ON c_custkey = o_custkey),
        |cnt AS (SELECT c_nationkey, c_mktsegment, o_orderpriority,
        |    count(*)::BIGINT AS c
        |  FROM j GROUP BY 1, 2, 3),
        |tot AS (SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
        |  FROM j GROUP BY 1, 2),
        |gcnt AS (SELECT o_orderpriority, count(*)::BIGINT AS gc
        |  FROM j GROUP BY 1),
        |gt AS (SELECT count(*)::BIGINT AS g FROM j),
        |grid AS (
        |  SELECT t.c_nationkey, t.c_mktsegment, g.o_orderpriority,
        |    t.n, g.gc, coalesce(c.c, 0)::BIGINT AS c
        |  FROM tot t CROSS JOIN gcnt g
        |  LEFT JOIN cnt c ON c.c_nationkey = t.c_nationkey
        |    AND c.c_mktsegment = t.c_mktsegment
        |    AND c.o_orderpriority = g.o_orderpriority),
        |d AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    abs((c * 1000000) // n - (gc * 1000000) // gt.g) AS diff
        |  FROM grid CROSS JOIN gt)
        |SELECT c_nationkey, c_mktsegment, max(n)::BIGINT AS n_orders,
        |  (sum(diff) // 2)::BIGINT AS tvd_ppm,
        |  ((sum(diff) // 2) <= 300000)::INT AS compliant
        |FROM d GROUP BY 1, 2""".stripMargin),

    QueryDef("privacy_l_diversity", (s, dir) => {
      // l-diversity audit (Machanavajjhala et al., ICDE'06) — the
      // check k-anonymity misses: a quasi-identifier group whose
      // SENSITIVE attribute is uniform leaks it even at high k. Quasi
      // ids (nation, segment), sensitive = order priority; groups with
      // fewer than 3 distinct priorities are flagged. One join + one
      // two-level rollup, all narrow.
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          count_distinct(col("o_orderpriority")).as("l_div"))
        .withColumn("compliant", (col("l_div") >= 3).cast("int"))
    },
      """SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n_orders,
        |  count(DISTINCT o_orderpriority)::BIGINT AS l_div,
        |  (count(DISTINCT o_orderpriority) >= 3)::INT AS compliant
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2""".stripMargin),

    QueryDef("profile_key_skew", (s, dir) =>
      // join/agg planning diagnostic: per-key count distribution of the
      // orders fact on its customer key — skew ratio decides salting,
      // selfjoin_rows prices any within-key quadratic operator
      Scale.keySkewProfile(t(s, dir, "orders"), "o_custkey"),
      s"""WITH c AS (
        |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
        |a AS (
        |  SELECT count(*) AS n_keys, sum(cnt)::BIGINT AS n_rows,
        |    max(cnt) AS max_cnt,
        |    round(CAST(CAST(quantile_cont(cnt, 0.5) AS VARCHAR)
        |      AS DECIMAL(38,20)), 4)::DOUBLE AS p50_cnt,
        |    round(CAST(CAST(quantile_cont(cnt, 0.99) AS VARCHAR)
        |      AS DECIMAL(38,20)), 4)::DOUBLE AS p99_cnt,
        |    sum(cnt * cnt)::BIGINT AS selfjoin_rows
        |  FROM c)
        |SELECT n_keys, n_rows, max_cnt,
        |  ${OracleSql.eRatioE("n_rows", "n_keys", 10000L)} AS mean_cnt,
        |  p50_cnt, p99_cnt, selfjoin_rows,
        |  ${OracleSql.eRatioE("max_cnt * n_keys", "n_rows", 10000L)}
        |    AS skew_ratio
        |FROM a""".stripMargin),

    QueryDef("profile_iqr_outliers", (s, dir) => {
      // Tukey-fence outlier monitor per market segment: one exact
      // quantile pass reduces each segment to (q1, q3) — ROUNDED to
      // 4 dp BEFORE the fence arithmetic so both engines derive the
      // fences from identical doubles — then one broadcast-join
      // counting pass. No window, no second sort.
      val cust = t(s, dir, "customer")
      val fences = cust.groupBy("c_mktsegment").agg(
        round(expr("percentile(c_acctbal, 0.25)"), 4).as("q1"),
        round(expr("percentile(c_acctbal, 0.75)"), 4).as("q3"))
      val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
      val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
      cust.join(broadcast(fences), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          max(col("q1")).as("q1"), max(col("q3")).as("q3"),
          sum(when(col("c_acctbal") < lo, 1L).otherwise(0L))
            .as("n_low_outliers"),
          sum(when(col("c_acctbal") > hi, 1L).otherwise(0L))
            .as("n_high_outliers"))
    },
      """WITH f AS (
        |  SELECT c_mktsegment,
        |    round(quantile_cont(c_acctbal, 0.25), 4) AS q1,
        |    round(quantile_cont(c_acctbal, 0.75), 4) AS q3
        |  FROM customer GROUP BY 1)
        |SELECT c.c_mktsegment, count(*)::BIGINT AS n_cust, f.q1, f.q3,
        |  sum(CASE WHEN c.c_acctbal < f.q1 - 1.5 * (f.q3 - f.q1)
        |    THEN 1 ELSE 0 END)::BIGINT AS n_low_outliers,
        |  sum(CASE WHEN c.c_acctbal > f.q3 + 1.5 * (f.q3 - f.q1)
        |    THEN 1 ELSE 0 END)::BIGINT AS n_high_outliers
        |FROM customer c JOIN f USING (c_mktsegment)
        |GROUP BY 1, f.q1, f.q3""".stripMargin),

    locally {
      val nBins = 20
      QueryDef("profile_histogram", (s, dir) => {
        // equi-width histogram of order prices: one min/max reduce
        // broadcast back, then a map-only bin assignment and a
        // 20-row aggregate — the distribution-shape profiler (skew,
        // outlier mass, modality) a datasheet needs beyond min/max.
        // All rows share one IEEE width division, so binning is
        // bit-reproducible; the top edge folds into the last bin
        val mm = t(s, dir, "orders").agg(
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        val w = (col("hi") - col("lo")) / lit(nBins.toDouble)
        t(s, dir, "orders").crossJoin(broadcast(mm))
          .select(least(floor((col("o_totalprice") - col("lo")) / w),
            lit((nBins - 1).toDouble)).cast("int").as("bin"),
            col("lo"), w.as("w"))
          .select(col("bin"),
            round(col("lo") + col("bin") * col("w"), 4).as("bin_lo"))
          .groupBy("bin", "bin_lo")
          .agg(count(lit(1)).as("n"))
      },
        // Oracle for `profile_histogram`: identical one-division equi-width
        // binning (floor over the shared IEEE width, top edge folded into
        // the last bin), bin_lo recomputed per row then grouped.
        s"""WITH mm AS (
           |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
           |  FROM orders),
           |b AS (
           |  SELECT CAST(least(floor((o_totalprice - lo)
           |      / ((hi - lo) / $nBins.0)), ${nBins - 1}.0) AS INTEGER)
           |      AS bin,
           |    lo, (hi - lo) / $nBins.0 AS w
           |  FROM orders, mm)
           |SELECT bin, ${roundSpark("lo + bin * w", 4)} AS bin_lo,
           |  count(*) AS n
           |FROM b GROUP BY 1, 2""".stripMargin)
    },

    QueryDef("profile_numeric_stats", (s, dir) => {
      // generic column profiler: null/distinct/min/max per numeric
      // column in one pass over the unpivoted frame — the data-quality
      // datasheet for a relational feed (documents get corpus_report).
      // r15: spread the 3-column projection before the unpivot — the
      // fixture scan is one parquet row group, so the 3× unpivot and
      // the (column_name, v) partial hash aggregate (the query's whole
      // cost; ~700k distinct groups) ran on ONE task and anti-scaled
      // (driver c8/c32 ratio 0.45). Spreading only the three value
      // columns keeps the exchange narrow; at a real deployment the
      // scan already has ≥ parallelism splits and spread() no-ops.
      Tables.spread(
        t(s, dir, "lineitem")
          .select(col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice").as("l_extendedprice"),
            col("l_discount").as("l_discount")), "l_extendedprice")
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          "column_name", "v")
        .groupBy("column_name")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"),
          round(min("v"), 4).as("vmin"),
          round(max("v"), 4).as("vmax"))
    },
      """WITH u AS (
        |  SELECT 'l_quantity' AS column_name, l_quantity::DOUBLE AS v
        |  FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice
        |  FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        |SELECT column_name, count(*)::BIGINT AS n,
        |  sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |  count(DISTINCT v)::BIGINT AS n_distinct,
        |  round(min(v), 4) AS vmin, round(max(v), 4) AS vmax
        |FROM u GROUP BY 1""".stripMargin),

    QueryDef("analytics_linreg", (s, dir) => {
      // per-flag OLS of price (cents) on quantity from one-pass
      // decimal-exact sufficient statistics
      Analytics.linregByGroup(t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity").cast("long"),
        floor(col("l_extendedprice") * 100).cast("long"))
    }, {
      // Oracle for `analytics_linreg`: identical sufficient statistics in
      // HUGEINT, identical final IEEE association (num::DOUBLE/den::DOUBLE,
      // then (sy - slope*sx)/n), Spark-semantics rounding.
      val slope = "(n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE"
      s"""WITH m AS (
         |  SELECT l_returnflag,
         |    CAST(l_quantity AS BIGINT)::HUGEINT AS x,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT)::HUGEINT AS y
         |  FROM lineitem),
         |st AS (
         |  SELECT l_returnflag, count(*)::HUGEINT AS n,
         |    sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(x * y) AS sxy
         |  FROM m GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  ${roundSpark(slope, 6)} AS slope,
         |  ${roundSpark(s"(sy::DOUBLE - ($slope) * sx::DOUBLE) / n::DOUBLE", 2)} AS intercept
         |FROM st""".stripMargin
    }),

    QueryDef("profile_correlations", (s, dir) => {
      // pairwise Pearson r over scaled-integer measures, ONE scan for
      // all three pairs (shared sufficient statistics)
      Analytics.correlationPairs(t(s, dir, "lineitem"),
        Seq("qty" -> col("l_quantity").cast("long"),
          "price" -> floor(col("l_extendedprice") * 100).cast("long"),
          "disc" -> floor(col("l_discount") * 10000).cast("long")),
        Seq("qty" -> "price", "qty" -> "disc", "price" -> "disc"))
    }, {
      // Oracle for `profile_correlations`: one sufficient-statistics row
      // in HUGEINT, three long-form Pearson r values with the engine's
      // exact IEEE association (num::DOUBLE / sqrt(da::DOUBLE * db::DOUBLE)).
      def r(a: String, b: String): String = roundSpark(
        s"(n*s_${a}_$b - s_$a*s_$b)::DOUBLE / " +
          s"sqrt((n*s_${a}_$a - s_$a*s_$a)::DOUBLE * " +
          s"(n*s_${b}_$b - s_$b*s_$b)::DOUBLE)", 6)
      s"""WITH m AS (
         |  SELECT CAST(l_quantity AS BIGINT)::HUGEINT AS qty,
         |    CAST(floor(l_extendedprice * 100) AS BIGINT)::HUGEINT AS price,
         |    CAST(floor(l_discount * 10000) AS BIGINT)::HUGEINT AS disc
         |  FROM lineitem),
         |st AS (
         |  SELECT count(*)::HUGEINT AS n,
         |    sum(qty) AS s_qty, sum(price) AS s_price, sum(disc) AS s_disc,
         |    sum(qty * qty) AS s_qty_qty,
         |    sum(price * price) AS s_price_price,
         |    sum(disc * disc) AS s_disc_disc,
         |    sum(qty * price) AS s_qty_price,
         |    sum(qty * disc) AS s_qty_disc,
         |    sum(price * disc) AS s_price_disc
         |  FROM m)
         |SELECT 'qty_price' AS pair, ${r("qty", "price")} AS r FROM st
         |UNION ALL
         |SELECT 'qty_disc', ${r("qty", "disc")} FROM st
         |UNION ALL
         |SELECT 'price_disc', ${r("price", "disc")} FROM st""".stripMargin
    }),

    QueryDef("profile_equidepth", (s, dir) => {
      // equi-depth histogram of l_quantity per return flag WITHOUT a
      // per-row NTILE sort: one corpus-sized (flag, qty) count
      // aggregation, then prefix sums over the bounded distinct-value
      // frame (flags × 50 rows) assign bucket =
      // floor(cum_before · k / tot) — every distinct value lands
      // wholly in one bucket, counts stay exact longs
      val k = 4
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("cnt"))
      val wPre = Window.partitionBy("l_returnflag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("l_returnflag")
      g.withColumn("cum", coalesce(sum("cnt").over(wPre), lit(0L)))
        .withColumn("tot", sum("cnt").over(wAll))
        .withColumn("bucket", expr(s"(cum * $k) div tot"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(min("qty").as("qty_min"), max("qty").as("qty_max"),
          sum("cnt").as("n_rows"))
    },
      """WITH g AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (
        |  SELECT l_returnflag, qty, cnt,
        |    coalesce(sum(cnt) OVER (PARTITION BY l_returnflag
        |      ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::BIGINT AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag)::BIGINT AS tot
        |  FROM g)
        |SELECT l_returnflag, ((cum * 4) // tot)::BIGINT AS bucket,
        |  min(qty) AS qty_min, max(qty) AS qty_max,
        |  sum(cnt)::BIGINT AS n_rows
        |FROM b GROUP BY 1, 2""".stripMargin),

    QueryDef("profile_abc_classes", (s, dir) => {
      // ABC / Pareto classification: suppliers by cumulative revenue
      // share — A covers the first 80% of revenue, B to 95%, C the
      // tail. The corpus-sized pass is ONE supplier rollup; the
      // cumulative share runs on the bounded supplier frame
      // (dimension-sized at any scale), in exact integer ppm.
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"))
      val w = Window.orderBy(col("revenue_cents").desc,
        col("l_suppkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rev.select(sum("revenue_cents").as("tot"))
      // cum·1e6 in DECIMAL(38,0): the long product overflows once
      // total revenue passes ~9.2e12 cents — found LOUDLY by the
      // round-11 all-axes-10× refresh (ANSI ARITHMETIC_OVERFLOW at 6M
      // lineitem), the exact failure class the scale gates exist for
      rev.withColumn("cum", sum("revenue_cents").over(w))
        .crossJoin(broadcast(tot))
        .select(col("l_suppkey"), col("revenue_cents"),
          expr("cast(cast(cum as decimal(38,0)) * 1000000 div tot" +
            " as long)").as("cum_share_ppm"))
        .withColumn("abc_class",
          when(col("cum_share_ppm") <= 800000, "A")
            .when(col("cum_share_ppm") <= 950000, "B").otherwise("C"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l_suppkey, revenue_cents,
        |    sum(revenue_cents) OVER (ORDER BY revenue_cents DESC,
        |      l_suppkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum,
        |    (SELECT sum(revenue_cents)::BIGINT FROM rev) AS tot
        |  FROM rev)
        |SELECT l_suppkey, revenue_cents,
        |  ((cum::HUGEINT * 1000000) // tot)::BIGINT AS cum_share_ppm,
        |  CASE WHEN (cum::HUGEINT * 1000000) // tot <= 800000 THEN 'A'
        |       WHEN (cum::HUGEINT * 1000000) // tot <= 950000 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c""".stripMargin),

    QueryDef("profile_chi2_independence", (s, dir) => {
      // PER-CELL chi-square decomposition of event-type ×
      // day-of-week dependence — the drill-down companion of
      // [[profile_chi2]] (which reports the SUMMED statistic per
      // column pair): this emits each cell's observed count, expected
      // count (e2) and chi² contribution (e6), answering "WHICH
      // day×type cells drive the weekly-cycle dependence", which the
      // aggregate number cannot. Same exact-decimal identity,
      // chi² = Σ (O·N − R·C)² / (N·R·C) — no float expected counts;
      // decimal(38,0) because (O·N)² is ~10²⁴ at petabyte row counts.
      // One cell rollup; row/col totals are enum×7-bounded frames,
      // broadcast back onto the cells.
      val dd = "decimal(38,0)"
      val ev = t(s, dir, "events").select(col("event_type"),
        pmod(pmod(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")), lit(7)) + 7, lit(7))
          .cast("long").as("dow"))
      val cells = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).cast(dd).as("o"))
        .localCheckpoint(true) // row/col/grand totals read it
      val rows = cells.groupBy("event_type").agg(sum("o").as("r"))
      val colsT = cells.groupBy("dow").agg(sum("o").as("c"))
      val grand = cells.agg(sum("o").as("n"))
      cells.join(broadcast(rows), Seq("event_type"))
        .join(broadcast(colsT), Seq("dow"))
        .crossJoin(broadcast(grand))
        .select(col("event_type"), col("dow"),
          col("o").cast("long").as("observed"),
          expr("CAST(r * c * 100 div n AS BIGINT)").as("expected_e2"),
          expr("CAST((o * n - r * c) * (o * n - r * c) * 1000000" +
            " div (n * r * c) AS BIGINT)").as("chi2_contrib_e6"))
    },
      """WITH ev AS (
        |  SELECT event_type,
        |    (((datediff('day', DATE '2024-01-01', ts::DATE) % 7) + 7)
        |      % 7)::BIGINT AS dow
        |  FROM events),
        |cells AS (SELECT event_type, dow, count(*)::HUGEINT AS o
        |  FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(o) AS rr FROM cells GROUP BY 1),
        |c AS (SELECT dow, sum(o) AS cc FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS nn FROM cells)
        |SELECT cells.event_type, cells.dow,
        |  CAST(cells.o AS BIGINT) AS observed,
        |  CAST(r.rr * c.cc * 100 // n.nn AS BIGINT) AS expected_e2,
        |  CAST((cells.o * n.nn - r.rr * c.cc)
        |    * (cells.o * n.nn - r.rr * c.cc) * 1000000
        |    // (n.nn * r.rr * c.cc) AS BIGINT) AS chi2_contrib_e6
        |FROM cells JOIN r USING (event_type) JOIN c USING (dow)
        |  CROSS JOIN n""".stripMargin),

    QueryDef("profile_gini", (s, dir) => {
      // categorical concentration profile via Gini impurity — the
      // log-free dispersion statistic, so it runs in EXACT integer
      // arithmetic (libm log would be engine-dependent):
      // gini_ppm = (n² − Σ cnt²)·10⁶ div n², decimal sums because the
      // squares overflow long at petabyte row counts. One narrow
      // unpivot scan + two bounded aggs.
      val d = "decimal(38,0)"
      val m = t(s, dir, "orders").select(explode(map(
          lit("o_orderstatus"), col("o_orderstatus"),
          lit("o_orderpriority"), col("o_orderpriority")))
        .as(Seq("column_name", "val")))
      m.groupBy("column_name", "val")
        .agg(count(lit(1)).cast(d).as("cnt"))
        .groupBy("column_name")
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"),
          sum(col("cnt") * col("cnt")).as("s2"))
        .select(col("column_name"), col("n").cast("long").as("n_rows"),
          col("n_distinct"),
          expr("((n * n - s2) * 1000000) div (n * n)").as("gini_ppm"))
    },
      """WITH m AS (
        |  SELECT 'o_orderstatus' AS column_name, o_orderstatus AS val
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders),
        |g AS (
        |  SELECT column_name, val, count(*)::HUGEINT AS cnt
        |  FROM m GROUP BY 1, 2),
        |a AS (
        |  SELECT column_name, sum(cnt) AS n, count(*) AS n_distinct,
        |    sum(cnt * cnt) AS s2
        |  FROM g GROUP BY 1)
        |SELECT column_name, n::BIGINT AS n_rows, n_distinct,
        |  (((n * n - s2) * 1000000) // (n * n))::BIGINT AS gini_ppm
        |FROM a""".stripMargin),

    QueryDef("profile_chi2", (s, dir) => {
      // χ²-of-independence between two categorical columns — the
      // drift/association monitor that tells "are these columns
      // independent?" without libm: per FULL contingency cell (cross of
      // observed row/col values, absent combos count 0) the scaled term
      // floor(100·(O·N − R·C)² / (R·C·N)) is exact in DECIMAL(38,0) —
      // the classic (O−E)²/E with E = R·C/N multiplied through by N² —
      // and cell terms are integers, so the sum is order-independent.
      // Shape: one narrow count agg per pair + broadcast-joined bounded
      // margins; the cross of distinct values is |R|·|C| ≤ dozens.
      def chi2(df: DataFrame, a: String, b: String,
               pair: String): DataFrame = {
        val cells = df.groupBy(col(a).as("va"), col(b).as("vb"))
          .agg(count(lit(1)).as("o"))
        val rows = cells.groupBy("va").agg(sum("o").as("r"))
        val cols = cells.groupBy("vb").agg(sum("o").as("c"))
        val n = cells.agg(sum(col("o")).as("n"))
        val full = rows.crossJoin(cols)
          .join(cells, Seq("va", "vb"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .crossJoin(broadcast(n))
        full
          .withColumn("d", expr(
            "cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c"))
          .withColumn("term", expr(
            """(cast(100 as decimal(38,0)) * d * d)
              |div (cast(r as decimal(38,0)) * c * n)""".stripMargin))
          .agg(sum("term").as("chi2_centi"),
            countDistinct("va").as("nr"), countDistinct("vb").as("nc"),
            max("n").as("n_rows"))
          .select(lit(pair).as("pair"),
            col("chi2_centi").cast("long").as("chi2_centi"),
            ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
            col("n_rows"))
      }
      chi2(t(s, dir, "orders"), "o_orderpriority", "o_orderstatus",
          "orders:priority_x_status")
        .unionByName(chi2(t(s, dir, "lineitem"), "l_returnflag",
          "l_linestatus", "lineitem:flag_x_status"))
    },
      """WITH cells AS (
        |  SELECT 'orders:priority_x_status' AS pair,
        |    o_orderpriority AS va, o_orderstatus AS vb, count(*) AS o
        |  FROM orders GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT 'lineitem:flag_x_status', l_returnflag, l_linestatus,
        |    count(*)
        |  FROM lineitem GROUP BY 1, 2, 3),
        |rw AS (SELECT pair, va, sum(o)::HUGEINT AS r
        |       FROM cells GROUP BY 1, 2),
        |cw AS (SELECT pair, vb, sum(o)::HUGEINT AS c
        |       FROM cells GROUP BY 1, 2),
        |nw AS (SELECT pair, sum(o)::HUGEINT AS n FROM cells GROUP BY 1),
        |f AS (
        |  SELECT r.pair, r.va, c.vb, r.r, c.c, n.n,
        |    coalesce(cl.o, 0)::HUGEINT AS o
        |  FROM rw r
        |  JOIN cw c USING (pair)
        |  JOIN nw n USING (pair)
        |  LEFT JOIN cells cl
        |    ON cl.pair = r.pair AND cl.va = r.va AND cl.vb = c.vb),
        |t AS (
        |  SELECT pair, va, vb, n,
        |    (100::HUGEINT * (o * n - r * c) * (o * n - r * c))
        |      // (r * c * n) AS term
        |  FROM f)
        |SELECT pair, sum(term)::BIGINT AS chi2_centi,
        |  ((count(DISTINCT va) - 1) * (count(DISTINCT vb) - 1))::BIGINT
        |    AS dof,
        |  max(n)::BIGINT AS n_rows
        |FROM t GROUP BY pair""".stripMargin),

    QueryDef("privacy_erasure", (s, dir) => {
      // right-to-be-forgotten propagation audit: a delete-request key
      // set cascades customer → orders → lineitem, and the report
      // counts total/erased/remaining per table. The request set is
      // broadcast (tiny by nature); the lineitem cascade goes through
      // the affected-orders key list — also broadcast, 1/97th of
      // orders — so no fact-to-fact shuffle ever happens.
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val delKeys = cust.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("k"))
      def audit(df: DataFrame, name: String, key: Column): DataFrame =
        df.select(key.as("kk"))
          .join(broadcast(delKeys), col("kk") === col("k"), "left")
          .agg(count(lit(1)).as("rows_total"),
            sum(when(col("k").isNotNull, 1L).otherwise(0L))
              .as("rows_erased"))
          .select(lit(name).as("tbl"), col("rows_total"),
            col("rows_erased"),
            (col("rows_total") - col("rows_erased")).as("rows_remaining"))
      val delOrders = ord
        .join(broadcast(delKeys), col("o_custkey") === col("k"),
          "left_semi")
        .select(col("o_orderkey").as("k"))
      audit(cust, "customer", col("c_custkey"))
        .unionAll(audit(ord, "orders", col("o_custkey")))
        .unionAll(li.select(col("l_orderkey").as("kk"))
          .join(broadcast(delOrders), col("kk") === col("k"), "left")
          .agg(count(lit(1)).as("rows_total"),
            sum(when(col("k").isNotNull, 1L).otherwise(0L))
              .as("rows_erased"))
          .select(lit("lineitem").as("tbl"), col("rows_total"),
            col("rows_erased"),
            (col("rows_total") - col("rows_erased"))
              .as("rows_remaining")))
    },
      """WITH del AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |delord AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_custkey IN (SELECT k FROM del))
        |SELECT 'customer' AS tbl, count(*)::BIGINT AS rows_total,
        |  sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS rows_erased,
        |  (count(*) - sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END))
        |    ::BIGINT AS rows_remaining
        |FROM customer c LEFT JOIN del d ON c.c_custkey = d.k
        |UNION ALL
        |SELECT 'orders', count(*)::BIGINT,
        |  sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        |  (count(*) - sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END))
        |    ::BIGINT
        |FROM orders o LEFT JOIN del d ON o.o_custkey = d.k
        |UNION ALL
        |SELECT 'lineitem', count(*)::BIGINT,
        |  sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        |  (count(*) - sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END))
        |    ::BIGINT
        |FROM lineitem l LEFT JOIN delord d ON l.l_orderkey = d.k"""
        .stripMargin),

    QueryDef("profile_benford", (s, dir) => {
      // Benford first-digit screen over order totals — the classic
      // fabricated-data detector. Expected ratios are fixed 6-dp
      // literals (not runtime log10) so both engines compare against
      // the identical constants; observed ratio is one narrow
      // 9-group rollup + a broadcast totals row.
      val benford = Seq(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
        4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
        8 -> 0.051153, 9 -> 0.045757)
      val expect = benford.tail.foldLeft(
        when(col("digit") === benford.head._1, benford.head._2)) {
        case (acc, (d, p)) => acc.when(col("digit") === d, p)
      }
      val digits = t(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val tot = digits.agg(count(lit(1)).as("total"))
      digits.groupBy("digit").agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_orders"),
          ExactGrid.eRatio(col("n_orders"), col("total"), 1000000L)
            .as("obs_ratio"),
          expect.as("benford_ratio"))
    },
      """WITH dig AS (
        |  SELECT left(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1)::INT AS digit
        |  FROM orders),
        |tot AS (SELECT count(*)::BIGINT AS total FROM dig)
        |SELECT digit, count(*)::BIGINT AS n_orders,
        |  (CAST((2 * count(*) * 1000000 + total) // (2 * total)
        |    AS DOUBLE) / 1000000.0) AS obs_ratio,
        |  CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |    WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
        |    WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
        |    WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |    WHEN 9 THEN 0.045757 END AS benford_ratio
        |FROM dig CROSS JOIN tot
        |GROUP BY digit, total""".stripMargin),

    QueryDef("privacy_k_anonymity", (s, dir) => {
      // k-anonymity risk profile over quasi-identifiers (nation,
      // market segment, account-balance band): every individual falls
      // in a QI equivalence class of size k; the re-identification
      // report buckets classes by k — singletons are re-identifiable,
      // small classes risky. l-diversity rides along: classes whose
      // members all share one sensitive value (here: the balance SIGN)
      // leak the attribute even at k > 1. One narrow two-level agg.
      val qi = t(s, dir, "customer")
        .select(col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_band"),
          when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos"))
            .as("sensitive"))
      qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("k"),
          countDistinct(col("sensitive")).as("l_div"))
        .select(
          when(col("k") === 1, lit("1_unique"))
            .when(col("k") < 5, lit("2_high_risk"))
            .when(col("k") < 20, lit("3_medium"))
            .otherwise(lit("4_low")).as("risk_class"),
          col("k"), col("l_div"))
        .groupBy("risk_class")
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k")).as("n_individuals"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(when(col("l_div") === 1, 1L).otherwise(0L))
            .as("classes_lacking_diversity"))
    },
      """WITH qi AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 1000)::BIGINT AS bal_band,
        |    CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END
        |      AS sensitive
        |  FROM customer),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band,
        |    count(*) AS k, count(DISTINCT sensitive) AS l_div
        |  FROM qi GROUP BY 1, 2, 3),
        |lab AS (
        |  SELECT CASE WHEN k = 1 THEN '1_unique'
        |              WHEN k < 5 THEN '2_high_risk'
        |              WHEN k < 20 THEN '3_medium'
        |              ELSE '4_low' END AS risk_class,
        |    k, l_div
        |  FROM cls)
        |SELECT risk_class, count(*) AS n_classes,
        |  sum(k)::BIGINT AS n_individuals,
        |  min(k) AS min_k, max(k) AS max_k,
        |  sum(CASE WHEN l_div = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS classes_lacking_diversity
        |FROM lab GROUP BY 1""".stripMargin),

    QueryDef("profile_hdr_histogram", (s, dir) => {
      // HDR-histogram quantiles (Tene's HdrHistogram / Prometheus
      // native-histogram layout): price cents bucketed by (bit length,
      // top-4 mantissa bits) — a PURE-INTEGER log₂ histogram with 16
      // linear sub-buckets per octave, ≤3.2% relative error, and a
      // lossless merge (bucket counts just add). The per-group bucket
      // frames are the mergeable state: the ALL row below is derived
      // by SUMMING group states, never re-scanning facts — same
      // pre-aggregate-once-rollup-anywhere contract as the bitmap and
      // KMV families, but for latency/price distributions. No log()
      // float ever enters (bit length via bin()/format('{:b}') string
      // length), so bucketing is deterministic in both engines.
      val bucketed = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("scope"),
          floor(col("l_extendedprice") * 100).cast("long").as("v"))
        .withColumn("b", length(bin(col("v"))).cast("long"))
        .withColumn("sub", when(col("b") <= 5, col("v"))
          .otherwise(expr("shiftright(v, cast(b - 5 AS int))")))
        .withColumn("bkey", col("b") * 32 + col("sub"))
      val byGroup = bucketed.groupBy("scope", "bkey")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // the ALL rollup + quantile scan re-read
      val all = byGroup.groupBy("bkey")
        .agg(sum("cnt").as("cnt")).withColumn("scope", lit("ALL"))
        .select("scope", "bkey", "cnt")
      val st = byGroup.select("scope", "bkey", "cnt").unionByName(all)
      val wCum = Window.partitionBy("scope").orderBy("bkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withN = st.withColumn("cum", sum("cnt").over(wCum))
        .join(st.groupBy("scope").agg(sum("cnt").as("n")), Seq("scope"))
      val qs = Seq(50, 90, 99)
      val hits = qs.map { q =>
        withN
          .filter(col("cum") * 100 >= col("n") * q)
          .groupBy("scope").agg(min("bkey").as("bkey"))
          .withColumn("p", lit(q))
      }.reduce(_ unionByName _)
      // lower bound of the winning bucket, exact integer reconstruction
      hits
        .withColumn("bb", expr("bkey div 32"))
        .withColumn("ss", expr("bkey % 32"))
        .withColumn("est_lb", when(col("bb") <= 5, col("ss"))
          .otherwise(expr("shiftleft(ss, cast(bb - 5 AS int))")))
        .select(col("scope"), col("p"), col("bkey"), col("est_lb"))
    },
      """WITH base AS (
        |  SELECT l_returnflag AS scope,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |bk AS (SELECT scope, v,
        |  length(format('{:b}', v))::BIGINT AS b FROM base),
        |bk2 AS (SELECT scope, b,
        |  CASE WHEN b <= 5 THEN v
        |    ELSE v >> CAST(b - 5 AS INT) END AS sub FROM bk),
        |st0 AS (SELECT scope, (b * 32 + sub)::BIGINT AS bkey,
        |  count(*)::BIGINT AS cnt FROM bk2 GROUP BY 1, 2),
        |st AS (SELECT * FROM st0
        |  UNION ALL
        |  SELECT 'ALL', bkey, sum(cnt)::BIGINT FROM st0 GROUP BY 2),
        |cum AS (SELECT scope, bkey, cnt,
        |  sum(cnt) OVER (PARTITION BY scope ORDER BY bkey)::BIGINT AS cum,
        |  sum(cnt) OVER (PARTITION BY scope)::BIGINT AS n FROM st),
        |hits AS (
        |  SELECT scope, p, min(bkey)::BIGINT AS bkey
        |  FROM cum CROSS JOIN (VALUES (50), (90), (99)) q(p)
        |  WHERE cum * 100 >= n * p GROUP BY scope, p)
        |SELECT scope, p, bkey,
        |  (CASE WHEN bkey // 32 <= 5 THEN bkey % 32
        |    ELSE (bkey % 32) << CAST(bkey // 32 - 5 AS INT)
        |  END)::BIGINT AS est_lb
        |FROM hits""".stripMargin),

    QueryDef("privacy_dp_counts", (s, dir) => {
      // differentially-private release of per-nation customer counts:
      // ε=0.2 discrete Laplace (two-sided geometric) noise added to
      // each count. The mechanism is SEEDED and table-driven — the
      // noise value comes from mapping pmod(xxhash64(7, key), 2⁴⁰)
      // through a precomputed inverse-CDF threshold table (51 rows,
      // broadcast), so no runtime float op exists to diverge between
      // engines and releases are reproducible under a fixed seed (the
      // audit requirement for DP pipelines; rotate the seed constant
      // per release in production). true_cnt is emitted HERE only for
      // the oracle gate — a production release drops it. Map-only over
      // the dimension + one broadcast join: the 100 TB shape is one
      // shuffle for the count and nothing else.
      import s.implicits._
      val tab = dpGeomThresholds.toDF("noise", "lo", "hi")
      val cnt = t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
        .agg(count(lit(1)).as("true_cnt"))
      cnt
        .withColumn("m", pmod(xxhash64(lit(7L), col("c_nationkey")),
          lit(1L << 40)))
        .join(broadcast(tab), col("m") >= col("lo") && col("m") < col("hi"))
        .select(col("c_nationkey"), col("true_cnt"), col("noise"),
          (col("true_cnt") + col("noise")).as("noisy_cnt"))
    }, {
      // Oracle for `privacy_dp_counts`: per-nation counts + the seeded
      // discrete-Laplace noise — the same xxhash64(7, key) chain through
      // the emulated XXH64, reduced mod 2⁴⁰ and mapped through the SAME
      // inverse-CDF threshold literals the engine broadcasts.
      val vals = dpGeomThresholds
        .map { case (k, lo, hi) => s"($k, ${lo}::HUGEINT, ${hi}::HUGEINT)" }
        .mkString(", ")
      val ch = new Chain("dp",
        "SELECT c_nationkey::HUGEINT AS nk, count(*)::BIGINT AS true_cnt " +
          "FROM customer GROUP BY 1")
      val h1 = hashLong(ch, "7::HUGEINT", "42::HUGEINT", "q")
      val h2 = hashLong(ch, "nk", h1, "r")
      val m = ch.add("m", s"($h2) % ${1L << 40}")
      s"""WITH ${ch.render},
         |tab(noise, lo, hi) AS (SELECT * FROM (VALUES $vals))
         |SELECT CAST(nk AS BIGINT) AS c_nationkey, true_cnt,
         |  noise::BIGINT AS noise,
         |  (true_cnt + noise)::BIGINT AS noisy_cnt
         |FROM ${ch.last} JOIN tab ON $m >= lo AND $m < hi""".stripMargin
    }),

    QueryDef("profile_mutual_information", (s, dir) => {
      // information-theoretic dependence audit: mutual information
      // between event type and day-of-week — "does traffic mix shift
      // by weekday?" as one number, the profiling complement of
      // profile_chi2's significance test. Cell/marginal counts are
      // exact integers from ONE rollup; the float log terms are summed
      // by a DETERMINISTIC left-to-right fold over the (type, dow)-
      // sorted cell array (35 cells), so parallel summation order can
      // never flake the hash — the KM-survival/EWMA sequential-fold
      // discipline applied to information measures.
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          dayofweek(col("ts").cast("date")).as("dow"))
      val cells = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // marginals + terms re-read it
      val rowsM = cells.groupBy("event_type").agg(sum("cnt").as("r"))
      val colsM = cells.groupBy("dow").agg(sum("cnt").as("c"))
      val n = cells.agg(sum("cnt").as("n"), count(lit(1)).as("n_cells"))
      cells.join(rowsM, Seq("event_type")).join(colsM, Seq("dow"))
        .crossJoin(broadcast(n))
        .withColumn("term",
          (col("cnt").cast("double") / col("n").cast("double")) *
            log((col("cnt").cast("double") * col("n").cast("double")) /
              (col("r").cast("double") * col("c").cast("double"))))
        .agg(max(col("n")).as("n"), max(col("n_cells")).as("n_cells"),
          array_sort(collect_list(struct(col("event_type"), col("dow"),
            col("term")))).as("arr"))
        .select(col("n"), col("n_cells"),
          round(expr(
            "aggregate(transform(arr, x -> x.term), 0d, (a, t) -> a + t)"),
            6).as("mi_nats"))
    },
      """WITH ev AS (
        |  SELECT event_type, (dayofweek(ts::DATE) + 1)::INT AS dow
        |  FROM events),
        |cells AS (SELECT event_type, dow, count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |rm AS (SELECT event_type, sum(cnt)::BIGINT AS r
        |  FROM cells GROUP BY 1),
        |cm AS (SELECT dow, sum(cnt)::BIGINT AS c FROM cells GROUP BY 1),
        |nn AS (SELECT sum(cnt)::BIGINT AS n, count(*)::BIGINT AS n_cells
        |  FROM cells),
        |terms AS (SELECT ce.event_type, ce.dow,
        |    (ce.cnt::DOUBLE / nn.n::DOUBLE) *
        |      ln((ce.cnt::DOUBLE * nn.n::DOUBLE) /
        |        (rm.r::DOUBLE * cm.c::DOUBLE)) AS term
        |  FROM cells ce JOIN rm USING (event_type) JOIN cm USING (dow)
        |  CROSS JOIN nn),
        |folded AS (SELECT list(term ORDER BY event_type, dow) AS l
        |  FROM terms)
        |SELECT nn.n, nn.n_cells,
        |  round(CAST(CAST((list_reduce(list_prepend(0.0::DOUBLE, l),
        |    (a, t) -> a + t)) AS VARCHAR) AS DECIMAL(38,20)), 6)::DOUBLE
        |    AS mi_nats
        |FROM folded CROSS JOIN nn""".stripMargin),

    QueryDef("profile_ks_test", (s, dir) => {
      // two-sample Kolmogorov–Smirnov distance between the doc-length
      // distributions of the two lexicographically-first sources —
      // EXACTLY, by cross-multiplication: D·n1·n2 = max |cum1·n2 −
      // cum2·n1| over the merged support, so no float CDF ever
      // exists (the drift-detection primitive behind "did this
      // source's length profile shift?"). The support frame is the
      // DISTINCT length domain (bounded by the doc-length range, not
      // the corpus), so the global cumulative window is
      // domain-bounded — the calendar-frame discipline applied to a
      // value domain. Two bounded rows cross the driver (the source
      // pair).
      val docs = t(s, dir, "documents")
      val pair = docs.select("source").distinct()
        .orderBy("source").limit(2).collect().map(_.getString(0))
      // Mirror the oracle's min/max degradation: a single-source corpus
      // compares the source against itself (D = 0) instead of throwing.
      val sa = pair(0)
      val sb = if (pair.length > 1) pair(1) else pair(0)
      val sup = docs.filter(col("source").isin(sa, sb))
        .groupBy("n_chars")
        .agg(
          sum(when(col("source") === sa, 1L).otherwise(0L)).as("c1"),
          sum(when(col("source") === sb, 1L).otherwise(0L)).as("c2"))
        .localCheckpoint(true) // cum window + totals read it
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nn = sup.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      val cum = sup
        .withColumn("cum1", sum("c1").over(w))
        .withColumn("cum2", sum("c2").over(w))
        .crossJoin(broadcast(nn))
        // cum·n is a count-product over two unbounded groups (n1·n2
        // caps longs at ~3e6 docs per source) — DECIMAL(38,0) from
        // birth (overflow-sweep r12); values are exact integers, so
        // max/compare semantics are unchanged
        .withColumn("diff",
          abs(col("cum1").cast("decimal(38,0)") * col("n2")
            - col("cum2").cast("decimal(38,0)") * col("n1")))
      val mx = cum.agg(max("diff").as("ks_num"))
      cum.crossJoin(broadcast(mx))
        .filter(col("diff") === col("ks_num"))
        .groupBy("n1", "n2", "ks_num")
        .agg(min("n_chars").as("at_value"))
        .select(lit(sa).as("source_a"), lit(sb).as("source_b"),
          col("n1"), col("n2"), col("ks_num").cast("long").as("ks_num"),
          col("at_value"),
          expr("cast(cast(ks_num as decimal(38,0)) * 1000000" +
            " div (cast(n1 as decimal(38,0)) * n2) as bigint)")
            .as("ks_ppm"))
    },
      """WITH ab AS (SELECT min(source) AS sa, max(source) AS sb FROM (
        |    SELECT DISTINCT source FROM documents ORDER BY source
        |    LIMIT 2)),
        |sup AS (SELECT d.n_chars,
        |    sum(CASE WHEN d.source = ab.sa THEN 1 ELSE 0 END)::BIGINT
        |      AS c1,
        |    sum(CASE WHEN d.source = ab.sb THEN 1 ELSE 0 END)::BIGINT
        |      AS c2
        |  FROM documents d, ab WHERE d.source IN (ab.sa, ab.sb)
        |  GROUP BY d.n_chars),
        |nn AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
        |  FROM sup),
        |cum AS (SELECT n_chars,
        |    sum(c1) OVER (ORDER BY n_chars)::BIGINT AS cum1,
        |    sum(c2) OVER (ORDER BY n_chars)::BIGINT AS cum2 FROM sup),
        |dd AS (SELECT c.n_chars,
        |    abs(c.cum1::HUGEINT * nn.n2 - c.cum2::HUGEINT * nn.n1)
        |      AS diff,
        |    nn.n1, nn.n2 FROM cum c, nn),
        |mx AS (SELECT max(diff) AS ks_num FROM dd)
        |SELECT ab.sa AS source_a, ab.sb AS source_b, d.n1, d.n2,
        |  m.ks_num::BIGINT AS ks_num,
        |  min(d.n_chars)::BIGINT AS at_value,
        |  ((m.ks_num * 1000000) // (d.n1::HUGEINT * d.n2))::BIGINT
        |    AS ks_ppm
        |FROM dd d, mx m, ab WHERE d.diff = m.ks_num
        |GROUP BY ab.sa, ab.sb, d.n1, d.n2, m.ks_num""".stripMargin),

    QueryDef("analytics_theil_sen", (s, dir) => {
      // Theil–Sen robust trend: per return flag, the LOWER MEDIAN of
      // all pairwise slopes between daily-revenue points — the
      // estimator that shrugs off the outlier days OLS chases (29.3%
      // breakdown point). Slopes are exact e6 fixed point (integer
      // div of cent deltas by day deltas — truncation toward zero,
      // identical in Spark `div` and DuckDB `//`), and the median is
      // a RANK (row (n+1) div 2 in slope order — longs), so the
      // result is hash-exact. Scale: the pair frame is CALENDAR-
      // bounded — days², independent of row count — so the self-join
      // costs the same at 100 TB as at sf0.01; the only data-sized
      // pass is the daily rollup (map-side combined).
      //
      // Median path (round 9, closing the r8 verdict's perf finding):
      // the old plan ran row_number + count windows over the full
      // ~9M-row pair frame partitioned by 3 flags — three single-task
      // full sorts, zero parallelism, 13.8 s at sf0.1. Now the rank
      // comes from the same sketch-bracket + exact-rank refinement
      // the conformal interval uses: pass 1 rolls up n_pairs and an
      // approx_percentile bracket [v_lo, v_hi] at 0.5∓0.01 (accuracy
      // 10000 ⇒ rank error ≤ n/10000, 100× inside the ±1%·n margin;
      // below 10k pairs the sketch stores every value and is exact,
      // and 0.49·(n−1)+1 ≤ (n+1)/2 ≤ 0.51·(n−1)+1 for all n ≥ 1, so
      // the bracket provably covers the median rank). Pass 2 counts
      // slopes strictly below v_lo. Pass 3 sorts ONLY the ~2% band
      // and picks band-position k − cnt_lt_lo = the global k-th
      // smallest. The pair frame is regenerated per pass from the
      // checkpointed days-sized daily frame (a broadcast self-join —
      // cheaper and more parallel than materializing days² rows); if
      // a bracket ever failed to cover rank k the flag's row would
      // vanish — loud under the gate's row-count check. The DuckDB
      // oracle still computes the rank by FULL sort, so equality is
      // hash-proven at every fixture.
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"),
          datediff(col("l_shipdate").cast("date"),
            lit("1992-01-01").cast("date")).as("x"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("y"))
        .localCheckpoint(false) // both sides of the pair self-join
        // (lazy, r15: the slope materialization computes it in-action)
      // pair generation: an equi-join on flag alone has 3 keys → 3
      // tasks own all days² rows. Broadcast the (days-sized) right
      // side and spread the left over the session's parallelism so
      // every pass generates pairs with full parallelism (r15: was a
      // hard-coded 32 — at lower core counts that made 32 near-empty
      // tasks per stage and anti-scaled; defaultParallelism follows
      // the deployment).
      val a = daily.select(col("flag"), col("x").as("x1"),
        col("y").as("y1"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = daily.select(col("flag").as("bflag"), col("x").as("x2"),
        col("y").as("y2"))
      // nullif guards the diagonal: pushdown can merge later band
      // predicates into the join condition AHEAD of x2 > x1, and ANSI
      // div then hits x2 == x1. NULL slopes exist only on rows the
      // x2 > x1 filter drops, so values are unchanged.
      // OPTIMIZATION r14: the slope frame is MATERIALIZED once and read
      // by all three passes instead of regenerated per pass — it is
      // calendar-bounded (days² rows regardless of corpus size, ~9.4M
      // at this calendar), so checkpointing it is scale-safe, and the
      // DECIMAL(38,0) slope arithmetic (the expensive part of the pair
      // pass; the ×1e6 product genuinely needs >64 bits at big scale)
      // now runs once instead of three times. Stats-barrier checkpoint:
      // same blocks, no join-size-estimate inheritance.
      val slopes = org.apache.spark.sql.graftbridge.PlanBridge
        .localCheckpointStatsBarrier(a.join(broadcast(b),
            col("flag") === col("bflag") && col("x2") > col("x1"))
          .select(col("flag"),
            // y is a daily-revenue cents sum (money class): the ×1e6
            // product clears into DECIMAL(38,0), slope lands back in a
            // long (overflow-sweep r12 — value-identical).
            // r15 fast path: while |y2−y1| < 9·10¹² the ×1e6 product
            // provably fits a long (9e18 < 2⁶³), and long `div` and
            // DECIMAL `div` both truncate toward zero — identical
            // values, no decimal arithmetic on the common case; the
            // decimal branch remains for deltas a 100 TB fixture could
            // produce. Both branches are codegen'd integer ops.
            expr("cast(CASE WHEN abs(y2 - y1) < 9000000000000L" +
              " THEN (y2 - y1) * 1000000L div nullif(x2 - x1, 0)" +
              " ELSE cast(cast(y2 - y1 as decimal(38,0)) * 1000000" +
              " div nullif(x2 - x1, 0) as bigint) END as bigint)")
              .as("slope_e6")), eager = false)
      // pass 1: per-flag pair count, target rank, sketch bracket.
      // r15: sketch accuracy 10000 → 1000 — rank error ≤ n/1000 =
      // 0.1%·n, still 10× inside the ±1%·n bracket margin (and a
      // bracket miss vanishes the row — loud, never silently wrong),
      // for an order-of-magnitude smaller quantile summary per task.
      val stats = slopes.groupBy("flag").agg(
          count(lit(1)).as("n_pairs"),
          expr("approx_percentile(slope_e6, array(0.49, 0.51), 1000)")
            .as("br"))
        .select(col("flag"), col("n_pairs"),
          expr("(n_pairs + 1) div 2").as("k"),
          col("br").getItem(0).as("v_lo"),
          col("br").getItem(1).as("v_hi"))
        .localCheckpoint(true) // 3 rows; passes 2 and 3 both read it
      // passes 2+3 FUSED (r15): one aggregate computes the exact
      // below-band count AND the sorted band values per flag — the
      // former separate count pass and the per-flag rank window are
      // gone (one slope pass fewer). element position k − cnt_lt_lo in
      // the ascending band array IS the old row_number pick: ties are
      // equal VALUES, so the selected value is identical under any tie
      // order. The coverage filter preserves the loud-miss contract
      // (a bracket miss vanishes the row, exactly as before).
      slopes.join(broadcast(stats), "flag")
        .groupBy("flag", "n_pairs", "k")
        .agg(sum(when(col("slope_e6") < col("v_lo"), 1L)
            .otherwise(0L)).as("cnt_lt_lo"),
          sort_array(collect_list(when(col("slope_e6") >= col("v_lo") &&
            col("slope_e6") <= col("v_hi"), col("slope_e6"))))
            .as("band"))
        .withColumn("pos", (col("k") - col("cnt_lt_lo")).cast("int"))
        .filter(col("pos") >= 1 && col("pos") <= size(col("band")))
        .select(col("flag"), col("n_pairs"),
          element_at(col("band"), col("pos")).as("slope_e6_med"))
    },
      """WITH daily AS MATERIALIZED (
        |  SELECT l_returnflag AS flag,
        |    datediff('day', DATE '1992-01-01', l_shipdate::DATE) AS x,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS y
        |  FROM lineitem GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.flag,
        |    (((b.y - a.y)::HUGEINT * 1000000) // (b.x - a.x))::BIGINT
        |      AS slope_e6
        |  FROM daily a JOIN daily b
        |    ON a.flag = b.flag AND b.x > a.x),
        |r AS (
        |  SELECT flag, slope_e6,
        |    row_number() OVER (PARTITION BY flag ORDER BY slope_e6)
        |      AS rn,
        |    count(*) OVER (PARTITION BY flag)::BIGINT AS n_pairs
        |  FROM slopes)
        |SELECT flag, n_pairs, slope_e6 AS slope_e6_med
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin),

    QueryDef("analytics_trimmed_mean", (s, dir) => {
      // 20% two-sided trimmed mean of line revenue per return flag —
      // the robust location estimate reporting pipelines reach for
      // when a handful of fat-finger rows should not move the KPI —
      // computed WITHOUT a full sort: the third deployment of the
      // sketch-bracket + exact-rank-refinement pattern (conformal r8,
      // theil_sen r9). Pass 1 rolls up n and approx_percentile
      // brackets around BOTH cut ranks (kl = n div 5 and n − kl;
      // 0.2∓0.01 / 0.8∓0.01 at accuracy 10000 ⇒ rank error ≤ n/10⁴,
      // 100× inside the margin; exact below 10k values). Pass 2
      // counts rows strictly below each bracket. Pass 3 band-sorts
      // ONLY the two ~2% brackets to pin the exact cut VALUES
      // a = y@rank kl, b = y@rank n−kl. Pass 4 takes tie-aware
      // counts/sums against a and b, reconstructing the exact
      // Σ of ranks (kl, n−kl] — ties at either cut contribute exactly
      // the number of rank slots they occupy inside the window.
      // Hash-equal to the oracle's full-sort rank filter; a bracket
      // miss vanishes a flag's row (loud), never a silent wrong value.
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
      val stats = base.groupBy("flag").agg(
          count(lit(1)).as("n"),
          // r15: accuracy 10000 -> 1000 (rank error <= 0.1%*n, 10x
          // inside the +/-1%*n bracket margin; a miss is loud)
          expr("approx_percentile(y, array(0.19, 0.21, 0.79, 0.81)," +
            " 1000)").as("br"))
        .select(col("flag"), col("n"), expr("n div 5").as("kl"),
          col("br").getItem(0).as("lo1"), col("br").getItem(1).as("hi1"),
          col("br").getItem(2).as("lo2"), col("br").getItem(3).as("hi2"))
        .localCheckpoint(false) // 3 rows; every later pass reads it
      // passes 2+3 FUSED (r15, the theil_sen/conformal pattern): ONE
      // aggregate computes both exact below-band counts AND both
      // sorted band arrays — was a count pass plus TWO windowed band
      // passes (base read 3×; now once). Separate band arrays (not a
      // shared first-match tag), so a degenerate overlap of the two
      // brackets cannot starve band 2; element position rank − blt in
      // each ascending band is the old row_number pick (ties are
      // equal values), and the coverage filter preserves the
      // loud-miss row-vanish contract for BOTH cuts.
      val cuts = base.join(broadcast(stats), "flag")
        .groupBy("flag", "n", "kl")
        .agg(
          sum(when(col("y") < col("lo1"), 1L).otherwise(0L)).as("blt1"),
          sum(when(col("y") < col("lo2"), 1L).otherwise(0L)).as("blt2"),
          sort_array(collect_list(when(col("y") >= col("lo1") &&
            col("y") <= col("hi1"), col("y")))).as("band1"),
          sort_array(collect_list(when(col("y") >= col("lo2") &&
            col("y") <= col("hi2"), col("y")))).as("band2"))
        .withColumn("p1", (col("kl") - col("blt1")).cast("int"))
        .withColumn("p2", (col("n") - col("kl") - col("blt2"))
          .cast("int"))
        .filter(col("p1") >= 1 && col("p1") <= size(col("band1")) &&
          col("p2") >= 1 && col("p2") <= size(col("band2")))
        .select(col("flag"), col("n"), col("kl"),
          element_at(col("band1"), col("p1")).as("a"),
          element_at(col("band2"), col("p2")).as("b"))
        .localCheckpoint(false) // 3 rows
      base.join(broadcast(cuts), "flag").groupBy("flag").agg(
          max("n").as("n"), max("kl").as("klv"),
          max("a").as("lo_cut"), max("b").as("hi_cut"),
          sum(when(col("y") > col("a") && col("y") < col("b"),
            col("y")).otherwise(0L)).as("mid_sum"),
          sum(when(col("y") < col("a"), 1L).otherwise(0L)).as("lt_a"),
          sum(when(col("y") <= col("a"), 1L).otherwise(0L)).as("le_a"),
          sum(when(col("y") < col("b"), 1L).otherwise(0L)).as("lt_b"),
          sum(when(col("y") <= col("b"), 1L).otherwise(0L)).as("le_b"))
        .select(col("flag"), col("n"),
          (col("n") - lit(2) * col("klv")).as("kept"),
          col("lo_cut"), col("hi_cut"),
          expr("""(CASE WHEN lo_cut = hi_cut
                 THEN lo_cut * (least(n - klv, le_a)
                   - greatest(klv, lt_a))
                 ELSE mid_sum
                   + lo_cut * (least(n - klv, le_a)
                     - greatest(klv, lt_a))
                   + hi_cut * (least(n - klv, le_b)
                     - greatest(klv, lt_b)) END) * 100
                 div (n - 2 * klv)""").as("trimmed_mean_e2"))
    },
      """WITH base AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |r AS (SELECT flag, y,
        |    row_number() OVER (PARTITION BY flag ORDER BY y) AS rn,
        |    count(*) OVER (PARTITION BY flag)::BIGINT AS n
        |  FROM base),
        |k AS (SELECT flag, y, rn, n, n // 5 AS kl FROM r)
        |SELECT flag, max(n)::BIGINT AS n,
        |  (max(n) - 2 * (max(n) // 5))::BIGINT AS kept,
        |  max(CASE WHEN rn = kl THEN y END)::BIGINT AS lo_cut,
        |  max(CASE WHEN rn = n - kl THEN y END)::BIGINT AS hi_cut,
        |  ((sum(CASE WHEN rn > kl AND rn <= n - kl THEN y ELSE 0
        |      END)::HUGEINT * 100)
        |    // (max(n) - 2 * (max(n) // 5)))::BIGINT
        |    AS trimmed_mean_e2
        |FROM k GROUP BY flag""".stripMargin),

    QueryDef("profile_psi", (s, dir) => {
      // Population Stability Index — THE deployed-model drift gate
      // (the 0.1 "investigate" / 0.25 "act" bands every scoring
      // runbook wires an alert to): order totals in the reference
      // period (≤ 1997-12-31) define 5 EQUIDEPTH bins; the current
      // period's mass is scored against them; per bin
      // (p_cur − p_ref)·ln(p_cur/p_ref), summed. Adjacency, stated:
      // profile_ks_test is the max CDF gap (unbinned, band-free) and
      // corpus_kl_drift is token-space KL — PSI is the BINNED
      // symmetrized-KL with the industry action bands. Exactness: the
      // 4 bin edges are EXACT rank statistics of the reference period
      // (ranks i·n div 5) found WITHOUT a full sort — the bracket
      // pattern's fourth deployment (4 cut ranks in one pass family);
      // counts are exact longs; each bin touches doubles exactly once
      // (one ln of the exact ppm ratio, one product — the ml_woe_iv
      // float discipline), rounds to e9, and the total is a sum of
      // LONGs over the 5-bin frame.
      val base = t(s, dir, "orders").select(
          when(col("o_orderdate").cast("date") <=
            lit("1997-12-31").cast("date"), 0).otherwise(1).as("per"),
          floor(col("o_totalprice") * 100).cast("long").as("y"))
        .localCheckpoint(true) // cut passes + binning re-read it
      val ref = base.filter(col("per") === 0)
      val stats = ref.agg(count(lit(1)).as("n"),
          expr("approx_percentile(y, array(0.19, 0.21, 0.39, 0.41," +
            " 0.59, 0.61, 0.79, 0.81), 10000)").as("br"))
        .select(Seq(col("n")) ++ (1 to 4).flatMap(i => Seq(
          expr(s"$i * n div 5").as(s"k$i"),
          col("br").getItem(2 * (i - 1)).as(s"lo$i"),
          col("br").getItem(2 * i - 1).as(s"hi$i"))): _*)
        .localCheckpoint(true) // 1 row
      val bexprs = (1 to 4).map(i =>
        sum(when(col("y") < col(s"lo$i"), 1L).otherwise(0L))
          .as(s"blt$i"))
      val below = ref.crossJoin(broadcast(stats))
        .agg(bexprs.head, bexprs.tail: _*)
      val st2 = stats.crossJoin(below).localCheckpoint(true) // 1 row
      def cutAt(i: Int): DataFrame =
        ref.crossJoin(broadcast(st2))
          .filter(col("y") >= col(s"lo$i") && col("y") <= col(s"hi$i"))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("y"))))
          .filter(col("rn") === col(s"k$i") - col(s"blt$i"))
          .select(col("y").as(s"c$i"))
      val cuts = cutAt(1).crossJoin(cutAt(2)).crossJoin(cutAt(3))
        .crossJoin(cutAt(4)).localCheckpoint(true) // 1 row
      val binned = base.crossJoin(broadcast(cuts)).select(col("per"),
        when(col("y") <= col("c1"), 0)
          .when(col("y") <= col("c2"), 1)
          .when(col("y") <= col("c3"), 2)
          .when(col("y") <= col("c4"), 3).otherwise(4).as("bin"))
      val tot = binned.groupBy("per").agg(count(lit(1)).as("n"))
        .select(sum(when(col("per") === 0, col("n"))).as("nref"),
          sum(when(col("per") === 1, col("n"))).as("ncur"))
      val pp = binned.groupBy("bin").agg(
          sum(when(col("per") === 0, 1L).otherwise(0L)).as("refc"),
          sum(when(col("per") === 1, 1L).otherwise(0L)).as("curc"))
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          expr("refc * 1000000 div nref").as("ref_ppm"),
          expr("curc * 1000000 div ncur").as("cur_ppm"))
      // ADVICE r9: a bin with ZERO current-period mass must produce a
      // finite 'act' verdict, not an ANSI cast crash on ln(0) — the
      // standard PSI epsilon convention clamps the proportions inside
      // the term to >= 1 ppm (output ppm columns stay raw/exact; on
      // any fixture where every bin has mass the clamp is identity,
      // so committed hashes are untouched).
      val pb = pp
        .withColumn("curq", greatest(col("cur_ppm"), lit(1L)))
        .withColumn("refq", greatest(col("ref_ppm"), lit(1L)))
        .withColumn("psi_e9",
          round((col("curq") - col("refq")).cast("double") *
            log(col("curq").cast("double") /
              col("refq").cast("double")) * 1000.0, 0).cast("long"))
        .drop("curq", "refq")
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      pb.withColumn("psi_total_e9", sum(col("psi_e9")).over(wAll))
        .select(col("bin"), col("ref_ppm"), col("cur_ppm"),
          col("psi_e9"), col("psi_total_e9"),
          when(col("psi_total_e9") >= 250000000L, "act")
            .when(col("psi_total_e9") >= 100000000L, "investigate")
            .otherwise("stable").as("alert"))
    },
      // bin edges recomputed by FULL sort here (the engine finds the
      // same exact rank statistics via the sketch bracket)
      """WITH base AS (
        |  SELECT CASE WHEN o_orderdate <= DATE '1997-12-31' THEN 0
        |      ELSE 1 END AS per,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |rr AS (SELECT y, row_number() OVER (ORDER BY y) AS rn,
        |    count(*) OVER ()::BIGINT AS n
        |  FROM base WHERE per = 0),
        |cuts AS (SELECT
        |    max(CASE WHEN rn = 1 * n // 5 THEN y END) AS c1,
        |    max(CASE WHEN rn = 2 * n // 5 THEN y END) AS c2,
        |    max(CASE WHEN rn = 3 * n // 5 THEN y END) AS c3,
        |    max(CASE WHEN rn = 4 * n // 5 THEN y END) AS c4
        |  FROM rr),
        |binned AS (SELECT per,
        |    CASE WHEN y <= c1 THEN 0 WHEN y <= c2 THEN 1
        |         WHEN y <= c3 THEN 2 WHEN y <= c4 THEN 3
        |         ELSE 4 END AS bin
        |  FROM base CROSS JOIN cuts),
        |cnts AS (SELECT per, bin, count(*)::BIGINT AS c
        |  FROM binned GROUP BY 1, 2),
        |tot AS (SELECT per, count(*)::BIGINT AS n
        |  FROM base GROUP BY 1),
        |pv AS (SELECT bin,
        |    coalesce(max(CASE WHEN per = 0 THEN c END), 0)::BIGINT
        |      AS refc,
        |    coalesce(max(CASE WHEN per = 1 THEN c END), 0)::BIGINT
        |      AS curc
        |  FROM cnts GROUP BY 1),
        |pp AS (SELECT bin,
        |    (refc * 1000000) // (SELECT n FROM tot WHERE per = 0)
        |      AS ref_ppm,
        |    (curc * 1000000) // (SELECT n FROM tot WHERE per = 1)
        |      AS cur_ppm
        |  FROM pv),
        |pb AS (SELECT bin, ref_ppm, cur_ppm,
        |    CAST(round((greatest(cur_ppm, 1) - greatest(ref_ppm, 1))
        |        ::DOUBLE
        |      * ln(greatest(cur_ppm, 1)::DOUBLE
        |        / greatest(ref_ppm, 1)::DOUBLE) * 1000)
        |      AS BIGINT) AS psi_e9
        |  FROM pp)
        |SELECT bin, ref_ppm, cur_ppm, psi_e9,
        |  sum(psi_e9) OVER ()::BIGINT AS psi_total_e9,
        |  CASE WHEN sum(psi_e9) OVER () >= 250000000 THEN 'act'
        |       WHEN sum(psi_e9) OVER () >= 100000000
        |         THEN 'investigate'
        |       ELSE 'stable' END AS alert
        |FROM pb""".stripMargin),

    QueryDef("privacy_randomized_response", (s, dir) => {
      // LOCAL differential privacy via randomized response (Warner
      // 1965) — the per-user coin the central-noise family
      // (privacy_dp_counts) doesn't cover: each user reports their
      // true purchaser bit with p = 3/4, otherwise a uniform bit, so
      // any single report is (ln 3)-deniable, yet the debiased
      // estimator t̂ = (8·obs − N)/6 recovers the population count.
      // Both coins are xxhash64-derived (seeds 13/17) — replayable,
      // so the oracle reproduces every coin flip bit-for-bit and the
      // estimate, true count, and error are hash-exact integers (e2
      // via integral division). Scale: one user rollup, one map-only
      // coin projection, one 1-row agg — nothing state-ful anywhere.
      val per = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max((col("event_type") === "purchase").cast("long"))
          .as("t"))
        .select(col("user_id"), col("t"),
          pmod(xxhash64(lit(13L), col("user_id")), lit(4)).as("c1"),
          pmod(xxhash64(lit(17L), col("user_id")), lit(2)).as("c2"))
        .withColumn("report",
          when(col("c1") < 3, col("t")).otherwise(col("c2")))
      per.agg(count(lit(1)).as("n_users"), sum("t").as("true_cnt"),
          sum("report").as("obs_cnt"))
        .select(col("n_users"), col("true_cnt"), col("obs_cnt"),
          expr("(8 * obs_cnt - n_users) * 100 div 6").as("est_e2"),
          (expr("(8 * obs_cnt - n_users) * 100 div 6") -
            col("true_cnt") * 100).as("err_e2"))
    }, {
      // Oracle for `privacy_randomized_response`: both per-user coins are
      // chained xxhash64 values — the constant first-argument hash
      // (xxhash64(13, user_id) = hashLong(user_id, hashLong(13, 42))) is
      // folded at build time with Spark's own XXH64, so the emulated
      // chain provably replays the engine's coin flips.
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val s13 = u(XXH64.hashLong(13L, 42L))
      val s17 = u(XXH64.hashLong(17L, 42L))
      val ch = new Chain("rr",
        "SELECT user_id, user_id::HUGEINT AS ka, " +
          "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)" +
          "::BIGINT AS t " +
          "FROM events GROUP BY 1, 2")
      val h1 = hashLong(ch, "ka", s"$s13::HUGEINT", "c1")
      val h2 = hashLong(ch, "ka", s"$s17::HUGEINT", "c2")
      s"""WITH ${ch.render},
         |coins AS (
         |  SELECT t,
         |    ((${sig(h1)} % 4) + 4) % 4 AS c1,
         |    ((${sig(h2)} % 2) + 2) % 2 AS c2
         |  FROM ${ch.last}),
         |rep AS (
         |  SELECT t, CASE WHEN c1 < 3 THEN t ELSE c2 END AS report
         |  FROM coins),
         |m AS (SELECT count(*)::BIGINT AS n_users,
         |  sum(t)::BIGINT AS true_cnt, sum(report)::BIGINT AS obs_cnt
         |  FROM rep)
         |SELECT n_users, true_cnt, obs_cnt,
         |  ((8 * obs_cnt - n_users) * 100 // 6)::BIGINT AS est_e2,
         |  (((8 * obs_cnt - n_users) * 100 // 6) - true_cnt * 100)
         |    ::BIGINT AS err_e2
         |FROM m""".stripMargin
    })
  )
}
