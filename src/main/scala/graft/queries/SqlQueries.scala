package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Joins, Scale, TemporalJoins}
import graft.functions.ExactGrid
import graft.OracleSql.{Chain, hashLong, roundSpark, tokenHashCtes}
import graft.queries.QueryKit._

/** SQL-surface breadth: the TPC-H queries, aggregation, windows, set
  * operations, scalar/string/JSON functions, joins and the sketch
  * aggregates (HLL, KMV, bitmaps, heavy hitters, quantiles).
  */
object SqlQueries {

  // Exact-cents money aggregates (overflow/float sweep r12): every
  // round(sum(<money double>), 2) in the TPC-H family was one
  // association-error flip away from a cross-engine rounding mismatch
  // -- the 10x hash gate caught q1/q7/q9 (and agg_cube/grouping_sets)
  // off by one 0.01 grain at 6M rows. Money columns are exact
  // 2-decimal data, so sums run over exact scaled longs in
  // DECIMAL(38,0) and ONE integer half-up (div truncation -- verified
  // engine-identical for the signed q9 profit) lands the value back
  // on the 2-decimal grid; the emitted double is then identical in
  // both engines by construction, at any row count.
  //
  // r13 hardening: the emission is ONE exact int->double conversion
  // followed by ONE division by a power of ten -- both correctly
  // rounded under IEEE-754 and therefore build-invariant. There must
  // be NO trailing round(DOUBLE, n): the value is already on the
  // n-decimal grid, so the round is a mathematical no-op, but its
  // last-ulp behavior is implementation-defined (Spark rounds the
  // shortest-repr BigDecimal HALF_UP; DuckDB multiplies and
  // nearbyint-s, and has changed across releases) -- it flipped
  // agg_grouping_sets at the r12 driver gate on a different DuckDB
  // build while passing locally. MoneyTailSpec pins the invariant.
  private def sumE2(c: String): String =
    s"sum(cast(cast(round($c * 100) as bigint) as decimal(38,0)))"
  private val discE4Term =
    "cast(round(l_extendedprice * 100) as bigint)" +
      " * (100 - cast(round(l_discount * 100) as bigint))"
  private val sumDiscE4 = s"sum(cast($discE4Term as decimal(38,0)))"
  // 2^53 conversion bound (ADVICE r13): the exact-grid emission is
  // build-invariant only while the integer being converted fits in a
  // double's 53-bit mantissa — past that, Spark's decimal(38,0)->double
  // and DuckDB's HUGEINT->double conversions are not guaranteed to
  // agree in the last ulp. Guard loudly at the conversion site (the
  // same discipline as the ALS/ar2 overflow guards); the measured sf0.1
  // margin and the oracle-side argument live in OVERFLOW_AUDIT.md.
  // Catalyst dedups the repeated aggregate subexpression.
  private def g53(x: String): String =
    s"(case when abs($x) >= 9007199254740992 then" +
      s" cast(raise_error(concat('money emission exceeds 2^53: '," +
      s" cast(($x) as string))) as decimal(38,0)) else $x end)"
  private def e4Money(sumExpr: String): String =
    s"cast(${g53(s"($sumExpr + 50) div 100")} as double) / 100.0"
  private def e6Money(sumExpr: String): String =
    s"cast(${g53(s"($sumExpr + 5000) div 10000")} as double) / 100.0"
  private def e2Money(c: String): String =
    s"cast(${g53(sumE2(c))} as double) / 100.0"
  // 4-decimal average of an exact-cents sum over `cnt` rows: integer
  // half-up onto the 1e-4 grid BEFORE the single exact division.
  // half_up(a/b) = (2a + b) div (2b) for a, b >= 0.
  private def e4AvgOfCents(c: String, cnt: String): String =
    s"cast(${g53(s"(2 * ${sumE2(c)} * 100 + $cnt) div (2 * $cnt)")}" +
      " as double) / 10000.0"
  private val discMoney = e4Money(sumDiscE4)

  /** join_asof oracle, shared with join_asof_merge by design: the
    * custom-exec formulation is physically different, semantically
    * identical.
    */
  private val AsofOracle: String =
    """WITH p AS (SELECT event_id, user_id, ts AS purchase_ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS c_ts FROM events
      |      WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.purchase_ts,
      |       c.c_ts AS last_click_ts
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.purchase_ts >= c.c_ts""".stripMargin

  /** json_extract oracle, shared with json_schema_parse: the path
    * extract and the typed parse read the same `k` field.
    */
  private val JsonKOracle: String =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS prop_k
      |FROM events""".stripMargin

  /** Flagship query behind [[graft.SparkEntry.entry]]: revenue by nation
    * over the star schema (multi-way join + aggregation), the shape the
    * engine exists to serve.
    */
  private[graft] def revenueByNation(spark: SparkSession,
      dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val nat = t(spark, dir, "nation")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(expr(discMoney).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Bottom-k sample size and the quantiles read off the sample, shared
    * by the single-pass and rollup sketch queries and their one oracle.
    */
  private val SampleK = 256
  private val SampleQuantiles = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // quantities are integral: the bigint sum is exact and the
          // single int->double conversion is build-invariant (no
          // trailing round(DOUBLE, n) anywhere on the money surface)
          expr("cast(sum(cast(round(l_quantity) as bigint)) as double)")
            .as("sum_qty"),
          expr(e2Money("l_extendedprice")).as("sum_base_price"),
          expr(discMoney).as("sum_disc_price"),
          expr(e6Money(s"sum(cast($discE4Term" +
            " * (100 + cast(round(l_tax * 100) as bigint))" +
            " as decimal(38,0)))")).as("sum_charge"),
          expr("cast((2 * sum(cast(round(l_quantity) as bigint)) * 10000" +
            " + count(1)) div (2 * count(1)) as double) / 10000.0")
            .as("avg_qty"),
          expr(e4AvgOfCents("l_extendedprice", "count(1)")).as("avg_price"),
          expr(e4AvgOfCents("l_discount", "count(1)")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(cast(round(l_quantity) as bigint))::DOUBLE AS sum_qty,
        |  sum(cast(round(l_extendedprice * 100) as bigint))::DOUBLE
        |    / 100.0 AS sum_base_price,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS sum_disc_price,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))
        |      * (100 + cast(round(l_tax * 100) as bigint))) + 5000)
        |    // 10000)::DOUBLE / 100.0 AS sum_charge,
        |  ((2 * sum(cast(round(l_quantity) as bigint)) * 10000 + count(*))
        |    // (2 * count(*)))::DOUBLE / 10000.0 AS avg_qty,
        |  ((2 * sum(cast(round(l_extendedprice * 100) as bigint)) * 100
        |    + count(*)) // (2 * count(*)))::DOUBLE / 10000.0 AS avg_price,
        |  ((2 * sum(cast(round(l_discount * 100) as bigint)) * 100
        |    + count(*)) // (2 * count(*)))::DOUBLE / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    QueryDef("q3_shipping_priority", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(expr(discMoney).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),

    QueryDef("q5_local_supplier", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(expr(discMoney).as("revenue"))
    },
      """SELECT n_name,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    QueryDef("q7_volume_shipping", (s, dir) => {
      // bilateral trade volume between two nations by ship year
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(n1), supp("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), cust("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("ship_year"))
        .agg(expr(discMoney).as("volume"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin),

    QueryDef("q9_product_profit", (s, dir) => {
      // profit by nation and year for LIKE-matched parts (LIKE pushdown
      // + 4-way join + conditional arithmetic)
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val supp = t(s, dir, "supplier")
      val part = t(s, dir, "part").filter(col("p_name").contains("gear"))
      val nat = t(s, dir, "nation")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(expr(e4Money(s"sum(cast($discE4Term" +
          " - cast(round(p_retailprice * 100) as bigint)" +
          " * cast(l_quantity as bigint) * 10 as decimal(38,0)))"))
          .as("profit"))
    },
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))
        |      - cast(round(p_retailprice * 100) as bigint)
        |      * cast(l_quantity as bigint) * 10) + 50)
        |    // 100)::DOUBLE / 100.0 AS profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY n_name, o_year""".stripMargin),

    QueryDef("unpivot_metrics", (s, dir) => {
      // melt wide numeric columns into (metric, value) long form
      t(s, dir, "part").unpivot(
        ids = Array(col("p_partkey")),
        values = Array(col("p_size").cast("double").as("p_size"),
          col("p_retailprice")),
        variableColumnName = "metric",
        valueColumnName = "value")
    },
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'p_size' AS metric,
        |         CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)""".stripMargin),

    QueryDef("agg_grouping_sets", (s, dir) => {
      // explicit GROUPING SETS (the general form behind cube/rollup):
      // per-(status, priority), per-status, and grand total — but NOT
      // per-priority, which neither cube nor rollup can express alone
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |       cast(sum(cast(round(o_totalprice * 100) as bigint))
          |         as double) / 100.0 AS total
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), ())""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         ::DOUBLE / 100.0 AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())""".stripMargin),

    QueryDef("agg_rollup", (s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          // exact cents sum (same 10x-gate class as agg_cube)
          (sum(expr("cast(round(c_acctbal * 100) as bigint)"))
            .cast("double") / 100.0).as("total_bal"))
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       sum(CAST(round(c_acctbal * 100) AS BIGINT))
        |         ::DOUBLE / 100.0 AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),

    QueryDef("distinct_agg", (s, dir) => {
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("agg_misc_functions", (s, dir) => {
      // modern-aggregate surface: count_if / bool_and / bool_or /
      // median — the conveniences an analyst reaches for before any
      // custom operator
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(expr("count_if(o_totalprice > 200000)").as("n_big"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
          round(expr("median(o_totalprice)"), 4).as("median_price"))
    },
      """SELECT o_orderstatus,
        |  sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  round(median(o_totalprice), 4) AS median_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("window_topk_per_group", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
    },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    locally {
      val k = 256
      QueryDef("approx_distinct_kmv", (s, dir) => {
        // mergeable KMV distinct-count sketch: map-side partials of <=k
        // hashed longs per group; integer-exact estimator, so the DuckDB
        // oracle reproduces the approximation bit-for-bit
        tsp(s, dir, "lineitem", "l_orderkey").groupBy("l_returnflag")
          .agg(
            graft.expressions.Sketches
              .kmv_distinct(col("l_orderkey"), k).as("approx_orders"),
            countDistinct(col("l_orderkey")).as("exact_orders"))
      }, approxDistinctKmv(k))
    },

    locally {
      val k = 256
      QueryDef("approx_distinct_kmv_rollup", (s, dir) => {
        // the sketch-store pattern: pre-aggregate one <=8k-byte sketch per
        // (flag, ship-month) — persistable — then answer the per-flag
        // distinct count by MERGING states, never re-touching raw rows.
        // KMV merges losslessly, so this equals the single-pass sketch and
        // shares its oracle.
        val monthly = tsp(s, dir, "lineitem", "l_orderkey")
          .groupBy(col("l_returnflag"), date_trunc("month", col("l_shipdate")))
          .agg(graft.expressions.Sketches
            .kmv_state(col("l_orderkey"), k).as("sk"))
        monthly.groupBy("l_returnflag")
          .agg(graft.expressions.Sketches.kmv_merge_est(col("sk"))
            .as("approx_orders"))
      },
        // lossless merge: the rolled-up estimate equals the single-pass one
        "SELECT l_returnflag, approx_orders" +
          s" FROM (${approxDistinctKmv(k)}) kr")
    },

    QueryDef("approx_distinct_hll", (s, dir) => {
      // HyperLogLog distinct sketch: 64 BYTES of state per group (vs
      // KMV's 8·k) with the whole estimator — bucket/rank bit ops,
      // dyadic-integer harmonic sum, scaled-α floor division, shared
      // scaled-ln linear-counting table — in exact integer arithmetic,
      // so the DuckDB oracle reproduces the approximation bit-for-bit
      tsp(s, dir, "lineitem", "l_orderkey").groupBy("l_returnflag")
        .agg(
          graft.expressions.HllSketches
            .hll_distinct(col("l_orderkey")).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
    }, approxDistinctHll()),

    QueryDef("approx_distinct_hll_rollup", (s, dir) => {
      // the 64-byte sketch-store pattern: one persistable register
      // array per (flag, ship-month), per-flag answer by elementwise-max
      // MERGE of stored states. HLL merges losslessly (max of maxes),
      // so this equals the single-pass sketch and shares its oracle.
      val bySegment = tsp(s, dir, "lineitem", "l_orderkey")
        .groupBy(col("l_returnflag"),
          date_trunc("month", col("l_shipdate")))
        .agg(graft.expressions.HllSketches
          .hll_state(col("l_orderkey")).as("sk"))
      bySegment.groupBy("l_returnflag")
        .agg(graft.expressions.HllSketches.hll_merge_est(col("sk"))
          .as("approx_orders"))
    },
      // elementwise-max register merge is lossless: rollup == single-pass
      s"SELECT l_returnflag, approx_orders FROM (${approxDistinctHll()}) hr"),

    QueryDef("exact_distinct_bitmap", (s, dir) => {
      // roaring-style compressed bitmap (ClickHouse groupBitmap / Druid
      // pattern): EXACT distinct customers per order status in one
      // bitmap per group — map-side partials OR together word-wise, so
      // the shuffle moves ~1 bit per dense key instead of 8 bytes per
      // raw value. The exact complement to the KMV/HLL sketches for
      // dense surrogate-key domains.
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(graft.expressions.Bitmaps.bitmap_distinct(col("o_custkey"))
          .as("n_cust"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey)::BIGINT AS n_cust,
        |  count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("exact_distinct_bitmap_rollup", (s, dir) => {
      // the exact sketch-store pattern: persist one compressed bitmap
      // per (status, order-month), answer the per-status distinct count
      // later by OR-merging stored states — bitmap union is lossless, so
      // the rolled-up answer EQUALS count(DISTINCT) over raw rows and
      // the two formulations share an oracle. This is what makes exact
      // distinct viable at 100 TB: the fine-grain pass runs once.
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          date_trunc("month", col("o_orderdate")))
        .agg(graft.expressions.Bitmaps.bitmap_state(col("o_custkey"))
          .as("bm"))
      monthly.groupBy("o_orderstatus")
        .agg(graft.expressions.Bitmaps.bitmap_merge_count(col("bm"))
          .as("n_cust"))
    },
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey)::BIGINT AS n_cust
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("topk_agg", (s, dir) => {
      // bounded-heap TypedImperativeAggregate: map-side partial top-k,
      // shuffles <=k rows per group per partition (vs the window
      // formulation shuffling every row)
      val packed = round(col("o_totalprice") * 100).cast("long") *
        lit(10000000L) + col("o_orderkey")
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(graft.expressions.TopKBy.top_k_by(packed, col("o_orderkey"), 3)
          .as("top"))
        .select(col("o_custkey"),
          posexplode(col("top")).as(Seq("pos", "o_orderkey")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
          col("o_orderkey"))
    },
      """SELECT o_custkey, rn AS rank, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
        |               + o_orderkey DESC) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    QueryDef("window_running_sum", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (sum(expr("cast(cast(round(o_totalprice * 100) as" +
            " bigint) as decimal(38,0))")).over(w).cast("double")
            / 100.0).as("running_spend"))
    },
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  (sum(cast(round(o_totalprice * 100) as bigint))
        |    OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |    / 100.0 AS running_spend
        |FROM orders""".stripMargin),

    QueryDef("window_lag_sessionize", (s, dir) => {
      // session boundaries at >30 min gaps; sessions per user
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 0)
            .when(floor(col("ts").cast("double")) -
              floor(col("prev_ts").cast("double")) > 1800, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg((sum("new_session") + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
    },
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
        |         WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin),

    QueryDef("window_analytics", (s, dir) => {
      // ntile / lead / first_value / nth_value over a total order
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        lead("o_orderkey", 1).over(w).as("next_key"),
        first_value(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cheapest_key"),
        nth_value(col("o_orderkey"), 2)
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("second_key"))
    },
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  first_value(o_orderkey) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cheapest_key,
        |  nth_value(o_orderkey, 2) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin),

    QueryDef("date_series", (s, dir) => {
      // per order: one row per month between orderdate and +3 months
      t(s, dir, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          explode(sequence(
            date_trunc("month", col("o_orderdate")).cast("date"),
            add_months(date_trunc("month", col("o_orderdate"))
              .cast("date"), 3),
            expr("INTERVAL 1 MONTH"))).as("month"))
    },
      """SELECT o_orderkey,
        |  CAST(unnest(generate_series(
        |    date_trunc('month', CAST(o_orderdate AS DATE)),
        |    date_trunc('month', CAST(o_orderdate AS DATE))
        |      + INTERVAL 3 MONTH,
        |    INTERVAL 1 MONTH)) AS DATE) AS month
        |FROM orders WHERE o_orderkey < 1000""".stripMargin),

    QueryDef("regexp_filter", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").rlike("^[a-h].*(ea|od)"))
        .select(col("p_partkey"), col("p_name"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0)))
            .as("vowel_runs"))
    },
      """SELECT p_partkey, p_name,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INTEGER)
        |    AS vowel_runs
        |FROM part WHERE regexp_matches(p_name, '^[a-h].*(ea|od)')""".stripMargin),

    QueryDef("set_operations", (s, dir) => {
      val cust = t(s, dir, "customer")
      val auto = cust.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select("c_custkey")
      val rich = cust.filter(col("c_acctbal") > 5000).select("c_custkey")
      val nat0 = cust.filter(col("c_nationkey") === 0).select("c_custkey")
      auto.union(rich).distinct().except(nat0)
        .intersect(cust.select("c_custkey"))
    },
      """SELECT c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |  UNION
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |) EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey = 0
        |INTERSECT SELECT c_custkey FROM customer""".stripMargin),

    QueryDef("sort_limit", (s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin),

    QueryDef("pivot_events", (s, dir) => {
      val types = Seq("click", "purchase", "signup", "error")
      val p = t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
      p.select(col("user_id") +:
        types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    },
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin),

    QueryDef("scalar_functions", (s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        upper(col("o_orderstatus")).as("status_u"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
          .as("status_prio"),
        // rounded to 3dp: the true product has exactly 3 decimals, so no
        // half-way cases exist and Spark/DuckDB rounding agree bit-exactly
        round(col("o_totalprice") * 0.1, 3).as("commission"),
        (col("o_orderkey") % 7).as("bucket7"),
        when(col("o_totalprice") > 150000, "high")
          .when(col("o_totalprice") > 50000, "mid")
          .otherwise("low").as("price_band"))
    },
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
        |  upper(o_orderstatus) AS status_u,
        |  substr(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
        |  o_orderstatus || '-' || o_orderpriority AS status_prio,
        |  round(o_totalprice * 0.1, 3) AS commission,
        |  o_orderkey % 7 AS bucket7,
        |  CASE WHEN o_totalprice > 150000 THEN 'high'
        |       WHEN o_totalprice > 50000 THEN 'mid'
        |       ELSE 'low' END AS price_band
        |FROM orders""".stripMargin),

    QueryDef("date_math", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("ship_days"),
          add_months(col("o_orderdate").cast("date"), 3).as("due_month"),
          date_add(col("l_shipdate").cast("date"), 30).as("receipt_due"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |       CAST(l_shipdate AS DATE)) AS INTEGER) AS ship_days,
        |  CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS due_month,
        |  CAST(l_shipdate AS DATE) + 30 AS receipt_due
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),

    QueryDef("json_extract", (s, dir) => {
      tsp(s, dir, "events", "event_id").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
    }, JsonKOracle),

    QueryDef("json_schema_parse", (s, dir) => {
      // typed parse: from_json with an explicit schema (vs path extract)
      tsp(s, dir, "events", "event_id").select(
        col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("prop_k"))
    }, JsonKOracle),

    QueryDef("window_range_frame", (s, dir) => {
      // value-based RANGE frame: per-flag rolling 30-day quantity sum
      // over the daily series (integer-exact — qty sums are whole)
      val daily = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          datediff(col("l_shipdate"), lit("1992-01-01")).as("day"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("l_returnflag", "day").agg(sum("qty").as("day_qty"))
      val w = Window.partitionBy("l_returnflag").orderBy("day")
        .rangeBetween(-29, 0)
      daily.withColumn("rolling_30d", sum("day_qty").over(w))
    },
      """WITH daily AS (
        |  SELECT l_returnflag,
        |    datediff('day', DATE '1992-01-01', l_shipdate::DATE)::INT AS day,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS day_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, day, day_qty,
        |  sum(day_qty) OVER (PARTITION BY l_returnflag ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)::BIGINT AS rolling_30d
        |FROM daily""".stripMargin),

    QueryDef("window_rank_functions", (s, dir) => {
      // ranking-function family over a deterministic (unique) ordering.
      // percent_rank/cume_dist are emitted on the exact 1e-6 grid from
      // their defining integer ratios ((rank-1)/(n-1), rank/n — the
      // ordering is unique, so rank = row position and cume_dist's
      // peer-group ceiling is rank itself) instead of rounding the
      // built-ins' double division (OVERFLOW_AUDIT r14 int-ratio drain).
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wp = Window.partitionBy("o_orderstatus")
      val n = count(lit(1)).over(wp)
      val rnk = rank().over(w)
      t(s, dir, "orders")
        .filter(col("o_custkey") % 50 === 0) // keep output bounded
        .select(col("o_orderstatus"), col("o_orderkey"),
          rnk.as("rnk"),
          dense_rank().over(w).as("drnk"),
          when(n === 1, lit(0.0))
            .otherwise(ExactGrid.eRatio(rnk - 1, n - 1, 1000000L)).as("prnk"),
          ExactGrid.eRatio(rnk, n, 1000000L).as("cdist"),
          ntile(4).over(w).as("quartile"))
    },
      s"""SELECT o_orderstatus, o_orderkey,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CASE WHEN count(*) OVER p = 1 THEN 0.0
        |    ELSE ${OracleSql.eRatioE("rank() OVER w - 1",
             "count(*) OVER p - 1", 1000000L)} END AS prnk,
        |  ${OracleSql.eRatioE("rank() OVER w", "count(*) OVER p", 1000000L)}
        |    AS cdist,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey ASC),
        |       p AS (PARTITION BY o_orderstatus)""".stripMargin),

    QueryDef("approx_quantiles_sample", (s, dir) => {
      // mergeable quantile sketch: deterministic bottom-k row sample
      // per group (<=k 16-byte pairs per partition through the
      // shuffle); quantiles are positional reads off the sample, so the
      // oracle reproduces them exactly
      import graft.expressions.Kq
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(Kq.kq_state(col("l_quantity"), SampleK,
          col("l_orderkey"), col("l_linenumber").cast("long")).as("sk"))
        .select(col("l_returnflag") +:
          SampleQuantiles.map { case (n, q) =>
            Kq.kq_quantile(col("sk"), q).as(n) }: _*)
    }, quantileSample(SampleK, SampleQuantiles)),

    QueryDef("approx_quantiles_rollup", (s, dir) => {
      // sketch-store rollup: one sample state per (flag, ship-month),
      // persistable, merged per flag WITHOUT re-touching raw rows.
      // Bottom-k merges losslessly, so this equals the single-pass
      // sketch and shares its oracle.
      import graft.expressions.Kq
      val monthly = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          date_trunc("month", col("l_shipdate")))
        .agg(Kq.kq_state(col("l_quantity"), SampleK,
          col("l_orderkey"), col("l_linenumber").cast("long")).as("sk"))
      monthly.groupBy("l_returnflag")
        .agg(Kq.kq_merge(col("sk")).as("msk"))
        .select(col("l_returnflag") +:
          SampleQuantiles.map { case (n, q) =>
            Kq.kq_quantile(col("msk"), q).as(n) }: _*)
    },
      // lossless merge: the rolled-up sample equals the single-pass one
      quantileSample(SampleK, SampleQuantiles)),

    locally {
      val (d, w, vocabFactor) = (4, 32, 32)
      QueryDef("heavy_hitters_cms", (s, dir) => {
        // count-min frequency sketch: d=4 x w=32 integer grid (1 KB),
        // map-side partial grids merged by elementwise add — frequency
        // estimates over a corpus whose vocabulary could never be held
        // exactly. Deliberately narrow w forces real collisions; the
        // min-of-rows estimate is integer-exact, so the oracle reproduces
        // every overestimate bit-for-bit. Heavy hitters = above-mean
        // frequency tokens (integer threshold, scale-stable).
        import graft.expressions.Cms
        val toks = t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(explode(split(lower(trim(col("text"))), "\\s+"))
            .as("token"))
        val state = toks
          .agg(Cms.cms_state(col("token"), d, w).as("st"))
          .head().getAs[Array[Byte]](0)
        val total = toks.count()
        toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
          .filter(col("exact_cnt") * vocabFactor >= total)
          .select(col("token"), col("exact_cnt"),
            Cms.cms_estimate(lit(state), col("token"), d).as("cms_cnt"))
      }, {
        // Oracle for `heavy_hitters_cms`: bit-exact count-min emulation.
        // Token strings hash once (the existing xxhash64 string emulation),
        // each distinct hash re-hashes per sketch row via `hashLong(thu,
        // 1000+r)`, buckets are the low bits (`w` a power of two, so the
        // unsigned mod equals the JVM's signed mask), and each row's bucket
        // count is the sum of colliding tokens' exact counts — exactly the
        // grid the Spark aggregate builds. The estimate is the least of the
        // d bucket counts. Heavy hitters = tokens with above-`1/vocabFactor`
        // frequency (integer-exact threshold).
        require(w >= 2 && (w & (w - 1)) == 0, s"w must be a power of two: $w")
        val ch = new Chain("cm", "SELECT thu FROM tc")
        val bCols = (1 to d).map { r =>
          val h = hashLong(ch, "thu", (1000 + r).toString, s"r$r")
          ch.add(s"b$r", s"($h) % $w")
        }
        val bcCtes = (1 to d).map { r =>
          s"""bc$r AS (SELECT dh.b$r AS b, sum(t.exact_cnt)::BIGINT AS cnt
             |  FROM dh JOIN tc t ON t.thu = dh.thu GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        val joins = (1 to d)
          .map(r => s"JOIN bc$r c$r ON c$r.b = dh.b$r").mkString("\n  ")
        val leastExpr = (1 to d).map(r => s"c$r.cnt")
          .mkString("least(", ", ", ")")
        s"""WITH ${tokenHashCtes()},
           |tc AS MATERIALIZED (SELECT thu, any_value(tok) AS token,
           |    count(*)::BIGINT AS exact_cnt FROM tokh GROUP BY thu),
           |${ch.render},
           |dh AS MATERIALIZED (SELECT thu, ${bCols.mkString(", ")}
           |  FROM ${ch.last}),
           |$bcCtes,
           |tot AS (SELECT sum(exact_cnt) AS n FROM tc)
           |SELECT t.token, t.exact_cnt, $leastExpr AS cms_cnt
           |FROM tc t JOIN dh ON dh.thu = t.thu
           |  $joins
           |  CROSS JOIN tot
           |WHERE t.exact_cnt * $vocabFactor >= tot.n""".stripMargin
      })
    },

    locally {
      val k = 256
      QueryDef("approx_jaccard_kmv", (s, dir) => {
        // sketch SET ALGEBRA (Beyer et al. KMV / theta-sketch style):
        // how much do two corpus partitions overlap, WITHOUT comparing
        // them? One distributed pass reduces each side's distinct token
        // hashes to a 256-entry k-min sketch; the driver-side algebra
        // then runs on two ~2 KB states (bounded by construction):
        // theta = min of the two k-th values, the theta-filtered
        // retained sets give a uniform sample of each side, and
        // |SA∩SB| / |SA∪SB| estimates the Jaccard — everything integer,
        // so the oracle reproduces each estimate bit-for-bit.
        import graft.expressions.{KmvBuffer, Sketches}
        val toks = t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        val states = toks
          .select(when(col("doc_id") % 2 === 0, "even").otherwise("odd")
            .as("side"), col("token"))
          .groupBy("side")
          .agg(Sketches.kmv_state(col("token"), k).as("st"))
          .collect().map(r => r.getString(0) ->
            r.getAs[Array[Byte]](1)).toMap
        def parse(bytes: Array[Byte]): Array[Long] = {
          val bb = java.nio.ByteBuffer.wrap(bytes)
          bb.getInt // k
          Array.fill(bb.getInt)(bb.getLong)
        }
        val (ea, eb) = (parse(states("even")), parse(states("odd")))
        // theta per side: k-th smallest (unsigned) or "infinity" below k
        def theta(set: Array[Long]): Option[Long] =
          if (set.length < k) None else Some(set.last)
        val g = (theta(ea), theta(eb)) match {
          case (Some(a), Some(b)) =>
            Some(if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b)
          case (a, b) => a.orElse(b)
        }
        def below(set: Array[Long]): Set[Long] = g match {
          case None => set.toSet
          case Some(t) =>
            set.filter(java.lang.Long.compareUnsigned(_, t) < 0).toSet
        }
        val (sa, sb) = (below(ea), below(eb))
        val inter = (sa & sb).size.toLong
        val uni = (sa | sb).size.toLong
        val bufA = KmvBuffer.fromBytes(states("even"))
        val bufU = KmvBuffer.fromBytes(states("even"))
        bufU.mergeWith(KmvBuffer.fromBytes(states("odd")))
        val jacPpm = if (uni == 0L) 0L else inter * 1000000L / uni
        import s.implicits._
        Seq((bufA.estimate,
          KmvBuffer.fromBytes(states("odd")).estimate,
          bufU.estimate, inter, uni, jacPpm))
          .toDF("n_even_est", "n_odd_est", "union_est", "sample_inter",
            "sample_union", "jaccard_ppm")
      }, {
        // Oracle for `approx_jaccard_kmv`: KMV/theta set algebra between
        // the even- and odd-doc token-hash sets, reproduced exactly. Per
        // side: distinct XXH64 token hashes (seed 42, the [[tokenHashCtes]]
        // emulation), the k unsigned-smallest retained, theta = k-th value
        // (2^64 sentinel below k). Global theta = least of the two; the
        // theta-filtered retained sets give the exact sample intersection/
        // union the engine computes on its two deserialized sketch buffers,
        // and the union estimate re-runs the KMV estimator on the merged
        // k-min set — all HUGEINT, no floats.
        val km1 = k - 1
        s"""WITH ${tokenHashCtes()},
           |sides AS (
           |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END
           |    AS side, thu FROM tokh),
           |dh AS (SELECT DISTINCT side, thu FROM sides),
           |rk AS (SELECT side, thu,
           |    row_number() OVER (PARTITION BY side ORDER BY thu) AS rn,
           |    count(*) OVER (PARTITION BY side) AS n
           |  FROM dh),
           |ret AS (SELECT side, thu, rn, n FROM rk WHERE rn <= $k),
           |th AS (SELECT side, max(n) AS n,
           |    CASE WHEN max(n) >= $k
           |      THEN max(CASE WHEN rn = $k THEN thu END)
           |      ELSE 18446744073709551616::HUGEINT END AS theta
           |  FROM ret GROUP BY side),
           |est AS (SELECT side,
           |    CASE WHEN n < $k THEN n::HUGEINT
           |      ELSE ($km1::HUGEINT * 18446744073709551616) // theta END
           |      AS est
           |  FROM th),
           |g AS (SELECT min(theta) AS theta FROM th),
           |sa AS (SELECT r.thu FROM ret r, g
           |  WHERE r.side = 'even' AND r.thu < g.theta),
           |sb AS (SELECT r.thu FROM ret r, g
           |  WHERE r.side = 'odd' AND r.thu < g.theta),
           |samp AS (SELECT
           |    (SELECT count(*) FROM sa JOIN sb ON sa.thu = sb.thu)::HUGEINT
           |      AS inter,
           |    (SELECT count(DISTINCT thu) FROM
           |      (SELECT thu FROM sa UNION ALL SELECT thu FROM sb))::HUGEINT
           |      AS uni),
           |um AS (SELECT DISTINCT thu FROM ret),
           |urk AS (SELECT thu,
           |    row_number() OVER (ORDER BY thu) AS rn,
           |    count(*) OVER () AS n
           |  FROM um),
           |uag AS (SELECT max(CASE WHEN rn = $k THEN thu END) AS uk,
           |    least(max(n), $k) AS n
           |  FROM urk WHERE rn <= $k),
           |uest AS (SELECT CASE WHEN n < $k THEN n::HUGEINT
           |    ELSE ($km1::HUGEINT * 18446744073709551616) // uk END AS est
           |  FROM uag)
           |SELECT
           |  (SELECT est FROM est WHERE side = 'even')::BIGINT AS n_even_est,
           |  (SELECT est FROM est WHERE side = 'odd')::BIGINT AS n_odd_est,
           |  (SELECT est FROM uest)::BIGINT AS union_est,
           |  samp.inter::BIGINT AS sample_inter,
           |  samp.uni::BIGINT AS sample_union,
           |  (CASE WHEN samp.uni = 0 THEN 0
           |    ELSE (samp.inter * 1000000) // samp.uni END)::BIGINT
           |    AS jaccard_ppm
           |FROM samp""".stripMargin
      })
    },

    QueryDef("heavy_hitters_mg", (s, dir) => {
      // Misra-Gries frequent items, candidates-then-verify: one pass
      // builds a 64-counter mergeable summary whose candidate set
      // provably contains every token above n/65 of the stream; one
      // exact counting pass over the <=64 candidates then yields the
      // deterministic heavy-hitter table. The corpus vocabulary is
      // never held in memory — the same candidates+verify shape as the
      // LSH dedup family, applied to frequency.
      import graft.expressions.Frequent
      val toks = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(explode(split(lower(trim(col("text"))), "\\s+"))
          .as("token"))
      // bounded by construction: the summary holds <= 64 items. The
      // stream length rides in the SAME aggregate, so candidates+total
      // cost one tokenization scan, and verify a second — never three.
      // (No cache: an exploded token frame is corpus-sized; at 100 TB a
      // second scan is cheaper than materializing it.)
      val head = toks
        .agg(Frequent.mg_candidates(col("token"), 64).as("c"),
          count(lit(1)).as("n"))
        .head()
      val cands = head.getSeq[String](0)
      val total = head.getLong(1)
      toks.filter(col("token").isin(cands: _*))
        .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .filter(col("exact_cnt") * 64 > lit(total))
    },
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |    AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tot AS (SELECT count(*)::BIGINT AS n FROM toks)
        |SELECT token, count(*)::BIGINT AS exact_cnt
        |FROM toks CROSS JOIN tot
        |GROUP BY token, tot.n
        |HAVING count(*) * 64 > tot.n""".stripMargin),

    QueryDef("interpolate_hourly", (s, dir) => {
      // time-series resample: hourly grid per event type, linear
      // interpolation between surrounding observations; segments
      // explode only their own grid points (no grid x obs join)
      TemporalJoins.interpolateHourly(t(s, dir, "events"),
        "event_type", "ts", "value")
    },
      // independently recomputes the decoded-PNG pixel statistics from
      // the closed-form pixel function (keep in sync with
      // Multimodal.ImageCodec.pixel) — no image library on the oracle
      // side; PNG losslessness makes the comparison exact-integer
        // Oracle for `interpolate_hourly`: same dedupe (max per second),
        // same lead-window segmentation, same per-segment grid explode, and
        // the interpolation formula in the same IEEE association, with
        // Spark-semantics rounding.
        s"""WITH obs AS (
           |  SELECT event_type AS t, CAST(floor(epoch(ts)) AS BIGINT) AS e,
           |         max(value) AS v
           |  FROM events GROUP BY 1, 2),
           |seg AS (
           |  SELECT t, e, v,
           |    lead(e) OVER (PARTITION BY t ORDER BY e) AS ne,
           |    lead(v) OVER (PARTITION BY t ORDER BY e) AS nv
           |  FROM obs),
           |b AS (
           |  SELECT *, ((e + 3599) // 3600) * 3600 AS gs,
           |    CASE WHEN ne IS NULL THEN e ELSE ne - 1 END AS ge
           |  FROM seg),
           |g AS (
           |  SELECT t, e, v, ne, nv,
           |    unnest(CASE WHEN gs <= ge THEN generate_series(gs, ge, 3600)
           |           ELSE [] END) AS grid
           |  FROM b)
           |SELECT t AS event_type, grid AS grid_epoch,
           |  ${roundSpark(
                "CASE WHEN ne IS NULL THEN v ELSE v + (nv - v) * " +
                  "((grid - e)::DOUBLE / (ne - e)::DOUBLE) END", 4)}
           |    AS value_interp
           |FROM g""".stripMargin),

    QueryDef("agg_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          // exact cents sum: the grand-total row's 1.5M-row double sum
          // crossed the round(,2) boundary vs DuckDB (found by the 10x
          // hash gate); the long sum is exact and /100.0 rounds once
          (sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("double") / 100.0).as("total"))
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         ::DOUBLE / 100.0 AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    QueryDef("exists_subquery", (s, dir) => {
      // EXISTS ⇒ left-semi join
      val cust = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("c_custkey"))
      Joins.semiJoin(cust, big, "c_custkey")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin),

    QueryDef("percentiles", (s, dir) => {
      t(s, dir, "orders").groupBy("o_orderstatus").agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
    },
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("agg_regression", (s, dir) => {
      // OLS price-on-quantity fit per return flag: the linear-model
      // aggregate family (slope/intercept/R², fit count) — one
      // map-side-combined pass, same moment sums as corr/covar
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
          .as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity"))
          .as("n_fit"))
    },
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4)
        |    AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity)::BIGINT AS n_fit
        |FROM lineitem GROUP BY 1""".stripMargin),

    QueryDef("join_lateral_topn", (s, dir) => {
      // per-region top-2 customers by balance via a LATERAL correlated
      // subquery — the SQL-standard form of per-group top-k; Catalyst
      // rewrites the correlation to a ranked join
      t(s, dir, "region").createOrReplaceTempView("lat_region")
      t(s, dir, "nation").createOrReplaceTempView("lat_nation")
      t(s, dir, "customer").createOrReplaceTempView("lat_customer")
      s.sql(
        """SELECT r.r_name, t.c_name, t.c_acctbal
          |FROM lat_region r,
          |LATERAL (
          |  SELECT c_name, c_acctbal
          |  FROM lat_customer c JOIN lat_nation n
          |    ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  ORDER BY c_acctbal DESC, c_name ASC
          |  LIMIT 2) t""".stripMargin)
    },
      """SELECT r.r_name, t.c_name, t.c_acctbal
        |FROM region r,
        |LATERAL (
        |  SELECT c_name, c_acctbal
        |  FROM customer c JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY c_acctbal DESC, c_name ASC
        |  LIMIT 2) t""".stripMargin),

    QueryDef("stats_agg", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6)
          .as("corr_pq"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4)
          .as("cov_pq"))
    },
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(var_samp(l_discount), 6) AS var_disc,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_pq
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    QueryDef("string_functions", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        reverse(col("p_type")).as("type_rev"),
        substring_index(col("p_type"), " ", 1).as("type_first_word"),
        translate(col("p_brand"), "#", "N").as("brand_t"),
        repeat(col("p_brand"), 2).as("brand_x2"))
    },
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_padded,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  reverse(p_type) AS type_rev,
        |  split_part(p_type, ' ', 1) AS type_first_word,
        |  translate(p_brand, '#', 'N') AS brand_t,
        |  repeat(p_brand, 2) AS brand_x2
        |FROM part""".stripMargin),

    QueryDef("array_explode", (s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
    },
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin),

    QueryDef("collect_sorted", (s, dir) => {
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"))
    },
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
        |    AS priorities
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QueryDef("having_filter", (s, dir) => {
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          expr(e2Money("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 15)
    },
      """SELECT o_custkey, count(*) AS n_orders,
        |       sum(cast(round(o_totalprice * 100) as bigint))
        |         ::DOUBLE / 100.0 AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin),

    QueryDef("cross_join_enum", (s, dir) => {
      val statuses = t(s, dir, "orders").select("o_orderstatus").distinct()
      t(s, dir, "region").crossJoin(statuses)
        .select("r_name", "o_orderstatus")
    },
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)""".stripMargin),

    QueryDef("union_by_name", (s, dir) => {
      val p = t(s, dir, "part")
      val a = p.filter(col("p_size") < 10)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val b = p.filter(col("p_size") >= 45)
        .select(col("p_size"), col("p_partkey"), col("p_brand")) // reordered
      a.unionByName(b)
    },
      """SELECT p_partkey, p_brand, p_size FROM part WHERE p_size < 10
        |UNION ALL
        |SELECT p_partkey, p_brand, p_size FROM part WHERE p_size >= 45""".stripMargin),

    QueryDef("null_handling", (s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("maybe_status"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
          .as("status_filled"),
        when(col("o_totalprice") > 200000, lit(null))
          .otherwise(col("o_totalprice")).as("capped_price"),
        col("o_totalprice").isNull.as("is_null_price"))
    },
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS maybe_status,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        |  CASE WHEN o_totalprice > 200000 THEN NULL
        |       ELSE o_totalprice END AS capped_price,
        |  (o_totalprice IS NULL) AS is_null_price
        |FROM orders""".stripMargin),

    QueryDef("min_max_by", (s, dir) => {
      // deterministic arg-min/max: price (2-decimal money) and the unique
      // order key packed into one BIGINT ordering key — DuckDB's arg_max
      // has no struct-ordered overload, so both sides use the same scalar
      val ordKey = round(col("o_totalprice") * 100).cast("long") *
        lit(10000000L) + col("o_orderkey")
      t(s, dir, "orders").groupBy("o_custkey").agg(
        max_by(col("o_orderkey"), ordKey).as("biggest_order"),
        min_by(col("o_orderkey"), ordKey).as("smallest_order"))
    },
      """SELECT o_custkey,
        |  arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |    * 10000000 + o_orderkey) AS biggest_order,
        |  arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |    * 10000000 + o_orderkey) AS smallest_order
        |FROM orders GROUP BY o_custkey""".stripMargin),

    QueryDef("join_asof", (s, dir) => {
      // attribution: each purchase matched to the user's latest click at
      // or before it — one sort-shuffle, no range explosion
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      TemporalJoins.asOfJoin(purchases, clicks, "user_id",
        "purchase_ts", "c_ts", Seq("c_ts"))
        .withColumnRenamed("asof_c_ts", "last_click_ts")
    }, AsofOracle),

    QueryDef("join_asof_merge", (s, dir) => {
      // same attribution semantics as join_asof (and the SAME oracle
      // by design), executed on the custom tier-(c) physical operator:
      // AsOfJoinNode -> AsOfJoinStrategy -> AsOfJoinExec, a
      // partition-local two-pointer merge with O(1) state instead of
      // the union+window pass
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      TemporalJoins.asOfJoinMerge(purchases, clicks, "user_id",
          "purchase_ts", "c_ts", Seq("c_ts"))
        .withColumnRenamed("asof_c_ts", "last_click_ts")
    }, AsofOracle),

    QueryDef("join_asof_forward", (s, dir) => {
      // conversion lookahead: each click matched to the user's EARLIEST
      // purchase at or after it — the forward direction of the same
      // one-shuffle as-of machinery
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      TemporalJoins.asOfJoin(clicks, purchases, "user_id",
        "click_ts", "p_ts", Seq("p_ts"), direction = "forward")
        .withColumnRenamed("asof_p_ts", "next_purchase_ts")
    },
      """WITH cl AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |            WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT cl.event_id, cl.user_id, cl.click_ts,
        |       p.p_ts AS next_purchase_ts
        |FROM cl ASOF LEFT JOIN p
        |  ON cl.user_id = p.user_id AND cl.click_ts <= p.p_ts""".stripMargin),

    QueryDef("join_asof_nearest", (s, dir) => {
      // each error matched to the user's nearest click in either time
      // direction (ties resolve backward) — both direction fills
      // evaluated over one exchange
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts").as("err_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      TemporalJoins.asOfJoin(errors, clicks, "user_id",
        "err_ts", "c_ts", Seq("c_ts"), direction = "nearest")
        .withColumnRenamed("asof_c_ts", "nearest_click_ts")
    },
      """WITH er AS (SELECT event_id, user_id, ts AS err_ts FROM events
        |            WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts AS c_ts FROM events
        |      WHERE event_type = 'click')
        |SELECT er.event_id, er.user_id, er.err_ts,
        |  (SELECT c.c_ts FROM c WHERE c.user_id = er.user_id
        |   ORDER BY abs(epoch(c.c_ts) - epoch(er.err_ts)),
        |     CASE WHEN c.c_ts <= er.err_ts THEN 0 ELSE 1 END
        |   LIMIT 1) AS nearest_click_ts
        |FROM er""".stripMargin),

    QueryDef("join_range", (s, dir) => {
      // errors paired with same-user signups in the preceding hour —
      // coarse-bucket equi-join + exact refine, never O(n·m)
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sig_id"), col("user_id"),
          col("ts").as("sig_ts"))
      TemporalJoins.rangeJoin(errors, signups, "user_id",
        "err_ts", "sig_ts", windowSeconds = 3600)
        .select("err_id", "sig_id", "user_id")
    },
      """SELECT e.event_id AS err_id, s.event_id AS sig_id, e.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id
        | AND s.ts <= e.ts
        | AND s.ts >= e.ts - INTERVAL 1 HOUR""".stripMargin),

    QueryDef("q6_filter_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1994-01-01") &&
          col("l_shipdate") < lit("1995-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(expr(e4Money(
          "sum(cast(cast(round(l_extendedprice * 100) as bigint)" +
            " * cast(round(l_discount * 100) as bigint)" +
            " as decimal(38,0)))")).as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * cast(round(l_discount * 100) as bigint)) + 50)
        |    // 100)::DOUBLE / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    QueryDef("q10_returned_items", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr(discMoney).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |  ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),

    QueryDef("q2_min_cost_supplier", (s, dir) => {
      // Correlated scalar subquery — Catalyst rewrites it to an
      // aggregate + join (RewriteCorrelatedScalarSubquery), never a
      // per-row re-execution; exercised through spark.sql on purpose.
      t(s, dir, "part").createOrReplaceTempView("q2_part")
      t(s, dir, "lineitem").createOrReplaceTempView("q2_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q2_supplier")
      s.sql("""
        SELECT DISTINCT p_partkey, p_name, s_name,
               round(l_extendedprice, 2) AS min_price
        FROM q2_part
        JOIN q2_lineitem ON l_partkey = p_partkey
        JOIN q2_supplier ON l_suppkey = s_suppkey
        WHERE p_size < 10
          AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM q2_lineitem l2
                                 WHERE l2.l_partkey = p_partkey)""")
    },
      """SELECT DISTINCT p_partkey, p_name, s_name,
        |       round(l_extendedprice, 2) AS min_price
        |FROM part
        |JOIN lineitem ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 10
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = p_partkey)""".stripMargin),

    QueryDef("q13_customer_distribution", (s, dir) => {
      // filtered LEFT OUTER join (condition on the right side only)
      // + two-level aggregation: orders-per-customer, then histogram
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey") &&
          ord("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count""".stripMargin),

    QueryDef("q14_promo_revenue", (s, dir) => {
      // conditional-aggregate ratio over a month of shipments
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01") &&
          col("l_shipdate") < lit("1995-10-01"))
      val part = t(s, dir, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .agg(round(
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(lit(0.0))) * 100 /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("promo_pct"))
    },
      """SELECT round(
        |    100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                     THEN l_extendedprice * (1 - l_discount)
        |                     ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin),

    QueryDef("q16_supplier_cnt", (s, dir) => {
      // NOT IN exclusion (anti join on a non-null key) + distinct agg
      val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val li0 = t(s, dir, "lineitem")
      val li = li0.join(broadcast(excl),
        li0("l_suppkey") === excl("s_suppkey"), "left_anti")
      val part = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 10, 15, 20))
      part.join(li, col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin),

    QueryDef("q18_large_orders", (s, dir) => {
      // in-subquery over a grouped HAVING: orders whose total quantity
      // clears a threshold (sum of integer-valued doubles — exact)
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey").as("big_okey"))
        .agg(expr("cast(sum(cast(round(l_quantity) as bigint)) as double)")
          .as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      ord.join(big, ord("o_orderkey") === col("big_okey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
    },
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |             sum(cast(round(l_quantity) as bigint))::DOUBLE
        |               AS sum_qty
        |      FROM lineitem
        |      GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),

    QueryDef("q19_disjunctive_join", (s, dir) => {
      // disjunctive multi-attribute join predicate (brand × size ×
      // quantity bands) — pushed as one OR filter after the equi-join
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) &&
              col("l_quantity").between(20, 30)))
        .agg(expr(discMoney).as("revenue"))
    },
      """SELECT ((sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint))) + 50)
        |    // 100)::DOUBLE / 100.0 AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    QueryDef("q22_idle_balances", (s, dir) => {
      // scalar-aggregate threshold (integer-exact cents mean so the
      // boundary can't flip between engines) + NOT EXISTS anti join
      val cust = t(s, dir, "customer")
        .withColumn("cents", floor(col("c_acctbal") * 100).cast("long"))
      val pos = cust.filter(col("c_acctbal") > 0)
      val thr = pos.agg(expr("sum(cents) div count(1)").as("thr"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      pos.join(broadcast(thr))
        .filter(col("cents") > col("thr"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          expr(e2Money("c_acctbal")).as("totacctbal"))
    },
      """WITH pos AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_acctbal > 0),
        |thr AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS thr FROM pos)
        |SELECT c_nationkey, count(*) AS numcust,
        |       sum(cast(round(c_acctbal * 100) as bigint))
        |         ::DOUBLE / 100.0 AS totacctbal
        |FROM pos, thr
        |WHERE cents > thr
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin),

    QueryDef("q4_priority_semijoin", (s, dir) => {
      // EXISTS semi-join + priority histogram: orders in a quarter with
      // at least one returned line. The semi-join never widens the
      // orders row, so the shuffle carries only (o_orderkey) probes.
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
      val ret = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      ord.join(ret, ord("o_orderkey") === ret("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin),

    QueryDef("q8_market_share", (s, dir) => {
      // national market share: NATION_3 suppliers' slice of STANDARD-part
      // revenue sold to EUROPE customers, per order year. Two broadcast
      // nation/region dims; one wide fact join; conditional-sum ratio.
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val part = t(s, dir, "part").filter(col("p_type") === "STANDARD")
      val natC = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_regionkey").as("c_rk"))
      val natS = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(natC), cust("c_nationkey") === col("c_nk"))
        .join(broadcast(reg), col("c_rk") === col("r_regionkey"))
        .join(broadcast(natS), supp("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(expr("round(cast(sum(cast(case when supp_nation =" +
          s" 'NATION_3' then $discE4Term else 0 end as decimal(38,0)))" +
          s" as double) / cast($sumDiscE4 as double), 4)")
          .as("mkt_share"))
    },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN cast(round(l_extendedprice * 100) as bigint)
        |        * (100 - cast(round(l_discount * 100) as bigint))
        |      ELSE 0 END)::DOUBLE
        |    / sum(cast(round(l_extendedprice * 100) as bigint)
        |      * (100 - cast(round(l_discount * 100) as bigint)))::DOUBLE,
        |    4) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
        |GROUP BY o_year""".stripMargin),

    QueryDef("q11_important_stock", (s, dir) => {
      // per-part value with a HAVING gate against a global scalar —
      // integer-cents sums so the threshold boundary is exact in any
      // aggregation order, and `div` (not double /) for the fraction.
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier").filter(col("s_acctbal") > 0)
        .select(col("s_suppkey"))
      val cents = (floor(col("l_extendedprice") * 100).cast("long")
        * col("l_quantity").cast("long"))
      val perPart = li.join(broadcast(supp),
          li("l_suppkey") === supp("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("value_cents"))
      // 1.5x the mean per-part value, in exact integer arithmetic —
      // a fixed fraction-of-total gate goes vacuous as the part count
      // grows, a mean-relative gate selects the same tail at any scale
      val thr = perPart.agg(
        expr("(3 * sum(value_cents)) div (2 * count(1))").as("thr"))
      perPart.join(broadcast(thr))
        .filter(col("value_cents") > col("thr"))
        .select(col("l_partkey"), col("value_cents"))
    },
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      WHERE s_acctbal > 0)
        |  GROUP BY l_partkey)
        |SELECT l_partkey, value_cents FROM pp
        |WHERE value_cents > (SELECT CAST((3 * sum(value_cents))
        |                                 // (2 * count(*)) AS BIGINT)
        |                     FROM pp)""".stripMargin),

    QueryDef("q12_priority_by_flag", (s, dir) => {
      // two-way conditional counts (q12 shape, return-flag standing in
      // for the fixture's missing ship-mode column)
      val li = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
      val ord = t(s, dir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
            .otherwise(1)).as("low_line_count"))
    },
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(l_shipdate) = 1997
        |GROUP BY l_returnflag""".stripMargin),

    QueryDef("q15_top_supplier", (s, dir) => {
      // max-over-aggregated-view: quarterly revenue per supplier in
      // exact integer cents (per-row floor, then sum — deterministic in
      // any order), winner(s) selected by equality with the broadcast max
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")
      val rev = li.groupBy(col("l_suppkey"))
        .agg(sum(cents).as("total_revenue_cents"))
      val mx = rev.agg(max(col("total_revenue_cents")).as("mx"))
      val supp = t(s, dir, "supplier")
      rev.join(broadcast(mx)).filter(col("total_revenue_cents") === col("mx"))
        .join(supp, col("l_suppkey") === supp("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |                  AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_cents = (SELECT max(total_revenue_cents)
        |                             FROM rev)""".stripMargin),

    QueryDef("q17_small_qty_revenue", (s, dir) => {
      // correlated per-part average-quantity threshold (decorrelated to
      // an aggregate + broadcast join; avg of integer-valued doubles is
      // IEEE-exact so the 0.5*avg comparison cannot flip between engines)
      val li = t(s, dir, "lineitem")
      val avgq = li.groupBy(col("l_partkey").as("apk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      val part = t(s, dir, "part").filter(col("p_brand") === "Brand#12")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(avgq, li("l_partkey") === col("apk"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(expr(s"cast((${sumE2("l_extendedprice")} * 200 + 700)" +
          " div 1400 as double) / 100.0").as("avg_yearly"))
    },
      """SELECT ((sum(cast(round(l_extendedprice * 100) as bigint)) * 200
        |    + 700) // 1400)::DOUBLE / 100.0 AS avg_yearly
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#12'
        |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),

    QueryDef("q20_promo_suppliers", (s, dir) => {
      // nested IN-with-aggregate-threshold: suppliers who moved more
      // than 1.1x the mean PROMO-part quantity in 1996 (a mean-relative
      // gate stays ~equally selective at any scale; exact integer sums
      // so the boundary cannot flip with aggregation order; the
      // threshold agg runs on the fact side only)
      val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val li = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1996)
      val perSupp = li.join(broadcast(promo),
          li("l_partkey") === promo("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("promo_qty"))
      val thr = perSupp.agg(
        expr("(11 * sum(promo_qty)) div (10 * count(1))").as("thr"))
      val heavy = perSupp.join(broadcast(thr))
        .filter(col("promo_qty") > col("thr"))
      val supp = t(s, dir, "supplier")
      supp.join(heavy, supp("s_suppkey") === heavy("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },
      """WITH h AS (
        |  SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT))
        |                         AS BIGINT) AS promo_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO' AND year(l_shipdate) = 1996
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM h
        |  WHERE promo_qty > (SELECT CAST((11 * sum(promo_qty))
        |                                 // (10 * count(*)) AS BIGINT)
        |                     FROM h))""".stripMargin),

    QueryDef("q21_waiting_suppliers", (s, dir) => {
      // double-correlated EXISTS / NOT EXISTS (q21 shape): suppliers
      // with a returned line in a finished multi-supplier order where
      // no OTHER supplier also had a return. Composed as distinct
      // (order, supplier) pair frames + one semi and one anti join —
      // every shuffle carries only the narrow key pair.
      val ordF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val lo = t(s, dir, "lineitem")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"),
          col("l_returnflag"))
      val pairs = lo.select(col("okey"), col("skey")).distinct()
      val rpairs = lo.filter(col("l_returnflag") === "R")
        .select(col("okey"), col("skey")).distinct()
      val others = pairs.select(col("okey").as("okey2"), col("skey").as("skey2"))
      val rothers = rpairs.select(col("okey").as("okey3"), col("skey").as("skey3"))
      val waiting = rpairs
        .join(others, col("okey") === col("okey2") &&
          col("skey") =!= col("skey2"), "left_semi")
        .join(rothers, col("okey") === col("okey3") &&
          col("skey") =!= col("skey3"), "left_anti")
      val supp = t(s, dir, "supplier")
      waiting.join(supp, col("skey") === supp("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      """WITH lo AS (
        |  SELECT l_orderkey AS okey, l_suppkey AS skey, l_returnflag
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |r AS (SELECT DISTINCT okey, skey FROM lo WHERE l_returnflag = 'R')
        |SELECT s_name, count(*) AS numwait
        |FROM r JOIN supplier ON skey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lo l2
        |              WHERE l2.okey = r.okey AND l2.skey <> r.skey)
        |  AND NOT EXISTS (SELECT 1 FROM r r2
        |                  WHERE r2.okey = r.okey AND r2.skey <> r.skey)
        |GROUP BY s_name""".stripMargin),

    QueryDef("join_salted", (s, dir) => {
      // the skew-mitigation join on the oracle surface: lineitem is
      // salted (random fan of the hot key's rows), orders replicated
      // across the salt fan, so one pathological key can't pin a
      // single reducer. The salt column is internal — the join RESULT
      // is provably salt-invariant, which is exactly what the oracle
      // (a plain join) checks.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority"))
      Scale.saltedJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    },
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT))::BIGINT AS revenue_cents
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin),

    QueryDef("agg_weighted_percentile", (s, dir) => {
      // weighted percentiles without a global sort: collapse to one row
      // per (group, value) with summed integer weight, then a group-
      // partitioned cumulative window finds the first value whose
      // cumulative weight crosses q% of the group total. All compares
      // are exact integers — no interpolation, no float drift.
      val w = Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
      val byPrice = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      val cum = byPrice
        .withColumn("cw", sum(col("wt")).over(w))
        .withColumn("tot",
          sum(col("wt")).over(Window.partitionBy("l_returnflag")))
      val qs = { import s.implicits._; Seq(25, 50, 75, 90).toDF("q") }
      cum.crossJoin(broadcast(qs))
        .filter(col("cw") * 100 >= col("q") * col("tot") &&
          (col("cw") - col("wt")) * 100 < col("q") * col("tot"))
        .select(col("l_returnflag"), col("q"),
          col("l_extendedprice").as("value"))
    },
      """WITH bp AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    sum(l_quantity::BIGINT)::BIGINT AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, l_extendedprice, wt,
        |    sum(wt) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS cw,
        |    sum(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bp)
        |SELECT c.l_returnflag, q.q, c.l_extendedprice AS value
        |FROM cum c CROSS JOIN (VALUES (25), (50), (75), (90)) q(q)
        |WHERE c.cw * 100 >= q.q * c.tot
        |  AND (c.cw - c.wt) * 100 < q.q * c.tot""".stripMargin)
  )

  /** Oracle for `approx_distinct_kmv`: the KMV estimate is reproduced
    * EXACTLY — XXH64.hashLong(l_orderkey, 42) via the HUGEINT chain,
    * distinct hashes ranked unsigned-ascending per group, estimate
    * `(k-1) * 2^64 // u_k` in HUGEINT floor division (the engine does
    * the identical BigInt math), exact count below k. Scope: key column
    * must be a non-negative BIGINT (signed bit-pattern == HUGEINT value;
    * l_orderkey >= 1 by construction).
    */
  private def approxDistinctKmv(k: Int): String = {
    val ch = new Chain("kv",
      "SELECT DISTINCT l_returnflag AS grp, l_orderkey::HUGEINT AS lv FROM lineitem")
    val hv = hashLong(ch, "lv", "42", "h")
    s"""WITH ${ch.render},
       |hh AS MATERIALIZED (SELECT DISTINCT grp, $hv AS hv FROM ${ch.last}),
       |rk AS (SELECT grp, hv,
       |         row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS n
       |       FROM hh),
       |ag AS (SELECT grp, max(n) AS n,
       |         max(CASE WHEN rn = $k THEN hv END) AS uk
       |       FROM rk GROUP BY grp),
       |ex AS (SELECT l_returnflag AS grp,
       |         count(DISTINCT l_orderkey) AS exact_orders
       |       FROM lineitem GROUP BY 1)
       |SELECT a.grp AS l_returnflag,
       |  CASE WHEN a.n < $k THEN a.n::BIGINT
       |       ELSE least((${k - 1}::HUGEINT * 18446744073709551616) // a.uk,
       |                  9223372036854775807)::BIGINT END AS approx_orders,
       |  e.exact_orders
       |FROM ag a JOIN ex e ON e.grp = a.grp""".stripMargin
  }

  /** Oracle for `approx_distinct_hll` (and, via lossless elementwise-max
    * register merge, `approx_distinct_hll_rollup`): the whole HLL
    * pipeline re-derived in SQL from the shared constants in
    * [[graft.expressions.Hll]] — bucket/rank by integer bit tests on
    * the emulated XXH64, the harmonic sum as the exact dyadic HUGEINT
    * `Σ 2^(59-M_j)`, the raw estimate as one HUGEINT floor division
    * with α pre-scaled to millionths, and the linear-counting
    * correction from the SAME 64-entry scaled-ln table the engine
    * compiles in. No floats anywhere, so the approximation matches the
    * engine bit-for-bit.
    */
  private def approxDistinctHll(): String = {
    import graft.expressions.Hll
    val sb = Hll.SuffixBits
    val two = BigInt(1) << sb
    val ch = new Chain("hl",
      "SELECT DISTINCT l_returnflag AS grp, l_orderkey::HUGEINT AS lv FROM lineitem")
    val hv = hashLong(ch, "lv", "42", "h")
    val rankCase = (1 to sb)
      .map(r => s"WHEN sfx >= ${BigInt(1) << (sb - r)} THEN $r")
      .mkString("\n|     ")
    val termCase = (0 to sb + 1)
      .map(m => s"WHEN $m THEN ${BigInt(1) << (sb + 1 - m)}")
      .mkString("\n|           ")
    val lnCase = (1 to Hll.M)
      .map(v => s"WHEN $v THEN ${Hll.LnTable(v - 1)}")
      .mkString("\n|            ")
    s"""WITH ${ch.render},
       |hh AS MATERIALIZED (SELECT DISTINCT grp, $hv AS hv FROM ${ch.last}),
       |bx AS (SELECT grp, hv // $two AS j, hv % $two AS sfx FROM hh),
       |br AS (SELECT grp, j,
       |   CASE WHEN sfx = 0 THEN ${sb + 1}
       |     $rankCase END AS r FROM bx),
       |regs AS (SELECT grp, j, max(r) AS m FROM br GROUP BY 1, 2),
       |fr AS (SELECT g.grp, t.j, coalesce(rg.m, 0) AS m
       |       FROM (SELECT DISTINCT grp FROM regs) g
       |       CROSS JOIN range(0, ${Hll.M}) t(j)
       |       LEFT JOIN regs rg ON rg.grp = g.grp AND rg.j = t.j),
       |ag AS (SELECT grp,
       |         sum(CASE m
       |           $termCase END)::HUGEINT AS s,
       |         sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS v
       |       FROM fr GROUP BY grp),
       |es AS (SELECT grp, v,
       |         CAST('${Hll.RawNumerator}' AS HUGEINT) // (s * 1000000)
       |           AS raw
       |       FROM ag),
       |ex AS (SELECT l_returnflag AS grp,
       |         count(DISTINCT l_orderkey) AS exact_orders
       |       FROM lineitem GROUP BY 1)
       |SELECT e.grp AS l_returnflag,
       |  CASE WHEN e.v > 0 AND e.raw <= ${Hll.LinearThreshold}
       |       THEN (${Hll.M}::HUGEINT * (CASE e.v
       |            $lnCase END)) // 1000000
       |       ELSE least(e.raw, 9223372036854775807) END::BIGINT
       |    AS approx_orders,
       |  x.exact_orders
       |FROM es e JOIN ex x ON x.grp = e.grp""".stripMargin
  }

  /** Oracle for `approx_quantiles_sample` (and its lossless rollup
    * twin): emulate the deterministic bottom-k row sample — rank rows by
    * the chained xxhash64 of the (orderkey, linenumber) row key, keep
    * the k unsigned-smallest per group, and read the positional quantile
    * `ceil(q * m)` off the sample's value order. IEEE `q * m` and ceil
    * are bit-deterministic in both engines, so the estimate matches
    * exactly.
    */
  private def quantileSample(k: Int, qs: Seq[(String, Double)]): String = {
    val ch = new Chain("qq",
      "SELECT l_returnflag AS g, l_quantity AS v, " +
        "l_orderkey::HUGEINT AS ka, l_linenumber::HUGEINT AS kb " +
        "FROM lineitem")
    val h1 = hashLong(ch, "ka", "42", "p")
    val h2 = hashLong(ch, "kb", h1, "w")
    val cols = qs.map { case (n, q) =>
      s"max(CASE WHEN vr.r = greatest(1, least(m.m, " +
        s"CAST(ceil($q * m.m) AS BIGINT))) THEN vr.v END) AS $n"
    }.mkString(",\n  ")
    s"""WITH ${ch.render},
       |dd AS (SELECT g, $h2 AS hv, min(v) AS v
       |       FROM ${ch.last} GROUP BY 1, 2),
       |rk AS (SELECT g, v,
       |         row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
       |       FROM dd),
       |smp AS (SELECT g, v FROM rk WHERE rn <= $k),
       |m AS (SELECT g, count(*) AS m FROM smp GROUP BY g),
       |vr AS (SELECT s.g, s.v,
       |         row_number() OVER (PARTITION BY s.g ORDER BY s.v) AS r
       |       FROM smp s)
       |SELECT vr.g AS l_returnflag,
       |  $cols
       |FROM vr JOIN m ON m.g = vr.g
       |GROUP BY 1""".stripMargin
  }
}
