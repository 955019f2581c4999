package graft
package queries

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Cleaning, IncrementalAgg, Joins, Merge, Split, Stamping}
import graft.functions.{Graph, Packing}
import graft.OracleSql.{Chain, eRatioE, hashLong, idHashCtes, sig}
import graft.queries.QueryKit._

/** The reference pipeline's own operators (universal cleaning, vertical
  * split, enrichment joins, SCD merges, validation) and the lakehouse
  * surface around them: file sources, partition pruning, snapshots,
  * incremental merges and shard export.
  */
object PipelineQueries {

  private val EtlDate = LocalDate.of(2026, 1, 1)

  /** scd2_merge oracle, shared with scd2_point_in_time. */
  private val Scd2Oracle: String =
    """WITH target AS (
        |  SELECT *, DATE '2020-01-01' AS effective_from,
        |         DATE '9999-12-31' AS effective_to, TRUE AS is_current
        |  FROM customer WHERE c_custkey % 5 <> 0),
        |updates AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         round(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0),
        |j AS (SELECT t.c_custkey AS t_pk, t.c_name AS t_name,
        |             t.c_nationkey AS t_nk, t.c_acctbal AS t_bal,
        |             t.c_mktsegment AS t_seg, t.effective_from AS t_from,
        |             u.c_custkey AS u_pk, u.c_name AS u_name,
        |             u.c_nationkey AS u_nk, u.c_acctbal AS u_bal,
        |             u.c_mktsegment AS u_seg,
        |             NOT (t.c_name IS NOT DISTINCT FROM u.c_name AND
        |                  t.c_nationkey IS NOT DISTINCT FROM u.c_nationkey AND
        |                  t.c_acctbal IS NOT DISTINCT FROM u.c_acctbal AND
        |                  t.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment) AS changed
        |      FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey)
        |SELECT t_pk AS c_custkey, t_name AS c_name, t_nk AS c_nationkey,
        |       t_bal AS c_acctbal, t_seg AS c_mktsegment,
        |       t_from AS effective_from, DATE '9999-12-31' AS effective_to,
        |       TRUE AS is_current
        |FROM j WHERE u_pk IS NULL OR NOT changed
        |UNION ALL
        |SELECT t_pk, t_name, t_nk, t_bal, t_seg, t_from,
        |       DATE '2026-01-01', FALSE
        |FROM j WHERE u_pk IS NOT NULL AND t_pk IS NOT NULL AND changed
        |UNION ALL
        |SELECT u_pk, u_name, u_nk, u_bal, u_seg,
        |       DATE '2026-01-01', DATE '9999-12-31', TRUE
        |FROM j WHERE u_pk IS NOT NULL AND (t_pk IS NULL OR changed)""".stripMargin

  /** Round-trip checksums shared by the JSON, ORC and CSV source
    * queries: the oracle reads the parquet ORIGINAL, so any row loss,
    * duplication or text mangling through a sink+source path shows up
    * as a hash mismatch.
    */
  private val RoundTripOracle: String =
    """SELECT lang, source, count(*)::BIGINT AS n_docs,
      |  sum(length(text))::BIGINT AS sum_chars,
      |  sum(doc_id)::BIGINT AS sum_ids
      |FROM documents GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("clean_universal", (s, dir) => {
      // P1+P2+P4+P11+P12+P13: normalize names, rename, trim strings,
      // deterministic row_id, fixed etl_date (universal-cleaning job)
      val cleaned = Cleaning.trimStrings(
        Cleaning.renameColumns(
          Cleaning.normalizeColumnNames(t(s, dir, "customer"))))
      Stamping.stamp(cleaned, Stamping.Deterministic(Seq("c_custkey")),
        Some(EtlDate))
    },
      """SELECT c_custkey, trim(c_name) AS c_name, c_nationkey, c_acctbal,
        |       trim(c_mktsegment) AS c_mktsegment,
        |       CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS row_id,
        |       DATE '2026-01-01' AS etl_date
        |FROM customer""".stripMargin),

    QueryDef("clean_rename_map", (s, dir) => {
      // P2 with a custom map; case-insensitive, unmatched pass through
      Cleaning.renameColumns(t(s, dir, "customer"),
        Map("C_NAME" -> "customer_name", "c_mktsegment" -> "market_segment",
          "not_a_column" -> "ignored"))
    },
      """SELECT c_custkey, c_name AS customer_name, c_nationkey, c_acctbal,
        |       c_mktsegment AS market_segment
        |FROM customer""".stripMargin),

    QueryDef("split_pattern_projection", (s, dir) => {
      // P7-P9: select columns whose NAME contains a pattern
      Split.patternSelect(t(s, dir, "lineitem"), Seq("key", "price"))
    },
      "SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice FROM lineitem"),

    QueryDef("split_guarded_drop", (s, dir) => {
      // P10: drop only columns that exist
      Split.guardedDrop(t(s, dir, "part"),
        Seq("p_retailprice", "no_such_column"))
    }, "SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part"),

    QueryDef("join_left_enrich", (s, dir) => {
      // J1/J2: left enrich facts with a broadcast dimension
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      Joins.leftEnrich(ord, cust, "o_custkey")
    },
      """SELECT o.o_custkey, o.o_orderkey, o.o_orderstatus, o.o_totalprice,
        |       o.o_orderdate, o.o_orderpriority,
        |       c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),

    QueryDef("join_manifest_anti", (s, dir) => {
      // J3: manifest anti-join — drop already-ingested keys
      val ord = t(s, dir, "orders")
      val ledger = ord.filter(col("o_totalprice") > 200000)
        .select("o_orderkey")
      Joins.antiJoin(ord, ledger, "o_orderkey")
    },
      """SELECT * FROM orders
        |WHERE o_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)""".stripMargin),

    QueryDef("join_bloom_prune", (s, dir) => {
      // exact semi-join with an explicit bloom-filter fact-side prune:
      // the urgent-orders filter reaches the lineitem scan as a
      // bloom_contains predicate (map-only, codegen'd), so at scale the
      // join shuffles only selectivity + fp-rate of the fact table.
      // False positives are stripped by the exact join => bit-equal to
      // the plain semi-join, which is what the oracle runs.
      val li = t(s, dir, "lineitem")
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      Joins.bloomPrunedSemiJoin(li, dim, "l_orderkey", "o_orderkey",
          numBits = 1 << 17, numHashes = 5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          expr("cast(sum(cast(round(l_quantity) as bigint)) as double)")
            .as("sum_qty"))
    },
      """SELECT l_returnflag, count(*) AS n_items,
        |       sum(cast(round(l_quantity) as bigint))::DOUBLE AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin),

    QueryDef("route_allowlist", (s, dir) => {
      // J4: allowlist routing; emit per-route counts (both branches)
      val (ok, bad) = Joins.route(t(s, dir, "events"), "event_type",
        Seq("click", "purchase"))
      ok.agg(count(lit(1)).as("n")).withColumn("route", lit("allowed"))
        .unionByName(
          bad.agg(count(lit(1)).as("n")).withColumn("route", lit("rejected")))
    },
      """SELECT count(*) AS n, 'allowed' AS route FROM events
        |WHERE event_type IN ('click','purchase')
        |UNION ALL
        |SELECT count(*) AS n, 'rejected' AS route FROM events
        |WHERE event_type NOT IN ('click','purchase')""".stripMargin),

    QueryDef("scd1_merge", (s, dir) => {
      val cust = t(s, dir, "customer")
      val target = cust.filter(col("c_custkey") % 3 =!= 0)
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .select(cust.columns.map(col): _*)
      Merge.scd1(target, updates, "c_custkey")
    },
      """WITH target AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
        |updates AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
        |         'UPDATED' AS c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT coalesce(u.c_custkey, t.c_custkey) AS c_custkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        |FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey""".stripMargin),

    QueryDef("scd2_merge", (s, dir) => {
      val cust = t(s, dir, "customer")
      val attrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val target = cust.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("effective_from", lit(java.sql.Date.valueOf("2020-01-01")))
        .withColumn("effective_to", lit(java.sql.Date.valueOf("9999-12-31")))
        .withColumn("is_current", lit(true))
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2))
      Merge.scd2(target, updates, "c_custkey", attrs,
        java.sql.Date.valueOf("2026-01-01"))
    }, Scd2Oracle),

    QueryDef("scd6_merge", (s, dir) => {
      // Kimball's SCD6 hybrid ("1+2+3") on the scd2_merge fixture:
      // full row history (type 2) + the current c_acctbal stamped on
      // every historical row (type 1 overlay — history-filtered
      // queries read today's balance without a read-time self-join) +
      // the previous balance on the current row (type 3). Two
      // key-partitioned windows, bounded by versions per key.
      val cust = t(s, dir, "customer")
      val attrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val target = cust.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("effective_from",
          lit(java.sql.Date.valueOf("2020-01-01")))
        .withColumn("effective_to",
          lit(java.sql.Date.valueOf("9999-12-31")))
        .withColumn("is_current", lit(true))
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2))
      Merge.scd6(target, updates, "c_custkey", attrs, "c_acctbal",
        java.sql.Date.valueOf("2026-01-01"))
    },
      s"""WITH m AS (
         |$Scd2Oracle
         |)
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |  c_mktsegment, effective_from, effective_to, is_current,
         |  max(CASE WHEN is_current THEN c_acctbal END)
         |    OVER (PARTITION BY c_custkey) AS cur_c_acctbal,
         |  CASE WHEN is_current THEN lag(c_acctbal) OVER (
         |    PARTITION BY c_custkey
         |    ORDER BY effective_from, effective_to, is_current)
         |  END AS prev_c_acctbal
         |FROM m""".stripMargin),

    QueryDef("session_window_agg", (s, dir) => {
      // native session windows (gap-close semantics inside the engine,
      // the batch twin of the streaming sessionizer): start = first
      // event, end = last event + gap
      t(s, dir, "events")
        .filter(col("user_id") % 100 === 0)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          (sum(expr("cast(cast(round(value * 100) as bigint)" +
            " as decimal(38,0))")).cast("double") / 100.0)
            .as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total_value"))
    },
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id % 100 = 0),
        |s AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  sum(cast(round(value * 100) as bigint))::DOUBLE
        |    / 100.0 AS total_value
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    QueryDef("scd2_point_in_time", (s, dir) => {
      // the query SCD2 exists for: the dim as it was on a date. Before
      // the 2026-01-01 load the pre-merge versions answer; after it the
      // replacements do — one run probes both sides of the boundary
      val cust = t(s, dir, "customer")
      val attrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val target = cust.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("effective_from",
          lit(java.sql.Date.valueOf("2020-01-01")))
        .withColumn("effective_to",
          lit(java.sql.Date.valueOf("9999-12-31")))
        .withColumn("is_current", lit(true))
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2))
      val dim = Merge.scd2(target, updates, "c_custkey", attrs,
        java.sql.Date.valueOf("2026-01-01"))
      Merge.pointInTime(dim, java.sql.Date.valueOf("2025-06-15"))
        .withColumn("as_of", lit("2025-06-15"))
        .unionByName(
          Merge.pointInTime(dim, java.sql.Date.valueOf("2026-01-01"))
            .withColumn("as_of", lit("2026-01-01")))
        .select("as_of", "c_custkey", "c_acctbal", "is_current")
    },
      s"""WITH dim AS ($Scd2Oracle)
         |SELECT '2025-06-15' AS as_of, c_custkey, c_acctbal, is_current
         |FROM dim WHERE effective_from <= DATE '2025-06-15'
         |  AND effective_to > DATE '2025-06-15'
         |UNION ALL
         |SELECT '2026-01-01', c_custkey, c_acctbal, is_current
         |FROM dim WHERE effective_from <= DATE '2026-01-01'
         |  AND effective_to > DATE '2026-01-01'""".stripMargin),

    QueryDef("validate_completeness", (s, dir) => {
      // C5: completeness check — per-required-domain presence counts
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase", "signup"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type IN ('click','purchase','signup')
        |GROUP BY event_type""".stripMargin),

    QueryDef("validate_schema_drift", (s, dir) => {
      // ingestion contract check: the ACTUAL table schema diffed against
      // the declared column contract — new columns surface as
      // 'unexpected', contract columns the feed dropped as 'missing'
      // (the schema-level completion of validate_completeness's
      // row-level gate; catalog metadata only, no data scan)
      import s.implicits._
      val contract = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
        "l_audit_contract_col") // declared but never delivered
      val actual = t(s, dir, "lineitem").columns.toSeq
      val e = contract.toDF("column_name")
        .withColumn("__e", lit(true))
      val a = actual.toDF("column_name").withColumn("__a", lit(true))
      e.join(a, Seq("column_name"), "full_outer")
        .select(col("column_name"),
          when(col("__e").isNotNull && col("__a").isNotNull, "ok")
            .when(col("__e").isNotNull, "missing")
            .otherwise("unexpected").as("status"))
    },
      """WITH contract AS (
        |  SELECT unnest(['l_orderkey', 'l_partkey', 'l_suppkey',
        |    'l_linenumber', 'l_quantity', 'l_extendedprice',
        |    'l_discount', 'l_returnflag', 'l_linestatus', 'l_shipdate',
        |    'l_audit_contract_col']) AS column_name),
        |actual AS (
        |  SELECT column_name FROM (DESCRIBE lineitem))
        |SELECT coalesce(c.column_name, a.column_name) AS column_name,
        |  CASE WHEN c.column_name IS NOT NULL
        |         AND a.column_name IS NOT NULL THEN 'ok'
        |       WHEN c.column_name IS NOT NULL THEN 'missing'
        |       ELSE 'unexpected' END AS status
        |FROM contract c FULL OUTER JOIN actual a
        |  ON a.column_name = c.column_name""".stripMargin),

    QueryDef("validate_constraints", (s, dir) => {
      // dbt-test-style contract: the three row-local rules fuse into
      // ONE full-scan aggregate; unique adds one narrow key agg; the
      // FK check is a broadcast anti-join against distinct parent keys.
      // o_orderstatus 'P' and prices above 300k violate on purpose —
      // nonzero counts prove the counting path
      import graft.ops.Validation
      import graft.ops.Validation._
      Validation.validate(t(s, dir, "orders"), Seq(
        NotNull("o_orderkey"),
        AcceptedValues("o_orderstatus", Seq("F", "O")),
        InRange("o_totalprice", 0.0, 300000.0),
        Unique(Seq("o_custkey")),
        RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
    },
      """SELECT 'o_orderkey_not_null' AS rule, 'not_null' AS rule_type,
        |  count(*) FILTER (o_orderkey IS NULL)::BIGINT AS n_violations,
        |  (count(*) FILTER (o_orderkey IS NULL) = 0) AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus_accepted_values', 'accepted_values',
        |  count(*) FILTER (o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('F', 'O'))::BIGINT,
        |  (count(*) FILTER (o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('F', 'O')) = 0)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice_in_range', 'in_range',
        |  count(*) FILTER (o_totalprice IS NOT NULL
        |    AND o_totalprice NOT BETWEEN 0.0 AND 300000.0)::BIGINT,
        |  (count(*) FILTER (o_totalprice IS NOT NULL
        |    AND o_totalprice NOT BETWEEN 0.0 AND 300000.0) = 0)
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey_unique', 'unique',
        |  coalesce(sum(c), 0)::BIGINT, (coalesce(sum(c), 0) = 0)
        |FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)
        |WHERE c > 1
        |UNION ALL
        |SELECT 'o_custkey_ref_integrity', 'ref_integrity',
        |  count(*)::BIGINT, (count(*) = 0)
        |FROM orders o
        |WHERE o.o_custkey IS NOT NULL
        |  AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)""".stripMargin),

    QueryDef("snapshot_diff", (s, dir) => {
      // CDC between two synthetic snapshots of orders: keys divisible
      // by 97 exist only in the new snapshot (added), by 83 only in the
      // old (removed, shifted out of the key range), by 89 carry a
      // perturbed price (changed) — one full-outer pk join, columnar
      // null-safe compare, no row hashing
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val changedOld = orders
        .filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(89)) === 0,
            col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val removedOld = orders
        .filter(pmod(col("o_orderkey"), lit(83)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      Merge.snapshotDiff(changedOld.unionByName(removedOld), orders,
        "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
    },
      """WITH n AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 83 = 0)
        |SELECT * FROM (
        |  SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |           THEN 'changed' END AS change_type
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |WHERE change_type IS NOT NULL""".stripMargin),

    QueryDef("zorder_key", (s, dir) => {
      // Morton clustering key (the sort key of Scale.writeZOrdered):
      // bit-interleaved (l_partkey, l_suppkey) — exact integer
      // arithmetic, map-only, codegen'd
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        graft.expressions.ZOrder
          .zorder_key(21, col("l_partkey"), col("l_suppkey")).as("zkey"))
    }, {
      // bit-interleave emulation: bit b of col c lands at 2b + c
      val terms = (0 until 21).flatMap(b => Seq(
        s"((l_partkey % 2097152) // ${1L << b} % 2) * ${BigInt(1) << (2 * b)}",
        s"((l_suppkey % 2097152) // ${1L << b} % 2) * ${BigInt(1) << (2 * b + 1)}"))
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
         |FROM lineitem""".stripMargin
    }),

    QueryDef("lake_partition_prune", (s, dir) => {
      // hive-layout partitioned lake write + pruned read-back: documents
      // land under lang=<v>/ directories (Scale.writePartitioned,
      // dynamic-overwrite mode), and the read's lang predicate prunes
      // whole directories at planning time (PartitionFilters in the
      // scan — asserted in ScaleSpec), so only en/ files are listed or
      // read — the 100 TB lake read path
      val docs = t(s, dir, "documents")
      val path = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_lake_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      graft.ops.Scale.writePartitioned(docs, path, Seq("lang"))
      s.read.parquet(path).filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    },
      // the partitioned round-trip is lossless, so the pruned read-back
      // equals a direct predicate on the base table
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin),

    QueryDef("source_json_roundtrip", (s, dir) => {
      // JSONL sink + source: the interchange format every ingest edge
      // speaks. Write the documents table as JSON lines, read it back
      // with the EXPLICIT schema — never inference, which is a second
      // full scan (and a schema gamble) at 100 TB — and prove fidelity
      // with a grouped checksum that the oracle computes from the
      // parquet original: any drop, duplicate, or text mangling in the
      // round trip breaks n_docs/sum_chars/sum_ids.
      val docs = t(s, dir, "documents")
      val path = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_json_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      docs.write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
    }, RoundTripOracle),

    QueryDef("source_orc_roundtrip", (s, dir) => {
      // ORC sink + source (the other columnar lake format Spark ships
      // natively): same explicit-schema round trip + checksum contract
      // as source_json_roundtrip, proving the engine is not
      // parquet-locked.
      val docs = t(s, dir, "documents")
      val path = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_orc_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      docs.write.mode("overwrite").orc(path)
      s.read.schema(docs.schema).orc(path)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
    }, RoundTripOracle),

    QueryDef("source_csv_roundtrip", (s, dir) => {
      // CSV sink + source (the reference's native ingest format —
      // `nh-etl-universal-cleaning.py` reads raw CSVs): header +
      // explicit schema on the way back (inference would be a second
      // full scan AND a type gamble at 100 TB), quoted/escaped so
      // arbitrary text survives, same grouped-checksum fidelity
      // contract as the JSON/ORC round trips.
      val docs = t(s, dir, "documents")
      val path = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_csv_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
      docs.write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true").option("escape", "\"").csv(path)
      s.read.schema(docs.schema).option("header", "true")
        .option("escape", "\"").csv(path)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
    }, RoundTripOracle),

    QueryDef("incr_agg_merge", (s, dir) => {
      // incremental rollup maintenance: history and delta aggregated
      // separately, states merged — provably equal to the full
      // recompute (which is what the oracle runs). Recurring cost is
      // O(delta), never O(history).
      val ord = t(s, dir, "orders")
        .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      val base = ord.filter(col("o_orderdate") < lit("1999-01-01"))
      val delta = ord.filter(col("o_orderdate") >= lit("1999-01-01"))
      IncrementalAgg.readView(IncrementalAgg.mergeStates(
        IncrementalAgg.aggState(base, Seq("o_custkey"), col("cents")),
        IncrementalAgg.aggState(delta, Seq("o_custkey"), col("cents")),
        Seq("o_custkey")))
    },
      // Oracle for `incr_agg_merge`: the direct full recompute the
      // incremental merge must equal — per-customer count/sum/min/max over
      // exact integer cents plus the derived rounded mean.
      s"""WITH c AS (
         |  SELECT o_custkey,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders)
         |SELECT o_custkey,
         |  count(*) AS st_cnt,
         |  CAST(sum(cents) AS BIGINT) AS st_sum,
         |  min(cents) AS st_min,
         |  max(cents) AS st_max,
         |  ${eRatioE("CAST(sum(cents) AS BIGINT)", "count(*)", 10000L)} AS st_avg
         |FROM c GROUP BY o_custkey""".stripMargin),

    locally {
      val nShards = 8
      QueryDef("export_shards", (s, dir) =>
        Packing.shardManifest(t(s, dir, "documents"), "doc_id", "text",
          nShards),
            // Oracle for `export_shards`: xxhash64(doc_id) mod nShards shard
            // assignment (the integer-hash CTE chain) + per-shard volume stats.
            s"""WITH ${idHashCtes()},
               |sh AS (
               |  SELECT d.doc_id,
               |         ((h.hv % $nShards) + $nShards) % $nShards AS shard,
               |         length(d.text) AS chars
               |  FROM documents d JOIN hashed h ON h.doc_id = d.doc_id)
               |SELECT CAST(shard AS INTEGER) AS shard,
               |  count(*) AS n_docs,
               |  CAST(sum(chars) AS BIGINT) AS total_chars,
               |  min(doc_id) AS min_id, max(doc_id) AS max_id
               |FROM sh GROUP BY shard""".stripMargin)
    },

    QueryDef("incr_distinct_merge", (s, dir) => {
      // incremental EXACT distinct maintenance: the historical window
      // is reduced ONCE to per-type bitmap states (persistable), and
      // each new day's delta state OR-merges in — distinct-users-to-
      // date without ever rescanning history. The bitmap twin of the
      // incr_agg/incr_join delta family; equals a full recompute
      // exactly (lossless merge), which is what the oracle checks.
      import graft.expressions.Bitmaps
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("day"), col("user_id"))
      val hist = ev.filter(col("day") < 25)
        .groupBy("event_type")
        .agg(Bitmaps.bitmap_state(col("user_id")).as("bm"))
      val delta = ev.filter(col("day") >= 25)
        .groupBy("event_type")
        .agg(Bitmaps.bitmap_state(col("user_id")).as("bm"))
      hist.unionAll(delta)
        .groupBy("event_type")
        .agg(Bitmaps.bitmap_merge_count(col("bm")).as("n_users"))
    },
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin),

    QueryDef("scd2_from_events", (s, dir) => {
      // rebuild SCD2 validity history from a change-event log: each
      // user's purchase events become [valid_from, valid_to) intervals
      // (half-open, lead-closed; the open current row has null
      // valid_to) — the reverse direction of scd2_merge: log → dim
      // instead of dim + batch → dim. One user-partitioned window.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .withColumn("valid_from", col("ts"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .drop("ts")
    },
      """SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents,
        |  ts AS valid_from,
        |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  (lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'""".stripMargin),

    QueryDef("incr_join_merge", (s, dir) => {
      // incremental join maintenance: history splits into base + a
      // late-arriving delta on EACH side; the maintained result is the
      // old join plus deltaJoin's two delta-sided terms — equal, row
      // for row, to re-joining everything (what the oracle computes).
      // Per-batch cost is O(delta · matched), never O(history²).
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      val ord = t(s, dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      val bl = li.filter(col("l_orderkey") % 20 =!= 0)
      val dl = li.filter(col("l_orderkey") % 20 === 0)
      val br = ord.filter(col("l_orderkey") % 10 =!= 0)
      val dr = ord.filter(col("l_orderkey") % 10 === 0)
      bl.join(br, Seq("l_orderkey"))
        .unionByName(
          IncrementalAgg.deltaJoin(bl, dl, br, dr, Seq("l_orderkey")))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    },
      // the incremental path must equal the monolithic re-join — so the
      // oracle IS the plain join
      """SELECT o.o_orderstatus, count(*) AS n_items,
        |  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT))::BIGINT AS revenue_cents
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin),

    QueryDef("incr_components_merge", (s, dir) => {
      // incremental dedup-graph maintenance: docs with doc_id % 5 == 0
      // play "today's arrivals". The base labeling is computed over
      // pairs among the stable 80% only; the merge then closes the
      // stored base labels (one (doc_id, rep_id) row per old doc, each
      // an edge to its component minimum) together with the delta
      // pairs (those touching a new doc), so it never rereads the base
      // pairs. Every pair is base or delta, so the closure has the
      // components of the full graph: its labeling equals a
      // from-scratch recompute (the oracle runs the recursive-CTE
      // closure over all edges).
      val pairs = nearDupPairs(s, dir)
        .localCheckpoint(true) // base and delta splits both read it
      val isBase = col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0
      val baseLabels = Graph.components(pairs.filter(isBase),
        "id_a", "id_b")
      Graph.components(
        baseLabels.select(col("doc_id").as("id_a"),
            col("rep_id").as("id_b"))
          .unionByName(pairs.filter(!isBase).select("id_a", "id_b")),
        "id_a", "id_b")
    },
      // the merged labeling must EQUAL the from-scratch recursive
      // closure over all edges — same oracle as dedup_components by
      // design.
      OracleSql.dedupComponents(NumHashes, RowsPerBand)),

    QueryDef("validate_freshness", (s, dir) => {
      // data-freshness / cadence audit per event type: lag of the
      // type's newest event behind the table horizon (staleness), and
      // days-present vs the span since the type first appeared
      // (cadence completeness, exact ppm) — the operational DQ check
      // a daily pipeline alerts on. One narrow rollup + a 1-row
      // horizon broadcast.
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts")).as("us"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
      val hz = ev.agg(max("us").as("horizon_us"))
      ev.groupBy("event_type")
        .agg(max("us").as("last_us"), min("day").as("first_day"),
          max("day").as("last_day"),
          countDistinct("day").as("days_present"))
        .crossJoin(broadcast(hz))
        .select(col("event_type"),
          expr("(horizon_us - last_us) div 60000000")
            .as("staleness_min"),
          col("days_present"),
          (col("last_day") - col("first_day") + 1).as("days_span"),
          expr("(days_present * 1000000) div " +
            "(last_day - first_day + 1)").as("cadence_ppm"))
    },
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts)::BIGINT AS us,
        |    datediff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day
        |  FROM events),
        |hz AS (SELECT max(us)::BIGINT AS horizon_us FROM ev),
        |g AS (SELECT event_type, max(us)::BIGINT AS last_us,
        |    min(day) AS first_day, max(day) AS last_day,
        |    count(DISTINCT day)::BIGINT AS days_present
        |  FROM ev GROUP BY 1)
        |SELECT g.event_type,
        |  ((hz.horizon_us - g.last_us) // 60000000)::BIGINT
        |    AS staleness_min,
        |  g.days_present,
        |  (g.last_day - g.first_day + 1)::BIGINT AS days_span,
        |  ((g.days_present * 1000000) // (g.last_day - g.first_day + 1))
        |    ::BIGINT AS cadence_ppm
        |FROM g, hz""".stripMargin),

    QueryDef("source_parquet_evolution", (s, dir) => {
      // schema evolution across parquet shards — the lake reality
      // after any new field ships: the v1 shard has only (doc_id,
      // text, lang); v2 adds (source, n_chars). mergeSchema unions
      // the footers, v1's missing columns surface as NULLs, and the
      // checksum proves the union semantics. Explicit opt-in
      // mergeSchema on exactly two shard paths — NOT a default (at
      // 100 TB, footer-merging every file on every read is a planning
      // tax you pay once per schema change, not per query).
      val docs = t(s, dir, "documents")
      // Scratch path includes the Spark applicationId so two concurrent
      // runs over the same fixture never race (one overwriting shards
      // while the other reads with mergeSchema).
      val base = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_evo_${s.sparkContext.applicationId}_" +
          Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$base/v1")
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/v1", s"$base/v2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_with_source"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_with_source,
        |  sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars ELSE 0 END)::BIGINT
        |    AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin),

    QueryDef("source_bucketed_join", (s, dir) => {
      // bucketed tables + shuffle-free co-located join — the OTHER
      // lake primitive a 100 TB fact table depends on: orders and
      // customer both bucketed 8 ways on the customer key, so the join
      // reads bucket i against bucket i with NO Exchange on either
      // side (ScaleSpec pins the zero-shuffle plan); only the final
      // segment rollup shuffles. Unique per-run table names
      // (applicationId) in the session catalog; data lands under
      // java.io.tmpdir like the other scratch fixtures.
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val tag = Integer.toHexString(dir.hashCode)
      val base = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_bucket_${app}_$tag").getAbsolutePath
      val ot = s"orders_b_${app}_$tag"
      val ct = s"customer_b_${app}_$tag"
      // r14: spread the write input — the 1-partition fixture scan made
      // this a single-task bucketed write. Spread, each write task
      // leaves its own file per bucket, so the orders scan reports no
      // sort order (nor would one file per bucket while
      // spark.sql.legacy.bucketedTableScan.outputOrdering is off, the
      // default): a sort-merge join still sorts, and only the Exchange
      // is saved. At the sf0.01 and sf0.1 fixtures the planner
      // broadcasts customer instead.
      tsp(s, dir, "orders", "o_orderkey").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/o").saveAsTable(ot)
      t(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/c").saveAsTable(ct)
      s.table(ot).join(s.table(ct),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          // exact cents sum (same 10x-gate class as agg_cube)
          (sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("double") / 100.0).as("total"))
    },
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    ::DOUBLE / 100.0 AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin),

    QueryDef("source_partitioned_pruning", (s, dir) => {
      // hive-style partitioned layout + partition pruning — the lake
      // feature every 100 TB table depends on (a date/lang-partitioned
      // table turns a full scan into a directory lookup): write the
      // documents table partitioned by lang, read it back with a lang
      // filter, and aggregate. The filter resolves at PLANNING time
      // against the directory listing (PartitionFilters, pinned by
      // PlanHygieneSpec — only the matching partition's files are
      // read); the oracle recomputes from the unpartitioned original.
      // Per-run scratch path (applicationId) — the parquet_evolution
      // concurrency discipline.
      val docs = t(s, dir, "documents")
      val base = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        s"graft_part_${s.sparkContext.applicationId}_" +
          Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      docs.write.mode("overwrite").partitionBy("lang").parquet(base)
      s.read.parquet(base)
        .filter(col("lang") === "en")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    },
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin),

    QueryDef("incr_topk_merge", (s, dir) => {
      // incremental top-k maintenance: value-based top-k is a
      // semilattice (top-k of a union = top-k of the per-partition
      // top-ks), so the historical partition reduces ONCE to its
      // 10-row state and each delta merges in O(k) — the top-k member
      // of the incr_agg/distinct/join/components family. Count-based
      // rankings do NOT merge this way (heavy_hitters_mg exists for
      // those); the docstring distinction is the point of the query.
      // Equals a full recompute exactly, which the oracle checks.
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      def top10(df: DataFrame): DataFrame =
        df.orderBy(col("cents").desc, col("o_orderkey").asc).limit(10)
      val hist = top10(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = top10(o.filter(col("o_orderdate") >= "1997-01-01"))
      top10(hist.unionByName(delta))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cents").desc, col("o_orderkey").asc)))
        .select(col("rank"), col("o_orderkey"), col("cents"))
    },
      """WITH o AS (SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(row_number() OVER (ORDER BY cents DESC, o_orderkey)
        |    AS INT) AS rank,
        |  o_orderkey, cents
        |FROM o ORDER BY cents DESC, o_orderkey LIMIT 10""".stripMargin),

    locally {
      val nShards = 8
      QueryDef("export_rendezvous_shards", (s, dir) => {
        // highest-random-weight (rendezvous) sharding — the CONSISTENT
        // cousin of export_shards' mod-hash: each doc goes to the shard
        // with the max xxhash64(doc_id, shard) score, so adding a shard
        // moves ONLY the docs the new shard wins (~1/(n+1) of each
        // shard) instead of mod-hash's ~100% reshuffle. The stability
        // half is measured, not asserted: n_moved counts docs whose
        // winner changes when shard 8 joins. Scale: scores are a
        // broadcast 9-row cross join (map-only, no shuffle for the
        // scoring); the per-doc argmax is one keyed window.
        val shards = s.range(0, nShards + 1).select(col("id").as("sh"))
        val scored = t(s, dir, "documents").select(col("doc_id"))
          .crossJoin(broadcast(shards))
          .select(col("doc_id"), col("sh"),
            xxhash64(col("doc_id"), col("sh")).as("hv"))
          .localCheckpoint(true) // both argmax passes read it
        val w = Window.partitionBy("doc_id")
          .orderBy(col("hv").desc, col("sh").asc)
        val a8 = scored.filter(col("sh") < nShards)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("sh").as("s8"))
        val a9 = scored
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("sh").as("s9"))
        a8.join(a9, Seq("doc_id"))
          .groupBy(col("s8").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum((col("s8") =!= col("s9")).cast("long")).as("n_moved"))
      }, {
        // Oracle for `export_rendezvous_shards`: highest-random-weight
        // (rendezvous) hashing — per (doc, shard) score is the chained
        // xxhash64 of (doc_id, shard) (seed 42, exactly Spark's multi-arg
        // fold), the winner is the max SIGNED score with shard-asc
        // tie-break, and the stability half recomputes the winner with one
        // shard added: HRW's guarantee is that a doc moves only when the
        // NEW shard wins, so moved counts are ~1/(n+1) of each shard.
        val ch = new Chain("rv",
          s"SELECT d.doc_id, t.sh, d.doc_id::HUGEINT AS ka, " +
            s"t.sh::HUGEINT AS kb " +
            s"FROM documents d CROSS JOIN range(0, ${nShards + 1}) t(sh)")
        val h1 = hashLong(ch, "ka", "42", "p")
        val h2 = hashLong(ch, "kb", h1, "w")
        s"""WITH ${ch.render},
           |scored AS MATERIALIZED (
           |  SELECT doc_id, sh::BIGINT AS sh, ${sig(h2)} AS hv
           |  FROM ${ch.last}),
           |a8 AS (
           |  SELECT doc_id, sh AS s8 FROM (
           |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY hv DESC, sh ASC) AS rn
           |    FROM scored WHERE sh < $nShards)
           |  WHERE rn = 1),
           |a9 AS (
           |  SELECT doc_id, sh AS s9 FROM (
           |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY hv DESC, sh ASC) AS rn
           |    FROM scored)
           |  WHERE rn = 1)
           |SELECT a8.s8 AS shard, count(*)::BIGINT AS n_docs,
           |  sum(CASE WHEN a8.s8 <> a9.s9 THEN 1 ELSE 0 END)::BIGINT
           |    AS n_moved
           |FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
           |GROUP BY 1""".stripMargin
      })
    }
  )
}
