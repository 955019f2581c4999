package graft.ops

import graft.SparkSpec

class SplitJoinsMergeSpec extends SparkSpec {
  import spark.implicits._

  test("pattern projection picks name-matching columns, guarded drop tolerates absent") {
    val df = Seq((1, 2.0, "x", "y")).toDF(
      "facility_number", "overall_rating", "rating_footnote", "city_town")
    val rated = Split.Rating(df)
    assert(rated.columns.toSeq ==
      Seq("facility_number", "overall_rating", "rating_footnote"))
    val dropped = Split.guardedDrop(df, Seq("city_town", "nope"))
    assert(dropped.columns.toSeq ==
      Seq("facility_number", "overall_rating", "rating_footnote"))
  }

  test("leftEnrich preserves unmatched left rows; broadcast hint applied") {
    val fact = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val side = Seq((1, "s1")).toDF("k", "s")
    val out = Joins.leftEnrich(fact, side, "k")
    assert(out.count() == 2)
    assert(out.filter($"k" === 2).head().isNullAt(2))
    val hasBroadcast = out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast, "expected broadcast-hash join for small side")
  }

  test("antiJoin removes ledger keys") {
    val inc = Seq(1, 2, 3, 4).toDF("k")
    val ledger = Seq(2, 4).toDF("k")
    assert(Joins.antiJoin(inc, ledger, "k").as[Int].collect().sorted
      .sameElements(Array(1, 3)))
  }

  test("route splits by allowlist") {
    val df = Seq("a", "b", "c").toDF("t")
    val (ok, bad) = Joins.route(df, "t", Seq("a", "c"))
    assert(ok.count() == 2 && bad.count() == 1)
  }

  test("scd1: updates win, inserts appended, unmatched retained") {
    val target = Seq((1, "old1"), (2, "old2")).toDF("pk", "v")
    val updates = Seq((2, "new2"), (3, "new3")).toDF("pk", "v")
    val out = Merge.scd1(target, updates, "pk")
      .as[(Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "old1"), (2, "new2"), (3, "new3")))
  }

  test("scd2: changed rows closed and reopened, history preserved") {
    val d0 = java.sql.Date.valueOf("2020-01-01")
    val open = java.sql.Date.valueOf("9999-12-31")
    val load = java.sql.Date.valueOf("2026-01-01")
    val target = Seq((1, "a", d0, open, true), (2, "b", d0, open, true))
      .toDF("pk", "attr", "effective_from", "effective_to", "is_current")
    val updates = Seq((2, "b2"), (3, "c")).toDF("pk", "attr")
    val out = Merge.scd2(target, updates, "pk", Seq("attr"), load)
      .orderBy("pk", "effective_from")
      .as[(Int, String, java.sql.Date, java.sql.Date, Boolean)]
      .collect().toSeq
    assert(out == Seq(
      (1, "a", d0, open, true),       // untouched current
      (2, "b", d0, load, false),      // closed old version
      (2, "b2", load, open, true),    // reopened new version
      (3, "c", load, open, true)))    // brand-new pk
  }

  test("snapshotDiff classifies added/removed/changed, drops unchanged") {
    val old = Seq((1, "a", Some(10.0)), (2, "b", Some(20.0)),
      (3, "c", None), (4, "d", Some(40.0))).toDF("pk", "s", "v")
    val neu = Seq((1, "a", Some(10.0)), (2, "b", Some(21.0)),
      (3, "c", None), (5, "e", Some(50.0))).toDF("pk", "s", "v")
    val got = Merge.snapshotDiff(old, neu, "pk", Seq("s", "v"))
      .as[(Int, String)].collect().sortBy(_._1).toSeq
    // pk 1 unchanged (dropped), pk 3 null-safely unchanged (dropped)
    assert(got == Seq((2, "changed"), (4, "removed"), (5, "added")))
  }

  test("validation rules count violations; local rules share one scan") {
    import graft.ops.Validation
    import graft.ops.Validation._
    val t = Seq((Some(1), "a", 5.0), (None, "b", 50.0), (Some(2), "z", 5.0),
      (Some(2), "a", -1.0)).toDF("pk", "status", "v")
    val parent = Seq("a", "b").toDF("status")
    val got = Validation.validate(t, Seq(
        NotNull("pk"), AcceptedValues("status", Seq("a", "b")),
        InRange("v", 0.0, 10.0), Unique(Seq("pk")),
        RefIntegrity("status", parent, "status")))
      .as[(String, String, Long, Boolean)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(got("pk_not_null") == (1L, false))
    assert(got("status_accepted_values") == (1L, false)) // the "z" row
    assert(got("v_in_range") == (2L, false))             // 50.0 and -1.0
    assert(got("pk_unique") == (2L, false))              // both pk=2 rows
    assert(got("status_ref_integrity") == (1L, false))   // "z" unmatched
    // a clean frame passes everything
    val clean = Validation.validate(
      Seq((1, "a", 5.0)).toDF("pk", "status", "v"),
      Seq(NotNull("pk"), Unique(Seq("pk"))))
      .as[(String, String, Long, Boolean)].collect()
    assert(clean.forall(r => r._3 == 0L && r._4))
  }

  test("stamping: deterministic ids are dense and ordered") {
    val df = Seq(30, 10, 20).toDF("k")
    val out = Stamping.withRowId(df, Stamping.Deterministic(Seq("k")))
      .orderBy("k").as[(Int, Long)].collect().toSeq
    assert(out == Seq((10, 0L), (20, 1L), (30, 2L)))
  }
}
