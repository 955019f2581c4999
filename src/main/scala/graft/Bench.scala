package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints TWO JSON lines: the full per-query map (also persisted to
  * BENCH_FULL.json), then a compact summary line LAST — the driver keeps
  * only a ~2 KB stdout tail, so the parseable contract object must be
  * small and final.
  *
  * Protocol: each query is timed SPARK_GRAFT_BENCH_RUNS times (default 3)
  * and the reported number is the MEDIAN — a single run is at the mercy
  * of whatever else the machine is doing (the round-3 snapshot recorded
  * 2–6× phantom regressions that way). The per-query max/min spread is
  * also emitted, and queries whose spread exceeds 2× are listed under
  * "unstable" so a noisy measurement is visible instead of silently
  * recorded as a regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runsN = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Contamination tripwire (VERDICT r12 #6): a bench started on a busy
    // box produces a misleading artifact that is only caught at judge
    // time. Record loadavg/cpus at START; if it exceeds 0.5 the emitted
    // JSON carries a loud "contaminated" note (generation-time flag —
    // the run still completes, since a warned number beats no number).
    val machineCpus = Runtime.getRuntime.availableProcessors()
    val startLoad = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val contaminated = startLoad >= 0 && startLoad / machineCpus > 0.5
    if (contaminated)
      System.err.println(f"[bench] WARNING: start loadavg $startLoad%.1f" +
        f" on $machineCpus cpus (${startLoad / machineCpus}%.2f/core)" +
        " -- numbers will be flagged contaminated")
    // Materializing action: executes the query's own physical plan (every
    // projection evaluated), unlike df.count() whose Aggregate lets
    // Catalyst prune unreferenced columns and reduce map-only queries to
    // row counts.
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // warm the JVM/codegen/parquet-footer paths so the first measured
    // query doesn't absorb session startup cost
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(fn => materialize(fn(spark, sfDir)))
    } catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=name1,name2 restricts the run to a subset (same
    // contract as Verify) — for timing one changed query at a big
    // fixture. Unset = full surface (the driver's mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(sel) => SparkEntry.queries.filter(kv => sel(kv._1))
      case None => SparkEntry.queries
    }
    // run-major (full suite per repetition, not query-major) so a load
    // burst degrades one SAMPLE of many queries, not every sample of one
    // A query that THROWS must not masquerade as a healthy timing: its
    // time-to-failure still enters the medians (the protocol needs a
    // number) but the name lands in `failed` on the emitted line — a
    // 0.8 s "measurement" that is really an ANSI overflow at the big
    // fixture reads as success otherwise (found in round 9 when
    // events_mann_whitney overflowed DECIMAL(38,0) at 100× and the
    // bench silently recorded the crash time).
    val failedNames = scala.collection.mutable.LinkedHashSet[String]()
    val samples: Seq[Seq[(String, Double)]] = (1 to runsN).map { _ =>
      queries.toSeq.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { materialize(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            failedNames += name
            System.err.println(
              s"[bench] $name FAILED: ${e.getMessage.take(200)}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val byName = samples.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val names = queries.keys.toSeq
    val med = names.map(n => n -> median(byName(n)))
    val spread = names.map { n =>
      val xs = byName(n)
      n -> (if (xs.min > 0) xs.max / xs.min else 1.0)
    }
    // Unstable flag = spread > 2x AND median >= 0.5 s. Sub-half-second
    // queries at runs=3 on a shared 32-core box flap on JIT/GC alone —
    // r13's list had 11 of 13 entries below 1.2 s, pure measurement
    // floor. The flag should only ever name real variance.
    val medByName = med.toMap
    val unstable = spread.collect {
      case (n, r) if r > 2.0 && medByName(n) >= 0.5 => n
    }

    val qs = med.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sp = spread.map { case (k, v) =>
      s"\"" + k + "\":" + math.round(v * 100) / 100.0 }
      .mkString("{", ",", "}")
    val un = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = med.map(_._2).sum

    // Environment stamp: a load-contaminated snapshot should be
    // machine-detectable from the artifact itself, not only by an idle
    // re-run. loadavg is read at END of the run (it reflects what the
    // measurements actually endured); other_jvms counts JVM processes
    // beyond this one and its sbt parent chain — anything > 0 means
    // another build/bench was competing for the same cores.
    val loadavg = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
    } catch { case _: Throwable => "" }
    val otherJvms = try {
      import scala.sys.process._
      val self = ProcessHandle.current()
      val ancestors = Iterator.iterate(Option(self)) {
        _.flatMap(p => Option(p.parent().orElse(null)))
      }.takeWhile(_.isDefined).take(8).flatten.map(_.pid()).toSet
      Seq("pgrep", "-f", "java").!!.trim.split("\\n")
        .filter(_.nonEmpty).map(_.trim.toLong)
        .count(pid => !ancestors.contains(pid))
    } catch { case _: Throwable => -1 }
    val fl = failedNames.map(n => s""""$n"""").mkString("[", ",", "]")
    val contamNote = if (contaminated)
      s""","contaminated":"start loadavg $startLoad on $machineCpus cpus exceeds 0.5/core -- treat totals as upper bounds, re-run idle for baselines""""
    else ""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runsN,"spread":$sp,"unstable":$un,"failed":$fl,"loadavg":"$loadavg","start_loadavg":$startLoad,"cpus":$machineCpus,"other_jvms":$otherJvms$contamNote}"""
    println(line)
    System.out.flush()
    // Also persist the COMPLETE line to a committed artifact: the
    // driver's BENCH_r*.json keeps only the tail of stdout, truncating
    // the medians dict — BENCH_FULL.json makes per-query regressions
    // diffable from git history alone. Overridable for ad-hoc runs; any
    // write failure must not fail the bench itself.
    // SPARK_GRAFT_ONLY subset runs must NOT clobber the committed
    // full-surface artifact (a 1-query line replacing 250 medians is
    // worse than no write) — ad-hoc subset timings stay stdout-only
    // unless SPARK_GRAFT_BENCH_FULL points somewhere explicitly.
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_FULL")
      .orElse(if (only.isEmpty) Some("BENCH_FULL.json") else None)
    fullPath.foreach { p =>
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (line + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    // Compact summary line printed LAST (VERDICT r13 #1): the driver
    // captures only a ~2 KB stdout tail, so the full per-query line
    // above gets truncated mid-JSON and BENCH_r12/r13.json both landed
    // with "parsed": null. The machine-checked 2x-of-baseline contract
    // needs one small, complete JSON object at the very end of stdout;
    // the per-query map stays in the committed BENCH_FULL.json.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","n":${names.size},"sf":"$sfDir","runs":$runsN,"unstable_n":${unstable.size},"failed":$fl,"loadavg":"$loadavg","start_loadavg":$startLoad,"cpus":$machineCpus,"other_jvms":$otherJvms,"full":"${fullPath.getOrElse("")}"$contamNote}"""
    println(summary)
    System.out.flush()
    spark.stop()
  }
}
