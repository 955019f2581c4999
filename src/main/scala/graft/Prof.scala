package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query cost breakdown (optimization guide §1: measure first).
  * For each named query reports, in one CSV line:
  *   name, build_ms (fn call → analyzed plan), plan_ms (physical
  *   planning), exec_ms (toRdd.count), jobs, stages, tasks
  * so "many tiny sequential jobs" (iterative operators) is
  * distinguishable from "one expensive stage" (compute-bound) and from
  * "Catalyst planning" (plan-size-bound) without the UI.
  *
  * Usage: runMain graft.Prof <sfDir> <name1,name2,...|ALL> [reps]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameCsv = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm codegen/parquet paths
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(fn => fn(spark, sfDir).queryExecution.toRdd.count())
    } catch { case _: Throwable => () }

    val names =
      if (nameCsv == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else nameCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    println("name,build_ms,plan_ms,exec_ms,jobs,stages,tasks")
    for (name <- names; _ <- 1 to reps) {
      val fn = SparkEntry.queries(name)
      jobs = 0; stages = 0; tasks = 0
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.queryExecution.analyzed // force analysis
      val t1 = System.nanoTime()
      val rdd = df.queryExecution.toRdd // physical planning
      val t2 = System.nanoTime()
      rdd.count()
      val t3 = System.nanoTime()
      // listener events are async; give the bus a beat before reading
      Thread.sleep(100)
      println(s"$name,${(t1 - t0) / 1000000},${(t2 - t1) / 1000000}," +
        s"${(t3 - t2) / 1000000},$jobs,$stages,$tasks")
      if (sys.env.contains("SPARK_GRAFT_PROF_RULES")) {
        val tr = df.queryExecution.tracker
        val ph = tr.phases.map { case (k, v) =>
          s"$k=${v.durationMs}ms" }.mkString(" ")
        println(s"  phases: $ph")
        tr.rules.toSeq.sortBy(-_._2.totalTimeNs).take(8).foreach {
          case (rule, m) =>
            println(f"  rule ${m.totalTimeNs / 1000000}%6dms " +
              f"inv=${m.numInvocations}%5d eff=${m.numEffectiveInvocations}%4d  " +
              rule.split("\\.").takeRight(2).mkString("."))
        }
      }
    }
    spark.stop()
  }
}
