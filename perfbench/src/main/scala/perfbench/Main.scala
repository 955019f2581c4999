package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, lit}

import graft.{GraftSession, SparkEntry}
import graft.ops.{CommitWriter, Stamping}
import graft.pipeline.{Catalog, Ingest, Lake, NursingHomePipeline, Runner}

/** The JVM half of the benchmark: one workload, closed loop, iterations
  * back to back on one `local[cores]` session.
  *
  * `run.py` generates the inputs, launches this program, runs the output
  * checks on what it leaves behind and prints the metrics. This program
  * only drives the repository's public entry points and records timings
  * (and, with `--trace 1`, spans and listener counts) into `--result`.
  *
  * Usage: Main --mode run|prep --workload W --seed N --seconds S
  *             --trace 0|1 --work DIR --fixture DIR --result FILE
  */
object Main {

  /** Index of the first iteration whose times are reported as warm. */
  val FirstMeasured = 2
  /** Fewest measured iterations in a run. */
  val MinMeasured = 4

  /** One iteration's outcome. `ops` are the timed operations in it. */
  final case class Iter(index: Int, traced: Boolean, wall: Double,
                        ops: Seq[(String, Double)], failed: Seq[String],
                        stages: Seq[(String, String)],
                        ingest: Option[Ingest.IngestReport] = None,
                        bytesCopied: Long = 0L)

  trait Workload {
    /** Restore the iteration's starting state; not timed. */
    def reset(): Unit = ()
    /** One timed iteration. */
    def iterate(index: Int, tracer: Option[Tracer]): Iter
    /** Leave outputs for `run.py` to check; not timed. */
    def finish(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (a.getOrElse("mode", "run") == "prep") {
        // day-1 state for nh_daily_merge, built in its own JVM so the
        // measured JVM starts as cold as a scheduled daily job does
        Pipeline.prepare(spark, work)
      } else run(spark, a, workload, work, cores)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, a: Map[String, String],
                  workload: String, work: Path, cores: Int): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val wl: Workload = workload match {
      case "nh_daily_merge" => new DailyMerge(spark, work)
      case "queries_iterative" =>
        new Queries(spark, work, a("fixture"), Queries.Iterative)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val readyMs = System.currentTimeMillis()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    var gauges = Tracer.Gauges(0, 0, 0)
    val iters = mutable.ArrayBuffer[Iter]()
    // Iteration 0 is cold; iteration 1 warms up and is not reported; from
    // iteration 2 on they are measured, at least four and for `seconds`.
    // The JIT still speeds up later iterations, so a fixed count keeps the
    // medians comparable between runs. A traced run traces the even ones,
    // so it measures traced and untraced warm iterations, for the overhead.
    var measuredStart = 0L
    def measuredSeconds = (System.nanoTime() - measuredStart) / 1e9
    var i = 0
    while (i < FirstMeasured + MinMeasured || measuredSeconds < seconds) {
      if (i == FirstMeasured) measuredStart = System.nanoTime()
      val traceThis = traced && i % 2 == 0
      wl.reset()
      val tr = if (traceThis) tracer else None
      tr.foreach { t => t.iteration = i; t.start() }
      val g0 = Tracer.gauges()
      iters += wl.iterate(i, tr)
      if (traceThis) gauges = gauges + (Tracer.gauges() - g0)
      tr.foreach(_.stop())
      i += 1
    }
    wl.finish()
    val result = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "peak_rss_kb" -> peakRssKb(),
      "iterations" -> iters.map(iterJson).toSeq)
    tracer.foreach { t =>
      result("layers") = Layers.compute(t, iters.toSeq, gauges, cores)
      val traceFile = Paths.get(a("result")).resolveSibling(
        s"trace-$workload-s$seed.json")
      Json.write(traceFile, Layers.traceJson(t, iters.toSeq))
      result("trace_file") = traceFile.toString
    }
    Json.write(Paths.get(a("result")), result)
  }

  private def iterJson(it: Iter): Map[String, Any] = Map(
    "index" -> it.index, "traced" -> it.traced, "wall" -> it.wall,
    "ops" -> it.ops.map { case (n, s) => Seq(n, s) },
    "failed" -> it.failed,
    "stages" -> it.stages.map { case (n, s) => Seq(n, s) },
    "files_synced" -> it.ingest.map(_.synced.size).getOrElse(-1),
    "files_skipped" -> it.ingest.map(_.skipped.size).getOrElse(-1),
    "bytes_copied" -> it.bytesCopied)

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val dest = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dest)
      else Files.copy(f, dest, StandardCopyOption.COPY_ATTRIBUTES)
    }
}

/** The paper's daily job on day 2: restore the day-1 lake and warehouse
  * built by [[Pipeline.prepare]] (not timed), run the `NursingHomePipeline`
  * DAG on the republished release, then merge it into the six warehouse
  * dimensions.
  */
final class DailyMerge(spark: SparkSession, work: Path)
    extends Main.Workload {
  import Main._
  import Pipeline._

  private val inbox = work.resolve("inbox-day2")
  private val iterDir = work.resolve("iter")
  private val loadDate = Day2
  private def lake = Lake(iterDir.resolve("lake").toString)
  private def warehouse = iterDir.resolve("warehouse")
  private def manifest = iterDir.resolve("manifest.json").toString

  override def reset(): Unit = {
    deleteTree(iterDir)
    copyTree(work.resolve("state"), iterDir)
  }

  def iterate(index: Int, tracer: Option[Tracer]): Iter = tracer match {
    case None =>
      val t = System.nanoTime()
      val pipeline = new NursingHomePipeline(spark, lake, Stamping.Monotonic,
        Some(loadDate))
      val (res, dagS) = timed(pipeline.run(inbox.toString, manifest))
      val commits =
        if (res.succeeded) Dims.map(d => d -> tryTimed(mergeDim(d)))
        else Nil
      val wall = (System.nanoTime() - t) / 1e9
      Iter(index, traced = false, wall,
        ("dag" -> dagS) +: commits.map { case (d, r) => s"merge.$d" -> r._2 },
        failedStages(res) ++ commits.collect {
          case (d, (Some(e), _)) => s"merge.$d: $e" },
        res.log.map(r => r.procName -> r.status))
    case Some(tr) => tracedIterate(index, tr)
  }

  /** The same DAG as `NursingHomePipeline.run`, composed from its public
    * stages with a span around each call. `run.py` checks that the stage
    * names and order match the untraced run's audit log.
    */
  private def tracedIterate(index: Int, tr: Tracer): Iter = {
    val t = System.nanoTime()
    val pipeline = new NursingHomePipeline(spark, lake, Stamping.Monotonic,
      Some(loadDate))
    var report: Option[Ingest.IngestReport] = None
    var copied = 0L
    val res = Runner.run(Seq(
      Runner.Single(Runner.Stage("sync_inbox", () => tr.span("ingest.sync") {
        val r = Ingest.run(inbox.toString, lake, manifest)
        report = Some(r)
        copied = r.synced.map(e => Files.size(Paths.get(e.destKey))).sum
        s"synced=${r.synced.size} skipped=${r.skipped.size}"
      })),
      Runner.Single(Runner.Stage("universal_cleaning", () =>
        tr.span("cleaning") {
          pipeline.universalCleaning().map { case (d, s) => s"$d:$s" }
            .mkString(",")
        })),
      Runner.Single(Runner.Stage("move_source_files", () =>
        tr.span("ingest.archive") {
          Ingest.archiveRaw(lake, Required.toSet).toSeq.sorted
            .map { case (d, t) => s"$d->$t" }.mkString(",")
        })),
      Runner.Single(Runner.Stage("validate_staging", () =>
        tr.span("catalog.validate") {
          val v = Catalog.validate(lake.staging, Required)
          if (!v.ok) throw new IllegalStateException(v.message)
          v.message
        })),
      Runner.Par(Seq(
        Runner.Stage("provider_transform", () =>
          tr.span("transform.provider") {
            pipeline.providerTransform().sorted.mkString(",")
          }),
        Runner.Stage("quality_transform", () =>
          tr.span("transform.quality") { pipeline.qualityTransform() })))))
    val commits =
      if (res.succeeded)
        Dims.map(d => d -> tr.span(s"merge.$d")(tryTimed(mergeDim(d))))
      else Nil
    val wall = (System.nanoTime() - t) / 1e9
    Iter(index, traced = true, wall,
      commits.map { case (d, r) => s"merge.$d" -> r._2 },
      failedStages(res) ++ commits.collect {
        case (d, (Some(e), _)) => s"merge.$d: $e" },
      res.log.map(r => r.procName -> r.status), report, copied)
  }

  private def failedStages(res: Runner.RunResult): Seq[String] =
    res.log.filter(_.status != "SUCCESS")
      .map(r => s"${r.procName}: ${r.message}")

  private def tryTimed(body: => Unit): (Option[String], Double) = {
    val t = System.nanoTime()
    val err = try { body; None } catch {
      case e: Exception => Some(Option(e.getMessage).getOrElse(e.toString))
    }
    (err, (System.nanoTime() - t) / 1e9)
  }

  private def mergeDim(dim: String): Unit =
    Pipeline.merge(spark, lake, warehouse, dim, loadDate)
}

object Pipeline {
  val Day1: LocalDate = LocalDate.of(2025, 4, 1)
  val Day2: LocalDate = LocalDate.of(2025, 4, 2)
  val Pk = "facility_number"
  /** Facility + measure key of the quality dimension. */
  val QualityKey = "qm_key"
  /** Audit stamps; they change on every load, so no SCD compares them. */
  val Stamps = Set("row_id", "etl_date")
  /** `NursingHomePipeline.run`'s default required domains. */
  val Required = Seq("provider_info", "qualitymsr_mds", "survey_summary",
    "penalties")
  /** The six dimensions, in the order the reference merges them. */
  val Dims = Seq("facility", "rating", "staffing", "qualitymsr_mds",
    "surveys", "penalties")
  val Scd2Dims = Set("rating", "staffing")
  private val OpenEnd = java.sql.Date.valueOf("9999-12-31")

  def attrCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(c => c == Pk || Stamps(c))

  /** The transform output of `dim`, shaped as the warehouse stores it. */
  def updates(spark: SparkSession, lake: Lake, dim: String): DataFrame = {
    val df = spark.read.parquet(lake.transformDomain(dim))
    dim match {
      case d if Scd2Dims(d) => df.select((Pk +: attrCols(df)).map(col): _*)
      case "qualitymsr_mds" =>
        df.withColumn(QualityKey, concat_ws("|", col(Pk), col("measure_code")))
      case _ => df
    }
  }

  /** Day 1: first commit of a dimension. */
  def initialCommit(spark: SparkSession, lake: Lake, warehouse: Path,
                    dim: String, load: LocalDate): Unit = {
    val u = updates(spark, lake, dim)
    val out =
      if (Scd2Dims(dim))
        u.withColumn("effective_from", lit(java.sql.Date.valueOf(load)))
          .withColumn("effective_to", lit(OpenEnd))
          .withColumn("is_current", lit(true))
      else u
    CommitWriter.overwriteAtomic(out, warehouse.resolve(dim).toString)
  }

  /** Day k: the reference's `SP_MERGE_DIM_*` for one dimension. */
  def merge(spark: SparkSession, lake: Lake, warehouse: Path, dim: String,
            load: LocalDate): Unit = {
    val path = warehouse.resolve(dim).toString
    val u = updates(spark, lake, dim)
    dim match {
      case "facility" => CommitWriter.scd1InPlace(spark, path, u, Pk)
      case "qualitymsr_mds" =>
        CommitWriter.scd1InPlace(spark, path, u, QualityKey)
      case d if Scd2Dims(d) =>
        CommitWriter.scd2InPlace(spark, path, u, Pk, attrCols(u),
          java.sql.Date.valueOf(load))
      case _ => CommitWriter.overwriteAtomic(u, path)
    }
  }

  /** Build the day-1 lake, manifest and warehouse under `work/state`. */
  def prepare(spark: SparkSession, work: Path): Unit = {
    val state = work.resolve("state")
    Main.deleteTree(state)
    val lake = Lake(state.resolve("lake").toString)
    val res = new NursingHomePipeline(spark, lake, Stamping.Monotonic,
      Some(Day1)).run(work.resolve("inbox-day1").toString,
      state.resolve("manifest.json").toString)
    require(res.succeeded, res.log.map(r =>
      s"${r.procName}=${r.status}:${r.message}").mkString("; "))
    Dims.foreach(d => initialCommit(spark, lake, state.resolve("warehouse"),
      d, Day1))
  }
}

/** Analyst queries: each `SparkEntry` query once per iteration, in the
  * declared order, materialized as `graft.Bench` does it. The fixture is
  * fixed, so the seed changes nothing here; the order is fixed because
  * the cold iteration's time depends on which query pays the warm-up.
  */
final class Queries(spark: SparkSession, work: Path, fixture: String,
                    names: Seq[String]) extends Main.Workload {
  import Main._

  def iterate(index: Int, tracer: Option[Tracer]): Iter = {
    val t = System.nanoTime()
    val failed = mutable.ArrayBuffer[String]()
    val ops = names.map { name =>
      val fn = SparkEntry.queries(name)
      val (_, s) = timed {
        try tracer match {
          case None => fn(spark, fixture).queryExecution.toRdd.count()
          case Some(tr) => tr.span(s"q.$name") {
            val df = tr.span("build")(fn(spark, fixture))
            tr.span("exec")(df.queryExecution.toRdd.count())
            tr.addPhases(df.queryExecution)
          }
        } catch {
          case e: Exception => failed += s"$name: ${e.getMessage}"
        }
      }
      name -> s
    }
    Iter(index, tracer.isDefined, (System.nanoTime() - t) / 1e9, ops,
      failed.toSeq, Nil)
  }

  /** One more pass that writes every result for the oracle compare. */
  override def finish(): Unit = {
    val out = work.resolve("qresults")
    deleteTree(out)
    // four writers at a time, as graft.Verify dumps its results
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map { name =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(name)(spark, fixture).repartition(1)
            .write.mode("overwrite").parquet(out.resolve(name).toString)
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Json.write(work.resolve("oracle_sql.json"),
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}

object Queries {
  /** Queries whose builders run Spark actions (collects, checkpoints)
    * between many small jobs, and whose DuckDB oracles finish in seconds.
    */
  val Iterative: Seq[String] = Seq("basket_frequent_triples",
    "hybrid_retrieval_rrf", "retrieval_metrics", "cluster_dbscan_grid",
    "cluster_single_linkage_2d")
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, render(v))
  }
}
