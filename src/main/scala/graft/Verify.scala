package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 concurrent dump jobs: each query still coalesces to one file
    // (single-file layout for the driver's DuckDB read), but the mostly-
    // small jobs overlap instead of serializing on the driver
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump to a subset — for
    // re-verifying a changed query at a big fixture without paying for
    // the other 70+. Unset = full surface (the driver's mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val dumps = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        // repartition(1), NOT coalesce(1): both yield the single-file
        // layout the driver's DuckDB read expects, but coalesce
        // collapses the final stage to ONE task — at the 10× gate
        // fixture that serialized a candidate-verify join onto one
        // core for tens of minutes. The extra exchange moves only the
        // (small) result; compute stays at full parallelism. Row order
        // changes are irrelevant — both gates sort before comparing.
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(dumps),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Engine-environment stamp (VERDICT r12 #5): recorded next to the
    // dumps so the gate artifact can pin BOTH sides of a divergence
    // (check.py folds this into its artifact alongside duckdb version).
    Files.writeString(Paths.get(s"$outDir/env.json"),
      s"""{"spark": ${q(spark.version)}, """ +
        s""""scala": ${q(scala.util.Properties.versionNumberString)}, """ +
        s""""java": ${q(System.getProperty("java.version"))}}""")
    spark.stop()
  }
}
