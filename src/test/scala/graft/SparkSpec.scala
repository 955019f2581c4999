package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite via lazy singleton (getOrCreate reuses
  * across suites in the same forked JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
