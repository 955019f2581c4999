package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite via lazy singleton (getOrCreate reuses
  * across suites in the same forked JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `f` with the components small-graph budget
    * (`spark.graft.cc.local.max`) set to `v`; "0" forces the
    * distributed rounds.
    */
  def withCcLocalMax[A](v: String)(f: => A): A = {
    val key = "spark.graft.cc.local.max"
    val old = sys.props.get(key)
    sys.props(key) = v
    try f finally old match {
      case Some(o) => sys.props(key) = o
      case None => sys.props.remove(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
