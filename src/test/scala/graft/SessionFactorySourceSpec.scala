package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: [[GraftSession.builder]] is the one place that builds a
  * Spark session, so the mains, the benchmark and the test suite all run
  * the session configuration the engine ships.
  */
class SessionFactorySourceSpec extends AnyFunSuite {
  test("GraftSession.scala is the only source that builds a session") {
    val call = """SparkSession\s*\.\s*builder\b""".r
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => call.findAllIn(Files.readString(f)).map(_ => f.toString))
      .toSeq
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"),
      s"session builders outside the factory: $hits")
  }
}
