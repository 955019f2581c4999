package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: a native expression has one kernel. Its generated code
  * is a call to the static method its `nullSafeEval` calls too, never a
  * second copy of the loop written out as Java text.
  */
class ExpressionKernelSourceSpec extends AnyFunSuite {
  test("no native expression writes its loop out as generated Java text") {
    val files = Files.walk(Paths.get("src/main/scala/graft/expressions"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no expression sources found")
    val hits = files.flatMap { f =>
      val n = "stripMargin".r.findAllMatchIn(Files.readString(f)).size
      if (n > 0) Some(s"${f.getFileName}: $n") else None
    }
    assert(hits.isEmpty, s"generated Java bodies: ${hits.mkString(", ")}")
  }
}
