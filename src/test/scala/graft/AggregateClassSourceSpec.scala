package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: each aggregation buffer type has one
  * `TypedImperativeAggregate` subclass. A sketch's raw, state and merge
  * variants are modes of that one class, fixed by the function that
  * builds it, not copies of its overrides.
  */
class AggregateClassSourceSpec extends AnyFunSuite {
  test("each aggregation buffer type has exactly one aggregate class") {
    val ext = """extends\s+TypedImperativeAggregate\[(\w+)\]""".r
    val buffers = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => ext.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSeq
    assert(buffers.nonEmpty, "no aggregate classes found under src/main")
    val repeated = buffers.groupBy(identity).collect {
      case (buffer, classes) if classes.size > 1 => buffer -> classes.size
    }
    assert(repeated.isEmpty,
      s"buffer types with more than one aggregate class: $repeated")
  }
}
