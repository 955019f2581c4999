package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class RunnerSpec extends SparkSpec {

  test("Par stages see the caller's current Spark local properties") {
    val sc = spark.sparkContext
    val key = "graft.runner.spec"
    def seenByPar(): Seq[String] = {
      val seen = new ConcurrentLinkedQueue[String]()
      val res = Runner.run(Seq(Runner.Par((1 to 4).map(i =>
        Runner.Stage(s"s$i", () => {
          seen.add(String.valueOf(sc.getLocalProperty(key)))
          "ok"
        })))))
      assert(res.succeeded)
      seen.asScala.toSeq
    }
    try {
      sc.setLocalProperty(key, "a")
      assert(seenByPar() == Seq.fill(4)("a"))
      sc.setLocalProperty(key, "b")
      assert(seenByPar() == Seq.fill(4)("b"))
    } finally sc.setLocalProperty(key, null)
  }

  test("fanOut: results in input order, first failure rethrown after all") {
    val finished = new java.util.concurrent.atomic.AtomicInteger
    assert(Runner.fanOut(Seq(3, 1, 2)) { i =>
      Thread.sleep(i * 20L); i * 10 } == Seq(30, 10, 20))
    val e = intercept[IllegalStateException] {
      Runner.fanOut(Seq(1, 2, 3)) { i =>
        if (i > 1) throw new IllegalStateException(s"boom$i")
        Thread.sleep(100)
        finished.incrementAndGet()
      }
    }
    assert(e.getMessage == "boom2")
    assert(finished.get == 1) // the slow element ran to the end
  }
}
