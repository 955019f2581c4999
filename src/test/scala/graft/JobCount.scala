package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, on its own thread and on the
  * threads it starts (they inherit the tagging local property).
  */
object JobCount {
  private val Key = "graft.spec.job-count"

  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == s"$tag-fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      body
      // the bus delivers events in order: once it has delivered this
      // job's start, it has delivered the starts of all of body's jobs
      sc.setLocalProperty(Key, s"$tag-fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, TimeUnit.SECONDS), "listener bus stalled")
      jobs.get
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
