package graft.pipeline

import java.time.Instant
import scala.util.{Failure, Success, Try}

/** In-process DAG runner (SURVEY.md §2.7 C3/C9, §2.8 W3/W4) — the engine
  * equivalent of the reference's Step Function
  * (`cloudformation/06_stepfunction.json:4-138`): sequential stages, a
  * parallel fan-out, typed failures that short-circuit, and an ETL audit
  * log row per stage outcome (the Snowflake `dim_etl_log` intent,
  * `README.md:225-266`).
  */
object Runner {

  /** One pipeline stage; `run` returns a human-readable success message. */
  final case class Stage(name: String, run: () => String)

  sealed trait Node
  final case class Single(stage: Stage) extends Node
  /** Parallel fan-out — the reference runs provider + quality transforms
    * concurrently (`06_stepfunction.json:92-129`).
    */
  final case class Par(stages: Seq[Stage]) extends Node

  /** W3: audit record, mirroring dim_etl_log (proc_name, status,
    * message, logged_at).
    */
  final case class EtlLogRecord(procName: String, status: String,
                                message: String, loggedAt: String)

  final case class RunResult(succeeded: Boolean, log: Seq[EtlLogRecord]) {
    /** W4: the task-history view — newest first. */
    def history: Seq[EtlLogRecord] = log.sortBy(_.loggedAt).reverse
  }

  /** Execute nodes in order; a failed stage short-circuits the rest
    * (typed Fail states per stage in the reference). Parallel stages run
    * concurrently via [[fanOut]] and all must succeed.
    */
  def run(nodes: Seq[Node]): RunResult = {
    val log = Seq.newBuilder[EtlLogRecord]

    def exec(stage: Stage): EtlLogRecord = Try(stage.run()) match {
      case Success(msg) =>
        EtlLogRecord(stage.name, "SUCCESS", msg, Instant.now.toString)
      case Failure(e) =>
        EtlLogRecord(stage.name, "FAILED",
          Option(e.getMessage).getOrElse(e.getClass.getName),
          Instant.now.toString)
    }

    val ok = nodes.foldLeft(true) {
      case (false, _) => false // short-circuit after first failure
      case (true, node) =>
        val records = node match {
          case Single(s) => Seq(exec(s))
          case Par(stages) => fanOut(stages)(exec)
        }
        log ++= records
        records.forall(_.status == "SUCCESS")
    }
    RunResult(ok, log.result())
  }

  /** Apply `f` to every element of `xs` concurrently, one fresh thread
    * per element, and wait for all of them. A fresh thread inherits the
    * caller's Spark local properties (job group, description, scheduler
    * pool) and active session as they are at this call; a pooled thread
    * would keep the ones of whichever call created it. Results come back
    * in input order; the first failure in input order is rethrown once
    * every thread has finished, so no job outlives the call.
    */
  def fanOut[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val results = new Array[Try[B]](xs.size)
    val threads = xs.zipWithIndex.map { case (x, i) =>
      new Thread(() =>
        results(i) = try Success(f(x)) catch { case e: Throwable => Failure(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.toSeq.map(_.get)
  }
}
