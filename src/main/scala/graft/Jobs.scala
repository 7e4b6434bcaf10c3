package graft

import java.util.concurrent.Executors

import org.apache.spark.SparkContext

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Independent Spark jobs submitted concurrently, so their fixed costs
  * overlap instead of adding, and the job label they run under. */
private[graft] object Jobs {

  /** Run each job on its own thread and return the results in job
    * order. Every job is awaited before the first failure, in job
    * order, is rethrown: rethrowing on the first failed job would leave
    * the others running while the caller unwinds (a store append still
    * writing while its batch replays; a streaming query still running
    * after its pass has thrown). The pool is always shut down. Spark's
    * job properties are thread-local and each new thread starts from
    * the caller's, so a job that sets its own job description labels
    * only its own thread. */
  def awaitAll[T](jobs: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(jobs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try jobs.map(job => Future(job())).map(f => Try(Await.result(f, Duration.Inf))).map(_.get)
    finally pool.shutdown()
  }

  /** Run `body` with this thread's job description set to `label`, then
    * put the caller's description back, whether `body` returned or
    * threw, so the caller's later jobs are not counted under `label`.
    * `body` may relabel its own phases; the caller's still comes back. */
  def described[T](sc: SparkContext, label: String)(body: => T): T = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(caller)
  }
}
