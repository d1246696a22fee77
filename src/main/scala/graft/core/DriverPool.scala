package graft.core

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The engine's one driver-side thread pool: independent Spark actions run
  * a few at a time so one job's stage tail is back-filled by another's (a
  * vault fill wave's count jobs, product quantization's per-subspace
  * k-means).
  */
object DriverPool {

  /** Tasks in flight at most. Back-filling stage tails needs 2-3 jobs in
    * flight; one thread per task (r18 ran all 8 vault wave-1 fills at once)
    * makes the concurrent stages contend for one JVM's execution memory
    * (q_dag_warm 2.4x slower).
    */
  val Cap = 4

  /** Run `tasks` concurrently on at most [[Cap]] threads and return their
    * results in task order. Each task runs inside the caller's
    * `Materialize` scope, so what it stores belongs to the caller. The
    * first failure interrupts the other tasks, waits for them to end,
    * cancels the Spark jobs they started and is rethrown: no sibling runs
    * on past the call.
    */
  def all[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] = {
    val sc = spark.sparkContext
    val owner = Materialize.current
    val tag = s"graft-pool-${UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(Cap, tasks.size)))
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map(task => done.submit(new Callable[A] {
        def call(): A = {
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          try owner(task()) finally sc.removeJobTag(tag)
        }
      }))
      // in completion order, so the first failure is seen while its
      // siblings are still running
      tasks.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          // cancel only once the siblings have ended: a thread
          // interrupted while it waits on a job leaves that job running
          pool.shutdownNow()
          pool.awaitTermination(1, TimeUnit.MINUTES)
          sc.cancelJobsWithTag(tag)
          throw e.getCause
        }
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
