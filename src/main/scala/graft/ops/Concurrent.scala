package graft.ops

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit, TimeoutException}

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The engine's one way to run independent Spark work at the same time.
  *
  * Actions are sequential only because driver code calls them one after
  * another; Spark's scheduler runs independent jobs together, and each job's
  * stage barriers and task tails are back-filled by the others' tasks (Spark
  * SQL, SIGMOD 2015). [[all]] gives that overlap with failure containment:
  *  - One fresh thread per thunk per call, never a pool. Spark's local
  *    properties are inheritable and copied when a thread is created, so
  *    every child job carries the caller's job group, call site and any
  *    property the caller set; a pooled thread would carry its creator's.
  *  - Each child tags its jobs with one per-call job tag (`addJobTag`), not
  *    a job group, so the caller's group stays on the jobs and is unchanged
  *    after return.
  *  - On the first failure every job under the tag is cancelled, again
  *    until every sibling has returned (a thunk may start its next job
  *    after a cancel), and that first failure is rethrown.
  *  - One bounded await for the whole group, [[Timeout]]: a wedged
  *    filesystem fails loudly instead of hanging the caller. The bound is
  *    generous, sized for corpus-scale writes; it does not police
  *    slow-but-alive jobs.
  */
object Concurrent {

  val Timeout: FiniteDuration = 24.hours

  /** Run every thunk concurrently; results in input order. Only the
    * scheduling changes: each thunk runs the same jobs it would run alone.
    */
  def all[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val sc   = spark.sparkContext
    val tag  = s"graft-concurrent-${UUID.randomUUID()}"
    val done = new LinkedBlockingQueue[(Int, Either[Throwable, T])]()
    val threads = thunks.zipWithIndex.map { case (th, i) =>
      val t = new Thread(() => {
        val r = try { sc.addJobTag(tag); Right(th()) } catch { case e: Throwable => Left(e) }
        done.put(i -> r)
      }, s"graft-concurrent-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    val deadline = Timeout.fromNow
    val results  = new Array[Any](thunks.size)
    var failure: Throwable = null
    var pending  = thunks.size
    while (pending > 0 && failure == null)
      done.poll(math.max(deadline.timeLeft.toMillis, 0L), TimeUnit.MILLISECONDS) match {
        case null          => failure = new TimeoutException(s"concurrent group not done within $Timeout")
        case (i, Right(v)) => results(i) = v; pending -= 1
        case (_, Left(e))  => failure = e
      }
    if (failure != null) {
      sc.cancelJobsWithTag(tag)
      while (threads.exists(_.isAlive) && deadline.hasTimeLeft()) {
        threads.find(_.isAlive).foreach(_.join(100))
        sc.cancelJobsWithTag(tag)
      }
      throw failure
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }
}
