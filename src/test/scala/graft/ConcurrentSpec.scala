package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Concurrent

object ConcurrentSpec {
  // local mode: tasks run in this JVM and share these gates with the test
  val started = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  private val firstGate = new AtomicLong(0L)

  /** Block a task until released, or until its job is cancelled (the
    * latch is polled so the task sees the kill flag), or as a backstop
    * until 60 s after the first task got here: one shared deadline, so
    * an uncancelled job ends in a minute, not a minute per task wave.
    */
  def gate(): Unit = {
    started.countDown()
    firstGate.compareAndSet(0L, System.nanoTime())
    val ctx      = TaskContext.get()
    val deadline = firstGate.get + TimeUnit.SECONDS.toNanos(60)
    while (!release.await(10, TimeUnit.MILLISECONDS) && !ctx.isInterrupted() &&
      System.nanoTime() < deadline) ()
  }
}

class ConcurrentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import ConcurrentSpec._

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("Concurrent.all returns every thunk's result in input order") {
    val out = Concurrent.all(spark)((1 to 4).map(i => () => {
      Thread.sleep(30L * (4 - i)) // later thunks finish first
      spark.range(i).count()
    }))
    assert(out == Seq(1L, 2L, 3L, 4L))
    assert(Concurrent.all(spark)(Seq.empty[() => Int]).isEmpty)
  }

  test("Concurrent.all: first failure is rethrown, siblings cancelled, caller state kept") {
    val sc     = spark.sparkContext
    val group  = s"concurrent-spec-${System.nanoTime()}"
    val marker = s"marker-${System.nanoTime()}"
    val marked = ConcurrentHashMap.newKeySet[Int]()
    val ended  = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") == marker))
          marked.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "containment spec")
    sc.setLocalProperty("graft.spec.marker", marker)
    val tagsBefore = sc.getJobTags()
    val boom = new IllegalStateException("boom")
    val siblingError = new AtomicReference[Throwable]()
    try {
      val thrown = intercept[IllegalStateException] {
        Concurrent.all(spark)(Seq(
          () =>
            try sc.parallelize(1 to 32, 32).map { i => gate(); i }.count()
            catch { case e: Throwable => siblingError.set(e); throw e },
          () => {
            assert(started.await(60, TimeUnit.SECONDS), "sibling job never started")
            throw boom
          }))
      }
      assert(thrown eq boom)
      // the caller's own job group, local property and tags are untouched
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("graft.spec.marker") == marker)
      assert(sc.getJobTags() == tagsBefore)
      // the sibling had returned before the rethrow, its job cancelled
      assert(siblingError.get != null, "the sibling's job was not cancelled")
      assert(siblingError.get.getMessage.contains("cancelled"), siblingError.get.getMessage)
      // the caller's property reached the child's job
      eventually("the sibling job was never seen")(!marked.isEmpty)
      eventually("the sibling job never ended")(marked.asScala.forall(ended.containsKey))
      assert(marked.asScala.forall(ended.get(_) != JobSucceeded))
      val groupJobs = sc.statusTracker.getJobIdsForGroup(group).toSet
      assert(marked.asScala.toSet.subsetOf(groupJobs)) // the group reached it too
      eventually("jobs still active after return")(
        sc.statusTracker.getActiveJobIds().toSet.intersect(groupJobs).isEmpty)
    } finally {
      release.countDown()
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.marker", null)
    }
  }
}
