package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.{CheckpointDirBridge, ListenerBridge}

/** One shared local session for every suite (Spark session startup dominates
  * test wall-clock otherwise). Built via [[Sessions.local]] so tests run
  * under the exact semantics-critical config of Verify/Bench.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** Evaluate `body` twice: once under the session's default local pins, once
    * with a fresh checkpoint dir set on the shared session, so every
    * [[graft.ops.Checkpoints.pin]] is reliable. Returns both results and the
    * number of checkpoint files the reliable run wrote. `body` must force its
    * result (collect it) — a lazy plan would escape the scope. The previous
    * dir is restored in `finally`: a leaked setting would silently switch
    * every later suite in this JVM to reliable pins into a deleted dir.
    */
  def localAndReliable[T](body: => T): (T, T, Long) = {
    val local = body
    val sc    = spark.sparkContext
    val prev  = sc.getCheckpointDir
    val dir   = Files.createTempDirectory("graft-ckpt-")
    try {
      sc.setCheckpointDir(dir.toString)
      val reliable = body
      (local, reliable, FileUtils.listFiles(dir.toFile, null, true).size.toLong)
    } finally {
      CheckpointDirBridge.set(sc, prev)
      FileUtils.deleteDirectory(dir.toFile)
    }
  }

  /** Evaluate `body` and count what it ran: (jobs started, stages that
    * wrote shuffle, result). The listener bus is flushed on both sides, so
    * the counts are exact. A skipped stage (its map outputs already exist)
    * never completes, so it is not counted.
    */
  def jobsAndShuffleStages[T](body: => T): (Int, Int, T) = {
    val jobs, shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) shuffleStages.incrementAndGet()
        ()
      }
    }
    val sc = spark.sparkContext
    ListenerBridge.flush(sc)
    sc.addSparkListener(l)
    try { val r = body; ListenerBridge.flush(sc); (jobs.get(), shuffleStages.get(), r) }
    finally sc.removeSparkListener(l)
  }
}
