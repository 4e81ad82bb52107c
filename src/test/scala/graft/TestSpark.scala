package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.CheckpointDirBridge

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
}
