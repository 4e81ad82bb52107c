package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Checkpoints

/** The engine's one spread policy ([[Tables.spread]]): a narrow input gets
  * one round-robin exchange of the cluster width, an input that is already
  * that wide passes through untouched, and an input whose runtime width is
  * not knowable plan-side (joins, aggregates) is always spread.
  */
class SpreadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val width = math.max(spark.sparkContext.defaultParallelism,
    spark.sessionState.conf.numShufflePartitions)
  private lazy val dir = Files.createTempDirectory("graft-spread-")
  private lazy val narrow = scan(1)
  private lazy val wide   = scan(width)

  override def afterAll(): Unit = FileUtils.deleteDirectory(dir.toFile)

  /** A parquet scan of 1000 rows written as `files` files (one split each:
    * every file is far below the open-cost packing threshold).
    */
  private def scan(files: Int): DataFrame = {
    val path = dir.resolve(s"t$files").toString
    spark.range(0, 1000, 1, files).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Widths of the round-robin exchanges in `df`'s physical plan. */
  private def roundRobins(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case RoundRobinPartitioning(n) => n }

  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerBridge.flush(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a one-split parquet scan gets exactly one round-robin exchange of width") {
    assert(narrow.rdd.getNumPartitions == 1)
    assert(roundRobins(Tables.spread(narrow)) == Seq(width))
    assert(roundRobins(Tables.spread(narrow.filter(col("k") > 0).select(col("id")))) == Seq(width))
  }

  test("a scan or pinned input already width-wide comes back unchanged, no job run") {
    assert(wide.rdd.getNumPartitions == width)
    wide.queryExecution.optimizedPlan // the read's own listing/footer work stays out of scope
    val shaped = wide.filter(col("k") > 0).select(col("id"))
    val (outs, jobs) = jobsDuring(Seq(wide, shaped).map(Tables.spread))
    assert(outs.head eq wide)
    assert(outs(1) eq shaped)
    assert(roundRobins(outs(1)).isEmpty)
    assert(jobs == 0, "the partition probe must plan the scan, never run it")
    val pinned = Checkpoints.pin(spark.range(0, 1000, 1, width).toDF("id").repartition(width))
    try {
      assert(Tables.spread(pinned) eq pinned)
      assert(roundRobins(Tables.spread(pinned.select(col("id") * 2))).isEmpty)
    } finally Checkpoints.release(pinned)
  }

  test("join- and aggregate-shaped inputs are spread even when wide") {
    val agg  = wide.groupBy(col("k")).count()
    val join = wide.as("a").join(wide.as("b"), col("a.id") === col("b.id"))
    assert(roundRobins(Tables.spread(agg)) == Seq(width))
    assert(roundRobins(Tables.spread(join)) == Seq(width))
  }

  test("no engine code spreads around Tables.spread") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val policy = root.resolve("graft/Tables.scala")
    val clusterSized = "defaultParallelism|numShufflePartitions".r
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != policy)
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), UTF_8)
        // names this file binds to a cluster-sized count, e.g. `val w = sc.defaultParallelism`
        val sizedNames = """(?:val|def)\s+(\w+)\s*=[^\n]*(?:defaultParallelism|numShufflePartitions)""".r
          .findAllMatchIn(src).map(_.group(1)).toSet
        """\.repartition\(""".r.findAllMatchIn(src).collect {
          // count-only (a keyed repartition is a different decision) and cluster-sized
          case m if (topLevelArgs(src, m.end) match {
              case Seq(n) => clusterSized.findFirstIn(n).isDefined || sizedNames(n.trim)
              case _      => false
            }) =>
            val line = src.substring(0, m.start).count(_ == '\n') + 1
            s"$p:$line: ${src.linesIterator.drop(line - 1).next().trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("round-robin spread outside Tables.spread:\n", "\n", ""))
  }

  /** The comma-separated arguments of the call whose `(` ends at `from`. */
  private def topLevelArgs(src: String, from: Int): Seq[String] = {
    val args  = Seq.newBuilder[String]
    var depth = 0
    var start = from
    var i     = from
    while (depth >= 0 && i < src.length) {
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => args += src.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    (args += src.substring(start, i - 1)).result()
  }
}
