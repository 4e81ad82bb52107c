package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Clustering, Summaries, Text}

/** The engine's one pin policy ([[graft.ops.Checkpoints]]): a checkpoint dir
  * on the session turns every pin reliable, results unchanged. The iterative
  * operators (connected components, PageRank, near-dup pairs) are checked in
  * their own suites; here, operators that pin a one-off shared artifact.
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame, order: String*): Seq[Row] =
    df.orderBy(order.map(col): _*).collect().toSeq

  private val pinningOperators: Seq[(String, () => Seq[Row])] = Seq(
    // exactQuantileArrays pins the per-column value domain
    "Summaries.quantileBin" -> (() => rows(
      Summaries.quantileBin((1 to 60).map(i => (i.toLong, (i * 37 % 23).toDouble)).toDF("id", "v"),
        "v", 4), "id")),
    // the filtered training set is pinned once for every iteration's collect
    "Clustering.kmeans" -> { () =>
      val vecs = (0 until 40).map(i => (i.toLong, Seq(if (i % 2 == 0) 10.0f else -10.0f, i * 0.1f)))
        .toDF("vec_id", "embedding")
      val (assigned, stats) = Clustering.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      rows(assigned.select("vec_id", "cluster"), "vec_id") :+ Row(stats)
    },
    // the (id, s) rows are pinned for the masked index and the exact-dup pass
    "Text.singleEditNearPairs" -> (() => rows(
      Text.singleEditNearPairs(Seq((1L, "alpha"), (2L, "alpho"), (3L, "aplha"), (4L, "alpha"),
        (5L, "zzzzz")).toDF("id", "name"), "id", "name"), "id_a", "id_b")))

  for ((name, run) <- pinningOperators)
    test(s"$name: reliable pins give the local-pin rows and write checkpoint files") {
      val (local, reliable, wrote) = TestSpark.localAndReliable(run())
      assert(local.nonEmpty)
      assert(reliable == local)
      assert(wrote > 0, "reliable checkpoint wrote no files")
    }

  test("no engine code pins around Checkpoints.pin") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val bypass = """\.(localCheckpoint|checkpoint)\b""".r
    val policy = root.resolve("graft/ops/Checkpoints.scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != policy)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if bypass.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("pin outside Checkpoints.pin:\n", "\n", ""))
  }
}
