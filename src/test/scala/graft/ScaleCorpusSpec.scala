package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The contract Bench's ×N points and ScaleBench read from a ScaleCorpus
  * corpus, at 12 replicas so the composed text rotation crosses the ×10
  * boundary where a single `i % 10` rotation starts repeating.
  */
class ScaleCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val n  = 12
  private lazy val tmp = Files.createTempDirectory("graft-scalecorpus-")
  private lazy val dir = ScaleCorpus.build(spark, sf, n, tmp.resolve(s"x$n").toString)

  override def afterAll(): Unit = FileUtils.deleteDirectory(tmp.toFile)

  private def src(t: String) = Tables.t(spark, sf, t)
  private def out(t: String) = Tables.t(spark, dir, t)
  private val keyed = ScaleCorpus.keyCols.keys.toSeq.sorted

  test("keyed tables hold n× the source rows; region and nation 1×") {
    for (t <- Tables.names) {
      val times = if (ScaleCorpus.keyCols.contains(t)) n else 1
      assert(out(t).count() == times * src(t).count(), t)
    }
  }

  test("replica 0 is the source, row for row") {
    for (t <- keyed) {
      val r0 = out(t).filter(col(ScaleCorpus.keyCols(t).head) < ScaleCorpus.Stride)
      assert(r0.exceptAll(src(t)).isEmpty && src(t).exceptAll(r0).isEmpty, t)
    }
    for (t <- Seq("region", "nation"))
      assert(out(t).exceptAll(src(t)).isEmpty && src(t).exceptAll(out(t)).isEmpty, t)
  }

  test("every key domain has n× the source's distinct keys") {
    for (t <- keyed) {
      val ks = ScaleCorpus.keyCols(t)
      def distinct(df: org.apache.spark.sql.DataFrame) =
        df.agg(count_distinct(col(ks.head)), ks.tail.map(k => count_distinct(col(k))): _*)
          .head().toSeq.map(_.asInstanceOf[Long])
      assert(distinct(out(t)) == distinct(src(t)).map(_ * n), t)
    }
  }

  test("FK joins land n× the source's matches") {
    def joins(d: String => org.apache.spark.sql.DataFrame) = Seq(
      d("orders").join(d("lineitem"), col("o_orderkey") === col("l_orderkey")).count(),
      d("lineitem").join(d("supplier"), col("l_suppkey") === col("s_suppkey")).count())
    assert(joins(out) == joins(src).map(_ * n))
  }

  test("no two replicas share a document text") {
    val shared = out("documents")
      .groupBy(col("text"))
      .agg(count_distinct((col("doc_id") / ScaleCorpus.Stride).cast("long")).as("replicas"))
      .filter(col("replicas") > 1)
    assert(shared.isEmpty, s"${shared.count()} texts appear in more than one replica")
  }
}
