package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Ingest

class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val header = Seq("Endpoint Name", "Endpoint Type", "Operating System", "Agent Version")

  test("detectHeaderIndex finds the sentinel row (app.py:154-162)") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("Relatório Cortex", null, null, null),
      Seq(null, null, null, null),
      header,
      Seq("host-1", "WORKSTATION", "Windows 10", "7.9"))
    assert(Ingest.detectHeaderIndex(rows) == 2)
  }

  test("detectHeaderIndex falls back to row 1 when no sentinel (app.py:163)") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("A title"), Seq("colA", "colB"), Seq("1", "2"))
    assert(Ingest.detectHeaderIndex(rows) == 1)
  }

  test("detectHeaderIndex ignores extra columns (superset test)") {
    val rows: Seq[Seq[Any]] = Seq(("extra" +: header) :+ "More")
    assert(Ingest.detectHeaderIndex(rows) == 0)
  }

  test("reHeader slices names + data and normalizes names (app.py:172-175)") {
    val rows: Seq[Seq[Any]]   = Seq(Seq("t"), header, Seq("h1", "t1", "os1", "v1"))
    val (names, data) = Ingest.reHeader(rows, 1)
    assert(names == Seq("endpoint_name", "endpoint_type", "operating_system", "agent_version"))
    assert(data == Seq(Seq("h1", "t1", "os1", "v1")))
  }

  test("reHeader disambiguates colliding and blank header cells") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("IP Address", "ip-address", null, "x", "x", "x_2"),
      Seq("a", "b", "c", "d", "e", "f"))
    val (names, _) = Ingest.reHeader(rows, 0)
    // the second "x" takes x_2, so the LITERAL x_2 header must skip to x_2_2
    assert(names == Seq("ip_address", "ip_address_2", "col_3", "x", "x_2", "x_2_2"))
    assert(names.distinct == names) // a duplicate would AMBIGUOUS_REFERENCE downstream
  }

  test("dropEmpty keeps rows with any value (app.py:178)") {
    val rows: Seq[Seq[Any]] =
      Seq(Seq(1, "a"), Seq(null, null), Seq(2, null), Seq(), Seq(null), Seq("", null))
    val (names, kept) = Ingest.dropEmpty(Seq("x", "y"), rows)
    assert(names == Seq("x", "y"))
    // short rows are null-padded, then judged; only null is empty, not ""
    assert(kept == Seq(Seq(1, "a"), Seq(2, null), Seq("", null)))
  }

  test("dropEmpty drops only fully-null columns, even one named __n") {
    val rows: Seq[Seq[Any]] = Seq(Seq(1, null, null), Seq(2, null, null, "past the header"))
    val (names, kept) = Ingest.dropEmpty(Seq("keep", "__n", "gone"), rows)
    assert(names == Seq("keep"))
    assert(kept == Seq(Seq(1), Seq(2))) // cells past the header are cut, not judged
    // no non-empty row left: every column is empty
    assert(Ingest.dropEmpty(Seq("a", "b"), Seq(Seq(null, null))) == ((Nil, Nil)))
  }

  test("readJsonQuarantine routes malformed lines whole, parses the rest") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonq")
    java.nio.file.Files.write(dir.resolve("a.jsonl"),
      java.util.Arrays.asList(
        """{"id": 1, "name": "ok"}""",
        """{"id": 2, "name": "fine", "extra": true}""",
        """{"id": 3, "name": BROKEN""",
        """not json at all""",
        "   ", // whitespace-only: NULL struct from from_json, must quarantine
        """{"id": 4}"""))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val (good, bad) = Ingest.readJsonQuarantine(spark, dir.toString, schema)
    val g = good.orderBy("id").collect()
    assert(g.length == 3 && g(0).getLong(0) == 1 && g(2).isNullAt(1)) // id=4: missing field -> null, NOT quarantined
    val b = bad.as[String].collect().toSet
    assert(b == Set("""{"id": 3, "name": BROKEN""", "not json at all", "   "))
  }

  test("unionAllByName aligns by name and null-fills (pd.concat, app.py:325)") {
    val a = Seq((1, "x")).toDF("k", "a_only")
    val b = Seq((2, 9.5)).toDF("k", "b_only")
    val u = Ingest.unionAllByName(Seq(a, b)).orderBy("k")
    assert(u.columns.toSeq == Seq("k", "a_only", "b_only"))
    val rows = u.collect()
    assert(rows(0).getString(1) == "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 9.5)
  }
}
