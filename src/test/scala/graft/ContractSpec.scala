package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself: SparkEntry's shape and smoke behavior, so a
  * broken registration fails here before the round's verify run does.
  */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every oracle key has a query; names follow the qNN_ convention") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle-only keys: ${os.diff(qs)}")
    // an optional letter suffix marks a variant of the same-numbered query
    // (q167b = q167's increment-driven form)
    val convention = "q\\d+[a-z]?_[a-z0-9_]+"
    assert(qs.forall(_.matches(convention)), qs.filterNot(_.matches(convention)))
  }

  test("every query is oracle-checked — no rows-only rows remain") {
    // q34's HLL++ estimate has no DuckDB twin, but since round 10 its query
    // emits the exact count plus a within-bound flag the oracle replays, so
    // even the approximate family is hash-checked.
    val rowsOnly = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(rowsOnly.isEmpty, s"rows-only keys: $rowsOnly")
  }

  test("query records have distinct names") {
    // the name-keyed maps keep only the last of two equal names, so a
    // copy-pasted record would silently drop a query
    val names = SparkEntry.records.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names: ${names.diff(names.distinct)}")
  }

  test("Verify.q escapes quotes, backslashes and control chars as JSON") {
    val raw = "a\"b\\c\nd\re\tf\u0001g"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.q(raw), classOf[String])
    assert(back == raw)
  }

  test("entry (driver smoke) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query builds a plan against sf0.001 without throwing") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.nonEmpty, name)
    }
  }

  // The approximate family gets bound checks here ON TOP of the oracle:
  // q34's oracle hash now covers exact counts + the 2-rsd flag; this spec
  // keeps the tighter 1-rsd (5%) gate on the raw estimate, which the
  // hashed output no longer carries.

  test("q34 approx distinct: flag true, exact matches q33, raw HLL within 5%") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("q33_distinct_count")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q34 = SparkEntry.queries("q34_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(exact.keySet == q34.keySet)
    exact.foreach { case (k, n) =>
      assert(q34(k)._1 == n, s"$k: q34 exact ${q34(k)._1} vs q33 $n")
      assert(q34(k)._2, s"$k: hll_within_10pct false")
    }
    // tighter 1-rsd gate on the estimate itself
    val approx = Tables.t(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n <= 0.05,
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("approx_percentile tracks q63's exact percentiles within 5%") {
    // the scale path for q63: exact `percentile` sorts every group member;
    // approx_percentile is the sketch used when a group holds billions
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val li = Tables.t(spark, sf, "lineitem")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, 0.5, 10000)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = SparkEntry.queries("q63_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, m) =>
      assert(math.abs(approx(k) - m) / m <= 0.05, s"$k: approx ${approx(k)} vs exact $m")
    }
  }

  test("approx_top_k overflow regime: every truly-frequent item is reported") {
    // q104 runs the sketch where the vocabulary FITS (counts exact, oracle-
    // checked); this pins the 100 TB regime it exists for — vocabulary far
    // beyond maxItemsTracked — via the frequent-items guarantee: an item
    // with count > εN cannot be evicted from every task summary.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hot  = (1 to 20).flatMap(h => Seq.fill(500)(s"hot_$h"))
    val tail = (1 to 30000).map(i => s"tail_$i")
    val df = spark.createDataset(new scala.util.Random(11).shuffle(hot ++ tail)).toDF("t")
      .repartition(8)
    val reported = df.agg(expr("approx_top_k(t, 20, 256)").as("tk"))
      .select(explode(col("tk")).as("e")).select($"e.item")
      .as[String].collect().toSet
    (1 to 20).foreach { h =>
      assert(reported.contains(s"hot_$h"), s"hot_$h (n=500 of 40000) evicted")
    }
  }

  test("q56 decode features are deterministic across two runs") {
    val sf = "/root/testdata/sf0.001"
    val a  = SparkEntry.queries("q56_decode_features")(spark, sf).collect().toSeq
    val b  = SparkEntry.queries("q56_decode_features")(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("no source or tool names an absolute path into a checkout") {
    // this checkout's own path anywhere, or a string literal into any
    // checkout's `target/` (so a copy of the repo elsewhere still catches a
    // literal naming the original); fixtures go through Tables.targetPath
    val here  = new java.io.File(".").getCanonicalPath
    val fixed = (java.util.regex.Pattern.quote(here) + "(?![\\w.-])|\"/[^\"\\s]*/target/").r
    val roots = Seq(Paths.get("src"), Paths.get("tools"))
    assert(roots.forall(Files.isDirectory(_)), "run from the repository root (no src/ or tools/)")
    val hits = roots.flatMap(r => Files.walk(r).iterator.asScala)
      .filter(Files.isRegularFile(_))
      .flatMap { p =>
        new String(Files.readAllBytes(p), UTF_8).linesIterator.zipWithIndex.collect {
          case (line, i) if fixed.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("absolute checkout paths:\n", "\n", ""))
  }

  test("no scaladoc sits directly above another scaladoc in src/main/scala") {
    // a doc comment followed at once by another documents nothing: the
    // second one is what the definition below gets, so the first is an
    // orphan of some other definition
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), "run from the repository root (no src/main/scala)")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .flatMap { p =>
        new String(Files.readAllBytes(p), UTF_8).linesIterator.sliding(2).zipWithIndex.collect {
          case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
            s"$p:${i + 2}: ${b.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("orphaned scaladocs:\n", "\n", ""))
  }
}
