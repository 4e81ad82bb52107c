package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ShuffleBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Clean, Dedup, Ingest, Summaries}

/** Golden end-to-end test of the §3.1 pipeline replica over the `endpoints`
  * fixture (FIXTURES.md §2): title row + all-null row/column exercise header
  * detection and pruning; duplicate keys exercise dedup; NULL OS exercises
  * the dropna=False group; garbage dates exercise coercion.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // upload 1, raw form: title line above header, an all-null column and row
  private val raw1: Seq[Seq[Any]] = Seq(
    Seq("Relatório Cortex XDR", null, null, null, null, null, null, null),
    Seq("Endpoint Name", "Endpoint Alias", "Endpoint Type", "Operating System",
      "Agent Version", "Endpoint Status", "Last Seen", "Last Upgrade Status"),
    Seq("host-a", "alias-a", "WORKSTATION", "Windows 10", "7.9", " connected ",
      "2024-01-10 10:00:00", "SUCCESS"),
    Seq(null, null, null, null, null, null, null, null),
    Seq("host-b", "alias-b", "SERVER", null, "7.8", "DISCONNECTED",
      "2024-01-09 09:00:00", "Failed"))

  // upload 2: same host-a with a NEWER last_seen (must win dedup), plus
  // a failure row with reason + unparseable date
  private val raw2: Seq[Seq[Any]] = Seq(
    Seq("Endpoint Name", "Endpoint Alias", "Endpoint Type", "Operating System",
      "Agent Version", "Endpoint Status", "Last Seen", "Last Upgrade Status",
      "Last Upgrade Failure Reason", "IP Address"),
    Seq("host-a", "alias-a", "WORKSTATION", "Windows 11", "8.0", "connected",
      "2024-01-12 10:00:00", "SUCCESS", null, "10.0.0.1, 192.168.1.9"),
    Seq("host-c", "alias-c", "SERVER", "Linux", "7.7", "Lost Contact",
      "not a date", "Timed Out", "error code 5", "n/a"))

  private lazy val catalog = Pipeline.run(Seq(
    Pipeline.ingestRaw(spark, raw1),
    Pipeline.ingestRaw(spark, raw2)))

  test("header detection skips the title row; all-null row and column pruned") {
    val df = Pipeline.ingestRaw(spark, raw1)
    assert(df.columns.contains("endpoint_name"))
    assert(df.count() == 2) // all-null row dropped
  }

  test("base_limpa dedups keeping the most recent last_seen") {
    val base = catalog("base_limpa")
    assert(base.count() == 3) // host-a (newer), host-b, host-c
    val hostA = base.filter($"endpoint_name" === "host-a").head()
    assert(hostA.getAs[String]("operating_system") == "Windows 11")
  }

  test("normalization: status title-cased, dates coerced, ipv4 extracted") {
    val base = catalog("base_limpa")
    val hostC = base.filter($"endpoint_name" === "host-c").head()
    assert(hostC.getAs[String]("endpoint_status") == "Lost Contact")
    assert(hostC.isNullAt(hostC.fieldIndex("last_seen"))) // garbage → NULL
    assert(hostC.getAs[String]("ipv4") == null)           // "n/a" → NULL
    val hostA = base.filter($"endpoint_name" === "host-a").head()
    assert(hostA.getAs[String]("ipv4") == "10.0.0.1")
  }

  test("resumo_os keeps the NULL group (dropna=False, app.py:247)") {
    val os = catalog("resumo_os").collect()
    assert(os.exists(r => r.isNullAt(0) && r.getLong(1) == 1)) // host-b NULL OS
  }

  test("falhas_upgrade matches keyword rows across status AND reason columns") {
    val falhas = catalog("falhas_upgrade")
      .select("endpoint_name").as[String].collect().toSet
    assert(falhas == Set("host-b", "host-c")) // Failed, Timed Out/error
  }

  test("exportCatalogPartitioned writes hive-partitioned output with pruning") {
    val dir = Tables.targetPath(s"tmp/pipeline_part_${System.nanoTime()}")
    Pipeline.exportCatalogPartitioned(catalog, dir,
      Map("base_limpa" -> Seq("endpoint_type")))
    val back = spark.read.parquet(s"$dir/base_limpa")
    assert(back.count() == 3)
    // partition pruning: only the SERVER directory is scanned
    val pruned = back.filter($"endpoint_type" === "SERVER")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(endpoint_type"))
    assert(pruned.count() == 2)
  }

  test("exportCatalog writes one parquet dir per table (S6)") {
    val dir = Tables.targetPath(s"tmp/pipeline_export_${System.nanoTime()}")
    Pipeline.exportCatalog(catalog, dir)
    assert(catalog.size == 4)
    assert(new java.io.File(dir).list().toSet == catalog.keySet)
    // the tables are written concurrently; each must read back equal to
    // its catalog DataFrame, in schema and in rows
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    catalog.foreach { case (name, df) =>
      val back = spark.read.parquet(s"$dir/$name")
      assert(fields(back) == fields(df), name)
      assert(rows(back) == rows(df), name)
    }
  }

  // ---- the shared catalog: run executes its shuffles once ------------------

  private def uploads(raws: Seq[Seq[Any]]*): Seq[DataFrame] = raws.map(Pipeline.ingestRaw(spark, _))

  /** The catalog as plain lazy plans — each action re-runs the dedup from
    * the uploads. The reference the frozen catalog must equal row for row.
    */
  private def unfrozen(ups: Seq[DataFrame]): Map[String, DataFrame] = {
    val base    = Ingest.unionAllByName(ups.map(Pipeline.normalizeUpload))
    val has     = (c: String) => base.columns.contains(c)
    val keys    = Seq("endpoint_name", "endpoint_alias").filter(has)
    val recency = Seq("last_seen", "last_upgrade_status_time").filter(has)
    val limpa =
      if (keys.isEmpty) Dedup.distinctRows(base)
      else Dedup.keepLatest(base, keys, recency,
        base.columns.toSeq.filterNot(c => keys.contains(c) || recency.contains(c)).map(col))
    val fail = Seq("last_upgrade_status", "last_upgrade_failure_reason").filter(has)
    ListMap(Seq("base_limpa" -> limpa) ++
      Seq("resumo_status" -> "endpoint_status", "resumo_os" -> "operating_system")
        .collect { case (n, c) if has(c) => n -> Summaries.groupCount(limpa, c) } ++
      fail.headOption.map(_ =>
        "falhas_upgrade" -> limpa.filter(Clean.keywordAny(fail.map(col), Clean.FailurePattern))): _*)
  }

  private def sortedRows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  /** Same tables, same order, same schema and rows; the summaries' rows in
    * their sorted order.
    */
  private def assertSameCatalog(got: Map[String, DataFrame], want: Map[String, DataFrame]): Unit = {
    assert(got.keys.toSeq == want.keys.toSeq)
    want.foreach { case (name, w) =>
      assert(got(name).schema == w.schema, name)
      if (name.startsWith("resumo_")) assert(got(name).collect().toSeq == w.collect().toSeq, name)
      else assert(sortedRows(got(name)) == sortedRows(w), name)
    }
  }

  private def counting(body: => Unit): (Int, Int) = {
    val (jobs, shuffleStages, _) = TestSpark.jobsAndShuffleStages(body)
    (jobs, shuffleStages)
  }

  test("run executes the shared shuffles once: each export runs one job per table, no shuffle") {
    val cat = Pipeline.run(uploads(raw1, raw2))
    val dir = Tables.targetPath(s"tmp/pipeline_shared_${System.nanoTime()}")
    val parquet = counting(Pipeline.exportCatalog(cat, s"$dir/catalog"))
    val xlsx    = counting(Pipeline.exportCatalogXlsx(cat, s"$dir/catalog.xlsx"))
    assert(cat.size == 4)
    assert(parquet == ((cat.size, 0)), "exportCatalog: (jobs, shuffle-writing stages)")
    assert(xlsx == ((cat.size, 0)), "exportCatalogXlsx: (jobs, shuffle-writing stages)")
    assertSameCatalog(cat, unfrozen(uploads(raw1, raw2)))
  }

  test("lost shuffle outputs of the frozen base are recomputed, not fatal, not wrong") {
    val cat = Pipeline.run(uploads(raw1, raw2))
    val ids = ShuffleBridge.shuffleIds(cat("base_limpa"))
    assert(ids.nonEmpty && ids.forall(ShuffleBridge.availableOutputs(_) > 0))
    ids.foreach(ShuffleBridge.loseOutputs)
    assert(ids.forall(ShuffleBridge.availableOutputs(_) == 0))
    val dir = Tables.targetPath(s"tmp/pipeline_lost_${System.nanoTime()}")
    val (_, recomputed) = counting(Pipeline.exportCatalog(cat, dir))
    assert(recomputed > 0, "the lost map stage must run again")
    val want = unfrozen(uploads(raw1, raw2))
    want.foreach { case (name, w) =>
      assert(sortedRows(spark.read.parquet(s"$dir/$name")) == sortedRows(w), name)
    }
  }

  test("partial schemas: no operating_system → no resumo_os; no key column → distinct rows") {
    val noOs = uploads(raw1, raw2).map(_.drop("operating_system"))
    val cat  = Pipeline.run(noOs)
    assert(cat.keys.toSeq == Seq("base_limpa", "resumo_status", "falhas_upgrade"))
    assertSameCatalog(cat, unfrozen(noOs))

    // no dedup key: the reference falls back to dropping exact duplicates
    // (`app.py:242`); raw2's rows appear twice once the keys are gone
    val keyless = uploads(raw1, raw2, raw2).map(_.drop("endpoint_name", "endpoint_alias"))
    val fallback = Pipeline.run(keyless)
    assert(fallback.keys.toSeq == Seq("base_limpa", "resumo_status", "resumo_os", "falhas_upgrade"))
    assert(fallback("base_limpa").count() == 4) // 2 + 2 distinct of 2 + 2 + 2
    assertSameCatalog(fallback, unfrozen(keyless))
  }

  test("shuffle file cleanup after each query: the frozen catalog recomputes and stays correct") {
    val key  = "spark.sql.classic.shuffleDependency.fileCleanup.enabled"
    val want = unfrozen(uploads(raw1, raw2)).map { case (n, df) => n -> sortedRows(df) }
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val cat = Pipeline.run(uploads(raw1, raw2))
      val dir = Tables.targetPath(s"tmp/pipeline_cleanup_${System.nanoTime()}")
      Pipeline.exportCatalog(cat, dir)
      assert(cat.keys.toSeq == want.keys.toSeq)
      want.foreach { case (name, rows) =>
        assert(sortedRows(spark.read.parquet(s"$dir/$name")) == rows, name)
        assert(sortedRows(cat(name)) == rows, name)
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
