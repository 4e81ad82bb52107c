package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops._

/** The reference's full product, §3.1 of SURVEY.md: ingest 1..N raw uploads
  * → per-file normalize (`app.py:165-216`) → union (`app.py:325`) → dedup
  * keep-most-recent (`app.py:233-242`) → summaries + failure filter
  * (`app.py:245-270`) → named result catalog (`app.py:272-278`).
  *
  * Spark-first shape: [[ingestRaw]] resolves schema driver-side (a schema
  * must exist before a plan does); [[run]] builds the catalog and runs its
  * shared part once — the only shuffles are the dedup window and the two
  * group-by summaries, and Catalyst fuses the whole normalize chain into
  * the scan stage that feeds the dedup shuffle. Each catalog table is a
  * plan over those shuffle outputs ([[Checkpoints.freeze]]), so every
  * export or display of it runs one job and no shuffle. The exports run
  * the catalog's tables as concurrent jobs through [[Concurrent.all]]
  * (they are independent actions; one after another, the scheduler idles
  * between small jobs), and a failure in one cancels the others.
  */
object Pipeline {

  /** S1/S2 — raw positional rows (an Excel sheet read header-less; any cell
    * may be null) → typed DataFrame: detect the header row against the
    * sentinel set, re-header, prune all-null rows/columns, normalize names.
    * Everything before `createDataFrame` runs on the driver, which already
    * holds every row, so pruning costs no Spark job.
    */
  def ingestRaw(spark: SparkSession, rows: Seq[Seq[Any]]): DataFrame = {
    val (header, body) = Ingest.reHeader(rows, Ingest.detectHeaderIndex(rows))
    val (names, data)  = Ingest.dropEmpty(header, body)
    val schema = StructType(names.map(n => StructField(n, StringType, nullable = true)))
    val cells  = data.map(r => Row.fromSeq(r.map(v => if (v == null) null else v.toString)))
    spark.createDataFrame(spark.sparkContext.parallelize(cells.toIndexedSeq), schema)
  }

  /** Per-upload normalization (`parse_cortex_excel`, `app.py:165-216`):
    * snake-case names, coerce the date columns, title-case the status,
    * extract first IPv4/IPv6. Every step is schema-conditional, mirroring
    * the reference's graceful degradation (`app.py:184,189,197,205`).
    */
  def normalizeUpload(df: DataFrame): DataFrame = {
    val n = Clean.normColumns(df)
    def ifHas(c: String)(f: DataFrame => DataFrame): DataFrame => DataFrame =
      d => if (d.columns.contains(c)) f(d) else d
    val steps: Seq[DataFrame => DataFrame] = Seq(
      ifHas("last_seen")(d => d.withColumn("last_seen", Clean.parseTs(col("last_seen")))),
      ifHas("last_upgrade_status_time")(d =>
        d.withColumn("last_upgrade_status_time", Clean.parseTs(col("last_upgrade_status_time")))),
      ifHas("endpoint_status")(d =>
        d.withColumn("endpoint_status", Clean.titleCase(col("endpoint_status")))),
      ifHas("ip_address")(d => d.withColumn("ipv4", Clean.firstIpv4(col("ip_address")))),
      ifHas("ipv6_address")(d => d.withColumn("ipv6", Clean.firstIpv6(col("ipv6_address")))))
    steps.foldLeft(n)((d, f) => f(d))
  }

  /** The consolidated run (`unify_cortex` + catalog assembly,
    * `app.py:219-278`). Returns the named result catalog in sheet order:
    * `base_limpa`, then `resumo_status`, `resumo_os` and `falhas_upgrade`
    * where the uploads have their columns.
    *
    * The reference reads every catalog table several times per run (count,
    * display, workbook export); here the dedup shuffle and the two summary
    * shuffles run once, in this call ([[Checkpoints.freeze]]: `base_limpa`
    * first, then both summaries concurrently), and every later action on a
    * table reuses them. So errors in those stages surface here, not at
    * export. Nothing is stored in the block store; the shuffle files live
    * until the catalog is garbage collected, or until a long-lived caller
    * frees them with `catalog.values.foreach(Checkpoints.release)` after
    * its last action (a later read then recomputes).
    *
    * Dedup determinism: the reference resolves equal-recency ties by
    * encounter order (`keep="first"`), which has no distributed meaning; we
    * order ties by every remaining column, which is total on any input with
    * no fully-duplicate rows per key (SURVEY §7.5 documents the divergence).
    */
  def run(
      uploads: Seq[DataFrame],
      dedupKeys: Seq[String] = Seq("endpoint_name", "endpoint_alias")): Map[String, DataFrame] = {
    val base = Ingest.unionAllByName(uploads.map(normalizeUpload))

    val keys    = dedupKeys.filter(base.columns.contains)
    val recency = Seq("last_seen", "last_upgrade_status_time").filter(base.columns.contains)
    val tieBreak: Seq[Column] =
      base.columns.toSeq.filterNot(c => keys.contains(c) || recency.contains(c)).map(col)
    val baseLimpa = Checkpoints.freeze(
      if (keys.nonEmpty) Dedup.keepLatest(base, keys, recency, tieBreak)
      else Dedup.distinctRows(base)) // reference fallback `app.py:242`

    val summaries = Concurrent.all(base.sparkSession)(
      Seq("resumo_status" -> "endpoint_status", "resumo_os" -> "operating_system")
        .filter { case (_, c) => base.columns.contains(c) }
        .map { case (name, c) =>
          () => name -> Checkpoints.freeze(Summaries.groupCount(baseLimpa, c)) })
    val failCols = Seq("last_upgrade_status", "last_upgrade_failure_reason")
      .filter(base.columns.contains)
    val falhas = failCols.headOption.map(_ =>
      "falhas_upgrade" -> baseLimpa.filter(Clean.keywordAny(failCols.map(col), Clean.FailurePattern)))
    // ListMap, not .toMap: the catalog's iteration order is part of the
    // contract (base_limpa must stay the first sheet the xlsx export writes;
    // a plain Map over 4 entries only PRESERVES insertion order by accident
    // and silently stops at the 5th entry)
    scala.collection.immutable.ListMap(
      (("base_limpa" -> baseLimpa) +: summaries) ++ falhas: _*)
  }

  /** Run `f` over every catalog table concurrently ([[Concurrent.all]]):
    * the tables are independent jobs, each over the shuffle outputs [[run]]
    * already produced, so the scheduler overlaps them instead of idling
    * between small jobs. Results come back in catalog order.
    */
  private def eachTable[T](catalog: Map[String, DataFrame])(f: (String, DataFrame) => T): Seq[T] =
    catalog.headOption.fold(Seq.empty[T]) { case (_, df) =>
      Concurrent.all(df.sparkSession)(catalog.toSeq.map { case (name, t) => () => f(name, t) })
    }

  /** S6 — multi-table export of a named catalog (the engine-side contract of
    * the reference's multi-sheet workbook, `df_to_xlsx_bytes` `app.py:35-134`;
    * formatting is presentation-layer, deliberately out of engine scope).
    * The tables are written concurrently, one job each over a [[run]]
    * catalog (its shuffles already ran); on a failure the other writes are
    * cancelled and the first error is rethrown.
    */
  def exportCatalog(catalog: Map[String, DataFrame], dir: String, format: String = "parquet"): Unit =
    eachTable(catalog) { (name, df) =>
      df.write.mode("overwrite").format(format).save(s"$dir/$name")
    }

  /** S6 at scale — partitioned parquet export: one directory tree per table,
    * hive-partitioned by the given columns (per-table). Partition pruning on
    * read is what makes a 100 TB result set addressable; the flat form above
    * is for small catalogs. Tables are written concurrently, as above.
    */
  def exportCatalogPartitioned(
      catalog: Map[String, DataFrame],
      dir: String,
      partitionCols: Map[String, Seq[String]]): Unit =
    eachTable(catalog) { (name, df) =>
      val w = df.write.mode("overwrite")
      partitionCols.get(name).filter(_.nonEmpty).fold(w)(cs => w.partitionBy(cs: _*))
        .parquet(s"$dir/$name")
    }

  /** S1 — full Excel ingest path: workbook file → raw rows → header-detected,
    * pruned, normalized DataFrame.
    */
  def ingestExcel(spark: SparkSession, path: String): DataFrame =
    ingestRaw(spark, Excel.readRaw(path))

  /** S6 — the reference's ACTUAL sink: one multi-sheet .xlsx workbook
    * (`app.py:367`). Collects to the driver by design — a workbook is a
    * single machine's byte stream and this is a human-scale presentation
    * export; [[exportCatalog]] (parquet per table) is the 100 TB sink.
    * Header row first; cells keep their JVM types so [[Excel.writeRaw]] can
    * apply the reference's number formats and width sampling
    * (`app.py:72-99`); sheet names truncated like `app.py:55`. The tables
    * are collected concurrently; sheets are written in catalog order.
    */
  def exportCatalogXlsx(catalog: Map[String, DataFrame], path: String): Unit = {
    val sheets = eachTable(catalog) { (name, df) =>
      val header: Seq[Any] = df.columns.toSeq
      val rows = df.collect().toSeq.map(r =>
        (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)))
      name -> (header +: rows)
    }
    Excel.writeRaw(path, sheets)
  }
}
