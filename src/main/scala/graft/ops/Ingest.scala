package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Ingestion utilities — the Spark-native version of the reference's
  * per-file parse/normalize/union path (`app.py:154-181`, `:297-325`).
  *
  * Header detection is deliberately a driver-side, plain-Scala step: a
  * DataFrame's schema must exist before the plan does (SURVEY §1.3.1), so the
  * probe runs over a small prefix of raw rows, then the real distributed read
  * is built with the resolved schema.
  */
object Ingest {

  /** Sentinel column set used by the reference's header scan
    * (`app.py:141-146`). Comparison happens on normalized names so the probe
    * is robust to whitespace/case.
    */
  val CandidateCols: Set[String] =
    Set("Endpoint Name", "Endpoint Type", "Operating System", "Agent Version")
      .map(Clean.normCol)

  /** S1/S2 — header auto-detection (`app.py:154-163`): scan raw rows until
    * one row's non-null values form a superset of the sentinel set; fallback
    * header index = 1 (skip a one-line title). Runs on a driver-side prefix
    * (the reference scans at most the whole sheet; we cap the prefix the same
    * way its width sampling caps at 1000 rows).
    */
  def detectHeaderIndex(
      rows: Seq[Seq[Any]],
      candidates: Set[String] = CandidateCols,
      maxScan: Int = 1000): Int = {
    val idx = rows.iterator.take(maxScan).zipWithIndex.collectFirst {
      case (row, i)
          if candidates.subsetOf(
            row.iterator
              .filter(v => v != null && v.toString.trim.nonEmpty)
              .map(v => Clean.normCol(v.toString))
              .toSet) =>
        i
    }
    idx.getOrElse(1) // reference fallback: assume one title line (`app.py:163`)
  }

  /** S2 — re-header raw rows after detection: row `i` becomes the column
    * names, rows `i+1..` the data. Names are normalized (P1) on the way.
    */
  def reHeader(rows: Seq[Seq[Any]], headerIdx: Int): (Seq[String], Seq[Seq[Any]]) = {
    // detectHeaderIndex's no-sentinel fallback is row 1; a 0/1-row sheet
    // would IndexOutOfBounds here with no context — fail with the real story
    require(headerIdx >= 0 && headerIdx < rows.size,
      s"no header row: sheet has ${rows.size} row(s), detected header index $headerIdx")
    val raw = rows(headerIdx).map(v => Clean.normCol(Option(v).fold("")(_.toString)))
    // Real sheets have blank header cells and headers that normalize to the
    // same name ("IP Address" / "ip-address") — both produce a schema whose
    // first downstream col(name) throws AMBIGUOUS_REFERENCE. Blank → col_N
    // (position-based), repeats → suffix _2, _3, … like pandas' mangling.
    val used  = scala.collection.mutable.Set.empty[String]
    val names = raw.zipWithIndex.map { case (n0, i) =>
      val base = if (n0.isEmpty) s"col_${i + 1}" else n0
      var cand = base
      var k    = 1
      while (used(cand)) { k += 1; cand = s"${base}_$k" } // _2 may itself clash
      used += cand
      cand
    }
    (names, rows.drop(headerIdx + 1))
  }

  /** P2/P3 — drop all-null rows and all-null columns of re-headered rows
    * (`app.py:178`, `dropna(how="all")` on both axes). Rows are first fitted
    * to the header's width (short rows null-padded, cells past the header
    * cut), so emptiness is judged on exactly the cells the table will hold.
    * A cell is empty only when it is null. With no row left, no column is
    * left either.
    */
  def dropEmpty(names: Seq[String], rows: Seq[Seq[Any]]): (Seq[String], Seq[Seq[Any]]) = {
    val width  = names.length
    val fitted = rows.map(_.take(width).toIndexedSeq.padTo(width, null)).filter(_.exists(_ != null))
    val keep   = (0 until width).filter(i => fitted.exists(_(i) != null))
    (keep.map(names), fitted.map(r => keep.map(r)))
  }

  /** U1 — union N per-source frames aligning columns **by name** and
    * null-filling missing ones, the semantic match for `pd.concat`
    * (`app.py:325`); positional `union` would silently mis-align (SURVEY
    * §7.5).
    */
  def unionAllByName(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Malformed-record quarantine for JSON-lines ingest: one pass over the
    * raw text, routed into (parsed rows, rejected raw lines). The bad stream
    * keeps the ORIGINAL line so it can be re-driven after a fix — dropping
    * malformed input silently is how pipelines lose data unnoticed.
    *
    * Built on `from_json` over a text scan rather than the JSON reader's
    * PERMISSIVE mode: the reader's corrupt-record column has the documented
    * restriction that it cannot be queried alone without caching the whole
    * frame — a non-starter at 100 TB. Here the corrupt-record field is part
    * of the parse expression itself, so routing is a pure scan-stage
    * operation and both branches share the one file scan.
    *
    * "Malformed" = unparseable JSON. A parseable object that merely misses
    * fields yields nulls in those fields — schema enforcement is a
    * separate, later filter by design.
    */
  def readJsonQuarantine(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("__corrupt"), "__corrupt is reserved")
    val withCorrupt = schema.add("__corrupt", org.apache.spark.sql.types.StringType)
    val parsed = spark.read.text(path)
      .select(col("value"), from_json(col("value"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "__corrupt")).as("j"))
    // blank/whitespace-only lines parse to a NULL struct (not a corrupt
    // record), which `__corrupt IS NULL` alone would wave through as an
    // all-null row — they are not valid JSON, so they quarantine too
    val isGood = col("j").isNotNull && col("j.__corrupt").isNull
    val good = parsed.filter(isGood)
      // getField, not col("j.<name>"): a field literally named "a.b" would
      // otherwise resolve as a nested path and fail
      .select(schema.fieldNames.map(f => col("j").getField(f).as(f)).toIndexedSeq: _*)
    val bad = parsed.filter(!isGood).select(col("value").as("raw"))
    (good, bad)
  }

  /** Dense global row ids 0..n−1 in `orderCols` order, WITHOUT the
    * single-partition window that `row_number() OVER (ORDER BY …)` plans —
    * a global window funnels all 100 TB through one task; this stays fully
    * parallel:
    *
    *   1. range-partition + in-partition sort on `orderCols` (one exchange;
    *      partitions are globally ordered),
    *   2. `zipWithIndex`, which runs a count-only job for the per-partition
    *      offsets (tiny driver state: one long per partition) and then maps
    *      each partition once.
    *
    * Two passes over the sorted data — the same cost Spark's own
    * `zipWithIndex` contract pays — vs. zero parallelism for the window
    * form. `orderCols` must be a total order (unique key) for the ids to be
    * deterministic; ties would land on whichever side of a range boundary
    * sampling put them.
    *
    * This is the one operator in the batch surface that goes through an RDD:
    * per-partition offset arithmetic is genuinely imperative, outside
    * relational semantics. The RDD boundary also ends Catalyst's view of the
    * plan, so apply it LAST (after filters/projections have been pushed).
    */
  def withGlobalId(df: DataFrame, orderCols: Seq[String], idName: String,
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val p = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(p, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(idName, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
