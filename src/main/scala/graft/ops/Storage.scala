package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators — the table-format side of running at 100 TB.
  * The reference's storage story is a single xlsx (`/root/reference/app.py:
  * 369-378`); at cluster scale the equivalent concerns are join co-location
  * (bucketing) and small-file hygiene (compaction), both of which operate on
  * HOW bytes land on disk rather than on row values.
  */
object Storage {

  /** Write `df` as a bucketed, per-bucket-sorted managed table. Two tables
    * bucketed the same way on their join key sort-merge-join with NO
    * exchange on either side — the shuffle is paid once at write time and
    * amortized over every subsequent join/aggregation on that key
    * (CoLocationSpec pins the exchange-free plan). This is the staple layout
    * for a fact table that is joined on the same key daily.
    *
    * Bucket count is a layout contract, not a tuning knob: both sides must
    * match, and at 100 TB it should divide the data into bucket files of
    * O(100 MB–1 GB) — resize means rewrite.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, mode: String = "overwrite"): Unit = {
    require(keys.nonEmpty && buckets >= 1, "need at least one key and bucket")
    require(!table.contains("."), s"unqualified table name expected, got $table")
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    // True overwrite even across sessions: with a non-persistent catalog the
    // managed location can survive while the table entry does not, and the
    // CREATE path then refuses the non-empty directory.
    val spark = df.sparkSession
    if (mode == "append" && !spark.catalog.tableExists(table)) {
      // The catalog entry is gone but the location may hold a previous
      // session's data: appending would CREATE a fresh table over it
      // (cryptic failure) or silently orphan the old rows. Fail with the
      // real diagnosis — cross-session bucketed-table maintenance needs a
      // persistent catalog (e.g. Hive metastore); within one session,
      // append only after an overwrite created the table.
      val loc = new Path(
        org.apache.spark.sql.graftbridge.CatalogBridge.defaultTablePath(spark, table))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(loc),
        s"append to $table: no catalog entry but $loc exists — a previous " +
          "session's table survived the catalog; rebuild with mode=overwrite " +
          "or use a persistent catalog for cross-session maintenance")
      // location clean: fall through — append to a non-existent table creates it
    }
    if (mode == "overwrite") reclaimStaleLocation(spark, table)
    df.write
      .mode(mode)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Cross-session overwrite repair for managed tables: with a
    * non-persistent catalog the table ENTRY dies with the session but its
    * warehouse LOCATION survives, and the next `saveAsTable` overwrite
    * fails with LOCATION_ALREADY_EXISTS. Reclaim the stray dir — but only
    * when it is recognizably a previous Spark table write; an arbitrary
    * same-named directory is NOT ours to rm -rf. Shared by
    * [[writeBucketed]] and [[graft.ops.Similarity.writePqIndex]]'s model
    * tables.
    */
  private[graft] def reclaimStaleLocation(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(table)) return
    // Resolve the managed location via the CATALOG, not by re-deriving
    // the warehouse/<db>.db/<table> convention — bare warehouse/<table>
    // is only right for `default` (and would point at, and delete,
    // default's table from another db), and the convention itself breaks
    // for databases created with a custom LOCATION.
    val loc = new Path(
      org.apache.spark.sql.graftbridge.CatalogBridge.defaultTablePath(spark, table))
    val fs  = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      val names = fs.listStatus(loc).map(_.getPath.getName)
      val sparkish = names.forall(n =>
        n.startsWith("part-") || n.startsWith("_") || n.startsWith("."))
      require(sparkish,
        s"$loc exists but does not look like a previous table write " +
          s"(contents: ${names.take(5).mkString(", ")}); refusing to delete it")
      fs.delete(loc, true)
    }
  }

  /** Join two identically-bucketed tables on their bucket keys — planned as
    * an exchange-free sort-merge join (the `merge` hint keeps the small-SF
    * test honest; at scale stats pick SMJ anyway).
    */
  def coLocatedJoin(spark: SparkSession, tableA: String, tableB: String,
      keys: Seq[String]): DataFrame =
    spark.table(tableA).hint("merge").join(spark.table(tableB), keys)

  /** Append delete-vector TOMBSTONES for a persisted index prefix (see
    * [[graft.ops.Text.deleteFromMinhashIndex]] /
    * [[graft.ops.Similarity.deleteFromPqIndex]]). A physical delete from a
    * bucketed index is a full-table rewrite — a document's signature rows
    * spread across nearly every (band, hv) bucket, a vector's code row
    * lives mid-bucket — so deletes LAND as an O(deleted ids) append to a
    * small side table and searches subtract it, the Delta deletion-vector
    * / Iceberg equality-delete economics. Compaction
    * ([[graft.ops.Text.compactMinhashIndex]] etc.) folds tombstones into
    * the physical tables and resets this one. Idempotent: re-deleting an
    * id (or deleting one never indexed) cannot change anti-join results.
    */
  def appendTombstones(spark: SparkSession, ids: DataFrame, idCol: String,
      table: String): Unit = {
    if (!spark.catalog.tableExists(table)) reclaimStaleLocation(spark, table)
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("append").format("parquet").saveAsTable(table)
  }

  /** The live tombstone set of `table` as a 1-column (`id`) frame, or None
    * when no deletes are pending. Distinct on read: the same id may have
    * been appended by several delete batches. Small by contract (compaction
    * resets it), so consumers' anti-joins broadcast it at runtime.
    */
  def tombstonesOf(spark: SparkSession, table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(table))
      Some(spark.table(table).select(col("id")).distinct())
    else None

  /** Drop a tombstone table (compaction epilogue / fresh-rebuild prologue). */
  def clearTombstones(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  /** Morton (z-order) interleave of per-column bin ids: bit `b` of column
    * `i` lands at result bit `b·N + i`, so consecutive z-values walk a
    * space-filling curve — rows close in z are close in EVERY binned
    * dimension at once. Inputs must be ints in `[0, 2^bits)` (use
    * [[Summaries.quantileBin]] to get them); a NULL bin yields a NULL
    * z-value.
    */
  def zValue(binCols: Seq[Column], bits: Int): Column = {
    require(binCols.nonEmpty && bits >= 1 && bits * binCols.size <= 62,
      "need columns and bits with bits*cols <= 62")
    val n = binCols.size
    val terms = for {
      b <- 0 until bits
      (c, i) <- binCols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of a 2-D bin pair — [[zValue]]'s sibling with
    * strictly better locality: the Hilbert walk never jumps (consecutive
    * indices are always grid-adjacent, where the Morton walk teleports at
    * every quadrant boundary), so range scans over the layout touch fewer
    * files for the same selectivity — the reason Delta and Iceberg grew
    * HILBERT alongside ZORDER.
    *
    * Standard quadrant-rotation form, unrolled `bits` times into a plain
    * codegen'd when/bit-op expression tree (each unroll step references the
    * previous step's x/y a constant number of times, so the tree grows
    * ~3^bits — hence the bits ≤ 8 cap, 256×256 cells, plenty for file-level
    * layout where cells ≫ files is the failure mode, not the goal). The
    * arithmetic is integer-exact and replayed verbatim by the SQL oracle.
    * Inputs must be ints in `[0, 2^bits)`; a NULL bin yields a NULL index.
    */
  def hilbertValue(xBin: Column, yBin: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 8, "bits in [1, 8] (cell count 4^bits)")
    val n1 = (1L << bits) - 1 // reflection is within the FULL grid, every level
    var x = xBin.cast("long")
    var y = yBin.cast("long")
    var d = lit(0L)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(x.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(y.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      d = d + lit(s) * lit(s) * (lit(3L) * rx).bitwiseXOR(ry)
      // quadrant rotation: lower half swaps the diagonal (lower-right also
      // reflects both axes); upper half passes through
      val nx = when(ry === 0, when(rx === 1, lit(n1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0, when(rx === 1, lit(n1) - x).otherwise(x)).otherwise(y)
      x = nx
      y = ny
    }
    // explicit NULL guard: when/otherwise treats a NULL condition as false,
    // so without it a NULL bin would DEGRADE to a wrong index, not propagate
    when(xBin.isNull || yBin.isNull, lit(null).cast("long")).otherwise(d)
  }

  /** d-DIMENSIONAL Hilbert index — [[hilbertValue]] lifted past its 2-D /
    * 8-bit expression-tree bound via [[graft.expr.HilbertIndex]]
    * (Skilling's transpose algorithm as one codegen'd expression, cost
    * O(dims·bits) per row). Bins must be longs in `[0, 2^bits)`;
    * `dims · bits ≤ 62`. NULL in any bin → NULL index. Note the
    * orientation differs from the 2-D quadrant-rotation form — layouts
    * are writer-consistent, so only the Hilbert PROPERTIES (bijective,
    * unit-step — StorageSpec proves both) matter, not the orientation.
    */
  def hilbertValueN(bins: Seq[Column], bits: Int): Column = {
    require(bins.size >= 2 && bits >= 1 && bins.size * bits <= 62,
      "need >= 2 bins, bits >= 1, dims*bits <= 62")
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expr.HilbertIndex(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          array(bins.map(_.cast("long")): _*)),
        bins.size, bits))
  }

  /** Z-order clustered write — the multi-column data-skipping layout
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` semantics, expressed as a plain
    * repartition+sort+write).
    *
    * A single-column sort gives perfect file-level min/max pruning on that
    * column and NONE on any other: every file spans the full range of the
    * second column, so a `WHERE x = … AND y = …` scan skips nothing on y.
    * Clustering by z-value bounds EVERY clustered column's span per file
    * (~range/2^(bits·(i/N)) after i interleaved bits), so engine-independent
    * parquet min/max stats skip files on ANY clustered column —
    * StorageSpec measures exactly this (z-ordered y-span ≪ sorted-by-x
    * y-span). Quantile binning (not fixed-width) makes the cells equal-
    * POPULATION, so skewed columns still spread over the full bit range.
    *
    * One wide exchange (the range partition on z) at write time, amortized
    * over every subsequent selective scan — same economics as
    * [[writeBucketed]].
    */
  def zOrderWrite(df: DataFrame, cols: Seq[String], bits: Int, outDir: String,
      nFiles: Int): Unit = {
    require(cols.size >= 2, "z-order needs at least two columns (sort for one)")
    curveWrite(df, cols, bits, outDir, nFiles, bins => zValue(bins, bits))
  }

  /** [[zOrderWrite]] on the Hilbert walk (2-D only — the quadrant-rotation
    * [[hilbertValue]], the oracle-replayed surface, bits ≤ 8): identical
    * write shape and the same per-file span bound on both columns, plus
    * the jump-free locality that makes contiguous index ranges map to
    * contiguous grid regions (fewer files per range scan).
    */
  def hilbertOrderWrite(df: DataFrame, xCol: String, yCol: String, bits: Int,
      outDir: String, nFiles: Int): Unit =
    curveWrite(df, Seq(xCol, yCol), bits, outDir, nFiles,
      bins => hilbertValue(bins(0), bins(1), bits))

  /** [[hilbertOrderWrite]] for ANY column count ≥ 2: the same quantile-bin
    * + curve-sort + write shape on the d-dimensional [[hilbertValueN]]
    * walk — the full Iceberg/Delta HILBERT surface. ALWAYS the Skilling
    * form, including at exactly 2 columns, so the documented contract (any
    * column count, `cols.size · bits ≤ 62` — no 8-bit cap) and the curve
    * orientation are uniform across column counts; the legacy 2-D
    * quadrant-rotation orientation lives only in [[hilbertOrderWrite]],
    * whose index the SQL oracle replays.
    */
  def hilbertOrderWriteN(df: DataFrame, cols: Seq[String], bits: Int,
      outDir: String, nFiles: Int): Unit = {
    require(cols.size >= 2, "hilbert layout needs at least two columns")
    curveWrite(df, cols, bits, outDir, nFiles, bins => hilbertValueN(bins, bits))
  }

  private def curveWrite(df: DataFrame, cols: Seq[String], bits: Int,
      outDir: String, nFiles: Int, idxOf: Seq[Column] => Column): Unit = {
    val binned = Summaries.quantileBins(df,
      cols.zipWithIndex.map { case (c, i) => (c, 1 << bits, s"__zb_$i") })
    val idx = idxOf(cols.indices.map(i => col(s"__zb_$i")))
    // pinned: RangePartitioner's sampling job would otherwise re-execute
    // the whole binning subtree a second time (see exactQuantileArrays)
    val pinned = Checkpoints.pin(binned.withColumn("__z", idx), eager = false)
    try
      pinned
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop(cols.indices.map(i => s"__zb_$i") :+ "__z": _*)
        .write.mode("overwrite").parquet(outDir)
    // both consumers (sampling + write) are done — free the corpus-sized
    // blocks instead of pinning them for the session lifetime
    finally Checkpoints.release(pinned)
  }

  /** Rewrite a directory of parquet files into ~`targetBytes` files at
    * `outDir` and return (files before, files after). THE small-file fix: a
    * streaming sink or an over-parallel job leaves thousands of KB-scale
    * files whose per-file open/footer cost dominates scans; compaction is a
    * single narrow repartition pass sized from the actual on-disk bytes.
    *
    * Output file count = ceil(input bytes / targetBytes) — parquet encoding
    * is roughly size-preserving on already-encoded input, so the on-disk
    * math carries over. Compact to a NEW directory and swap atomically at
    * the catalog/orchestration layer; in-place compaction that deletes
    * inputs mid-job is how corruption happens at scale.
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the lazy read + overwrite write would DELETE the inputs before reading
    // them — exactly the in-place corruption the doc warns about. Equality
    // is not enough: an outDir ABOVE dir gets wiped by the overwrite with
    // dir inside it, and one BELOW dir pollutes the input tree — reject any
    // containment either way. Compare FULL qualified URIs so trees on
    // different filesystems (file: vs hdfs:) are never spuriously rejected.
    val qIn  = fs.makeQualified(new Path(dir)).toUri.toString.stripSuffix("/")
    val qOut = fs.makeQualified(new Path(outDir)).toUri.toString.stripSuffix("/")
    require(qIn != qOut && !qIn.startsWith(qOut + "/") && !qOut.startsWith(qIn + "/"),
      s"compactTo must write to a directory disjoint from the input, got $dir -> $outDir")
    // recursive listing: the read path below recurses into partition
    // subdirectories (dir/date=…/part-*.parquet), so the size math must too
    def parquetFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it  = fs.listFiles(p, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) buf += s
      }
      buf.result()
    }
    val parts = parquetFiles(new Path(dir))
    require(parts.nonEmpty, s"no parquet files under $dir")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(dir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    (parts.length, parquetFiles(new Path(outDir)).length)
  }

  /** File-level min/max statistics index over a parquet directory: one row
    * per file with `(min_c, max_c)` for each requested column plus the row
    * count — the data-skipping catalog (Delta/Iceberg manifest stats
    * semantics) that [[prunedRead]] consumes. Built with one distributed
    * scan (`input_file_name()` group); amortized over every subsequent
    * selective read, exactly like [[zOrderWrite]]'s write-time sort. Pair
    * the two: z-ordered files have tight ranges on EVERY clustered column,
    * which is what makes these stats selective.
    */
  def fileStats(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    val df = spark.read.parquet(dir)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    df.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic fingerprint of a set of source paths: for each path the
    * recursive (relative name, length, mtime) listing, hashed together with
    * `params`. Changes whenever any source file is added, removed, resized,
    * or rewritten — the `make`-style freshness test for derived layouts.
    * Listing is driver-side metadata work (same class as file pruning);
    * content is never read.
    */
  def sourceStamp(spark: SparkSession, paths: Seq[String], params: String): String = {
    require(paths.nonEmpty, "need at least one source path")
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = paths.sorted.flatMap { p =>
      val path = new Path(p)
      val fs   = path.getFileSystem(conf)
      val base = fs.makeQualified(path).toString
      if (!fs.exists(path)) Seq(s"$base:absent")
      else {
        val it  = fs.listFiles(path, true)
        val buf = Seq.newBuilder[String]
        while (it.hasNext) {
          val s = it.next()
          buf += s"${s.getPath.toString.stripPrefix(base)}:${s.getLen}:${s.getModificationTime}"
        }
        buf.result().sorted
      }
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((parts.mkString("\n") + "|" + params).getBytes("UTF-8"))
    digest.map(b => f"$b%02x").mkString
  }

  /** Idempotent derived-layout refresh: run `write` (which must rebuild
    * `dir` from scratch, e.g. a mode-overwrite parquet write) only when
    * `stamp` differs from the marker recorded by the last successful
    * refresh. Returns true when a rebuild ran.
    *
    * This is the write-once/scan-many contract of every table-format
    * OPTIMIZE: the expensive clustering rewrite is paid when the SOURCE
    * changes, not once per consumer. Crash safety is by marker ordering —
    * the stale marker is deleted BEFORE `write` starts and the new one is
    * written only after it returns, so an interrupted rebuild leaves no
    * marker and the next caller rebuilds. (Concurrent writers need the
    * [[TxTable]] commit log instead; this guard is for single-writer
    * derived artifacts.)
    */
  def refreshIfChanged(spark: SparkSession, dir: String, stamp: String,
      alsoRequire: Seq[String] = Nil)(write: => Unit): Boolean = {
    val conf   = spark.sparkContext.hadoopConfiguration
    // Path.suffix on the NORMALIZED path (Hadoop Path strips trailing
    // separators): a raw `dir + ".stamp"` on "x/y/" would land the marker
    // INSIDE the data dir, where the next mode-overwrite rebuild deletes
    // it — the guard would then rebuild on every call (silent write
    // amplification, not corruption).
    val marker = new Path(dir).suffix(".stamp")
    val fs     = marker.getFileSystem(conf)
    val current =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      }
    // a matching marker only skips when the artifacts it vouches for are
    // actually present — a cleanup that removed the data dir but left the
    // marker must self-heal, not fail every read until the SOURCE changes
    val artifactsPresent = (dir +: alsoRequire).forall(p => fs.exists(new Path(p)))
    if (current.contains(stamp) && artifactsPresent) false
    else {
      fs.delete(marker, false)
      write
      val out = fs.create(marker, true)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
      true
    }
  }

  /** Stats-pruned range scan: drop every file whose `[min, max]` span
    * cannot intersect `[lo, hi]`, read only the survivors, and re-apply the
    * predicate to the rows that remain (file stats admit false positives,
    * never false negatives). Returns the filtered DataFrame plus
    * `(files read, files total)` for observability — the pruning ratio IS
    * the operator's value and belongs in pipeline logs.
    *
    * The file list is driver-side by design (file PRUNING is metadata work
    * in every table format; bytes never move), and an all-null-stats file
    * is skipped correctly: its NULL min/max can't satisfy the overlap test,
    * and its rows couldn't satisfy the row predicate either.
    */
  def prunedRead(spark: SparkSession, dir: String, stats: DataFrame,
      c: String, lo: Any, hi: Any): (DataFrame, Int, Int) = {
    // ONE execution of the stats plan: a separate count() + filter().collect()
    // would replay the distributed stats scan twice. The overlap test is
    // evaluated in-plan (typed comparison stays in Spark); the driver sees
    // only (file, keep) pairs — one row per file, driver-sized by design.
    val flagged = stats
      .select(col("file"),
        (col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)).as("__keep"))
      .collect()
    val total = flagged.length
    val keep = flagged.filter(r => !r.isNullAt(1) && r.getBoolean(1)).map(_.getString(0))
    val schema = spark.read.parquet(dir).schema
    val rows =
      if (keep.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // basePath keeps hive-partition discovery alive for the leaf-file
      // read: without it, partition columns present in `schema` but absent
      // in the files would silently fill with NULL
      else spark.read.option("basePath", dir).schema(schema).parquet(keep.toIndexedSeq: _*)
    (rows.filter(col(c) >= lit(lo) && col(c) <= lit(hi)), keep.length, total)
  }
}
