package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.11 ST1–ST7) over event streams.
  *
  * Every builder takes a DataFrame so the SAME transformation runs on a
  * static read (oracle-checkable — q39/q40/q41 are the batch forms) and on a
  * `readStream` source; Structured Streaming's contract is exactly that the
  * plan is source-agnostic. Watermarks bound state: without one, a windowed
  * aggregation's state grows forever — the difference between a demo and
  * something that survives week-long runs on a real cluster.
  */
object Streaming {

  /** ST1 + ST4 — tumbling-window counts with a watermark. */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width) +: keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(Seq(col("window.start").as("window_start")) ++ keys.map(col) :+ col("cnt"): _*)

  /** ST2 — sliding-window counts. */
  def slidingCounts(df: DataFrame, tsCol: String, width: String, slide: String,
      watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cnt"))

  /** ST3 — session windows (gap-based) per key. */
  def sessionCounts(df: DataFrame, tsCol: String, gap: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(Seq(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end")) ++ keys.map(col) :+ col("cnt"): _*)

  /** ST5 — streaming exact-key dedup. The watermark lets Spark drop seen-key
    * state older than the horizon — bounded memory; without it the seen-set
    * is unbounded. (Exact-key dedup IS correct here: any duplicate of an
    * event id is an identical retransmission.)
    */
  def dedupEvents(df: DataFrame, tsCol: String, watermark: String, idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(idCols :+ tsCol)

  /** Watermarked stream-stream interval join: left rows enriched with right
    * rows on the same key whose timestamp falls in
    * `[leftTs − toleranceSec, leftTs]`.
    *
    * Both sides carry watermarks and the join condition bounds rightTs
    * relative to leftTs, which is what lets Spark EXPIRE join state — without
    * the time bound each side would buffer forever waiting for future
    * matches. State per key is bounded by tolerance + watermark; this is the
    * streaming form of [[Relational.intervalJoin]]'s batch semantics
    * (single-sided tolerance). Key columns are emitted once (left copy).
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      toleranceSec: Long,
      watermark: String): DataFrame = {
    require(toleranceSec > 0, "tolerance must be positive")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $toleranceSec SECONDS") &&
      r(rightTs) <= l(leftTs)
    keys.foldLeft(l.join(r, cond))((df, k) => df.drop(r(k)))
  }

  /** Streaming incremental corpus dedup: each micro-batch is anti-joined
    * against the accumulated corpus's content digests
    * ([[Dedup.dedupAgainstCorpus]]) and only genuinely-new documents are
    * appended — a training corpus that grows continuously but never
    * re-admits content it already holds.
    *
    * `foreachBatch` is the right tool (not a stateful operator): the "state"
    * is the corpus itself, which must outlive the query, be readable by
    * batch jobs mid-stream, and scale past executor state stores. The corpus
    * is a [[TxTable]] (read it with `TxTable.read`): each batch's survivors
    * land as ONE atomic append commit, so a replayed batch is skipped by the
    * guard and a crash mid-write leaves no partial files for the next read
    * to trip on — the content-level anti-join then backstops even a marker
    * loss (duplicates still cannot enter).
    */
  def incrementalDedupSink(stream: DataFrame, corpusDir: String,
      contentCol: String, idCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh =
          if (TxTable.exists(spark, corpusDir))
            Dedup.dedupAgainstCorpus(batch, TxTable.read(spark, corpusDir), contentCol)
          else batch
        // dedup WITHIN the batch too: two copies in one micro-batch must land once
        TxTable.append(spark, corpusDir,
          Dedup.dedupByDigest(fresh, contentCol, idCol),
          guard = guardFor(spark, checkpoint), batchId = batchId)
        ()
      }
      .start()

  /** Streaming FUZZY corpus ingestion — [[incrementalDedupSink]]'s
    * paraphrase-resistant sibling, and the full 100 TB continuous-ingest
    * loop over the PERSISTED MinHash index
    * ([[graft.ops.Text.writeMinhashIndex]]). Each micro-batch:
    *
    *  1. resolves near-dups WITHIN the batch (LSH pairs → connected
    *     components → keep-min survivor — two paraphrases in one batch
    *     must land once);
    *  2. drops survivors with a near-dup already in the INDEX
    *     ([[graft.ops.Text.minhashDedupAgainstIndex]] — probe-only, the
    *     corpus side never re-scans or re-shuffles, pending tombstones
    *     honored);
    *  3. appends the fresh documents to the corpus [[TxTable]] — ONE
    *     atomic, replay-guarded commit (the batch's commit point);
    *  4. admits them into the index (bucketed append).
    *
    * Crash-recovery contract: steps 3 and 4 span two stores and cannot be
    * one transaction, so step 4 runs on replays TOO — and is SELF-HEALING
    * because step 2 re-derives the survivor set against the CURRENT
    * index: if the original run's index append survived, every original
    * survivor now self-matches in the index (Jaccard 1.0) and the replay
    * admits an empty set; if the index append was lost to a crash, the
    * replay re-derives exactly the original survivors (same index state
    * as the first run) and re-admits exactly what was lost. Either way
    * the corpus commit itself is skipped by the guard. Duplicate index
    * rows — possible only for a crash INSIDE step 4 — are
    * correctness-harmless (candidates are distinct'd before the verify
    * join) and reclaimed by [[graft.ops.Text.compactMinhashIndex]].
    *
    * The survivor set is pinned once and released after both writes —
    * without the pin, the TxTable stage and the index append would each
    * replay the LSH self-join.
    */
  def fuzzyIngestSink(stream: DataFrame, corpusDir: String,
      indexPrefix: String, idCol: String, textCol: String,
      nShingle: Int, k: Int, threshold: Double, buckets: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val pairs = Text.minhashNearDupPairs(
          batch, idCol, textCol, nShingle, k, threshold)
        val losers = Dedup.nearDupSurvivors(pairs, "doc_a", "doc_b")
          .filter(!col("keep")).select(col("doc_id").as("__loser"))
        val withinSurv = batch.join(losers,
          batch(idCol) === col("__loser"), "left_anti")
        val fresh = Checkpoints.pin(
          if (spark.catalog.tableExists(s"${indexPrefix}_sig"))
            Text.minhashDedupAgainstIndex(
              withinSurv, idCol, textCol, nShingle, k, threshold, indexPrefix)
          else withinSurv)
        TxTable.append(spark, corpusDir, fresh,
          guard = guardFor(spark, checkpoint), batchId = batchId)
        // runs on replays too — see the crash-recovery contract above
        Text.writeMinhashIndex(fresh, idCol, textCol, nShingle, k, indexPrefix,
          buckets,
          mode = if (spark.catalog.tableExists(s"${indexPrefix}_sig")) "append"
                 else "overwrite")
        Checkpoints.release(fresh)
        ()
      }
      .start()

  /** Incremental MULTIMODAL ingest — [[fuzzyIngestSink]]'s contract on the
    * Hamming-dHash lane, shared by the audio (PCM/G.711 decode) and image
    * (PNG/GIF/JPEG pixel decode) heads. Each micro-batch: (1) near-dups
    * WITHIN the batch collapse to their keep-min survivor (banded pairs →
    * connected components); (2) survivors with a stored near-duplicate in
    * the persisted index drop (probe-only — the corpus never re-decodes
    * or re-shuffles); (3) fresh clips append to the corpus [[TxTable]]
    * under the replay guard; (4) fresh clips admit into the bucketed
    * index.
    *
    * The two-store crash contract is [[fuzzyIngestSink]]'s verbatim, and
    * self-healing is even more direct here: a replayed clip whose index
    * admit survived self-matches at Hamming distance 0, so the replay
    * admits the empty set; a lost index append re-derives identically
    * (same index state as the first run). Duplicate index rows from a
    * crash inside step 4 are harmless (probe candidates are distinct'd)
    * and reclaimed by [[graft.ops.Multimodal.compactDHashIndex]].
    */
  def audioIngestSink(stream: DataFrame, corpusDir: String,
      indexPrefix: String, idCol: String, payloadCol: String,
      lanes: Int, maxHamming: Int, buckets: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    dHashIngestSink(stream, corpusDir, indexPrefix, idCol, checkpoint,
      pairsOf = b => Multimodal.audioNearDupPairs(b, idCol, payloadCol, lanes, maxHamming),
      dedupOf = b => Multimodal.audioDedupAgainstIndex(
        b, idCol, payloadCol, lanes, maxHamming, indexPrefix),
      admit = (b, mode) => Multimodal.writeDHashIndex(
        b, idCol, payloadCol, lanes, maxHamming, indexPrefix, buckets, mode))

  /** [[audioIngestSink]] with the raster hash head (PNG/GIF/JPEG decode →
    * grid dHash) — same lifecycle, same crash contract.
    */
  def imageIngestSink(stream: DataFrame, corpusDir: String,
      indexPrefix: String, idCol: String, payloadCol: String,
      gw: Int = 8, gh: Int = 8, maxHamming: Int = 2, buckets: Int,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    dHashIngestSink(stream, corpusDir, indexPrefix, idCol, checkpoint,
      pairsOf = b => Multimodal.imageNearDupPairs(b, idCol, payloadCol, gw, gh, maxHamming),
      dedupOf = b => Multimodal.imageDedupAgainstIndex(
        b, idCol, payloadCol, gw, gh, maxHamming, indexPrefix),
      admit = (b, mode) => Multimodal.writeImageDHashIndex(
        b, idCol, payloadCol, gw, gh, maxHamming, indexPrefix, buckets, mode))

  private def dHashIngestSink(stream: DataFrame, corpusDir: String,
      indexPrefix: String, idCol: String, checkpoint: String,
      pairsOf: DataFrame => DataFrame,
      dedupOf: DataFrame => DataFrame,
      admit: (DataFrame, String) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val losers = Dedup.nearDupSurvivors(pairsOf(batch), "a", "b")
          .filter(!col("keep")).select(col("doc_id").as("__loser"))
        val withinSurv = batch.join(losers,
          batch(idCol) === col("__loser"), "left_anti")
        val fresh = Checkpoints.pin(
          if (spark.catalog.tableExists(s"${indexPrefix}_idx")) dedupOf(withinSurv)
          else withinSurv)
        TxTable.append(spark, corpusDir, fresh,
          guard = guardFor(spark, checkpoint), batchId = batchId)
        // runs on replays too — see the crash-recovery contract above
        admit(fresh,
          if (spark.catalog.tableExists(s"${indexPrefix}_idx")) "append"
          else "overwrite")
        Checkpoints.release(fresh)
        ()
      }
      .start()

  /** Streaming quality gate — the ONLINE half of the in-engine model fit
    * ([[graft.ops.Clustering.logisticFit]], q180): each micro-batch is
    * scored with a FROZEN weight vector (the model is a driver artifact
    * trained offline — it must not drift batch-to-batch, or a replayed
    * batch would route differently than its first run) and split into
    * `accepted` / `rejected` tables of ONE [[TxTable]] root in ONE atomic
    * multi-table commit: a reader never sees a batch half-routed, and
    * at-least-once replays are skipped whole by the checkpoint guard.
    * The score is rounded (1e-4) before the threshold cut so the routing
    * decision is bit-deterministic under replay; rows whose features
    * yield a NULL score are routed to `rejected` (a quality gate fails
    * closed — an unscorable row must not vanish, and must not pass).
    */
  def qualityGateSink(stream: DataFrame, features: Seq[Column], wts: Seq[Double],
      threshold: Double, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val scored = batch.withColumn("quality",
          Summaries.r4(Clustering.logisticScore(features, wts)))
        val pass = coalesce(col("quality") >= threshold, lit(false))
        TxTable.commit(spark, root, Seq(
          ("accepted", "append", scored.filter(pass)),
          ("rejected", "append", scored.filter(!pass))),
          guard = guardFor(spark, checkpoint), batchId = batchId)
        ()
      }
      .start()

  /** The streaming query id persisted in `checkpoint/metadata` — stable
    * across restarts of the SAME checkpoint (unlike runId, which changes
    * per start and would make every restart replay its first batch), fresh
    * when the checkpoint is deleted/recreated. Empty when the file is
    * absent (e.g. direct batch invocation in tests). Read per batch: the
    * file is a few bytes and foreachBatch runs once per trigger.
    */
  private[graft] def checkpointQueryId(
      spark: org.apache.spark.sql.SparkSession, checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val p  = new Path(checkpoint, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else {
      val in = fs.open(p)
      val txt =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    }
  }

  /** [[checkpointQueryId]] as a [[TxTable]] replay guard. When the
    * checkpoint metadata is absent/unreadable this is [[TxTable.NoGuard]]
    * (a sentinel, NOT the empty string): TxTable matches guards exactly, so
    * a commit made while the id was unavailable can never be mistaken for a
    * match-any marker if the checkpoint is later recreated — the failure
    * mode the old empty-guard legacy form re-enabled.
    */
  private[graft] def guardFor(
      spark: org.apache.spark.sql.SparkSession, checkpoint: String): String = {
    val id = checkpointQueryId(spark, checkpoint)
    if (id.isEmpty) TxTable.NoGuard else id
  }

  /** Streaming keyed upsert sink — the streaming MERGE: each micro-batch
    * SCD-1-upserts into a parquet table via [[Dedup.upsert]], with
    * [[Dedup.keepLatest]] resolving multi-version keys INSIDE a batch by
    * `versionCol` (whole-row-hash tie-break — deterministic under replay).
    * The table is a [[TxTable]] (read it with `TxTable.read`): each batch
    * commits one atomic `replace`, replays are skipped by the
    * checkpoint-scoped guard, and a concurrent reader always sees a full
    * snapshot. Per batch this reads the table once and writes it once — the
    * economics of merge-on-read compaction, acceptable when batches are
    * minutes apart; the anti-join inside upsert broadcasts the increment,
    * so the rewrite is one narrow scan+union pass.
    */
  def upsertSink(stream: DataFrame, tableDir: String, keys: Seq[String],
      versionCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val resolved = Dedup.keepLatest(batch, keys, Seq(versionCol),
          Seq(xxhash64(batch.columns.map(col): _*)))
        val next =
          if (TxTable.exists(spark, tableDir))
            Dedup.upsert(TxTable.read(spark, tableDir), resolved, keys)
          else resolved
        TxTable.replace(spark, tableDir, next,
          guard = guardFor(spark, checkpoint), batchId = batchId)
        ()
      }
      .start()

  /** Streaming aggregate-state maintenance — the streaming form of q110's
    * incremental view: each micro-batch is reduced to its algebraic state
    * ([[Summaries.aggState]]) and merged into the stored state table
    * ([[Summaries.mergeAggStates]]), so the maintained view never re-reads
    * history — per batch, one narrow state-table scan plus the batch's own
    * partial aggregate, committed as one atomic [[TxTable]] `replace`
    * (whose replay guard is load-bearing HERE: the algebraic merge is not
    * idempotent, so an unguarded at-least-once replay would double-count
    * the batch). The state lives in open parquet files readable by ANY
    * engine between batches (`TxTable.read` resolves the current snapshot),
    * not inside a checkpoint's state store.
    */
  def aggStateSink(stream: DataFrame, stateDir: String, keys: Seq[String],
      measures: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delta = Summaries.aggState(batch, keys, measures)
        val next =
          if (TxTable.exists(spark, stateDir))
            Summaries.mergeAggStates(TxTable.read(spark, stateDir), delta, keys, measures)
          else delta
        TxTable.replace(spark, stateDir, next,
          guard = guardFor(spark, checkpoint), batchId = batchId)
        ()
      }
      .start()

  /** Streaming incremental view maintenance over a CHANGE feed — the
    * retraction-capable sibling of [[aggStateSink]]. Each micro-batch is a
    * Delta-CDF-shaped CDC stream ([[TxTable.diff]]'s output contract: a
    * `change` column in {insert, delete, update_pre, update_post} plus the
    * row's own columns), and the stored per-group (sum, count) view is
    * updated by [[Summaries.maintainSumCount]]'s signed aggregation —
    * deletes subtract, updates net to (new − old) — then committed as one
    * atomic [[TxTable]] `replace`. [[aggStateSink]]'s merge can only ADD
    * evidence; this sink keeps a view of a MUTATING upstream table exact
    * without ever re-reading it.
    *
    * Per batch: one aggregation over the change rows (∝ changes) + one
    * full-outer join against the current view (∝ groups) — never the
    * upstream table. The replay guard is load-bearing (signed deltas are
    * not idempotent); the decimal carrier makes the maintained view equal
    * a full recompute of the upstream snapshot bit-exactly, which the spec
    * asserts. Contract: the feed must be a consistent diff of real state —
    * a delete for a row never inserted leaves a group at a negative count,
    * which is dropped by the `n > 0` guard exactly as a recompute of that
    * impossible history would be meaningless.
    */
  def cdcAggSink(stream: DataFrame, stateDir: String, keys: Seq[String],
      valueCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val base =
          if (TxTable.exists(spark, stateDir)) TxTable.read(spark, stateDir)
          else Summaries.sumCountAgg( // empty view with the carrier schema
            batch.filter(lit(false)), keys, col(valueCol))
        val next = Summaries.maintainSumCount(base, batch, keys, col(valueCol))
        TxTable.replace(spark, stateDir, next,
          guard = guardFor(spark, checkpoint), batchId = batchId)
        ()
      }
      .start()

  /** Streaming mini-batch k-means — online topic/cluster maintenance over
    * an embedding stream: each micro-batch is assigned against the stored
    * centroids ([[Clustering.assignClusters]] — broadcast argmin, rows
    * never shuffle), reduced to per-cluster (count, mean), and merged into
    * the centroid table with the standard mini-batch update
    * `c' = (n·c + bn·bm) / (n + bn)` — each batch moves a centroid in
    * proportion to the evidence it carries. State is k rows of
    * (cluster, n, centroid) in a [[TxTable]] (atomic commit; the replay
    * guard is load-bearing: the weighted merge is not idempotent). First
    * batch seeds from its k smallest-id rows. The k-row merge itself is
    * driver-side — it IS the model update, the same economics as
    * [[Clustering.kmeans]]'s iteration.
    */
  def kmeansSink(stream: DataFrame, idCol: String, vecCol: String, k: Int,
      stateDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        locally {
          import spark.implicits._
          val clean = batch.filter(col(vecCol).isNotNull)
          val state: Map[Int, (Long, Seq[Double])] =
            if (!TxTable.exists(spark, stateDir)) Map.empty
            else TxTable.read(spark, stateDir)
              .select(col("cluster"), col("n"), col("centroid"))
              .as[(Int, Long, Seq[Double])].collect()
              .map(r => r._1 -> (r._2, r._3)).toMap
          val existing: Seq[(Int, Seq[Double])] =
            state.toSeq.map { case (cid, (_, c)) => (cid, c) }.sortBy(_._1)
          // top up to k from this batch ([[Clustering.seedCentroids]]:
          // dim-consistent, smallest ids): a 1-row first micro-batch must
          // not freeze the model at one centroid forever
          val centroids: Seq[(Int, Seq[Double])] =
            if (existing.size >= k) existing
            else {
              val dimOk = existing.headOption.map(_._2.length)
                .map(d => clean.filter(size(col(vecCol)) === d)).getOrElse(clean)
              val fresh = Clustering.seedCentroids(dimOk, idCol, vecCol, k)
                .filterNot(c => existing.exists(_._2 == c))
                .take(k - existing.size)
              val base = existing.map(_._1).foldLeft(-1)(math.max)
              existing ++ fresh.zipWithIndex.map { case (c, i) => (base + 1 + i, c) }
            }
          val batchStats =
            if (centroids.isEmpty) Seq.empty // empty stream start: no state yet
            else Clustering.assignClusters(
                clean.filter(size(col(vecCol)) === centroids.head._2.length), vecCol, centroids)
              .groupBy(col("cluster"))
              .agg(Similarity.vectorMean(col(vecCol)).as("bm"), count(lit(1)).as("bn"))
              .as[(Int, Seq[Double], Long)].collect().toSeq
          val merged = centroids.map { case (cid, c) =>
            val (n0, c0) = state.getOrElse(cid, (0L, c))
            batchStats.find(_._1 == cid) match {
              case Some((_, bm, bn)) =>
                val n1 = n0 + bn
                val c1 = c0.indices.map(i => (n0 * c0(i) + bn * bm(i)) / n1)
                (cid, n1, c1)
              case None => (cid, n0, c0) // no evidence this batch: unchanged
            }
          }
          TxTable.replace(spark, stateDir, merged.toDF("cluster", "n", "centroid"),
            guard = guardFor(spark, checkpoint), batchId = batchId)
          ()
        }
      }
      .start()

  /** Streaming malformed-record quarantine — the streaming form of
    * [[Ingest.readJsonQuarantine]]: a text file stream parsed with the
    * in-expression corrupt-record field, routed into a good rows table and
    * a raw reject-lines table under ONE [[TxTable]] root (`root`, tables
    * `"good"` / `"bad"` — read with `TxTable.read(spark, root, "good")`).
    * `foreachBatch` because one streaming query cannot feed two sinks and
    * two separate queries would scan the source twice; the micro-batch is
    * persisted across the two writes so the parse runs once. Both appends
    * land in ONE atomic commit: there is no state in which good rows are
    * visible without their batch's rejects (the old dual-`mode("append")`
    * form had exactly that crash window), and a replayed batch is skipped
    * by the checkpoint-scoped guard. Rejected lines keep their original
    * bytes, so a fixed parser can re-drive the reject table later.
    */
  def jsonQuarantineStream(spark: org.apache.spark.sql.SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(!schema.fieldNames.contains("__corrupt"), "__corrupt is reserved")
    val withCorrupt = schema.add("__corrupt", org.apache.spark.sql.types.StringType)
    spark.readStream.text(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parsed = batch.select(col("value"),
          from_json(col("value"), withCorrupt,
            Map("columnNameOfCorruptRecord" -> "__corrupt")).as("j")).persist()
        // blank lines parse to a NULL struct, not a corrupt record — they
        // quarantine too (see Ingest.readJsonQuarantine)
        val isGood = col("j").isNotNull && col("j.__corrupt").isNull
        try {
          val good = parsed.filter(isGood)
            // getField: a field literally named "a.b" must not resolve as a path
            .select(schema.fieldNames.map(f => col("j").getField(f).as(f)).toIndexedSeq: _*)
          val bad = parsed.filter(!isGood).select(col("value").as("raw"))
          TxTable.commit(batch.sparkSession, root,
            Seq(("good", "append", good), ("bad", "append", bad)),
            guard = guardFor(batch.sparkSession, checkpoint), batchId = batchId)
          ()
        } finally parsed.unpersist()
      }
      .start()
  }

  /** Streaming burst detection — the continuous twin of the batch q151
    * analysis: per micro-batch, (event_type, day) count deltas merge into
    * a counts table, the trailing-7-observation z-score is recomputed over
    * the merged state, and the counts AND the refreshed alert table land
    * in ONE atomic [[TxTable]] commit — a reader never sees counts without
    * their matching alerts, and a replayed batch is skipped by the
    * checkpoint-scoped guard (count merging is not idempotent). State is
    * bounded by (types × days), day-grain metadata scale — the detector's
    * window math runs over the state table, never re-reading the stream.
    */
  def burstAlertSink(stream: DataFrame, tsCol: String, typeCol: String,
      root: String, checkpoint: String,
      zThreshold: Double = 2.0): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val delta = batch
          .groupBy(col(typeCol).as("event_type"),
            date_trunc("day", col(tsCol)).as("day"))
          .agg(count(lit(1)).as("n"))
        // pinned: the commit stages counts and alerts as two independent
        // plans that share this subtree — without the pin each batch would
        // read the previous snapshot and aggregate the micro-batch TWICE
        val merged = Checkpoints.pin(
          if (TxTable.exists(spark, root, "counts"))
            TxTable.read(spark, root, "counts").unionByName(delta)
              .groupBy(col("event_type"), col("day")).agg(sum(col("n")).as("n"))
          else delta)
        try {
          val trail = org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-7, -1)
          val alerts = merged
            .withColumn("mu", avg(col("n")).over(trail))
            .withColumn("sd", stddev_samp(col("n").cast("double")).over(trail))
            .filter(col("sd") > 0 && abs((col("n") - col("mu")) / col("sd")) > zThreshold)
            .select(col("event_type"), col("day"), col("n"),
              Summaries.r4((col("n") - col("mu")) / col("sd")).as("z"))
          TxTable.commit(spark, root,
            Seq(("counts", "replace", merged), ("alerts", "replace", alerts)),
            guard = guardFor(spark, checkpoint), batchId = batchId)
          ()
        } finally Checkpoints.release(merged)
      }
      .start()

  // ---- ST6: arbitrary stateful sessionization ------------------------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class SessionState(start: Long, end: Long, n: Int)
  case class SessionOut(user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp,
      n_events: Int, closed: Boolean)

  /** ST6 — custom sessionization with [[Dataset.flatMapGroupsWithState]]:
    * events within `gapMs` of the running session extend it; a larger gap
    * closes it and emits the summary, and an EVENT-TIME TIMEOUT closes the
    * last session of a key that simply goes quiet (without it, the final
    * session is never emitted and idle-key state accumulates forever — one
    * entry per ever-seen key). State is one (start, end, n) per live key.
    * The watermark (`watermarkDelay` lateness bound) is what drives the
    * timeout clock; it fires once the watermark passes `end + gapMs`.
    */
  def sessionize(ds: Dataset[Ev], gapMs: Long,
      watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, closed = true))
          } else {
            // ONE gap-merge over the whole timeline: the live session (if
            // any) and each batch event are intervals sorted by start;
            // adjacent intervals within gapMs merge. Cross-batch LATE
            // events (before the live session's start) fold through the
            // SAME logic as everything else, so two late events within
            // gapMs of each other form one earlier session — not
            // per-event singletons — and a late chain reaching within
            // gapMs of the live session merges into it, exactly as it
            // would have had the events arrived in order.
            val intervals = (state.getOption.toSeq ++
              evs.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)))
              .sortBy(s => (s.start, s.end))
            var cur: Option[SessionState] = None
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            intervals.foreach { iv =>
              cur match {
                case Some(s) if iv.start - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.end, iv.end), s.n + iv.n))
                case Some(s) =>
                  out += SessionOut(uid, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, closed = true)
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must be strictly ahead of the current watermark or Spark
              // rejects it — a late straggler can land an already-expired end
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
      }
  }
}
