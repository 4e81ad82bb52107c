package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Streaming, TxTable}
import graft.ops.Streaming.Ev

/** ST1–ST7 driven through MemoryStream (SURVEY §5.5: streaming stays out of
  * the DuckDB oracle; batch forms q39–q41 cover the window semantics there).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private var qid = 0
  private def nextName(): String = { qid += 1; s"st_out_$qid" }

  test("ST1/ST4/ST7: tumbling window counts over a stream (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val counts = Streaming.tumblingCounts(input.toDF(), "ts", "1 hour", "2 hours", Seq("event_type"))
    val name = nextName()
    val q = counts.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:05:00"), "view"),
        Ev(1, ts("2024-01-01 10:55:00"), "view"),
        Ev(2, ts("2024-01-01 11:05:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table(name).orderBy("window_start", "event_type")
        .select("cnt").as[Long].collect().toSeq
      assert(rows == Seq(2L, 1L))
    } finally q.stop()
  }

  test("ST2: sliding window stream counts each event in every overlapping window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val counts = Streaming.slidingCounts(input.toDF(), "ts", "2 hours", "1 hour", "4 hours")
    val name = nextName()
    val q = counts.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(Ev(1, ts("2024-01-01 10:30:00"), "v"))
      q.processAllAvailable()
      // one event, 2h window sliding 1h → exactly two windows contain it
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }

  test("ST3: session window stream groups by gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val sess = Streaming.sessionCounts(input.toDF(), "ts", "30 minutes", "1 hour", Seq("user_id"))
    val name = nextName()
    val q = sess.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), "a"),
        Ev(1, ts("2024-01-01 10:10:00"), "a"), // same session
        Ev(1, ts("2024-01-01 12:00:00"), "a")) // new session
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }

  test("ST5: streaming dedup drops exact-key duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dd = Streaming.dedupEvents(input.toDF(), "ts", "1 hour", Seq("user_id", "event_type"))
    val name = nextName()
    val q = dd.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val e = Ev(1, ts("2024-01-01 10:00:00"), "view")
      input.addData(e, e, Ev(2, ts("2024-01-01 10:00:00"), "view"))
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
    } finally q.stop()
  }

  test("ST5 ≡ q196: runtime dedup over redelivered real events matches the batch twin") {
    // The q196 oracle twin models an at-least-once source that redelivers
    // every 7th event; this drives the REAL streaming runtime through the
    // same scenario — batch 1 delivers everything, batch 2 redelivers the
    // %7 slice — and asserts the runtime's surviving set is exactly the
    // batch twin's (same key, (event_id, ts), real sf0.001 events table).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.t(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"))
    val all     = ev.as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    val replays = all.filter(_._1 % 7 == 0)
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val dd = Streaming.dedupEvents(
      input.toDF().toDF("event_id", "ts", "user_id"), "ts", "10 days",
      Seq("event_id"))
    val name = nextName()
    val q = dd.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(all: _*)
      q.processAllAvailable()
      input.addData(replays: _*) // redelivery arrives in a LATER batch
      q.processAllAvailable()
      val streamed = spark.table(name).select("event_id").as[Long].collect().toSet
      val batchTwin = ev.unionByName(ev.filter(col("event_id") % 7 === 0))
        .dropDuplicates("event_id", "ts")
        .select("event_id").as[Long].collect().toSet
      assert(streamed == batchTwin)
      assert(streamed.size == all.size) // every redelivery suppressed
    } finally q.stop()
  }

  test("ST4 ≡ q195: the runtime watermark drops exactly the batch twin's late set") {
    // q195 models micro-batch = the event_id/1000 bucket and claims its
    // row-level predicate (drop iff ts2 < prior-buckets-max − 1 day) IS
    // Spark's watermark semantics. This test proves it against the REAL
    // runtime: the same late-shifted sf0.01 events are fed bucket-by-bucket
    // (processAllAvailable between buckets pins the batch boundaries), the
    // streaming dedup's late filter does the dropping (every key is unique,
    // so dedup state never suppresses anything), and the emitted id set
    // must equal an INDEPENDENT Scala-collection replay of the predicate —
    // which must in turn aggregate to the registered q195's n_kept.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.01"
    val shifted = Tables.t(spark, sf, "events")
      .select(col("event_id"),
        when(col("event_id") % 50 === 0, col("ts") - expr("INTERVAL 3 DAYS"))
          .otherwise(col("ts")).as("ts2"))
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    // independent predicate replay (plain collections, no Spark)
    val byBucket = shifted.groupBy(_._1 / 1000).toSeq.sortBy(_._1)
    var priorMax = Long.MinValue
    val dayMs = 86400000L
    val keptIds = byBucket.flatMap { case (_, rows) =>
      val wm = if (priorMax == Long.MinValue) Long.MinValue else priorMax - dayMs
      priorMax = math.max(priorMax, rows.map(_._2.getTime).max)
      rows.collect { case (id, t) if t.getTime >= wm => id }
    }.toSet
    // the real runtime
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val dd = Streaming.dedupEvents(
      input.toDF().toDF("event_id", "ts2"), "ts2", "1 day", Seq("event_id"))
    val name = nextName()
    val q = dd.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      byBucket.foreach { case (_, rows) =>
        input.addData(rows: _*)
        q.processAllAvailable() // batch boundary == bucket boundary
      }
      val streamed = spark.table(name).select("event_id").as[Long].collect().toSet
      assert(streamed == keptIds,
        s"runtime kept ${streamed.size}, predicate kept ${keptIds.size}")
      assert(keptIds.size < shifted.size) // the scenario really drops something
      // and the registered q195 aggregates the same kept/dropped split
      val q195 = SparkEntry.queries("q195_watermark_drop")(spark, sf)
        .agg(sum("n_kept"), sum("n_dropped")).as[(Long, Long)].head()
      assert(q195 == ((keptIds.size.toLong, (shifted.size - keptIds.size).toLong)))
    } finally q.stop()
  }

  test("ST6: flatMapGroupsWithState sessionization emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = Streaming.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), "a"),
        Ev(1, ts("2024-01-01 10:10:00"), "a"))
      q.processAllAvailable()
      // second batch: a far-later event closes the first session
      input.addData(Ev(1, ts("2024-01-01 13:00:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table(name).as[Streaming.SessionOut].collect()
      assert(rows.length == 1)
      assert(rows(0).n_events == 2 && rows(0).closed)
      assert(rows(0).start == ts("2024-01-01 10:00:00") && rows(0).end == ts("2024-01-01 10:10:00"))
      // third batch: a DIFFERENT key's event advances the watermark past
      // 13:00 + gap + delay, so user 1's quiet session closes by TIMEOUT —
      // without the event-time timeout it would sit in state forever
      input.addData(Ev(2, ts("2024-01-01 18:00:00"), "a"))
      q.processAllAvailable()
      val after = spark.table(name).as[Streaming.SessionOut].collect()
      assert(after.length == 2)
      val timedOut = after.filter(r => r.user_id == 1 && r.start == ts("2024-01-01 13:00:00"))
      assert(timedOut.length == 1 && timedOut(0).closed && timedOut(0).n_events == 1)
    } finally q.stop()
  }

  test("ST6 ≡ q197: runtime sessionization emits exactly the batch twin's closed set") {
    // q197 models ST6's Append-mode emission rule — closed by GAP (a later
    // session exists) or by event-time TIMEOUT (end-of-stream watermark
    // past end + gap) — and this drives the REAL flatMapGroupsWithState
    // runtime over the same sf0.01 events: all events in batch 1, then a
    // sentinel at the same max instant (its own key, excluded below) whose
    // batch runs with the watermark advanced to max(ts) − 1 h and fires
    // the timeouts. The emitted (user, start, end, n) set must equal the
    // registered q197's rows exactly.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.01"
    val evs = Tables.t(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[Ev].collect().toSeq
    val maxTs = evs.map(_.ts.getTime).max
    val input = MemoryStream[Ev]
    val out = Streaming.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L,
      watermarkDelay = "1 hour")
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(Ev(-1L, new java.sql.Timestamp(maxTs), "probe"))
      q.processAllAvailable()
      val streamed = spark.table(name).as[Streaming.SessionOut].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.start.getTime, s.end.getTime, s.n_events.toLong)).toSet
      val twin = SparkEntry.queries("q197_timeout_sessions")(spark, sf)
      val twinRows = twin
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
        .map(r => (r._1, r._2.getTime, r._3.getTime, r._4)).toSet
      assert(streamed == twinRows,
        s"runtime emitted ${streamed.size}, twin has ${twinRows.size}; " +
          s"only-runtime ${(streamed -- twinRows).take(3)}, " +
          s"only-twin ${(twinRows -- streamed).take(3)}")
      // the corpus must really exercise BOTH close paths
      val byPath = twin.groupBy("closed_by").count()
        .as[(String, Long)].collect().toMap
      assert(byPath.getOrElse("gap", 0L) > 0 && byPath.getOrElse("timeout", 0L) > 0,
        s"degenerate corpus: $byPath")
    } finally q.stop()
  }

  test("ST7: parquet file sink with checkpoint survives and is readable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val base  = Tables.targetPath(s"tmp/stream_sink_${System.nanoTime()}")
    val q = Streaming.dedupEvents(input.toDF(), "ts", "1 hour", Seq("user_id"))
      .writeStream.format("parquet")
      .option("path", s"$base/data")
      .option("checkpointLocation", s"$base/chk")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts("2024-01-01 10:00:00"), "a"), Ev(2, ts("2024-01-01 10:01:00"), "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$base/data").count() == 2)
  }

  test("stream-stream interval join matches within tolerance, expires outside it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val clicks    = MemoryStream[Ev]
    val joined = Streaming.streamStreamJoin(
      purchases.toDF().withColumnRenamed("ts", "p_ts").withColumnRenamed("event_type", "p_type"),
      clicks.toDF().withColumnRenamed("ts", "c_ts").withColumnRenamed("event_type", "c_type"),
      keys = Seq("user_id"), leftTs = "p_ts", rightTs = "c_ts",
      toleranceSec = 3600, watermark = "2 hours")
    val name = nextName()
    val q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      clicks.addData(
        Ev(1, ts("2024-01-01 09:30:00"), "click"), // within 1 h of the purchase
        Ev(1, ts("2024-01-01 07:00:00"), "click"), // too early
        Ev(2, ts("2024-01-01 09:45:00"), "click")) // wrong user
      purchases.addData(Ev(1, ts("2024-01-01 10:00:00"), "purchase"))
      q.processAllAvailable()
      val rows = spark.table(name).select("user_id", "c_ts").as[(Long, java.sql.Timestamp)].collect()
      assert(rows.toSeq == Seq((1L, ts("2024-01-01 09:30:00"))))
    } finally q.stop()
  }

  test("S8: parquet file-source stream over a staged directory matches the batch form") {
    // The real S8 shape — readStream.schema(s).parquet(dir) — not MemoryStream:
    // the same tumblingCounts plan over a directory of parquet files must emit
    // exactly what the static read computes.
    val events = Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type")
    val base = Tables.targetPath(s"tmp/file_stream_${System.nanoTime()}")
    events.write.parquet(s"$base/in")
    val src    = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val counts = Streaming.tumblingCounts(src, "ts", "1 day", "2 days", Seq("event_type"))
    val name   = nextName()
    val q = counts.writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).orderBy("window_start", "event_type").collect().toSeq
      val batch = Streaming.tumblingCounts(events, "ts", "1 day", "2 days", Seq("event_type"))
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("incrementalDedupSink grows a corpus without re-admitting seen content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/incdedup_${System.nanoTime()}")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupSink(
      input.toDF().toDF("id", "content"), s"$base/corpus", "content", "id", s"$base/ckpt")
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // in-batch dup
      q.processAllAvailable()
      input.addData((4L, "beta"), (5L, "gamma"))                // cross-batch dup
      q.processAllAvailable()
      val corpus = TxTable.read(spark, s"$base/corpus")
        .select("content").as[String].collect().sorted.toSeq
      assert(corpus == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("fuzzyIngestSink: near-dups blocked within and across batches; index grows with the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base   = Tables.targetPath(s"tmp/fuzzying_${System.nanoTime()}")
    val prefix = s"fuzzying_idx_${System.nanoTime()}"
    val input  = MemoryStream[(Long, String)]
    val doc1   = "the quick brown fox jumps over the lazy dog tonight again"
    val doc1b  = "the quick brown fox jumps over the lazy dog tonight still" // near-dup of doc1
    val doc2   = "a completely different sentence about spark physical plans"
    val doc3   = "bucketed tables amortize the shuffle across later joins"
    val q = Streaming.fuzzyIngestSink(
      input.toDF().toDF("doc_id", "text"), s"$base/corpus", prefix,
      "doc_id", "text", 3, 16, 0.5, buckets = 2, s"$base/ckpt")
    try {
      // in-batch: 1 and its paraphrase arrive together — keep-min survives
      input.addData((1L, doc1), (2L, doc1b), (3L, doc2))
      q.processAllAvailable()
      def corpusIds() = TxTable.read(spark, s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(corpusIds() == Seq(1L, 3L))
      // cross-batch: a later paraphrase of doc1 is blocked BY THE INDEX;
      // the genuinely new doc lands — and is immediately admitted
      input.addData((4L, doc1b), (5L, doc3))
      q.processAllAvailable()
      assert(corpusIds() == Seq(1L, 3L, 5L))
      // the index saw both admissions: a batch probe of doc3 now self-blocks
      input.addData((6L, doc3))
      q.processAllAvailable()
      assert(corpusIds() == Seq(1L, 3L, 5L))
      // index tables hold exactly the corpus survivors
      assert(spark.table(s"${prefix}_sh").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 3L, 5L))
    } finally q.stop()
    // replay self-heal: re-running batch 1's work against the CURRENT index
    // admits nothing (every original survivor self-matches at Jaccard 1.0),
    // so a crash-replay cannot double-admit even before the guard check
    val replaySurvivors = graft.ops.Text.minhashDedupAgainstIndex(
      Seq((1L, doc1), (2L, doc1b), (3L, doc2)).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 0.5, prefix)
    assert(replaySurvivors.count() == 0L)
  }

  test("audioIngestSink: dHash near-dups blocked within and across batches; index grows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base   = Tables.targetPath(s"tmp/audioing_${System.nanoTime()}")
    val prefix = s"audioing_idx_${System.nanoTime()}"
    def clip(seed: Int, off: Int): Array[Byte] = {
      // the MultimodalSpec wavBytes shape, inlined: 16-bit mono PCM
      val samples = (0 until 64).map(i => ((i * seed) % 50000) - 25000 + off)
      val out = new java.io.ByteArrayOutputStream()
      def le(v: Long, n: Int): Unit =
        (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
      out.write("RIFF".getBytes); le(36 + samples.length * 2, 4); out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); le(16, 4)
      le(1, 2); le(1, 2); le(8000, 4); le(16000, 4); le(2, 2); le(16, 2)
      out.write("data".getBytes); le(samples.length * 2, 4)
      samples.foreach(s => le(s.toLong & 0xffff, 2))
      out.toByteArray
    }
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.audioIngestSink(
      input.toDF().toDF("doc_id", "payload"), s"$base/corpus", prefix,
      "doc_id", "payload", lanes = 32, maxHamming = 2, buckets = 2, s"$base/ckpt")
    try {
      def corpusIds() = TxTable.read(spark, s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      // in-batch: a clip and its uniform offset arrive together — keep-min
      input.addData((1L, clip(104729, 0)), (2L, clip(104729, 3)), (3L, clip(31337, 0)))
      q.processAllAvailable()
      assert(corpusIds() == Seq(1L, 3L))
      // cross-batch: a later offset of clip 1 blocks BY THE INDEX; new lands
      input.addData((4L, clip(104729, 5)), (5L, clip(7919, 0)))
      q.processAllAvailable()
      assert(corpusIds() == Seq(1L, 3L, 5L))
      // the admitted clip immediately self-blocks its own offsets
      input.addData((6L, clip(7919, 2)))
      q.processAllAvailable()
      assert(corpusIds() == Seq(1L, 3L, 5L))
      assert(spark.table(s"${prefix}_idx").select("id").as[Long].distinct()
        .collect().sorted.toSeq == Seq(1L, 3L, 5L))
    } finally q.stop()
    // replay self-heal: re-deriving batch 1 against the CURRENT index
    // admits nothing — every original survivor self-matches at Hamming 0
    val replay = graft.ops.Multimodal.audioDedupAgainstIndex(
      Seq((1L, clip(104729, 0)), (2L, clip(104729, 3)), (3L, clip(31337, 0)))
        .toDF("doc_id", "payload"),
      "doc_id", "payload", 32, 2, prefix)
    assert(replay.count() == 0L)
  }

  test("imageIngestSink: the raster head rides the same lifecycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base   = Tables.targetPath(s"tmp/imaging_${System.nanoTime()}")
    val prefix = s"imaging_idx_${System.nanoTime()}"
    // tiny in-spec PNG builder (filter 0, stored rows via java Deflater)
    def png(seed: Int, off: Int): Array[Byte] = {
      val raw = new java.io.ByteArrayOutputStream()
      for (y <- 0 until 16) {
        raw.write(0)
        for (x <- 0 until 16) raw.write(((y * 16 + x) * seed) % 200 + off)
      }
      val rb = raw.toByteArray
      val defl = new java.util.zip.Deflater(); defl.setInput(rb); defl.finish()
      val zb = new Array[Byte](rb.length + 64)
      var zl = 0
      while (!defl.finished()) zl += defl.deflate(zb, zl, zb.length - zl)
      defl.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def be32(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.write(be32(data.length))
        val tb = typ.getBytes("US-ASCII"); out.write(tb)
        out.write(data)
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
        out.write(be32(crc.getValue))
      }
      chunk("IHDR", be32(16) ++ be32(16) ++ Array[Byte](8, 0, 0, 0, 0))
      chunk("IDAT", zb.take(zl))
      chunk("IEND", Array.empty)
      out.toByteArray
    }
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.imageIngestSink(
      input.toDF().toDF("doc_id", "payload"), s"$base/corpus", prefix,
      "doc_id", "payload", buckets = 2, checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, png(104729, 0)), (2L, png(104729, 3)), (3L, png(31337, 0)))
      q.processAllAvailable()
      val ids = TxTable.read(spark, s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("qualityGateSink routes by frozen-model score atomically; null scores fail closed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/qgate_${System.nanoTime()}")
    val input = MemoryStream[(Long, Option[Double])]
    // frozen model: sigma(4*x) -> x > 0 accepted at threshold 0.5; a NULL
    // feature yields a NULL score and must land in rejected
    val q = Streaming.qualityGateSink(
      input.toDF().toDF("id", "x"), Seq(col("x")), Seq(0.0, 4.0),
      threshold = 0.5, s"$base/gate", s"$base/ckpt")
    try {
      input.addData((1L, Some(2.0)), (2L, Some(-2.0)), (3L, None))
      q.processAllAvailable()
      input.addData((4L, Some(1.0)), (5L, Some(-1.0)))
      q.processAllAvailable()
      def ids(t: String) = TxTable.read(spark, s"$base/gate", t)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids("accepted") == Seq(1L, 4L))
      assert(ids("rejected") == Seq(2L, 3L, 5L))
      // both routes carry the rounded score column the cut was made on
      val s1 = TxTable.read(spark, s"$base/gate", "accepted")
        .filter(col("id") === 1L).select("quality").as[Double].head()
      assert(s1 > 0.999 && s1 <= 1.0)
    } finally q.stop()
  }

  test("upsertSink merges micro-batches: replace, insert, in-batch version resolve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/upsert_${System.nanoTime()}")
    val input = MemoryStream[(Long, String, Long)]
    val q = Streaming.upsertSink(
      input.toDF().toDF("k", "s", "v"), s"$base/table", Seq("k"), "v", s"$base/ckpt")
    try {
      input.addData((1L, "a0", 1L), (2L, "b0", 1L), (2L, "b1", 2L)) // in-batch versions
      q.processAllAvailable()
      input.addData((1L, "a2", 3L), (3L, "c0", 1L)) // replace + insert
      q.processAllAvailable()
      val table = TxTable.read(spark, s"$base/table")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(table == Seq((1L, "a2", 3L), (2L, "b1", 2L), (3L, "c0", 1L)))
    } finally q.stop()
  }

  test("burstAlertSink: counts merge across batches and alerts refresh atomically with them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/burst_${System.nanoTime()}")
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.burstAlertSink(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type",
      s"$base/state", s"$base/ckpt")
    try {
      // 8 quiet days, one event each — no day has 2 trailing observations
      // deviating, sd = 0 -> no alerts yet
      input.addData((1 to 8).map(d => (ts(d), "click")): _*)
      q.processAllAvailable()
      assert(TxTable.read(spark, s"$base/state", "alerts").count() == 0)
      // day 9 arrives twice in one batch, and day 3 gets one LATE extra
      // event (cross-batch count merge) — day 9's count of 2 against a
      // trailing window of ~1s must alert; counts must show the merge
      input.addData((ts(9), "click"), (ts(9), "click"), (ts(3), "click"))
      q.processAllAvailable()
      val counts = TxTable.read(spark, s"$base/state", "counts")
        .as[(String, java.sql.Timestamp, Long)].collect()
        .map { case (_, d, n) => d.toString.take(10) -> n }.toMap
      assert(counts("2024-01-03") == 2L, "late event must merge into the existing day")
      assert(counts("2024-01-09") == 2L)
      val alerts = TxTable.read(spark, s"$base/state", "alerts")
        .select("day").as[java.sql.Timestamp].collect().map(_.toString.take(10)).toSet
      assert(alerts.contains("2024-01-09"), s"day 9 spike must alert, got $alerts")
    } finally q.stop()
  }

  test("aggStateSink maintains the state table: merged state equals full re-aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/aggstate_${System.nanoTime()}")
    val input = MemoryStream[(String, Double)]
    val q = Streaming.aggStateSink(
      input.toDF().toDF("k", "v"), s"$base/state", Seq("k"), Seq("v"), s"$base/ckpt")
    try {
      input.addData(("x", 1.0), ("x", 3.0), ("y", 10.0))
      q.processAllAvailable()
      input.addData(("x", 2.0), ("z", -5.0)) // existing keys update, new key inserts
      q.processAllAvailable()
      val state = TxTable.read(spark, s"$base/state")
        .select("k", "cnt", "sum_v", "min_v", "max_v")
        .as[(String, Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
      assert(state == Seq(
        ("x", 3L, 6.0, 1.0, 3.0), ("y", 1L, 10.0, 10.0, 10.0), ("z", 1L, -5.0, -5.0, -5.0)))
    } finally q.stop()
  }

  test("cdcAggSink retracts: the maintained view tracks a mutating upstream exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = Tables.targetPath(s"tmp/cdcagg_${System.nanoTime()}")
    val input = MemoryStream[(String, Double, String)]
    val q = Streaming.cdcAggSink(
      input.toDF().toDF("g", "v", "change"), s"$base/state", Seq("g"), "v", s"$base/ckpt")
    try {
      // batch 1: initial load of the upstream table as an insert-only feed
      input.addData(("g1", 1.5, "insert"), ("g1", 2.5, "insert"),
        ("g2", 4.0, "insert"), ("g4", 9.0, "insert"))
      q.processAllAvailable()
      // batch 2: upstream mutates — g2's row deleted, a g1 row MOVES to g2
      // (dual update images), g3 born, g4 emptied entirely
      input.addData(("g2", 4.0, "delete"),
        ("g1", 2.5, "update_pre"), ("g2", 2.5, "update_post"),
        ("g3", 7.0, "insert"), ("g4", 9.0, "delete"))
      q.processAllAvailable()
      val state = TxTable.read(spark, s"$base/state")
        .select($"g", $"sum_v".cast("double"), $"n")
        .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
      // equals a full recompute of the netted upstream: {g1:1.5, g2:2.5, g3:7.0}
      assert(state == Seq(("g1", 1.5, 1L), ("g2", 2.5, 1L), ("g3", 7.0, 1L)))
    } finally q.stop()
  }

  test("two concurrent streaming append sinks share one TxTable root (multi-writer)") {
    // the end-to-end shape the optimistic commit exists for: two
    // independent queries appending to ONE transactional log table.
    // Appends commute (unlike state merges, which still need one writer
    // per state table — aggStateSink's contract), so both sinks may land
    // in any order; every row must surface exactly once and the version
    // sequence must stay contiguous. The barrier-raced TxTableSpec case
    // covers deliberate claim contention; this covers the streaming path.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.targetPath(s"tmp/multisink_${System.nanoTime()}")
    val in1  = MemoryStream[Long]
    val in2  = MemoryStream[Long]
    def sink(s: org.apache.spark.sql.DataFrame, ck: String, guard: String) =
      s.writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.ops.TxTable.append(b.sparkSession, s"$base/root", b,
            guard = guard, batchId = id)
          ()
        }.start()
    val q1 = sink(in1.toDF().toDF("v"), s"$base/ck1", "w1")
    val q2 = sink(in2.toDF().toDF("v"), s"$base/ck2", "w2")
    try {
      in1.addData(1L, 2L); in2.addData(10L, 20L)
      q1.processAllAvailable(); q2.processAllAvailable()
      in1.addData(3L); in2.addData(30L)
      q1.processAllAvailable(); q2.processAllAvailable()
      val got = graft.ops.TxTable.read(spark, s"$base/root")
        .as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 10L, 20L, 30L))
      val versions = new java.io.File(s"$base/root/_log").list().toSeq
        .filter(_.endsWith(".commit")).map(_.stripSuffix(".commit").toLong).sorted
      assert(versions == (1L to versions.length), s"non-contiguous log: $versions")
      // per-guard replay marks are independent
      assert(graft.ops.TxTable.lastApplied(spark, s"$base/root", "w1") >= 0L)
      assert(graft.ops.TxTable.lastApplied(spark, s"$base/root", "w2") >= 0L)
    } finally { q1.stop(); q2.stop() }
  }

  test("sessionize merges cross-batch late events into their own session, not singletons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = Streaming.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Ev(1, ts("2024-01-01 12:00:00"), "a"))
      q.processAllAvailable()
      // two late events (above the 11:00 watermark), within the gap of EACH
      // OTHER but both more than a gap before the live session: one closed
      // 2-event session, not two single-event ones
      input.addData(
        Ev(1, ts("2024-01-01 11:10:00"), "a"),
        Ev(1, ts("2024-01-01 11:20:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table(name).as[Streaming.SessionOut].collect()
      assert(rows.length == 1)
      assert(rows(0).n_events == 2 && rows(0).closed)
      assert(rows(0).start == ts("2024-01-01 11:10:00") && rows(0).end == ts("2024-01-01 11:20:00"))
      // a late event that REACHES the live session merges into it: 11:40 is
      // late but within the gap of 12:00 — no new closed session, and the
      // live session now spans back to 11:40 (verified on close)
      input.addData(Ev(1, ts("2024-01-01 11:40:00"), "a"))
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      input.addData(Ev(2, ts("2024-01-01 19:00:00"), "a")) // watermark → timeout closes user 1
      q.processAllAvailable()
      val closed = spark.table(name).as[Streaming.SessionOut].collect()
        .filter(r => r.user_id == 1 && r.n_events == 2 && r.start == ts("2024-01-01 11:40:00"))
      assert(closed.length == 1 && closed(0).end == ts("2024-01-01 12:00:00"))
    } finally q.stop()
  }

  test("kmeansSink maintains mini-batch centroids across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val base  = Tables.targetPath(s"tmp/kmeans_sink_${System.nanoTime()}")
    val q = Streaming.kmeansSink(input.toDF().toDF("id", "vec"), "id", "vec", 2,
      s"$base/state", s"$base/ckpt")
    try {
      // seed batch: ids 0/1 become the two centroids, one per blob
      input.addData((0L, Seq(10.0f, 0.0f)), (1L, Seq(-10.0f, 0.0f)),
        (2L, Seq(12.0f, 0.0f)), (3L, Seq(-12.0f, 0.0f)))
      q.processAllAvailable()
      def state() = TxTable.read(spark, s"$base/state")
        .as[(Int, Long, Seq[Double])].collect().sortBy(_._1).toSeq
      val s1 = state()
      assert(s1.map(_._2).sum == 4L && s1.length == 2)
      val posCluster = s1.find(_._3.head > 0).get
      assert(math.abs(posCluster._3.head - 11.0) < 1e-9) // mean(10, 12)
      // second batch: two more positive-blob points move that centroid by
      // the weighted mini-batch rule (2*11 + 2*15)/4 = 13
      input.addData((4L, Seq(14.0f, 0.0f)), (5L, Seq(16.0f, 0.0f)))
      q.processAllAvailable()
      val s2 = state()
      assert(s2.map(_._2).sum == 6L)
      val pos2 = s2.find(_._1 == posCluster._1).get
      assert(math.abs(pos2._3.head - 13.0) < 1e-9)
      // negative centroid untouched by a batch with no evidence for it
      val neg2 = s2.find(_._1 != posCluster._1).get
      assert(math.abs(neg2._3.head - (-11.0)) < 1e-9)
    } finally q.stop()
  }

  test("kmeansSink tops up an under-seeded model from later batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val base  = Tables.targetPath(s"tmp/kmeans_topup_${System.nanoTime()}")
    val q = Streaming.kmeansSink(input.toDF().toDF("id", "vec"), "id", "vec", 3,
      s"$base/state", s"$base/ckpt")
    try {
      input.addData((0L, Seq(0.0f, 0.0f)))
      q.processAllAvailable()
      def state() = TxTable.read(spark, s"$base/state")
        .as[(Int, Long, Seq[Double])].collect().sortBy(_._1).toSeq
      assert(state().length == 1) // 1-row first batch: only one seed exists
      // later batch supplies the missing centroids instead of collapsing
      // all future data into the single frozen cluster
      input.addData((1L, Seq(10.0f, 0.0f)), (2L, Seq(-10.0f, 0.0f)))
      q.processAllAvailable()
      val s2 = state()
      assert(s2.length == 3 && s2.map(_._2).sum == 3L)
      assert(s2.map(_._3.head).sorted == Seq(-10.0, 0.0, 10.0))
    } finally q.stop()
  }

  test("jsonQuarantineStream routes good rows to parquet, bad lines to the reject sink") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = Tables.targetPath(s"tmp/jsonqs_${System.nanoTime()}")
    val in   = java.nio.file.Paths.get(s"$base/in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.write(in.resolve("f1.jsonl"), java.util.Arrays.asList(
      """{"id": 1, "name": "ok"}""", """{"id": 2, BROKEN"""))
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val q = Streaming.jsonQuarantineStream(spark, s"$base/in", schema,
      s"$base/out", s"$base/ckpt")
    try {
      q.processAllAvailable()
      // a second file arriving mid-stream is picked up incrementally
      java.nio.file.Files.write(in.resolve("f2.jsonl"), java.util.Arrays.asList(
        """{"id": 3, "name": "late"}""", "garbage"))
      q.processAllAvailable()
      val good = TxTable.read(spark, s"$base/out", "good", Some(schema))
        .select("id").as[Long].collect().sorted.toSeq
      val bad = TxTable.read(spark, s"$base/out", "bad")
        .as[String].collect().toSet
      assert(good == Seq(1L, 3L))
      assert(bad == Set("""{"id": 2, BROKEN""", "garbage"))
    } finally q.stop()
  }

  test("batch/stream parity: tumblingCounts on a static frame matches groupBy window") {
    import spark.implicits._
    val df = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), "v"),
      Ev(2, ts("2024-01-01 10:55:00"), "v"),
      Ev(3, ts("2024-01-01 11:05:00"), "v")).toDF()
    val out = Streaming.tumblingCounts(df, "ts", "1 hour", "2 hours", Seq("event_type"))
      .orderBy("window_start").select("cnt").as[Long].collect().toSeq
    assert(out == Seq(2L, 1L))
  }
}
