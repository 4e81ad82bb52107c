package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal
import graft.queries.Shared

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("inferFormat sniffs container magic bytes") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2, 3, 4)
    val png  = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val out = Seq((jpeg, png)).toDF("j", "p")
      .select(Multimodal.inferFormat($"j"), Multimodal.inferFormat($"p"))
      .head()
    assert(out.getString(0) == "jpeg" && out.getString(1) == "png")
  }

  test("mediaMeta struct: format + byte_len + sha") {
    val row = Seq(Tuple1("hello".getBytes("UTF-8"))).toDF("payload")
      .select(Multimodal.mediaMeta($"payload").as("m"))
      .select("m.format", "m.byte_len", "m.sha").head()
    assert(row.getString(0) == "unknown")
    assert(row.getInt(1) == 5)
    assert(row.getString(2).length == 64)
  }

  test("frameOffsets yields every-step 1-based positions") {
    val out = Seq(Tuple1("0123456789".getBytes("UTF-8"))).toDF("p")
      .select(Multimodal.frameOffsets($"p", 4)).as[Seq[Int]].head()
    assert(out == Seq(1, 5, 9))
  }

  test("imageDims parses real PNG/JPEG/GIF headers; corrupt input is NULL, not a crash") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 0x0d, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, /* w=640 */ 0, 0, 0x01, 0xe0 /* h=480 */)
    val jpeg = bytes(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46,              // APP0 segment to skip
      0xff, 0xc2, 0x00, 0x0b, 8,                       // SOF2 (progressive)
      0x00, 0x64, /* h=100 */ 0x01, 0x40, /* w=320 */ 3, 0, 0, 0)
    val gif  = bytes('G', 'I', 'F', '8', '9', 'a', 0x90, 0x01, /* w=400 LE */ 0x2c, 0x01 /* h=300 */)
    val junk = bytes(0xff, 0xd8, 0xff, 0xc0, 0x00) // JPEG cut off mid-SOF
    val rows = Seq(png, jpeg, gif, junk, "not an image".getBytes)
      .zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "bin")
      .select($"i", Multimodal.imageDims($"bin").as("d")).orderBy("i")
      .select($"d.width", $"d.height").collect()
    assert(rows(0).getInt(0) == 640 && rows(0).getInt(1) == 480)
    assert(rows(1).getInt(0) == 320 && rows(1).getInt(1) == 100)
    assert(rows(2).getInt(0) == 400 && rows(2).getInt(1) == 300)
    assert(rows(3).isNullAt(0) && rows(4).isNullAt(0))
  }

  test("imageDims: 0xFF fill padding before SOF is skipped (JPEG spec B.1.1.2)") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val padded = bytes(0xff, 0xd8, 0xff, /* fill */ 0xff, 0xc0, 0x00, 0x0b, 8,
      0x00, 0x64, 0x01, 0x40, 3, 0, 0, 0)
    val r = Seq(Tuple1(padded)).toDF("bin")
      .select(Multimodal.imageDims($"bin").as("d")).select($"d.width", $"d.height").head()
    assert(r.getInt(0) == 320 && r.getInt(1) == 100)
  }

  test("wavInfo: a crafted near-Int.MaxValue chunk size yields NULL, not a crash") {
    def le32(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    val evil = (Seq('R'.toInt, 'I', 'F', 'F') ++ le32(100) ++ Seq('W'.toInt, 'A', 'V', 'E') ++
      Seq('j'.toInt, 'u', 'n', 'k') ++ le32(0x7ffffff8) ++ Seq.fill(16)(0)).map(_.toByte).toArray
    val r = Seq(Tuple1(evil)).toDF("bin")
      .select(Multimodal.wavInfo($"bin").as("w")).select($"w.sample_rate").head()
    assert(r.isNullAt(0))
  }

  test("wavInfo walks RIFF chunks to fmt; corrupt sizes terminate as NULL") {
    def le32(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    def le16(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff)
    // RIFF/WAVE with a junk chunk BEFORE fmt (fmt-not-first is the edge case)
    val wav = (Seq('R'.toInt, 'I', 'F', 'F') ++ le32(100) ++ Seq('W'.toInt, 'A', 'V', 'E') ++
      Seq('j'.toInt, 'u', 'n', 'k') ++ le32(4) ++ Seq(0, 0, 0, 0) ++
      Seq('f'.toInt, 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(2) /* stereo */ ++
      le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16)).map(_.toByte).toArray
    val out = Seq((1, wav), (2, "RIFFxxxxWAVE".getBytes ++ Array.fill(30)(0.toByte)))
      .toDF("i", "bin").select($"i", Multimodal.wavInfo($"bin").as("w")).orderBy("i")
      .select($"w.sample_rate", $"w.channels", $"w.bits_per_sample").collect()
    assert(out(0).getInt(0) == 44100 && out(0).getInt(1) == 2 && out(0).getInt(2) == 16)
    assert(out(1).isNullAt(0)) // no fmt chunk found
  }

  /** Minimal 16-bit mono PCM WAV with the given samples. */
  private def wavBytes(rate: Int, samples: Seq[Int]): Array[Byte] = {
    def le32(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    def le16(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff)
    (Seq('R'.toInt, 'I', 'F', 'F') ++ le32(36 + samples.length * 2) ++
      Seq('W'.toInt, 'A', 'V', 'E') ++
      Seq('f'.toInt, 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(rate) ++ le32(rate * 2) ++ le16(2) ++ le16(16) ++
      Seq('d'.toInt, 'a', 't', 'a') ++ le32(samples.length * 2) ++
      samples.flatMap(s => le16(s & 0xffff))).map(_.toByte).toArray
  }

  test("decodeFeatures: real PCM decode — exact sums/peak/zero-crossings/lanes") {
    // samples chosen to exercise sign changes, negative peak, lane wrap
    val samples = Seq(100, -200, 300, -32768, 0, 5)
    val df = Seq((1L, wavBytes(8000, samples)),
      (2L, "not audio".getBytes("UTF-8")),
      (3L, null: Array[Byte])).toDF("id", "payload")
    val out = Multimodal.decodeFeatures(df, "id", "payload", dim = 4)
    assert(out.columns.toSeq == Seq("id", "format", "byte_len", "sample_rate",
      "channels", "bits", "n_samples", "sum_s", "sum_sq", "peak", "zero_cross",
      "features"))
    val r = out.orderBy("id").collect()
    val wav = r(0)
    assert(wav.getString(1) == "riff")
    assert(wav.getInt(3) == 8000 && wav.getInt(4) == 1 && wav.getInt(5) == 16)
    assert(wav.getLong(6) == 6)
    assert(wav.getLong(7) == samples.map(_.toLong).sum)
    assert(wav.getLong(8) == samples.map(s => s.toLong * s).sum)
    assert(wav.getLong(9) == 32768L)
    // sign changes: +,-,+,-,0(non-neg),+ → crossings at 1,2,3,4 = 4
    assert(wav.getLong(10) == 4L)
    val lanes = wav.getSeq[Long](11)
    assert(lanes == Seq(100L + 0, -200L + 5, 300L, -32768L))
    // non-wav / null payloads: PCM fields NULL, not a crash
    assert(r(1).getString(1) == "unknown" && r(1).isNullAt(3) && r(1).isNullAt(11))
    assert(r(2).getLong(2) == 0 && r(2).isNullAt(3))
    // determinism: same payload → same features
    val again = Multimodal.decodeFeatures(df, "id", "payload", dim = 4).orderBy("id").collect()
    assert(r.toSeq == again.toSeq)
  }

  test("G.711 expansion tables match the JDK's own ULAW/ALAW converters exactly") {
    // spec anchors first (CCITT arithmetic, 16-bit scale)
    assert(Multimodal.UlawTable(0x00) == -32124 && Multimodal.UlawTable(0x80) == 32124)
    assert(Multimodal.UlawTable(0xFF) == 0 && Multimodal.UlawTable(0x7F) == 0)
    assert(Multimodal.AlawTable(0x2A) == -32256 && Multimodal.AlawTable(0xAA) == 32256)
    assert(Multimodal.AlawTable(0x55) == -8 && Multimodal.AlawTable(0xD5) == 8)
    // then the full 256-entry tables against javax.sound's reference
    // conversion (ULAW/ALAW -> PCM_SIGNED 16-bit)
    import javax.sound.sampled._
    def jdkTable(enc: AudioFormat.Encoding): Array[Short] = {
      val src = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val bytes = Array.tabulate[Byte](256)(i => i.toByte)
      val in = new AudioInputStream(new java.io.ByteArrayInputStream(bytes), src, 256)
      val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
      val out = AudioSystem.getAudioInputStream(dst, in)
      val buf = out.readAllBytes()
      Array.tabulate[Short](256)(i =>
        ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort)
    }
    assert(jdkTable(AudioFormat.Encoding.ULAW).toSeq == Multimodal.UlawTable.toSeq,
      "µ-law table diverges from the JDK reference")
    assert(jdkTable(AudioFormat.Encoding.ALAW).toSeq == Multimodal.AlawTable.toSeq,
      "A-law table diverges from the JDK reference")
  }

  test("decodeWavPcm: A-law and µ-law containers expand to exact integer features") {
    def companded(tag: Int, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le(v: Long, n: Int): Unit = (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
      out.write("RIFF".getBytes); le(36 + data.length, 4); out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); le(16, 4)
      le(tag, 2); le(1, 2); le(8000, 4); le(8000, 4); le(1, 2); le(8, 2)
      out.write("data".getBytes); le(data.length, 4); out.write(data)
      out.toByteArray
    }
    val data = Array.tabulate[Byte](64)(i => ((i * 37 + 5) % 256).toByte)
    for ((tag, table) <- Seq(7 -> Multimodal.UlawTable, 6 -> Multimodal.AlawTable)) {
      val p = Multimodal.decodeWavPcm(companded(tag, data), dim = 4)
        .getOrElse(fail(s"tag $tag rejected"))
      val expanded = data.map(b => table(b & 0xff).toLong)
      assert(p.nSamples == 64 && p.bits == 8)
      assert(p.sumS == expanded.sum && p.peak == expanded.map(math.abs).max)
      assert(p.laneSums.toSeq == (0 until 4).map(l =>
        expanded.zipWithIndex.collect { case (v, i) if i % 4 == l => v }.sum))
    }
    // an unknown companded tag still rejects
    assert(Multimodal.decodeWavPcm(companded(5, data), dim = 4).isEmpty)
  }

  test("decodeWavPcm accepts WAVE_FORMAT_EXTENSIBLE (0xFFFE) 16-bit PCM, GUID-gated") {
    // the ffmpeg/DAW default wrapper: identical 16-bit sample bytes under
    // fmt tag 0xFFFE — accepted ONLY when the 40-byte fmt chunk's SubFormat
    // GUID names PCM (leading 16 bits 0x0001); an extensible wrapper around
    // another codec, or a 0xFFFE tag without the extension block, rejects
    def extensibleWav(subTag: Int, samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le(v: Long, n: Int): Unit = (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
      val dataLen = samples.length * 2
      out.write("RIFF".getBytes); le(12 + 48 + 8 + dataLen - 8, 4); out.write("WAVE".getBytes)
      out.write("fmt ".getBytes); le(40, 4)
      le(0xFFFE, 2); le(1, 2); le(8000, 4); le(16000, 4); le(2, 2); le(16, 2)
      le(22, 2)          // cbSize
      le(16, 2)          // wValidBitsPerSample
      le(0x4, 4)         // dwChannelMask
      // SubFormat GUID: {subTag}-0000-0010-8000-00AA00389B71 (KSDATAFORMAT base)
      le(subTag, 2); le(0, 2); le(0, 2); le(0x10, 2)
      out.write(Array(0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71).map(_.toByte))
      out.write("data".getBytes); le(dataLen, 4)
      samples.foreach(s => le(s & 0xffff, 2))
      out.toByteArray
    }
    val samples = (0 until 32).map(i => i * 1000 - 15000)
    val p1 = Multimodal.decodeWavPcm(wavBytes(8000, samples), dim = 4).getOrElse(fail("tag 1 rejected"))
    val p2 = Multimodal.decodeWavPcm(extensibleWav(1, samples), dim = 4)
      .getOrElse(fail("extensible PCM GUID rejected"))
    assert(p1.sumS == p2.sumS && p1.laneSums.toSeq == p2.laneSums.toSeq)
    // extensible wrapping IEEE float (0x0003): same 16 declared bits would
    // misdecode — must reject, not guess
    assert(Multimodal.decodeWavPcm(extensibleWav(3, samples), dim = 4).isEmpty)
    // 0xFFFE tag on a bare 16-byte fmt chunk (no SubFormat to consult): reject
    val bare = wavBytes(8000, samples).clone()
    bare(20) = 0xFE.toByte; bare(21) = 0xFF.toByte
    assert(Multimodal.decodeWavPcm(bare, dim = 4).isEmpty)
  }

  test("decodeWavPcm rejects truncated data chunks and non-16-bit formats") {
    val good = wavBytes(8000, Seq(1, 2, 3))
    assert(Multimodal.decodeWavPcm(good, 2).isDefined)
    // truncate mid-data
    assert(Multimodal.decodeWavPcm(good.dropRight(2), 2).isEmpty)
    // 8-bit fmt (bits field at fmt body + 14)
    val eightBit = good.clone(); eightBit(34) = 8
    assert(Multimodal.decodeWavPcm(eightBit, 2).isEmpty)
  }

  test("audioDHash: gradient signs are invariant to a constant sample offset") {
    // equal-count lanes shift equally under +c, so every lane[j+1] > lane[j]
    // comparison — hence the hash — is unchanged; an unrelated signal hashes
    // differently
    val base   = (0 until 64).map(i => (i * 104729 % 60000) - 30000) // headroom for +2
    val bumped = base.map(_ + 2) // UNIFORM offset — every lane shifts equally
    val other = (0 until 64).map(i => (i * 31 + 7) % 200 - 100)
    val df = Seq((1L, wavBytes(8000, base)), (2L, wavBytes(8000, bumped)),
      (3L, wavBytes(8000, other))).toDF("id", "payload")
    val hs = Multimodal.decodeFeatures(df, "id", "payload", dim = 32)
      .select($"id", Multimodal.audioDHash($"features", 32).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L), "a uniform offset must not move the dHash")
    assert(hs(1L) != hs(3L), "an unrelated signal must hash differently")
  }

  test("degenerate band geometry fails loudly instead of cross-joining a 0-bit band") {
    // lanes=7, maxHamming=3: nBits=6 over 4 ceil-width-2 bands puts band 3
    // at bits [6, 8) — zero bits, constant key, silently quadratic. The
    // guard must throw before any job runs.
    val df = Seq((1L, wavBytes(8000, (0 until 64).map(_ % 100)))).toDF("id", "payload")
    val ex = intercept[IllegalArgumentException] {
      Multimodal.audioNearDupPairs(df, "id", "payload", lanes = 7, maxHamming = 3)
    }
    assert(ex.getMessage.contains("degenerate"), ex.getMessage)
    // the healthy default geometry still constructs
    Multimodal.audioNearDupPairs(df, "id", "payload", lanes = 32, maxHamming = 2)
  }

  test("audio near-dup: banded pairs ≡ brute-force all-pairs; CC survivors keep group min") {
    // 12 docs in 3 groups of 4 on the q202 generative formula: r = 0,1,2
    // share a base signal (constant offset apart), r = 3 is unrelated
    def sample(doc: Long, i: Int): Int = {
      val g = doc / 4; val r = doc % 4
      val il = i.toLong
      val g16 = g % 65536; val d16 = doc % 65536 // overflow guard (q202 form)
      val raw = if (r == 3) (d16 * d16 + 7) * (il * il + 31)
                else (g16 * g16 * 131 + 7) * (il * il * 17 + il + 31) + r
      (Math.floorMod(raw, 65536L) - 32768L).toInt
    }
    val docs = (0L until 12L).map { doc =>
      val n = ((doc / 4 % 4) + 4).toInt * 32
      (doc, wavBytes(8000, (0 until n).map(i => sample(doc, i))))
    }
    val df = docs.toDF("doc_id", "payload")
    val got = Multimodal.audioNearDupPairs(df, "doc_id", "payload",
        lanes = 32, maxHamming = 2)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    // brute force over the same decoded hashes
    val hs = Multimodal.decodeFeatures(df, "doc_id", "payload", 32)
      .select($"doc_id", Multimodal.audioDHash($"features", 32).as("h"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- 0L until 12L; b <- (a + 1) until 12L
      ham = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if ham <= 2
    } yield (a, b, ham)).toSet
    assert(got == brute, "pigeonhole banding must reproduce the all-pairs filter exactly")
    // the offset triples pair up within each group
    for (g <- 0L until 3L)
      assert(got.contains((g * 4, g * 4 + 1, 0)) && got.contains((g * 4, g * 4 + 2, 0)),
        s"group $g's offset variants must pair")
    // CC survivors over the pairs: each group collapses to its min id
    val surv = graft.ops.Dedup.nearDupSurvivors(
        Multimodal.audioNearDupPairs(df, "doc_id", "payload", 32, 2)
          .select($"a", $"b"), "a", "b")
      .as[(Long, Long, Boolean)].collect()
    assert(surv.filter(_._3).map(_._1).toSet.subsetOf(Set(0L, 4L, 8L) ++ (0L until 12L).filter(_ % 4 == 3)),
      "only group minima (and unpaired docs, absent here) may survive")
    for (g <- Seq(0L, 4L, 8L))
      assert(surv.filter(r => r._1 / 4 == g / 4 && r._1 % 4 != 3).forall(_._2 == g),
        s"group starting at $g must share component $g")
  }

  test("audio flood: maxBucket star-bounds the band join; doc recall stays 1.0") {
    // 1 base clip + 60 byte-identical clones + 3 unrelated clips: every band
    // bucket the flood touches holds 61 members, so the unbounded join is
    // quadratic in the flood while the capped join emits O(flood) star pairs
    val base  = (0 until 64).map(i => (i * 104729 % 60000) - 30000)
    val other = (0 until 64).map(i => (i * 31 + 7) % 200 - 100)
    val clones = (1L to 60L).map(i => (i, wavBytes(8000, base)))
    val rest = Seq(100L, 101L, 102L).map(i =>
      (i, wavBytes(8000, other.map(_ + i.toInt)))) // uniform offsets: mutual near-dups
    val df = ((0L, wavBytes(8000, base)) +: (clones ++ rest)).toDF("doc_id", "payload")
    val capped = Multimodal.audioNearDupPairs(df, "doc_id", "payload",
        lanes = 32, maxHamming = 2, maxBucket = 16)
      .select($"a", $"b", $"hamming").as[(Long, Long, Int)].collect().toSet
    // flood pairs collapse to the star: clone i pairs with rep 0 only
    val floodPairs = capped.filter { case (a, b, _) => b <= 60 || a <= 60 }
    assert(floodPairs == (1L to 60L).map(i => (0L, i, 0)).toSet,
      s"flood must star-pair with doc 0 only, got ${floodPairs.size} pairs")
    // the cold group is untouched by the cap: all 3 pairs survive
    val coldPairs = capped.filter(_._1 >= 100)
    assert(coldPairs.map(p => (p._1, p._2)) ==
      Set((100L, 101L), (100L, 102L), (101L, 102L)))
    // doc recall 1.0: every doc with an unbounded partner still has one
    val unbounded = Multimodal.audioNearDupPairs(df, "doc_id", "payload", 32, 2)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    def dupDocs(p: Set[(Long, Long)]) = p.flatMap(t => Set(t._1, t._2))
    assert(dupDocs(capped.map(p => (p._1, p._2))) == dupDocs(unbounded))
  }

  test("audioBandOccupancy: flood shows one occ=d bucket per band; cand_pairs quadratic") {
    val base  = (0 until 64).map(i => (i * 104729 % 60000) - 30000)
    val df = (0L to 20L).map(i => (i, wavBytes(8000, base))).toDF("doc_id", "payload")
    val occ = Multimodal.audioBandOccupancy(df, "doc_id", "payload", 32, 2)
      .as[(Long, Long, Long)].collect()
    // 21 identical hashes → every one of the 3 bands has exactly one
    // 21-member bucket: occupancy histogram is the single row (21, 3, 630)
    assert(occ.toSeq == Seq((21L, 3L, 3L * 21 * 20 / 2)))
  }

  test("audio near-dup unbounded plan: exactly-once emission, no candidate distinct") {
    val base = (0 until 64).map(i => (i * 104729 % 60000) - 30000)
    val df = Seq((1L, wavBytes(8000, base)), (2L, wavBytes(8000, base.map(_ + 2))))
      .toDF("doc_id", "payload")
    val plan = Multimodal.audioNearDupPairs(df, "doc_id", "payload", 32, 2)
      .queryExecution.executedPlan.toString
    // the candidate stream goes join → map-side filter → output: a distinct
    // would show as a HashAggregate pair over (a, b, ha, hb)
    assert(!plan.contains("HashAggregate"),
      s"unbounded path must not aggregate (distinct) the candidate stream:\n$plan")
  }

  /** A REAL PNG: deflate-compressed IDAT, correct CRCs, scanlines
    * pre-filtered with `filterOf(y)` — the decoder must reverse them.
    * `px(y)` are the unfiltered pixel bytes of row y (bpp·w of them).
    */
  private def pngBytes(w: Int, h: Int, colorType: Int,
      px: Int => Array[Int], filterOf: Int => Int): Array[Byte] = {
    val bpp = if (colorType == 0) 1 else 3
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    var prev = new Array[Int](w * bpp)
    for (y <- 0 until h) {
      val cur = px(y)
      val ft = filterOf(y)
      raw.write(ft)
      for (i <- 0 until w * bpp) {
        val a = if (i >= bpp) cur(i - bpp) else 0
        val b = prev(i)
        val c = if (i >= bpp) prev(i - bpp) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw.write((cur(i) - pred) & 0xff)
      }
      prev = cur
    }
    val rawB = raw.toByteArray
    val defl = new java.util.zip.Deflater()
    defl.setInput(rawB); defl.finish()
    val zBuf = new Array[Byte](rawB.length + 128)
    var zLen = 0
    while (!defl.finished()) zLen += defl.deflate(zBuf, zLen, zBuf.length - zLen)
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be32(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      out.write(tb); out.write(data); out.write(be32(crc.getValue))
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk("IDAT", zBuf.take(zLen))
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  test("PngGrayCells: real deflate decode across all five scanline filters; exact cell sums") {
    // 10x10 gray, filter type y % 5 — every filter path exercised
    def v(x: Int, y: Int) = (x * 31 + y * 17 + 5) % 256
    val png = pngBytes(10, 10, 0, y => Array.tabulate(10)(x => v(x, y)), _ % 5)
    val cells = Seq(Tuple1(png)).toDF("payload")
      .select(Multimodal.imageGrayCells($"payload", 2, 2)).as[Seq[Long]].head()
    // 2x2 grid over 10x10: quadrants of 5x5 pixels, luma 1000·v
    def quad(x0: Int, y0: Int) =
      (for { y <- y0 until y0 + 5; x <- x0 until x0 + 5 } yield 1000L * v(x, y)).sum
    assert(cells == Seq(quad(0, 0), quad(5, 0), quad(0, 5), quad(5, 5)))
  }

  test("PngGrayCells: RGB truecolor uses BT.601 integer luma; gray/RGB agree on gray content") {
    def v(x: Int, y: Int) = (x * 13 + y * 7 + 9) % 256
    val gray = pngBytes(6, 4, 0, y => Array.tabulate(6)(x => v(x, y)), _ % 5)
    val rgb = pngBytes(6, 4, 2,
      y => Array.tabulate(18)(i => v(i / 3, y)), y => (y + 3) % 5)
    val out = Seq((gray, rgb)).toDF("g", "c")
      .select(Multimodal.imageGrayCells($"g", 3, 2).as("cg"),
        Multimodal.imageGrayCells($"c", 3, 2).as("cc"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(out._1 == out._2, "299+587+114 = 1000: gray content scores identically")
  }

  test("PngGrayCells: corrupt, truncated, unsupported variants are NULL, not a crash") {
    def v(x: Int, y: Int) = (x + y) % 256
    val good = pngBytes(8, 8, 0, y => Array.tabulate(8)(x => v(x, y)), _ => 0)
    val interlaced = good.clone(); interlaced(28) = 1     // IHDR interlace flag
    val depth16 = good.clone(); depth16(24) = 16          // IHDR bit depth
    val rows = Seq(
      Tuple1(good), Tuple1(good.dropRight(20)), Tuple1(interlaced),
      Tuple1(depth16), Tuple1("not a png".getBytes("UTF-8")))
      .toDF("payload")
      .select(Multimodal.imageGrayCells($"payload", 2, 2).isNull).as[Boolean].collect()
    assert(rows.toSeq == Seq(false, true, true, true, true))
  }

  test("imageDHash: uniform brightness offset leaves the hash unchanged") {
    def base(x: Int, y: Int) = (x * 29 + y * 31) % 240
    val img0 = pngBytes(16, 16, 0, y => Array.tabulate(16)(x => base(x, y)), _ % 5)
    val img1 = pngBytes(16, 16, 0, y => Array.tabulate(16)(x => base(x, y) + 7), _ % 5)
    val other = pngBytes(16, 16, 0, y => Array.tabulate(16)(x => (x * 7 ^ y * 13) % 256), _ % 5)
    val hs = Seq((1L, img0), (2L, img1), (3L, other)).toDF("id", "p")
      .select($"id", Multimodal.imageDHash(Multimodal.imageGrayCells($"p", 8, 8), 8, 8).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L), "a uniform offset must not move the dHash")
    assert(hs(1L) != hs(3L), "an unrelated image must hash differently")
  }

  test("image near-dup: banded pairs ≡ brute-force all-pairs over decoded hashes") {
    // 12 images in 3 groups of 4: r = 0,1,2 are the same base + uniform
    // brightness offset (identical dHash); r = 3 unrelated — the q202
    // construction on the raster lane
    def pix(doc: Long, x: Int, y: Int): Int = {
      val g = doc / 4; val r = doc % 4; val p = y * 16 + x
      if (r == 3) (((doc * doc + 7) * (p * p + 31)) % 244).toInt
      else (((g * g * 131 + 7) * (p * p * 17 + p + 31)) % 244 + r).toInt
    }
    val docs = (0L until 12L).map { doc =>
      (doc, pngBytes(16, 16, 0, y => Array.tabulate(16)(x => pix(doc, x, y)), _ % 5))
    }
    val df = docs.toDF("doc_id", "payload")
    val got = Multimodal.imageNearDupPairs(df, "doc_id", "payload", 8, 8, 2)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    val hs = df
      .select($"doc_id", Multimodal.imageDHash(Multimodal.imageGrayCells($"payload", 8, 8), 8, 8).as("h"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- 0L until 12L; b <- (a + 1) until 12L
      ham = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if ham <= 2
    } yield (a, b, ham)).toSet
    assert(got == brute, "pigeonhole banding must reproduce the all-pairs filter exactly")
    for (g <- 0L until 3L)
      assert(got.contains((g * 4, g * 4 + 1, 0)) && got.contains((g * 4, g * 4 + 2, 0)),
        s"group $g's brightness variants must pair")
  }

  /** A REAL GIF with genuinely LZW-COMPRESSED pixel data: grayscale
    * palette of `2^minCode` levels, standard encoder (dictionary growth,
    * width bumps, KwKwK handled by construction), optional interlace.
    */
  private def gifBytes(w: Int, h: Int, minCode: Int, px: (Int, Int) => Int,
      interlaced: Boolean = false): Array[Byte] = {
    val nPal = 1 << minCode
    val clear = nPal; val eoi = nPal + 1
    // interlace reorders the ROW STREAM; pixel (x, y) is looked up by the
    // de-interlaced position the decoder will assign
    val rows: Seq[Int] =
      if (interlaced) (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
      else 0 until h
    val idx = rows.flatMap(y => (0 until w).map(x => px(x, y)))
    // real LZW encode (dictionary growth, width bumps, dict-full reset).
    // Width convention (python-simulated against the decoder over random +
    // KwKwK + reset-stress streams): the decoder's dictSize lags the
    // encoder's `next` by one, so the encoder bumps when next-1 hits
    // 2^width — and the FINAL flush mirrors the decoder's entry-add so a
    // width boundary just before EOI stays in sync
    val bits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (code, width)
    var width = minCode + 1
    var dict = scala.collection.mutable.HashMap.empty[List[Int], Int]
    var next = eoi + 1
    def countAdd(): Unit = if (next < 4096) {
      next += 1
      val m = next - 1
      if (m < 4096 && (m & (m - 1)) == 0 && m > clear) width = math.min(width + 1, 12)
    }
    bits += ((clear, width))
    var cur = List.empty[Int]
    def codeOf(s: List[Int]) = if (s.length == 1) s.head else dict(s)
    for (p <- idx) {
      if (cur.isEmpty) cur = List(p)
      else {
        val ext = cur :+ p
        if (dict.contains(ext)) cur = ext
        else {
          bits += ((codeOf(cur), width))
          if (next < 4096) { dict(ext) = next; countAdd() }
          else {
            bits += ((clear, width))
            dict = scala.collection.mutable.HashMap.empty; next = eoi + 1; width = minCode + 1
          }
          cur = List(p)
        }
      }
    }
    if (cur.nonEmpty) { bits += ((codeOf(cur), width)); countAdd() }
    bits += ((eoi, width))
    // pack LSB-first
    val packed = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var acc = 0L; var n = 0
    for ((c, wd) <- bits) {
      acc |= c.toLong << n; n += wd
      while (n >= 8) { packed += (acc & 0xff).toByte; acc >>>= 8; n -= 8 }
    }
    if (n > 0) packed += (acc & 0xff).toByte
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(w); le16(h)
    out.write(0x80 | (minCode - 1)) // GCT present, size 2^minCode
    out.write(0); out.write(0)
    for (i <- 0 until nPal) { val v = i * 255 / (nPal - 1); out.write(v); out.write(v); out.write(v) }
    // a comment extension, to exercise the block skip
    out.write(0x21); out.write(0xFE); out.write(2); out.write('h'); out.write('i'); out.write(0)
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h)
    out.write(if (interlaced) 0x40 else 0)
    out.write(minCode)
    var i = 0
    while (i < packed.length) {
      val len = math.min(255, packed.length - i)
      out.write(len); out.write(packed.slice(i, i + len).toArray); i += len
    }
    out.write(0); out.write(0x3B)
    out.toByteArray
  }

  test("GifGrayCells: real LZW decode (dictionary growth, width bumps, block skip)") {
    val nPal = 16 // minCode 4
    def pv(x: Int, y: Int) = (x * 7 + y * 3) % nPal
    val gif = gifBytes(12, 10, 4, pv)
    val cells = Seq(Tuple1(gif)).toDF("p")
      .select(Multimodal.imageGrayCells($"p", 2, 2)).as[Seq[Long]].head()
    def luma(i: Int) = { val v = i * 255 / (nPal - 1); 1000L * v }
    def quad(xs: Range, ys: Range) = (for { y <- ys; x <- xs } yield luma(pv(x, y))).sum
    assert(cells == Seq(quad(0 until 6, 0 until 5), quad(6 until 12, 0 until 5),
      quad(0 until 6, 5 until 10), quad(6 until 12, 5 until 10)))
  }

  test("GifGrayCells: interlaced rows land at their de-interlaced positions") {
    def pv(x: Int, y: Int) = (x + y * 5) % 16
    val plain = gifBytes(8, 8, 4, pv, interlaced = false)
    val inter = gifBytes(8, 8, 4, pv, interlaced = true)
    val out = Seq((plain, inter)).toDF("a", "b")
      .select(Multimodal.imageGrayCells($"a", 4, 4).as("ca"),
        Multimodal.imageGrayCells($"b", 4, 4).as("cb"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(out._1 == out._2, "interlaced decode must equal the plain raster")
  }

  test("decoder fuzz: random bytes and mutated/truncated valid files never crash a parser") {
    // the never-a-crash contract, enforced mechanically: every binary
    // parser must return a VALUE (possibly null/None) for arbitrary
    // input — 500 random blobs plus 600 single-byte mutations and 200
    // truncations of genuinely valid files of every supported container
    val rnd = new scala.util.Random(424242)
    val validPng = pngBytes(16, 16, 0, y => Array.tabulate(16)(x => (x * y) % 256), _ % 5)
    val validGif = gifBytes(12, 10, 4, (x, y) => (x + y) % 16)
    val validJpg = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16) img.getRaster.setSample(x, y, 0, (x * 7 + y) % 256)
      jpegBytes(img, 0.8f)
    }
    val validWav = wavBytes(8000, (0 until 64).map(i => (i * 997) % 40000 - 20000))
    val validMp4 = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" === 3).select(Shared.mp4PayloadCol)
      .collect()(0).getAs[Array[Byte]](0)
    val seeds = Seq(validPng, validGif, validJpg, validWav, validMp4)
    def decodeAll(b: Array[Byte]): Unit = {
      val one = org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(1))
      graft.expr.PngGrayCells(one, 8, 8).compute(b)
      graft.expr.GifGrayCells(one, 8, 8).compute(b)
      graft.expr.JpegGrayCells(one, 8, 8).compute(b)
      Multimodal.decodeWavPcm(b, 16)
      ()
    }
    val cases =
      Seq.fill(500)(Array.fill[Byte](rnd.nextInt(2000))(rnd.nextInt().toByte)) ++
      Seq.fill(600) {
        val base = seeds(rnd.nextInt(seeds.length)).clone()
        for (_ <- 0 to rnd.nextInt(4))
          base(rnd.nextInt(base.length)) = rnd.nextInt().toByte
        base
      } ++
      Seq.fill(200) {
        val base = seeds(rnd.nextInt(seeds.length))
        base.take(rnd.nextInt(base.length + 1))
      }
    cases.zipWithIndex.foreach { case (b, i) =>
      try decodeAll(b)
      catch { case e: Throwable =>
        fail(s"case $i (${b.length} bytes) crashed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // the other structured parsers run through the Column API over the
    // same corpus (mp4/dims/wav-info walk headers only)
    val fuzzDf = cases.map(Tuple1(_)).toDF("payload")
    fuzzDf.select(
        Multimodal.imageDims($"payload"), Multimodal.wavInfo($"payload"),
        Multimodal.mp4Info($"payload"), Multimodal.mediaMeta($"payload"))
      .collect()
  }

  test("decoder bomb/truncation guards: overflow IHDR and mid-descriptor GIF cut are NULL") {
    // PNG IHDR with w = h = 0xC0000000: the Long product wraps past the
    // bomb cap — must NULL, not NegativeArraySizeException (review find)
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    png.write(Array[Byte](0, 0, 0, 13))
    png.write("IHDR".getBytes("US-ASCII"))
    png.write(Array(0xC0, 0, 0, 0, 0xC0, 0, 0, 0, 8, 0, 0, 0, 0).map(_.toByte))
    png.write(new Array[Byte](20)) // fake CRC + a stub chunk header tail
    // GIF cut INSIDE the 10-byte image descriptor: bounds must route to
    // NULL, not throw out of the le16 read (review find)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](8, 0, 8, 0, 0, 0, 0) ++ Array[Byte](0x2C)
    val rows = Seq(Tuple1(png.toByteArray), Tuple1(gif)).toDF("p")
      .select(Multimodal.imageGrayCells($"p", 2, 2).isNull).as[Boolean].collect()
    assert(rows.toSeq == Seq(true, true))
  }

  test("GifGrayCells: corrupt/truncated GIFs are NULL; PNG/GIF dispatch coalesces") {
    def pv(x: Int, y: Int) = (x + y) % 16
    val gif = gifBytes(8, 8, 4, pv)
    val png = pngBytes(8, 8, 0, y => Array.tabulate(8)(x => pv(x, y) * 255 / 15), _ % 5)
    val rows = Seq(
      Tuple1(gif), Tuple1(png), Tuple1(gif.dropRight(12)),
      Tuple1("GIF89a junk".getBytes("US-ASCII")))
      .toDF("p")
      .select(Multimodal.imageGrayCells($"p", 2, 2).as("c")).collect()
    assert(!rows(0).isNullAt(0) && !rows(1).isNullAt(0), "both containers decode")
    assert(rows(2).isNullAt(0) && rows(3).isNullAt(0), "corrupt GIFs are NULL")
    // gray palette ≡ gray PNG on identical content (BT.601 weights sum to 1000)
    assert(rows(0).getSeq[Long](0) == rows(1).getSeq[Long](0))
  }

  test("dHash index: persisted search ≡ direct filter; appends admit; deletes resurrect") {
    def clip(seed: Int, off: Int) =
      wavBytes(8000, (0 until 64).map(i => ((i * seed) % 50000) - 25000 + off))
    val corpus = Seq((1L, clip(104729, 0)), (2L, clip(31337, 0))).toDF("doc_id", "payload")
    val batch = Seq(
      (10L, clip(104729, 3)),  // uniform offset of stored clip 1 → dropped
      (11L, clip(7919, 0)))    // unrelated → kept
      .toDF("doc_id", "payload")
    val prefix = "mmspec_dhidx"
    Multimodal.writeDHashIndex(corpus, "doc_id", "payload", 32, 2, prefix, buckets = 2)
    def survivors(b: org.apache.spark.sql.DataFrame) =
      Multimodal.audioDedupAgainstIndex(b, "doc_id", "payload", 32, 2, prefix)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(batch) == Seq(11L))
    // admit the survivor, then a near-dup of IT must be dropped
    Multimodal.writeDHashIndex(batch.filter($"doc_id" === 11L),
      "doc_id", "payload", 32, 2, prefix, mode = "append", buckets = 2)
    val batch2 = Seq((20L, clip(7919, 5))).toDF("doc_id", "payload")
    assert(survivors(batch2) == Seq.empty, "appended clip must block its offsets")
    // tombstone clip 1: its offset (10) is admissible again — but 11 is
    // now STORED (appended above), so it self-matches and drops
    Multimodal.deleteFromDHashIndex(spark, Seq(Tuple1(1L)).toDF("doc_id"), "doc_id", prefix)
    assert(survivors(batch) == Seq(10L), "deleting the stored clip readmits its offsets")
    // compaction folds the tombstone in physically; semantics unchanged
    Multimodal.compactDHashIndex(spark, prefix, buckets = 2)
    assert(survivors(batch) == Seq(10L))
  }

  test("wide (two-word) dHash: banded pairs ≡ brute force; word-straddling " +
      "band keys; geometry guard; widened rule") {
    import org.apache.spark.sql.functions.{col => c}
    // 40 clips in groups of 4 (r=0,1,2 offsets of a base, r=3 unrelated),
    // long enough that 101 lanes all receive samples
    def clip(seed: Int, off: Int) =
      wavBytes(8000, (0 until 160).map(i => ((i * seed) % 50000) - 25000 + off))
    val rows = (0 until 40).map { id =>
      val g = id / 4; val r = id % 4
      val payload =
        if (r == 3) clip(7919 + 131 * id, 0) else clip(104729 + 977 * g, r)
      (id.toLong, payload)
    }
    val df = rows.toDF("doc_id", "payload")
    val got = Multimodal.audioNearDupPairsWide(df, "doc_id", "payload",
        lanes = 101, maxHamming = 3)
      .select(c("a"), c("b"), c("hamming")).as[(Long, Long, Long)]
      .collect().toSet
    // brute force over the SAME wide hashes (two-word popcount sum)
    val hs = Multimodal.audioHashesWide(df, "doc_id", "payload", 101)
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      (a, a0, a1) <- hs; (b, b0, b1) <- hs if a < b
      h = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute, s"banded ${got.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture must produce at least one qualifying pair")
    // every within-group offset pair qualifies (gradient-sign invariance is
    // approximate at the non-divisor lane count, but ≤ 3 bits here)
    // — implied by the equality above; spot-check one expected pair exists
    assert(brute.exists { case (a, b, _) => b - a <= 2 && a / 4 == b / 4 })
    // exactly-once: no duplicate (a, b) from multi-band collisions
    val ab = got.toSeq.map { case (a, b, _) => (a, b) }
    assert(ab.distinct.size == ab.size)
    // degenerate geometry fails loudly: lanes=101 (100 bits), maxHamming 50
    // → 51 bands of ceil-width 2 → band 50 starts at bit 100: bitless
    val ex = intercept[IllegalArgumentException] {
      Multimodal.audioNearDupPairsWide(df, "doc_id", "payload",
        lanes = 101, maxHamming = 50).collect()
    }
    assert(ex.getMessage.contains("degenerate") || ex.getMessage.contains("width"))
    // widened rule: coincides with the single-word rule inside its range,
    // lifts the cap past it, clamps at the two-word limit
    assert(Multimodal.dHashLanesForWide(1000L) == Multimodal.dHashLanesFor(1000L))
    assert(Multimodal.dHashLanesFor(300000000L) == 61) // single-word cap
    assert(Multimodal.dHashLanesForWide(300000000L) == 1 + 3 * 21) // 64 — past it
    assert(Multimodal.dHashLanesForWide(Long.MaxValue) == 121) // two-word cap
  }

  test("dHash index geometry sidecar: derived writes record it, stored probes " +
      "read it back, mismatched appends fail loudly") {
    def clip(seed: Int, off: Int) =
      wavBytes(8000, (0 until 64).map(i => ((i * seed) % 50000) - 25000 + off))
    val corpus = Seq((1L, clip(104729, 0)), (2L, clip(31337, 0))).toDF("doc_id", "payload")
    val prefix = "mmspec_dhgeo"
    // derived write: 2 clips at targetBucket 1 → width 1, 1+3·1=4 → floor 32
    val lanes = Multimodal.writeDHashIndexDerived(corpus, "doc_id", "payload",
      maxHamming = 2, tablePrefix = prefix, buckets = 2, targetBucket = 1L)
    assert(lanes == Multimodal.dHashLanesFor(2L, 2, 1L))
    val g = Multimodal.hashIndexGeometry(spark, prefix).getOrElse(fail("no sidecar"))
    assert(g.head == "audio" && g.lanes.contains(lanes) && g.nBits == lanes - 1 &&
      g.maxHamming == 2 && g.corpusN.contains(2L) && g.derived)
    // stored-geometry probe ≡ explicit-geometry probe with the sidecar's values
    val batch = Seq((10L, clip(104729, 3)), (11L, clip(7919, 0))).toDF("doc_id", "payload")
    val viaStored = Multimodal.audioDedupAgainstStoredIndex(batch, "doc_id", "payload", prefix)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaExplicit = Multimodal.audioDedupAgainstIndex(batch, "doc_id", "payload",
        lanes, 2, prefix)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaStored == viaExplicit && viaStored == Seq(11L))
    // appending under a DIFFERENT geometry is the silent-zero-recall bug —
    // it must fail loudly, and the index must be untouched by the attempt
    val ex = intercept[IllegalArgumentException] {
      Multimodal.writeDHashIndex(batch.filter($"doc_id" === 11L),
        "doc_id", "payload", lanes = 48, maxHamming = 2, prefix,
        buckets = 2, mode = "append")
    }
    assert(ex.getMessage.contains("geometry mismatch"))
    assert(Multimodal.audioDedupAgainstStoredIndex(batch, "doc_id", "payload", prefix)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L))
    // matching-geometry append still admits (and keeps the sidecar)
    Multimodal.writeDHashIndex(batch.filter($"doc_id" === 11L),
      "doc_id", "payload", lanes, 2, prefix, buckets = 2, mode = "append")
    assert(Multimodal.audioDedupAgainstStoredIndex(
        Seq((20L, clip(7919, 5))).toDF("doc_id", "payload"),
        "doc_id", "payload", prefix)
      .select("doc_id").as[Long].collect().isEmpty)
    // a probe against a sidecar-less prefix fails loudly, not silently
    val miss = intercept[IllegalStateException] {
      Multimodal.audioDedupAgainstStoredIndex(batch, "doc_id", "payload", "mmspec_nosuch")
    }
    assert(miss.getMessage.contains("geometry sidecar"))
    // the image head rejects an audio-head index
    val wrongHead = intercept[IllegalArgumentException] {
      Multimodal.imageDedupAgainstStoredIndex(batch, "doc_id", "payload", prefix)
    }
    assert(wrongHead.getMessage.contains("hash head"))
    // a TRUNCATED sidecar (table exists, zero rows — a partially-written
    // _meta) folds into the same None / loud-refusal path as a missing
    // one, not a bare NoSuchElementException
    val metaSchema = spark.table(s"${prefix}_meta").schema
    spark.sql(s"DROP TABLE ${prefix}_meta")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], metaSchema)
      .write.format("parquet").saveAsTable(s"${prefix}_meta")
    assert(Multimodal.hashIndexGeometry(spark, prefix).isEmpty)
    val trunc = intercept[IllegalStateException] {
      Multimodal.audioDedupAgainstStoredIndex(batch, "doc_id", "payload", prefix)
    }
    assert(trunc.getMessage.contains("geometry sidecar"))
  }

  private def jpegBytes(img: java.awt.image.BufferedImage, quality: Float,
      progressive: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    if (progressive) p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    out.toByteArray
  }

  private def jpegCellsOf(bytes: Array[Byte], gw: Int = 8, gh: Int = 8): Option[Seq[Long]] = {
    val r = Seq(Tuple1(bytes)).toDF("payload")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expr.JpegGrayCells(org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col("payload")), gw, gh)).as("c"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getSeq[Long](0))
  }

  /** Ground-truth cell sums from ImageIO's OWN decode of the same bytes —
    * the reference implementation's pixels, folded with the engine's luma
    * and cell conventions.
    */
  private def imageioCells(bytes: Array[Byte], gw: Int = 8, gh: Int = 8): Seq[Long] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth; val h = img.getHeight
    // gray JPEGs: read raster samples directly — getRGB would run the
    // LINEAR-gray -> sRGB color-space conversion (a gamma curve) and the
    // reference would no longer be the decoded Y samples
    val gray = img.getColorModel.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY
    val cells = new Array[Long](gw * gh)
    for (y <- 0 until h; x <- 0 until w) {
      val luma =
        if (gray) 1000L * img.getRaster.getSample(x, y, 0)
        else {
          val rgb = img.getRGB(x, y)
          299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
        }
      cells((y.toLong * gh / h).toInt * gw + (x.toLong * gw / w).toInt) += luma
    }
    cells.toSeq
  }

  test("JpegGrayCells: real baseline decode agrees with ImageIO on gray and RGB JPEGs") {
    // grayscale: single-component, single non-interleaved scan
    val gray = new java.awt.image.BufferedImage(48, 32,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 32; x <- 0 until 48) {
      val v = (x * 5 + y * 3 + (x * y) % 31) % 256
      gray.getRaster.setSample(x, y, 0, v)
    }
    val gBytes = jpegBytes(gray, 0.9f)
    val gGot = jpegCellsOf(gBytes).getOrElse(fail("gray JPEG decoded to NULL"))
    val gRef = imageioCells(gBytes)
    gGot.zip(gRef).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= b / 50 + 2000, s"gray cell $i: engine $a vs ImageIO $b")
    }
    // RGB: three components, interleaved scan, subsampled chroma (the
    // writer's default) — exercises the chroma entropy-advance path
    val rgb = new java.awt.image.BufferedImage(40, 40,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 40; x <- 0 until 40)
      rgb.setRGB(x, y, ((x * 6 % 256) << 16) | ((y * 6 % 256) << 8) | ((x + y) * 3 % 256))
    val cBytes = jpegBytes(rgb, 0.9f)
    val cGot = jpegCellsOf(cBytes).getOrElse(fail("RGB JPEG decoded to NULL"))
    val cRef = imageioCells(cBytes)
    // engine luma = decoded Y; reference = 601 luma of the YCbCr->RGB
    // round trip — equal up to chroma rounding, so a looser (but still
    // per-cell) bound
    cGot.zip(cRef).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= b / 25 + 4000, s"rgb cell $i: engine $a vs ImageIO $b")
    }
  }

  test("JpegGrayCells: progressive, truncated, and corrupt inputs are NULL") {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16) img.getRaster.setSample(x, y, 0, (x * y) % 256)
    val prog = jpegBytes(img, 0.9f, progressive = true)
    assert(jpegCellsOf(prog).isEmpty, "progressive must be NULL, not misdecoded")
    val base = jpegBytes(img, 0.9f)
    assert(jpegCellsOf(base).isDefined)
    assert(jpegCellsOf(base.take(base.length / 2)).isEmpty, "truncated scan")
    assert(jpegCellsOf(base.take(8)).isEmpty, "header-only prefix")
    assert(jpegCellsOf("GIF89a then garbage".getBytes).isEmpty, "wrong container")
    val zeroed = base.clone(); java.util.Arrays.fill(zeroed, 30, 60, 0.toByte)
    jpegCellsOf(zeroed) // corrupt tables/headers: any outcome but a crash
  }

  test("JpegGrayCells: DRI/RSTn restart intervals reset the DC predictor") {
    // hand-built 64x64 gray baseline file on the q216 custom tables
    // (cat4@4 bits, cat1@7, EOB@8 — every block two stuffing-free bytes),
    // with DRI = 8 so each block row is its own restart interval: the DC
    // predictor must reset to 0 at every RSTn, so row r's walk restarts
    // from its first diff instead of continuing row r-1's sum
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def seg(m: Int, body: Seq[Int]): Unit = {
      u8(0xFF); u8(m); val len = body.length + 2; u8(len >> 8); u8(len); body.foreach(u8)
    }
    u8(0xFF); u8(0xD8)
    seg(0xDB, 0x00 +: Seq.fill(64)(8))
    seg(0xC0, Seq(8, 0, 64, 0, 64, 1, 1, 0x11, 0))
    seg(0xC4, Seq(0x00) ++ Seq(0, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++ Seq(0x04, 0x01))
    seg(0xC4, Seq(0x10) ++ Seq(0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0) ++ Seq(0x00))
    seg(0xDD, Seq(0, 8)) // DRI: restart every 8 MCUs = one block row
    seg(0xDA, Seq(1, 1, 0x00, 0, 63, 0))
    def sgn(row: Int, c: Int): Int = if ((row * 7 + c * 3) % 2 == 0) 1 else 0
    for (row <- 0 until 8) {
      if (row > 0) { u8(0xFF); u8(0xD0 | ((row - 1) & 7)) } // RSTn between intervals
      u8(0x08 + row); u8(0x00)                              // cat4 diff +(8+row)
      for (c <- 1 until 8) { u8(0x10 | sgn(row, c)); u8(0x00) } // ±1 cat1 diffs
    }
    u8(0xFF); u8(0xD9)
    val bytes = out.toByteArray
    val got = jpegCellsOf(bytes).getOrElse(fail("RST file decoded to NULL"))
    for (row <- 0 until 8) {
      var dc = 8 + row // fresh predictor per interval — THE property under test
      for (c <- 0 until 8) {
        if (c > 0) dc += 2 * sgn(row, c) - 1
        assert(got(row * 8 + c) == 64000L * (128 + dc), s"block ($row,$c)")
      }
    }
    // the JDK decoder agrees the file is valid and restarts the same way
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getRaster.getSample(3, 3, 0) == 128 + 8)
    assert(img.getRaster.getSample(3, 7 * 8 + 3, 0) == 128 + 15, "row 7 restarts at +15")
  }

  test("q216's in-plan JPEG synthesis emits byte-valid files: exact DC walk, JDK-decodable") {
    val df = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" < 8)
      .select($"doc_id", Shared.jpegPayloadCol.as("payload"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(rows.size == 8)
    def sBit(doc: Long, b: Long): Long = {
      val g = doc / 4; val r = doc % 4
      val x = if (r == 3) ((doc % 65536) * (doc % 65536) + 7) * (b * b + 31)
              else ((g % 65536) * (g % 65536) * 131 + 7) * (b * b * 17 + b + 31)
      x % 65537 * 2654435761L % 65537 % 2
    }
    for ((doc, bytes) <- rows) {
      val r = doc % 4
      // expected: pixel of block b = 128 + DC_b, the ±1 walk off 8 + r
      var dc = 8 + (if (r == 3) 0L else r)
      val expectedCells = (0 until 64).map { b =>
        if (b > 0) dc += 2 * sBit(doc, b) - 1
        64000L * (128 + dc)
      }
      // engine decode is integer-exact
      assert(jpegCellsOf(bytes).get == expectedCells, s"doc $doc engine cells")
      // and the JDK's own decoder accepts the custom-table baseline file
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == 64 && img.getHeight == 64, s"doc $doc JDK read")
      var dc2 = 8 + (if (r == 3) 0L else r)
      for (b <- 0 until 64) {
        if (b > 0) dc2 += 2 * sBit(doc, b) - 1
        val px = img.getRaster.getSample((b % 8) * 8 + 3, (b / 8) * 8 + 3, 0)
        assert(math.abs(px - (128 + dc2)) <= 1, s"doc $doc block $b: JDK $px vs ${128 + dc2}")
      }
    }
  }

  test("GifGrayCells decodes the JDK's own GIF encoder output exactly") {
    // ImageIO's GIF writer produces genuinely compressed variable-width
    // LZW — the decoder must reproduce the raster byte-for-byte (GIF is
    // lossless, so unlike the JPEG check this is an EXACT gate)
    val w = 40; val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 11 + y * 7 + (x * y) % 29) % 256)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", out))
    val bytes = out.toByteArray
    val got = Seq(Tuple1(bytes)).toDF("payload")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expr.GifGrayCells(org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col("payload")), 8, 8)).as("c"))
      .collect()(0)
    assert(!got.isNullAt(0), "JDK-written GIF decoded to NULL")
    // reference: ImageIO's own decode of the same bytes (gray raster ->
    // palette round trip may remap values, so compare against the re-read)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val ref = new Array[Long](64)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = back.getRGB(x, y)
      val luma = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)
      ref((y.toLong * 8 / h).toInt * 8 + (x.toLong * 8 / w).toInt) += luma
    }
    assert(got.getSeq[Long](0) == ref.toSeq, "cells diverge from the JDK decode")
  }

  test("cross-format dedup: the same raster as PNG and as JPEG hashes together") {
    // the unified-lane payoff: one image stored in two containers (a
    // lossless PNG and a lossy JPEG re-encode) must land within the
    // near-dup budget — strong-gradient content so per-cell deltas dwarf
    // JPEG quantization error
    val w = 64; val h = 64
    def pix(x: Int, y: Int): Int = math.min(255, x * 3 + y)
    val png = pngBytes(w, h, 0, y => Array.tabulate(w)(x => pix(x, y)), _ % 5)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, pix(x, y))
    val jpg = jpegBytes(img, 0.9f)
    val df = Seq((1L, png), (2L, jpg)).toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDupPairs(df, "doc_id", "payload")
      .select($"a", $"b", $"hamming").as[(Long, Long, Long)].collect()
    assert(pairs.length == 1 && pairs(0)._1 == 1L && pairs(0)._2 == 2L,
      s"PNG and its JPEG re-encode must pair: ${pairs.mkString(",")}")
    assert(pairs(0)._3 <= 2, s"cross-format hamming ${pairs(0)._3}")
  }

  test("image dHash index: persisted search ≡ direct filter; appends admit; deletes resurrect") {
    // the audio lifecycle test's raster twin: real deflate-compressed
    // grayscale PNGs (mixed scanline filters), uniform brightness offsets
    // as the near-dup axis
    def img(seed: Int, off: Int) = pngBytes(16, 16, 0,
      y => Array.tabulate(16)(x => ((y * 16 + x) * seed) % 200 + off), _ % 5)
    val corpus = Seq((1L, img(104729, 0)), (2L, img(31337, 0))).toDF("doc_id", "payload")
    val batch = Seq(
      (10L, img(104729, 3)),  // uniform brightness shift of stored image 1 → dropped
      (11L, img(7919, 0)))    // unrelated → kept
      .toDF("doc_id", "payload")
    val prefix = "mmspec_idhidx"
    Multimodal.writeImageDHashIndex(corpus, "doc_id", "payload", 8, 8, 2, prefix,
      buckets = 2)
    def survivors(b: org.apache.spark.sql.DataFrame) =
      Multimodal.imageDedupAgainstIndex(b, "doc_id", "payload", 8, 8, 2, prefix)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(batch) == Seq(11L))
    // admit the survivor, then a brightness shift of IT must be dropped
    Multimodal.writeImageDHashIndex(batch.filter($"doc_id" === 11L),
      "doc_id", "payload", 8, 8, 2, prefix, mode = "append", buckets = 2)
    val batch2 = Seq((20L, img(7919, 5))).toDF("doc_id", "payload")
    assert(survivors(batch2) == Seq.empty, "appended image must block its shifts")
    // tombstone image 1: its shift (10) is admissible again; 11 is stored
    // now so it self-matches and drops
    Multimodal.deleteFromDHashIndex(spark, Seq(Tuple1(1L)).toDF("doc_id"), "doc_id", prefix)
    assert(survivors(batch) == Seq(10L), "deleting the stored image readmits its shifts")
    // compaction folds the tombstone in physically; semantics unchanged
    Multimodal.compactDHashIndex(spark, prefix, buckets = 2)
    assert(survivors(batch) == Seq(10L))
  }

  test("dHashLanesFor: occupancy-constant widening, clamps, rule literal") {
    // the q214 oracle literal: 500 docs, maxHamming 3, targetBucket 1
    // → width 9 → 1 + 4·9 = 37
    assert(Multimodal.dHashLanesFor(500, 3, 1) == 37)
    // floor: the rule never loosens a small corpus below the default 32
    assert(Multimodal.dHashLanesFor(1000, 2) == 32)
    // 10^6 clips at the default target: 2^12 keys per band (the SCALING.md
    // knee the fixed 32-lane default hits is pushed out by 2 bits here)
    assert(Multimodal.dHashLanesFor(1000000, 2) == 37)
    // cap: the single-long boundary
    assert(Multimodal.dHashLanesFor(1L << 40, 2) == 61)
    // integer ceil-log2: exact at powers of two (a float log2 can land on
    // either side and diverge from the SQL oracle's integer derivation)
    assert(Multimodal.dHashLanesFor(512, 3, 1) == 37)  // 2^9 = 512 -> w = 9
    assert(Multimodal.dHashLanesFor(513, 3, 1) == 41)  // one past -> w = 10
    // monotone in n
    val ls = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
      .map(Multimodal.dHashLanesFor(_))
    assert(ls == ls.sorted, ls.toString)
    // derived geometry always clears the degenerate-band guard
    for (n <- Seq(1L, 1000L, 1000000L, 1L << 40); mh <- 0 to 4) {
      val lanes = Multimodal.dHashLanesFor(n, mh)
      val nBits = lanes - 1; val bands = mh + 1
      val width = (nBits + bands - 1) / bands
      assert((bands - 1) * width < nBits, s"degenerate at n=$n mh=$mh lanes=$lanes")
    }
  }

  test("Mp4Info: box walk with v0/v1 headers, largesize, skipped traks; corrupt is NULL") {
    def be32(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def box(t: String, body: Array[Byte]) =
      be32(body.length + 8) ++ t.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    // v1 mvhd: ver 1, flags 0, 8B create, 8B modify, 4B timescale, 8B duration
    val mvhdV1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++ be32(90000) ++ be64(123456789L))
    // trak #1 has an audio-like tkhd (zero dims) — must be skipped
    val tkhd0 = box("tkhd", Array[Byte](0, 0, 0, 0) ++ new Array[Byte](72) ++ be32(0) ++ be32(0))
    // trak #2: v1 tkhd (dims at +88), 640x480 in 16.16
    val tkhdV1 = box("tkhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](84) ++ be32(640L << 16) ++ be32(480L << 16))
    val moov = box("moov", mvhdV1 ++ box("trak", tkhd0) ++ box("trak", tkhdV1))
    // wrap moov in a LARGESIZE box to exercise the 64-bit length path
    val largeMoov = be32(1) ++ "moov".getBytes("US-ASCII") ++ be64(16 + (moov.length - 8)) ++
      moov.drop(8)
    val good = ftyp ++ largeMoov
    val rows = Seq(Tuple1(good), Tuple1(good.dropRight(6)), Tuple1("mp4? no".getBytes("UTF-8")))
      .toDF("p")
      .select(Multimodal.mp4Info($"p").as("m"))
      .select($"m.timescale", $"m.duration", $"m.width", $"m.height").collect()
    assert(rows(0).getInt(0) == 90000 && rows(0).getLong(1) == 123456789L &&
      rows(0).getInt(2) == 640 && rows(0).getInt(3) == 480)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("q212's in-plan mp4 synthesis parses back to its own field formulas") {
    val out = Seq(0L, 7L, 99L).toDF("doc_id")
      .select($"doc_id", Multimodal.mp4Info(Shared.mp4PayloadCol).as("m"))
      .select($"doc_id", $"m.timescale", $"m.duration", $"m.width", $"m.height")
      .as[(Long, Int, Long, Int, Int)].collect()
    for ((doc, ts, dur, w, h) <- out) {
      assert(ts == 1000 && dur == (doc % 100000) * 40 + 40)
      assert(w == (doc * 7 + 13) % 1920 + 16 && h == (doc * 11 + 7) % 1080 + 16)
    }
  }

  test("q208's in-plan PNG synthesis emits byte-valid files: CRCs, zlib, pixel formula") {
    // independent validation with the JDK's own CRC32/Inflater — every
    // chunk CRC must check out and the zlib stream must inflate to the
    // formula's scanlines (adler verified by the wrapped Inflater)
    val payloads = Seq(0L, 5L, 7L).toDF("doc_id")
      .select($"doc_id", Shared.pngPayloadCol.as("p"))
      .as[(Long, Array[Byte])].collect().toMap
    def be32(b: Array[Byte], i: Int) = ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    for ((doc, b) <- payloads) {
      assert(b.take(8).map(_ & 0xff).toSeq == Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      var off = 8
      var idat = Array.empty[Byte]
      while (off + 8 <= b.length) {
        val len = be32(b, off).toInt
        val typ = new String(b, off + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(b, off + 4, 4 + len)
        assert(crc.getValue == be32(b, off + 8 + len), s"doc $doc: $typ CRC mismatch")
        if (typ == "IDAT") idat = b.slice(off + 8, off + 8 + len)
        off += 12 + len
      }
      assert(off == b.length, s"doc $doc: trailing garbage")
      // full zlib inflate INCLUDING the adler32 trailer check
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat)
      val raw = new Array[Byte](272)
      var got = 0
      while (!inf.finished() && got < raw.length) got += inf.inflate(raw, got, raw.length - got)
      assert(got == 272 && inf.finished(), s"doc $doc: zlib stream invalid")
      inf.end()
      // scanlines match the generative formula
      val g = doc / 4; val r = doc % 4
      def mix(x: Long) = x % 65537 * 2654435761L % 65537 % 244
      for (y <- 0 until 16) {
        assert(raw(y * 17) == 0, "filter byte")
        for (x <- 0 until 16) {
          val p = y * 16 + x
          val exp = if (r == 3) mix(((doc % 65536) * (doc % 65536) + 7) * (p * p + 31))
                    else mix(((g % 65536) * (g % 65536) * 131 + 7) * (p * p * 17 + p + 31)) + r
          assert((raw(y * 17 + 1 + x) & 0xff) == exp.toInt, s"doc $doc pixel ($x,$y)")
        }
      }
    }
  }

  test("decodeFeatures preserves partitioning (no shuffle in the plan)") {
    val df = Seq((1L, "x".getBytes("UTF-8"))).toDF("id", "payload").repartition(3)
    val out = Multimodal.decodeFeatures(df, "id", "payload", 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"))
  }

  test("decodeFeatures is pure codegen: one WholeStageCodegen span, no object boundary") {
    // the former mapPartitions form split the stage at a
    // Deserialize/SerializeFromObject pair; the expression form must fuse
    // decode + downstream hashing into a single codegen span
    // repartition breaks ConvertToLocalRelation, which would otherwise
    // constant-fold the whole pipeline at plan time
    val df = Seq((1L, wavBytes(8000, Seq(1, 2, 3, 4)))).toDF("id", "payload").repartition(1)
    val out = Multimodal.decodeFeatures(df, "id", "payload", 4)
      .filter($"features".isNotNull)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("MapPartitions") && !plan.contains("SerializeFromObject"),
      s"object-boundary operators survive:\n$plan")
    // the decode projection carries the codegen marker *(n) — the former
    // mapPartitions form ran outside any codegen span
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"decode not codegen'd:\n$plan")
  }
}
