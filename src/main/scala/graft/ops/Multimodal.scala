package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus a feature-extraction path.
  *
  * The decode path is REAL for WAV/PCM ([[decodeFeatures]] walks RIFF
  * chunks, decodes 16-bit little-endian PCM, and computes exact integer
  * signal features — q56 hash-checks it against an oracle that replays the
  * payload's generative formula); compressed codecs (jpeg decode, mp3
  * synthesis) would slot into the same `mapPartitions` site. The
  * surrounding design is the 100 TB shape either way: payloads never leave
  * their partition (no shuffle, no driver involvement), metadata is
  * computed by codegen'd expressions in the scan stage, and the output
  * schema is fixed so downstream similarity ops ([[Similarity]]) consume
  * it directly.
  */
object Multimodal {

  /** Magic-byte container sniffing on the payload prefix. */
  def inferFormat(payload: Column): Column = {
    val hx = lower(hex(substring(payload, 1, 8)))
    // the real mp4 test is the 'ftyp' box at byte offset 4 — a leading-zero
    // prefix also matches ICO/TGA/zero-padded blobs
    val ftyp = lower(hex(substring(payload, 5, 4))) === "66747970"
    when(hx.startsWith("ffd8ff"), lit("jpeg"))
      .when(hx.startsWith("89504e47"), lit("png"))
      .when(hx.startsWith("52494646"), lit("riff")) // wav/avi/webp family
      // ID3 tag, or any MPEG frame sync (0xFF + top 3 bits of byte 2:
      // covers fff2/fff3/fffa/fffb and the ffe* MPEG-2 variants)
      .when(hx.startsWith("494433") || hx.startsWith("fff") || hx.startsWith("ffe"),
        lit("mp3"))
      .when(ftyp, lit("mp4"))
      .otherwise(lit("unknown"))
  }

  /** Typed metadata struct — pure expressions, fused into the scan stage. */
  def mediaMeta(payload: Column): Column =
    struct(
      inferFormat(payload).as("format"),
      octet_length(payload).as("byte_len"),
      sha2(payload, 256).as("sha"))

  /** Every-`step`-th byte offsets (frame-sampling shape for fixed-rate
    * payloads): 1-based positions, computed without touching the bytes.
    * Empty payloads need the guard: `sequence(1, 0, step)` with an explicit
    * positive step throws (same trap [[graft.ops.Text.ngrams]] documents).
    */
  def frameOffsets(payload: Column, step: Int): Column = {
    require(step >= 1, "step must be positive") // sequence() would throw mid-job otherwise
    when(octet_length(payload) >= 1,
      sequence(lit(1), octet_length(payload), lit(step)))
      .otherwise(array().cast("array<int>"))
  }

  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def asExpr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** [[graft.expr.Opaque]] fence: pins the undecodable-payload filters
    * where they are written. Unfenced, `decode(payload).isNotNull` is
    * deterministic and pushes through the fan-out exchange into the
    * source scan — on an unsplittable single-row-group file that runs the
    * ENTIRE decode in one task (q208 measured ~2 s single-threaded with
    * 31 idle cores) and then recomputes it above the exchange.
    */
  private def fence(c: Column): Column = asCol(graft.expr.Opaque(asExpr(c)))

  /** REAL header parsing (not the decode stub): `struct(width, height)`
    * from PNG/JPEG/GIF headers, NULL on anything else — the resolution /
    * aspect-ratio gate of an image-curation pipeline, run in the scan
    * stage over header bytes only.
    */
  def imageDims(payload: Column): Column =
    asCol(graft.expr.ImageDims(asExpr(payload)))

  /** REAL WAV header parsing: `struct(sample_rate, channels,
    * bits_per_sample)` from the RIFF fmt chunk, NULL otherwise.
    */
  def wavInfo(payload: Column): Column =
    asCol(graft.expr.WavInfo(asExpr(payload)))

  /** REAL MP4/ISO-BMFF metadata: `struct(timescale, duration, width,
    * height)` from the moov box ([[graft.expr.Mp4Info]] — mvhd v0/v1,
    * first sized tkhd, largesize/to-EOF box sizes) — the video member of
    * the metadata-gate family, NULL on anything unparseable.
    */
  def mp4Info(payload: Column): Column =
    asCol(graft.expr.Mp4Info(asExpr(payload)))

  /** JVM-side mirror of [[inferFormat]] for the `mapPartitions` decode
    * path — same rules, same labels, kept adjacent so they evolve together.
    */
  private def formatOf(b: Array[Byte]): String = {
    def at(i: Int) = if (i < b.length) b(i) & 0xFF else -1
    if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) "jpeg"
    else if (at(0) == 0x89 && at(1) == 0x50 && at(2) == 0x4E && at(3) == 0x47) "png"
    else if (at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x46) "riff"
    else if ((at(0) == 0x49 && at(1) == 0x44 && at(2) == 0x33) ||
             (at(0) == 0xFF && at(1) >= 0 && (at(1) & 0xE0) == 0xE0)) "mp3"
    else if (at(4) == 0x66 && at(5) == 0x74 && at(6) == 0x79 && at(7) == 0x70) "mp4"
    else "unknown"
  }

  /** Decoded-PCM signal features — EXACT integer math end to end (long
    * sums, no float accumulation), so an oracle that replays the payload's
    * generative formula hash-matches bit-for-bit.
    */
  private[graft] case class Pcm(sampleRate: Int, channels: Int, bits: Int,
      nSamples: Long, sumS: Long, sumSq: Long, peak: Long, zeroCross: Long,
      laneSums: Array[Long])

  /** G.711 µ-law expansion table (the CCITT reference arithmetic, 16-bit
    * scale: byte 0x00 → −32124, 0x80 → +32124, 0xFF → 0) — telephony
    * corpora ship 8-bit companded WAV (fmt tag 7) far more often than
    * linear PCM.
    */
  private[graft] val UlawTable: Array[Short] = Array.tabulate(256) { u0 =>
    val u = ~u0 & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** G.711 A-law expansion table (CCITT reference arithmetic, 16-bit
    * scale: 0x2A → −32256, 0xAA → +32256, 0x55 → −8, 0xD5 → +8).
    */
  private[graft] val AlawTable: Array[Short] = Array.tabulate(256) { a0 =>
    val a = a0 ^ 0x55
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** REAL WAV/PCM decode: walk RIFF chunks (fmt + data, even-size padding
    * honored), decode 16-bit little-endian two's-complement samples, and
    * fold them into [[Pcm]] features in one pass:
    * `sum`, `sum of squares` (energy), `peak = max |s|`, sign-change count
    * (zero crossings, `s == 0` counted non-negative), and `dim` per-lane
    * sums (lane `j` accumulates samples `i ≡ j mod dim`) — the fixed-width
    * vector downstream similarity ops consume. None for anything that is
    * not a complete 16-bit PCM WAV.
    */
  private[graft] def decodeWavPcm(b: Array[Byte], dim: Int): Option[Pcm] = {
    def u8(i: Int)  = b(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (b.length < 12 || formatOf(b) != "riff" ||
        !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var off = 12
    var rate = -1; var ch = -1; var bits = -1; var tag = -1
    var subTag = -1 // WAVE_FORMAT_EXTENSIBLE SubFormat GUID, first 16 bits
    var dataOff = -1; var dataLen = -1L
    while (off + 8 <= b.length) {
      val id  = new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32(off + 4)
      val body = off + 8
      if (body + len > b.length) return None // truncated chunk
      if (id == "fmt " && len >= 16) {
        tag = le16(body)
        rate = le32(body + 4).toInt; ch = le16(body + 2); bits = le16(body + 14)
        // WAVEFORMATEXTENSIBLE (len >= 40): cbSize@16, wValidBits@18,
        // dwChannelMask@20, SubFormat GUID@24 — the GUID's leading 16 bits
        // are the real codec tag; an extensible wrapper around a non-PCM
        // codec must be rejected, not misdecoded as linear samples
        if (tag == 0xFFFE) subTag = if (len >= 40) le16(body + 24) else -1
      } else if (id == "data") { dataOff = body; dataLen = len }
      off = body + len.toInt + (len.toInt & 1) // chunks are even-aligned
    }
    // three decodable shapes: linear 16-bit PCM (tag 1, or a
    // WAVE_FORMAT_EXTENSIBLE wrapper whose SubFormat GUID names PCM —
    // ffmpeg/DAW default for many layouts, identical sample bytes; an
    // extensible wrapper around any other codec rejects via subTag),
    // and G.711 A-law (6) / µ-law (7) —
    // both 8-bit companded, expanded through the CCITT tables to the same
    // exact-integer 16-bit feature pipeline
    val companded = (tag == 6 || tag == 7) && bits == 8
    val pcmTag    = tag == 1 || (tag == 0xFFFE && subTag == 1)
    val linear16  = pcmTag && bits == 16 && dataLen % 2 == 0
    if (rate < 0 || dataOff < 0 || ch < 1 || !(companded || linear16)) return None
    val table = if (tag == 7) UlawTable else AlawTable
    val n = if (linear16) dataLen / 2 else dataLen
    var sumS = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
    val lanes = new Array[Long](dim)
    var prevNeg = false
    var i = 0L
    while (i < n) {
      val s: Long =
        if (linear16) {
          val raw = le16(dataOff + 2 * i.toInt)
          (if (raw >= 0x8000) raw - 0x10000 else raw).toLong
        } else table(u8(dataOff + i.toInt)).toLong
      sumS += s; sumSq += s * s
      val a = math.abs(s); if (a > peak) peak = a
      val neg = s < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      lanes((i % dim).toInt) += s
      i += 1
    }
    Some(Pcm(rate, ch, bits, n, sumS, sumSq, peak, zc, lanes))
  }

  /** Batch feature extraction: `(id, payload)` → `(id, format, byte_len,
    * sample_rate, channels, bits, n_samples, sum_s, sum_sq, peak,
    * zero_cross, features)` with the PCM fields NULL for payloads that are
    * not decodable 16-bit WAV. Pure scan-stage expressions — the byte
    * decode runs inside [[graft.expr.WavPcmFeatures]] (codegen'd, so it
    * fuses into the same WholeStageCodegen as the dHash/banding
    * expressions that consume it; the former `mapPartitions` site broke
    * the stage in two), no shuffle, no driver involvement. `features` is
    * the `dim` per-lane sums — an exact-integer embedding of the signal.
    */
  def decodeFeatures(df: DataFrame, idCol: String, payloadCol: String, dim: Int): DataFrame = {
    require(dim >= 1, "dim must be positive")
    // NULL payloads classify like empty ones (format 'unknown', zero
    // length) rather than NULL-ing the metadata — the mapPartitions
    // contract this projection replaces
    val pb = coalesce(col(payloadCol).cast("binary"), lit(Array.empty[Byte]))
    df.select(col(idCol).cast("long").as(idCol), pb.as("__p"))
      .select(col(idCol),
        inferFormat(col("__p")).as("format"),
        octet_length(col("__p")).cast("long").as("byte_len"),
        asCol(graft.expr.WavPcmFeatures(asExpr(col("__p")), dim)).as("__f"))
      .select(col(idCol), col("format"), col("byte_len"),
        col("__f.sample_rate").as("sample_rate"), col("__f.channels").as("channels"),
        col("__f.bits").as("bits"), col("__f.n_samples").as("n_samples"),
        col("__f.sum_s").as("sum_s"), col("__f.sum_sq").as("sum_sq"),
        col("__f.peak").as("peak"), col("__f.zero_cross").as("zero_cross"),
        col("__f.features").as("features"))
  }

  /** Corpus-derived dHash lane count — [[graft.ops.Similarity.annPlanesFor]]'s
    * occupancy-constant rule on the Hamming-banded lane embedding: the
    * smallest lane count whose per-band key width keeps expected bucket
    * occupancy at or under `targetBucket`, i.e. width ≥ log2(n /
    * targetBucket) with nBits = lanes − 1 = (maxHamming + 1) · width. A
    * FIXED lane count degrades quadratically — candidate volume is
    * ~n² / 2^width per band (SCALING.md: the 32-lane default's ~2^11 keys
    * are fine to ~10^6 clips and quadratic past) — where this rule keeps
    * it O(n · targetBucket). Pass the result as the `lanes` of
    * [[audioNearDupPairs]] / [[audioBandOccupancy]] / [[writeDHashIndex]]
    * whenever the corpus outgrows the default geometry;
    * [[audioBandOccupancy]] is the preflight that shows when.
    *
    * Clamped to [32, 121]: the cap is the two-word hash limit
    * ([[audioDHash]] — 121 lanes → 120 gradient bits), which at
    * maxHamming 2, targetBucket 250 puts the geometry knee past ~10^19
    * clips. The unclamped value is an exact bands·width product, so the
    * [[bandRows]] degenerate-geometry guard never fires for it; the guard
    * still backstops clamped extremes. Width is computed with INTEGER
    * ceil-log2 (no floating log), so power-of-two corpus sizes land
    * exactly and the SQL oracle can replay the same arithmetic without
    * float-rounding divergence.
    *
    * Floor 32 — the proven default geometry — because unlike sign-LSH
    * (where buckets only gate CANDIDATES and the exact verify fixes
    * semantics) the dHash lane count IS the similarity definition: fewer
    * lanes is a coarser near-dup test (measured 98k pairs at 16 lanes vs
    * 4.3k at 32 on the same 5k clips). The rule therefore only ever
    * WIDENS from the default as the corpus grows — it never loosens a
    * small corpus below it.
    */
  def dHashLanesFor(n: Long, maxHamming: Int = 2, targetBucket: Long = 250L): Int = {
    require(n >= 0 && maxHamming >= 0 && targetBucket >= 1,
      "need n >= 0, maxHamming >= 0, positive targetBucket")
    val bands = maxHamming + 1
    // overflow-safe ceil-div: the additive form (n + tb - 1) wraps for n
    // near Long.MaxValue and silently floored the rule to 32
    val x = math.max(1L, n / targetBucket + (if (n % targetBucket == 0) 0L else 1L))
    // exact smallest w with 2^w >= x — the replayable form (ceil of a
    // float log2 can land on either side of an exact power of two)
    val width = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x - 1))
    math.min(MaxAudioLanes, math.max(32, 1 + bands * width))
  }

  /** Bits per word of the audio hash: 60, so a band of up to 60 bits spans
    * at most two adjacent words. */
  private val AudioWordBits = 60

  /** The audio hash's lane limit: two words, 120 gradient bits. */
  private val MaxAudioLanes = 2 * AudioWordBits + 1

  /** Perceptual difference-hash (dHash) over a decoded signal's `lanes`
    * per-lane sums: bit j (j = 0 .. lanes−2) is set iff
    * `lane[j+1] > lane[j]` — the sign of the local gradient, the classic
    * dHash construction applied to the exact-integer lane embedding
    * [[decodeFeatures]] produces from REAL byte decode. Gradient signs are
    * invariant to uniform gain/offset (a constant shift moves equal-count
    * lanes equally), which is what makes it a NEAR-dup hash rather than an
    * exact digest.
    *
    * The hash is a list of 60-bit words: bit j lands in word j / 60 at
    * position j % 60, so up to 61 lanes it is ONE long and 62..121 lanes
    * add a second word. Built from `lanes − 1` literal-index comparisons —
    * whole-stage codegen, no HOF lambda, no per-row allocation.
    */
  def audioDHash(features: Column, lanes: Int): Seq[Column] = {
    require(lanes >= 2 && lanes <= MaxAudioLanes, s"lanes in [2, $MaxAudioLanes]")
    (0 until lanes - 1).grouped(AudioWordBits).zipWithIndex.map { case (bits, w) =>
      bits.map { j =>
        when(element_at(features, j + 2) > element_at(features, j + 1),
          lit(1L << (j - AudioWordBits * w))).otherwise(lit(0L))
      }.reduce(_ + _) // disjoint bits: + ≡ bitwise or
    }.toSeq
  }

  /** Column names of an `nBits` hash in `wordBits`-bit words: `h`, then
    * `h1`, `h2`, … — word 0 keeps the one-long name, so a one-word hash
    * plans exactly as a plain `h` column.
    */
  private def hashWords(nBits: Int, wordBits: Int): Seq[String] =
    (0 until (nBits + wordBits - 1) / wordBits).map(w => if (w == 0) "h" else s"h$w")

  /** Per-band key of a Hamming-banded hash: bits `[b·width, b·width+width)`
    * of the concatenated word space (the last band takes the remainder).
    * A band that straddles a word boundary stitches its key from the two
    * words with plan-time-literal shifts and masks; within one word it is
    * one shift and one mask. Shared by the pair join, its exactly-once
    * filter, and the occupancy preflight so all three see the SAME
    * buckets.
    */
  private def bandKey(words: Seq[Column], wordBits: Int, b: Int, nBits: Int,
      width: Int): Column = {
    val lo = b * width
    val w = math.min(width, nBits - lo)
    val off = lo % wordBits
    val bits0 = math.min(w, wordBits - off)
    val k0 = shiftright(words(lo / wordBits), off).bitwiseAND(lit((1L << bits0) - 1))
    if (bits0 == w) k0
    else k0.bitwiseOR(shiftleft(
      words(lo / wordBits + 1).bitwiseAND(lit((1L << (w - bits0)) - 1)), bits0))
  }

  /** The unpinned `(id, h…, band, key)` band rows — shared by the
    * self-join index (pinned), the occupancy preflight, the persisted
    * index write, and the probe side of the incremental search. `hashed`
    * is `(id, h…)` with the decode already applied — the audio and image
    * front-ends differ only there.
    */
  private def bandRows(hashed: DataFrame, nBits: Int, wordBits: Int,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    val width = (nBits + bands - 1) / bands
    // degenerate-geometry guard: with ceil-width bands, a (nBits, maxHamming)
    // combination where the last band's bit range starts at or past nBits
    // (e.g. nBits=6, maxHamming=3 → width 2, band 3 covers bits [6, 8))
    // would give that band a constant-0 key — silently a full cross-join
    // (output stays correct through the Hamming verify, but the candidate
    // stream is quadratic). Fail loudly instead: every band must own ≥ 1 bit.
    require((bands - 1) * width < nBits,
      s"degenerate Hamming band geometry: nBits=$nBits, maxHamming=$maxHamming " +
        s"leaves band ${bands - 1} with no bits (ceil-width $width); pick " +
        "lanes/grid and maxHamming so all maxHamming+1 bands get at least one bit")
    // a band key must fit one word so it spans at most two: past one
    // audio word this means maxHamming >= 1 — exact duplicates on a
    // multi-word hash are an equality dedup on the words, not a banded search
    require(width <= wordBits, s"band width $width exceeds one $wordBits-bit word — " +
      "raise maxHamming (more, narrower bands) for a hash this wide; " +
      "for maxHamming = 0 use an exact equality dedup on the hash words instead")
    val words = hashWords(nBits, wordBits).map(col)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(words, wordBits, b, nBits, width).as("key"))
    }
    hashed.select(col("id") +: words :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("id") +: words :+ col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
  }

  private def bandedIndex(hashed: DataFrame,
      nBits: Int, wordBits: Int, maxHamming: Int): DataFrame =
    // Pinned UNPARTITIONED (unlike the text LSH index, which pre-shuffles
    // on (band, hv)): Hamming band keys are ≤ ~11 bits, so a pinned
    // (band, key) layout is skew-prone and — being a checkpoint, not an
    // exchange — would lock AQE out of skew-splitting the pair join.
    // Letting each consumer plan its own exchange measured q202 at ×100 at
    // 41 s vs 88 s with the pinned layout; ReusedExchange still unifies
    // the two identical self-join sides.
    // The decode below this pin must stay ABOVE the fan-out exchange —
    // see [[fence]]: an unfenced undecodable-payload filter relocated the
    // whole decode into the single-task source scan, which made this
    // checkpoint read as pure overhead (the 2 s it "cost" was the pushed
    // decode itself). Fenced, the pin is a cheap wide job and both
    // self-join sides read its blocks (decode exactly once).
    Checkpoints.pin(bandRows(hashed, nBits, wordBits, maxHamming), eager = false)

  /** `(id, h…)` decoded-audio dHash rows — the shared head of
    * [[audioNearDupPairs]], [[audioBandOccupancy]] and the audio index.
    */
  private def audioHashes(df: DataFrame, idCol: String, payloadCol: String,
      lanes: Int): DataFrame = {
    val words = audioDHash(col("features"), lanes)
      .zip(hashWords(lanes - 1, AudioWordBits)).map { case (w, name) => w.as(name) }
    decodeFeatures(df, idCol, payloadCol, lanes)
      .filter(fence(col("features").isNotNull))
      .select(col(idCol).as("id") +: words: _*)
  }

  /** Occupancy histogram over a banded index — shared tail of the
    * occupancy preflights.
    */
  private def bandOccupancy(banded: DataFrame): DataFrame =
    banded
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("occ"))
      .groupBy(col("occ")).agg(count(lit(1)).as("n_buckets"))
      .select(col("occ"), col("n_buckets"),
        (col("occ") * (col("occ") - 1) / 2 * col("n_buckets")).cast("long").as("cand_pairs"))
      .orderBy(col("occ"))

  /** Hamming-banded near-dup pairs over prepared `(id, h…)` hashes — the
    * shared engine behind [[audioNearDupPairs]] and [[imageNearDupPairs]];
    * see [[audioNearDupPairs]] for the full banding / exactly-once /
    * maxBucket contract. Every word rides the index rows; the verify is
    * the sum of the per-word popcounts.
    */
  private def hammingNearDupPairs(hashed: DataFrame, nBits: Int, wordBits: Int,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits, "maxHamming in [0, nBits-1]")
    require(maxBucket >= 1, "maxBucket must be positive")
    val bands = maxHamming + 1
    val width = (nBits + bands - 1) / bands
    val words = hashWords(nBits, wordBits)
    // word `h…` of side `from` ("x.", "rep.", …) renamed `ha…` / `hb…`
    def sideWords(from: String, to: String): Seq[Column] =
      words.map(n => col(from + n).as(to + n.drop(1)))
    val banded = bandedIndex(hashed, nBits, wordBits, maxHamming)
    def pairs(idx: DataFrame, extra: Column): DataFrame = idx.as("x")
      .join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .filter(extra)
      .select(Seq(col("x.id").as("a"), col("y.id").as("b")) ++
        sideWords("x.", "ha") ++ sideWords("y.", "hb"): _*)
    def verify(cand: DataFrame): DataFrame = cand
      .select(col("a"), col("b"),
        words.map { n =>
          bit_count(col("ha" + n.drop(1)).bitwiseXOR(col("hb" + n.drop(1))))
        }.reduce(_ + _).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    if (maxBucket == Int.MaxValue) {
      // first-shared-band: no band before this one may have equal keys
      val noEarlierShared = (0 until bands).map { bp =>
        when(lit(bp) < col("x.band"),
          bandKey(words.map(n => col("x." + n)), wordBits, bp, nBits, width) =!=
            bandKey(words.map(n => col("y." + n)), wordBits, bp, nBits, width))
          .otherwise(lit(true))
      }.reduce(_ && _)
      verify(pairs(banded, noEarlierShared))
    } else {
      // min(struct(id, h…)) orders by id first — the representative and
      // its hash in one partial-aggregated pass on the co-partitioned index
      val hot = banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("occ"), min(struct(col("id") +: words.map(col): _*)).as("rep"))
        .filter(col("occ") > maxBucket)
      val cold = banded.join(hot.select(col("band"), col("key")),
        Seq("band", "key"), "left_anti")
      val candHot = banded.join(hot, Seq("band", "key"))
        .filter(col("id") =!= col("rep.id"))
        .select(Seq(col("rep.id").as("a"), col("id").as("b")) ++
          sideWords("rep.", "ha") ++ sideWords("", "hb"): _*)
      verify(pairs(cold, lit(true)).unionByName(candHot).distinct())
    }
  }

  /** Hamming-band bucket occupancy preflight — the measurement that decides
    * whether [[audioNearDupPairs]] needs its (deliberately default-off)
    * `maxBucket` bound BEFORE the pair join runs at a new corpus scale: the
    * audio twin of [[graft.ops.Text.lshBucketOccupancy]] (q193). One row
    * per occupancy value over the SAME `(band, key)` buckets the pair join
    * uses: `(occ, n_buckets, cand_pairs)` where
    * `cand_pairs = n_buckets · occ·(occ−1)/2` is the candidate mass those
    * buckets inject. A healthy corpus tails off by `occ ≈ tens`; a clone
    * flood shows one `occ ≈ clones` bucket per band carrying a quadratic
    * spike. Cost: the decode pass plus two aggregations — no pair join.
    */
  def audioBandOccupancy(df: DataFrame, idCol: String, payloadCol: String,
      lanes: Int = 32, maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming < lanes - 1, "maxHamming in [0, lanes-2]")
    // unpinned bandRows: the occupancy tail consumes the index exactly
    // once, so a checkpoint would be a pure extra materialization
    bandOccupancy(bandRows(
      audioHashes(df, idCol, payloadCol, lanes), lanes - 1, AudioWordBits, maxHamming))
  }

  /** [[audioBandOccupancy]] on the RASTER lane — the preflight that
    * decides whether [[imageNearDupPairs]] / the image index need the
    * `maxBucket` bound at a new corpus scale, over the SAME `(band, key)`
    * buckets those paths use.
    */
  def imageBandOccupancy(df: DataFrame, idCol: String, payloadCol: String,
      gw: Int = 8, gh: Int = 8, maxHamming: Int = 2): DataFrame = {
    val bits = gh * (gw - 1)
    require(maxHamming >= 0 && maxHamming < bits, "maxHamming in [0, bits-1]")
    bandOccupancy(bandRows(
      imageHashes(df, idCol, payloadCol, gw, gh), bits, bits, maxHamming))
  }

  /** Multimodal near-duplicate pairs: decode each payload's PCM for real
    * ([[decodeFeatures]] — byte-level WAV parse, the q56 pattern), dHash
    * the lane embedding, then find all id pairs within `maxHamming` bits —
    * EXACTLY, via Hamming-banded LSH, never an all-pairs join.
    *
    * Banding is the pigeonhole construction: the `lanes − 1` hash bits
    * split into `maxHamming + 1` contiguous bands; two hashes within
    * `maxHamming` bits differ in at most `maxHamming` bands, so AT LEAST
    * ONE band matches exactly — candidate recall is 1.0 by construction
    * (not probabilistic), and the exact `bit_count(a ^ b) <= maxHamming`
    * verify on candidates reproduces the all-pairs answer bit-for-bit.
    * Nothing in the argument sees the word boundary: past 61 lanes the
    * bands partition the two words' concatenated bits ([[audioDHash]]) and
    * the verify sums the per-word popcounts, up to 121 lanes.
    * That equivalence is what lets the DuckDB oracle replay the operator
    * as a plain quadratic filter at test scale while the engine runs the
    * banded plan at any scale: per-band equi-join on ~(lanes−1)/(maxH+1)
    * bit keys, exchange volume ∝ matching-bucket occupancy.
    *
    * EXACTLY-ONCE emission (unbounded path): a pair may collide in several
    * bands, but both hashes ride the index rows, so the join emits a pair
    * only from the FIRST band whose keys agree — every earlier band's keys
    * provably differ, checked map-side on the join output. No candidate
    * `.distinct()`, no re-shuffle of the candidate stream (the
    * [[graft.ops.Text.singleEditNearPairs]] device).
    *
    * Hot-bucket bound (`maxBucket`): a flood of d byte-identical clips
    * lands one d-sized bucket in EVERY band, so the unguarded self-join
    * emits O(d²) candidates into one shuffle partition — the same failure
    * [[graft.ops.Text.minhashNearDupPairs]] bounds for text. Buckets above
    * `maxBucket` switch to STAR pairing (every member against the bucket's
    * minimum id only — O(d) rows; all star pairs verify at Hamming 0 for
    * true clones, so survivor resolution still collapses the flood to one
    * component). Recall contract: a qualifying pair is missed only if
    * EVERY band it collides in is hot AND neither side is that bucket's
    * representative — duplicated clips always keep a verified path to
    * their representative. Default OFF (`Int.MaxValue`): the cap changes
    * which pairs are emitted, so enabling it is an explicit corpus-scale
    * decision read off [[audioBandOccupancy]]. The capped union keeps a
    * `.distinct()` (a pair can be star-emitted from several hot bands AND
    * cold-emitted; first-shared-band logic cannot see other bands'
    * hotness map-side) — bounded cost, since the cap itself limits the
    * candidate stream to O(n·maxBucket).
    *
    * Undecodable payloads (not 16-bit PCM WAV) are excluded — a corrupt
    * blob cannot be "similar" to anything.
    *
    * Output: `(a, b, hamming)` with `a < b`, one row per qualifying pair.
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      lanes: Int = 32, maxHamming: Int = 2,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < lanes - 1, "maxHamming in [0, lanes-2]")
    hammingNearDupPairs(audioHashes(df, idCol, payloadCol, lanes),
      lanes - 1, AudioWordBits, maxHamming, maxBucket)
  }

  /** Per-cell luminance sums of a decoded raster — REAL pixel decode for
    * ALL THREE supported containers, run as codegen'd scan-stage
    * expressions: PNG ([[graft.expr.PngGrayCells]]: inflate + the five
    * scanline filters), GIF ([[graft.expr.GifGrayCells]]: full
    * variable-width LZW, palettes, interlace) and JPEG
    * ([[graft.expr.JpegGrayCells]]: baseline-DCT entropy decode, luma-only
    * IDCT). Each parser NULLs on the others' magic bytes after a cheap
    * prefix check, so the coalesce dispatches by container with no double
    * decode. NULL for anything undecodable.
    */
  def imageGrayCells(payload: Column, gw: Int = 8, gh: Int = 8): Column =
    coalesce(
      asCol(graft.expr.PngGrayCells(asExpr(payload), gw, gh)),
      asCol(graft.expr.GifGrayCells(asExpr(payload), gw, gh)),
      asCol(graft.expr.JpegGrayCells(asExpr(payload), gw, gh)))

  /** Perceptual dHash over the luminance grid: bit `r·(gw−1)+c` is set iff
    * `cell[r][c+1] > cell[r][c]` — horizontal gradient signs, the classic
    * image dHash (8×8 grid → 56 bits). Uniform brightness shifts move
    * equal-pixel-count cells equally, so they leave the hash unchanged —
    * near-dup, not exact-digest, semantics (the [[audioDHash]] argument in
    * two dimensions). Disjoint literal bits summed — codegen, no HOF.
    */
  def imageDHash(cells: Column, gw: Int = 8, gh: Int = 8): Column = {
    require(gw >= 2 && gh >= 1 && gh * (gw - 1) <= 62, "grid bits in [1, 62]")
    (for { r <- 0 until gh; c <- 0 until gw - 1 } yield {
      when(element_at(cells, r * gw + c + 2) > element_at(cells, r * gw + c + 1),
        lit(1L << (r * (gw - 1) + c))).otherwise(lit(0L))
    }).reduce(_ + _) // disjoint bits: + ≡ bitwise or
  }

  /** Persist a corpus's Hamming dHash index as ONE bucketed table —
    * `(id, h, band, key)` bucketed by `(band, key)`, plus an `h1` word
    * column past 61 lanes — the multimodal
    * counterpart of [[graft.ops.Text.writeMinhashIndex]], and simpler:
    * the hash IS the verify payload, so there is no second
    * (shingle-set) table and the search needs no verify join-back. After
    * this one-time shuffle, every ingest increment deduplicates against
    * the corpus with no corpus re-decode and no corpus-side exchange.
    * `mode = "append"` admits new clips (bucket spec preserved).
    */
  def writeDHashIndex(corpus: DataFrame, idCol: String, payloadCol: String,
      lanes: Int, maxHamming: Int, tablePrefix: String, buckets: Int,
      mode: String = "overwrite"): Unit = {
    require(maxHamming >= 0 && maxHamming < lanes - 1, "maxHamming in [0, lanes-2]")
    writeHashIndex(audioHashes(corpus, idCol, payloadCol, lanes),
      HashIndexGeometry("audio", lanes - 1, maxHamming, Some(lanes),
        None, None, None, derived = false),
      tablePrefix, buckets, mode)
  }

  /** [[writeDHashIndex]] with CORPUS-DERIVED lane geometry: one cheap
    * `count()` of the corpus at write time feeds [[dHashLanesFor]], so the
    * persisted band-key width grows with the corpus instead of baking the
    * 32-lane default's ~10⁶-clip quadratic knee into a durable table — the
    * one place a fixed default outlives the corpus size it was right for.
    * The derived geometry (and the count that produced it) is recorded in
    * the `_meta` sidecar; probe increments with
    * [[audioDedupAgainstStoredIndex]], which reads it back rather than
    * trusting a call-site constant. Returns the derived lane count.
    * Overwrite-only by design: an append cannot re-derive (the stored
    * rows' hashes are fixed) — grow a drifted index via the compaction
    * window (rebuild) instead.
    */
  def writeDHashIndexDerived(corpus: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int, tablePrefix: String, buckets: Int,
      targetBucket: Long = 250L): Int = {
    val n = corpus.select(col(idCol)).count()
    val lanes = dHashLanesFor(n, maxHamming, targetBucket)
    writeHashIndex(audioHashes(corpus, idCol, payloadCol, lanes),
      HashIndexGeometry("audio", lanes - 1, maxHamming, Some(lanes),
        None, None, Some(n), derived = true),
      tablePrefix, buckets, "overwrite")
    lanes
  }

  /** [[writeDHashIndex]] with the RASTER hash head: PNG/GIF pixel decode
    * ([[imageGrayCells]]) → grid dHash ([[imageDHash]]) → the SAME
    * bucketed `(id, h, band, key)` index table, tombstone lifecycle, and
    * probe economics. The two lanes differ only in how `(id, h)` is
    * produced; everything persisted is shared machinery.
    */
  def writeImageDHashIndex(corpus: DataFrame, idCol: String, payloadCol: String,
      gw: Int = 8, gh: Int = 8, maxHamming: Int = 2, tablePrefix: String,
      buckets: Int, mode: String = "overwrite"): Unit = {
    require(maxHamming >= 0 && maxHamming < gh * (gw - 1), "maxHamming in [0, bits-1]")
    writeHashIndex(imageHashes(corpus, idCol, payloadCol, gw, gh),
      HashIndexGeometry("image", gh * (gw - 1), maxHamming, None,
        Some(gw), Some(gh), None, derived = false),
      tablePrefix, buckets, mode)
  }

  /** Geometry sidecar of a persisted hash index: ONE recorded row —
    * `(head, n_bits, max_hamming, lanes, gw, gh, corpus_n, derived)` —
    * written alongside the `_idx` table so readers can probe with EXACTLY
    * the geometry the index was built under instead of re-supplying it.
    * The hash definition IS the similarity definition on the dHash lanes,
    * so a caller default that drifts from the persisted geometry would
    * produce hashes from a DIFFERENT space: same schema, silently-empty
    * joins, zero recall with no error. The sidecar makes the geometry a
    * property of the index, not of every call site's memory. The number
    * of hash words follows from `n_bits` and the head ([[wordBits]]).
    */
  final case class HashIndexGeometry(head: String, nBits: Int, maxHamming: Int,
      lanes: Option[Int], gw: Option[Int], gh: Option[Int],
      corpusN: Option[Long], derived: Boolean)

  /** Read an index's geometry sidecar (None for an index written before
    * geometry recording existed — probe those with the explicit form or
    * rebuild).
    */
  def hashIndexGeometry(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String): Option[HashIndexGeometry] = {
    val tbl = s"${tablePrefix}_meta"
    if (!spark.catalog.tableExists(tbl)) None
    else {
      // headOption: a partially-written or manually-truncated sidecar
      // (table exists, zero rows) must fold into the same None path as a
      // missing sidecar — the caller's loud "rebuild the index" refusal —
      // not a bare NoSuchElementException
      spark.table(tbl).collect().headOption.map { r =>
        def optInt(c: String)  = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Int](c))
        def optLong(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
        HashIndexGeometry(r.getAs[String]("head"), r.getAs[Int]("n_bits"),
          r.getAs[Int]("max_hamming"), optInt("lanes"), optInt("gw"), optInt("gh"),
          optLong("corpus_n"), r.getAs[Boolean]("derived"))
      }
    }
  }

  /** Bits per hash word of an index's head: the audio hash is 60-bit
    * words, the image hash one word of all its bits. */
  private def wordBits(g: HashIndexGeometry): Int =
    if (g.head == "audio") AudioWordBits else g.nBits

  private def writeHashIndexMeta(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, g: HashIndexGeometry): Unit = {
    import spark.implicits._
    val tbl = s"${tablePrefix}_meta"
    Storage.reclaimStaleLocation(spark, tbl)
    Seq((g.head, g.nBits, g.maxHamming, g.lanes, g.gw, g.gh, g.corpusN, g.derived))
      .toDF("head", "n_bits", "max_hamming", "lanes", "gw", "gh", "corpus_n", "derived")
      .coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
  }

  private def requireGeometry(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, head: String): HashIndexGeometry = {
    val g = hashIndexGeometry(spark, tablePrefix).getOrElse(throw new IllegalStateException(
      s"no geometry sidecar ${tablePrefix}_meta — the index predates geometry " +
        "recording; probe with the explicit-geometry form or rebuild the index"))
    require(g.head == head,
      s"index $tablePrefix was built by the '${g.head}' hash head, probed as '$head'")
    g
  }

  /** Shared index writer over prepared `(id, h)` hashes — the head-agnostic
    * tail of [[writeDHashIndex]] / [[writeImageDHashIndex]]. Records the
    * geometry sidecar on create; APPENDS verify the incoming geometry
    * against the stored row and fail loudly on mismatch — an index only
    * means anything under one hash definition, and the failure mode of a
    * mismatched append is silent (disjoint hash spaces, not an error).
    */
  private def writeHashIndex(hashed: DataFrame, geom: HashIndexGeometry,
      tablePrefix: String, buckets: Int, mode: String): Unit = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    val spark = hashed.sparkSession
    // a fresh build must not inherit the previous generation's tombstones
    if (mode == "overwrite") Storage.clearTombstones(spark, s"${tablePrefix}_del")
    if (mode == "append") hashIndexGeometry(spark, tablePrefix).foreach { stored =>
      require(stored.head == geom.head && stored.nBits == geom.nBits &&
          stored.maxHamming == geom.maxHamming && stored.lanes == geom.lanes &&
          stored.gw == geom.gw && stored.gh == geom.gh,
        s"hash-index geometry mismatch on append to $tablePrefix: stored " +
          s"$stored vs incoming $geom — probe/append with " +
          "hashIndexGeometry(...) or rebuild with mode=overwrite")
    }
    Storage.writeBucketed(bandRows(hashed, geom.nBits, wordBits(geom), geom.maxHamming),
      s"${tablePrefix}_idx", Seq("band", "key"), buckets, mode)
    // appends to a pre-sidecar index adopt the (validated-compatible)
    // incoming geometry; the stored row otherwise stays authoritative
    if (mode == "overwrite" || !spark.catalog.tableExists(s"${tablePrefix}_meta"))
      writeHashIndexMeta(spark, tablePrefix, geom)
  }

  /** Incremental multimodal dedup against a PERSISTED index
    * ([[writeDHashIndex]]): drop batch clips with a stored near-duplicate
    * within `maxHamming` bits. The batch (small by contract) decodes
    * fresh; candidates come from an equi-join on the bucketed
    * `(band, key)` index — AQE broadcasts the batch side, the corpus
    * never shuffles — and the Hamming verify runs MAP-SIDE on the join
    * output (both hashes ride the rows, every word of each). Pigeonhole
    * recall 1.0: a stored clip within `maxHamming` bits always shares a
    * band, so the drop set is exactly the quadratic filter's (the oracle
    * replays it as one).
    * Pending deletes are anti-joined off the index side (tombstones are
    * small by contract — [[deleteFromDHashIndex]]).
    */
  def audioDedupAgainstIndex(batch: DataFrame, idCol: String, payloadCol: String,
      lanes: Int, maxHamming: Int, tablePrefix: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming < lanes - 1, "maxHamming in [0, lanes-2]")
    dedupAgainstHashIndex(batch, idCol, audioHashes(batch, idCol, payloadCol, lanes),
      lanes - 1, AudioWordBits, maxHamming, tablePrefix)
  }

  /** [[audioDedupAgainstIndex]] on the RASTER lane: drop batch images with
    * a stored near-duplicate within `maxHamming` bits of a
    * [[writeImageDHashIndex]] table — the incremental image-dedup path,
    * closing the lane gap where every ingest batch previously had to
    * re-decode the whole image corpus. Same probe-only exchange, map-side
    * verify, pigeonhole recall 1.0, and tombstone handling as the audio
    * twin.
    */
  def imageDedupAgainstIndex(batch: DataFrame, idCol: String, payloadCol: String,
      gw: Int = 8, gh: Int = 8, maxHamming: Int = 2, tablePrefix: String): DataFrame = {
    val bits = gh * (gw - 1)
    require(maxHamming >= 0 && maxHamming < bits, "maxHamming in [0, bits-1]")
    dedupAgainstHashIndex(batch, idCol, imageHashes(batch, idCol, payloadCol, gw, gh),
      bits, bits, maxHamming, tablePrefix)
  }

  /** [[audioDedupAgainstIndex]] probing with the PERSISTED geometry: lane
    * count and maxHamming come from the index's `_meta` sidecar, so a
    * [[writeDHashIndexDerived]] index is always probed in the hash space
    * it was built in — the derived-geometry rule cannot be silently
    * undone by a call-site default. Fails loudly on a sidecar-less or
    * wrong-head index.
    */
  def audioDedupAgainstStoredIndex(batch: DataFrame, idCol: String,
      payloadCol: String, tablePrefix: String): DataFrame = {
    val g = requireGeometry(batch.sparkSession, tablePrefix, "audio")
    audioDedupAgainstIndex(batch, idCol, payloadCol,
      g.lanes.getOrElse(g.nBits + 1), g.maxHamming, tablePrefix)
  }

  /** [[imageDedupAgainstIndex]] probing with the PERSISTED grid geometry
    * from the `_meta` sidecar — [[audioDedupAgainstStoredIndex]]'s raster
    * twin.
    */
  def imageDedupAgainstStoredIndex(batch: DataFrame, idCol: String,
      payloadCol: String, tablePrefix: String): DataFrame = {
    val g = requireGeometry(batch.sparkSession, tablePrefix, "image")
    imageDedupAgainstIndex(batch, idCol, payloadCol,
      g.gw.getOrElse(8), g.gh.getOrElse(8), g.maxHamming, tablePrefix)
  }

  /** Shared incremental-dedup tail over the batch's prepared `(id, h…)`
    * hashes — see [[audioDedupAgainstIndex]] for the full contract.
    */
  private def dedupAgainstHashIndex(batch: DataFrame, idCol: String,
      batchHashes: DataFrame, nBits: Int, wordBits: Int, maxHamming: Int,
      tablePrefix: String): DataFrame = {
    val spark = batch.sparkSession
    val words = hashWords(nBits, wordBits)
    // the batch's words ride as `bh…` next to the index's `h…`
    val probe = bandRows(batchHashes, nBits, wordBits, maxHamming)
      .select(Seq(col("id").as("bid")) ++ words.map(n => col(n).as("b" + n)) ++
        Seq(col("band"), col("key")): _*)
    val idx0 = spark.table(s"${tablePrefix}_idx")
    val idx = Storage.tombstonesOf(spark, s"${tablePrefix}_del")
      .fold(idx0)(del => idx0.join(del, Seq("id"), "left_anti"))
    val dup = probe.join(idx, Seq("band", "key"))
      .filter(words.map(n => bit_count(col("b" + n).bitwiseXOR(col(n)))).reduce(_ + _) <=
        maxHamming)
      .select(col("bid")).distinct()
    batch.join(dup, batch(idCol) === dup("bid"), "left_anti")
  }

  /** Tombstone clips out of a persisted dHash index without rewriting it —
    * the shared delete-vector lifecycle
    * ([[graft.ops.Storage.appendTombstones]]).
    */
  def deleteFromDHashIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, idCol: String, tablePrefix: String): Unit =
    Storage.appendTombstones(spark, ids, idCol, s"${tablePrefix}_del")

  /** Fold accumulated tombstones into the physical index (bucketing
    * preserved) and reset them — the maintenance-window rewrite, same
    * contract as [[graft.ops.Text.compactMinhashIndex]]. The rewrite keeps
    * the index's own columns, every hash word included.
    */
  def compactDHashIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, buckets: Int): Unit =
    Storage.tombstonesOf(spark, s"${tablePrefix}_del").foreach { del =>
      val keep = Checkpoints.pin(
        spark.table(s"${tablePrefix}_idx").join(del, Seq("id"), "left_anti"))
      Storage.writeBucketed(keep, s"${tablePrefix}_idx", Seq("band", "key"), buckets,
        "overwrite")
      Storage.clearTombstones(spark, s"${tablePrefix}_del")
      Checkpoints.release(keep)
    }

  /** Image near-duplicate pairs — [[audioNearDupPairs]]'s construction on
    * the RASTER lane: REAL in-plan PNG pixel decode
    * ([[graft.expr.PngGrayCells]]), perceptual dHash over the 8×8
    * luminance grid (gh·(gw−1) bits), then the shared Hamming-banded
    * pipeline: pigeonhole bands (recall 1.0 by construction), exactly-once
    * first-shared-band emission unbounded, `maxBucket` star pairing for
    * clone floods. Undecodable payloads are excluded — a corrupt blob
    * cannot be "similar" to anything.
    *
    * Output: `(a, b, hamming)` with `a < b`, one row per qualifying pair.
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      gw: Int = 8, gh: Int = 8, maxHamming: Int = 2,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val bits = gh * (gw - 1)
    hammingNearDupPairs(imageHashes(df, idCol, payloadCol, gw, gh),
      bits, bits, maxHamming, maxBucket)
  }

  /** `(id, h)` decoded-raster dHash rows — the image twin of
    * [[audioHashes]], shared by [[imageNearDupPairs]],
    * [[writeImageDHashIndex]] and [[imageDedupAgainstIndex]].
    */
  private def imageHashes(df: DataFrame, idCol: String, payloadCol: String,
      gw: Int, gh: Int): DataFrame = {
    val cells = imageGrayCells(col(payloadCol), gw, gh)
    df.select(col(idCol).as("id"), cells.as("cells"))
      .filter(fence(col("cells").isNotNull))
      .select(col("id"), imageDHash(col("cells"), gw, gh).as("h"))
  }
}
