package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._

/** Helpers and fixtures used by more than one query family, plus the
  * payload fixture columns that specs and [[graft.ScaleBench]] reuse.
  */
object Shared {
  import Tables.t

  // ---- shared helpers -----------------------------------------------------
  private[queries] def exactSum(c: Column, scale: Int = 2) = Summaries.exactSum(c, scale)

  /** Little-endian byte serialization of a column's low `n` bytes — the
    * shared helper of every in-plan binary fixture builder.
    */
  private[queries] def le(c: Column, n: Int): Column = unhex(concat((0 until n).map(i =>
    lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*))

  /** The q202-family WAV payload: a complete 16-bit mono PCM RIFF file
    * synthesized in-plan from `doc_id`. Docs come in groups of 4 on one
    * base signal: members r = 0,1,2 differ by a constant sample offset —
    * gradient-sign-invariant, so they dHash (near-)identically — while
    * r = 3 is an unrelated signal. Sample counts are multiples of the 32
    * lanes so a constant offset shifts equal-count lanes equally. (q214
    * reuses this fixture at derived lane counts 37/45, which do NOT divide
    * the sample counts — there the brightness-shift invariance is only
    * approximate, with the ±1-sample lane-count skew dwarfed by the signal
    * magnitudes; the oracle replays the same arithmetic, so equality is
    * exact either way.)
    *
    * Square-mixed generative formula: the g² / i² products decorrelate
    * lane gradients ACROSS groups (a linear g·a + i·b form left lane
    * orderings correlated over g — measured 10,141 hamming<=2 pairs on
    * 500 docs vs the 375 true within-group ones; this form yields
    * exactly the 375) while the +r offset stays gradient-invariant.
    * Ids reduce mod 2^16 BEFORE squaring: raw doc_id² overflowed long
    * at the ×30 replica id range (caught by the ×30 cluster sweep —
    * ANSI mode threw, a correct loud failure); the reduction is the
    * identity at every oracle scale (doc_id < 65536) and keeps every
    * intermediate under 2^60 at any scale.
    */
  private[graft] def wavPayloadCol: Column = {
    val g = expr("doc_id DIV 4")
    val r = col("doc_id") % 4
    val n = ((g % 4 + 4) * 32).cast("int")
    val sampleHex = array_join(
      transform(sequence(lit(0), n - 1), i => {
        val g16 = pmod(g, lit(65536))
        val d16 = pmod(col("doc_id"), lit(65536))
        val sv = when(r === 3,
          pmod((d16 * d16 + 7) * (i * i + 31), lit(65536)) - 32768)
          .otherwise(
            pmod((g16 * g16 * 131 + 7) * (i * i * 17 + i + 31) + r, lit(65536)) - 32768)
        val tc = pmod(sv, lit(65536)) // two's-complement 16-bit image
        concat(lpad(hex(pmod(tc, lit(256))), 2, "0"), lpad(hex(shiftright(tc, 8)), 2, "0"))
      }), "")
    concat(
      lit("RIFF").cast("binary"), le(n * 2 + 36, 4), lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"), unhex(lit("10000000")),
      le(lit(1), 2), le(lit(1), 2), le(lit(8000), 4),
      le(lit(16000), 4), le(lit(2), 2), le(lit(16), 2),
      lit("data").cast("binary"), le(n * 2, 4),
      unhex(sampleHex))
  }

  /** The q212 MP4 payload: a minimal VALID ISO-BMFF file synthesized
    * in-plan from `doc_id` — `ftyp` + `moov(mvhd, trak(tkhd))` with all
    * box sizes exact, mvhd v0 carrying timescale 1000 and a per-doc
    * duration, tkhd v0 carrying per-doc 16.16 fixed-point dimensions.
    * Cheap by construction: fixed 156 bytes, no HOFs — just be32 fields
    * concatenated between constant segments.
    */
  private[graft] def mp4PayloadCol: Column = {
    def be32c(c: Column) = unhex(lpad(hex(c), 8, "0"))
    val dur = (col("doc_id") % 100000) * 40 + 40
    val w = (col("doc_id") * 7 + 13) % 1920 + 16
    val h = (col("doc_id") * 11 + 7) % 1080 + 16
    val ftyp = Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0)
    // moov(140) = hdr(8) + mvhd(32) + trak(100 = hdr(8) + tkhd(92))
    val moovHdr = Array[Byte](0, 0, 0, 140.toByte) ++ "moov".getBytes("US-ASCII")
    // mvhd v0, body 24: ver/flags, creation, modification, timescale,
    // duration, rate-as-padding
    val mvhdPre = Array[Byte](0, 0, 0, 32) ++ "mvhd".getBytes("US-ASCII") ++
      new Array[Byte](12) ++ Array[Byte](0, 0, 3, 0xE8.toByte) // timescale 1000
    val trakTkhdPre = Array[Byte](0, 0, 0, 100) ++ "trak".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 92) ++ "tkhd".getBytes("US-ASCII") ++
      new Array[Byte](76) // ver/flags + the 72 header bytes before width
    concat(
      lit(ftyp), lit(moovHdr), lit(mvhdPre),
      be32c(dur),
      lit(new Array[Byte](4)), // mvhd rate padding
      lit(trakTkhdPre),
      be32c(w * 65536), be32c(h * 65536))
  }

  /** The q211 GIF payload: a complete, VALID 16×16 GIF89a synthesized
    * in-plan from `doc_id`. Palette: 128 grays, entry i = (2i, 2i, 2i) —
    * so a uniform +r index offset is a uniform brightness shift. The LZW
    * stream is real but engineered to stay BYTE-ALIGNED: with minCode 7
    * the initial code width is 8, and a clear code every 126 pixels keeps
    * the decoder's dictionary under the 256-entry width bump — every code
    * is exactly one byte (the classic "uncompressed GIF" encoder), which
    * is what makes the stream expressible as a byte concat with no
    * bit-packing expressions. The decoder ([[graft.expr.GifGrayCells]])
    * still runs its full variable-width path — MultimodalSpec feeds it
    * genuinely compressed streams.
    *
    * Pixel-index formula: the q208 prime-mix folded to [0, 121] so +r
    * (r = 0, 1, 2) never exceeds the 128-entry palette; r = 3 unrelated.
    */
  private[graft] def gifPayloadCol: Column = {
    val g16 = pmod(expr("doc_id DIV 4"), lit(65536))
    val d16 = pmod(col("doc_id"), lit(65536))
    val r = col("doc_id") % 4
    def mix(x: Column): Column =
      pmod(pmod(pmod(x, lit(65537L)) * lit(2654435761L), lit(65537L)), lit(122))
    def idxOf(p: Column): Column =
      when(r === 3, mix((d16 * d16 + 7) * (p * p + 31)))
        .otherwise(mix((g16 * g16 * 131 + 7) * (p * p * 17 + p + 31)) + r)
    def hexOf(from: Int, until: Int): Column = array_join(
      transform(sequence(lit(from), lit(until - 1)), p =>
        lpad(hex(idxOf(p)), 2, "0")), "")
    // header + LSD (16x16, GCT of 128) + palette (i -> gray 2i) + image
    // descriptor — all constant
    val prefix: Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++
        Array[Byte](16, 0, 16, 0, 0x86.toByte, 0, 0) ++
        (0 until 128).flatMap(i => Seq((2 * i).toByte, (2 * i).toByte, (2 * i).toByte)) ++
        Array[Byte](0x2C, 0, 0, 0, 0, 16, 0, 16, 0, 0) ++
        Array[Byte](7) // LZW min code size
    // code stream: clear ++ 126 px ++ clear ++ 126 px ++ clear ++ 4 px ++ eoi
    // = 260 single-byte codes, framed as sub-blocks: block1 carries the
    // first 255 (through the third clear), block2 the last 5
    concat(
      lit(prefix),
      lit(Array[Byte](0xFF.toByte, 0x80.toByte)), // block1 len + clear
      unhex(hexOf(0, 126)),
      lit(Array[Byte](0x80.toByte)),              // clear
      unhex(hexOf(126, 252)),
      lit(Array[Byte](0x80.toByte, 0x05)),        // clear (ends block1) | block2 len
      unhex(hexOf(252, 256)),
      lit(Array[Byte](0x81.toByte, 0x00, 0x3B)))  // eoi, terminator, trailer
  }

  /** The q216 JPEG fixture's constant prefix: a complete baseline JFIF
    * header for a 64×64 single-component (grayscale) image engineered so
    * the per-doc entropy stream is BYTE-ALIGNED and integer-exact:
    *
    *  - quant table: all 64 entries = 8, so a DC-only block dequantizes to
    *    8·DC and the (exact) DC-only IDCT lands every pixel at DC + 128 —
    *    no rounding anywhere for the oracle to chase;
    *  - DC Huffman table: category 4 at code length 4 (canonical code
    *    0000) and category 1 at length 7 (code 0001000) — so cat-4 symbols
    *    are code+magnitude = one byte (0x00–0x0F) and cat-1 symbols are
    *    7+1 bits = one byte (0x10/0x11);
    *  - AC Huffman table: only EOB, at code length 8 (code 0x00) — one
    *    byte closes each block.
    *
    * Every 8×8 block is DC-only and encodes to exactly TWO bytes
    * ([huffman byte][EOB]), none of them 0xFF (no byte stuffing), which is
    * what makes the stream expressible as a plain in-plan byte concat —
    * the JPEG sibling of the q211 byte-aligned-LZW device. The decoder
    * ([[graft.expr.JpegGrayCells]]) still runs its full bit-serial
    * entropy path — MultimodalSpec feeds it genuinely AC-carrying,
    * chroma-subsampled files from the JDK's own encoder.
    */
  private lazy val jpegFixtureHeader: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def seg(m: Int, body: Seq[Int]): Unit = {
      u8(0xFF); u8(m)
      val len = body.length + 2
      u8(len >> 8); u8(len)
      body.foreach(u8)
    }
    u8(0xFF); u8(0xD8)                                     // SOI
    seg(0xDB, 0x00 +: Seq.fill(64)(8))                     // DQT: table 0, all 8
    seg(0xC0, Seq(8, 0, 64, 0, 64, 1, 1, 0x11, 0))         // SOF0: 64x64, 1 comp, 1x1
    seg(0xC4, Seq(0x00) ++                                 // DHT DC: cat4@len4, cat1@len7
      Seq(0, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++ Seq(0x04, 0x01))
    seg(0xC4, Seq(0x10) ++                                 // DHT AC: EOB@len8
      Seq(0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0) ++ Seq(0x00))
    seg(0xDA, Seq(1, 1, 0x00, 0, 63, 0))                   // SOS: comp 1, tables 0/0
    out.toByteArray
  }

  /** The q216 JPEG payload: a complete, VALID baseline JPEG synthesized
    * in-plan from `doc_id` over [[jpegFixtureHeader]]. 64 DC-only blocks;
    * block 0 carries DC = 8 + r (a category-4 diff — the uniform
    * brightness shift for r = 0, 1, 2, dHash-invariant), every later
    * block a ±1 category-1 diff whose SIGN is the per-doc bit pattern
    * (the 56 in-row signs ARE the dHash bits). The DC random walk stays
    * within ±63 of the +8 start, so pixels (DC + 128) never clamp and
    * the decode is integer-exact end to end. r = 3 draws its signs from
    * an unrelated mix. Same prime-65537 Knuth mix as the q208 family —
    * every intermediate stays far under 2^62.
    */
  private[graft] def jpegPayloadCol: Column = {
    val g16 = pmod(expr("doc_id DIV 4"), lit(65536))
    val d16 = pmod(col("doc_id"), lit(65536))
    val r = col("doc_id") % 4
    def sBit(b: Column): Column = {
      def mix(x: Column): Column =
        pmod(pmod(pmod(x, lit(65537L)) * lit(2654435761L), lit(65537L)), lit(2))
      when(r === 3, mix((d16 * d16 + 7) * (b * b + 31)))
        .otherwise(mix((g16 * g16 * 131 + 7) * (b * b * 17 + b + 31)))
    }
    // block 0: category-4 diff of 8 + r (byte 0x08 | mag bits); r = 3 has
    // no shared base to shift off, so it keeps the plain +8
    val blk0 = lpad(hex(lit(8) + when(r === 3, lit(0)).otherwise(r)), 2, "0")
    // blocks 1..63: category-1 byte 0x10 | sign bit, then the 0x00 EOB
    val rest = array_join(transform(sequence(lit(1), lit(63)), b =>
      concat(lpad(hex(lit(16) + sBit(b)), 2, "0"), lit("00"))), "")
    concat(
      lit(jpegFixtureHeader),
      unhex(concat(blk0, lit("00"), rest)),
      lit(Array[Byte](0xFF.toByte, 0xD9.toByte)))
  }

  private lazy val crc32Table: Array[Long] = Array.tabulate(256) { i =>
    var c = i.toLong
    for (_ <- 0 until 8) c = if ((c & 1) == 1) 0xEDB88320L ^ (c >>> 1) else c >>> 1
    c
  }

  /** The q208 PNG payload: a complete, VALID 16×16 8-bit grayscale PNG
    * synthesized in-plan from `doc_id` — signature, IHDR, one IDAT whose
    * zlib stream uses a STORED deflate block (the one deflate form
    * expressible without a compressor: 5-byte block header + raw
    * scanlines), a real adler32 trailer (two prefix sums mod 65521), and a
    * real per-chunk CRC32 (table-driven `aggregate` over the chunk bytes —
    * the 256-entry table is a literal array). Constant segments (signature,
    * IHDR with its CRC, IEND) are computed once driver-side; only the 272
    * scanline bytes, adler, and IDAT CRC vary per row.
    *
    * Pixel formula (the q202 square-mixing on the raster lane): groups of
    * 4 docs; r = 0,1,2 share a base image with a uniform +r brightness
    * offset — base values live in [0, 243] so the offset NEVER wraps,
    * which is what makes the dHash exactly invariant — and r = 3 is an
    * unrelated image. All filter bytes are 0 (filter reversal is the
    * spec's job — MultimodalSpec feeds filtered, deflate-compressed PNGs).
    */
  private[graft] def pngPayloadCol: Column = {
    val g16 = pmod(expr("doc_id DIV 4"), lit(65536))
    val d16 = pmod(col("doc_id"), lit(65536))
    val r = col("doc_id") % 4
    // Knuth-mix through the PRIME 65537 before the final range fold: the
    // plain `% 244` fold left lane gradients correlated ACROSS groups
    // (137k spurious hamming<=2 pairs on 5000 docs vs the 3750 true
    // within-group ones — the q202 decorrelation lesson rediscovered on
    // the raster lane); this form yields exactly the 3750. Reduce mod
    // 65537 BEFORE the 2654435761 multiply so every intermediate stays
    // under 2^48.
    def mix(x: Column): Column =
      pmod(pmod(pmod(x, lit(65537L)) * lit(2654435761L), lit(65537L)), lit(244))
    def pix(p: Column): Column =
      when(r === 3, mix((d16 * d16 + 7) * (p * p + 31)))
        .otherwise(mix((g16 * g16 * 131 + 7) * (p * p * 17 + p + 31)) + r)
    // raw scanlines: 16 rows of (filter byte 0) + 16 pixel bytes = 272 B
    val raw = flatten(transform(sequence(lit(0), lit(15)), y =>
      concat(array(lit(0L)),
        transform(sequence(lit(0), lit(15)), x => pix(y * 16 + x)))))
    // both adler sums in ONE aggregate pass via the textbook recurrence
    // (a += d; b += a) on a struct accumulator — sums stay far under 2^63
    // for 272 bytes, so the mods fold once in the FINISH lambda, which
    // also serializes the 4 trailer bytes so the (interpreted-HOF)
    // aggregate subtree appears exactly once in the payload expression
    val adlerBytes = aggregate(raw,
      struct(lit(1L).as("a"), lit(0L).as("b")),
      (acc, x) => struct((acc("a") + x).as("a"), (acc("b") + acc("a") + x).as("b")),
      acc => {
        val a = pmod(acc("a"), lit(65521)); val b = pmod(acc("b"), lit(65521))
        array(shiftright(b, 8), pmod(b, lit(256)), shiftright(a, 8), pmod(a, lit(256)))
      })
    // zlib stream: 0x78 0x01 header, stored block (BFINAL=1), LEN=272 LE,
    // NLEN=~LEN LE, raw bytes, adler32 BE
    val zlib = concat(
      array(lit(0x78L), lit(0x01L), lit(0x01L), lit(0x10L), lit(0x01L),
        lit(0xEFL), lit(0xFEL)),
      raw,
      adlerBytes)
    // ONE array literal, not CreateArray over 256 lit nodes: the table is
    // read inside the aggregate's lambda, where a CreateArray would be
    // re-evaluated per STEP (≈ 287 steps × 256 children per row — measured
    // as the dominant cost of the whole q208 synthesis at sf0.1)
    val crcTab = lit(crc32Table)
    // LET-BINDING device: `transform(array(zlib), z => …)` evaluates the
    // zlib subtree exactly once and binds it to the lambda variable `z`.
    // The naive `concat(zlib, bytesOf(crcOver(zlib)))` form re-evaluates
    // the whole pixel+adler pipeline once per appearance (zlib 5×, the
    // 287-step CRC aggregate 4× for its four serialized bytes — measured
    // as ~7 ms/row at sf0.1, the whole q208 cost); with both folds
    // finish-serialized and the input bound, every pass runs once.
    val varBytes = flatten(transform(array(zlib), z =>
      concat(z, aggregate(
        concat(array(lit(73L), lit(68L), lit(65L), lit(84L)), z), // "IDAT" ++ data
        lit(0xFFFFFFFFL),
        (c, x) => element_at(crcTab, ((c.bitwiseXOR(x)).bitwiseAND(lit(255L)) + 1).cast("int"))
          .bitwiseXOR(shiftright(c, 8)),
        c => {
          val f = c.bitwiseXOR(lit(0xFFFFFFFFL))
          array(shiftright(f, 24), pmod(shiftright(f, 16), lit(256)),
            pmod(shiftright(f, 8), lit(256)), pmod(f, lit(256)))
        }))))
    val varHex = array_join(transform(varBytes, b => lpad(hex(b), 2, "0")), "")
    // constant segments, CRCs computed once here with the JDK's CRC32
    def chunkBytes(typ: String, data: Array[Byte]): Array[Byte] = {
      val len = data.length
      val c = new java.util.zip.CRC32()
      c.update(typ.getBytes("US-ASCII")); c.update(data)
      val v = c.getValue
      Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte) ++
        typ.getBytes("US-ASCII") ++ data ++
        Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    }
    val ihdr = chunkBytes("IHDR", Array[Byte](0, 0, 0, 16, 0, 0, 0, 16, 8, 0, 0, 0, 0))
    val prefix = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      ihdr ++ Array[Byte](0, 0, 1, 27) ++ "IDAT".getBytes("US-ASCII") // IDAT len = 283
    concat(lit(prefix), unhex(varHex), lit(chunkBytes("IEND", Array.empty)))
  }

  private[queries] def cdcRoot(s: SparkSession, d: String, tag: String,
      build: String => Seq[Long]): (String, Seq[Long]) = {
    val root = Tables.targetPath(s"tmp/$tag" + d.replaceAll("[^0-9a-zA-Z]", "_"))
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(rp)) fs.delete(rp, true)
    (root, build(root))
  }

  /** The k MinHash signature slots as DuckDB SQL, using the same coefficient
    * tables as [[graft.expr.MinHashSignature]] — `hs` must be in scope as the
    * list of 60-bit md5 hashes already reduced mod 2^31−1.
    */
  private[queries] def minhashSigSqlTerms(k: Int): String = {
    val as = graft.expr.MinHashSignature.coeffA(k)
    val bs = graft.expr.MinHashSignature.coeffB(k)
    (0 until k)
      .map(i => s"list_min([(${as(i)} * h + ${bs(i)}) % 2147483647 for h in hs])")
      .mkString("[", ",\n                  ", "]")
  }

  /** Shared by q17 (operator form), q90 (pure-SQL form), and q93 (scoped
    * form) — q17/q90 are semantically identical by construction; q93 adds
    * the language scope to the candidate join key.
    */
  private[queries] def minhashLshOracle(scoped: Boolean = false): String = {
    val langSel = if (scoped) ", lang" else ""
    val langEq  = if (scoped) " AND a.lang = b.lang" else ""
    s"""WITH sh AS (
           SELECT doc_id$langSel, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id$langSel, string_split_regex(lower(trim(text)), '\\s+') tk FROM documents)),
         sig AS (
           SELECT doc_id$langSel, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id$langSel, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id$langSel, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM ex a JOIN ex b ON a.band = b.band AND a.hv = b.hv$langEq AND a.doc_id < b.doc_id),
         scored AS (
           SELECT doc_a, doc_b,
                  len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) AS j
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id)
         SELECT doc_a, doc_b, floor(j * 10000 + 0.5)/10000 AS jacc
         FROM scored WHERE j >= 0.5
         ORDER BY doc_a, doc_b"""
  }

  /** The q158 SimHash near-dup pair graph + connected-component walk as a
    * composable CTE body (caller writes `WITH RECURSIVE` — DuckDB accepts
    * the keyword for a chain where only `walk` is recursive). Yields
    * `pairs` (doc_a, doc_b), `edges`, and `walk(id, root)`; components
    * resolve as `SELECT id, min(root) FROM walk GROUP BY id`.
    */
  private[queries] def simhashCcCteBody(): String =
    """toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
         shl AS (SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss FROM toks),
         sh AS (
           SELECT doc_id,
                  CAST(list_sum([CASE WHEN list_sum([((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) * 2 - 1
                                                    for t in ss]) > 0
                                 THEN (1::BIGINT << b) ELSE 0::BIGINT END
                                 for b in range(0, 48)]) AS BIGINT) AS sig
           FROM shl),
         ex AS (SELECT doc_id, sig, p AS band, (sig >> (p*16)) & 65535 AS bv FROM sh, unnest([0,1,2]) t(p)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig sa, b.doc_id AS doc_b, b.sig sb
                  FROM ex a JOIN ex b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 8),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.id)"""
}
