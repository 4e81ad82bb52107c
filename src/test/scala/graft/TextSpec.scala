package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Text

class TextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokens + ngrams: counts and short-doc guard") {
    val df = Seq("a b c d", "x y", "solo").toDF("t")
    val grams = df.select(size(Text.ngrams(Text.tokens($"t"), 3)).as("n")).as[Int].collect()
    assert(grams.toSeq == Seq(2, 0, 0)) // len<n → empty, not sequence-down
  }

  test("shingles are distinct; jaccard of identical sets is 1") {
    val df = Seq(("a b a b c", "a b a b c")).toDF("x", "y")
    val out = df.select(
      Text.jaccard(
        Text.shingles(Text.tokens($"x"), 2),
        Text.shingles(Text.tokens($"y"), 2)).as("j")).as[Double].head()
    assert(out == 1.0)
  }

  test("minhashNearDupPairs finds a planted near-dup and skips unrelated docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (3L, "completely different words about spark catalyst tungsten execution")).toDF("doc_id", "text")
    val pairs = Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("singleEditNearPairs: substitutions caught, transpositions and resizes rejected") {
    val df = Seq(
      (1L, "alpha"), (2L, "alpho"),  // one substitution → pair
      (3L, "aplha"),                 // transposition of 1 (dist 2): deletion
                                     // variants collide, verify must reject
      (4L, "alphax"),                // extra char (cross-length): no pair
      (5L, "zzzzz"),                 // unrelated
      (6L, "alpha")                  // exact dup of 1 → dist-0 pair
    ).toDF("id", "name")
    val out = Text.singleEditNearPairs(df, "id", "name")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1), (1L, 6L, 0), (2L, 6L, 1)))
  }

  test("minhashDedupAgainstCorpus drops corpus near-dups, keeps batch-internal ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "completely different words about spark catalyst tungsten execution")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away now"), // ~doc 1
      (11L, "unrelated fresh content mentioning streaming watermarks and state stores"),
      (12L, "unrelated fresh content mentioning streaming watermarks and state store")) // ~doc 11, batch-internal
      .toDF("doc_id", "text")
    val out = Text.minhashDedupAgainstCorpus(batch, corpus, "doc_id", "text", 3, 16, 0.5)
      .select("doc_id").as[Long].collect().sorted
    // 10 dropped (near-dup of corpus doc 1); 11 and 12 both kept — batch-
    // internal duplicates are out of scope by contract
    assert(out.sameElements(Array(11L, 12L)))
  }

  test("jaccardNearDupPairs (exact inverted index) agrees with minhash on planted dups") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven thirteen"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val exact = Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
  }

  test("minhash hot-bucket star bound: clone flood emits O(d) pairs, all linked to the representative") {
    // 40 identical docs + 1 unrelated: unbounded banding would emit
    // 40·39/2 = 780 candidate pairs; maxBucket = 10 switches the hot
    // buckets to star pairing — exactly d−1 = 39 pairs, every one anchored
    // at the min id, and the flood stays one connected component
    val docs = ((1L to 40L).map(i => (i, "the quick brown fox jumps over the lazy dog again and again")) :+
      (99L, "completely different words about spark catalyst tungsten execution")).toDF("doc_id", "text")
    val pairs = Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5, maxBucket = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == (2L to 40L).map(i => (1L, i)).toSet)
  }

  test("minhash star bound is inert when the cap does not bind (bit-identical to unbounded)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (3L, "completely different words about spark catalyst tungsten execution")).toDF("doc_id", "text")
    val capped = Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5, maxBucket = 500)
      .select("doc_a", "doc_b", "jacc").as[(Long, Long, Double)].collect().toSet
    val open = Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5, maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(capped == open && capped.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  test("simhash hot-bucket star bound: clone flood emits d−1 pairs at hamming 0") {
    val docs = ((1L to 30L).map(i => (i, "repeated boilerplate text body shared by every clone in the flood")) :+
      (99L, "some other entirely unrelated document text goes here instead")).toDF("doc_id", "text")
    val pairs = Text.simhashNearDupPairs(docs, "doc_id", "text", maxBucket = 8)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(pairs == (2L to 30L).map(i => (1L, i, 0L)).toSet)
  }

  test("reliable-checkpoint path is bit-identical to the localCheckpoint path (minhash + jaccard)") {
    val docs = ((1L to 12L).map(i => (i, s"the quick brown fox jumps over the lazy dog variant $i")) :+
      (99L, "completely different words about spark catalyst tungsten execution")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect().toSeq
    for (pairs <- Seq(
        () => Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5),
        () => Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5))) {
      val (local, reliable, wrote) = TestSpark.localAndReliable(rows(pairs()))
      assert(reliable == local)
      assert(wrote > 0, "reliable checkpoint wrote no files")
    }
  }

  test("jaccardNearDupPairs: hot-shingle correction keeps intersections exact when the cutoff binds") {
    // every doc opens with the corpus-wide phrase "hot hot hot" (df = 6 >
    // maxDf = 2); docs 2j and 2j+1 additionally share all their b_j
    // shingles (df = 2, rare). Candidates are generated from the rare
    // shingles only, but the intersection must still count the hot one:
    // o = 4 of 4 shingles -> jacc 1.0 (an uncorrected count gives 3/5)
    val docs = (0L until 6L).map { i =>
      (i, s"hot hot hot b${i / 2} b${i / 2} b${i / 2}")
    }.toDF("doc_id", "text")
    val out = Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.9, maxDf = 2)
      .select("doc_a", "doc_b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((0L, 1L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0)))
  }

  test("charNgrams: codepoint semantics, short-text guard, lowercasing") {
    val rows = Seq("AbC", "ab", "", "日本語テキスト").toDF("t")
      .select(Text.charNgrams($"t", 3).as("g")).as[Seq[String]].collect()
    assert(rows(0) == Seq("abc"))
    assert(rows(1) == Nil && rows(2) == Nil, "texts shorter than n yield empty, not a down-counting sequence")
    assert(rows(3) == Seq("日本語", "本語テ", "語テキ", "テキス", "キスト"), "grams count codepoints, not bytes")
  }

  test("native fast paths are bit-identical to the HOF forms") {
    val df = Seq("the quick brown fox the quick", "x", "", "a  b\tc").toDF("t")
    val cmp = df.select(
      Text.ngramsOf($"t", 2).as("fast_ng"),
      Text.ngrams(Text.tokens($"t"), 2).as("hof_ng"),
      Text.shinglesOf($"t", 3).as("fast_sh"),
      Text.shingles(Text.tokens($"t"), 3).as("hof_sh"),
      Text.minhashSignatureOf(Text.shinglesOf($"t", 3), 8).as("fast_sig"),
      Text.minhashSignature(Text.shingles(Text.tokens($"t"), 3), 8).as("hof_sig"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "ngrams")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "shingles")
      assert(r.getSeq[Any](4) == r.getSeq[Any](5), "minhash")
    }
    // char n-grams: native vs HOF reference, plus the fused distinct vs the
    // array_distinct wrapper — over empty, shorter-than-n, multi-byte, and
    // repeated-gram inputs. NULL text is checked separately: the HOF's
    // `when` guard falls through to [] on NULL where the native family's
    // convention (WordNgrams alike) is NULL → NULL; both explode to zero
    // rows, which is the property every caller relies on.
    val cdf = Seq("", "ab", "AbCAbC", "日本語テキスト", "aaaa b  c").toDF("t")
    val ccmp = cdf.select(
      Text.charNgrams($"t", 3).as("fast"),
      Text.charNgramsHof($"t", 3).as("hof"),
      Text.charNgramsDistinct($"t", 3).as("fast_d"),
      array_distinct(Text.charNgramsHof($"t", 3)).as("hof_d"))
      .collect()
    ccmp.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "char ngrams")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "char shingles")
    }
    val nulls = Seq[String](null).toDF("t")
      .select(Text.charNgrams($"t", 3), Text.charNgramsDistinct($"t", 3)).collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), "NULL text → NULL gram array")
  }

  test("CharNgrams matches the HOF reference on randomized mixed-width inputs") {
    // fixed seed: one-, two-, and three-byte codepoints, uppercase ASCII and
    // non-ASCII (É, Ω — both lowercase through the same UTF8String path as
    // lower()), whitespace, digits, and heavy repetition in short strings
    val rnd      = new scala.util.Random(20260815L)
    val alphabet = "aAbB ÉßΩ語テ.1"
    val strs = (1 to 80).map(_ =>
      (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (n <- 1 to 4) {
      val rows = strs.toDF("t").select(
        Text.charNgrams($"t", n).as("fast"),
        Text.charNgramsHof($"t", n).as("hof"),
        Text.charNgramsDistinct($"t", n).as("fast_d"),
        array_distinct(Text.charNgramsHof($"t", n)).as("hof_d")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"ngrams n=$n")
        assert(r.getSeq[String](2) == r.getSeq[String](3), s"distinct n=$n")
      }
    }
  }

  test("MaskedVariants matches the HOF reference on randomized mixed-width inputs") {
    // fixed seed; one-, two-, and three-byte codepoints, repeats, spaces,
    // and a literal \u0001 (the mask char itself — the spurious-collision
    // case the exact-Levenshtein verify downstream exists to absorb)
    val rnd      = new scala.util.Random(20260815L)
    val alphabet = "aAb ÉΩ語.1" + "\u0001"
    val strs = "" +: (1 to 80).map(_ =>
      (0 until rnd.nextInt(10)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val rows = strs.toDF("t").select(
      Text.maskedVariantsOf($"t").as("fast"),
      Text.maskedVariantsHof($"t").as("hof"),
      Text.maskedVariantsOf($"t", distinct = true).as("fast_d"),
      array_distinct(Text.maskedVariantsHof($"t")).as("hof_d")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[String](2) == r.getSeq[String](3), "distinct variants")
    }
    // NULL: native NULL vs HOF [] — identical after the explode all callers apply
    val nullDf = Seq[String](null).toDF("t")
    assert(nullDf.select(explode(Text.maskedVariantsOf($"t"))).count() == 0)
    assert(nullDf.select(explode(Text.maskedVariantsHof($"t"))).count() == 0)
  }

  test("singleEditNearPairs ≡ brute-force reference on randomized mask-char-bearing keys") {
    // The dedup-free exactly-once emission rests on a proof about shared
    // variant values; this stresses it where the proof is least obvious —
    // short strings over a tiny alphabet INCLUDING the reserved mask char
    // (dup keys, double-mask runs, cross-length lookalikes). Reference:
    // all equal-length pairs at Levenshtein ≤ 1 (same length forces the
    // one edit to be a substitution), plus nothing else, each exactly once.
    val rnd      = new scala.util.Random(1234L)
    val alphabet = "ab" + "\u0001"
    val strs = (0 until 120).map(i =>
      (i.toLong, (0 until (1 + rnd.nextInt(4))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
    val df  = strs.toDF("id", "s")
    val out = Text.singleEditNearPairs(df, "id", "s")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSeq
    assert(out.size == out.toSet.size, "a pair was emitted more than once")
    val ref = (for {
      (ia, sa) <- strs; (ib, sb) <- strs
      if ia < ib && sa.length == sb.length
      d = sa.zip(sb).count { case (x, y) => x != y }
      if d <= 1
    } yield (ia, ib, d)).toSet
    assert(out.toSet == ref)
  }

  test("topTokenRatio native ≡ sorted-fold HOF reference on randomized docs") {
    val rnd  = new scala.util.Random(42L)
    val vocab = Seq("a", "bb", "ccc", "Ωλ", "dd", "a") // skewed: 'a' twice
    val strs = Seq("", "   ", "solo") ++ (1 to 60).map(_ =>
      (0 until rnd.nextInt(14)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val rows = strs.toDF("t").select(
      Text.topTokenRatio(Text.tokens($"t")).as("fast"),
      Text.topTokenRatioHof(Text.tokens($"t")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("repetition signals: dominated/repeated text scores high, varied text low") {
    val df = Seq(
      "spam spam spam spam eggs",      // top token 4/5; bigram "spam spam" ×3 of 4 → dup 0.5
      "one two three four five").toDF("t")
    val out = df.select(
      Text.topTokenRatio(Text.tokens($"t")).as("tt"),
      Text.dupBigramRatio(Text.ngramsOf($"t", 2)).as("db")).collect()
    assert(out(0).getDouble(0) == 0.8 && out(0).getDouble(1) == 0.5)
    assert(out(1).getDouble(0) == 0.2 && out(1).getDouble(1) == 0.0)
  }

  test("decontaminate drops only corpus docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),           // shares the 3-gram with bench
      (2L, "one two three four five"),                  // clean
      (3L, "unrelated words entirely different here")). // clean
      toDF("doc_id", "text")
    val bench = Seq("xxx alpha beta gamma yyy").toDF("text")
    val kept = Text.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("simhash: identical text → identical signature; disjoint text → different") {
    val df = Seq(("a b c", "a b c", "x y z")).toDF("p", "q", "r")
    val row = df.select(Text.simhash($"p", 16), Text.simhash($"q", 16), Text.simhash($"r", 16)).head()
    assert(row.getLong(0) == row.getLong(1))
    assert(row.getLong(0) != row.getLong(2))
  }

  test("simhashNearDupPairs: planted near-dup caught, shuffled doc not") {
    // SimHash is a TIGHT-dup detector: one appended token keeps Hamming ~2;
    // reordering the same tokens (identical token SET, different shingles)
    // lands ~28 bits away and must not pair.
    val words = ("one two three four five six seven eight nine ten eleven twelve thirteen " +
      "fourteen fifteen sixteen seventeen eighteen nineteen twenty alpha beta gamma delta " +
      "epsilon zeta eta theta iota kappa").split(" ")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ") + " extra"),
      (3L, words.reverse.mkString(" "))).toDF("doc_id", "text")
    val pairs = Text.simhashNearDupPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhashOfSet: order-insensitive over the set; empty set → 0") {
    val df = Seq((Seq("a b c", "d e f"), Seq("d e f", "a b c"), Seq.empty[String])).toDF("x", "y", "z")
    val r = df.select(
      Text.simhashOfSet($"x", 48), Text.simhashOfSet($"y", 48), Text.simhashOfSet($"z", 48)).head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == 0L)
  }

  test("fingerprint is order-sensitive") {
    val df = Seq(("ab cd", "cd ab")).toDF("p", "q")
    val row = df.select(Text.fingerprint($"p"), Text.fingerprint($"q")).head()
    assert(row.getLong(0) != row.getLong(1))
  }

  test("languageId picks the language with most marker hits; 'und' when none") {
    val df = Seq("the cat and the hat", "el gato y la casa", "qqq www eee").toDF("t")
    val out = df.select(Text.languageId(Text.tokenSet($"t"))).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("bpeishTokenCount counts letter runs, digit runs, punctuation") {
    val out = Seq("ab12 cd, ef!").toDF("t")
      .select(Text.bpeishTokenCount($"t")).as[Int].head()
    // ab, 12, cd, ',', ef, '!'
    assert(out == 6)
  }

  test("collocations ranks glued pairs above independent ones") {
    // "new york" always adjacent; "aa"/"bb" frequent but never adjacent to each other
    val docs = (1 to 40).map(i => s"new york aa cc bb dd aa ee bb ff").toDF("text")
    val out = Text.collocations(docs, "text", 5L)
      .select("bigram", "pmi").as[(String, Double)].collect().toMap
    assert(out.contains("new york"))
    assert(out("new york") > out.getOrElse("aa cc", 0.0))
    assert(!out.contains("aa bb")) // never adjacent → no candidate row
  }

  test("bm25TopK prefers rare terms and saturates tf; k bounds per-term rows") {
    val docs = Seq(
      (1L, "rare common common common"),
      (2L, "common common common common common common common common"),
      (3L, "common rare rare"),
      (4L, "filler words only here")).toDF("id", "text")
    val out = Text.bm25TopK(docs, "id", "text", Seq("rare", "common"), 2)
      .select("term", "doc_id", "score").as[(String, Long, Double)].collect()
    assert(out.count(_._1 == "rare") <= 2 && out.count(_._1 == "common") <= 2)
    val rareTop = out.filter(_._1 == "rare").maxBy(_._3)
    assert(rareTop._2 == 3L) // two 'rare' hits in a short doc wins the term
    // idf: 'rare' (df=2) outscores 'common' (df=3) at its best
    assert(rareTop._3 > out.filter(_._1 == "common").map(_._3).max)
  }

  test("duplicatedNgramCoverage: cross-doc and within-doc repeats, short docs zero") {
    val docs = Seq(
      (1L, "a b c d e"),             // shares "a b c d" with doc 2
      (2L, "x a b c d y"),
      (3L, "p q r s"),               // unique window
      (4L, "u v"),                   // shorter than n: no windows
      (5L, "m n o p m n o p m n o p")) // fully self-repeating
      .toDF("doc_id", "text")
    val out = Text.duplicatedNgramCoverage(docs, "doc_id", "text", 4)
      .select("doc_id", "n_tokens", "covered", "coverage")
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5, 4L, 0.8)))    // positions 0..3
    assert(out(2L) == ((2L, 6, 4L, 0.6667))) // positions 1..4
    assert(out(3L) == ((3L, 4, 0L, 0.0)))
    assert(out(4L) == ((4L, 2, 0L, 0.0)))
    assert(out(5L) == ((5L, 12, 12L, 1.0)))  // every window repeats
  }

  test("clipDuplicatedSpans keeps the global-first occurrence, cuts the rest") {
    val docs = Seq(
      (1L, "a b c d e"),        // owns the first "a b c d"
      (2L, "x a b c d y"),      // its copy at pos 1..4 is clipped
      (3L, "m n o p m n o p"))  // self-repeat: second half clipped
      .toDF("doc_id", "text")
    val out = Text.clipDuplicatedSpans(docs, "doc_id", "text", 4)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5, 5L, "a b c d e"))) // canonical copy intact
    assert(out(2L) == ((2L, 6, 2L, "x y")))
    assert(out(3L) == ((3L, 8, 4L, "m n o p")))
    // idempotent on its own output: clipping again changes nothing
    val again = Text.clipDuplicatedSpans(
      out.values.toSeq.map(r => (r._1, r._4)).toDF("doc_id", "text"), "doc_id", "text", 4)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(again == out.view.mapValues(_._4).toMap)
  }

  test("JaroWinkler matches the published reference values, byte-wise on UTF-8") {
    import graft.expr.JaroWinkler
    def jw(a: String, b: String) =
      JaroWinkler.similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-12)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0) // DuckDB convention
    assert(jw("ab", "ba") == 0.0)                   // window 0: no matches
    assert(math.abs(jw("ab", "ax") - 2.0 / 3) < 1e-12) // jaro <= 0.7: no boost
    // byte-wise on multibyte text: 'aé'/'aà' share 2 of 3 BYTES
    assert(math.abs(jw("aé", "aà") - 0.8222222222222222) < 1e-9)
    // prefix boost caps at 4
    assert(math.abs(jw("prefix_common_tail1", "prefix_common_tail2") - 0.9789473684210526) < 1e-9)
    // ODD mismatch counts: transpositions floor (integer division), the
    // rapidfuzz/DuckDB convention — the fractional form diverges here
    assert(math.abs(jw("azure antique beige burnished almond",
      "azure blanched burnished antique beige") - 0.8512280701754386) < 1e-12)
    assert(math.abs(jw("abcdx", "baxdc") - 0.6222222222222222) < 1e-12)
    assert(math.abs(jw("information", "informaiton") - 0.9818181818181818) < 1e-12)
  }

  test("JaroWinkler matches 250 DuckDB-computed fixture pairs bit-for-bit") {
    import graft.expr.JaroWinkler
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/jaro_winkler_fixture.tsv"), "UTF-8")
    val cases = try src.getLines().map { line =>
      val Array(a, b, v) = line.split("\t", 3)
      (a, b, v.toDouble)
    }.toList finally src.close()
    assert(cases.length == 250)
    cases.foreach { case (a, b, expected) =>
      val got = JaroWinkler.similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(got == expected, s"jw(${a.trim}, ${b.trim}): got $got, duckdb $expected")
    }
  }

  test("nameSimilarityPairs blocks by first token and keeps the rounded-score frontier") {
    val df = Seq(
      (1L, "small ring"), (2L, "small ring"), (3L, "small rings"),
      (4L, "small bolt"), (5L, "red ring")).toDF("id", "name")
    val out = Text.nameSimilarityPairs(df, "name", 0.9)
      .select("name_a", "name_b", "jw", "n_a", "n_b")
      .as[(String, String, Double, Long, Long)].collect()
    // vocabulary-level: the duplicate "small ring" rows collapse to n=2
    assert(out.length == 1)
    val p = out.head
    assert(p._1 == "small ring" && p._2 == "small rings")
    assert(p._4 == 2L && p._5 == 1L)
    assert(p._3 >= 0.9 && p._3 <= 1.0)
    // "red ring" is in another block: never even a candidate
    assert(!out.exists(r => r._1.startsWith("red") || r._2.startsWith("red")))
  }

  test("bpePairCounts weights char pairs by word frequency, skips 1-char words") {
    val docs = Seq(
      (1L, "ab ab abc x"),
      (2L, "ab cd x x")).toDF("doc_id", "text")
    val out = Text.bpePairCounts(docs, "text", 10)
      .as[(String, Long)].collect().toList
    // 'ab' appears in words ab(3) + abc(1) = 4; bc in abc(1); cd in cd(1);
    // the 1-char word x (3 occurrences) contributes nothing
    assert(out.head == (("ab", 4L)))
    assert(out.toMap == Map("ab" -> 4L, "bc" -> 1L, "cd" -> 1L))
    assert(out == out.sortBy(p => (-p._2, p._1))) // (cnt desc, pair) order
  }

  test("bpeTrain: multi-round merges, greedy left-to-right, lexicographic ties") {
    // aaab ×3, aab ×2: round 1 counts (a,a) = 3·2 + 2·1 = 8 (GREEDY pair
    // counting inside 'aaa' sees positions 1-2 and 2-3 — both count, but
    // the MERGE consumes left-to-right: aaa -> (aa)a, never a(aa));
    // (a,b) = 5 loses. After merging (a,a): aaab -> aa,a,b; aab -> aa,b.
    val docs = Seq(
      (1L, "aaab aaab aaab aab aab")).toDF("doc_id", "text")
    val out = Text.bpeTrain(docs, "text", 3)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(out.head == ((1, "a", "a", "aa", 8L)))
    // round 2: pairs now (aa,a)=3, (a,b)=3, (aa,b)=2 — tie 3 vs 3 breaks
    // lexicographically: ("a","b") < ("aa","a") by sym_a binary order
    assert(out(1) == ((2, "a", "b", "ab", 3L)))
    // round 3: aaab is now aa,ab (the merged 'ab' blocked (aa,a)); aab is aa,b
    // pairs: (aa,ab)=3, (aa,b)=2
    assert(out(2) == ((3, "aa", "ab", "aaab", 3L)))
  }

  test("bpeTrain stops early when no pairs remain") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val out = Text.bpeTrain(docs, "text", 5)
      .as[(Int, String, String, String, Long)].collect().toList
    // one merge exhausts every word; rounds 2-5 find nothing and emit nothing
    assert(out == List((1, "a", "b", "ab", 2L)))
  }

  test("bpeTrain local and distributed paths produce identical merge tables") {
    val docs = Seq(
      (1L, "aaab aaab aaab aab aab low lower lowest low low"),
      (2L, "newer newest wider wide new ab x")).toDF("doc_id", "text")
    val local = Text.bpeTrainImpl(docs, "text", 6, maxDriverVocab = Long.MaxValue)
      .as[(Int, String, String, String, Long)].collect().toList
    val dist = Text.bpeTrainImpl(docs, "text", 6, maxDriverVocab = 0L)
      .as[(Int, String, String, String, Long)].collect().toList
    assert(local == dist)
    assert(local.length == 6)
  }

  test("utf8Ordering matches Spark's binary string order where UTF-16 diverges") {
    // U+FFFF (UTF-16: FFFF; UTF-8: EF BF BF) vs U+1F600 (UTF-16 surrogate
    // pair D83D DE00; UTF-8: F0 9F 98 80): Java's String order puts the
    // emoji FIRST, UTF-8 byte order puts it LAST — the exact divergence the
    // driver-side BPE tie-break must not inherit
    val hi = "\uffff"
    val emoji = new String(Character.toChars(0x1F600))
    assert(emoji.compareTo(hi) < 0, "sanity: UTF-16 order has emoji first")
    assert(Text.utf8Ordering.lt(hi, emoji), "UTF-8 byte order has U+FFFF first")
    // and Spark's own sort agrees with utf8Ordering, not with UTF-16
    val sparkOrder = Seq(Tuple1(hi), Tuple1(emoji)).toDF("s")
      .orderBy($"s").as[String].collect().toList
    assert(sparkOrder == List(hi, emoji).sorted(Text.utf8Ordering))
    // prefix case: shorter string first
    assert(Text.utf8Ordering.lt("ab", "abc") && !Text.utf8Ordering.lt("abc", "ab"))
  }

  test("bpeEncode: trained merges shrink token counts; 1-char and empty docs") {
    val docs = Seq(
      (1L, "aaab aaab aaab aab aab"), // merges (a,a), (a,b), (aa,ab) — see bpeTrain spec
      (2L, "a b"),                    // 1-char words: encode as themselves
      (3L, "  ")).toDF("doc_id", "text") // whitespace-only: zero of both
    val out = Text.bpeEncode(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toList
    // doc 1: aaab -> one merged symbol (3 words × 1) + aab -> (aa, b) (2 × 2) = 7
    assert(out == List((1L, 5L, 7L), (2L, 2L, 2L), (3L, 0L, 0L)))
  }

  test("vocabCoverage: counts, deterministic order, cumulative share reaches 1") {
    val docs = Seq(
      (1L, "a a a b"),
      (2L, "a b c"),
      (3L, "  ")).toDF("doc_id", "text") // whitespace-only doc contributes nothing
    val out = Text.vocabCoverage(docs, "text", 10)
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((1, "a", 4L), (2, "b", 2L), (3, "c", 1L)))
    // shares over total 7: 4/7, 6/7, 7/7 (r4-rounded)
    assert(out.map(_._4) == Seq(0.5714, 0.8571, 1.0))
  }

  test("contaminationScore reports overlap fractions, omits clean docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over it"),   // shares the 5-gram prefix
      (2L, "completely unrelated text with nothing shared here"),
      (3L, "the quick brown fox jumps")).toDF("doc_id", "text") // 1 shingle, shared
    val bench = Seq((100L, "the quick brown fox jumps high today")).toDF("doc_id", "text")
    val out = Text.contaminationScore(corpus, "doc_id", "text", bench, "text", 5)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(2L))                 // clean doc absent from the report
    assert(out(1L) == ((1L, 1L, 3L, 0.3333))) // 1 of 3 shingles shared
    assert(out(3L) == ((3L, 1L, 1L, 1.0)))    // fully contained
  }

  test("bigramLmScore: per-context bigram probabilities, micro-nat precision") {
    // corpus bigrams: aa×3 (doc 1), ab×2 + ba×1 (doc 2), zq×1 (doc 3)
    // contexts: 'a' → 5 (aa 3 + ab 2), 'b' → 1, 'z' → 1
    val docs = Seq(
      (1L, "aaaa"),
      (2L, "abab"),
      (3L, "zq")).toDF("doc_id", "text")
    val out = Text.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1: 3× aa, p = 3/5 → xent = -ln 0.6 ≈ 0.5108
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - 0.5108) < 1e-9)
    // doc 3: zq is its context's only bigram → p = 1 → xent 0
    assert(out(3L) == ((1L, 0.0)))
    // doc 2: 2× ab (p = 2/5) + 1× ba (p = 1) → (2·(-ln 0.4))/3 ≈ 0.6109
    assert(math.abs(out(2L)._2 - 0.6109) < 1e-9)
  }

  test("containmentPairs sees a quoted doc that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 40).map(i => s"filler$i word$i extra$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated text entirely different"))
      .toDF("doc_id", "text")
    val cont = Text.containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(cont.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(cont.head._4 == 1.0)     // all of doc 1's shingles appear in doc 2
    assert(cont.head._5 < 0.1)      // but doc 2 is mostly NOT doc 1
    // symmetric jaccard at the same bar finds nothing
    assert(Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.9).count() == 0)
  }

  test("CharBigramCounts matches the HOF explode+count form, incl. multi-byte") {
    val docs = Seq(
      (1L, "aaaa"), (2L, "abab"), (3L, "zq"),
      (4L, "héllo héllo"), // multi-byte é: windows must index code points
      (5L, "日本語テキスト")).toDF("doc_id", "text")
    val native = Text.docCharBigramCounts(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect().toSet
    val hof = docs
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("text")) - 1),
          i => col("text").substr(i, lit(2)))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .as[(Long, String, Long)].collect().toSet
    assert(native == hof)
    assert(native.exists { case (id, bg, _) => id == 4L && bg == "hé" })
  }

  test("minhashDedupAgainstIndex ≡ minhashDedupAgainstCorpus; append admits new docs") {
    import spark.implicits._
    def doc(i: Long, s: String) = (i, s)
    val corpusA = Seq(
      doc(1, "the quick brown fox jumps over the lazy dog tonight"),
      doc(2, "a completely different sentence about spark physical plans"),
      doc(3, "bucketed tables amortize the shuffle across later joins"))
      .toDF("doc_id", "text")
    val corpusB = Seq(
      doc(4, "streaming sinks commit atomically through the table log"))
      .toDF("doc_id", "text")
    val batch = Seq(
      doc(100, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      doc(101, "statistics pruned scans never read the cold files"),   // novel
      doc(102, "streaming sinks commit atomically through the table log")) // dup of 4
      .toDF("doc_id", "text")
    def survivors(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    // index of corpus A only: batch doc 102's twin is not indexed yet
    graft.ops.Text.writeMinhashIndex(corpusA, "doc_id", "text", 3, 16, "textspec_idx", 4)
    val viaIndexA = survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, "textspec_idx"))
    val viaCorpusA = survivors(graft.ops.Text.minhashDedupAgainstCorpus(
      batch, corpusA, "doc_id", "text", 3, 16, 0.5))
    assert(viaIndexA == viaCorpusA && viaIndexA == Seq(101L, 102L))
    // append corpus B: the stored index now sees doc 4, so 102 is dropped too
    graft.ops.Text.writeMinhashIndex(corpusB, "doc_id", "text", 3, 16, "textspec_idx", 4,
      mode = "append")
    val viaIndexAB = survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, "textspec_idx"))
    val viaCorpusAB = survivors(graft.ops.Text.minhashDedupAgainstCorpus(
      batch, corpusA.unionByName(corpusB), "doc_id", "text", 3, 16, 0.5))
    assert(viaIndexAB == viaCorpusAB && viaIndexAB == Seq(101L))
  }

  test("lshBucketOccupancy preflight surfaces a clone flood as a quadratic cand_pairs spike") {
    import spark.implicits._
    val distinctDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence about spark physical plans"),
      (3L, "bucketed tables amortize the shuffle across later joins"))
      .toDF("doc_id", "text")
    val cloneText = "this exact boilerplate paragraph appears on every single page"
    val flood = spark.range(200)
      .select(($"id" + 1000L).as("doc_id"), lit(cloneText).as("text"))
    val report = graft.ops.Text.lshBucketOccupancy(
        distinctDocs.unionByName(flood), "doc_id", "text", 3, 16)
      .as[(Long, Long, Long)].collect()
    // every one of the 16 bands hashes the 200 identical docs into ONE
    // bucket: the report must show the occ=200 spike with its quadratic
    // candidate mass — the signal that says "set maxBucket before joining"
    val spike = report.filter(_._1 == 200L)
    assert(spike.length == 1 && spike.head._2 == 16L)
    assert(spike.head._3 == 16L * (200L * 199L / 2))
    // and the spike dominates the total candidate mass (the decision rule)
    val totalCand = report.map(_._3).sum
    assert(spike.head._3.toDouble / totalCand > 0.99)
  }

  test("deleteFromMinhashIndex + compactMinhashIndex ≡ recompute on the shrunken corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence about spark physical plans"),
      (3L, "streaming sinks commit atomically through the table log"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (101L, "streaming sinks commit atomically through the table log")) // dup of 3
      .toDF("doc_id", "text")
    def survivors(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val prefix = "textspec_delidx"
    graft.ops.Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, 4)
    assert(survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, prefix)) == Seq.empty)
    // tombstone doc 1: its twin (100) must now SURVIVE — identical to a
    // recompute against the corpus minus the deleted doc
    graft.ops.Text.deleteFromMinhashIndex(spark, Seq(1L).toDF("doc_id"), "doc_id", prefix)
    val viaTombstone = survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, prefix))
    val viaRecompute = survivors(graft.ops.Text.minhashDedupAgainstCorpus(
      batch, corpus.filter($"doc_id" =!= 1L), "doc_id", "text", 3, 16, 0.5))
    assert(viaTombstone == viaRecompute && viaTombstone == Seq(100L))
    // deleting an id twice / an id never indexed is inert
    graft.ops.Text.deleteFromMinhashIndex(spark,
      Seq(1L, 999L).toDF("doc_id"), "doc_id", prefix)
    assert(survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, prefix)) == Seq(100L))
    // compaction physically folds the tombstones: same answer, tombstone
    // table gone, and the index tables no longer hold the deleted id
    graft.ops.Text.compactMinhashIndex(spark, prefix, 16, 4)
    assert(!spark.catalog.tableExists(s"${prefix}_del"))
    assert(survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, prefix)) == Seq(100L))
    assert(spark.table(s"${prefix}_sh").filter($"id" === 1L).count() == 0)
    assert(spark.table(s"${prefix}_sig").filter($"id" === 1L).count() == 0)
    // a fresh full rebuild clears any pending tombstones with it
    graft.ops.Text.deleteFromMinhashIndex(spark, Seq(3L).toDF("doc_id"), "doc_id", prefix)
    graft.ops.Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, 4)
    assert(survivors(graft.ops.Text.minhashDedupAgainstIndex(
      batch, "doc_id", "text", 3, 16, 0.5, prefix)) == Seq.empty)
  }
}
