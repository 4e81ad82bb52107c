package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis & fuzzy-dedup surface (SURVEY §2.10: T1–T3, T6, D3) plus the
  * LLM-pipeline extensions (language-ID, quality scoring, token counting,
  * document fingerprinting, SimHash).
  *
  * Everything is built from stock codegen'd expressions — `split`, the array
  * higher-order functions, `md5` — no UDFs, so the whole per-document feature
  * pass fuses into one whole-stage-codegen scan stage with zero shuffles.
  * Cross-engine determinism device: where a hash value must be reproducible by
  * the DuckDB oracle, the hash is the first 60 bits of md5 ([[hash60]]) rather
  * than Spark's murmur3 `hash` (which DuckDB cannot compute). The md5 form
  * costs more per call but only runs on tokens/shingles, not on every row of a
  * fact table; swap in `xxhash64` when oracle parity is not required.
  */
object Text {

  /** T1 — whitespace tokenization, case-folded. Contract quirk shared with
    * the DuckDB oracle (`string_split_regex`): EMPTY/whitespace-only text
    * yields `[""]` — one empty-string token — in BOTH engines, so counts
    * and ratios agree cross-engine; filter `length(text) > 0` upstream
    * when empty docs must contribute zero tokens.
    */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Distinct token set (order-insensitive ops: SimHash, language-ID). */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** Character n-grams of the lowercased text (one entry per occurrence) —
    * the substrate for profile-based language ID and other sub-word
    * signals. Character semantics (not bytes) on both engines, so
    * multi-byte scripts produce n CODEPOINTS per gram; texts shorter than
    * n yield the EMPTY array.
    *
    * NULL convention: NULL in → NULL out (the native-expression
    * `nullSafeEval` convention), where the HOF reference form returned `[]`
    * for NULL input. Every current caller explodes the result, so rows are
    * identical either way — but a non-explode consumer (`size(...)`, array
    * equality) sees NULL where the HOF form produced `[]`; coalesce at the
    * call site if `[]` is required.
    */
  def charNgrams(c: Column, n: Int): Column =
    asCol(graft.expr.CharNgrams(asExpr(c), n, distinct = false))

  /** [[charNgrams]] de-duplicated to first occurrences — same value as
    * `array_distinct(charNgrams(c, n))` in ONE compiled pass (the wrapper
    * form materializes the full gram array per row only to collapse it).
    */
  def charNgramsDistinct(c: Column, n: Int): Column =
    asCol(graft.expr.CharNgrams(asExpr(c), n, distinct = true))

  /** HOF reference form of [[graft.expr.CharNgrams]] (kept for the spec's
    * equivalence proof): an interpreted substr lambda per gram — one eval
    * per character of the document, which is why the native expression
    * exists.
    */
  private[graft] def charNgramsHof(c: Column, n: Int): Column = {
    require(n >= 1, "n must be positive")
    val lc = lower(c)
    when(length(lc) >= n,
      transform(sequence(lit(1), length(lc) - (n - 1)), i => lc.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** T3 — all n-token grams joined by a single space (one entry per
    * occurrence, for frequency counting). `sequence` must be guarded:
    * Spark's `sequence(1, 0)` counts DOWN, so a doc with fewer than n tokens
    * needs the empty-array branch.
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** T3/T6 — de-duplicated shingle set (the MinHash/Jaccard input). */
  def shingles(toks: Column, n: Int): Column = array_distinct(ngrams(toks, n))

  /** First counting round of byte-pair-encoding tokenizer training: the
    * frequency of each adjacent CHARACTER pair, weighted by word frequency
    * — the argmax is BPE's first merge. Iterating (merge, recount) yields
    * the full merge table — [[bpeTrain]] runs that loop; one round is the
    * expensive, corpus-shaped step (the rest operate on the compressed
    * vocab).
    *
    * Scale shape: the corpus reduces to the word-frequency VOCABULARY
    * first (one (word, count) hash aggregate — the classic BPE-training
    * move: pair counting then runs over millions of vocab entries, not
    * trillions of corpus tokens), pairs explode off the short vocab words,
    * and a second (pair, count) aggregate finishes. Shuffles carry counts
    * only.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val vocab = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
    vocab.filter(length(col("w")) >= 2)
      // adjacent char pairs = native char 2-grams (vocab words come out of
      // [[tokens]] already lowercased, so CharNgrams' case-fold is a no-op);
      // the HOF substr-lambda form it replaces evaluated interpreted per
      // character of every vocab word — the q119 hot path
      .select(col("nw"), explode(charNgrams(col("w"), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("nw")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** The FULL byte-pair-encoding tokenizer-training loop — `merges` rounds
    * of (count adjacent symbol pairs, merge the argmax pair everywhere) —
    * where [[bpePairCounts]] is only round one's counting step. Returns the
    * merge table `(merge_rank, sym_a, sym_b, merged, cnt)` in training
    * order, i.e. the tokenizer itself.
    *
    * Scale shape: the corpus reduces to the word-frequency VOCABULARY once
    * (the only corpus-sized exchange — the classic BPE-training move: every
    * round after it runs over distinct words, which are bounded by language,
    * not by corpus size). The vocabulary is persisted and COUNTED (a bounded
    * probe): at or under [[MaxDriverVocab]] entries the k sequential merge
    * rounds run driver-side on the collected table — the loop is inherently
    * sequential, so 2k distributed round trips over an in-memory-sized
    * table is pure overhead — and above it they run distributed, each round
    * one small (pair, count) aggregate plus a ONE-ROW driver fetch.
    *
    * Merge-application device (shared verbatim with the SQL oracle): each
    * word is held as a spaced-symbol string — single boundary spaces,
    * DOUBLE-space separators, `" l  o  w "`. Replacing `" a  b "` with
    * `" ab "` is then exactly BPE's left-to-right non-overlapping greedy
    * merge: both engines' `replace` scans left to right, the double
    * separators stop a match from consuming the boundary space of the next
    * candidate (`" a  a  a "` → `" aa  a "`, never `" a  aa "`), and
    * symbols can never collide with the delimiters because they come from
    * whitespace-split tokens. Ties in the argmax break on (sym_a, sym_b)
    * binary order — identical in Spark and DuckDB on lowercased text.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    bpeTrainImpl(docs, textCol, merges, MaxDriverVocab)

  /** Vocabularies at or under this row count train DRIVER-SIDE after the
    * corpus-shaped aggregate: the k-round merge loop is sequential by
    * construction (each argmax depends on the previous merge), so the
    * distributed form pays 2k tiny-job round trips to aggregate a table
    * that fits in memory with room to spare — every production BPE trainer
    * collects the word-count table at exactly this point. 2^20 entries
    * bounds the fetch at tens of MB (the `Curation.madOutliers` bounded-
    * probe pattern); natural-language vocabularies under a
    * frequency-floored regime sit well under it, and anything larger falls
    * back to the distributed loop rather than refusing.
    */
  private[graft] val MaxDriverVocab: Long = 1L << 20

  private[graft] def bpeTrainImpl(
      docs: DataFrame, textCol: String, merges: Int, maxDriverVocab: Long): DataFrame = {
    require(merges >= 1, "merges must be positive")
    val spark = docs.sparkSession
    val vocab = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      .filter(length(col("w")) >= 2) // single-char words never pair or merge
      .select(
        concat(lit(" "), array_join(charNgrams(col("w"), 1), "  "), lit(" ")).as("s"),
        col("nw"))
      .persist()
    val nVocab = vocab.count() // bounded probe AND the persist materializer

    val merged =
      if (nVocab <= maxDriverVocab) bpeTrainLocal(vocab, merges)
      else bpeTrainDistributed(vocab, merges)
    vocab.unpersist()
    import spark.implicits._
    merged.toSeq.toDF("merge_rank", "sym_a", "sym_b", "merged", "cnt")
  }

  /** In-memory merge loop over the collected (spaced-word, count) table.
    * Same algorithm, same tie-break, same left-to-right `String.replace`
    * greedy-merge semantics as the distributed form (TextSpec pins the
    * two paths equal); the boundary spaces the spaced form carries are
    * stripped positionally, never by trim, so exotic control characters
    * inside tokens cannot skew the local path.
    */
  private def bpeTrainLocal(
      vocab: DataFrame, merges: Int): Seq[(Int, String, String, String, Long)] = {
    var cur = vocab.collect().map(r => (r.getString(0), r.getLong(1)))
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    while (r <= merges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((s, nw) <- cur) {
        val syms = s.substring(1, s.length - 1).split("  ")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + nw
          i += 1
        }
      }
      if (counts.isEmpty) r = merges + 1
      else {
        // tie-break by UTF-8 BYTES, not Java's UTF-16 code units: the
        // distributed path (UTF8String) and the DuckDB oracle both compare
        // binary UTF-8, and the two orders diverge on non-BMP symbols
        // (U+FFFF sorts after a surrogate pair in UTF-16, before it in
        // UTF-8) — which side of the MaxDriverVocab gate a corpus lands on
        // must never change the merge table
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8Ordering, utf8Ordering))
        merged += ((r, a, b, a + b, c))
        val (pat, rep) = (" " + a + "  " + b + " ", " " + a + b + " ")
        cur = cur.map { case (s, nw) => (s.replace(pat, rep), nw) }
        r += 1
      }
    }
    merged.toSeq
  }

  /** UTF-8 byte order on strings — the order UTF8String and DuckDB use.
    * Java's natural `String` order compares UTF-16 code units and diverges
    * on non-BMP code points; every driver-side tie-break that must agree
    * with an in-plan `orderBy` goes through this.
    */
  private[graft] val utf8Ordering: Ordering[String] = (x: String, y: String) => {
    val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(xb.length, yb.length)
    var i = 0
    var d = 0
    while (i < n && d == 0) { d = (xb(i) & 0xFF) - (yb(i) & 0xFF); i += 1 }
    if (d != 0) d else xb.length - yb.length
  }

  /** Adjacent-symbol pair rows of spaced-word `(s, nw)` rows, weighted
    * `nw · sign` — the counting kernel of the distributed trainer, run over
    * full vocab once (round 0) and over AFFECTED words only thereafter.
    */
  private def bpePairRows(words: DataFrame, sign: Int): DataFrame = {
    val syms = split(trim(col("s")), "  ")
    words
      .select(col("nw"), col("s"), posexplode(syms).as(Seq("i", "a")))
      .filter(col("i") < size(syms) - 1)
      .select(col("a"), element_at(syms, col("i") + 2).as("b"),
        (col("nw") * sign).as("w"))
  }

  /** Distributed merge loop with DELTA-MAINTAINED pair counts: the
    * `(pair, count)` table is built ONCE from the full vocabulary, then
    * each round updates it only from the words that CONTAIN the merged
    * pair — pair-count maintenance costs ∝ affected words, not vocab, so
    * per-round cost is flat in the round number (the previous form
    * re-exploded the whole vocabulary under an r-deep replace chain every
    * round — O(k²·vocab) over k merges, fine at the k=8 demo and wrong at
    * the 30k–50k merges a real tokenizer trains; ScaleBench's `bpe_train`
    * family measures the linear total). Per round: a ONE-ROW argmax fetch
    * off the maintained counts (the merge decision, not data), one
    * affected-only delta aggregate folded into the counts table, and one
    * narrow no-shuffle projection re-pinning the words. Both tables are
    * eagerly re-pinned per round ([[Checkpoints]]) — the loop is
    * sequential by construction, so lineage would otherwise deepen by one
    * replace per round.
    *
    * Dropped-pair safety: a pair whose count reaches 0 is removed and can
    * never recur — merging `a b` only creates pairs INVOLVING the new
    * `ab` symbol, so a zero-count pair of old symbols stays dead and a
    * recreated adjacency is always a brand-new key.
    */
  private def bpeTrainDistributed(
      vocab: DataFrame, merges: Int): Seq[(Int, String, String, String, Long)] = {
    val spark = vocab.sparkSession
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var words = Checkpoints.pin(vocab.select(col("s"), col("nw")))
    var counts = Checkpoints.pin(bpePairRows(words, 1)
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("cnt")))
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val top = counts.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // bounded: exactly one row — the round's argmax
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merged += ((r, a, b, a + b, c))
        val (pat, rep) = (" " + a + "  " + b + " ", " " + a + b + " ")
        // delta = pairs(affected after) − pairs(affected before); folding
        // it into the counts table is ONE aggregate whose input is the
        // (small) counts table plus affected-word pair rows
        val affected = words.filter(col("s").contains(pat))
        val newCounts = Checkpoints.pin(counts
          .select(col("a"), col("b"), col("cnt").as("w"))
          .unionByName(bpePairRows(
            affected.select(replace(col("s"), lit(pat), lit(rep)).as("s"), col("nw")), 1))
          .unionByName(bpePairRows(affected, -1))
          .groupBy(col("a"), col("b")).agg(sum(col("w")).as("cnt"))
          .filter(col("cnt") > 0))
        val newWords = Checkpoints.pin(words.select(
          replace(col("s"), lit(pat), lit(rep)).as("s"), col("nw")))
        Checkpoints.release(counts); Checkpoints.release(words)
        counts = newCounts; words = newWords
        r += 1
      }
    }
    Checkpoints.release(counts); Checkpoints.release(words)
    merged.toSeq
  }

  /** Tokenizer APPLICATION — the corpus-shaped half of BPE ([[bpeTrain]] is
    * the vocab-shaped half): encode every document with the first `merges`
    * trained merge rules and report its BPE token count.
    *
    * Scale shape: training runs first (vocab-bounded, see [[bpeTrain]]);
    * the merge RULES come to the driver (k rows) and are compiled into a
    * chain of k `replace` calls applied once per DISTINCT word — never per
    * occurrence — on an encode vocabulary that keeps 1-char words (they
    * encode as themselves; [[bpeTrain]] drops them only because they can
    * never pair). The corpus then joins words→symbol-counts and partially
    * aggregates per document: the join side is the vocabulary (bounded by
    * language), which AQE broadcast-converts when it fits — the classic
    * fact×dimension shape, so encoding 100 TB never shuffles the corpus
    * beyond the explode's own partial aggregate.
    *
    * @return (id, n_words, n_bpe_tokens) per document; empty/whitespace-only
    *         documents count zero of both (the `[""]` token is dropped).
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String, merges: Int): DataFrame = {
    val rules = bpeTrain(docs, textCol, merges).collect() // bounded: k merge rows
    var s: Column = col("s")
    for (r <- rules) {
      val (a, b) = (r.getString(1), r.getString(2))
      s = replace(s, lit(" " + a + "  " + b + " "), lit(" " + a + b + " "))
    }
    val vocabEnc = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1).distinct()
      .select(col("w"),
        concat(lit(" "), array_join(charNgrams(col("w"), 1), "  "), lit(" ")).as("s"))
      .select(col("w"), size(split(trim(s), "  ")).as("n_syms"))
    val counts = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(vocabEnc, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Substring-level duplication census: for each document, how much of it
    * is covered by token n-gram windows that occur MORE THAN ONCE in the
    * corpus (any document, including elsewhere in the same one) — the
    * exact-substring counterpart of the MinHash whole-document families,
    * and the measurement step of suffix-style training-data dedup: repeated
    * spans (boilerplate, licenses, templated text) are what substring
    * dedup clips, and `coverage` is the per-document clip fraction.
    *
    * Scale shape: one window row per token position, but what SHUFFLES is
    * `(doc_id, pos, md5(gram))` — a fixed ~50 B regardless of n, never the
    * gram text. Occurrence counting is a count-over-window on the hash
    * (one exchange, no join-back), the covered-position union is an
    * explode+distinct ON THE DUPLICATED SUBSET ONLY (n× rows on typically
    * a few % of positions), and the final per-doc count is a partial
    * aggregate. The md5 key is the oracle-replayable choice ([[hash60]]
    * note); its 128 bits make cross-gram collisions negligible at any
    * corpus size.
    *
    * @return (doc_id, n_tokens, covered, coverage) — `covered` counts
    *         distinct token positions inside at least one duplicated
    *         window; `coverage` = covered / n_tokens rounded to 1e-4.
    */
  /** Entity-resolution scoring over a NAME VOCABULARY: the corpus first
    * collapses to (distinct name, row count) — scoring runs on vocabulary
    * entries, not rows, the same corpus→vocab reduction BPE training uses —
    * then candidate pairs come from first-token blocking and are scored
    * with the native byte-wise [[graft.expr.JaroWinkler]] (prefix-weighted,
    * typo-tolerant — the complement of [[singleEditNearPairs]]'s exact
    * ≤ 1-edit contract). Pairs at or above `threshold` (on the 1e-4-rounded
    * score, so the SQL oracle replays the frontier exactly) survive.
    *
    * Block sizes bound the quadratic term: candidates per name are limited
    * by its block's vocabulary occupancy, never by corpus row counts. For
    * vocabularies where one first token dominates, block on a stronger key
    * (first token + length bucket) — same shape, smaller squares.
    */
  def nameSimilarityPairs(df: DataFrame, nameCol: String, threshold: Double): DataFrame = {
    val names = df.groupBy(col(nameCol).as("nm")).agg(count(lit(1)).as("n"))
      // substring_index, not a regex \s+ split: the oracle's split_part
      // takes the text before the first SINGLE SPACE (whole string when
      // none), and a tab-separated name must block identically in both
      .withColumn("blk", substring_index(lower(trim(col("nm"))), " ", 1))
      .repartition(col("blk")) // both self-join sides reuse this exchange
    val jw = Summaries.r4(call_function("graft_jaro_winkler", col("a.nm"), col("b.nm")))
    names.as("a")
      .join(names.as("b"), col("a.blk") === col("b.blk") && col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("name_a"), col("b.nm").as("name_b"),
        jw.as("jw"), col("a.n").as("n_a"), col("b.n").as("n_b"))
      .filter(col("jw") >= threshold)
  }

  /** Shared base of the substring-dup census and clip: per-doc token
    * arrays, and the (doc_id, pos, md5(window)) stream both key on — one
    * place to change the window hashing (e.g. a hash60 swap) so the two
    * operators can never disagree about what counts as a duplicated span.
    */
  private def ngramWindows(df: DataFrame, idCol: String, textCol: String, n: Int)
      : (DataFrame, DataFrame) = {
    require(n >= 1, "n must be positive")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"), col("tk"))
    // windows come from the native [[ngramsOf]] straight off the text (the
    // HOF `ngrams` form evaluates an interpreted slice+join lambda per
    // token position — the q116/q121 scan-stage hot path); posexplode's
    // 0-based index IS the token position, same as the tk-based form
    val wins = df
      .select(col(idCol).as("doc_id"),
        posexplode(ngramsOf(col(textCol), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), md5(col("gram")).as("h"))
    (toks, wins)
  }

  def duplicatedNgramCoverage(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val (toks, wins) = ngramWindows(df, idCol, textCol, n)
    val covered = wins
      .withColumn("occ", count(lit(1)).over(w))
      .filter(col("occ") >= 2)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tpos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("covered"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        when(col("n_tokens") > 0,
          Summaries.r4(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens")))
          .otherwise(lit(0.0)).as("coverage"))
  }

  /** Substring-level dedup TRANSFORM — the clip [[duplicatedNgramCoverage]]
    * measures: every occurrence of a corpus-duplicated token n-gram window
    * EXCEPT the global first (ordered by (doc_id, pos)) has its token
    * positions removed, and each document's surviving tokens are re-joined
    * in order. The canonical copy of repeated boilerplate survives once,
    * everywhere else it is cut mid-document — the Lee-et-al-style exact
    * substring dedup, at window granularity.
    *
    * Scale: same `(doc_id, pos, md5)` shuffle as the census, with the
    * first-occurrence pick a `row_number` on the SAME (hash-partitioned)
    * exchange the occurrence count uses; position marking then explodes
    * only non-first duplicate windows. Reconstruction re-aggregates kept
    * (pos, token) pairs per document — the one stage that shuffles tokens,
    * bounded by surviving text size. Output text is the tokenized form
    * (case-folded, single-spaced), the working representation of every
    * operator in this family.
    *
    * @return (doc_id, n_tokens, n_kept, clean_text)
    */
  def clipDuplicatedSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val byH  = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val byHO = byH.orderBy(col("doc_id"), col("pos"))
    val (toks, wins) = ngramWindows(df, idCol, textCol, n)
    val clipped = wins
      .withColumn("occ", count(lit(1)).over(byH))
      .withColumn("rn", row_number().over(byHO))
      .filter(col("occ") >= 2 && col("rn") > 1)
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tpos"))
      .distinct()
    val kept = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("tpos", "tok")))
      .join(clipped, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        // .getField on the array<struct> is stock codegen'd
        // GetArrayStructFields — the transform-lambda form evaluated an
        // interpreted extract per kept token of every document
        concat_ws(" ", array_sort(collect_list(struct(col("tpos"), col("tok"))))
          .getField("tok")).as("clean_text"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // -- native-expression fast paths (bit-identical to the HOF forms above;
  //    see graft.expr.TextExpressions for why) ------------------------------

  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def asExpr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** T3 fast path — all n-grams straight from the text column. */
  def ngramsOf(text: Column, n: Int): Column =
    asCol(graft.expr.WordNgrams(asExpr(text), n, distinct = false))

  /** T3/T6 fast path — distinct shingle set straight from the text column. */
  def shinglesOf(text: Column, n: Int): Column =
    asCol(graft.expr.WordNgrams(asExpr(text), n, distinct = true))

  /** T6 fast path — MinHash signature of a shingle array. */
  def minhashSignatureOf(sh: Column, k: Int): Column =
    asCol(graft.expr.MinHashSignature(asExpr(sh), k))

  /** Jaccard fast path for distinct `array<string>` sets. */
  def jaccardOf(a: Column, b: Column): Column =
    asCol(graft.expr.ArrayJaccard(asExpr(a), asExpr(b)))

  /** SimHash of an element set (native expression). */
  def simhashOfSet(arr: Column, nBits: Int): Column =
    asCol(graft.expr.SimHashOfSet(asExpr(arr), nBits))

  /** Single-position masked variants (native expression — the FastSS-style
    * blocking index of [[singleEditNearPairs]]). NULL in → NULL out; the
    * HOF reference form returns `[]` for NULL, identical after the explode
    * every caller applies. `distinct = true` de-duplicates variant VALUES
    * in-expression (they repeat only for mask-char-bearing inputs).
    */
  def maskedVariantsOf(s: Column, distinct: Boolean = false): Column =
    asCol(graft.expr.MaskedVariants(asExpr(s), distinct))

  /** HOF reference form of [[graft.expr.MaskedVariants]] (kept for the
    * spec's equivalence proof): an interpreted concat lambda per character.
    */
  private[graft] def maskedVariantsHof(s: Column): Column =
    when(length(s) >= 1,
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), lit("\u0001"),
          s.substr(i + 1, length(s)))))
      .otherwise(array().cast("array<string>"))

  /** Occurrence count of the most frequent element (native expression —
    * the numerator of [[topTokenRatio]]).
    */
  def maxMultiplicityOf(arr: Column): Column =
    asCol(graft.expr.MaxElementMultiplicity(asExpr(arr)))

  /** D3 — SimHash-banded near-dup pairs: the third LSH family (after
    * MinHash-LSH and the inverted shingle index).
    *
    * Shingle-set SimHash (unigram SimHash is useless on a small shared
    * vocabulary — every document collides), split into `bands` equal bit
    * slices; candidates share ≥1 band (pigeonhole: any pair within
    * `bands-1` differing bits is guaranteed caught, and near-dups with a few
    * more differing bits are caught with high probability); verified by
    * Hamming distance on the full signature. Bit-exact cross-engine:
    * everything is integer arithmetic.
    *
    * `maxBucket`: same hot-bucket star bound and index
    * pinning as [[minhashNearDupPairs]] — a band bucket above `maxBucket`
    * members pairs everyone with its minimum id only (O(d) rows instead of
    * O(d²)), and the banded index is pinned once for its four consumers.
    * Default OFF (`Int.MaxValue`) for the same reason as there: the cap
    * changes which pairs are emitted; the unbounded default matches the
    * SQL oracles and skips the occupancy pass entirely.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int = 3,
      nBits: Int = 48,
      bands: Int = 3,
      maxHamming: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(maxBucket >= 1, "maxBucket must be positive")
    val bandWidth = nBits / bands
    val mask      = (1L << bandWidth) - 1
    val spread = Tables.spread(docs.select(col(idCol).as("id"), col(textCol)))
    val sig = spread.select(col("id"),
      simhashOfSet(shinglesOf(col(textCol), nShingle), nBits).as("sig"))
    val ex = Checkpoints.pin(sig
      .select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          p => call_function("shiftright", col("sig"), p * lit(bandWidth)).bitwiseAND(lit(mask))))
          .as(Seq("band", "bv")))
      .repartition(col("band"), col("bv")), eager = false)
    val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
    def allPairs(idx: DataFrame): DataFrame = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("a.sig").as("sa"),
        col("b.id").as("doc_b"), col("b.sig").as("sb"))
    val cand =
      if (maxBucket == Int.MaxValue) allPairs(ex)
      else {
        // Hot-bucket star bound (see minhashNearDupPairs): occupancy from a
        // partial agg on the co-partitioned index; min_by carries the
        // representative's full signature so the star branch never re-joins.
        // No broadcast hint — the hot set is unbounded on a templated
        // corpus; AQE broadcasts it at runtime while it is actually small.
        val hot = ex.groupBy(col("band"), col("bv"))
          .agg(count(lit(1)).as("occ"), min(col("id")).as("rep"),
            min_by(col("sig"), col("id")).as("rep_sig"))
          .filter(col("occ") > maxBucket)
        val cold = ex.join(hot.select(col("band"), col("bv")), Seq("band", "bv"), "left_anti")
        val candHot = ex.join(hot, Seq("band", "bv"))
          .filter(col("id") =!= col("rep"))
          .select(col("rep").as("doc_a"), col("rep_sig").as("sa"),
            col("id").as("doc_b"), col("sig").as("sb"))
        allPairs(cold).unionByName(candHot)
      }
    cand
      .distinct()
      .filter(ham <= maxHamming)
      .select(col("doc_a"), col("doc_b"), ham.cast("long").as("hamming"))
  }

  /** 60-bit deterministic hash: decimal value of the first 15 hex digits of
    * md5. Same value in DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT` —
    * this is what makes the MinHash/SimHash pipelines oracle-checkable.
    */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** T6 — k-element MinHash signature over a shingle set (HOF reference form
    * of [[graft.expr.MinHashSignature]]): one md5 per shingle reduced mod
    * p=2^31−1, then k affine permutations `(a_i·h + b_i) mod p` with the
    * shared coefficient tables — bit-identical to the native expression.
    */
  def minhashSignature(sh: Column, k: Int): Column = {
    val p  = graft.expr.MinHashSignature.P
    val as = graft.expr.MinHashSignature.coeffA(k)
    val bs = graft.expr.MinHashSignature.coeffB(k)
    val hs = transform(sh, s => hash60(s) % p)
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(hs, h =>
        (element_at(array(as.map(lit): _*), i + 1) * h +
          element_at(array(bs.map(lit): _*), i + 1)) % p)))
  }

  /** Jaccard similarity of two array columns (inputs must be de-duplicated). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** D3/T6/J7 — near-duplicate pairs by MinHash + LSH, then exact verify.
    *
    * Scale shape (the 100 TB story): signatures are k longs per doc computed
    * in the scan stage; the LSH join is a plain equi-join on (band, value) —
    * k rows of (id, band, long) per doc shuffle, NEVER the text — and only
    * the candidate pairs (a vanishing fraction of n²) pull their shingle sets
    * through the verify join. Nothing is all-pairs.
    *
    * Bands are r=1 (one signature row per band): candidate iff ANY of the k
    * minhashes collide, giving recall 1-(1-j)^k — ~1 for j≥0.5, k=16.
    *
    * Hot-bucket bound (`maxBucket`): a cluster of d near-identical documents
    * collides in EVERY band, so the unguarded band self-join emits O(d²)
    * candidate rows into one shuffle partition — at corpus scale a
    * boilerplate flood (d ~ millions) melts those tasks. Buckets whose
    * occupancy exceeds `maxBucket` switch from all-pairs to STAR pairing:
    * every member pairs with the bucket's minimum id only — O(d) candidate
    * rows, and a clone flood still resolves to ONE connected component in
    * survivor resolution (all star pairs verify at Jaccard 1.0). Recall
    * contract: a qualifying pair is missed only if EVERY band it collides
    * in is hot AND neither side is that bucket's representative; duplicated
    * documents always keep a verified path to their representative, so
    * dedup OUTCOMES (which docs have a partner, which component they join)
    * are preserved — q174 quantifies this on a 1000-clone flood. Default
    * OFF (`Int.MaxValue`), matching [[graft.ops.Similarity.annTopK]]: the
    * cap changes which pairs are emitted, so enabling it is an explicit
    * corpus-scale decision — and the unbounded default is exactly what the
    * SQL oracles model. With the cap off the occupancy pass is skipped
    * entirely (the historical single self-join plan).
    *
    * The banded index is pinned ([[Checkpoints]]): it feeds the occupancy
    * count, both self-join sides, and the star branch.
    */
  /** LSH band-bucket occupancy preflight — the report that tells an
    * operator whether [[minhashNearDupPairs]] needs its `maxBucket` bound
    * BEFORE the pair join runs at a new corpus scale. `maxBucket` is
    * deliberately default-off (a binding cap changes which candidates are
    * seen, so enabling it is an explicit decision — see the
    * minhashNearDupPairs scaladoc); this is the measurement that decision
    * reads. One row per occupancy value over the SAME `(band, hv)` buckets
    * the pair join would use: `(occ, n_buckets, cand_pairs)` where
    * `cand_pairs = n_buckets · occ·(occ−1)/2` is the candidate mass those
    * buckets inject into the join. A healthy corpus tails off by
    * `occ ≈ tens`; a flood (q173's subject) shows a single bucket at
    * `occ ≈ clones` carrying a quadratic `cand_pairs` spike — set
    * `maxBucket` (≈ 8·k of the intended top-k, or the knee of this
    * report) when the tail's candidate mass dominates the total. Same
    * diagnose-before-tuning shape as [[Summaries.keySkewReport]] for
    * shuffle keys. Cost: the signature pass plus two aggregations —
    * O(corpus), no pair join.
    */
  def lshBucketOccupancy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      k: Int): DataFrame = {
    val spread = Tables.spread(docs.select(col(idCol).as("id"), col(textCol)))
    val sig = spread
      .select(col("id"), shinglesOf(col(textCol), nShingle).as("ss"))
      .select(col("id"), posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv")))
    sig.groupBy(col("band"), col("hv")).agg(count(lit(1)).as("occ"))
      .groupBy(col("occ")).agg(count(lit(1)).as("n_buckets"))
      .select(col("occ"), col("n_buckets"),
        (col("occ") * (col("occ") - 1) / 2 * col("n_buckets")).cast("long").as("cand_pairs"))
      .orderBy(col("occ"))
  }

  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      k: Int,
      threshold: Double,
      scopeCols: Seq[String] = Nil,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    // The signature pass is CPU-bound; a small parquet input arrives as ONE
    // split, which would serialize it. Spread the raw (id, text) rows across
    // the cluster before the heavy expression — gated on the input's actual
    // width ([[graft.Tables.spread]]): at real scale the source has enough
    // splits and the spread (a full text shuffle there) never fires.
    val scope  = scopeCols.map(col)
    val spread = Tables.spread(
      docs.select(col(idCol).as("id") +: col(textCol) +: scope: _*))
    val sh = spread.select(col("id") +: shinglesOf(col(textCol), nShingle).as("ss") +: scope: _*)
    // Shuffle the signature rows by the LSH join key. Both sides of the
    // self-join below are then IDENTICAL subplans ending in the same
    // exchange, so Spark's ReusedExchange computes the signatures once and
    // the join runs co-partitioned with no further shuffle. `scopeCols`
    // (e.g. language) extend the join key: pairs never cross a scope
    // boundary AND every scope's postings land in separate buckets — the
    // standard per-language dedup of a multilingual corpus is the same
    // plan with smaller buckets, not a per-language driver loop.
    // The banded index now feeds FOUR consumers (occupancy count, both
    // self-join sides, star branch); exchange reuse does not reliably unify
    // that many (see pairOverlaps), so pin the narrow (id, band, hv) rows
    // once — lazily, so the first consuming action materializes them.
    val sig = Checkpoints.pin(sh
      .select(col("id") +: posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv")) +: scope: _*)
      .repartition(col("band") +: col("hv") +: scope: _*), eager = false)
    val keyNames = Seq("band", "hv") ++ scopeCols
    val scopeEq = scopeCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(lit(true))(_ && _)
    def allPairs(idx: DataFrame): DataFrame = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.hv") === col("b.hv") &&
          scopeEq && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    val cand = (if (maxBucket == Int.MaxValue) allPairs(sig)
    else {
      // Per-bucket occupancy on the co-partitioned index (partial agg, no
      // extra exchange). No broadcast HINT on the hot set: its size is
      // O(indexRows/maxBucket) — unbounded on a templated corpus — so a
      // forced broadcast could OOM the driver; AQE broadcasts it at
      // runtime while it is actually small, and with healthy data `hot`
      // is empty and empty-relation propagation collapses both branches.
      val keys = keyNames.map(col)
      val hot = sig.groupBy(keys: _*)
        .agg(count(lit(1)).as("occ"), min(col("id")).as("rep"))
        .filter(col("occ") > maxBucket)
      val cold = sig.join(hot.select(keys: _*), keyNames, "left_anti")
      // rep = min(id) in the bucket, so doc_a < doc_b holds by construction.
      val candHot = sig.join(hot, keyNames)
        .filter(col("id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("id").as("doc_b"))
      allPairs(cold).unionByName(candHot)
    }).distinct()
    val j = jaccardOf(col("x.ss"), col("y.ss"))
    // The verify stage is byte-SMALL but CPU-DENSE: candidate rows are 16 B
    // each, so AQE's byte-based coalescing packs them into a handful of
    // tasks — while each row then pays an exact set-jaccard over two
    // shingle arrays (measured: 103k candidates verified in 3 tasks,
    // 0.75 s of single-stage wall that is ~70 ms at full width; with the
    // shingle side under the broadcast threshold BOTH attach joins run in
    // that same narrow stage). An explicit user repartition on the probe
    // key is exempt from AQE coalescing and restores full parallelism; the
    // key MUST stay doc_a — it is the first attach join's own required
    // distribution, so the join consumes this exchange directly (measured:
    // keying on the unique pair (doc_a, doc_b) to skew-proof a hot document
    // forced the join to re-exchange cand by doc_a, and q17 regressed
    // 1.17 → 1.62 s). A hot doc_a funneling its verify work into one task
    // remains a corpus-scale possibility; there the shingle side outgrows
    // the broadcast threshold, the attach joins become shuffle joins with
    // their own AQE-managed (and skew-splittable) exchanges, and this
    // explicit spread is a cheap 16 B/row pre-exchange either way. Width
    // max(defaultParallelism, shuffle.partitions): locally identical, on a
    // cluster the data-sized knob.
    cand
      .repartition(math.max(docs.sparkSession.sparkContext.defaultParallelism,
          docs.sparkSession.sessionState.conf.numShufflePartitions),
        col("doc_a"))
      .join(sh.as("x"), col("doc_a") === col("x.id"))
      .join(sh.as("y"), col("doc_b") === col("y.id"))
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), Summaries.r4(j).as("jacc"))
  }

  /** Entity-resolution near-match: all SAME-LENGTH string pairs within one
    * substitution (Hamming ≤ 1 — for equal lengths, identical to
    * Levenshtein ≤ 1), found by masked-position blocking: each string emits
    * `length` index rows, each with one character replaced by the reserved
    * `\u0001` placeholder (the same candidate set as FastSS deletion
    * variants restricted to equal lengths); two strings collide on a
    * masked key iff they agree everywhere else, so a qualifying pair
    * always collides (mask the differing position in both). A string that
    * itself contains `\u0001` can collide spuriously — the
    * exact-Levenshtein verify removes any such false candidate.
    *
    * Why this beats half-splitting: prefix/suffix blocks degenerate when a
    * half is shared boilerplate (every `Customer#…` id shares its first
    * half — the hot-shingle bomb again). A masked bucket instead holds
    * strings reachable from one variant by a single substitution, so its
    * size is bounded by length × alphabet — no data distribution can make
    * it quadratic. Cost is an index L× the (short) key column, shuffled on
    * the masked key; bodies never move. Generalizes to edit distance ≤ k
    * by masking k positions (index ~L^k/k! rows — practical for k ≤ 2).
    */
  def singleEditNearPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // pinned: two consumers, the masked index + the exact-dup pass
    val base = Checkpoints.pin(
      Tables.spread(df.select(col(idCol).as("id"), col(strCol).as("s"))), eager = false)
    // The index rows CARRY the source string: the key column is short by
    // contract, so shipping it with each variant costs less than the two
    // extra joins a verify-time name re-fetch would need. Variants come
    // from the native [[graft.expr.MaskedVariants]] — the HOF reference
    // form ([[maskedVariantsHof]]) evaluates an interpreted 3-term concat
    // lambda per CHARACTER of every key, which at ×100 was the q106 hot
    // path; empty keys yield no variants, NULL keys drop at the explode.
    val masked = base
      .select(col("id"), col("s"),
        explode(maskedVariantsOf(col("s"), distinct = true)).as("mk"))
      .repartition(col("mk")) // both self-join sides reuse this exchange
    val d = levenshtein(col("sa"), col("sb"))
    // EXACTLY-ONCE emission, no candidate-stream dedup. With per-string
    // variant values de-duplicated, a NON-IDENTICAL pair can share at most
    // one variant value: sharing masks at two different positions p ≠ q
    // means the strings agree outside p (from the p-mask) AND outside q
    // (from the q-mask) — i.e. everywhere; and a same-VALUE collision from
    // different mask positions requires the visible mask char to be a
    // literal U+0001 in the other string, which forces edit distance ≥ 2
    // and dies at the verify filter below. Identical pairs (which would
    // collide on every variant) are excluded here and found by the
    // exact-dup hash join instead. The previous `.distinct()` reshuffled
    // the full candidate stream — at ×100, 40 M rows and the single
    // largest term in the query — to remove duplicates that provably do
    // not exist; the verify now runs map-side on the join output.
    val subst = masked.as("a")
      .join(masked.as("b"), col("a.mk") === col("b.mk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .filter(col("sa") =!= col("sb") && d <= 1)
      // survivors are non-identical at Levenshtein ≤ 1 over FORCED-equal
      // lengths, so dist is identically 1 — a literal, not a second
      // levenshtein eval per row (Filter and Project don't share subtrees)
      .select(col("id_a"), col("id_b"), lit(1).as("dist"))
    // dist-0 pairs: a plain equality self-join on the (short) key column —
    // node-sized, shuffled once on s, quadratic only within true dup groups
    // (which the OUTPUT is quadratic in regardless)
    val exact = base.as("a")
      .join(base.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(0).as("dist"))
    subst.unionByName(exact)
  }

  /** D3 incremental fuzzy variant — drop batch documents that have a
    * MinHash near-duplicate ALREADY IN the corpus: the fuzzy counterpart of
    * [[graft.ops.Dedup.dedupAgainstCorpus]] (exact digests, q75), and the
    * operation a continuously-ingesting pipeline runs per increment so new
    * paraphrases of known content never enter the training set.
    *
    * Same LSH shape as [[minhashNearDupPairs]] but batch×corpus instead of
    * self-join: both sides reduce to k (id, band, hv) longs per doc, the
    * candidate join is an equi-join on (band, hv) — the batch side is tiny
    * so AQE broadcasts it against the corpus index — and only candidates
    * pull shingle sets through the exact-Jaccard verify. Batch-internal
    * duplicates are NOT removed here (run the self-join family for that).
    *
    * At 100 TB the corpus signature pass should not be re-run per batch:
    * the (band, hv, id) index is the thing to persist (bucketed by
    * (band, hv) via [[graft.ops.Storage.writeBucketed]]), after which each
    * increment joins against it exchange-free. This operator expresses the
    * one-batch run; the plan is identical with a stored index source.
    */
  def minhashDedupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      k: Int,
      threshold: Double): DataFrame = {
    def shingled(df: DataFrame) = Tables.spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shinglesOf(col(textCol), nShingle).as("ss"))
    def sigOf(sh: DataFrame) = sh
      .select(col("id"), posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv")))
    val bsh = shingled(batch)
    val csh = shingled(corpus)
    val cand = sigOf(bsh).as("a")
      .join(sigOf(csh).as("b"),
        col("a.band") === col("b.band") && col("a.hv") === col("b.hv"))
      .select(col("a.id").as("bid"), col("b.id").as("cid"))
      .distinct()
    val j = jaccardOf(col("x.ss"), col("y.ss"))
    val dupIds = cand
      .join(bsh.as("x"), col("bid") === col("x.id"))
      .join(csh.as("y"), col("cid") === col("y.id"))
      .filter(j >= threshold)
      .select(col("bid"))
      .distinct()
    batch.join(dupIds, batch(idCol) === dupIds("bid"), "left_anti")
  }

  /** Persist a corpus's MinHash index as two bucketed tables — the stored
    * form [[minhashDedupAgainstCorpus]]'s scaladoc promises: after this
    * one-time (per corpus build) shuffle, EVERY ingest increment
    * deduplicates against the corpus with no corpus re-scan, no corpus
    * re-hash, and no corpus-side exchange:
    *
    *  - `<prefix>_sig` — the banded signature index `(id, band, hv)`,
    *    bucketed by `(band, hv)`: the candidate join's key, so the
    *    increment's probe rows meet the index without moving it;
    *  - `<prefix>_sh` — the shingle sets `(id, ss)`, bucketed by `id`:
    *    the verify join's key, so only the candidates' shingle rows are
    *    ever read and none are shuffled.
    *
    * `mode = "append"` admits NEW documents into both tables (Spark
    * preserves the bucket spec on append) — the maintenance write a
    * continuously-ingesting pipeline runs after each batch's survivors
    * are admitted. Bucket count is a layout contract
    * ([[graft.ops.Storage.writeBucketed]]): size it so bucket files land
    * at O(100 MB–1 GB) at the target corpus scale.
    */
  def writeMinhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      k: Int,
      tablePrefix: String,
      buckets: Int,
      mode: String = "overwrite"): Unit = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    val spark = corpus.sparkSession
    // a fresh full build starts with a clean slate: stale tombstones from
    // the previous index generation would silently subtract the NEW
    // corpus's rows from every search
    if (mode == "overwrite") Storage.clearTombstones(spark, s"${tablePrefix}_del")
    val sh = Tables.spread(corpus.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shinglesOf(col(textCol), nShingle).as("ss"))
    def sigOf(src: DataFrame) = src.select(col("id"),
      posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv")))
    Storage.writeBucketed(sh, s"${tablePrefix}_sh", Seq("id"), buckets, mode)
    // Derive signatures FROM THE WRITTEN shingle table on a full build, so
    // the expensive pass (corpus scan + repartition + shingling) runs ONCE,
    // not once per output table. On append the increment is small by
    // contract, so recomputing its shingles is cheaper than pinning —
    // but it must come from the batch, not the (corpus+batch) table.
    val sigSrc =
      if (mode == "overwrite") spark.table(s"${tablePrefix}_sh") else sh
    Storage.writeBucketed(sigOf(sigSrc), s"${tablePrefix}_sig",
      Seq("band", "hv"), buckets, mode)
  }

  /** D3 incremental fuzzy dedup against a PERSISTED index (see
    * [[writeMinhashIndex]]): drop batch documents with a MinHash
    * near-duplicate already in the indexed corpus. Identical semantics to
    * [[minhashDedupAgainstCorpus]] — TextSpec pins the equivalence — but
    * the corpus costs are gone: the batch (small by contract) hashes
    * fresh, candidates come from an equi-join on the bucketed `(band,hv)`
    * index, and the verify reads only the candidates' rows of the
    * bucketed-by-id shingle table. No broadcast hints: AQE broadcasts the
    * batch-sized sides at runtime, and PlanSpec pins that no exchange
    * carries the index's band/hv columns — the corpus side never
    * shuffles.
    */
  def minhashDedupAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      k: Int,
      threshold: Double,
      tablePrefix: String): DataFrame = {
    val spark = batch.sparkSession
    val bsh = Tables.spread(batch.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shinglesOf(col(textCol), nShingle).as("ss"))
    val bsig = bsh.select(col("id"),
      posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv")))
    // Pending deletes ([[deleteFromMinhashIndex]]) are subtracted from the
    // SIGNATURE side only — a candidate whose corpus id is tombstoned can
    // then never form, so the shingle-side join never sees deleted ids.
    // The tombstone set is small by contract (compaction resets it), so
    // AQE broadcasts the anti-join — no index-side exchange appears and
    // the PlanSpec never-shuffle-the-corpus pin is preserved.
    val csig0 = spark.table(s"${tablePrefix}_sig")
    val csig = Storage.tombstonesOf(spark, s"${tablePrefix}_del")
      .fold(csig0)(del => csig0.join(del, Seq("id"), "left_anti"))
    val csh  = spark.table(s"${tablePrefix}_sh")
    val cand = bsig.as("a")
      .join(csig.as("b"),
        col("a.band") === col("b.band") && col("a.hv") === col("b.hv"))
      .select(col("a.id").as("bid"), col("b.id").as("cid"))
      .distinct()
    val j = jaccardOf(col("x.ss"), col("y.ss"))
    val dupIds = cand
      .join(bsh.as("x"), col("bid") === col("x.id"))
      .join(csh.as("y"), col("cid") === col("y.id"))
      .filter(j >= threshold)
      .select(col("bid"))
      .distinct()
    batch.join(dupIds, batch(idCol) === dupIds("bid"), "left_anti")
  }

  /** Delete documents from a persisted MinHash index ([[writeMinhashIndex]])
    * WITHOUT rewriting it: the ids land in the `<prefix>_del` tombstone
    * table (one O(deleted ids) append — [[graft.ops.Storage.appendTombstones]]
    * explains the delete-vector economics: a doc's signature rows spread
    * across nearly every (band, hv) bucket, so a physical delete is a
    * full-table rewrite), and [[minhashDedupAgainstIndex]] subtracts them
    * before candidates form. [[compactMinhashIndex]] folds the tombstones
    * in once their fraction makes the per-search anti-join noticeable —
    * without it a 100 TB index that only ever grows eventually searches
    * garbage.
    */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, idCol: String, tablePrefix: String): Unit =
    Storage.appendTombstones(spark, ids, idCol, s"${tablePrefix}_del")

  /** Fold accumulated tombstones into the physical index: rewrite the
    * bucketed shingle table minus the deleted ids, re-derive the signature
    * table from the RETAINED shingle rows (the [[writeMinhashIndex]]
    * full-build path — no corpus re-scan or re-shingling), and reset the
    * tombstone table. `k` must match the index's band count. The kept rows
    * are pinned before the overwrite (Spark refuses to overwrite a table
    * its own input reads; [[graft.ops.Checkpoints]]). Not safe under
    * concurrent searches of the same prefix — a maintenance-window
    * operation, like [[TxTable.compact]]. No pending tombstones → no-op.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String, k: Int, buckets: Int): Unit =
    Storage.tombstonesOf(spark, s"${tablePrefix}_del").foreach { del =>
      val keep = Checkpoints.pin(
        spark.table(s"${tablePrefix}_sh").join(del, Seq("id"), "left_anti"))
      Storage.writeBucketed(keep, s"${tablePrefix}_sh", Seq("id"), buckets, "overwrite")
      Storage.writeBucketed(
        keep.select(col("id"),
          posexplode(minhashSignatureOf(col("ss"), k)).as(Seq("band", "hv"))),
        s"${tablePrefix}_sig", Seq("band", "hv"), buckets, "overwrite")
      Storage.clearTombstones(spark, s"${tablePrefix}_del")
      Checkpoints.release(keep)
    }

  /** Exact pair-overlap core shared by [[jaccardNearDupPairs]] (symmetric
    * resemblance) and [[containmentPairs]] (asymmetric doc-in-doc): one row
    * per candidate pair with the exact intersection size and both set
    * sizes — `(doc_a, doc_b, o, ma, mb)`.
    *
    * Machinery: explode an inverted (id, shingle) index, drop shingles
    * hotter than `maxDf` documents from CANDIDATE GENERATION (standard
    * prefix filtering — a stop-phrase shingle shared by d documents alone
    * generates O(d²) candidate rows, a quadratic bomb at corpus scale),
    * self-equi-join the filtered index to get candidate pairs with their
    * rare-shingle overlap counts, then add back each candidate's shared
    * HOT shingles from the hot postings — so `o` is the EXACT intersection
    * size; the cutoff affects only which pairs are generated, never their
    * overlap value.
    */
  private def pairOverlaps(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      maxDf: Int): DataFrame = {
    val spread = Tables.spread(docs.select(col(idCol).as("id"), col(textCol)))
    val sh  = spread.select(col("id"), shinglesOf(col(textCol), nShingle).as("ss"))
    // The postings index feeds FIVE consumers (hot set, both self-join
    // sides, both hot-overlap probes). Exchange reuse does not reliably
    // unify them (measured: 14 scans of the source in one run), so pin ONE
    // materialization: narrow (id, shingle) rows, cardinality = postings.
    val inv = Checkpoints.pin(sh.select(col("id"), explode(col("ss")).as("s"))
      .repartition(col("s")), eager = false)
    // Hot-shingle set via a partial-aggregated count on the co-partitioned
    // index (no extra exchange, no sort — a window over `s` would sort all
    // 750k index rows); the hot set is tiny by definition, so dropping it is
    // a broadcast anti-join.
    val hot = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))
    // Intersection sizes fall straight out of the index self-join — one
    // count-aggregated row per candidate pair. Candidate pairs NEVER pull
    // their shingle sets: the verify-by-set-join form materialized two
    // full shingle arrays per candidate (~kBs × millions of pairs — it was
    // 75% of this operator's runtime and would be a network melter at
    // corpus scale); here the pair graph carries three integers per row.
    // (A driver-side `hot.isEmpty` probe could compile the correction out
    // when the cutoff never binds — measured ~0.25 s at sf0.1 — but it
    // would launch an eager job at plan-BUILD time, which this engine bans
    // for lazy operators; the empty-hot stages are runtime-cheap under AQE
    // empty-relation propagation.)
    def pairCounts(idx: DataFrame): DataFrame = idx.as("a")
      .join(idx.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("o"))
    val rare = inv.join(broadcast(hot), Seq("s"), "left_anti")
    // The pair graph is read twice (final assembly + the hot correction's
    // candidate list), but both reads live in the CALLER'S one terminal
    // action, where ReuseExchange computes the self-join's aggregate
    // exchange once — so it stays a lazy subplan instead of a pinned
    // artifact: the former pin materialized the operator's most expensive
    // stage as a standalone construction-time barrier (a lazy
    // pin runs every stage below the final one when it hands
    // out its RDD), serializing it before the consumer's job could overlap
    // anything.
    val oRare = pairCounts(rare)
    // The rare-side count misses shared HOT shingles when the cutoff
    // binds; add their contribution back from the hot postings, which
    // join only against the (already-bounded) candidate pairs.
    val hotInv = inv.join(broadcast(hot), Seq("s"), "left_semi")
    val oHot = oRare.select(col("doc_a"), col("doc_b"))
      .join(hotInv.as("ha"), col("doc_a") === col("ha.id"))
      .join(hotInv.as("hb"),
        col("doc_b") === col("hb.id") && col("ha.s") === col("hb.s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("oh"))
    val o = oRare.join(oHot, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("o") + coalesce(col("oh"), lit(0L))).as("o"))
    // |x ∩ y| exact; |x ∪ y| = mx + my − o from the per-doc set sizes —
    // 12 bytes/row (corpus cardinality, so NOT force-broadcast; AQE
    // decides). Derived from the pinned index, not a re-shingling pass:
    // shinglesOf is distinct, so the posting count IS the set size; docs
    // with zero shingles are absent, but they can never appear in a pair.
    val sizes = inv.groupBy(col("id")).agg(count(lit(1)).as("m"))
    o.join(sizes.as("x"), col("doc_a") === col("x.id"))
      .join(sizes.as("y"), col("doc_b") === col("y.id"))
      .select(col("doc_a"), col("doc_b"), col("o"),
        col("x.m").as("ma"), col("y.m").as("mb"))
  }

  /** D3 exact variant — n-gram Jaccard near-dup pairs over the inverted-
    * index core ([[pairOverlaps]]): `|A∩B| / |A∪B|` from the exact overlap
    * and set sizes, at or above `threshold`.
    *
    * Recall contract: a qualifying pair is missed only if EVERY shingle it
    * shares has document frequency > maxDf. At threshold ≥ 0.5 a near-dup
    * pair shares most of its shingles, so it is found unless the documents
    * are built entirely of corpus-wide boilerplate; set maxDf above the df
    * of any discriminating phrase (default 500 ≫ the testdata max of 25,
    * where output is bit-identical to the unfiltered form).
    */
  def jaccardNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      threshold: Double,
      maxDf: Int = 500): DataFrame = {
    val j = col("o") / (col("ma") + col("mb") - col("o"))
    pairOverlaps(docs, idCol, textCol, nShingle, maxDf)
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), Summaries.r4(j).as("jacc"))
  }

  /** Asymmetric containment pairs — doc-in-doc detection: `|A∩B| / |A|` is
    * high when A is mostly QUOTED inside B even if B is far larger, which a
    * symmetric Jaccard threshold can never see (a 100-word doc embedded in
    * a 10 000-word doc has resemblance ≈ 0.01). The standard mirror/quote/
    * partial-copy sweep a crawl dedup runs AFTER near-dup removal. Emits
    * both directions (`cont_a` = covered share of A, `cont_b` of B) for
    * pairs where either reaches `threshold`; same exact inverted-index
    * machinery (and hot-shingle cap + correction) as
    * [[jaccardNearDupPairs]] — the intersection is exact, so both ratios
    * are too.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nShingle: Int,
      threshold: Double,
      maxDf: Int = 500): DataFrame = {
    val ca = col("o") / col("ma")
    val cb = col("o") / col("mb")
    pairOverlaps(docs, idCol, textCol, nShingle, maxDf)
      .filter(greatest(ca, cb) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("o"),
        Summaries.r4(ca).as("cont_a"), Summaries.r4(cb).as("cont_b"))
  }

  /** SimHash (nBits ≤ 60) over the distinct token set: bit b of the signature
    * is the sign of Σ_tokens (2·bit_b(hash60(t)) − 1). Near-dup docs differ in
    * few bits, so banding the signature gives another LSH family. Integer
    * arithmetic throughout — bit-exact in any engine.
    */
  def simhash(textCol: Column, nBits: Int): Column = {
    val hashes = transform(array_distinct(split(lower(trim(textCol)), "\\s+")),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    aggregate(
      sequence(lit(0), lit(nBits - 1)),
      lit(0L),
      (acc, b) => {
        val bitSum = aggregate(hashes, lit(0L),
          (s, h) => s + call_function("shiftright", h, b).bitwiseAND(lit(1L)) * 2 - 1)
        acc + when(bitSum > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
      })
  }

  /** Rolling-hash document fingerprint: fold character codes through
    * h = (h·31 + code) mod 1e9+7. Order-sensitive (unlike a token-set hash),
    * so re-ordered text fingerprints differently; integer math — bit-exact
    * cross-engine.
    */
  def fingerprint(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)

  /** TF-IDF top terms: term frequency per doc × ln(N / doc-frequency),
    * top `k` per document. Two aggregations over the exploded token table —
    * the DF side is a tiny (term, df) frame joined back broadcast-style —
    * and one window for the per-doc top-k. log() differences across engines
    * are sub-ulp; ranking uses the 4-decimal-floored score with the term as
    * tie-break, so order is reproducible.
    *
    * The corpus size N is computed INSIDE the plan (a 1-row broadcast
    * cross-join), not via an eager `.count()` while building it — at corpus
    * scale an eager count is a full extra pass over the table before the
    * real job even starts.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val n    = docs.agg(countDistinct(col(idCol)).cast("double").as("n_docs"))
    // df falls out of tf: one row per (doc, term) already — a second
    // explode + distinct scan of the corpus would recompute exactly this,
    // and sharing the subtree lets AQE reuse the tf exchange. NOT pinned:
    // a pin here would execute the aggregate's stages at plan-
    // construction time (AQE materializes stages when the RDD is created),
    // breaking the lazy-plan contract this operator's PlanSpec test pins.
    val tf   = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq  = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val score = Summaries.r4(col("tf") * log(col("n_docs") / col("df")))
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term").asc)
    tf.join(dfq, "term")
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Collocation mining: pointwise mutual information over adjacent token
    * pairs — `pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) )`, high for pairs that
    * co-occur far more than chance ("new york", "machine learning"). The
    * vocabulary-building step that finds multi-word units worth keeping as
    * single tokens.
    *
    * Shape at scale: two token-explode passes (unigrams, bigrams) each
    * reduced by a parallel hash aggregate, then the bigram table joins the
    * unigram counts twice on the term key — all shuffles carry (term,
    * count) pairs, never document text. The unigram side is shuffle-joined,
    * not broadcast: a real vocabulary is tens of millions of terms. The PMI
    * ratio is formed from INTEGER count products (exact in both engines,
    * headroom ~300× at sf0.1; switch to a sum of logs beyond ~1e18) and
    * rounded to 4 decimals after the single `ln`.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("tk"))
    val uni  = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
    // adjacent pairs via the native [[ngramsOf]] (one compiled pass per
    // document) — the HOF `ngrams(tk, 2)` form evaluated an interpreted
    // slice+join lambda per token of the corpus, the q108 ×100 hot path
    val bi = docs.select(explode(ngramsOf(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("nxy"))
      .filter(col("nxy") >= minCount)
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
    val totals = toks.agg(
      sum(size(col("tk"))).as("__t"),
      sum(when(size(col("tk")) >= 2, size(col("tk")) - 1).otherwise(0)).as("__b"))
    bi
      .join(uni.select(col("w").as("__w1"), col("nw").as("__n1")), "__w1")
      .join(uni.select(col("w").as("__w2"), col("nw").as("__n2")), "__w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("nxy"),
        Summaries.r4(log((col("nxy") * col("__t") * col("__t")).cast("double") /
          (col("__b") * col("__n1") * col("__n2")).cast("double"))).as("pmi"))
  }

  /** BM25 ranked retrieval: score every document against each query term
    * with the Lucene-form BM25 (`idf = ln((N − df + ½)/(df + ½) + 1)`,
    * saturating tf with length normalization) and keep the top `k` docs per
    * term — batch retrieval over a corpus without an external search index.
    *
    * Scale shape: the `term IN (queries)` filter sits BEFORE the tf
    * aggregate, so only postings for queried terms ever shuffle — the plan
    * cost scales with matching postings, not vocabulary. Corpus stats
    * (N, total tokens) are one broadcast aggregate row; df comes off the
    * already-filtered tf table. Ranking uses the rounded score with doc-id
    * tie-break so the top-k frontier is engine-deterministic.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "need query terms and k >= 1")
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"),
      sum(size(col("tk"))).cast("double").as("__tt"))
    val tf = toks
      .select(col("doc_id"), size(col("tk")).as("__dl"), explode(col("tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("__tf"), min(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf   = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val score = idf * (col("__tf") * (k1 + 1) /
      (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / (col("__tt") / col("__n")))))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), Summaries.r4(score).as("score"))
    graft.ops.Dedup.topKPerGroup(scored, Seq("term"),
      Seq(col("score").desc, col("doc_id").asc), k)
  }

  /** Marker-word tables for the language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "une", "et"),
    "zh" -> Seq("shi", "bu", "wo", "zhe"))

  /** Language-ID heuristic: count marker-word hits per language in the token
    * set; predict the argmax, ties resolved in [[LangMarkers]] order. A real
    * deployment would use character-n-gram profiles; the *shape* — a pure
    * per-row expression, no shuffle, no model service — is the part that
    * matters at 100 TB.
    */
  def languageId(toks: Column): Column = {
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** BPE-ish token count: letter runs, digit runs, and single punctuation
    * marks each count as one token (the usual pre-tokenizer regex shape).
    *
    * Every class is an explicit ASCII enumeration — letter/digit runs plus
    * the four ASCII punctuation ranges `!-/ :-@ [-` {-~` — and the raw text
    * is matched without case folding. The earlier `[^a-z0-9\s]` complement
    * class diverged between Java regex and DuckDB/RE2 on non-ASCII text
    * (accented/CJK rows of the documents table); positive ASCII-only classes
    * count identically in both engines, with non-ASCII codepoints
    * contributing zero everywhere.
    */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[!-/:-@\\[-`{-~]"))

  /** Stopword-hit count (not distinct) for quality ratios. */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Repetition-based quality signals (the Gopher-rule family): fraction of
    * tokens belonging to the single most frequent token, and fraction of
    * bigram OCCURRENCES that are duplicates of an earlier occurrence.
    * Machine-generated and boilerplate text scores high on both; natural
    * prose stays low. Pure per-row array expressions — no shuffle, fused
    * into the scan stage like the rest of the quality battery.
    */
  def topTokenRatio(toks: Column): Column =
    // max multiplicity via the native [[maxMultiplicityOf]] (one compiled
    // hash-count pass per row) — the sorted-fold HOF reference form
    // ([[topTokenRatioHof]]) evaluated an interpreted struct lambda per
    // token of every document, the q74 hot path
    maxMultiplicityOf(toks).cast("double") / size(toks).cast("double")

  /** HOF reference form of [[topTokenRatio]] (kept for the spec's
    * equivalence proof): run-length max over the SORTED tokens — one
    * interpreted lambda eval per token.
    */
  private[graft] def topTokenRatioHof(toks: Column): Column = {
    val best = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(acc.getField("run") === 0 || t === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best.cast("double") / size(toks).cast("double")
  }

  /** Duplicate-bigram fraction: 1 − distinct_bigrams/total_bigrams. */
  def dupBigramRatio(ngramsCol: Column): Column =
    when(size(ngramsCol) > 0,
      lit(1.0) - size(array_distinct(ngramsCol)).cast("double") / size(ngramsCol).cast("double"))
      .otherwise(lit(0.0))

  /** Tokenizer-design census: the top-`k` tokens by corpus frequency with
    * each token's cumulative coverage share — "how much of the corpus do the
    * first N vocabulary entries explain" (the coverage curve that sizes a
    * vocabulary / decides an OOV cutoff).
    *
    * Scale shape: the count aggregate is partially-aggregated and its
    * shuffle is bounded by VOCABULARY size (Heaps'-law sublinear), not
    * corpus size; the grand total rides the same aggregate's output as a
    * one-row broadcast. The only non-distributed step — rank + running sum
    * — happens AFTER `limit(k)`, over k rows: a single-partition window on
    * a driver-sized set, by construction, never over the full vocabulary.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val tok = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("token"))
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total  = counts.agg(sum(col("cnt")).as("__total"))
    val order  = Seq(col("cnt").desc, col("token").asc)
    val w = Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(order: _*).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
      .withColumn("cum_cnt", sum(col("cnt")).over(w))
      .select(col("rank"), col("token"), col("cnt"),
        Summaries.r4(col("cum_cnt").cast("double") / col("__total")).as("cum_share"))
  }

  /** Character-bigram language-model scoring — the cheap perplexity proxy of
    * corpus quality filtering: fit `p(b|a) = c(ab)/c(a·)` on the corpus
    * itself, then score each document by its average negative log-likelihood
    * (nats/bigram). Gibberish, encoding noise, and boilerplate-free
    * outliers surface as high cross-entropy against the corpus's own
    * character statistics; no external model needed.
    *
    * Scale shape: one explode pass over the text compresses immediately to
    * per-(doc, bigram) counts — the shuffle carries distinct-bigrams-per-doc
    * rows, not one row per character; the model (distinct corpus bigrams ≤
    * alphabet², thousands of rows) re-aggregates from those counts and
    * broadcast-joins back. Cross-engine determinism: `ln` is quantized to
    * integer MICRO-NATS (`floor(ln p · 1e6 + 0.5)` as a long) before the
    * per-doc sum, so accumulation is exact integer math in any order on
    * both engines — no FP-sum-order or double→decimal-cast hazards.
    */
  /** Stage 1 of [[bigramLmScore]]: one row per (doc, distinct char bigram)
    * with its in-doc count. The native [[graft.expr.CharBigramCounts]]
    * histogram aggregates INSIDE the expression — no per-character row, no
    * hash aggregate, zero exchanges in this stage (PlanSpec pins that
    * shape); the explode emits the already-compressed map entries.
    */
  private[graft] def docCharBigramCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // the per-character histogram pass is CPU-bound and a small parquet
    // input arrives as ONE split, which would serialize it (measured:
    // q126's pin materialized as two 1.5 s single-task jobs) — same
    // spread-before-the-heavy-expression device as minhashNearDupPairs,
    // gated on the input's actual width ([[graft.Tables.spread]]) so a
    // many-split corpus never pays a text shuffle here
    Tables.spread(docs
      .filter(col(textCol).isNotNull && length(col(textCol)) >= 2)
      .select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(asCol(graft.expr.CharBigramCounts(asExpr(col(textCol)))))
          .as(Seq("bg", "c_db")))

  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // The (doc, bigram) counts feed three consumers (corpus model, context
    // totals, per-doc scoring); exchange reuse does not unify them, and the
    // histogram pass over every character is the operator's real cost
    // (measured: recompute-per-consumer is ~1.7× slower than pinning), so
    // pin ONE materialization — cardinality is distinct-bigrams-per-doc,
    // the compressed form.
    val db = Checkpoints.pin(docCharBigramCounts(docs, idCol, textCol), eager = false)
    // corpus model: bigram counts + context (first-char) totals — vocabulary-
    // sized, re-aggregated from the compressed (doc, bigram) counts
    val cab = db.groupBy(col("bg")).agg(sum(col("c_db")).as("c_ab"))
      .withColumn("__a", substring(col("bg"), 1, 1))
    val ca = cab.groupBy(col("__a")).agg(sum(col("c_ab")).as("c_a"))
    val model = cab.join(ca, "__a")
      .select(col("bg"),
        floor(log(col("c_ab").cast("double") / col("c_a")) * 1000000 + 0.5)
          .cast("long").as("__lnp_u"))
    db.join(broadcast(model), Seq("bg"))
      .groupBy(col(idCol))
      .agg(sum(col("c_db") * col("__lnp_u")).as("__sum_u"),
        sum(col("c_db")).as("n_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        Summaries.r4(-(col("__sum_u").cast("double") / lit(1000000.0) /
          col("n_bigrams").cast("double"))).as("xent"))
  }

  /** Contamination REPORT (the measuring companion of [[decontaminate]]):
    * for every corpus document sharing at least one word n-gram with the
    * benchmark set, the overlap fraction `shared / total distinct n-grams` —
    * the evidence a curation run logs before deciding a drop threshold,
    * rather than a silent boolean.
    *
    * Same scale shape as [[decontaminate]]: the benchmark n-gram set is
    * tiny and sits on the build side of a semi-join against the corpus's
    * exploded distinct shingles; per-doc totals and shared counts are
    * partial-aggregated on (doc, shingle) rows, never raw text. Docs with
    * zero overlap are absent from the report by construction (the common
    * case at any healthy contamination rate, so the report stays small).
    */
  def contaminationScore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int): DataFrame = {
    val corpusSh = corpus
      .select(col(idCol), explode(shinglesOf(col(textCol), n)).as("__s"))
    val benchGrams = bench
      .select(explode(shinglesOf(col(benchTextCol), n)).as("__s"))
      .distinct()
    val totals = corpusSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val shared = corpusSh
      .join(benchGrams, Seq("__s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    shared.join(totals, Seq(idCol))
      .select(col(idCol), col("n_shared"), col("n_shingles"),
        Summaries.r4(col("n_shared").cast("double") / col("n_shingles")).as("frac"))
  }

  /** Training-corpus decontamination: drop every corpus document that shares
    * at least one word n-gram with the benchmark/eval set — the standard
    * guard against test-set leakage into training data.
    *
    * Scale shape: the benchmark n-gram set is tiny next to the corpus
    * (benchmarks are thousands of documents, the corpus is billions), so the
    * contamination probe is a semi-join of the corpus's exploded n-grams
    * against a broadcast benchmark set, then an anti-join of the corpus on
    * the contaminated ids — the corpus shuffles nothing; both joins
    * broadcast under AQE. Long n-grams (n≥5 is conventional) keep the
    * benchmark set selective.
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(shinglesOf(col(benchTextCol), n)).as("__s"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol).as("__id"), explode(shinglesOf(col(textCol), n)).as("__s"))
      .join(benchGrams, Seq("__s"), "left_semi")
      .select(col("__id"))
      .distinct()
    corpus.join(contaminated, corpus(idCol) === contaminated("__id"), "left_anti")
  }
}
