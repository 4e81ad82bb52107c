package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a web-scale training-data pipeline runs after
  * dedup and before tokenization: per-domain quotas, boilerplate stripping,
  * and information-density scoring. The reference product curates only by
  * exact duplicate removal and failure filters (`/root/reference/app.py:240,
  * 267-276`); these extend that intent to the quota/boilerplate rules that
  * published web-corpus pipelines (CCNet, RefinedWeb, Gopher) apply at the
  * 100 TB scale this engine targets.
  */
object Curation {

  /** Bloom-pruned anti-join: remove corpus rows whose `keyCol` appears in
    * `exclude.excludeKey` — same result as a plain left-anti join, reached
    * without shuffling the corpus.
    *
    * The exclusion set's Bloom filter is built IN-PLAN
    * (`bloom_filter_agg` over `xxhash64(key)`, one aggregate row) and
    * reaches the corpus as a scalar subquery. Rows the bloom rejects are
    * definitively clean and exit through a scan+filter branch with no
    * exchange; only bloom-positives (true hits + the fpp fraction) proceed
    * to the exact anti-join that removes false positives. The final result
    * is EXACTLY the anti-join — the bloom only routes rows — so the DuckDB
    * oracle is a plain `NOT IN`.
    *
    * 100 TB shape: this is the regime where the exclusion set is too big to
    * broadcast as a hash table but its bloom fits comfortably
    * (100M keys ≈ 120 MB at 1% fpp): a plain shuffle anti-join would
    * exchange the whole corpus; here the corpus is scanned twice (columnar
    * scans are cheap; the second scan reads only bloom-positives' columns
    * forward) and only ~fpp of it is ever shuffled. For exclusion sets small
    * enough to broadcast, skip the bloom and let AQE pick the broadcast
    * anti-join.
    */
  def bloomAntiJoin(corpus: DataFrame, keyCol: Column, exclude: DataFrame,
      excludeKey: Column, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, "need expectedItems > 0, fpp in (0,1)")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // The two key expressions must agree EXACTLY in type: the bloom is
    // built and probed on hashes, and hashes of different renderings of
    // the "same" value (int 42 vs double 42.0) never collide — every such
    // exclusion would silently exit through the clean branch (the exact
    // anti-join only ever sees bloom-positives). The string cast below
    // additionally shields against engine-internal type widening.
    val kt = corpus.select(keyCol).schema.head.dataType
    val et = exclude.select(excludeKey).schema.head.dataType
    require(kt == et,
      s"bloomAntiJoin keys must share one exact type, got $kt vs $et — cast one side")
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(excludeKey.cast("string"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bf = exclude.agg(bloomAgg.as("bf")).scalar()
    // NULL keys: might_contain yields NULL; a plain anti-join KEEPS null-key
    // rows (null never equals), so route them through the clean branch
    val maybe = coalesce(
      ColumnBridge.column(BloomFilterMightContain(
        ColumnBridge.expression(bf),
        ColumnBridge.expression(xxhash64(keyCol.cast("string"))))),
      lit(false))
    val clean = corpus.filter(!maybe)
    val suspects = corpus.filter(maybe)
      .join(exclude.select(excludeKey.as("__ek")), keyCol === col("__ek"), "left_anti")
    clean.unionByName(suspects)
  }

  /** Per-domain quota: keep at most `k` documents from each domain — the
    * standard guard against a handful of mega-domains dominating a crawl.
    * Selection is content-addressed (rank by 60-bit md5 of the content, id
    * as tiebreak), so the surviving set is a pure function of the data:
    * stable across reruns, partition layouts, and corpus growth — a document
    * only loses its slot when a lexicographically-smaller-hash one arrives.
    *
    * Shape at scale: one hash-exchange on the domain column feeding a
    * window; rows never widen. Domain skew is bounded by the quota itself
    * only AFTER ranking, so a pathological domain still sorts all its rows
    * in one partition — for crawl-scale skew, pre-filter with an
    * AQE-handled `groupBy(domain).count()` gate or raise parallelism; the
    * testdata's uniform domains don't need it.
    */
  def domainCap(docs: DataFrame, domainCol: String, idCol: String,
      contentCol: String, k: Int): DataFrame = {
    require(k >= 1, s"quota must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(Text.hash60(col(contentCol)), col(idCol))
    docs
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** End-to-end corpus curation — the composed training-data path, each
    * stage one §2 operator, the whole thing ONE lazy plan:
    *
    *   1. quality gate: token count within [minTokens, maxTokens]
    *   2. exact content dedup (sha-256 digest, keep min id — [[Dedup.dedupByDigest]])
    *   3. per-domain quota (content-addressed — [[domainCap]])
    *   4. deterministic train/val/test split ([[Sampling.splitColumn]])
    *
    * Scale shape: stage 1 is a narrow scan-stage filter; stage 2 shuffles
    * (digest, id) pairs only; stage 3 one hash exchange on the domain;
    * stage 4 a pure per-row expression. Nothing widens rows, nothing
    * touches the driver, and Catalyst fuses/pushes across the stage
    * boundaries because it is all one plan.
    */
  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, minTokens: Int, maxTokens: Int, cap: Int,
      splits: Seq[(String, Double)]): DataFrame = {
    val gated   = docs.filter(
      size(Text.tokens(col(textCol))).between(minTokens, maxTokens))
    val deduped = Dedup.dedupByDigest(gated, textCol, idCol)
    val capped  = domainCap(deduped, domainCol, idCol, textCol, cap)
    capped.withColumn("split",
      Sampling.splitColumn(Seq(col(idCol).cast("string")), splits))
  }

  /** Boilerplate-line removal (CCNet-style): drop every line that occurs in
    * more than `maxFrac` of its domain's documents — nav bars, cookie
    * banners, license footers — and reassemble the survivors in original
    * order. A document whose lines are all boilerplate survives with empty
    * text (filter it with a length rule afterwards if desired).
    *
    * `lines` is any (id, domain, pos, line) decomposition — see
    * [[linesOf]] for the newline form and [[tokenChunks]] for a
    * fixed-width-token form on single-line corpora.
    *
    * Shape at scale: the line df aggregate is partially aggregated
    * (map-side combine) on (domain, line); the boilerplate set is tiny by
    * definition — bounded by lines/doc × domains, independent of corpus
    * size — so removal is a broadcast anti-join and document bodies are
    * never joined against the frequency table. Reassembly shuffles
    * (id, line) pairs once.
    */
  def stripBoilerplate(docs: DataFrame, lines: DataFrame, idCol: String,
      domainCol: String, maxFrac: Double, minDf: Int = 2): DataFrame = {
    require(maxFrac > 0 && maxFrac < 1, s"maxFrac in (0,1), got $maxFrac")
    require(minDf >= 2, s"minDf >= 2 (df=1 lines are unique content), got $minDf")
    val domDocs = docs.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
    // minDf keeps tiny domains sane: in a 1-doc domain every line has
    // df = 1 > n·maxFrac and the whole document would vanish
    val hot = lines
      .groupBy(col(domainCol), col("line"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .join(broadcast(domDocs), Seq(domainCol))
      .filter(col("__df") >= minDf && col("__df") > col("__n") * maxFrac)
      .select(col(domainCol), col("line"))
    val kept = lines.join(broadcast(hot), Seq(domainCol, "line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).as("__ps"))
      // .getField on the array<struct> is stock codegen'd
      // GetArrayStructFields — the transform-lambda form evaluated an
      // interpreted extract per kept line of every document
      .select(col(idCol),
        array_join(col("__ps").getField("line"), "\n").as("clean_text"))
    docs.select(col(idCol), col(domainCol))
      .join(kept, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** Newline decomposition of a text column into (id, domain, pos, line). */
  def linesOf(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), col(domainCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))

  /** Fixed-width token chunks as pseudo-lines for single-line corpora:
    * consecutive `width`-token windows, space-joined. Deterministic, so the
    * DuckDB oracle replays it exactly.
    */
  def tokenChunks(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String, width: Int): DataFrame =
    // native [[graft.expr.TokenChunks]] — the HOF reference form
    // ([[tokenChunksHof]]) evaluated an interpreted slice+join lambda per
    // window of every document, the q77 scan-stage hot path
    docs.select(col(idCol), col(domainCol),
      posexplode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expr.TokenChunks(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
          width))).as(Seq("pos", "line")))

  /** HOF reference form of [[tokenChunks]] (kept for the spec's equivalence
    * proof): one interpreted lambda eval per window.
    */
  private[graft] def tokenChunksHof(docs: DataFrame, idCol: String, domainCol: String,
      textCol: String, width: Int): DataFrame = {
    val tk = Text.tokens(col(textCol))
    docs.select(col(idCol), col(domainCol),
        posexplode(transform(
          sequence(lit(0), ceil(size(tk).cast("double") / width).cast("int") - 1),
          i => array_join(slice(tk, i * width + 1, lit(width)), " "))).as(Seq("pos", "line")))
  }

  /** Overlapping token-window chunking (RAG indexing / long-document
    * training prep): windows of `width` tokens advancing by `stride`
    * (stride < width ⇒ overlap), each emitted as (id, pos, chunk). The
    * final window start is always included even when it falls off the
    * stride grid, so every token is covered by some window; a document
    * shorter than one window yields exactly one (short) chunk. Pure
    * per-row explode — fuses into the scan stage, no shuffle.
    */
  def slidingTokenWindows(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1, "width and stride must be positive")
    // tokenize ONCE per document and slice the array per window — running
    // the regex tokenizer again on every emitted row would cost
    // O(windows × doc length) in the scan stage
    val withTk   = docs.select(col(idCol), Text.tokens(col(textCol)).as("__tk"))
    val maxStart = greatest(size(col("__tk")) - width + 1, lit(1))
    val starts   = array_distinct(concat(
      sequence(lit(1), maxStart, lit(stride)), array(maxStart)))
    withTk.select(col(idCol), col("__tk"), explode(starts).as("pos"))
      .select(col(idCol), col("pos"),
        array_join(slice(col("__tk"), col("pos"), lit(width)), " ").as("chunk"))
  }

  /** Distribution-based outlier DETECTION: returns the rows whose `valCol`
    * sits more than `threshold` sample standard deviations from their
    * group's mean (truncation-length spikes, pathological documents, sensor
    * glitches) — i.e. the OUTLIERS themselves, for inspection or anti-join
    * removal; it is NOT the cleaned corpus. The per-group stats table has
    * one row per group (broadcast), so the corpus takes one narrow pass:
    * no self-join, no window sort.
    */
  def zScoreOutliers(df: DataFrame, groupCol: String, valCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valCol)).as("__mu"), stddev(col(valCol)).as("__sd"))
    df.join(broadcast(stats), groupCol)
      .withColumn("z", (col(valCol) - col("__mu")) / col("__sd"))
      .filter(abs(col("z")) > threshold)
      .drop("__mu", "__sd")
  }

  /** Character-level Shannon entropy (bits/char) — the cheap
    * information-density score: gibberish and key-mash text score near the
    * charset's log2, templated/repeated text scores low. Pure per-row
    * expression, fused into the scan stage.
    *
    * Summation runs over the SORTED distinct characters so the float
    * accumulation order is engine-independent — the DuckDB oracle sums the
    * identical sequence and the 4-decimal round then agrees exactly.
    */
  def charEntropy(textCol: Column): Column =
    // native [[graft.expr.CharEntropyBits]]: the identical sorted-run
    // accumulation in one compiled pass per row — the HOF reference form
    // ([[charEntropyHof]]) evaluated an interpreted struct lambda per
    // CHARACTER of every document, the q79 scan-stage hot path
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expr.CharEntropyBits(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol)))

  /** HOF reference form of [[charEntropy]] (kept for the spec's equivalence
    * proof): one interpreted lambda eval per character.
    */
  private[graft] def charEntropyHof(textCol: Column): Column = {
    val cs = split(textCol, "")
    val n  = size(cs).cast("double")
    // run-length over the SORTED characters: one linear pass instead of the
    // O(distinct × length) count-per-distinct form (quadratic on
    // high-charset text, e.g. CJK). Each run closes by adding its
    // −(k/n)·log2(k/n) term in sorted order — the identical additions in
    // the identical order as the previous form, so oracle parity holds
    // bit-for-bit; the final open run closes in the finish lambda.
    aggregate(
      array_sort(cs),
      struct(lit("").as("prev"), lit(0.0d).as("run"), lit(0.0d).as("ent")),
      (acc, c) => {
        val prev = acc.getField("prev")
        val run  = acc.getField("run")
        val ent  = acc.getField("ent")
        when(run === 0.0d || c === prev,
          struct(c.as("prev"), (run + 1.0d).as("run"), ent.as("ent")))
        .otherwise(
          struct(c.as("prev"), lit(1.0d).as("run"),
            (ent - (run / n) * log2(run / n)).as("ent")))
      },
      acc => {
        val run = acc.getField("run")
        val ent = acc.getField("ent")
        when(run > 0.0d, ent - (run / n) * log2(run / n)).otherwise(ent)
      })
  }

  /** Robust per-group outlier detection via median/MAD (modified z-score,
    * Iglewicz–Hoaglin: flag when |0.6745·(x−median)/MAD| > k, k ≈ 3.5).
    * The mean/σ version ([[zScoreOutliers]]) is itself dragged by the
    * outliers it hunts; median and MAD have a 50% breakdown point, which is
    * what heavy-tailed quality metrics (exp-scaled scores, token counts)
    * need.
    *
    * Both medians are the LOWER MEDIAN — the exact order statistic at
    * position ⌈n/2⌉ in (value, id) order — not an interpolated midpoint:
    * an element of the data, engine-agnostic (interpolation formulas
    * differ bit-wise across engines), and still a valid robust center.
    * Groups with MAD = 0 (≥ half the group identical) flag nothing —
    * score undefined, not infinite. NULL values are excluded.
    *
    * Scale shape — TWO regimes, picked by a bounded distinct-key probe
    * (one narrow pre-pass; its shuffle carries at most `maxGroups + 1`
    * keys per task):
    *
    *  - ≤ `maxGroups` distinct keys (event types, sources — the designed
    *    use): a `Window.partitionBy(key)` would sort n/|groups| rows in
    *    one task per group, so both medians rank through
    *    [[Summaries.runningSums]]' two-phase range partition on
    *    (key, value, id) — no task holds more than its range slice
    *    regardless of |groups| vs cores. The deviation table is pinned
    *    before its ranking (it is a join; the range partitioner's sampling
    *    job would re-execute it). Two small broadcast joins glue medians
    *    back on. This path broadcasts a |groups|·nPartitions offsets table
    *    and a |groups|-row medians table — which is exactly why it is
    *    GATED: on a high-cardinality key those broadcasts exceed driver /
    *    broadcast limits.
    *  - > `maxGroups` distinct keys: groups are numerous and therefore
    *    small (n/|groups| rows each), so the classic per-key window form
    *    degrades gracefully — per-group sorts are tiny, and the medians
    *    glue back through plain shuffle joins, never a broadcast. Same
    *    (value, id) order statistics, bit-identical output (CurationSpec
    *    pins the two paths equal).
    */
  def madOutliers(df: DataFrame, keyCol: String, value: Column, idCol: String,
      k: Double = 3.5, maxGroups: Int = 4096): DataFrame = {
    require(maxGroups >= 1, s"maxGroups must be positive, got $maxGroups")
    val d = df.filter(value.isNotNull)
      .select(col(keyCol), col(idCol), value.cast("double").as("__v"))
    val wide = manyGroups(d, keyCol, maxGroups)
    def lowerMedian(in: DataFrame, v: String, out: String, pin: Boolean): DataFrame =
      if (wide) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col(v), col(idCol))
        in.withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
          .filter(col("__rn") === expr("(__n + 1) DIV 2"))
          .select(col(keyCol), col(v).as(out))
      } else
        Summaries.runningSums(in, Seq(keyCol), Seq(col(v), col(idCol)),
            Seq((lit(1L), "__rn", "__n")), pinInput = pin)
          .filter(col("__rn") === expr("(__n + 1) DIV 2"))
          .select(col(keyCol), col(v).as(out))
    def glue(medians: DataFrame) = if (wide) medians else broadcast(medians)
    val med  = lowerMedian(d, "__v", "__med", pin = false)
    val dev0 = d.join(glue(med), Seq(keyCol))
      .withColumn("__dev", abs(col("__v") - col("__med")))
    // dev feeds two consumers (the MAD ranking and the final score join):
    // the narrow path pins it inside runningSums (pinInput), the wide path
    // pins it here — either way the med join runs once
    val dev = if (wide) Checkpoints.pin(dev0, eager = false) else dev0
    val mad = lowerMedian(dev.select(col(keyCol), col(idCol), col("__dev")),
      "__dev", "__mad", pin = !wide)
    dev.join(glue(mad), Seq(keyCol))
      .filter(col("__mad") > 0)
      .withColumn("__score", lit(0.6745) * (col("__v") - col("__med")) / col("__mad"))
      .filter(abs(col("__score")) > k)
      .select(col(keyCol), col(idCol), col("__v").as("value"),
        col("__med").as("med"), col("__mad").as("mad"),
        Summaries.r4(col("__score")).as("score"))
      .orderBy(col(keyCol), col(idCol))
  }

  /** Bounded distinct-key probe shared by [[madOutliers]]/[[winsorize]]:
    * true when `keyCol` holds more than `maxGroups` distinct values.
    * One narrow pre-pass; the partial distinct plus `limit(maxGroups + 1)`
    * bounds what any task ships regardless of true cardinality.
    */
  private def manyGroups(df: DataFrame, keyCol: String, maxGroups: Int): Boolean =
    df.select(col(keyCol)).distinct().limit(maxGroups + 1).count() > maxGroups

  /** Per-group winsorization: clip values to the group's [lo, hi] quantile
    * cut points — the standard tail-taming step before normalizing a
    * heavy-tailed feature (z-scores after winsorizing aren't dominated by
    * the 0.1% extremes). Emits every row with the clipped value and a
    * `was_clipped` flag.
    *
    * Cut points are type-1 (exact order statistic at ⌊(n−1)·q⌋ + 1 in
    * (value, id) order) — elements of the data, so the clip bounds are
    * engine-agnostic and rows keep exact input values. NULL values pass
    * through unclipped (`was_clipped` NULL), preserving row count.
    *
    * Scale shape: the cut points only need the order statistic, not a rank
    * on every row — and like [[madOutliers]] the ranking picks between two
    * regimes via the bounded distinct-key probe. At ≤ `maxGroups` keys
    * (the designed low-cardinality use) the NON-NULL values rank through
    * [[Summaries.runningSums]]' two-phase range partition on
    * (key, value, id) — a `Window.partitionBy(key)` would sort n/|groups|
    * rows in one task per group — and the per-group [lo, hi] bounds
    * broadcast back onto the unmodified input. Past `maxGroups`, groups
    * are numerous-therefore-small: the per-key window form ranks them
    * (tiny per-group sorts) and the bounds glue back through a plain
    * shuffle join — the runningSums offsets table and the bounds broadcast
    * would both be |groups|-sized, which is exactly what the guard
    * prevents. Identical order statistics either way (CurationSpec pins
    * the paths equal). NULL handling falls out for free: NULL values never
    * enter the ranking, and rows in a group with zero non-null values find
    * no bounds row (left join) — both clip to NULL.
    */
  def winsorize(df: DataFrame, keyCol: String, value: Column, idCol: String,
      lo: Double = 0.05, hi: Double = 0.95, maxGroups: Int = 4096): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got $lo, $hi")
    require(maxGroups >= 1, s"maxGroups must be positive, got $maxGroups")
    val nn = df.withColumn("__v", value.cast("double"))
      .filter(col("__v").isNotNull)
      .select(col(keyCol), col(idCol), col("__v"))
    val wide = manyGroups(nn, keyCol, maxGroups)
    val ranked =
      if (wide) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col("__v"), col(idCol))
        nn.withColumn("__rn", row_number().over(w).cast("long"))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
      } else
        Summaries.runningSums(nn, Seq(keyCol), Seq(col("__v"), col(idCol)),
          Seq((lit(1L), "__rn", "__n")))
    val bounds = ranked
      .withColumn("__ilo", (floor((col("__n") - 1) * lit(lo)) + 1).cast("long"))
      .withColumn("__ihi", (floor((col("__n") - 1) * lit(hi)) + 1).cast("long"))
      .filter(col("__rn") === col("__ilo") || col("__rn") === col("__ihi"))
      .groupBy(col(keyCol).as("__bk"))
      .agg(max(when(col("__rn") === col("__ilo"), col("__v"))).as("__vlo"),
           max(when(col("__rn") === col("__ihi"), col("__v"))).as("__vhi"))
    df.withColumn("__v", value.cast("double"))
      // null-safe: a NULL group key is a real group with real bounds
      .join(if (wide) bounds else broadcast(bounds), col(keyCol) <=> col("__bk"), "left")
      // greatest/least IGNORE nulls (both engines), which would clip a NULL
      // value to the lower bound — guard explicitly
      .withColumn("clipped",
        when(col("__v").isNotNull, least(greatest(col("__v"), col("__vlo")), col("__vhi"))))
      .withColumn("was_clipped", col("clipped") =!= col("__v"))
      .drop("__v", "__bk", "__vlo", "__vhi")
  }
}
