package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-addressed sampling and dataset splitting — the
  * training-data-pipeline primitives `df.sample()` cannot provide: Spark's
  * seeded sample is partition-layout-dependent, so the "same" 1% differs
  * across cluster sizes and reruns. Hashing the KEY instead makes membership
  * a pure function of the data: stable across engines, reruns, repartitions,
  * and incremental arrivals (a document keeps its split forever — no
  * train/eval leakage when the corpus grows).
  *
  * Hash is the md5-derived [[Text.hash60]], so the DuckDB oracle replays
  * membership exactly; swap xxhash64 in when cross-engine replay is not
  * needed.
  */
object Sampling {

  /** Bucket in [0, buckets) from the key columns. The MULTI-key form is
    * separated by the u+0001 control char — a bare concat would collide ("ab","c") with
    * ("a","bc") — and NULL parts are marked with a u+0000 sentinel:
    * concat_ws silently skips NULLs, which would collide ("a", NULL) with
    * (NULL, "a") and with ("a") — perfectly correlating those keys'
    * sampling and split fates. (Both control chars are written as escapes,
    * not raw bytes: a raw 0x01 renders invisibly in diffs/reviews.)
    * The single-key form stays the plain string cast the SQL oracles
    * replicate (`md5(CAST(k AS VARCHAR))`).
    */
  def hashBucket(keys: Seq[Column], buckets: Int = 10000): Column = {
    require(keys.nonEmpty, "hashBucket needs at least one key column")
    // single-key: NULL key -> NULL bucket, so a NULL-keyed row fails every
    // `bucket < cutoff` test and is dropped -- exactly what the oracle form
    // md5(CAST(k AS VARCHAR)) replays (a concat_ws here would silently
    // collapse NULL to the empty string's bucket and diverge from SQL)
    if (keys.size == 1) pmod(Text.hash60(keys.head.cast("string")), lit(buckets))
    else {
      val parts = keys.map(k => coalesce(k.cast("string"), lit("\u0000")))
      pmod(Text.hash60(concat_ws("\u0001", parts: _*)), lit(buckets))
    }
  }

  /** Keep ~`fraction` of rows, deterministically by key. The cutoff uses
    * `math.round`, matching [[splitColumn]]'s cut computation — plain
    * truncation turns FP error like 0.7*10000 = 6999.999… into an
    * off-by-one-bucket boundary.
    */
  def hashSample(df: DataFrame, keys: Seq[String], fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hashBucket(keys.map(col)) < math.round(fraction * 10000).toInt)
  }

  /** Weighted Bernoulli (Poisson) sampling: row `i` is kept independently
    * with probability `min(1, fraction · N · wᵢ / Σw)`, so expected sample
    * size is `fraction · N` while inclusion odds are proportional to the
    * weight (quality score, token count, …) — the standard
    * upsample-the-good-stuff step of corpus curation.
    *
    * Same determinism contract as [[hashSample]]: membership is decided by
    * the content-addressed [[hashBucket]] of `keys`, never by `rand()`, so
    * the sample is stable across reruns, repartitions, AND corpus growth
    * (a row's bucket never changes; only its cutoff moves as Σw/N drift).
    * The corpus totals are ONE aggregate row computed in-plan and broadcast
    * — no driver action, one wide scan + one narrow filter pass at any
    * scale. Rows with NULL or non-positive weight are dropped (probability
    * zero) — and they are excluded from the Σw/N totals too, so the kept
    * rows' inclusion probability is exactly min(1, fraction·N·w/Σw) over
    * the SAMPLED population: a negative weight can never shrink Σw and a
    * null-weight row can never inflate N. Integer bucket-vs-cutoff
    * comparison keeps the oracle exact: every arithmetic step is IEEE
    * basic ops replayed verbatim by SQL.
    */
  def weightedSample(df: DataFrame, keys: Seq[String], weightCol: String,
      fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    val eligible = df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
    val tot = eligible.agg(
      sum(col(weightCol).cast("double")).as("__sw"),
      count(lit(1)).cast("double").as("__nn"))
    eligible.crossJoin(broadcast(tot))
      .filter(hashBucket(keys.map(col)) <
        floor(lit(10000) * least(lit(1.0),
          lit(fraction) * col("__nn") * col(weightCol).cast("double") / col("__sw"))))
      .drop("__sw", "__nn")
  }

  /** Token-budget corpus mixing: sample each source down so its expected
    * token mass is ≈ `weight(source) · budget`, keeping everything from
    * sources already under their target. The standard "data mixture" step
    * of LLM corpus assembly — rebalance web/books/code/… to a recipe.
    *
    * The per-source keep-fraction `min(1, w·budget / sourceTokens)` is
    * computed IN-PLAN: one partially-aggregated pass builds the per-source
    * token totals (one row per source), which broadcast-join back onto the
    * corpus — no driver action, no second scan of the data. Membership is
    * content-addressed ([[hashBucket]]), so the sampled mixture is stable
    * across reruns and corpus growth, and the same document never flips
    * between mixtures when an unrelated source changes.
    */
  def tokenBudgetMix(df: DataFrame, keys: Seq[String], sourceCol: String,
      tokenCol: Column, budget: Double, weights: Map[String, Double],
      default: Double = 0.0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (src, wt)) => when(col(sourceCol) === src, lit(wt)).otherwise(acc)
    }
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(tokenCol).cast("double").as("__tot"))
      .withColumnRenamed(sourceCol, "__src")
    // null-safe join: a plain using-column join never matches NULL = NULL,
    // silently dropping every null-source row regardless of `default`
    df.join(broadcast(totals), col(sourceCol) <=> col("__src"))
      .filter(hashBucket(keys.map(col)) <
        floor(least(lit(1.0), w * lit(budget) / col("__tot")) * 10000).cast("long"))
      .drop("__tot", "__src")
  }

  /** Sequence packing (the concat-and-chop step of LLM batch prep): lay
    * documents end to end and assign each to the fixed-size training
    * sequence its first token lands in — `seq = floor(offset / maxTokens)`
    * over a running token offset.
    *
    * A single global running sum would plan a one-partition window (the
    * whole corpus through one task), so documents are first spread over
    * `buckets` content-addressed bins and packed WITHIN each bin: the
    * windows partition by bucket and run in parallel, and the only
    * fragmentation cost is one potentially-short tail sequence per bucket —
    * bounded by `buckets · maxTokens` padding tokens corpus-wide,
    * negligible for buckets ≪ corpusTokens/maxTokens. Ordering inside a
    * bucket is (content hash, id): deterministic, replayable, and an
    * implicit shuffle of the corpus so consecutive documents are unrelated
    * (the usual training-time requirement).
    *
    * @return input plus (bucket, seq, offset) — offset is the document's
    *         first token position within its sequence's bucket stream.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: Column,
      maxTokens: Long, buckets: Int): DataFrame = {
    require(maxTokens >= 1 && buckets >= 1, "maxTokens and buckets must be positive")
    // seq = bucket·2^40 + slot must fit a signed long
    require(buckets <= (1 << 22),
      s"buckets must be <= ${1 << 22} so bucket*2^40 sequence ids cannot overflow Long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(Text.hash60(col(idCol).cast("string")), col(idCol))
    df.withColumn("bucket", hashBucket(Seq(col(idCol)), buckets))
      .withColumn("offset", sum(tokenCol).over(w) - tokenCol)
      // 2^40 sequences of id-space per bucket: a bucket would need
      // > maxTokens·2^40 tokens (petabytes at maxTokens=512) before its seq
      // ids could collide with the next bucket's
      .withColumn("seq",
        (col("bucket") * lit(1L << 40) + floor(col("offset") / maxTokens)).cast("long"))
  }

  /** Stratified deterministic sampling: each stratum keeps its own fraction
    * (rebalancing a skewed corpus — downsample the dominant language, keep
    * all of a rare one). Same content-addressed membership as [[hashSample]],
    * so a document's in/out decision never changes as the corpus grows;
    * strata absent from `fractions` keep `default`.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keys: Seq[String],
      fractions: Map[String, Double], default: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0 && f <= 1),
      "fractions in [0,1]")
    val cut = fractions.foldLeft(lit(math.round(default * 10000).toInt): Column) {
      case (acc, (k, f)) =>
        when(col(strataCol) === k, lit(math.round(f * 10000).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(keys.map(col)) < cut)
  }

  /** Rendezvous (highest-random-weight) shard assignment: the shard of `key`
    * is `argmax_i hash(key, i)` over the `shards` candidates. Unlike
    * `hash(key) mod n`, resharding n → n+1 moves only ~1/(n+1) of the keys —
    * and every key that moves, moves TO the new shard (a moved key's old
    * argmax is still present, so only a new, higher-scoring candidate can
    * win). That makes incremental re-sharding of a 100 TB corpus an
    * append-mostly operation instead of a full rewrite.
    *
    * Implemented as a left-to-right fold over the candidate list — a pure
    * narrow expression, zero shuffles, and the same fold a SQL
    * `list_reduce` replays for the oracle. Ties (astronomically unlikely on
    * a 60-bit hash) keep the LOWEST shard index: `>` not `>=` in the fold.
    * A NULL key yields a NULL shard (SQL convention), never a silent
    * out-of-range id.
    */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1, "shards must be positive")
    val seed = struct(lit(-1L).as("s"), lit(-1).as("i"))
    val win = aggregate(
      sequence(lit(0), lit(shards - 1)),
      seed,
      (acc, i) => {
        val sc = Text.hash60(concat(key.cast("string"), lit(":"), i.cast("string")))
        when(sc > acc.getField("s"), struct(sc.as("s"), i.cast("int").as("i"))).otherwise(acc)
      }).getField("i")
    when(key.isNotNull, win)
  }

  /** Train/val/test-style assignment: `weights` are cumulative-normalized;
    * e.g. Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1).
    */
  def splitColumn(keys: Seq[Column], weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "weights must sum to 1")
    val bucket = hashBucket(keys)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail.map(c => (c * 10000).round)
    weights.map(_._1).zip(cuts).dropRight(1)
      .foldRight(lit(weights.last._1): Column) { case ((name, cut), acc) =>
        when(bucket < cut, lit(name)).otherwise(acc)
      }
  }

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each row draws an exponential priority `e = −ln(u) / w` from a
    * content-hash uniform `u ∈ (0, 1]`, and the `k` SMALLEST priorities win
    * — inclusion probability proportional to weight, sample size exactly
    * `min(k, eligible rows)`, no global weight total needed (unlike the
    * Bernoulli [[weightedSample]], whose output size is itself random).
    * Deterministic: a pure function of (key, weight, k), stable across
    * reruns and partitionings.
    *
    * Cross-engine contract: `u` is `(hash60(key) + 1) / 2⁶⁰` (exact
    * power-of-two scaling; the bigint→double cast rounds identically under
    * IEEE), and the priority is quantized to integer MICRO-units before
    * ranking, so the frontier compares exact longs — the 1-ulp `ln`
    * wobble cannot reorder it. Ties (quantized-equal priorities) break on
    * the hash, then the key string. Rows with NULL or non-positive weight
    * are excluded.
    *
    * Scale shape: one narrow expression pass + a top-k frontier
    * (`TakeOrderedAndProject` — per-partition heaps, no global sort of the
    * corpus).
    */
  def weightedTakeK(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val h = Text.hash60(key.cast("string"))
    val u = (h.cast("double") + 1.0) / lit(1152921504606846976.0) // 2^60
    val prio = floor(-log(u) / weight.cast("double") * 1000000 + 0.5).cast("long")
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("__h", h)
      .withColumn("__prio", prio)
      .orderBy(col("__prio").asc, col("__h").asc, key.cast("string").asc)
      .limit(k)
  }

  /** Temperature-scaled source mixing weights — the multilingual/multi-source
    * rebalancing rule (`wᵢ ∝ pᵢ^α`, α < 1 upsamples the tail): per source,
    * the row count, natural share `p`, temperature weight `w`, and the
    * resampling `boost = w/p` a sampler would apply. α = 1 is the natural
    * mix; α = 0 is uniform.
    *
    * Scale shape: one count aggregate (shuffle bounded by source
    * cardinality); the grand total and the normalizer ride one-row
    * broadcasts. Cross-engine determinism: `p^α` is quantized to 1e-6
    * (pow's last-ulp is implementation-defined), and the normalizing sum
    * folds the per-source terms in sorted order, so both engines add the
    * same doubles in the same sequence — bit-identical denominators with no
    * order-dependent parallel reduction.
    */
  def temperatureWeights(df: DataFrame, srcCol: String, alpha: Double): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    // pinned: the counts aggregate feeds the grand total, the normalizer
    // fold, and the report — recompute would scan the corpus three times
    // (see Summaries.chiSquareCells for the rationale)
    val counts = Checkpoints.pin(df.groupBy(col(srcCol)).agg(count(lit(1)).as("n")), eager = false)
    val tot = counts.agg(sum(col("n")).as("__N"))
    val withT = counts.crossJoin(broadcast(tot))
      .withColumn("__p", col("n").cast("double") / col("__N").cast("double"))
      .withColumn("__t", floor(pow(col("__p"), lit(alpha)) * 1000000 + 0.5) / 1000000)
    val denom = withT.agg(
      aggregate(
        transform(
          sort_array(collect_list(struct(col(srcCol).as("s"), col("__t").as("t")))),
          x => x.getField("t")),
        lit(0.0), (acc, t) => acc + t).as("__denom"))
    withT.crossJoin(broadcast(denom))
      .select(col(srcCol), col("n"),
        Summaries.r4(col("__p")).as("p"),
        Summaries.r4(col("__t") / col("__denom")).as("w"),
        Summaries.r4(col("__t") / col("__denom") / col("__p")).as("boost"))
      .orderBy(col(srcCol))
  }
}
