package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator row from SURVEY §2, expressed
  * Spark-first, with a DuckDB oracle in `oracleSql`. Determinism conventions
  * (SURVEY §5.2): every query ends in a total ORDER BY; double aggregates go
  * through exact decimal accumulation (`Summaries.exactSum`) so the result is
  * independent of partition/aggregation order; column names are aliased
  * identically on both sides.
  */
object SparkEntry {
  import Tables.t

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---- shared helpers -----------------------------------------------------

  private def exactSum(c: Column, scale: Int = 2) = Summaries.exactSum(c, scale)

  /** Little-endian byte serialization of a column's low `n` bytes — the
    * shared helper of every in-plan binary fixture builder.
    */
  private def le(c: Column, n: Int): Column = unhex(concat((0 until n).map(i =>
    lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*))

  /** ORC round-trip dirs already written by THIS JVM (q218). */
  private val orcWritten = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ textQueries ++ similarityQueries ++ closureQueries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §7.2 minimum slice — P7 date filter + A1/A4 multi-agg + O1 sort
    // (reference flagship computation re-shaped onto lineitem, TPC-H-Q1-like)
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
          Summaries.exactAvg(col("l_discount"), 6).as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // D1 — dedup keep-most-recent (reference app.py:233-242) via
    // Window/row_number with explicit tie-break (SURVEY §7.5)
    "q02_dedup_keep_latest" -> ((s, d) => {
      // project BEFORE the window so the dedup exchange carries only the six
      // output columns, not the full 16-column row
      Dedup
        .keepLatest(
          t(s, d, "lineitem")
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_shipdate"),
          keys = Seq("l_orderkey", "l_partkey", "l_suppkey"),
          recency = Seq("l_shipdate"),
          tieBreak = Seq(col("l_linenumber")))
        .orderBy("l_orderkey", "l_partkey", "l_suppkey")
    }),

    // D2 — all-columns distinct (reference app.py:242)
    "q03_distinct" -> ((s, d) => {
      Dedup
        .distinctRows(t(s, d, "orders").select("o_orderstatus", "o_orderpriority"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // A1 — group-by count, NULL group kept (reference app.py:245-261)
    "q04_group_count" -> ((s, d) => Summaries.groupCount(t(s, d, "events"), "event_type")),

    // P8/F7 — multi-column case-insensitive keyword mask (app.py:263-270)
    "q05_keyword_filter" -> ((s, d) => {
      val e = t(s, d, "events")
      e.filter(Clean.keywordAny(Seq(col("event_type"), col("props")), Clean.FailurePattern))
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    }),

    // U1 — unionByName with missing columns null-filled (app.py:325 concat)
    "q06_union_by_name" -> ((s, d) => {
      val li  = t(s, d, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      val a = li.filter(col("l_shipdate") < cut).select("l_orderkey", "l_linenumber", "l_quantity")
      val b = li.filter(col("l_shipdate") >= cut).select("l_orderkey", "l_linenumber", "l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
      // the ORDER BY must cover every column to be total; Spark's asc is
      // nulls-first, matching the oracle's explicit NULLS FIRST.
      Ingest.unionAllByName(Seq(a, b))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    // J1 — inner equi-join fact⋈fact with aggregation
    "q07_join_inner" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("cnt"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // J2 — left outer join keeping unmatched
    "q08_join_left" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"), exactSum(col("o_totalprice")).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // J3 — left semi (EXISTS)
    "q09_join_semi" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J3 — left anti (NOT EXISTS)
    "q10_join_anti" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J4 — broadcast dim chain (region=5, nation=25 rows: never shuffle them)
    "q11_join_broadcast" -> ((s, d) => {
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), exactSum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name"))
    }),

    // J5 — theta (non-equi) join: equi on brand + range on size.
    // DELIBERATELY-RAW pair materialization (O(Σ per-brand n²)) kept as the
    // theta-join demo, BOUNDED to the canonical key slice `p_partkey <
    // 2000`: the whole table at sf0.01 (correctness unchanged) and exactly
    // the replica-0 source rows of any ScaleCorpus output, so the demo's
    // cost is constant at every suite scale point instead of 11% of the
    // ×30 suite (round-9 verdict). The full-corpus form a user should copy
    // is q29_theta_agg, which joins the brand×size HISTOGRAM — O(brands ×
    // sizes²) regardless of row count.
    "q12_join_theta" -> ((s, d) => {
      val p = t(s, d, "part").filter(col("p_partkey") < 2000)
      val a = p.select(col("p_brand"), col("p_size").as("size_a"))
      val b = p.select(col("p_brand").as("brand_b"), col("p_size").as("size_b"))
      a.join(b, col("p_brand") === col("brand_b") && col("size_a") < col("size_b"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("p_brand"))
    }),
  )

  /** SURVEY §2.10 T1–T3/T6, §2.6 D3, plus the LLM-pipeline text operators
    * (language-ID, quality scoring, token counting, fingerprinting, SimHash)
    * — all on the `documents`/`events` tables.
    */
  private def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1 — tokenize/explode, global term frequency top-20
    "q13_tokenize" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)
    }),

    // TF-IDF — top-3 distinguishing terms per document
    "q67_tfidf" -> ((s, d) => {
      Text.tfidfTopTerms(Tables.spread(t(s, d, "documents")), "doc_id", "text", 3)
        .orderBy(col("id"), col("rank"))
    }),

    // T2 — per-language token statistics
    "q14_token_stats" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("lang"), col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_uniq"),
          Summaries.r4(count(lit(1)).cast("double") / countDistinct(col("doc_id"))).as("tokens_per_doc"))
        .orderBy(col("lang"))
    }),

    // T3 — bigram frequency top-20
    "q15_ngrams" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.ngramsOf(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20)
    }),

    // D3 exact — n-gram Jaccard near-dup via inverted shingle index
    "q16_jaccard_neardup" -> ((s, d) => {
      Text.jaccardNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // T6/D3 — MinHash signatures + LSH banding + exact Jaccard verify
    "q17_minhash_lsh" -> ((s, d) => {
      Text.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 16, 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // D3 scoped fuzzy dedup: same MinHash+LSH plan with the language in the
    // candidate join key — per-language dedup of a multilingual corpus
    // without a per-language driver loop (and with smaller LSH buckets)
    "q93_scoped_neardup" -> ((s, d) => {
      Text.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 16, 0.5,
          scopeCols = Seq("lang"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // D3 exact-content dedup, two-phase digest form (events.props: 100
    // distinct payloads across 10k rows at sf0.01)
    "q18_dedup_digest" -> ((s, d) => {
      Dedup.dedupByDigest(t(s, d, "events"), "props", "event_id")
        .select(col("event_id"), col("props"))
        .orderBy(col("event_id"))
    }),

    // SimHash document signature (16-bit, md5-derived → oracle-checkable)
    "q19_simhash" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), Text.simhash(col("text"), 16).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // Rolling-hash fingerprint (order-sensitive, integer math)
    "q20_fingerprint" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic vs the labeled lang column
    "q21_langid" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          Text.languageId(Text.tokenSet(col("text"))).as("pred"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: token count, stopword ratio, chars/token, bucket
    "q22_quality" -> ((s, d) => {
      val toks = Text.tokens(col("text"))
      val nTok = size(toks).cast("double")
      val stop = Text.stopwordCount(toks, Seq("the", "a", "of", "and")).cast("double")
      val stopRatio = Summaries.r4(stop / nTok)
      val charsTok  = Summaries.r4(length(col("text")).cast("double") / nTok)
      val score     = Summaries.r4(least(lit(1.0), nTok / lit(100.0)) - (stop / nTok) * 0.5)
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), size(toks).as("n_tokens"), stopRatio.as("stop_ratio"),
          charsTok.as("chars_per_token"), score.as("score"),
          when(score >= 0.5, lit("high")).when(score >= 0.2, lit("mid")).otherwise(lit("low")).as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Training-corpus decontamination: drop corpus docs sharing any 5-gram
    // with a benchmark subset (doc_id % 37 == 0 plays the eval set)
    "q70_decontaminate" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val bench  = docs.filter(col("doc_id") % 37 === 0)
      Text.decontaminate(corpus, "doc_id", "text", bench, "text", 5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-pruned anti-join (blocklist decontamination): the exclusion
    // set's bloom routes rows in-plan (scalar subquery) so the clean
    // majority never shuffles; only bloom-positives reach the exact
    // anti-join, and the result equals a plain NOT IN
    "q99_bloom_decontaminate" -> ((s, d) => {
      val bad = t(s, d, "customer").filter(col("c_acctbal") < 0)
      Curation.bloomAntiJoin(t(s, d, "orders"), col("o_custkey"),
          bad, col("c_custkey"), expectedItems = 2000L, fpp = 0.01)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    // Repetition-based quality (Gopher-rule family): top-token dominance and
    // duplicate-bigram fraction per document
    "q74_repetition" -> ((s, d) => {
      val toks = Text.tokens(col("text"))
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          Summaries.r4(Text.topTokenRatio(toks)).as("top_tok_ratio"),
          Summaries.r4(Text.dupBigramRatio(Text.ngramsOf(col("text"), 2))).as("dup_bigram_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Entity-resolution near-match: customer names within one substitution,
    // blocked by deletion variants (bucket sizes bounded by construction —
    // boilerplate-proof, unlike prefix blocking)
    "q106_name_match" -> ((s, d) => {
      Text.singleEditNearPairs(t(s, d, "customer"), "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Heavy-hitter tokens via the DataSketches frequent-items aggregate:
    // tasks keep a maxItemsTracked-bounded summary and merge map-side, so
    // corpus-scale token stats never shuffle the full vocabulary (billions
    // of keys for web text) — only tasks × maxItems entries. Here the
    // vocabulary fits the sketch, so counts are exact and oracle-checkable;
    // the overflow regime's subset guarantee is pinned in ContractSpec.
    "q104_heavy_hitters" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 40, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    }),

    // Weighted Bernoulli sampling: inclusion odds ∝ n_chars (expected 20%
    // of rows), membership decided by content hash, corpus totals in-plan;
    // the per-lang census shows long docs over-represented vs hashSample
    "q107_weighted_sample" -> ((s, d) => {
      Sampling.weightedSample(t(s, d, "documents"), Seq("doc_id"), "n_chars", 0.2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // Collocation mining: top PMI-scored adjacent token pairs (count ≥ 5) —
    // integer count products inside the single ln, vocabulary shuffle-joined
    "q108_collocations" -> ((s, d) => {
      Text.collocations(Tables.spread(t(s, d, "documents")), "text", 5L)
        .orderBy(col("nxy").desc, col("bigram"))
        .limit(15)
        .select(col("bigram"), col("nxy").as("n"), col("pmi"))
    }),

    // BM25 ranked retrieval: top-5 docs per query term; the postings filter
    // sits before the tf aggregate so cost tracks matches, not vocabulary
    "q109_bm25" -> ((s, d) => {
      Text.bm25TopK(Tables.spread(t(s, d, "documents")), "doc_id", "text",
          Seq("the", "data", "der", "la", "model"), 5)
        .orderBy(col("term"), col("score").desc, col("doc_id"))
    }),

    // Incremental view maintenance: aggregate state from an old snapshot
    // merged with a delta batch's state — the oracle is the full
    // re-aggregation, pinning mergeAggStates ≡ aggState(old ∪ delta);
    // merge cost scales with |state| + |delta|, not history size
    "q110_incremental_agg" -> ((s, d) => {
      val o    = t(s, d, "orders")
      val keys = Seq("o_orderstatus", "o_orderpriority")
      val st = Summaries.aggState(
        o.filter(col("o_orderdate") < lit("1996-01-01")), keys, Seq("o_totalprice"))
      val dl = Summaries.aggState(
        o.filter(col("o_orderdate") >= lit("1996-01-01")), keys, Seq("o_totalprice"))
      Summaries.mergeAggStates(st, dl, keys, Seq("o_totalprice"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("cnt"),
          Summaries.r4(col("sum_o_totalprice")).as("sum_price"),
          Summaries.r4(col("min_o_totalprice")).as("min_price"),
          Summaries.r4(col("max_o_totalprice")).as("max_price"),
          Summaries.r4(col("sum_o_totalprice") / col("cnt")).as("avg_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // Semantic dedup capstone: IVF-bucketed within-cell cosine pairs →
    // connected components → keep-one. The embedding-level analogue of the
    // q68 text pipeline; all-pairs cosine never happens — and the cell
    // count derives from the corpus (ivfCellsFor: √n at nProbe = 1), so
    // within-cell candidate volume stays O(n^1.5). The fixed-8-cell form
    // this replaces measured 6.0× cost for 3× rows in the three-point
    // suite probe (candidates O(n²/8)).
    "q111_semantic_dedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      val pairs = Similarity.semanticDedupPairs(
        e, "vec_id", "embedding", nCells = Similarity.ivfCellsFor(n), threshold = 0.4)
      Dedup.nearDupSurvivors(pairs, "id_a", "id_b")
        .orderBy(col("doc_id"))
    }),

    // SCD-2 history: each customer's order sequence becomes half-open
    // validity intervals with an is_current flag — "what was true as of T"
    "q112_scd2" -> ((s, d) => {
      Relational.scd2(t(s, d, "orders"), Seq("o_custkey"), "o_orderdate",
          Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),

    // OHLC downsampling: open/high/low/close of `value` per (type, day) —
    // open/close picked by the (ts, event_id) total order, so both engines
    // agree on first/last without any arithmetic in the output
    "q113_ohlc" -> ((s, d) => {
      val e = t(s, d, "events").withColumn("day", date_trunc("day", col("ts")))
      val part = Seq(col("event_type"), col("day"))
      val wA = Window.partitionBy(part: _*).orderBy(col("ts").asc, col("event_id").asc)
      val wD = Window.partitionBy(part: _*).orderBy(col("ts").desc, col("event_id").desc)
      e.select(col("event_type"), col("day"), col("value"),
          row_number().over(wA).as("ra"), row_number().over(wD).as("rd"))
        .groupBy(col("event_type"), col("day"))
        .agg(max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Conversion funnel: per first-click cohort day, the fraction of users
    // who purchase within an hour of their first click — the first-touch
    // attribution query; the step join is an equi-join on user with a
    // residual time band, never a cross product
    "q114_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
        .withColumn("cohort", date_trunc("day", col("fc")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pt"))
      val converted = firstClick
        .join(purchases, col("user_id") === col("pu") &&
          col("pt") >= col("fc") && col("pt") <= col("fc") + expr("INTERVAL 1 HOUR"),
          "left_semi")
        .select(col("user_id"), lit(1L).as("cv"))
      firstClick.join(converted, Seq("user_id"), "left_outer")
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("cv"), lit(0L))).as("n_converted"),
          Summaries.r4(sum(coalesce(col("cv"), lit(0L))).cast("double") / count(lit(1)))
            .as("conv_rate"))
        .orderBy(col("cohort"))
    }),

    // Cohort retention matrix: users bucketed by first-seen week, activity
    // counted per week offset — the funnel's long-horizon companion. Week
    // arithmetic is epoch-exact in both engines (Monday-truncated weeks)
    "q115_retention" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firstWeek = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort_week"))
      val active = ev
        .select(col("user_id").as("au"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      firstWeek.join(active, col("user_id") === col("au"))
        .select(col("cohort_week"), col("user_id"),
          ((unix_timestamp(col("week")) - unix_timestamp(col("cohort_week"))) / 604800L)
            .cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Token counting: whitespace vs BPE-ish pre-tokenizer regex, per lang
    "q23_token_count" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("lang"),
          Text.bpeishTokenCount(col("text")).as("bpe"),
          size(Text.tokens(col("text"))).cast("long").as("ws"))
        .groupBy(col("lang"))
        .agg(sum(col("bpe")).as("bpe_tokens"), sum(col("ws")).as("ws_tokens"),
          Summaries.r4(sum(col("bpe")).cast("double") / sum(col("ws"))).as("bpe_per_ws"))
        .orderBy(col("lang"))
    }),

    // Substring-level duplication census: per doc, how many token positions
    // sit inside a 4-gram window that occurs >= 2 times corpus-wide — the
    // clip fraction a suffix-style exact substring dedup would remove
    "q116_ngram_dup_spans" -> ((s, d) => {
      Text.duplicatedNgramCoverage(Tables.spread(t(s, d, "documents")), "doc_id", "text", 4)
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer training, round one: top adjacent char pairs weighted
    // by word frequency — the corpus reduces to the vocab before pairs fly
    "q119_bpe_pairs" -> ((s, d) => {
      Text.bpePairCounts(Tables.spread(t(s, d, "documents")), "text", 20)
        .orderBy(col("cnt").desc, col("pair"))
    }),

    // Mixture-drift census: language shares of two interleaved snapshots
    // (even vs odd doc ids) with per-category PSI terms
    "q120_category_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Summaries.categoryDrift(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1), "lang")
        .select(col("lang"),
          Summaries.r4(col("p_ref")).as("p_ref"),
          Summaries.r4(col("p_cur")).as("p_cur"),
          (floor(col("psi_term") * 1000000 + 0.5) / 1000000).as("psi_term"))
        .orderBy(col("lang"))
    }),

    // Substring dedup transform: q116's clip applied — non-first occurrences
    // of duplicated 4-gram windows removed, documents re-joined
    "q121_clip_dup_spans" -> ((s, d) => {
      Text.clipDuplicatedSpans(Tables.spread(t(s, d, "documents")), "doc_id", "text", 4)
        .orderBy(col("doc_id"))
    }),

    // Entity-resolution scoring: part-name vocabulary, first-token blocking,
    // native byte-wise Jaro-Winkler >= 0.85 (DuckDB replays the same score)
    "q122_name_similarity" -> ((s, d) => {
      Text.nameSimilarityPairs(t(s, d, "part"), "p_name", 0.85)
        .orderBy(col("name_a"), col("name_b"))
    }),

    // The full BPE tokenizer-TRAINING loop (q119 is just round one's
    // counting step): 8 rounds of count-pairs / argmax / merge-everywhere
    // over the persisted word-frequency vocabulary; the oracle unrolls the
    // same 8 rounds with the same spaced-symbol replace device
    "q203_bpe_train" -> ((s, d) => {
      Text.bpeTrain(Tables.spread(t(s, d, "documents")), "text", 8)
        .orderBy(col("merge_rank"))
    }),

    // Tokenizer APPLICATION — encode the corpus with the 8 trained merges:
    // rules collected to the driver (k rows), compiled to a replace chain
    // over the DISTINCT-word encode vocabulary, then a fact×dimension join
    // back (AQE broadcast-converts the vocab side) + per-doc aggregate
    "q204_bpe_encode" -> ((s, d) => {
      Text.bpeEncode(Tables.spread(t(s, d, "documents")), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),
  )

  /** SURVEY §2.10 T4/T5, §2.5 J7, §2.7 A9, §2.3 F17 — embedding-vector
    * similarity on the `embeddings` table.
    */
  private def similarityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T5 — brute-force cosine top-3 for a probe subset (corpus never
    // shuffles). DELIBERATELY-RAW quadratic ground truth for the ANN recall
    // gate, BOUNDED to the canonical slice `vec_id < 2000`: the whole table
    // at sf0.01/sf0.1 (correctness and the sf0.1 recall gate unchanged) and
    // exactly the replica-0 rows of any ScaleCorpus output, so the oracle's
    // cost stays constant while the scale twins (q26 sign-LSH, q58 IVF)
    // carry the full corpus.
    "q24_knn" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knn(e.filter(col("vec_id") % 10 === 0), e, "vec_id", "embedding", 3)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // J7 — cosine similarity self-join: all pairs ≥ 0.4. DELIBERATELY-RAW
    // range cross-join demo, bounded to the same canonical `vec_id < 2000`
    // slice as q24 (no-op at sf0.01/sf0.1, replica-0-only at scale); the
    // full-corpus forms are q26/q111 (bucketed, never all-pairs).
    "q25_embed_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // T5 scale path — multi-table sign-LSH approximate top-3, sized by the
    // occupancy-constant rule: nPlanes = annPlanesFor(n) so expected bucket
    // occupancy stays ≤ 250 as the corpus grows (a FIXED plane count was
    // measured at 59× cost for 10× rows in SCALING.md — this query now
    // certifies the geometry a user should copy). The one-row count() is the
    // sizing probe — the same driver action the IVF codebook fetch already
    // makes. Recall spent via nTables (linear), never occupancy (quadratic);
    // SimilaritySpec gates recall@3 ≥ 0.9 vs q24 ground truth.
    "q26_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      Similarity.annTopK(e, "vec_id", "embedding", Similarity.annPlanesFor(n), 3,
          nTables = 12)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // T5 scale path #2 — IVF approximate top-3 with the compute-balanced
    // cell count nCells = ivfCellsFor(n, nProbe) = √(n·nProbe): assignment
    // (n·C) and search (n²·nProbe/C) meet at O(n^1.5), where the old fixed
    // 8-cell form degraded to O(n²/8). On the isotropic testdata recall
    // tracks cell-neighbourhood structure (~0.45 at sf0.001 — the
    // information bound for structureless vectors; no sublinear index can
    // beat the probed fraction there); SimilaritySpec carries the ≥ 0.9
    // recall gate on CLUSTERED embeddings, the regime IVF exists for.
    "q58_ivf_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      Similarity.ivfTopK(e, "vec_id", "embedding",
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // Int8 scalar quantization: per-vector max-abs scale + tinyint code;
    // cos_q is the reconstruction similarity (cosine is scale-invariant)
    "q101_int8_quant" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      e.select(col("vec_id"), col("embedding"),
          Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          Summaries.r4(col("qz.scale")).as("scale4"),
          Summaries.r4(Similarity.dequantCosine(col("embedding"), col("qz"))).as("cos_q"))
        .orderBy(col("vec_id"))
    }),

    // A9 — typed UDAF: per-label element-wise mean, exploded to rows
    "q27_vector_mean" -> ((s, d) => {
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(Similarity.vectorMean(col("embedding")).as("mean"))
        .select(col("label"), posexplode(col("mean")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"), Summaries.r4(col("v")).as("mv"))
        .orderBy(col("label"), col("pos"))
    }),

    // F17 — array ops: size, element_at, L2 norm via aggregate
    "q28_array_ops" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          Summaries.r4(element_at(col("embedding"), 1).cast("double")).as("first_val"),
          Summaries.r4(Similarity.norm(col("embedding"))).as("l2norm"))
        .orderBy(col("vec_id"))
    }),

    // Lloyd's k-means, 2 iterations from the 8 smallest-id seeds: per vector
    // its final cluster, plus the cluster's size, first centroid element and
    // centroid norm — assignment is a broadcast argmin expression, the update
    // a k-row partial aggregate; rows never shuffle
    "q117_kmeans" -> ((s, d) => {
      import s.implicits._
      val (assigned, stats) =
        Clustering.kmeans(t(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
      val cent = stats.toDF("cluster", "n", "centroid")
        .select(col("cluster"), col("n"),
          element_at(col("centroid"), 1).as("c0"),
          Summaries.r4(Similarity.norm(col("centroid"))).as("cnorm"))
      assigned.select(col("vec_id"), col("cluster"))
        .join(broadcast(cent), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("n"), col("c0"), col("cnorm"))
        .orderBy(col("vec_id"))
    }),

    // One-pass covariance matrix (upper triangle) over the embeddings: tasks
    // accumulate d + d(d+1)/2 doubles; one merged buffer yields all 2080
    // cells — the d²× explode-and-shuffle never happens
    "q118_covariance" -> ((s, d) => {
      t(s, d, "embeddings")
        .agg(Clustering.covarianceMatrix(col("embedding")).as("cov"))
        .select(explode(col("cov")).as("e"))
        .select(col("e._1").as("i"), col("e._2").as("j"),
          (floor(col("e._3") * 1000000 + 0.5) / 1000000).as("cov"))
        .orderBy(col("i"), col("j"))
    }),

    // Product quantization (2 subspaces × 4 codewords, 1 Lloyd round from
    // the 4 smallest-id seeds): per vector its two codes and the cosine
    // between the vector and its 2-byte reconstruction — the compression-
    // quality readout. Training is one corpus pass (all subspaces in one
    // groupBy); encode is expression-only
    "q178_pq_encode" -> ((s, d) => {
      val e  = t(s, d, "embeddings")
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      val recon = Clustering.pqReconstruct(col("codes"), cb)
      Clustering.pqEncode(
          e.filter(col("embedding").isNotNull && size(col("embedding")) === cb.dim),
          "embedding", cb)
        .select(col("vec_id"),
          element_at(col("codes"), 1).as("code0"),
          element_at(col("codes"), 2).as("code1"),
          Summaries.r4(Similarity.dot(col("embedding"), recon) /
            (Similarity.norm(col("embedding")) * Similarity.norm(recon))).as("recon_cos"))
        .orderBy(col("vec_id"))
    }),

    // Asymmetric-distance (ADC) top-3 over the PQ codes: probes stay exact,
    // the corpus is scored purely from its 2-byte codes via literal-map
    // codeword lookups — candidates never decompress in the join. Ranking
    // is the bounded TopKPairs aggregate (k per group pre-exchange), not a
    // window sort. (At corpus scale the candidate set composes with IVF
    // cells — pqAdcDist scaladoc; here the oracle-checkable flat sweep.)
    // Training stays FULL-corpus (linear); the flat sweep itself is
    // O(probes·n) by construction, so — like q24/q25 — it is bounded to
    // the canonical `vec_id < 2000` slice (no-op at sf0.01/sf0.1,
    // replica-0-only at suite scale; the ×100 curve measured the unbounded
    // form at 9.7× for 3.3× rows). q181/q183 are the cell-pruned forms
    // that carry the full corpus.
    "q179_pq_adc" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      val clean  = e.filter(size(col("embedding")) === cb.dim)
      val sliced = clean.filter(col("vec_id") < 2000)
      val enc    = Clustering.pqEncode(sliced, "embedding", cb)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      val probes = sliced.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val cand = enc.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          (floor(Clustering.pqAdcDist(col("pv"), col("codes"), cb) * 1000000 + 0.5)
            / 1000000).as("d6"))
      Similarity.rankTopK(
          cand.select(col("probe_id"), col("neighbor_id"), (-col("d6")).as("sim")), 3)
        .select(col("probe_id"), col("neighbor_id"), (-col("sim")).as("adc_d6"), col("rank"))
        .orderBy(col("probe_id"), col("rank"))
    }),

    // IVF-PQ: cell-pruned candidates scored straight from 2-byte PQ codes
    // — the FAISS-style index layout where the stored side of the join
    // carries codes, not vectors. Cells sized by ivfCellsFor(n, nProbe)
    // (√(n·nProbe) — the O(n^1.5) balance point): the fixed-8-cell form
    // this replaces was the three-point suite probe's one real catch,
    // 281 s at 30× (34× the 10× time — candidates O(n²·nProbe/8)); the
    // tuned geometry returns it to the family curve.
    "q181_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // Persisted IVF-PQ index: one-time build of the frozen model (cells +
    // codebooks) and the bucketed code table, then a probe batch searches
    // with the STORED model — the corpus is never re-scanned or re-encoded
    // and its side of the join carries 2-byte codes, not vectors. The
    // frozen cell count derives from the corpus at BUILD time
    // (ivfCellsFor — the occupancy-constant contract the in-memory q181
    // carries), and search replays it from the stored model.
    "q183_pq_index_search" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q183_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4)
      }
      Similarity.searchPqIndex(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // q183's index after DELETION: stored vectors (vec_id % 9 == 0, above
    // a fixed floor) tombstoned out of the search with no `_idx` rewrite
    // and no model change — the frozen cells/codebooks still route the
    // survivors identically (a deleted id that was a seed only loses its
    // STORED row; the model keeps routing by it), so the oracle is q183's
    // replay minus the deleted ids on the stored side only
    "q192_pq_index_delete" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q192_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4)
        Similarity.deleteFromPqIndex(s,
          e.filter(col("vec_id") % 9 === 0 && col("vec_id") >= 8).select(col("vec_id")),
          "vec_id", prefix)
      }
      Similarity.searchPqIndex(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // The FAISS-style REFINE step over the persisted index: q183's
    // code-scored search widened to the top-12 ADC candidates per probe,
    // then exactly those 12 re-ranked on TRUE cosine against the stored
    // `_vecs` refine store (writePqIndex(storeVectors = true)) — the
    // recall-recovery move when the quantized ADC estimate misorders the
    // frontier. The _vecs scan reads only the probed cells (IN-filter
    // pushdown, PlanSpec-pinned); the oracle replays the same two-phase
    // rank over the training CTEs.
    "q209_pq_refine" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q209_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4,
          storeVectors = true)
      }
      Similarity.searchPqIndexRefined(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6, refineR = 12)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // Supervised doc-quality model fit in-engine: logistic regression on
    // standardized (ln length, space-ratio) features, label = lang == 'en',
    // 3 full-batch GD steps — each step ONE partial-aggregated corpus pass
    // (d+1 sums cross the exchange, never rows). Output: the scored sample
    // with the final weights, every float rounded for cross-engine replay
    "q180_logreg_quality" -> ((s, d) => {
      val (docs, feats, y, wts) = qualityModel(s, d)
      val sc4 = Summaries.r4(Clustering.logisticScore(feats, wts))
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), sc4.as("score4"), (sc4 >= 0.5).cast("int").as("pred"),
          y.cast("int").as("is_en"),
          lit(wts(0)).as("w0"), lit(wts(1)).as("w1"), lit(wts(2)).as("w2"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-survivor selection: near-dup clusters (SimHash pair graph
    // → connected components) × the q180 quality model — per cluster keep
    // the highest-scoring member (ties → lowest id). THE curation
    // composition: dedup decides which docs are the same, the model
    // decides which copy survives
    "q184_canonical_survivors" -> ((s, d) => {
      val (docs, feats, _, wts) = qualityModel(s, d)
      val scored = docs.select(col("doc_id"),
        Summaries.r4(Clustering.logisticScore(feats, wts)).as("s4"))
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .join(scored, col("id") === col("doc_id"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("s4"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("comp"), col("n_members"),
          (-col("best.nid")).as("survivor_id"), col("best.s4").as("best_score4"))
        .orderBy(col("comp"))
    }),

    // Population-stability index per language vs the 'en' reference over
    // fixed-width length bins, Laplace-smoothed (+1 per bin) so the index
    // is defined on empty bins and integer-count deterministic — the
    // standard distribution-drift gate alongside the q136 KS statistic
    "q185_psi_drift" -> ((s, d) => {
      val bins = s.range(0, 20).select(col("id").cast("int").as("bin"))
      val d0 = t(s, d, "documents")
        .select(col("lang"), least(floor(col("n_chars") / 100).cast("int"), lit(19)).as("bin"))
      val ref  = d0.filter(col("lang") === "en").groupBy(col("bin")).agg(count(lit(1)).as("rc"))
      val refT = ref.agg(sum(col("rc")).as("rn"))
      val rb = bins.join(ref, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("rc"), lit(0L)).as("rc"))
        .crossJoin(broadcast(refT))
      val oth  = d0.filter(col("lang") =!= "en")
      val qc   = oth.groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("qc"))
      val qt   = oth.groupBy(col("lang")).agg(count(lit(1)).as("qn"))
      val dense = qt.select(col("lang"), col("qn")).crossJoin(bins)
        .join(qc, Seq("lang", "bin"), "left")
        .select(col("lang"), col("qn"), col("bin"), coalesce(col("qc"), lit(0L)).as("qc"))
      val p = (col("rc") + 1).cast("double") / (col("rn") + 20)
      val q = (col("qc") + 1).cast("double") / (col("qn") + 20)
      dense.join(broadcast(rb), Seq("bin"))
        .select(col("lang"), col("qn"), ((p - q) * log(p / q)).as("term"))
        .groupBy(col("lang"), col("qn"))
        .agg(Summaries.r4(sum(col("term"))).as("psi4"))
        .select(col("lang"), col("psi4"), col("qn").as("n"))
        .orderBy(col("lang"))
    }),

    // Reliability diagram over the q180 model: fixed-width score bins,
    // per-bin predicted-vs-observed rate — the calibration report a
    // quality-filter rollout gates on before trusting the scores
    "q182_calibration" -> ((s, d) => {
      val (docs, feats, y, wts) = qualityModel(s, d)
      val sc4 = Summaries.r4(Clustering.logisticScore(feats, wts))
      docs.select(least(floor(sc4 * 10).cast("int"), lit(9)).as("bin"),
          sc4.as("s4"), y.cast("int").as("yy"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("yy") === 1, 1)).as("n_pos"),
          Summaries.exactAvg(col("s4"), 4).as("avg_score"))
        .select(col("bin"), col("n"), col("n_pos"), col("avg_score"),
          Summaries.r4(col("n_pos").cast("double") / col("n")).as("pos_rate"))
        .orderBy(col("bin"))
    }),

    // CDC between two TxTable versions (time travel's batch companion):
    // v1 = a narrowed orders snapshot, v2 = the next day's snapshot with
    // deterministic inserts (keys%7==0 arrive), deletes (keys%7==3 leave)
    // and updates (keys%5==0 repriced ×2). diff emits Delta-CDF-shaped
    // rows — both images per update — via ONE full-outer key join.
    "q186_txtable_cdc" -> ((s, d) => {
      val (root, v1, v2) = cdcFixture(s, d)
      TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("change"))
    }),

    // Incremental view maintenance driven by the q186 change feed: the
    // per-status (sum, count) aggregate of v1 is updated with O(changes)
    // work — one signed aggregation over the CDC rows + one full-outer
    // join on 3 group keys — and must equal a FULL recompute of v2
    // bit-exactly (decimal carrier; the oracle IS that full recompute).
    "q187_incremental_agg" -> ((s, d) => {
      val (root, v1, v2) = cdcFixture(s, d)
      val base = Summaries.sumCountAgg(TxTable.readAsOf(s, root, v1),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val cdc = TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
      Summaries.maintainSumCount(base, cdc, Seq("o_orderstatus"),
          col("o_totalprice"), "sum_price", "n_orders")
        .select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // Chained maintenance across TWO increments — replace-diff (updates +
    // deletes + inserts) then append-diff (a second root whose after-side
    // snapshot spans two data dirs) — with the composed view equal to a
    // full recompute of the final state. The multi-increment composition
    // proof: maintenance error cannot accumulate because there is none.
    "q188_cdc_chain" -> ((s, d) => {
      val (rootA, a1, a2) = cdcFixture(s, d)
      val (rootB, b1, b2) = cdcChainFixture(s, d)
      val base = Summaries.sumCountAgg(TxTable.readAsOf(s, rootA, a1),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val m1 = Summaries.maintainSumCount(base,
        TxTable.diff(s, rootA, a1, a2, Seq("o_orderkey")),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val m2 = Summaries.maintainSumCount(m1,
        TxTable.diff(s, rootB, b1, b2, Seq("o_orderkey")),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      m2.select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // CDC across a WIDENED retention window ([[TxTable.setRetention]](3)):
    // v1 → v3 spans TWO intermediate replaces — the weekend-backlog replay
    // that the default keep-2 window refuses loudly (TxTableSpec pins the
    // refusal; this query certifies the widened read). ×0.5 reprice is
    // fp-exact like q186's ×2, so the oracle replays images bit-identically.
    "q189_cdc_retention" -> ((s, d) => {
      val (root, v1, v3) = cdcRetentionFixture(s, d)
      TxTable.diff(s, root, v1, v3, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("change"))
    }),

    // Converge-mode integer PageRank on a DAG (k → k DIV 100 — the
    // centesimal digit chain, depth = ⌈digits(max key)/2⌉): rounds run to the EXACT integer-mass
    // fixpoint with frontier propagation — on a DAG nodes stabilize level
    // by level, so the changed set collapses 10× per round and the late
    // rounds exchange only the still-moving tail. The oracle unrolls a
    // FIXED 9 rounds: every round past the fixpoint is the identity, so
    // the unrolled table equals the converged one whenever the fixpoint
    // lands at or before round 9 (depth+2 ≈ 5 at sf0.01, ≈ 6 at sf0.1 —
    // and the ceiling guarantee is the loud throw, never a silent wrong
    // answer). Scale story: rounds grow with log100(max key), not with rows.
    "q198_pagerank_converge" -> ((s, d) => {
      val e = t(s, d, "orders").filter(col("o_orderkey") >= 1)
        .select(col("o_orderkey").as("a"), expr("o_orderkey DIV 100").as("b"))
      Graph.pageRankIntWithRounds(e, "a", "b", iterations = 100, converge = true)._1
    }),

    // Converge-mode LPA on deterministic cliques ((nation, custkey DIV 100)
    // buckets of >= 3 customers; pairs within a bucket): synchronous LPA on
    // any clique of size >= 3 fixpoints at round 3 (round 1: everyone
    // adopts the min — the min node the second-min; round 2: all min;
    // round 3: identity, detected). The oracle unrolls 4 fixed rounds —
    // identity past the fixpoint, same contract as q198. Size >= 3 matters:
    // a 2-clique oscillates under synchronous LPA and converge would throw.
    "q199_lpa_converge" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("n"),
          expr("c_custkey DIV 100").as("bkt"))
      val grp = c.groupBy(col("n"), col("bkt")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3)
      val cc = c.join(grp, Seq("n", "bkt"), "left_semi")
      val pairs = cc.as("x").join(cc.as("y"),
          col("x.n") === col("y.n") && col("x.bkt") === col("y.bkt") &&
            col("x.k") < col("y.k"))
        .select(col("x.k").as("a"), col("y.k").as("b"))
      Graph.labelPropagation(pairs, "a", "b", iterations = 10, converge = true)
        .orderBy(col("label"), col("v"))
    }),

    // Additive schema evolution, snapshot read: v1 commits the narrow
    // orders slice, v2 APPENDS rows carrying a new o_flag column — the
    // evolved read NULL-fills v1's files under the v2 schema (the
    // reference's ragged union-by-name, app.py:325, as a lakehouse commit
    // boundary). Grouping on the evolved column exercises the NULL-fill:
    // the NULL-flag group is exactly the pre-evolution rows.
    "q200_schema_evolution" -> ((s, d) => {
      val (root, _, _) = evoFixture(s, d)
      TxTable.read(s, root)
        .groupBy(col("o_orderstatus"), col("o_flag"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"), col("o_flag"))
    }),

    // CDC across the evolution boundary: diff(v1, v2) NULL-fills the
    // before-images' missing o_flag, so surviving rows (bit-equal after
    // alignment) emit NOTHING — no spurious updates from the evolution
    // itself — and the appended rows classify as inserts carrying the new
    // column. Aggregated by (change, status) with the flag sum proving the
    // inserts' flag values ride the feed.
    "q201_evolution_diff" -> ((s, d) => {
      val (root, v1, v2) = evoFixture(s, d)
      TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
        .groupBy(col("change"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_flag")).as("sum_flag"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("change"), col("o_orderstatus"))
    }),

    // Multimodal near-dup: REAL in-plan WAV synthesis and byte-level PCM
    // decode (the q56 machinery), perceptual dHash over the decoded lane
    // embedding, Hamming-banded LSH pairs (pigeonhole recall 1.0 — the
    // oracle replays the hash formula and filters ALL pairs, which the
    // banded plan must reproduce exactly). Docs come in groups of 4 on one
    // base signal: members r = 0,1,2 differ by a constant sample offset —
    // gradient-sign-invariant, so they dHash (near-)identically — while
    // r = 3 is an unrelated signal. Sample counts are multiples of the 32
    // lanes so a constant offset shifts equal-count lanes equally.
    "q202_audio_neardup" -> ((s, d) => {
      // canonical doc_id < 2000 slice (the q24 convention; the whole table
      // at sf0.01): what scales is the shared Hamming pipeline, measured
      // through ScaleBench's audio families — the slice bounds the in-plan
      // WAV synthesis, which is fixture cost, not operator cost (and is
      // session-memoized: see memoPayloads/wavDocs2k)
      Multimodal.audioNearDupPairs(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 32, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // The q173 boilerplate flood replayed in the MULTIMODAL lane: 300
    // byte-identical clones of doc 0's WAV land a 301-member bucket in
    // every Hamming band, so the unbounded band join would be quadratic in
    // the flood; `maxBucket = 16` switches those buckets to star pairing
    // (every clone against rep 0 — O(flood) rows), while cold buckets keep
    // exact all-pairs semantics. The oracle replays the cap: same band
    // keys, same occ threshold, same min-id representative.
    "q206_audio_flood" -> ((s, d) => {
      // the memoized q202 slice, narrowed to its doc_id < 200 flood base
      val base = wavDocs2k(s, d).filter(col("doc_id") < 200)
      val p0 = base.filter(col("doc_id") === 0).select(col("payload").as("p0"))
      val clones = s.range(300).crossJoin(p0)
        .select((col("id") + 1000000L).as("doc_id"), col("p0").as("payload"))
      Multimodal.audioNearDupPairs(base.unionByName(clones),
          "doc_id", "payload", lanes = 32, maxHamming = 2, maxBucket = 16)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // The maxBucket PREFLIGHT for the audio lane (q193's twin): Hamming
    // band-bucket occupancy over the SAME (band, key) buckets the q202
    // pair join uses — the measurement that decides whether the
    // (deliberately default-off) hot-bucket cap must be set before
    // audioNearDupPairs runs at a new corpus scale.
    // Bounded to the canonical `doc_id < 2000` slice (the q24 convention:
    // the whole table at sf0.01, constant-size at larger SFs) — the
    // preflight's cost story at scale is the text twin's (q193) plus the
    // decode, both already measured; the fixture synthesis is what this
    // slice bounds.
    "q207_audio_occupancy" -> ((s, d) => {
      Multimodal.audioBandOccupancy(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 32, maxHamming = 2)
        .orderBy(col("occ"))
    }),

    // IMAGE perceptual near-dup (q202's construction on the raster lane):
    // in-plan synthesis of complete VALID PNGs (stored-deflate blocks,
    // adler32 via prefix sums, chunk CRC32 via a table-driven aggregate —
    // all in the plan), REAL pixel decode (PngGrayCells: inflate + the
    // five scanline filters), dHash over the 8x8 luminance grid, and the
    // shared Hamming-banded pipeline. Docs in groups of 4: r = 0,1,2 are
    // one base image + uniform brightness offset (dHash-identical), r = 3
    // unrelated; the oracle replays the pixel formula and filters ALL
    // pairs, which the banded plan (pigeonhole recall 1.0) must reproduce.
    // The GIF lane of q208: in-plan synthesis of complete valid GIF89a
    // files — 128-gray global palette, REAL LZW bitstream kept 8-bit-wide
    // (a clear code every 126 pixels holds the decoder's dictionary under
    // the 256-entry width bump, so every code is one byte — the classic
    // "uncompressed GIF" device, which makes the stream expressible as a
    // plain byte concat) — decoded by the full variable-width LZW decoder
    // (GifGrayCells), hashed and banded by the same shared pipeline.
    // Groups of 4 docs: r = 0,1,2 share a base raster + uniform palette-
    // index offset (palette entry i is gray 2i, so +r is a uniform
    // brightness shift — dHash-invariant), r = 3 unrelated. Same doc_id
    // < 1000 pixel-family slice as q208 (whole table at sf0.01).
    "q211_gif_neardup" -> ((s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "gif1k", gifPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // Incremental multimodal dedup against a PERSISTED dHash index: the
    // corpus (r = 0, 1 of every group) decodes and indexes ONCE
    // (session-memoized build, the q183 pattern); the batch (r = 2, 3)
    // probes the bucketed (band, key) table — r = 2 clips are uniform
    // offsets of stored r = 0/1 signals (hamming 0, dropped), r = 3 are
    // unrelated (kept, minus any accidental ≤ 2-bit match the oracle's
    // quadratic replay also sees). Pigeonhole recall 1.0 makes the banded
    // probe ≡ the oracle's NOT EXISTS filter.
    "q213_audio_index_dedup" -> ((s, d) => {
      val all = wavDocs2k(s, d)
      val prefix = s"q213_dh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeDHashIndex(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", lanes = 32, maxHamming = 2, prefix, buckets = 4)
      Multimodal.audioDedupAgainstIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", lanes = 32, maxHamming = 2, prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // q213's lifecycle at CORPUS-DERIVED geometry, closing the round-16
    // verdict's routing gap: the 32-lane default was safe for the pair
    // join (opt-in per call) but DURABLE in a persisted index — an index
    // written at the default on a 10⁶+-clip corpus bakes in the quadratic
    // knee q214's rule exists to prevent. writeDHashIndexDerived counts
    // the corpus once at write time, derives lanes via dHashLanesFor
    // (maxHamming 3 / targetBucket 1 push the derivation above the
    // 32-lane floor at test scale: 250 corpus clips → 33 lanes at sf0.01),
    // and records the geometry in the index's _meta sidecar;
    // audioDedupAgainstStoredIndex probes with the SIDECAR's geometry —
    // no call-site lane constant anywhere. The oracle replays the
    // derivation itself in SQL (the q214 device) over the corpus count,
    // then the quadratic NOT-EXISTS filter — a drift in either the rule
    // or the sidecar round-trip fails the hash loudly.
    "q220_audio_index_derived" -> ((s, d) => {
      val all = wavDocs2k(s, d)
      val prefix = s"q220_dh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeDHashIndexDerived(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", maxHamming = 3, tablePrefix = prefix,
          buckets = 4, targetBucket = 1L)
      Multimodal.audioDedupAgainstStoredIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // MULTI-WORD dHash past the single-long boundary (SCALING.md's design
    // note, implemented): 101 lanes → 100 gradient bits in two 60-bit
    // words, through the same Hamming-banded pipeline — at maxHamming 3
    // the 4 bands are 25 bits wide, and band 2 ([50, 75)) STRADDLES the
    // word boundary, exercising the two-word key stitch in the oracle
    // gate, not just a spec. The oracle replays the hash as two explicit
    // words over the shared generative lane CTEs and runs the quadratic
    // two-popcount filter — banded recall 1.0 must reproduce it exactly.
    // The lane count is pinned (not derived): dHashLanesForWide only
    // leaves the [32, 61] range at corpus sizes no oracle-scale fixture
    // reaches, and what q221 certifies is the wide ENGINE, whose geometry
    // inputs are literals either way.
    "q221_audio_neardup_wide" -> ((s, d) => {
      Multimodal.audioNearDupPairsWide(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 101, maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // VIDEO container metadata: in-plan synthesis of minimal valid
    // ISO-BMFF files (exact box sizes, mvhd v0, tkhd v0 16.16 dims),
    // parsed by the real box walker (Mp4Info — the duration/resolution
    // gate of a video-curation pipeline, reading header boxes only). The
    // oracle replays the generative field formulas.
    "q212_mp4_info" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), Multimodal.mp4Info(mp4PayloadCol).as("m"))
        .select(col("doc_id"),
          col("m.timescale").as("timescale"), col("m.duration").as("duration"),
          col("m.width").as("width"), col("m.height").as("height"),
          (col("m.duration") / col("m.timescale")).cast("long").as("dur_s"))
        .orderBy(col("doc_id"))
    }),

    // Bounded to the `doc_id < 1000` pixel-family slice (still the whole
    // table at sf0.01, so the oracle gate is unchanged — tighter than the
    // q24 convention because per-doc pixel synthesis + decode is the
    // suite's most expensive fixture): what scales is the shared Hamming
    // pipeline — measured through the audio lane and the text LSH
    // families — while the in-plan PNG synthesis is fixture cost.
    "q208_image_neardup" -> ((s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "png1k", pngPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // q202 at CORPUS-DERIVED geometry: lanes from dHashLanesFor(n) — the
    // annPlanesFor-style occupancy-constant rule that widens band keys
    // with the corpus instead of riding the fixed 32-lane default into
    // its ~10^6-clip quadratic knee (SCALING.md). The rule floors at the
    // default 32 (it only ever WIDENS the hash), so (maxHamming 3,
    // targetBucket 1) drives the derivation ABOVE the floor at test
    // scale — 500 docs → 37 lanes (4 bands × 9-bit width), the sf0.1
    // slice → 45 — certifying the arithmetic, not a constant. The
    // count() is the same one-row sizing probe q26/q58 make. The oracle
    // replays the derived value verbatim — a rule drift fails the hash.
    "q214_audio_neardup_derived" -> ((s, d) => {
      val src = wavDocs2k(s, d)
      val lanes = Multimodal.dHashLanesFor(src.count(), maxHamming = 3, targetBucket = 1)
      Multimodal.audioNearDupPairs(src, "doc_id", "payload",
          lanes = lanes, maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // Incremental IMAGE dedup against a persisted dHash index — q213's
    // lifecycle on the raster lane (the round-15 verdict's named gap:
    // image pairs existed but every ingest batch re-decoded the corpus).
    // Corpus r = 0,1 of each group indexes once (session-memoized build);
    // batch r = 2 images are uniform brightness shifts of stored rasters
    // (hamming 0 — dropped), r = 3 unrelated (kept minus accidental ≤ 2-bit
    // matches the oracle's quadratic replay also sees).
    "q215_image_index_dedup" -> ((s, d) => {
      val all = imageDocs1k(s, d, "png1k", pngPayloadCol)
      val prefix = s"q215_idh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeImageDHashIndex(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2,
          tablePrefix = prefix, buckets = 4)
      Multimodal.imageDedupAgainstIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2, tablePrefix = prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // The maxBucket PREFLIGHT for the raster lane (q207's image twin):
    // Hamming band-bucket occupancy over the SAME (band, key) buckets the
    // q208/q215 paths use — the measurement that decides whether the
    // default-off hot-bucket cap must be set before the image pair join
    // or index build runs at a new corpus scale.
    "q219_image_occupancy" -> ((s, d) => {
      Multimodal.imageBandOccupancy(imageDocs1k(s, d, "png1k", pngPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .orderBy(col("occ"))
    }),

    // JPEG perceptual near-dup — the DOMINANT web image format joins the
    // raster lane (q208 PNG / q211 GIF): in-plan synthesis of complete
    // valid baseline JPEGs (DC-only blocks, byte-aligned custom Huffman
    // tables — see jpegPayloadCol), REAL entropy decode + exact DC-only
    // IDCT (JpegGrayCells), the shared grid dHash and Hamming-banded
    // pipeline. Groups of 4: r = 0,1,2 share per-block gradient signs
    // with a uniform +r brightness shift (dHash-identical), r = 3
    // unrelated. Same doc_id < 1000 pixel-family slice.
    "q216_jpeg_neardup" -> ((s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "jpeg1k", jpegPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }),
  )

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
  /** Session-memoized payload fixtures — the q213 index-build memo
    * generalized to the payload TABLES (the round-16 verdict's "keep
    * shrinking fixture-synthesis cost" lever): the in-plan WAV/PNG/GIF/JPEG
    * byte synthesis is fixture cost, not operator cost, and every query
    * (and every bench pass) touching a lane re-paid it. Each family now
    * synthesizes once per session into a managed table — spread ABOVE the
    * synthesis (ids shuffle, payloads don't; 32-way parallel build),
    * `repartition(8)` below it (a scan-friendly file count — the round-17
    * tablecache experiment measured ~40-80 ms of per-task parquet-reader
    * setup, so tiny many-file tables tax every scan) — and every consumer
    * scans stored bytes. What stays inside each query is exactly the
    * operator under test: decode, hash, band, join, index probe. Oracles
    * are unaffected: they replay the same generative formulas the build
    * ran, and the memo content is deterministic in doc_id.
    */
  private def memoPayloads(s: SparkSession, d: String, family: String)
      (build: => DataFrame): DataFrame = {
    val tbl = s"memo_${family}_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
    this.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        Storage.reclaimStaleLocation(s, tbl)
        build.write.format("parquet").saveAsTable(tbl)
      }
    }
    s.table(tbl)
  }

  /** The canonical `doc_id < 2000` WAV slice (q202/q206/q207/q213/q214/
    * q220), memoized.
    */
  private def wavDocs2k(s: SparkSession, d: String): DataFrame =
    memoPayloads(s, d, "wav2k")(
      Tables.spread(t(s, d, "documents").filter(col("doc_id") < 2000).select(col("doc_id")))
        .select(col("doc_id"), wavPayloadCol.as("payload")).repartition(8))

  /** The `doc_id < 1000` pixel-family slices (q208/q211/q215/q216/q219),
    * memoized per container format.
    */
  private def imageDocs1k(s: SparkSession, d: String, family: String,
      payload: Column): DataFrame =
    memoPayloads(s, d, family)(
      Tables.spread(t(s, d, "documents").filter(col("doc_id") < 1000).select(col("doc_id")))
        .select(col("doc_id"), payload.as("payload")).repartition(8))

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

  /** The q180/q182/q184 shared fit: standardized (ln length, space-ratio)
    * features over non-empty documents, label = lang == 'en', 3 GD steps —
    * stats and weights rounded 1e-6 (the [[graft.ops.Clustering.logisticFit]]
    * replay contract). The DRIVER-SIDE artifact (4 stats + 3 weights) is
    * memoized per (session, dataset dir) — the q183 session-cache
    * precedent — so a suite run pays the four training collects once, not
    * once per consuming query; the fit is deterministic, so the memo
    * cannot change any result.
    */
  /** The q186/q187 shared TxTable: two committed snapshots of a narrowed
    * orders table with deterministic inserts/deletes/updates between them.
    * Built ONCE per (session, dataset dir) — on first use any stale root
    * from a previous session is deleted, then exactly two `replace`
    * commits land, and the (root, v1, v2) triple is memoized. Re-running
    * the builder per query invocation would append versions 3, 4, … and
    * let keep-one-snapshot GC reap v1's data out from under [[TxTable.diff]];
    * the memo pins the version pair instead (the q183 session-cache
    * precedent). Prices are carried as DOUBLE: ×2 is exact in binary
    * floating point, so the update image replays bit-identically in the
    * DuckDB oracle.
    */
  /** The three deterministic orders snapshots behind q186–q188: v1 =
    * keys%7≠0; v2 = keys%7≠3 with keys%5==0 repriced ×2 (inserts, deletes
    * AND updates vs v1); inc = the keys%7==3 rows, the appended third
    * increment. Prices as DOUBLE (×2 is fp-exact, so the DuckDB oracle
    * replays images bit-identically).
    */
  private def cdcRows(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
    val v1rows = base.filter(col("o_orderkey") % 7 =!= 0)
    val v2rows = base.filter(col("o_orderkey") % 7 =!= 3)
      .withColumn("o_totalprice", when(col("o_orderkey") % 5 === 0,
        col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    (v1rows, v2rows, base.filter(col("o_orderkey") % 7 === 3))
  }

  private def cdcRoot(s: SparkSession, d: String, tag: String,
      build: String => Seq[Long]): (String, Seq[Long]) = {
    val root = s"/root/repo/target/tmp/$tag" + d.replaceAll("[^0-9a-zA-Z]", "_")
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(rp)) fs.delete(rp, true)
    (root, build(root))
  }

  private val cdcFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]
  private def cdcFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcFixtureCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (v1rows, v2rows, _) = cdcRows(s, d)
      val (root, vs) = cdcRoot(s, d, "cdc_", { r =>
        TxTable.replace(s, r, v1rows)
        TxTable.replace(s, r, v2rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q200/q201's evolution log: v1 = replace of the narrow orders slice
    * (keys%7≠0, no flag column); v2 = APPEND of the keys%7==0 rows carrying
    * the new `o_flag` column (key%3, deterministic) — the additive schema
    * boundary. Memoized per (session, dir) with stale-root delete, exactly
    * the cdcFixture pattern.
    */
  private val evoFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]
  private def evoFixture(s: SparkSession, d: String): (String, Long, Long) =
    evoFixtureCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
      val v1rows = base.filter(col("o_orderkey") % 7 =!= 0)
      val v2rows = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_flag", (col("o_orderkey") % 3).cast("int"))
      val (root, vs) = cdcRoot(s, d, "evo_", { r =>
        TxTable.replace(s, r, v1rows)
        TxTable.append(s, r, v2rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q188's second log: the v2 state re-based as its own root's first
    * version, then the increment APPENDED — a separate root because
    * keep-one-snapshot GC on the first root would reap v1's data the
    * moment a third commit landed there, breaking q186's pinned pair.
    * Covers diff across an append commit (the after-side snapshot spans
    * two data dirs).
    */
  private val cdcChainCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]
  private def cdcChainFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcChainCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (_, v2rows, incRows) = cdcRows(s, d)
      val (root, vs) = cdcRoot(s, d, "cdcchain_", { r =>
        TxTable.replace(s, r, v2rows)
        TxTable.append(s, r, incRows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q167b's silver transform — row-local, so its increment is exactly the
    * bronze increment transformed.
    */
  private def silverizeOrders(df: DataFrame): DataFrame =
    df.withColumn("o_orderstatus", upper(trim(col("o_orderstatus"))))

  /** q167b's base publish: bronze/silver/gold of the keys%13≠0 orders slice
    * in ONE atomic commit, retention widened to 3 so the increment loop can
    * still read the pre-increment gold after its own two commits supersede
    * it. Memoized per (session, dir) with stale-root delete (the cdcFixture
    * precedent). Returns (root, baseVersion).
    */
  private val medallionIncCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long)]
  private def medallionIncFixture(s: SparkSession, d: String): (String, Long) =
    medallionIncCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
        .filter(col("o_orderkey") % 13 =!= 0)
      val (root, vs) = cdcRoot(s, d, "medinc_", { r =>
        TxTable.setRetention(s, r, 3)
        TxTable.commit(s, r, Seq(
          ("bronze", "replace", base),
          ("silver", "replace", silverizeOrders(base)),
          ("gold",   "replace", Summaries.sumCountAgg(silverizeOrders(base),
            Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders"))))
        TxTable.versions(s, r)
      })
      (root, vs.last)
    })

  /** q189's retention-3 log: three replace snapshots under
    * [[graft.ops.TxTable.setRetention]](3), so the v1 → v3 diff — spanning
    * two intermediate replaces — stays readable where the default keep-2
    * window would have reaped v1's data at the third commit. v3 = keys%7≠5
    * with keys%3==0 repriced ×0.5 (exact in binary fp, like q186's ×2).
    */
  private val cdcRetentionCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]
  private def cdcRetentionFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcRetentionCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (v1rows, v2rows, _) = cdcRows(s, d)
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
      val v3rows = base.filter(col("o_orderkey") % 7 =!= 5)
        .withColumn("o_totalprice", when(col("o_orderkey") % 3 === 0,
          col("o_totalprice") * 0.5).otherwise(col("o_totalprice")))
      val (root, vs) = cdcRoot(s, d, "cdcret_", { r =>
        TxTable.setRetention(s, r, 3)
        TxTable.replace(s, r, v1rows)
        TxTable.replace(s, r, v2rows)
        TxTable.replace(s, r, v3rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 3), vs.last)
    })

  private val qualityModelCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Seq[Double], Seq[Double])]
  private def qualityModel(s: SparkSession, d: String)
      : (DataFrame, Seq[Column], Column, Seq[Double]) = {
    def r6d(v: Double) = math.floor(v * 1000000 + 0.5) / 1000000
    val docs = t(s, d, "documents").filter(length(col("text")) > 0)
    val len  = length(col("text")).cast("double")
    val x1   = log(lit(1.0) + len)
    val x2   = (len - length(translate(col("text"), " ", "")).cast("double")) / len
    val y    = (col("lang") === "en").cast("double")
    def featsOf(ms: Seq[Double]) =
      Seq((x1 - lit(ms(0))) / lit(ms(1)), (x2 - lit(ms(2))) / lit(ms(3)))
    val (ms, wts) = qualityModelCache.computeIfAbsent(
      (System.identityHashCode(s), d), _ => {
        val st = docs.agg(
          avg(x1).as("m1"), stddev_pop(x1).as("s1"),
          avg(x2).as("m2"), stddev_pop(x2).as("s2")).collect().head
        val stats = (0 to 3).map(i => r6d(st.getDouble(i)))
        (stats, Clustering.logisticFit(docs, featsOf(stats), y, iters = 3, lr = 1.0))
      })
    (docs, featsOf(ms), y, wts)
  }

  /** SQL-closure / windows / JSON / composition surface: SURVEY §2.3
    * F10/F11/F13/F16/F18, §2.4 U2, §2.7 A3/A7/A8, §2.8 O3, §2.9 W2/W3,
    * §2.11 ST1–ST3 batch forms, J5-aggregated, J6, S5, and the §3.1
    * pipeline replica.
    */
  private def closureQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J5 at scale — aggregate-first theta join: join the tiny per-(brand,
    // size) histograms instead of the raw rows, then sum cnt_a*cnt_b.
    // Same result as q12 with O(|brands|·|sizes|²) work instead of O(n²).
    "q29_theta_agg" -> ((s, d) => {
      val h = t(s, d, "part").groupBy(col("p_brand"), col("p_size")).agg(count(lit(1)).as("cnt"))
      val a = h.select(col("p_brand"), col("p_size").as("size_a"), col("cnt").as("cnt_a"))
      val b = h.select(col("p_brand").as("brand_b"), col("p_size").as("size_b"), col("cnt").as("cnt_b"))
      a.join(b, col("p_brand") === col("brand_b") && col("size_a") < col("size_b"))
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_a") * col("cnt_b")).as("n_pairs"))
        .orderBy(col("p_brand"))
    }),

    // F16 — JSON field extraction from events.props
    "q30_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value"))
        .orderBy(col("k"))
    }),

    // F18 — map ops after from_json → MapType
    "q31_map_ops" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, MapType, StringType}
      val m = from_json(col("props"), MapType(StringType, LongType))
      t(s, d, "events")
        .select(col("event_id"), size(map_keys(m)).as("n_keys"),
          element_at(m, "k").as("k_val"))
        .orderBy(col("event_id"))
    }),

    // A8 — rollup with grouping_id to disambiguate total rows
    "q32_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // A7 — exact distinct count
    "q33_distinct_count" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // A7 approx — HLL++. The estimate itself has no DuckDB twin (different
    // sketch, different bias tables), so the oracle instead replays the
    // EXACT count and `true`: the Spark side emits exact alongside a
    // boolean asserting the HLL++ estimate landed within 2× its configured
    // rsd (0.05 → 10%). HLL is deterministic for a fixed dataset, so the
    // boolean is stable and the hash comparison machine-checks the
    // approx-accuracy contract instead of downgrading to rows-only
    // (round-9 verdict item 6). SummariesSpec keeps the tighter 1-rsd gate.
    // CAVEAT: 2-rsd is a ~2σ probabilistic bound hashed as a hard contract.
    // It holds for every committed dataset, but pointing the suite at NEW
    // data can legitimately put a group outside 10% — a q34 hash mismatch
    // on fresh data may mean the HLL bound fired, not broken code; check
    // the flag column before debugging the pipeline.
    "q34_approx_distinct" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.10).as("hll_within_10pct"))
        .orderBy(col("event_type"))
    }),

    // W2 — lag/lead analytics per user ((user_id, ts) is unique in the data)
    "q35_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // W3 — frame-spec running total (exact decimal accumulation → order-free)
    "q36_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast("decimal(27,2)")).over(w).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }),

    // W1 completion — the rank family beyond row_number: ntile buckets,
    // percent_rank, cume_dist, dense_rank (all ANSI, engine-portable)
    "q105_rank_family" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("drank"),
          Summaries.r4(percent_rank().over(w)).as("pr"),
          Summaries.r4(cume_dist().over(w)).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // U2 — intersect: customers ordering in both 1995 and 1996
    "q37_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // U2 — except: 1995 customers who did not order in 1996
    "q38_except" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .except(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ST1 batch form — tumbling 1-day window counts
    "q39_window_tumbling" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ST2 batch form — sliding 2-day window, 1-day slide (each event in 2)
    "q40_window_sliding" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 days", "1 day"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))
        .orderBy(col("window_start"))
    }),

    // ST3 batch form — session windows (4 h gap) per user
    "q41_session_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "4 hours"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("user_id"), col("cnt"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ST4 batch twin — the watermark late-drop PREDICATE with DuckDB rows
    // (round-9 verdict item 7; StreamingSpec proves the real runtime's
    // kept set equals this predicate's, micro-batch ≡ bucket).
    // Micro-batch ≙ the event_id/1000 arrival bucket; the watermark a batch
    // runs under is max(event time) over all PRIOR batches minus the delay
    // — exactly Spark's batch-boundary watermark update. Source events
    // arrive in event-time order (nothing would drop), so every 50th event
    // is deterministically shifted 3 days late. Scale shape: the prefix-max
    // is a TWO-LEVEL distributed scan (the q170 lesson — no global window
    // over anything that grows with the data): per-bucket max (parallel
    // agg), then within 1024-bucket super-bucket groups a PARTITIONED
    // running max, and only the super-bucket maxima (n/10^6 rows) pass
    // through a global window; prior-overall max = greatest(prior within
    // group, prior groups' max), broadcast back. The per-row side never
    // sees a window at all.
    "q195_watermark_drop" -> ((s, d) => {
      val e = t(s, d, "events")
        .withColumn("ts2",
          when(col("event_id") % 50 === 0, col("ts") - expr("INTERVAL 3 DAYS"))
            .otherwise(col("ts")))
        .withColumn("bucket", floor(col("event_id") / 1000L))
      val perBucket = e.groupBy(col("bucket")).agg(max(col("ts2")).as("bmax"))
        .withColumn("sb", floor(col("bucket") / 1024L))
      val wInGroup = Window.partitionBy(col("sb")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wGroups = Window.orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val groupPrior = perBucket.groupBy(col("sb")).agg(max(col("bmax")).as("sbmax"))
        .withColumn("sb_prior", max(col("sbmax")).over(wGroups))
        .select(col("sb"), col("sb_prior"))
      // greatest() skips NULLs: null only when BOTH are null — the very
      // first bucket overall, which is exactly the no-watermark case
      val wm = perBucket.join(broadcast(groupPrior), "sb")
        .withColumn("wm",
          greatest(max(col("bmax")).over(wInGroup), col("sb_prior")))
        .select(col("bucket"), col("wm"))
      e.join(broadcast(wm), "bucket")
        .withColumn("kept",
          col("wm").isNull || col("ts2") >= col("wm") - expr("INTERVAL 1 DAY"))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("kept"), 1)).as("n_kept"),
          count(when(!col("kept"), 1)).as("n_dropped"))
        .orderBy(col("event_type"))
    }),

    // ST5 batch twin — streaming exact-key dedup with DuckDB rows: an
    // at-least-once source redelivers every 7th event; dropDuplicates on
    // (event_id, ts) — the same key `Streaming.dedupEvents` uses — restores
    // exactly-once. Redelivered rows are byte-identical, so the surviving
    // set is deterministic; the aggregate proves no duplicate survived.
    "q196_stream_dedup" -> ((s, d) => {
      val e = t(s, d, "events")
      e.unionByName(e.filter(col("event_id") % 7 === 0))
        .dropDuplicates("event_id", "ts")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          exactSum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ST6's event-time-timeout CLOSE semantics as a batch twin (the q195
    // watermark-model precedent): per-user 30-min gap sessions over the
    // real events, where a session is emitted iff the streaming runtime
    // would have emitted it in Append mode — closed by GAP when a later
    // session for the same user exists, or closed by TIMEOUT when the
    // end-of-stream watermark (global max ts − 1 h lateness bound) has
    // passed session_end + gap, which is exactly when
    // GroupStateTimeout.EventTimeTimeout fires for a quiet key. The
    // user's still-live trailing session (wm not yet past end + gap)
    // appears in NEITHER. StreamingSpec proves the model against the real
    // flatMapGroupsWithState runtime on the same corpus; the oracle
    // replays the predicate in SQL. Scale shape: per-user windows
    // (high-cardinality key) + one broadcast scalar — no global window.
    "q197_timeout_sessions" -> ((s, d) => {
      val gapMs = 1800L * 1000
      val e = t(s, d, "events").select(col("user_id"), col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val sess = e
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__new", (col("__prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("__prev")) > gapMs).cast("long"))
        .withColumn("__sid", sum(col("__new")).over(w))
        .groupBy(col("user_id"), col("__sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
      val wm = e.agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("__wm"))
      sess
        .withColumn("__last", max(col("__sid")).over(Window.partitionBy(col("user_id"))))
        .crossJoin(broadcast(wm))
        .withColumn("closed_by",
          when(col("__sid") < col("__last"), lit("gap"))
            .when(unix_millis(col("__wm")) > unix_millis(col("session_end")) + gapMs,
              lit("timeout")))
        .filter(col("closed_by").isNotNull)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("closed_by"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // A6/F14 — daily time series
    "q42_timeseries" -> ((s, d) => {
      Summaries.timeSeries(t(s, d, "events"), "ts", "day",
        Seq(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value")))
    }),

    // A5/F15 — fixed-width histogram of extended price
    "q43_histogram" -> ((s, d) => Summaries.histogram(t(s, d, "lineitem"), "l_extendedprice", 500.0)),

    // O4 — top-3 most recent events per user
    "q44_topk_group" -> ((s, d) => {
      Dedup.topKPerGroup(t(s, d, "events"), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").asc), 3)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // J6 — as-of join: latest click at-or-before each purchase, per user
    "q45_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
      Relational.asOfJoin(
          left = e.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts", "value"),
          right = e.filter(col("event_type") === "click").select("event_id", "user_id", "ts", "value"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id", "value"), tieBreak = Seq("event_id"))
        .orderBy(col("event_id"))
    }),

    // §3.1 pipeline replica on real tables: split → unionByName → dedup
    // keep-latest → keyword failure filter → group count
    "q46_pipeline" -> ((s, d) => {
      val e = t(s, d, "events")
      val a = e.filter(col("event_id") % 2 === 0).select("event_id", "ts", "user_id", "event_type", "value")
      val b = e.filter(col("event_id") % 2 === 1).select("event_id", "ts", "user_id", "event_type", "props")
      val u = Ingest.unionAllByName(Seq(a, b))
      val deduped = Dedup.keepLatest(u, keys = Seq("user_id", "event_type"),
        recency = Seq("ts"), tieBreak = Seq(col("event_id")))
      Summaries.groupCount(
        deduped.filter(Clean.keywordAny(Seq(col("event_type"), col("props")), Clean.FailurePattern)),
        "event_type")
    }),

    // F10/F11 — timestamp and thousands-separator number formatting
    "q47_format" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_str"),
          format_number(col("o_orderkey") * 1000, 0).as("pretty_key"))
        .orderBy(col("o_orderkey"))
    }),

    // F13/A3 — length stats per lang (+ cross-check against n_chars)
    "q48_length_stats" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          max(length(col("text"))).as("max_len"),
          min(length(col("text"))).as("min_len"),
          Summaries.r4(sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_len"),
          count(when(length(col("text")) =!= col("n_chars"), 1)).as("n_mismatch"))
        .orderBy(col("lang"))
    }),

    // P6 — null filter over union-induced missing columns
    "q49_null_filter" -> ((s, d) => {
      val li  = t(s, d, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      val a = li.filter(col("l_shipdate") < cut).select("l_orderkey", "l_linenumber", "l_quantity")
      val b = li.filter(col("l_shipdate") >= cut).select("l_orderkey", "l_linenumber", "l_extendedprice")
      Ingest.unionAllByName(Seq(a, b))
        .filter(col("l_quantity").isNull)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_linenumber"))
    }),

    // O3 — deterministic top-N via sort + limit
    "q50_limit" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // S5 — CSV sink + source round-trip (schema-explicit read back)
    "q51_csv_roundtrip" -> ((s, d) => {
      val src  = t(s, d, "part")
      val path = s"/root/repo/target/tmp/csv_part_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      src.write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").schema(src.schema).csv(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("p_retailprice")).as("sum_price"))
        .orderBy(col("p_brand"))
    }),

    // S — JSON-lines sink + source round-trip (schema-explicit read back;
    // Spark writes shortest-round-trip doubles, so values survive exactly)
    "q72_json_roundtrip" -> ((s, d) => {
      val src = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val path = s"/root/repo/target/tmp/json_orders_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // S — ORC sink + source round-trip (columnar alternative to parquet)
    "q73_orc_roundtrip" -> ((s, d) => {
      val src  = t(s, d, "supplier")
      val path = s"/root/repo/target/tmp/orc_supplier_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      src.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("s_acctbal")).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    }),

    // SQL surface over the registered table catalog
    "q52_sql_surface" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT n_name, count(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name ORDER BY n_name""")
    }),

    // Capstone: raw corpus → training shards in ONE lazy plan — curation
    // (gate/dedup/cap/split) → token-budget mixing → sequence packing →
    // per-(split, bucket) shard manifest
    "q95_training_shards" -> ((s, d) => {
      val curated = Curation.curationPipeline(t(s, d, "documents"),
        "doc_id", "text", "source", minTokens = 20, maxTokens = 80, cap = 12,
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val withTok = curated.withColumn("n_tokens",
        size(Text.tokens(col("text"))).cast("long"))
      val mixed = Sampling.tokenBudgetMix(withTok, Seq("doc_id"), "source",
        col("n_tokens"), budget = 8000.0,
        Map("src0" -> 0.5, "src1" -> 0.25), default = 0.0125)
      val packed = Sampling.packSequences(mixed, "doc_id", col("n_tokens"), 512L, 4)
      packed
        .groupBy(col("split"), col("bucket").cast("long").as("bucket"))
        .agg(countDistinct(col("seq")).as("n_seqs"), count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("split"), col("bucket"))
    }),

    // TPC-H Q3-shaped composite (shipping priority): segment-filtered
    // 3-table join, revenue agg, top-10 — the classic relational stress
    // pattern, exactSum so the ranking is partition-order-free
    "q91_shipping_priority" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // The full fuzzy-dedup path in PURE SQL via the injected function
    // battery (graft_shingles/graft_minhash/graft_jaccard) — same semantics
    // as q17's operator form, same oracle
    "q90_sql_neardup" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """WITH sh AS (SELECT doc_id, graft_shingles(text, 3) AS ss FROM documents),
           sig AS (
             SELECT doc_id, band, hv
             FROM sh LATERAL VIEW posexplode(graft_minhash(ss, 16)) t AS band, hv),
           cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sig a JOIN sig b
               ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
           scored AS (
             SELECT doc_a, doc_b, graft_jaccard(x.ss, y.ss) AS j
             FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id)
           SELECT doc_a, doc_b, floor(j * 10000 + 0.5)/10000 AS jacc
           FROM scored WHERE j >= 0.5
           ORDER BY doc_a, doc_b""")
    }),

    // Multimodal plumbing — opaque binary payload + typed metadata: byte
    // length, sha-256 fingerprint, head-bytes probe, every-64th-byte sample
    "q53_multimodal" -> ((s, d) => {
      val payload = col("text").cast("binary")
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(payload).as("byte_len"),
          sha2(payload, 256).as("sha"),
          conv(hex(substring(payload, 1, 7)), 16, 10).cast("long").as("head7"),
          expr("concat_ws('', transform(sequence(1, length(text), 64), i -> substr(text, i, 1)))").as("sample"))
        .orderBy(col("doc_id"))
    }),

    // Overlapping token-window chunking (RAG/long-doc prep): 30-token
    // windows advancing by 15
    "q98_token_windows" -> ((s, d) => {
      Curation.slidingTokenWindows(t(s, d, "documents"), "doc_id", "text", 30, 15)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // REAL image-header parsing: docs wrapped in a constructed PNG header
    // (width = doc_id % 500 + 1, height = 256); ImageDims must recover the
    // dimensions the construction encoded
    "q92_image_dims" -> ((s, d) => {
      val w = (col("doc_id") % 500 + 1).cast("int")
      val payload = concat(
        unhex(lit("89504E470D0A1A0A0000000D49484452")), // PNG sig + IHDR len/type
        unhex(lpad(hex(w), 8, "0")),                    // width  BE32
        unhex(lit("00000100")),                         // height BE32 = 256
        col("text").cast("binary"))
      t(s, d, "documents").select(col("doc_id"),
          Multimodal.inferFormat(payload).as("format"),
          Multimodal.imageDims(payload).getField("width").as("width"),
          Multimodal.imageDims(payload).getField("height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // F16 via Spark 4's native VariantType: parse once to variant, typed
    // path extraction — the open-schema semi-structured path (vs q30's
    // fixed-schema from_json)
    "q96_variant_extract" -> ((s, d) => {
      t(s, d, "events")
        .select(variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod"))
    }),

    // REAL WAV-header parsing: RIFF/fmt chunks constructed in-plan with
    // little-endian byte plumbing; WavInfo must recover the encoded
    // (sample_rate, channels, bits)
    "q97_wav_info" -> ((s, d) => {
      val rate = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
      val ch   = (col("doc_id") % 2 + 1).cast("int")
      val payload = concat(
        lit("RIFF").cast("binary"), unhex(lit("64000000")), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(1), 2), le(ch, 2), le(rate, 4),
        le(rate * 4, 4), le(lit(4), 2), le(lit(16), 2))
      val w = Multimodal.wavInfo(payload)
      t(s, d, "documents").select(col("doc_id"),
          w.getField("sample_rate").as("sample_rate"),
          w.getField("channels").as("channels"),
          w.getField("bits_per_sample").as("bits"))
        .orderBy(col("doc_id"))
    }),

    // Incremental exact dedup — drop batch rows whose content already exists
    // in the corpus (the daily-increment path of a growing training set)
    "q75_incremental_dedup" -> ((s, d) => {
      val e      = t(s, d, "events")
      val corpus = e.filter(col("event_id") % 10 < 8)
      val batch  = e.filter(col("event_id") % 10 >= 8)
      Dedup.dedupAgainstCorpus(batch, corpus, "props")
        .select(col("event_id"), col("props"))
        .orderBy(col("event_id"))
    }),

    // Keyed upsert (MERGE fast path): a priced-up increment replaces its
    // keys; untouched rows pass through; the current table never shuffles
    "q102_upsert" -> ((s, d) => {
      val orders  = t(s, d, "orders")
      val updates = orders.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Dedup.upsert(orders, updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          Summaries.r4(col("o_totalprice")).as("price4"))
        .orderBy(col("o_orderkey"))
    }),

    // Incremental FUZZY dedup — drop batch docs with a MinHash near-dup
    // already in the corpus (the paraphrase-resistant increment path; q75
    // is the exact-digest counterpart)
    "q100_fuzzy_incremental" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      Text.minhashDedupAgainstCorpus(batch, corpus, "doc_id", "text", 3, 16, 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // q100's 100 TB form: the corpus's LSH index persisted as bucketed
    // tables (signatures by (band,hv), shingle sets by id), so the
    // increment joins against the STORED index — no corpus re-scan,
    // re-hash, or corpus-side exchange (PlanSpec pins the plan; TextSpec
    // pins equivalence with the recompute form; same oracle as q100)
    "q176_index_dedup" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // one-time corpus index build per source dir (the dir tag in the
      // table name IS the freshness check — a fresh session's empty
      // catalog rebuilds, a repeat invocation in the same session reuses),
      // so repeated runs measure the INCREMENT cost, which is the point
      val prefix = s"q176_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig"))
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // The index lifecycle's missing half: corpus docs are DELETED from the
    // persisted q176-shaped index (doc_id % 3 == 0 tombstoned — one
    // O(deleted ids) append, no index rewrite) and the increment dedup
    // must equal a recompute against the SHRUNKEN corpus — a batch doc
    // whose only near-dup was deleted now survives
    "q190_index_delete" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val prefix = s"q190_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig")) {
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
        Text.deleteFromMinhashIndex(s,
          corpus.filter(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id", prefix)
      }
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // q190 after COMPACTION: the tombstones folded into a physical rewrite
    // of both bucketed tables (shingles minus deleted ids; signatures
    // re-derived from the retained shingle rows — no corpus re-scan) and
    // the tombstone table reset. Same oracle as q190 — the delete-vector
    // fast path and the compacted slow path must agree exactly
    "q191_index_compact" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val prefix = s"q191_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig")) {
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
        Text.deleteFromMinhashIndex(s,
          corpus.filter(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id", prefix)
        Text.compactMinhashIndex(s, prefix, 16, buckets = 8)
      }
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Per-domain quota: at most k docs per source, content-addressed pick
    "q76_domain_cap" -> ((s, d) => {
      Curation.domainCap(t(s, d, "documents"), "source", "doc_id", "text", 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Boilerplate-line removal (CCNet-style) over fixed-width token chunks
    "q77_boilerplate" -> ((s, d) => {
      val docs  = Tables.spread(t(s, d, "documents"))
      val lines = Curation.tokenChunks(docs, "doc_id", "source", "text", 5)
      Curation.stripBoilerplate(docs, lines, "doc_id", "source", maxFrac = 0.5)
        .select(col("doc_id"), col("source"), col("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Dense global ids without a single-partition window
    "q78_global_ids" -> ((s, d) => {
      Ingest.withGlobalId(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"), "gid")
        .orderBy(col("doc_id"))
    }),

    // Character-entropy information-density score
    "q79_entropy" -> ((s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          Summaries.r4(Curation.charEntropy(col("text"))).as("char_entropy"))
        .orderBy(col("doc_id"))
    }),

    // Stratified deterministic sampling: per-language fractions
    "q81_stratified_sample" -> ((s, d) => {
      Sampling.stratifiedSample(t(s, d, "documents"), "lang",
          Seq("doc_id"), Map("en" -> 0.5, "zh" -> 0.2), default = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Z-score outlier trim: docs whose length is >2 sd from their source mean
    "q82_outliers" -> ((s, d) => {
      Curation.zScoreOutliers(t(s, d, "documents"), "source", "n_chars", 2.0)
        .select(col("doc_id"), col("source"), Summaries.r4(col("z")).as("z"))
        .orderBy(col("doc_id"))
    }),

    // S — malformed-record quarantine: JSON-lines ingest routed into
    // (parsed, rejected-raw) off ONE text scan (Ingest.readJsonQuarantine).
    // Three corrupt lines are injected next to the good part-files; the
    // good side must aggregate exactly like the source table and the bad
    // side must count exactly the injected lines.
    "q83_json_quarantine" -> ((s, d) => {
      val src  = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = s"/root/repo/target/tmp/jsonq_orders_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      src.write.mode("overwrite").json(path)
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "corrupt.txt"),
        java.util.Arrays.asList(
          """{"o_orderkey": 1, "o_orderstatus": BROKEN""",
          "not json at all",
          """{"truncated"""))
      val (good, bad) = Ingest.readJsonQuarantine(s, path, src.schema)
      val g = good.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("o_totalprice")).as("sum_price"))
      val b = bad.agg(count(lit(1)).as("cnt"))
        .select(lit("__quarantined").as("o_orderstatus"), col("cnt"),
          lit(null).cast("double").as("sum_price"))
      g.unionByName(b).orderBy(col("o_orderstatus"))
    }),

    // Bucketed co-located join: shuffle paid once at write time, join is
    // exchange-free (plan pinned in StorageSpec)
    "q80_bucketed_join" -> ((s, d) => {
      Storage.writeBucketed(t(s, d, "customer"), "q80_cust_b", Seq("c_custkey"), 4)
      Storage.writeBucketed(
        t(s, d, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        "q80_ord_b", Seq("c_custkey"), 4)
      Storage.coLocatedJoin(s, "q80_cust_b", "q80_ord_b", Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // End-to-end corpus curation: quality gate → exact dedup → domain cap →
    // deterministic split, composed as ONE lazy plan
    "q87_curation_pipeline" -> ((s, d) => {
      Curation.curationPipeline(t(s, d, "documents"), "doc_id", "text", "source",
          minTokens = 20, maxTokens = 80, cap = 12,
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget corpus mixing: per-source keep-fractions computed in-plan
    // from token totals; membership content-addressed
    "q88_token_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))))
      Sampling.tokenBudgetMix(docs, Seq("doc_id"), "source",
          col("n_tokens"), budget = 8000.0,
          Map("src0" -> 0.5, "src1" -> 0.25), default = 0.0125)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Sequence packing: concat-and-chop into 512-token training sequences,
    // bucketed so the running-offset windows parallelize
    "q89_pack_sequences" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      Sampling.packSequences(docs, "doc_id", col("n_tokens"), maxTokens = 512L, buckets = 4)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("offset"), col("seq"))
        .orderBy(col("doc_id"))
    }),

    // Skew-safe salted equi-join: one hot key spreads over 4 reducers; the
    // result is identical to the plain join (that identity IS the oracle)
    "q84_salted_join" -> ((s, d) => {
      Relational.saltedJoin(
          t(s, d, "lineitem"), t(s, d, "orders"), "l_orderkey", "o_orderkey", salts = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // One-pass column profiler: rows / non-null / exact distinct / min / max
    // per column off a single scan (multi-distinct via Expand, not one scan
    // per column)
    "q85_profile" -> ((s, d) => {
      Summaries.profile(t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .orderBy(col("col_name"))
    }),

    // Unicode canonicalization: accent folding + NFC recomposition. The
    // prefix carries precomposed AND decomposed accents so both paths are
    // exercised on every row (corpus text itself is ASCII-only).
    "q86_normalize" -> ((s, d) => {
      val decorated = concat(
        lit("Caf\u00e9 Z\u00fcrich ni\u00f1o Cafe\u0301 "), substring(col("text"), 1, 24))
      t(s, d, "documents").select(col("doc_id"),
          Clean.stripAccents(decorated).as("folded"),
          Clean.unicodeNormalize(decorated, "NFC").as("nfc"))
        .orderBy(col("doc_id"))
    }),

    // D3 — SimHash-banded near-dup (third LSH family; Hamming verify)
    "q55_simhash_neardup" -> ((s, d) => {
      Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // D3 survivor resolution — connected components keep-one over the
    // simhash near-dup pair graph (q55's candidates): every cluster keeps
    // exactly its minimum doc_id (reference keep-first semantics, app.py:240).
    // NOTE: unlike every other entry, building this DataFrame RUNS the
    // iterative label propagation (documented on Dedup.connectedComponents) —
    // the one queries-map entry that is an algorithm, not a lazy plan.
    "q68_neardup_survivors" -> ((s, d) => {
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.nearDupSurvivors(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    }),

    // SQL-closure: hierarchy rollup through Spark's OWN `WITH RECURSIVE`
    // (SQL:2023 recursive CTE — Catalyst UnionLoop, new in Spark 4.x), the
    // org-chart/BOM pattern that windows cannot express. The hierarchy is
    // the radix trie over custkeys (parent = key DIV 10 — deterministic,
    // acyclic, depth ≤ ⌈log₁₀ n⌉): each customer walks its ancestor chain,
    // and every ancestor prefix aggregates its subtree's size and exact
    // balance. UNION ALL terminates because the chain strictly shrinks —
    // Spark's recursion does not yet accept deduplicating UNION
    // ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), so fixpoint walks over
    // CYCLIC graphs stay on the operator surface
    // ([[graft.ops.Dedup.connectedComponents]], q68) while the acyclic
    // recursion family is certified here. Output rows ∝ n·depth — linear,
    // and the per-round join is the same Pregel shape Catalyst already
    // plans for the iterative operators.
    "q194_sql_recursive" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS ck, c_custkey AS anc, 0 AS depth FROM customer
          UNION ALL
          SELECT ck, anc DIV 10, depth + 1 FROM chain WHERE anc > 0)
        SELECT c.anc, count(*) AS n_desc, max(c.depth) AS max_depth,
               CAST(sum(CAST(cu.c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS subtree_bal
        FROM chain c JOIN customer cu ON c.ck = cu.c_custkey
        GROUP BY c.anc ORDER BY c.anc""")
    }),

    // Multimodal decode path — REAL 16-bit PCM decode via mapPartitions
    // over a WAV constructed in-plan (q97's byte-plumbing trick, now with a
    // data chunk): sample i of doc is ((doc_id·7919 + i·104729) % 65536)
    // − 32768, n = doc_id % 64 + 64 samples. The decoder walks RIFF chunks
    // and recovers exact integer features (sums/energy/peak/zero-crossings/
    // per-lane sums) that the oracle computes from the same formula — a
    // wrong byte anywhere breaks the hash
    "q56_decode_features" -> ((s, d) => {
      val n    = (col("doc_id") % 64 + 64).cast("int")
      val rate = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
      val sampleHex = array_join(
        transform(sequence(lit(0), n - 1), i => {
          val tc = pmod(pmod(col("doc_id") * 7919 + i * 104729, lit(65536)) - 32768,
            lit(65536)) // two's-complement 16-bit image of the signed sample
          concat(lpad(hex(pmod(tc, lit(256))), 2, "0"), lpad(hex(shiftright(tc, 8)), 2, "0"))
        }), "")
      val payload = concat(
        lit("RIFF").cast("binary"), le(n * 2 + 36, 4), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(1), 2), le(lit(1), 2), le(rate, 4),
        le(rate * 2, 4), le(lit(2), 2), le(lit(16), 2),
        lit("data").cast("binary"), le(n * 2, 4),
        unhex(sampleHex))
      val src = t(s, d, "documents").select(col("doc_id"), payload.as("payload"))
      Multimodal.decodeFeatures(Tables.spread(src), "doc_id", "payload", dim = 16)
        .select(col("doc_id"), col("format"), col("byte_len"),
          col("sample_rate"), col("n_samples"), col("sum_s"), col("sum_sq"),
          col("peak"), col("zero_cross"),
          // CSV, not the raw array: the driver's compare sorts/hashes
          // pandas cells, and ndarray cells are unhashable there
          array_join(col("features").cast("array<string>"), ",").as("features_csv"))
        .orderBy(col("doc_id"))
    }),

    // G.711 µ-law WAV decode (fmt tag 7, 8-bit companded — how telephony
    // corpora actually ship audio): in-plan synthesis of a µ-law
    // container whose data bytes come straight from a byte formula; the
    // engine expands through the CCITT table (Multimodal.UlawTable) to
    // exact 16-bit integers, and the oracle replays the SAME expansion
    // arithmetic in SQL — table drift fails the hash loudly. q56's shape
    // on the companded branch.
    "q217_ulaw_features" -> ((s, d) => {
      val n    = (col("doc_id") % 64 + 64).cast("int")
      val rate = lit(8000).cast("int")
      val sampleHex = array_join(
        transform(sequence(lit(0), n - 1), i =>
          lpad(hex(pmod(col("doc_id") * 131 + i * 104729, lit(256))), 2, "0")), "")
      val payload = concat(
        lit("RIFF").cast("binary"), le(n + 36, 4), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(7), 2), le(lit(1), 2), le(rate, 4),
        le(rate, 4), le(lit(1), 2), le(lit(8), 2),
        lit("data").cast("binary"), le(n, 4),
        unhex(sampleHex))
      val src = Tables.spread(t(s, d, "documents").select(col("doc_id")))
        .select(col("doc_id"), payload.as("payload"))
      Multimodal.decodeFeatures(src, "doc_id", "payload", dim = 16)
        .select(col("doc_id"), col("format"), col("byte_len"),
          col("sample_rate"), col("bits"), col("n_samples"), col("sum_s"),
          col("sum_sq"), col("peak"), col("zero_cross"),
          array_join(col("features").cast("array<string>"), ",").as("features_csv"))
        .orderBy(col("doc_id"))
    }),

    // S9: ORC source/sink round trip — the other columnar format a lake
    // actually holds (Spark's reader/writer are built in; DuckDB has no
    // ORC reader, so the oracle runs on the SAME rows' parquet original —
    // equality certifies the round trip end to end). Write once per
    // session (the q213 memoization pattern), read back, aggregate. The
    // ORC scan carries predicate/column pushdown exactly like parquet —
    // PlanSpec pins PushedFilters on it.
    "q218_orc_roundtrip" -> ((s, d) => {
      val dir = s"target/q218_orc_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      // memoized PER JVM, not per on-disk marker: a _SUCCESS check would
      // survive restarts and serve a stale snapshot if the source dir is
      // regenerated in place (the q213 catalog memo has the same
      // session-scoped property)
      if (orcWritten.add(dir))
        t(s, d, "orders").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter(col("o_orderdate") >= lit("1996-01-01"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // A-pivot — wide category table (conditional aggregation both engines)
    "q59_pivot" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day"))
    }),

    // banded interval join: purchase↔click pairs within 1 h per user —
    // equi-join on (user, time band), never a per-key cross product
    "q66_interval_join" -> ((s, d) => {
      val e = t(s, d, "events")
      Relational.intervalJoin(
          left = e.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts")),
          right = e.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts")),
          keys = Seq("user_id"), leftTs = "p_ts", rightTs = "c_ts",
          toleranceSec = 3600)
        .select(col("user_id"), col("p_id"), col("c_id"))
        .orderBy(col("p_id"), col("c_id"))
    }),

    // A8 — arbitrary GROUPING SETS: the reference's two parallel summaries
    // (app.py:245-261) as ONE pass — sets ((status),(priority))
    "q69_grouping_sets" -> ((s, d) => {
      Summaries.groupingSetsCount(t(s, d, "orders"),
          Seq(Seq("o_orderstatus"), Seq("o_orderpriority")))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // A8 — cube: all grouping-set combinations with grouping_id
    "q62_cube" -> ((s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // exact interpolated percentiles (median + p90)
    "q63_percentiles" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Summaries.r4(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
          Summaries.r4(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Quantile binning: quartile cut points computed in-plan, rows labeled
    // with their bucket — the discretization step of feature prep
    "q94_quantile_bin" -> ((s, d) => {
      Summaries.quantileBin(t(s, d, "lineitem"), "l_quantity", 4)
        .filter(col("bin").isNotNull)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("lo"),
          max(col("l_quantity")).as("hi"))
        .orderBy(col("bin"))
    }),

    // Z-order cells: two quantile-binned dims bit-interleaved into the
    // Morton value that zOrderWrite clusters files by — the cell census a
    // layout job reports (StorageSpec proves the span-bounding on disk)
    "q103_zorder_cells" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val binned = Summaries.quantileBins(li,
        Seq(("l_extendedprice", 16, "bx"), ("l_quantity", 16, "by")))
      binned
        .withColumn("z", Storage.zValue(Seq(col("bx"), col("by")), 4))
        .groupBy(col("z"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("z"))
    }),

    // q103's layout census on the HILBERT curve: equal-population 16×16
    // quantile cells (over events — a different fact table than q103's, so
    // the suite doesn't pay the same census twice), indexed by the
    // jump-free walk (consecutive indices are grid-adjacent where Morton
    // teleports at quadrant boundaries); the oracle replays the
    // quadrant-rotation arithmetic as four unrolled CTE steps
    "q205_hilbert_cells" -> ((s, d) => {
      val ev = t(s, d, "events")
      val binned = Summaries.quantileBins(ev,
        Seq(("value", 16, "bx"), ("user_id", 16, "by")))
      binned
        .withColumn("h", Storage.hilbertValue(col("bx"), col("by"), 4))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("h"))
    }),

    // q205's layout lifted to THREE dimensions: quantile bins on
    // (value, user_id, event_id) at 4 bins each, indexed by the
    // d-dimensional Skilling Hilbert walk (Storage.hilbertValueN — the
    // codegen'd expression that removes the 2-D/8-bit unroll bound), then
    // the per-cell population. The oracle unrolls Skilling's transpose
    // loop for dims = 3, bits = 2 step by step — integer-exact.
    "q210_hilbert3d_cells" -> ((s, d) => {
      val ev = t(s, d, "events")
      val binned = Summaries.quantileBins(ev,
        Seq(("value", 4, "bx"), ("user_id", 4, "by"), ("event_id", 4, "bz")))
      binned
        .withColumn("h", Storage.hilbertValueN(Seq(col("bx"), col("by"), col("bz")), 2))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("h"))
    }),

    // statistical aggregates: correlation, sample stddev (r4 masks the
    // partition-order jitter of streaming co-moments)
    "q64_stats" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Summaries.r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
          Summaries.r4(stddev_samp(col("l_discount"))).as("sd_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // ordered string aggregation (deterministic: sort the set, then join)
    "q65_stringagg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("priorities"))
        .orderBy(col("o_orderstatus"))
    }),

    // unpivot/melt — long form back out of wide columns
    "q61_unpivot" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(exactSum(col("l_quantity")).as("qty"),
          exactSum(col("l_extendedprice")).as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    }),

    // Deterministic content-addressed sampling + train/val/test split
    "q60_hash_split" -> ((s, d) => {
      val split = Sampling.splitColumn(Seq(col("doc_id").cast("string")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      t(s, d, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("split"))
    }),

    // F4 — value normalization: collapse non-alnum runs + canonical text
    "q57_norm_values" -> ((s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          Clean.collapseNonAlnum(col("p_type")).as("type_slug"),
          Clean.canonicalText(concat(col("p_name"), lit("  "), col("p_brand"))).as("canon"))
        .orderBy(col("p_partkey"))
    }),

    // PII redaction — emails / dotted quads / long digit runs → placeholders
    // (synthetic PII derived from p_partkey so the scrub is demonstrable)
    "q71_pii_redact" -> ((s, d) => {
      val pk = col("p_partkey")
      val txt = concat(
        lit("contact user"), pk.cast("string"), lit("@example.com or 10.0."),
        (pk % 256).cast("string"), lit(".1 ref "), (pk * 1234567).cast("string"), lit(" end"))
      t(s, d, "part")
        .select(pk, Clean.redactPii(txt).as("redacted"))
        .orderBy(pk)
    }),

    // Snapshot diff (CDC validation): two derived versions of orders —
    // old = keys %7≠0; new = keys %10≠0 with a 5% price bump on %3==0 —
    // classified added/removed/changed with the differing-column list.
    // One full-outer hash join; content compare is per-row, no window.
    "q123_snapshot_diff" -> ((s, d) => {
      val o = t(s, d, "orders")
      val old = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val nw = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0,
            floor(col("o_totalprice") * 1.05 * 100 + 0.5) / 100)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Relational.snapshotDiff(old, nw, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy(col("o_orderkey"))
    }),

    // Time-series gap-fill: hourly buckets per user (user_id %100==0 slice),
    // missing hours linearly interpolated between observed neighbors
    "q124_gapfill" -> ((s, d) => {
      Summaries.gapFillInterpolate(
          t(s, d, "events").filter(col("user_id") % 100 === 0),
          "user_id", "ts", col("value"), unit = "hour")
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Vocabulary coverage curve: top-200 tokens with cumulative corpus share
    "q125_vocab_coverage" -> ((s, d) =>
      Text.vocabCoverage(t(s, d, "documents"), "text", 200).orderBy(col("rank"))),

    // Char-bigram LM cross-entropy (perplexity-proxy quality score) against
    // the corpus's own character statistics; integer micro-nat accumulation
    "q126_charlm_quality" -> ((s, d) =>
      Text.bigramLmScore(t(s, d, "documents"), "doc_id", "text").orderBy(col("doc_id"))),

    // Rendezvous (HRW) sharding, 8 shards: per-shard sizes plus how many keys
    // move when a 9th shard is added (≈1/9 of each shard, all TO shard 8)
    "q127_rendezvous_shards" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("s8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("s9"))
        .groupBy(col("s8"))
        .agg(count(lit(1)).as("n"), count(when(col("s9") =!= col("s8"), 1)).as("n_moved"))
        .orderBy(col("s8"))
    }),

    // Grid-bucketed interval-overlap join: shipment windows × order promo
    // weeks — equi-join on the first shared grid cell, never a cartesian
    "q128_overlap_join" -> ((s, d) => {
      val a = t(s, d, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("a_id"),
          col("l_shipdate").as("a_start"),
          // no receiptdate in the synthetic schema — derive a 3–12 day window
          expr("timestampadd(DAY, CAST(l_quantity AS INT) % 10 + 3, l_shipdate)").as("a_end"))
      val b = t(s, d, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("b_id"), col("o_orderdate").as("b_start"),
          (col("o_orderdate") + expr("interval 7 days")).as("b_end"))
      Relational.overlapJoin(a, b, "a_start", "a_end", "b_start", "b_end", 30L * 86400)
        .select(col("a_id"), col("b_id"),
          datediff(least(col("a_end"), col("b_end")),
            greatest(col("a_start"), col("b_start"))).as("overlap_days"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Declarative data-quality gate: five constraint classes over lineitem
    // (row rules fuse into one aggregate pass; unique = one key aggregate;
    // FK = one anti-join). The synthetic data genuinely violates c2/c4.
    "q129_quality_rules" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Constraints.check(li, Seq(
        Constraints.NotNull("c1_shipdate_not_null", "l_shipdate"),
        Constraints.InRange("c2_discount_range", "l_discount", 0.0, 0.05),
        Constraints.Matches("c3_returnflag_domain", "l_returnflag", "^[ARN]$"),
        Constraints.Unique("c4_line_unique", Seq("l_orderkey", "l_linenumber")),
        Constraints.RefIntegrity("c5_order_fk", "l_orderkey", t(s, d, "orders"), "o_orderkey")))
    }),

    // Per-group OLS trend of event value over days — drift monitoring
    "q130_trend" -> ((s, d) => {
      Summaries.groupTrend(
          t(s, d, "events")
            .withColumn("__x", datediff(col("ts"), lit("2024-01-01").cast("timestamp"))),
          "event_type", col("__x"), col("value"))
        .orderBy(col("event_type"))
    }),

    // Mutual information decomposition between lang and source
    "q131_mutual_info" -> ((s, d) =>
      Summaries.mutualInfoCells(t(s, d, "documents"), "lang", "source")
        .orderBy(col("lang"), col("source"))),

    // Per-user EWMA of event values (α=0.75; exact-binary 1−α for replay)
    "q132_ewma" -> ((s, d) =>
      Summaries.ewmaLast(t(s, d, "events"), "user_id", "ts", col("value"), 0.75, "event_id")
        .orderBy(col("user_id"))),

    // Contamination report: overlap fraction of corpus docs' 5-gram sets
    // against the benchmark slice (doc_id %97==0), not just a boolean drop
    "q133_contamination_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Text.contaminationScore(docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", 5)
        .orderBy(col("doc_id"))
    }),

    // Join-key skew pre-flight: top-20 heaviest user_ids with share + skew
    "q134_skew_report" -> ((s, d) =>
      Summaries.keySkewReport(t(s, d, "events"), "user_id", 20)),

    // Rank-sum (Mann-Whitney) AUC per event_type: synthetic label vs value
    "q135_auc" -> ((s, d) =>
      Summaries.rankAuc(t(s, d, "events"), "event_type",
        col("user_id") % 3 === 0, col("value"))),

    // Two-sample KS distance between view-event and purchase-event values
    "q136_ks_drift" -> ((s, d) => {
      val ev = t(s, d, "events")
      Summaries.ksDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), col("value"))
    }),

    // Chi-square independence cells for lang × source (full grid)
    "q137_chi2_cells" -> ((s, d) =>
      Summaries.chiSquareCells(t(s, d, "documents"), "lang", "source")),

    // First-order Markov transition matrix of per-user event sequences
    "q138_transitions" -> ((s, d) =>
      Summaries.transitionMatrix(t(s, d, "events"), "user_id", "ts",
        "event_type", "event_id")),

    // Temperature-scaled source mixing weights (α = 0.5 upsamples the tail)
    "q139_temperature_mix" -> ((s, d) =>
      Sampling.temperatureWeights(t(s, d, "documents"), "source", 0.5)),

    // Per-user time-weighted average of event values (irregular sampling)
    "q140_twap" -> ((s, d) =>
      Summaries.timeWeightedAvg(t(s, d, "events"), "user_id", "ts",
        col("value"), "event_id")),

    // Robust median/MAD outliers on a cubed (heavy-tailed) value, per type
    "q141_mad_outliers" -> ((s, d) =>
      Curation.madOutliers(t(s, d, "events"), "event_type",
        col("value") * col("value") * col("value"), "event_id", k = 3.5)),

    // Per-type winsorization at [p05, p95] (exact order-statistic bounds)
    "q142_winsorize" -> ((s, d) =>
      Curation.winsorize(t(s, d, "events"), "event_type", col("value"), "event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          col("clipped"), col("was_clipped"))
        .orderBy(col("event_id"))),

    // Asymmetric containment (doc-in-doc): either direction >= 0.6
    "q143_containment" -> ((s, d) =>
      Text.containmentPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Gap-based batch sessionization: per-user sessions at a 30-min gap
    "q145_sessions" -> ((s, d) =>
      Summaries.sessionizeBatch(t(s, d, "events"), "user_id", "ts", 1800, "event_id")),

    // Decile lift table for a synthetic label vs the event value as score
    "q146_lift" -> ((s, d) =>
      Summaries.liftTable(t(s, d, "events"),
        col("user_id") % 3 === 0, col("value"), "event_id", 10)),

    // Integer-mass PageRank over the customer<->supplier trade graph
    "q147_pagerank" -> ((s, d) => {
      // Long node ids through every shuffle (customer → 2k, supplier →
      // 2k+1): the distinct, degree agg, and all three round joins hash
      // and compare 8-byte keys instead of "c…"/"s…" strings; the public
      // string id is reconstructed once, after the last aggregate.
      // pinned: the symmetrizing union consumes pairs twice — without the
      // pin the orders⋈lineitem join + distinct executes once per direction
      val pairs = Checkpoints.pin(t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct(), eager = false)
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      // pinEvery = 3: the whole 3-round unroll runs as ONE job — lineage
      // depth 3 is the documented recovery bound, not a per-round barrier
      Graph.pageRankInt(edges, "a", "b", iterations = 3, pinEvery = 3)
        .select(
          concat(when(col("v") % 2 === 0, "c").otherwise("s"),
            expr("v div 2")).as("v"),
          col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("v"))
    }),

    // Fixed-size weighted sample (A-ES): 500 docs, inclusion ∝ n_chars
    "q148_weighted_topk" -> ((s, d) =>
      Sampling.weightedTakeK(t(s, d, "documents"), col("doc_id"), col("n_chars"), 500)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("__prio").as("prio"), col("__h").as("h"))
        .orderBy(col("prio"), col("h"))),

    // Exact triangle census of the part co-purchase graph (parts that
    // appear in the same order are linked) — graph-density profiling via
    // the degree-ordered wedge join (Graph.triangleCounts). The census runs
    // on a DETERMINISTIC 30% node sample (partkey mod 10 < 3): node
    // sampling shrinks wedge work cubically (the DOULION estimator scales
    // counts back up by p^-3), which is how a triangle census stays
    // tractable on a dense co-occurrence graph at any corpus size — the
    // sampled subgraph census itself stays exact and oracle-replayable
    "q149_triangles" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .filter(col("p") % 10 < 3)
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.triangleCounts(edges, "a", "b")
    }),

    // Multi-touch attribution: for each purchase, the user's click/view/
    // signup touches in the trailing 24 h share credit under first-touch,
    // last-touch, and linear models — per-channel totals. The touch
    // lookup is the banded interval join (never a per-user cross
    // product); credit assignment is one window pass per purchase
    "q150_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_id").as("t_id"), col("ts").as("t_ts"),
          col("event_type").as("channel"))
      val joined = Relational.intervalJoin(purchases, touches,
          Seq("user_id"), "p_ts", "t_ts", toleranceSec = 86400)
        .filter(col("t_ts") <= col("p_ts")) // lookback only, inclusive
      val byPurchase = Window.partitionBy(col("p_id"))
      val asc = byPurchase.orderBy(col("t_ts").asc, col("t_id").asc)
      joined
        .withColumn("rn", row_number().over(asc))
        .withColumn("cnt", count(lit(1)).over(byPurchase))
        .groupBy(col("channel"))
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rn") === col("cnt"), 1L).otherwise(0L)).as("last_touch"),
          Summaries.r4(sum(lit(1.0) / col("cnt"))).as("linear"))
        .orderBy(col("channel"))
    }),

    // Burst detection: daily event counts vs the SAME type's trailing-7-
    // observation mean/stddev — |z| > 2 flags the spike. One agg + one
    // bounded window per event type; the frame is 7 ROWS, so partition
    // state is O(1) regardless of history length
    "q151_bursts" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val trail = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("mu", avg(col("n")).over(trail))
        .withColumn("sd", stddev_samp(col("n").cast("double")).over(trail))
        .select(col("event_type"), col("day"), col("n"),
          Summaries.r4(when(col("sd") > 0, (col("n") - col("mu")) / col("sd"))).as("z"),
          when(col("sd") > 0, abs((col("n") - col("mu")) / col("sd")) > 2)
            .otherwise(lit(false)).as("burst"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Packing-efficiency report: per bucket, how full the packed training
    // sequences actually are (q89's greedy offset packing) — fill factor,
    // extremes, and boundary-straddling count. Two aggregates over the
    // packing plan; no new shuffle beyond the per-bucket window q89 pays
    "q159_packing_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      Sampling.packSequences(docs, "doc_id", col("n_tokens"), maxTokens = 512L, buckets = 4)
        .groupBy(col("bucket"), col("seq")).agg(sum(col("n_tokens")).as("fill"))
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_seqs"),
          Summaries.r4(avg(col("fill") / 512.0)).as("avg_fill"),
          min(col("fill")).as("min_fill"), max(col("fill")).as("max_fill"),
          sum(when(col("fill") > 512, 1L).otherwise(0L)).as("n_overflow"))
        .orderBy(col("bucket"))
    }),

    // Local clustering coefficients on the sampled part co-purchase graph
    // (q149's edge set): top-20 most tightly-knit neighborhoods. Same
    // arboricity-bounded wedge machinery; each triangle credits its three
    // corners
    "q160_clustering_coeff" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .filter(col("p") % 10 < 3)
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.clusteringCoefficients(edges, "a", "b")
        .orderBy(col("coeff").desc, col("v"))
        .limit(20)
    }),

    // Community detection: deterministic synchronous label propagation on
    // the q147 customer–supplier graph — 3 fixed rounds, most-common
    // neighbor label, smallest-label tie-break (exactly replayed by the
    // oracle's unrolled per-round CTEs with row_number over the vote
    // counts). Long node ids through every shuffle; public string ids
    // reconstructed once at the end, like q147
    "q177_label_communities" -> ((s, d) => {
      // the first order-year of the trade graph (the natural pipeline shape —
      // community detection over a reporting window; the date predicate
      // pushes to the orders scan and bounds the edge set BEFORE the
      // join): what q177 exercises is the fixed-round LPA contract, which
      // is window-independent — convergence depth lives in q199, and
      // ScaleBench's label_propagation family keeps the unbounded graph
      val pairs = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      def nodeStr(c: Column) = concat(
        when(c % 2 === 0, lit("c")).otherwise(lit("s")),
        shiftright(c, 1).cast("string"))
      // pinEvery=2: with the static-fallback round shape each round reads
      // the previous labels once, so the unroll is linear and runs as ONE
      // job with no mid-loop pin barriers (the earlier per-round LEFT-JOIN
      // fallback form doubled each unpinned round's subplan — 6.5 s
      // measured at sf0.1 vs ~4.8 s pinned per round). 2 fixed rounds
      // (was 3): the suite's slowest query by a wide margin, and the
      // fixed-round CONTRACT — not a particular depth — is what q177
      // exercises; 10-round convergence depth lives in q199, and
      // ScaleBench's label_propagation family keeps the historical 3-round
      // shape so its growth curve stays comparable across rounds.
      Graph.labelPropagation(pairs, "a", "b", iterations = 2, pinEvery = 2)
        .select(nodeStr(col("v")).as("node"), nodeStr(col("label")).as("community"))
        .orderBy(col("community"), col("node"))
    }),

    // Longest consecutive-day activity streak per user, summarized as a
    // histogram — the gaps-and-islands pattern: day minus per-user rank is
    // constant within a run, so streaks fall out of two partitioned
    // windows and two aggregates, no self-join
    "q169_activity_streaks" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day")))
      val streaks = days
        .withColumn("grp", date_sub(col("day"), rn))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("best"))
      streaks.groupBy(col("best").as("streak_days"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_days"))
    }),

    // RFM segmentation: per-customer recency/frequency/monetary quartiles
    // (deterministic ntile over totally-ordered customers), segment = the
    // three digits concatenated, output = customers per segment. The
    // global ntile is a single-partition window over the CUSTOMER-GRAIN
    // aggregate (already reduced); at key counts where that single task
    // binds, swap quantile-cut binning (q94's machinery) for ntile
    // RFM quartiles via IN-PLAN exact quantile cuts (quantileBins: one
    // distributed cut-point job, broadcast back, per-row comparison) —
    // replacing three GLOBAL ntile windows, each of which funneled every
    // customer through ONE task (the unpartitioned-window anti-pattern;
    // the three-point probe measured it 3.9× for 3× rows and it only gets
    // worse). Tie semantics change with the plan shape and are part of
    // the contract now: equal VALUES share a quartile (boundary ties →
    // the higher bin), where rank-ntile split ties arbitrarily by key —
    // the value-based read is also the defensible analytics answer.
    "q170_rfm_segments" -> ((s, d) => {
      val per = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          exactSum(col("o_totalprice")).as("monetary"))
        .withColumn("rv", datediff(col("last_order"), lit("1970-01-01")).cast("double"))
        .withColumn("fv", col("freq").cast("double"))
        .withColumn("mv", col("monetary").cast("double"))
      Summaries.quantileBins(per, Seq(("rv", 4, "r"), ("fv", 4, "f"), ("mv", 4, "m")))
        .select(concat(col("r") + 1, col("f") + 1, col("m") + 1).as("segment"))
        .groupBy(col("segment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("segment"))
    }),

    // Sessions-per-user distribution: histogram of how many gap-based
    // sessions each user accumulates (q145's sessionizer feeding an
    // engagement-shape report) — two bounded aggregates on top of the
    // shared sessionization plan
    "q171_sessions_per_user" -> ((s, d) => {
      Summaries.sessionizeBatch(t(s, d, "events"), "user_id", "ts", 1800, "event_id")
        .groupBy(col("user_id")).agg(countDistinct(col("session_id")).as("n_sessions"))
        .groupBy(col("n_sessions")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_sessions"))
    }),

    // Time-to-conversion: median and p90 minutes from each user's FIRST
    // click to their FIRST subsequent purchase, by signup-week cohort of
    // the first click — funnel latency, the q114 conversion funnel's
    // "how fast" companion. Exact per-cohort percentiles (quantile_cont
    // parity); cohort count bounds the groups
    "q172_time_to_convert" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pt"))
        .groupBy(col("pu")).agg(min(col("pt")).as("fp"))
      firstClick
        .join(firstPurchase, col("user_id") === col("pu") && col("fp") >= col("fc"))
        .select(date_trunc("week", col("fc")).as("cohort_week"),
          ((unix_timestamp(col("fp")) - unix_timestamp(col("fc"))) / 60.0).as("mins"))
        .groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_converted"),
          Summaries.r4(expr("percentile(mins, 0.5)")).as("median_mins"),
          Summaries.r4(expr("percentile(mins, 0.9)")).as("p90_mins"))
        .orderBy(col("cohort_week"))
    }),

    // Weekday seasonality profile: per event type, the day-of-week shape
    // of daily volume (mean/min/max) — the baseline any anomaly detector
    // (q151) should be normalized against. Two bounded aggregates
    "q168_weekday_profile" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("int")) // Sunday = 0
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"),
          Summaries.r4(avg(col("n"))).as("avg_n"),
          min(col("n")).as("min_n"), max(col("n")).as("max_n"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // Medallion flow (the reference's declared Bronze→Silver→Gold model,
    // /root/reference/README.md:5-8) on the transactional table layer:
    // bronze = raw, silver = normalized strings, gold = business rules
    // (keep-latest dedup per customer + date-range + column selection).
    // All three layers land in ONE atomic TxTable commit — a reader never
    // sees a silver that disagrees with its bronze — and the output
    // aggregates the RE-READ gold table, so the round trip through the
    // commit log is what the oracle checks
    "q167_medallion" -> ((s, d) => {
      val root = s"/root/repo/target/tmp/medallion_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      val bronze = t(s, d, "orders")
      val silver = bronze
        .withColumn("o_orderstatus", upper(trim(col("o_orderstatus"))))
        .withColumn("o_orderpriority", trim(col("o_orderpriority")))
      val keep = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val gold = silver
        .withColumn("__rn", row_number().over(keep)).filter(col("__rn") === 1).drop("__rn")
        .filter(col("o_orderdate").isNotNull &&
          col("o_orderdate") >= lit("1993-01-01") && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      TxTable.commit(s, root, Seq(
        ("bronze", "replace", bronze),
        ("silver", "replace", silver),
        ("gold",   "replace", gold)))
      TxTable.read(s, root, "gold")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_customers"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // The medallion maintained INCREMENTALLY — q167's flow re-shaped so the
    // publish costs O(changes), not three table copies (round-10 verdict
    // item 5). The fixture publishes bronze/silver/gold whole once; this
    // query then runs one increment cycle: append a known batch to bronze,
    // derive its CDC with TxTable.diff (insert-only here by construction),
    // silver-append the row-local normalize of exactly those rows, maintain
    // gold (the per-status business aggregate) from the same feed via
    // maintainSumCount in O(changes + groups), and land silver + gold in
    // ONE atomic commit — no reader ever sees a gold that disagrees with
    // its silver. Both commits carry guard/batchId replay protection, so
    // re-invocation (bench pass 2) is a log no-op and the read stays
    // deterministic. The re-read gold must equal a full recompute of the
    // complete orders table — the oracle IS that recompute. The diff is the
    // demo's CDC source (O(snapshot scan), shuffle on the key); a 100 TB
    // loop feeds maintenance from the writer's known batch or the streaming
    // CDC sink instead — ScaleBench's medallion_increment family measures
    // that path flat in corpus size.
    "q167b_medallion_incremental" -> ((s, d) => {
      val (root, v1) = medallionIncFixture(s, d)
      val inc = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
        .filter(col("o_orderkey") % 13 === 0)
      TxTable.commit(s, root, Seq(("bronze", "append", inc)),
        guard = "medinc", batchId = 0L)
      val cdc = TxTable.diff(s, root, v1, v1 + 1, Seq("o_orderkey"), "bronze")
      val silverFeed = silverizeOrders(cdc)
      val maintained = Summaries.maintainSumCount(
        TxTable.readAsOf(s, root, v1, "gold"), silverFeed,
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      TxTable.commit(s, root, Seq(
        ("silver", "append",
          silverFeed.filter(col("change") === "insert").drop("change")),
        ("gold", "replace", maintained)),
        guard = "medinc", batchId = 1L)
      TxTable.read(s, root, "gold")
        .select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // Dedup funnel: document and token counts surviving each dedup stage
    // (raw → exact digest → fuzzy MinHash survivors) — the shrinkage
    // report every corpus build publishes. Each stage reuses the shipped
    // operator; the fuzzy stage runs on the exact-deduped remainder
    "q165_dedup_funnel" -> ((s, d) => {
      // pinned: the (text, nt) projection feeds THREE stage aggregates plus
      // the digest dedup and the minhash pipeline — without the pin each
      // consumer re-scans the parquet and re-tokenizes every document
      val docs = Checkpoints.pin(t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(Text.tokens(col("text"))).cast("long").as("nt")), eager = false)
      val exact = Dedup.dedupByDigest(docs, "text", "doc_id")
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(lit(name).as("stage"), count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"))
      // The fuzzy-dedup side runs an eager CC loop (an action per round),
      // during which the driver would otherwise sit on the 1_raw/2_exact
      // stage aggregates it already has everything for — compute those
      // concurrently (guide §2.6, see q162); both are 1-row pins. Same
      // aggregates over the same rows; only the scheduling overlaps.
      val Seq(dropped, s12) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Dedup.nearDupSurvivors(
            Text.minhashNearDupPairs(exact, "doc_id", "text", 3, 16, 0.5),
            "doc_a", "doc_b")
          .filter(!col("keep")).select(col("doc_id"))),
        () => Checkpoints.pin(stage("1_raw", docs)
          .unionByName(stage("2_exact", exact)))))
      val fuzzy = exact.join(dropped, Seq("doc_id"), "left_anti")
      s12
        .unionByName(stage("3_fuzzy", fuzzy))
        .orderBy(col("stage"))
    }),

    // JSON schema drift between snapshot generations: key-set profiling
    // over a JSON column (added / removed / common, with occurrence
    // counts) — the ingestion guard for evolving upstream payloads. One
    // explode of json keys + one aggregate
    "q166_props_schema_drift" -> ((s, d) => {
      val pk = col("p_partkey")
      val js = when(pk % 2 === 0,
          concat(lit("{\"id\": "), pk.cast("string"), lit(", \"price\": 1"),
            when(pk % 4 === 0, lit(", \"legacy\": true")).otherwise(lit("")), lit("}")))
        .otherwise(
          concat(lit("{\"id\": "), pk.cast("string"), lit(", \"price_cents\": 100"),
            when(pk % 5 === 0, lit(", \"tags\": []")).otherwise(lit("")), lit("}")))
      t(s, d, "part")
        .select((pk % 2 === 0).as("is_old"), explode(json_object_keys(js)).as("key"))
        .groupBy(col("key"))
        .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
          sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
        .withColumn("status",
          when(col("n_old") > 0 && col("n_new") > 0, "common")
            .when(col("n_old") > 0, "removed").otherwise("added"))
        .orderBy(col("key"))
    }),

    // Deterministic negative sampling for contrastive training: per
    // anchor, 3 cross-language negatives drawn by content hash WITHIN the
    // anchor's hash bucket. The bucket count is OCCUPANCY-CONSTANT —
    // ceil(n/32), computed in-plan by a broadcast 1-row aggregate — so
    // candidates stay O(n · 32) as the corpus grows; a fixed bucket count
    // is the same O(n²/buckets) geometry ScaleBench caught in fixed-plane
    // ANN (and measured here too: 16 fixed buckets ran 11.5× the cost for
    // 10× the docs before this change). Every draw replays under retry or
    // corpus growth; at sf0.01 ceil(500/32)=16 reproduces the historical
    // bucketing exactly
    "q163_negative_sampling" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val nb = base.agg(
        greatest(ceil(count(lit(1)) / 32.0).cast("long"), lit(1L)).as("nb"))
      val docs = base.crossJoin(broadcast(nb))
        .withColumn("bkt", pmod(Text.hash60(col("doc_id").cast("string")), col("nb")))
        .drop("nb")
      val pairs = docs.as("a").join(docs.as("b"),
          col("a.bkt") === col("b.bkt") && col("a.doc_id") =!= col("b.doc_id") &&
            col("a.lang") =!= col("b.lang"))
        .select(col("a.doc_id").as("anchor"), col("b.doc_id").as("neg_id"),
          Text.hash60(concat(col("a.doc_id").cast("string"), lit("_"),
            col("b.doc_id").cast("string"))).as("draw"))
      pairs
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("anchor")).orderBy(col("draw"), col("neg_id"))))
        .filter(col("rank") <= 3)
        .select(col("anchor"), col("neg_id"), col("rank"))
        .orderBy(col("anchor"), col("rank"))
    }),

    // Curriculum interleave: per-source difficulty rank (longest docs
    // first as the difficulty proxy), then round-robin across sources —
    // the schedule column a trainer reads shards by. Two window passes,
    // both partitioned (per-source rank, then per-round position)
    "q164_curriculum_order" -> ((s, d) => {
      val ranked = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
      ranked
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("rk")).orderBy(col("source"))))
        .select(col("doc_id"), col("source"), col("rk").as("round"), col("pos"))
        .orderBy(col("round"), col("pos"))
    }),

    // LSH-vs-exact evaluation: recall/precision of the MinHash-LSH
    // near-dup pipeline against the exact inverted-index ground truth on
    // the same corpus slice — the tuning harness for band/row choices
    // (run on a scoped sample, exactly how banding parameters are tuned
    // before a corpus-wide pass)
    "q162_lsh_recall_eval" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("lang") === "en")
      // The exact and LSH pipelines are INDEPENDENT subtrees over the same
      // corpus slice. Their pins block at CONSTRUCTION time on stage
      // materialization, so built sequentially they paid both pipelines'
      // pin/stage barriers back to back (guide §2.6). Each side's verified
      // pair set is tiny (hundreds of rows) and is eagerly pinned inside its
      // thread, so the final recall/precision assembly reads two pinned row
      // sets. Same pairs, same arithmetic — only the build overlaps.
      val Seq(exact, lsh) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b"))),
        () => Checkpoints.pin(Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5)
          .select(col("doc_a"), col("doc_b")))))
      val both = exact.intersect(lsh)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(both.agg(count(lit(1)).as("n_both")))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          Summaries.r4(col("n_both").cast("double") / col("n_exact")).as("recall"),
          Summaries.r4(col("n_both").cast("double") / col("n_lsh")).as("precision"))
    }),

    // D3 hot-bucket bound under pathological duplication: a 1000-copy
    // boilerplate flood collides in EVERY LSH band, so the unguarded band
    // self-join would emit ~500k candidate rows into one shuffle partition;
    // maxBucket=64 switches those buckets to star pairing — each clone
    // links to the bucket representative (min id), O(d) rows — and the
    // flood still resolves around one representative. Constant-size by
    // construction (doc_id < 50 + 1000 synthesized clones), so this costs
    // the same at every SF
    // The maxBucket PREFLIGHT: band-bucket occupancy over the documents
    // table — the measurement that decides whether the (deliberately
    // default-off) hot-bucket cap must be set before minhashNearDupPairs
    // runs at a new corpus scale. Healthy corpora tail off early; a q173
    // flood shows itself as one occ≈clones bucket carrying a quadratic
    // cand_pairs spike
    "q193_lsh_occupancy" -> ((s, d) => {
      Text.lshBucketOccupancy(t(s, d, "documents"), "doc_id", "text", 3, 16)
        .orderBy(col("occ"))
    }),

    "q173_boilerplate_flood" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      val t0   = docs.filter(col("doc_id") === 0).select(col("text").as("t0"))
      val clones = s.range(1000).crossJoin(t0)
        .select((col("id") + 1000000L).as("doc_id"), col("t0").as("text"))
      Text.minhashNearDupPairs(base.unionByName(clones), "doc_id", "text", 3, 16, 0.5,
          maxBucket = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Recall cost of the hot-bucket star bound, quantified (the q162
    // harness re-run against a clone flood): capped-LSH pairs are a
    // verified subset of the exact ground truth, so pair_recall =
    // n_capped/n_exact collapses (the flood's O(d²) pairs reduce to O(d)
    // star pairs — by design), while doc_recall — the dedup-relevant
    // metric, "does every duplicated document keep a verified partner" —
    // stays 1.0: capping bounds candidate volume without losing a single
    // dedupable document
    "q174_flood_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      val t0   = docs.filter(col("doc_id") === 0).select(col("text").as("t0"))
      val clones = s.range(200).crossJoin(t0)
        .select((col("id") + 1000000L).as("doc_id"), col("t0").as("text"))
      val corpus = base.unionByName(clones)
      // ground truth: exact inverted-index Jaccard with maxDf above the
      // flood's df (the deliberate unbounded form — feasible at this
      // fixture size, impossible at corpus scale; that gap is the point).
      // The two pipelines are independent subtrees — built concurrently so
      // their pin/stage barriers overlap (guide §2.6, see q162); each pair
      // set is tiny and eagerly pinned inside its thread.
      val Seq(exact, capped) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Text.jaccardNearDupPairs(corpus, "doc_id", "text", 3, 0.5,
            maxDf = 5000).select(col("doc_a"), col("doc_b"))),
        () => Checkpoints.pin(Text.minhashNearDupPairs(corpus, "doc_id", "text", 3, 16, 0.5,
            maxBucket = 64).select(col("doc_a"), col("doc_b")))))
      def dupDocs(p: DataFrame) =
        p.select(explode(array(col("doc_a"), col("doc_b"))).as("id")).distinct()
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
        .crossJoin(dupDocs(exact).agg(count(lit(1)).as("n_dup_docs_exact")))
        .crossJoin(dupDocs(capped).agg(count(lit(1)).as("n_dup_docs_capped")))
        .select(col("n_exact"), col("n_capped"),
          Summaries.r4(col("n_capped").cast("double") / col("n_exact")).as("pair_recall"),
          col("n_dup_docs_exact"), col("n_dup_docs_capped"),
          Summaries.r4(col("n_dup_docs_capped").cast("double") / col("n_dup_docs_exact"))
            .as("doc_recall"))
    }),

    // Skew-join on REAL skew: a derived key collapses half of lineitem onto
    // one supplier (q84 only proved salt ≡ plain on uniform keys). The
    // salted join spreads the hot key's rows over 8 reducers; result
    // identity with the plain DuckDB join IS the oracle, and PlanSpec pins
    // the physical property (measured per-reducer row distribution + AQE
    // skew-split engagement on the unsalted plan)
    "q175_skew_join" -> ((s, d) => {
      val li = t(s, d, "lineitem").withColumn("skew_key",
        when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_suppkey")))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      Relational.saltedJoin(li, sup, "skew_key", "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    }),

    // Functional-dependency discovery: for candidate determinant →
    // dependent column pairs, count keys whose dependent value is not
    // unique — the schema-inference / data-contract profiling pass. One
    // two-level aggregate per pair (distinct-per-key, then violations),
    // unioned into a single plan
    "q161_fd_discovery" -> ((s, d) => {
      val o = t(s, d, "orders")
      def fd(det: String, dep: String): DataFrame = o
        .groupBy(col(det)).agg(countDistinct(col(dep)).as("nv"))
        .agg(lit(det).as("determinant"), lit(dep).as("dependent"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"),
          (sum(when(col("nv") > 1, 1L).otherwise(0L)) === 0).as("fd_holds"))
      fd("o_orderkey", "o_custkey")
        .unionByName(fd("o_custkey", "o_orderstatus"))
        .unionByName(fd("o_orderpriority", "o_orderstatus"))
        .orderBy(col("determinant"), col("dependent"))
    }),

    // PII incidence report: per-brand counts of emails / IPs / long
    // numbers found by the q71 redaction patterns — the compliance-audit
    // view (what WOULD be redacted, where) before any text ships. Pure
    // per-row regexp counts + one aggregate
    "q156_pii_summary" -> ((s, d) => {
      val pk = col("p_partkey")
      val txt = concat(
        lit("ref "), (pk * 1234567).cast("string"),
        when(pk % 3 === 0, concat(lit(" user"), pk.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pk % 4 === 0, concat(lit(" 10.0."), (pk % 256).cast("string"), lit(".1")))
          .otherwise(lit("")))
      val em = regexp_count(txt, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
      val ip = regexp_count(txt, lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"))
      val nm = regexp_count(txt, lit("\\b\\d{7,}\\b"))
      t(s, d, "part")
        .select(col("p_brand"), em.as("em"), ip.as("ip"), nm.as("nm"))
        .groupBy(col("p_brand"))
        .agg(sum(col("em")).as("n_email"), sum(col("ip")).as("n_ip"),
          sum(col("nm")).as("n_num"),
          sum(when(col("em") + col("ip") + col("nm") > 0, 1L).otherwise(0L))
            .as("rows_with_pii"))
        .orderBy(col("p_brand"))
    }),

    // Profile-based language ID: train per-language top-20 char-trigram
    // profiles FROM the labeled corpus, score each doc's distinct trigrams
    // against them — the realistic two-pass shape (corpus-derived model,
    // broadcast-joined application; the model is 5×20 rows however large
    // the corpus). Tie rule: highest hit count, then alphabetical language
    "q157_charngram_langid" -> ((s, d) => {
      val docs = Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("text"))
      // deliberately TWO explode passes over the text (train + score): the
      // explode is a narrow codegen'd stage, and pinning the ~300×-larger
      // trigram stream to share it measured SLOWER than re-exploding
      val tri = docs.select(col("lang"),
        explode(Text.charNgrams(col("text"), 3)).as("g"))
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("g").asc)
      val profile = tri.groupBy(col("lang"), col("g")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(byLang))
        .filter(col("rn") <= 20)
        .select(col("lang").as("plang"), col("g"))
      val hits = docs
        .select(col("doc_id"), explode(Text.charNgramsDistinct(col("text"), 3)).as("g"))
        .join(broadcast(profile), Seq("g"))
        .groupBy(col("doc_id"), col("plang")).agg(count(lit(1)).as("cnt"))
      val best = hits
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("plang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("plang"))
      docs.select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang"), coalesce(col("plang"), lit("und")).as("pred"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup cluster-size histogram — the dedup report that tells you
    // whether duplication is pairwise noise or template floods: SimHash
    // pair graph → connected components → component sizes → histogram
    "q158_cluster_sizes" -> ((s, d) => {
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    }),

    // Cross-split contamination matrix: count 8-gram shingles shared
    // between the train/val/test hash splits — the leakage audit run
    // before any eval is trusted. The shingle index is (split, shingle)
    // DISTINCT, so the self-join emits at most C(3,2) rows per shingle —
    // bounded by the split count, never by document frequency
    "q153_split_contamination" -> ((s, d) => {
      val split = Sampling.splitColumn(Seq(col("doc_id").cast("string")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val ss = Tables.spread(t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(split.as("split"), explode(Text.shinglesOf(col("text"), 8)).as("sh"))
        .distinct()
      ss.as("a").join(ss.as("b"),
          col("a.sh") === col("b.sh") && col("a.split") < col("b.split"))
        .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // Language-ID confusion matrix vs the labeled lang column — the
    // classifier-eval view of q21's heuristic: cells plus each cell's
    // share of its true class. One scan, one node-bounded aggregate
    "q154_langid_confusion" -> ((s, d) => {
      val cells = Tables.spread(t(s, d, "documents"))
        .select(col("lang"), Text.languageId(Text.tokenSet(col("text"))).as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
      cells
        .withColumn("frac_of_true",
          Summaries.r4(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("lang")))))
        .orderBy(col("lang"), col("pred"))
    }),

    // Zipf power-law fit: ln(freq) ~ a + b·ln(rank) over the top-100
    // tokens — corpus-health fingerprint (a natural corpus slopes ≈ −1;
    // template/boilerplate floods flatten or steepen it). Top-100 via
    // TakeOrdered; the OLS fold is over 100 driver-bounded points
    "q155_zipf_slope" -> ((s, d) => {
      val top = Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(100)
        .withColumn("r",
          row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)))
      val x = log(col("r").cast("double"))
      val y = log(col("cnt").cast("double"))
      top.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("n"),
          Summaries.r4((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          Summaries.r4((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
            .as("intercept"))
    }),

    // Reciprocal-rank fusion of two bounded retrieval lists (by length and
    // by lexical diversity): the standard zero-tuning rank combiner for
    // hybrid search. Each list is a TakeOrdered top-100 (never a global
    // sort); the fusion is a full outer join of two 100-row sides
    "q152_rrf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def top100(metric: Column): DataFrame = {
        val ranked = docs.select(col("doc_id"), metric.as("m"))
          .orderBy(col("m").desc, col("doc_id")).limit(100)
        // rank within 100 driver-bounded rows — the single-partition window
        // is over the ALREADY-limited list, not the corpus
        ranked.withColumn("r",
          row_number().over(Window.orderBy(col("m").desc, col("doc_id"))))
          .select(col("doc_id"), col("r"))
      }
      val a = top100(length(col("text")).cast("double"))
      val b = top100(size(array_distinct(split(col("text"), " "))).cast("double") /
        size(split(col("text"), " ")))
      a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
          Summaries.r4(
            coalesce(lit(1.0) / (col("a.r") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("b.r") + 60), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }),

    // Z-order write → file-stats index → stats-pruned range scan; the
    // result must equal the plain filtered aggregate (oracle), while
    // StorageSpec pins that the pruned read opens a strict file subset
    "q144_pruned_scan" -> ((s, d) => {
      // projected 3-column table, z-ordered on two LOW-CARDINALITY columns:
      // the write-side quantile pass is bounded by their tiny distinct
      // domains, so the bench prices the skipping machinery, not a rewrite
      // of the widest possible table (StorageSpec covers the continuous-
      // domain price case)
      val dir = s"/root/repo/target/tmp/zorder_li_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
      val statsDir = dir + "_stats"
      // file count derives from the table (≈500k rows/file, floor 16):
      // with a FIXED file count, rows-per-file — and so the pruning
      // granularity every skipped query depends on — degrades linearly
      // with table growth (the three-point probe read 5.1× for 3× rows);
      // sizing files to data keeps skipped-vs-scanned fractions stable.
      // The stamp embeds the derived count so a layout change rebuilds.
      val nFiles = math.max(16,
        math.ceil(t(s, d, "lineitem").count() / 500000.0).toInt)
      // write-once/scan-many: the clustering rewrite and its stats index
      // refresh only when the SOURCE parquet changes (sourceStamp) — every
      // later call prices the pruned SCAN, which is the operator's
      // steady-state cost in any table format's OPTIMIZE economics
      val stamp = Storage.sourceStamp(s, Seq(s"$d/lineitem.parquet"),
        s"zorder:l_returnflag,l_quantity,l_discount:4:$nFiles:v1")
      Storage.refreshIfChanged(s, dir, stamp, alsoRequire = Seq(statsDir)) {
        Storage.zOrderWrite(
          t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity"), col("l_discount")),
          Seq("l_quantity", "l_discount"), 4, dir, nFiles)
        Storage.fileStats(s, dir, Seq("l_quantity", "l_discount"))
          .coalesce(1).write.mode("overwrite").parquet(statsDir)
      }
      val stats = s.read.parquet(statsDir)
      val (rows, _, _) = Storage.prunedRead(s, dir, stats, "l_quantity", 10.0, 20.0)
      rows.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_discount")).as("sum_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // F1/F2/F5/F6/F9 — string-cleaning battery on derived columns
    "q54_clean_strings" -> ((s, d) => {
      val pk = col("p_partkey")
      val ipSrc = concat(lit("host "),
        when(pk % 3 === 0, lit("n/a"))
          .otherwise(concat(lit("10.2."), (pk % 200).cast("string"), lit(".7"))))
      val ip6Src = when(pk % 2 === 0, lit("fe80::1, 10.0.0.1")).otherwise(lit("1.2.3.4"))
      val tsSrc = when(pk % 5 === 0, lit("garbage"))
        .otherwise(concat(lit("2024-01-"), lpad((pk % 27 + 1).cast("string"), 2, "0")))
      t(s, d, "part")
        .select(pk,
          Clean.titleCase(concat(lit("  "), col("p_name"), lit(" "))).as("cleaned"),
          Clean.firstIpv4(ipSrc).as("ip"),
          Clean.firstIpv6(ip6Src).as("ip6"),
          Clean.parseTs(tsSrc).as("ts_parsed"))
        .orderBy(pk)
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    baseOracles ++ textOracles ++ similarityOracles ++ closureOracles

  private def baseOracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / count(l_discount) AS avg_disc
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_dedup_keep_latest" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_shipdate
         FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey, l_suppkey
                                    ORDER BY l_shipdate DESC, l_linenumber) = 1
         ORDER BY l_orderkey, l_partkey, l_suppkey""",
    "q03_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""",
    "q04_group_count" ->
      """SELECT event_type, count(*) AS qtd FROM events
         GROUP BY event_type ORDER BY qtd DESC, event_type ASC NULLS FIRST""",
    "q05_keyword_filter" ->
      """SELECT event_id, event_type, user_id FROM events
         WHERE COALESCE(regexp_matches(lower(CAST(event_type AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
            OR COALESCE(regexp_matches(lower(CAST(props AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
         ORDER BY event_id""",
    "q06_union_by_name" ->
      """SELECT * FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, CAST(NULL AS DOUBLE) AS l_extendedprice
           FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
           UNION ALL
           SELECT l_orderkey, l_linenumber, CAST(NULL AS DOUBLE), l_extendedprice
           FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01')
         ORDER BY l_orderkey, l_linenumber,
                  l_quantity NULLS FIRST, l_extendedprice NULLS FIRST""",
    "q07_join_inner" ->
      """SELECT o_orderpriority, count(*) AS cnt,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q08_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q09_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q10_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q11_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q12_join_theta" ->
      """WITH p AS (SELECT * FROM part WHERE p_partkey < 2000)
         SELECT a.p_brand, count(*) AS n_pairs
         FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_size < b.p_size
         GROUP BY a.p_brand ORDER BY a.p_brand""",
    "q91_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
  )

  // Determinism conventions for the text/similarity oracles:
  // - rounding is always `floor(x*10000 + 0.5)/10000`, NEVER round(): Spark
  //   rounds half-up, DuckDB half-even, and small-integer ratios (k/32) land
  //   exactly on the boundary.
  // - any hash compared across engines is the md5-derived 60-bit value:
  //   Spark `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
  //   `('0x' || substr(md5(x),1,15))::BIGINT`.
  // - double accumulations that must match bit-for-bit use the same fold
  //   order on both sides: Spark `aggregate(...)` is a sequential fold, so
  //   the oracle uses `list_reduce(list_prepend(0.0, ...))`, not list_sum.
  /** The k MinHash signature slots as DuckDB SQL, using the same coefficient
    * tables as [[graft.expr.MinHashSignature]] — `hs` must be in scope as the
    * list of 60-bit md5 hashes already reduced mod 2^31−1.
    */
  private def minhashSigSqlTerms(k: Int): String = {
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
  private def minhashLshOracle(scoped: Boolean = false): String = {
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

  /** Batch-vs-corpus variant of [[minhashLshOracle]] for q100: candidates
    * pair a batch doc (doc_id % 10 = 0) with a corpus doc, and the batch
    * survivors are those with no verified near-dup. `corpusPred` narrows
    * the corpus side — q190/q191 replay index deletion by shrinking it.
    */
  private def minhashIncrementalOracle(
      corpusPred: String = "b.doc_id % 10 <> 0"): String =
    s"""WITH sh AS (
           SELECT doc_id, lang, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') tk FROM documents)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
           FROM ex a JOIN ex b ON a.band = b.band AND a.hv = b.hv
           WHERE a.doc_id % 10 = 0 AND $corpusPred),
         dup AS (
           SELECT DISTINCT bid FROM cand
           JOIN sh x ON bid = x.doc_id JOIN sh y ON cid = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT bid FROM dup)
         ORDER BY doc_id"""

  /** Flood fixture shared by q173/q174: `documents` rows with doc_id < 50
    * plus `nClones` synthesized copies of doc 0's text (ids 1000000+i) —
    * the pathological boilerplate cluster that makes an unbounded LSH
    * band join quadratic.
    */
  private def floodCorpusSql(nClones: Int): String =
    s"""corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 50
           UNION ALL
           SELECT 1000000 + i AS doc_id, (SELECT text FROM documents WHERE doc_id = 0) AS text
           FROM range($nClones) t(i))"""

  /** MinHash-LSH candidate pairs over the flood corpus WITH the hot-bucket
    * star bound replayed in SQL: buckets above `maxBucket` members pair
    * everyone with the bucket's min id only (mirrors
    * `Text.minhashNearDupPairs(maxBucket = …)`). Both self-join sides are
    * pre-filtered to cold buckets so the oracle itself never materializes
    * the quadratic hot-bucket join.
    */
  private def cappedLshCtesSql(maxBucket: Int): String =
    s"""sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM corpus)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         occ AS (SELECT band, hv, count(*) AS n, min(doc_id) AS rep FROM ex GROUP BY band, hv),
         coldex AS (
           SELECT e.doc_id, e.band, e.hv
           FROM ex e JOIN occ o ON e.band = o.band AND e.hv = o.hv AND o.n <= $maxBucket),
         cand AS (
           SELECT DISTINCT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM coldex a JOIN coldex b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id
             UNION ALL
             SELECT o.rep AS doc_a, e.doc_id AS doc_b
             FROM ex e JOIN occ o ON e.band = o.band AND e.hv = o.hv
             WHERE o.n > $maxBucket AND e.doc_id <> o.rep)),
         capped AS (
           SELECT doc_a, doc_b,
                  len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) AS j
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5)"""

  private def textOracles: Map[String, String] = Map(
    // the same (band, hv) buckets the pair join uses, folded to an
    // occupancy histogram — cand_pairs is exact (occ·(occ−1) is even, so
    // the /2 has no fractional part and both engines' double-div + cast
    // agree bit-for-bit)
    "q193_lsh_occupancy" ->
      s"""WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM documents)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         buck AS (SELECT band, hv, count(*) AS occ FROM ex GROUP BY band, hv)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ""",
    "q173_boilerplate_flood" ->
      s"""WITH ${floodCorpusSql(1000)},
         ${cappedLshCtesSql(64)}
         SELECT doc_a, doc_b, floor(j * 10000 + 0.5)/10000 AS jacc
         FROM capped ORDER BY doc_a, doc_b""",
    "q174_flood_recall" ->
      s"""WITH ${floodCorpusSql(200)},
         ${cappedLshCtesSql(64)},
         exact AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5),
         m AS (
           SELECT (SELECT count(*) FROM exact) AS n_exact,
                  (SELECT count(*) FROM capped) AS n_capped,
                  (SELECT count(DISTINCT id) FROM (SELECT doc_a AS id FROM exact UNION ALL SELECT doc_b FROM exact)) AS nde,
                  (SELECT count(DISTINCT id) FROM (SELECT doc_a AS id FROM capped UNION ALL SELECT doc_b FROM capped)) AS ndc)
         SELECT n_exact, n_capped,
                floor(n_capped::DOUBLE / n_exact * 10000 + 0.5)/10000 AS pair_recall,
                nde AS n_dup_docs_exact, ndc AS n_dup_docs_capped,
                floor(ndc::DOUBLE / nde * 10000 + 0.5)/10000 AS doc_recall
         FROM m""",
    "q13_tokenize" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",
    "q67_tfidf" ->
      """WITH toks AS (
           SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         n AS (SELECT count(DISTINCT doc_id) nn FROM documents),
         tf AS (SELECT id, term, count(*) tf FROM toks GROUP BY id, term),
         dfq AS (SELECT term, count(DISTINCT id) df FROM toks GROUP BY term)
         SELECT id, term, score, rank FROM (
           SELECT tf.id, tf.term,
                  floor(tf.tf * ln((SELECT nn FROM n)::DOUBLE / dfq.df) * 10000 + 0.5)/10000 AS score,
                  CAST(row_number() OVER (PARTITION BY tf.id ORDER BY
                    floor(tf.tf * ln((SELECT nn FROM n)::DOUBLE / dfq.df) * 10000 + 0.5)/10000 DESC,
                    tf.term ASC) AS INT) AS rank
           FROM tf JOIN dfq ON tf.term = dfq.term)
         WHERE rank <= 3 ORDER BY id, rank""",
    "q14_token_stats" ->
      """SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_uniq,
                floor(count(*)::DOUBLE / count(DISTINCT doc_id) * 10000 + 0.5)/10000 AS tokens_per_doc
         FROM (SELECT lang, doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY lang ORDER BY lang""",
    "q15_ngrams" ->
      """SELECT bigram, count(*) AS cnt
         FROM (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ') for i in range(1, len(tk))]) AS bigram
               FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""",
    "q16_jaccard_neardup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                floor(len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) * 10000 + 0.5)/10000 AS jacc
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5
         ORDER BY doc_a, doc_b""",
    "q17_minhash_lsh" -> minhashLshOracle(),
    "q100_fuzzy_incremental" -> minhashIncrementalOracle(),
    // identical semantics to q100 — the stored-index plan must not change results
    "q176_index_dedup" -> minhashIncrementalOracle(),
    // index deletion ≡ recompute against the corpus minus the deleted docs
    "q190_index_delete" ->
      minhashIncrementalOracle("b.doc_id % 10 <> 0 AND b.doc_id % 3 <> 0"),
    // compaction must not change what deletion already decided
    "q191_index_compact" ->
      minhashIncrementalOracle("b.doc_id % 10 <> 0 AND b.doc_id % 3 <> 0"),
    "q104_heavy_hitters" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token""",
    "q106_name_match" ->
      """WITH m AS (
           SELECT c_custkey k, c_name n,
                  unnest([concat(substr(c_name, 1, i-1), substr(c_name, i+1))
                          for i in range(1, len(c_name)+1)]) mk
           FROM customer),
         cand AS (
           SELECT DISTINCT a.k AS id_a, b.k AS id_b
           FROM m a JOIN m b ON a.mk = b.mk AND a.k < b.k)
         SELECT id_a, id_b, CAST(levenshtein(x.c_name, y.c_name) AS INT) AS dist
         FROM cand JOIN customer x ON id_a = x.c_custkey
                   JOIN customer y ON id_b = y.c_custkey
         WHERE levenshtein(x.c_name, y.c_name) <= 1
         ORDER BY id_a, id_b""",
    "q107_weighted_sample" ->
      """WITH s AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS sw, CAST(count(*) AS DOUBLE) AS n
                    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents CROSS JOIN s
         WHERE n_chars IS NOT NULL AND n_chars > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
               < floor(10000 * least(1.0, 0.2 * n * CAST(n_chars AS DOUBLE) / sw))
         GROUP BY lang ORDER BY lang""",
    "q108_collocations" ->
      """WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         uni AS (SELECT w, count(*) AS nw FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
         bi AS (SELECT bg, count(*) AS nxy
                FROM (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
                                     for i in range(1, len(tk))]) AS bg FROM tk)
                GROUP BY bg HAVING count(*) >= 5),
         tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS t,
                        CAST(sum(CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END) AS BIGINT) AS b
                 FROM tk)
         SELECT bg AS bigram, nxy AS n,
                floor(ln(CAST(nxy * t * t AS DOUBLE) / CAST(b * u1.nw * u2.nw AS DOUBLE))
                      * 10000 + 0.5)/10000 AS pmi
         FROM bi
         CROSS JOIN tot
         JOIN uni u1 ON split_part(bg, ' ', 1) = u1.w
         JOIN uni u2 ON split_part(bg, ' ', 2) = u2.w
         ORDER BY n DESC, bigram LIMIT 15""",
    "q109_bm25" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(tk)) AS DOUBLE) AS tt FROM tk),
         tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk)
                WHERE term IN ('the', 'data', 'der', 'la', 'model')
                GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT term, doc_id,
                floor(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                      (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / (tt / n))))
                      * 10000 + 0.5)/10000 AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN st)
         SELECT term, doc_id, score
         FROM (SELECT sc.*, row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rn
               FROM sc)
         WHERE rn <= 5
         ORDER BY term, score DESC, doc_id""",
    "q110_incremental_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                floor(sum(o_totalprice) * 10000 + 0.5)/10000 AS sum_price,
                floor(min(o_totalprice) * 10000 + 0.5)/10000 AS min_price,
                floor(max(o_totalprice) * 10000 + 0.5)/10000 AS max_price,
                floor(sum(o_totalprice) / count(*) * 10000 + 0.5)/10000 AS avg_price
         FROM orders
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q112_scd2" ->
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
                lead(o_orderdate) OVER w AS valid_to,
                lead(o_orderdate) OVER w IS NULL AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, valid_from, o_orderkey""",
    "q115_retention" ->
      """WITH fw AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
                     FROM events GROUP BY user_id),
         aw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                FROM events)
         SELECT cohort_week,
                CAST((epoch(week) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
                count(DISTINCT user_id) AS n_active
         FROM fw JOIN aw USING (user_id)
         GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",
    "q113_ohlc" ->
      """WITH r AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
                  row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                     ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                     ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT event_type, day,
                max(CASE WHEN ra = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rd = 1 THEN value END) AS close,
                count(*) AS n
         FROM r GROUP BY event_type, day ORDER BY event_type, day""",
    "q114_funnel" ->
      """WITH fc AS (
           SELECT user_id, min(ts) AS fc FROM events
           WHERE event_type = 'click' GROUP BY user_id),
         conv AS (
           SELECT fc.user_id FROM fc WHERE EXISTS (
             SELECT 1 FROM events p
             WHERE p.user_id = fc.user_id AND p.event_type = 'purchase'
               AND p.ts >= fc.fc AND p.ts <= fc.fc + INTERVAL 1 HOUR))
         SELECT CAST(date_trunc('day', fc) AS TIMESTAMP) AS cohort,
                count(*) AS n_users,
                CAST(count(*) FILTER (user_id IN (SELECT user_id FROM conv)) AS BIGINT) AS n_converted,
                floor(CAST(count(*) FILTER (user_id IN (SELECT user_id FROM conv)) AS DOUBLE)
                      / count(*) * 10000 + 0.5)/10000 AS conv_rate
         FROM fc GROUP BY cohort ORDER BY cohort""",
    "q102_upsert" ->
      """SELECT o_orderkey, o_orderstatus,
                floor((CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 1.1
                            ELSE o_totalprice END) * 10000 + 0.5)/10000 AS price4
         FROM orders ORDER BY o_orderkey""",
    // identical semantics driven through the pure-SQL surface (q90)
    "q90_sql_neardup" -> minhashLshOracle(),
    // the per-language scoped form (q93)
    "q93_scoped_neardup" -> minhashLshOracle(scoped = true),
    "q18_dedup_digest" ->
      """SELECT event_id, props FROM (
           -- mirror dedupByDigest's NULL pass-through (NULL ≠ equal content)
           SELECT event_id, props FROM events WHERE props IS NOT NULL
           QUALIFY row_number() OVER (PARTITION BY props ORDER BY event_id) = 1
           UNION ALL
           SELECT event_id, props FROM events WHERE props IS NULL)
         ORDER BY event_id""",
    "q19_simhash" ->
      """SELECT doc_id,
                CAST(list_sum([CASE WHEN list_sum([((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) * 2 - 1
                                                  for t in list_distinct(string_split_regex(lower(trim(text)), '\s+'))]) > 0
                               THEN (1::BIGINT << b) ELSE 0::BIGINT END
                               for b in range(0, 16)]) AS BIGINT) AS simhash
         FROM documents ORDER BY doc_id""",
    "q20_fingerprint" ->
      """SELECT doc_id,
                list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(text, '')]),
                            (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    "q21_langid" ->
      """WITH s AS (
           SELECT doc_id, lang,
                  len(list_intersect(tk, ['der','die','das','und'])) s_de,
                  len(list_intersect(tk, ['the','a','of','and'])) s_en,
                  len(list_intersect(tk, ['el','la','los','y'])) s_es,
                  len(list_intersect(tk, ['le','les','une','et'])) s_fr,
                  len(list_intersect(tk, ['shi','bu','wo','zhe'])) s_zh
           FROM (SELECT doc_id, lang, list_distinct(string_split_regex(lower(trim(text)), '\s+')) tk FROM documents))
         SELECT doc_id, lang,
                CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                     WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                     WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                     ELSE 'zh' END AS pred
         FROM s ORDER BY doc_id""",
    "q22_quality" ->
      """WITH q AS (
           SELECT doc_id, len(tk) n_tokens, length(text) n_chars,
                  len(list_filter(tk, t -> t IN ('the','a','of','and'))) stop_cnt
           FROM (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') tk FROM documents)),
         sc AS (
           SELECT doc_id, n_tokens,
                  floor(stop_cnt::DOUBLE / n_tokens * 10000 + 0.5)/10000 AS stop_ratio,
                  floor(n_chars::DOUBLE / n_tokens * 10000 + 0.5)/10000 AS chars_per_token,
                  floor((least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0) - (stop_cnt::DOUBLE / n_tokens) * 0.5) * 10000 + 0.5)/10000 AS score
           FROM q)
         SELECT doc_id, n_tokens, stop_ratio, chars_per_token, score,
                CASE WHEN score >= 0.5 THEN 'high' WHEN score >= 0.2 THEN 'mid' ELSE 'low' END AS bucket
         FROM sc ORDER BY doc_id""",
    "q70_decontaminate" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 37 <> 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ') for i in range(1, len(tk)-3)])) s
           FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk FROM documents WHERE doc_id % 37 = 0)),
         bad AS (
           SELECT DISTINCT doc_id FROM (
             SELECT doc_id, unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ') for i in range(1, len(tk)-3)])) s
             FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM corpus))
           WHERE s IN (SELECT s FROM bench))
         SELECT doc_id, lang FROM corpus
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    "q99_bloom_decontaminate" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         ORDER BY o_orderkey""",
    "q74_repetition" ->
      """WITH tkx AS (
           SELECT doc_id, tk,
                  [array_to_string(list_slice(tk, i, i+1), ' ') for i in range(1, len(tk))] bg
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         SELECT doc_id,
                floor(list_max([len(list_filter(tk, x -> x = t)) for t in list_distinct(tk)])::DOUBLE
                      / len(tk) * 10000 + 0.5)/10000 AS top_tok_ratio,
                floor((CASE WHEN len(bg) > 0
                            THEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                            ELSE 0.0 END) * 10000 + 0.5)/10000 AS dup_bigram_ratio
         FROM tkx ORDER BY doc_id""",
    "q23_token_count" ->
      """SELECT lang,
                CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]'))) AS BIGINT) AS bpe_tokens,
                CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS ws_tokens,
                floor(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')))::DOUBLE
                      / sum(len(string_split_regex(lower(trim(text)), '\s+'))) * 10000 + 0.5)/10000 AS bpe_per_ws
         FROM documents GROUP BY lang ORDER BY lang""",
    "q116_ngram_dup_spans" ->
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                       FROM documents),
         wins AS (SELECT doc_id,
                         unnest(range(0, greatest(len(tk) - 3, 0))) AS pos,
                         unnest([md5(array_to_string(list_slice(tk, i, i + 3), ' '))
                                 for i in range(1, greatest(len(tk) - 3, 0) + 1)]) AS h
                  FROM base),
         dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id, tpos FROM (
                   SELECT w.doc_id, unnest([w.pos, w.pos + 1, w.pos + 2, w.pos + 3]) AS tpos
                   FROM wins w JOIN dup USING (h))),
         cnt AS (SELECT doc_id, count(*) c FROM cov GROUP BY doc_id)
         SELECT b.doc_id, len(b.tk) AS n_tokens,
                coalesce(cnt.c, 0) AS covered,
                CASE WHEN len(b.tk) > 0
                     THEN floor(coalesce(cnt.c, 0)::DOUBLE / len(b.tk) * 10000 + 0.5)/10000
                     ELSE 0.0 END AS coverage
         FROM base b LEFT JOIN cnt USING (doc_id) ORDER BY doc_id""",
    "q119_bpe_pairs" ->
      """WITH v AS (SELECT w, count(*) nw FROM (
                      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) w
                      FROM documents) GROUP BY w),
         p AS (SELECT nw, unnest([substr(w, i, 2) for i in range(1, len(w))]) pair
               FROM v WHERE len(w) >= 2)
         SELECT pair, CAST(sum(nw) AS BIGINT) AS cnt
         FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",
    "q120_category_drift" ->
      """WITH r AS (SELECT lang, count(*) c FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
         rn AS (SELECT CAST(count(*) AS DOUBLE) n FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT lang, count(*) c FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
         cn AS (SELECT CAST(count(*) AS DOUBLE) n FROM documents WHERE doc_id % 2 = 1),
         rs AS (SELECT lang, c / n p_ref FROM r CROSS JOIN rn),
         cs AS (SELECT lang, c / n p_cur FROM c CROSS JOIN cn)
         SELECT rs.lang, floor(p_ref * 10000 + 0.5)/10000 AS p_ref,
                floor(p_cur * 10000 + 0.5)/10000 AS p_cur,
                floor((p_cur - p_ref) * ln(p_cur / p_ref) * 1000000 + 0.5)/1000000 AS psi_term
         FROM rs JOIN cs ON rs.lang IS NOT DISTINCT FROM cs.lang
         ORDER BY rs.lang NULLS FIRST""",
    "q121_clip_dup_spans" ->
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                       FROM documents),
         wins AS (SELECT doc_id,
                         unnest(range(0, greatest(len(tk) - 3, 0))) AS pos,
                         unnest([md5(array_to_string(list_slice(tk, i, i + 3), ' '))
                                 for i in range(1, greatest(len(tk) - 3, 0) + 1)]) AS h
                  FROM base),
         marked AS (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY h) occ,
                           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
                    FROM wins),
         clip AS (SELECT DISTINCT doc_id, tpos FROM (
                    SELECT doc_id, unnest([pos, pos + 1, pos + 2, pos + 3]) AS tpos
                    FROM marked WHERE occ >= 2 AND rn > 1)),
         tokpos AS (SELECT doc_id, unnest(range(0, len(tk))) tpos, unnest(tk) tok FROM base),
         kept AS (SELECT doc_id, count(*) n_kept,
                         string_agg(tok, ' ' ORDER BY tpos) clean_text
                  FROM tokpos t
                  WHERE NOT EXISTS (SELECT 1 FROM clip c
                                    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos)
                  GROUP BY doc_id)
         SELECT b.doc_id, len(b.tk) AS n_tokens,
                coalesce(k.n_kept, 0) AS n_kept,
                coalesce(k.clean_text, '') AS clean_text
         FROM base b LEFT JOIN kept k USING (doc_id) ORDER BY doc_id""",
    "q122_name_similarity" ->
      """WITH n AS (SELECT p_name nm, count(*) n FROM part GROUP BY p_name),
         p AS (SELECT nm, n, split_part(lower(trim(nm)), ' ', 1) blk FROM n)
         SELECT a.nm AS name_a, b.nm AS name_b,
                floor(jaro_winkler_similarity(a.nm, b.nm) * 10000 + 0.5)/10000 AS jw,
                a.n AS n_a, b.n AS n_b
         FROM p a JOIN p b ON a.blk = b.blk AND a.nm < b.nm
         WHERE floor(jaro_winkler_similarity(a.nm, b.nm) * 10000 + 0.5)/10000 >= 0.85
         ORDER BY name_a, name_b""",
    "q203_bpe_train" -> bpeTrainOracle(8),
    "q204_bpe_encode" -> bpeEncodeOracle(8),
  )

  /** q203's oracle: `Text.bpeTrain`'s k merge rounds unrolled as chained
    * CTEs — each round's top pair from the previous round's spaced-symbol
    * vocabulary, then the SAME single-`replace` greedy-merge device the
    * Spark side uses (see the [[graft.ops.Text.bpeTrain]] scaladoc for why
    * one left-to-right `replace` over double-space separators IS the BPE
    * merge). Data-dependent loops cannot be written in one static SQL
    * string, so the round count is fixed and unrolled — the q198/q199
    * converge-oracle trick, minus the fixpoint (BPE never converges, it
    * just stops at k).
    */
  private def bpeTrainOracle(k: Int): String = {
    val sel = (1 to k).map(r =>
      s"SELECT $r AS merge_rank, a AS sym_a, b AS sym_b, a || b AS merged, cnt FROM t$r")
      .mkString("\n         UNION ALL ")
    s"${bpeRoundsCte(k)}\n         $sel\n         ORDER BY merge_rank"
  }

  /** q204's oracle: the same k training rounds, then the encode vocabulary
    * (1-char words kept — merges never touch them), the k merges applied as
    * one nested replace chain, and the per-document word→symbol-count join.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val chain = (1 to k).foldLeft("s") { (acc, r) =>
      s"replace($acc, coalesce(' ' || (SELECT a FROM t$r) || '  ' || (SELECT b FROM t$r) || ' ', '   '), coalesce(' ' || (SELECT a || b FROM t$r) || ' ', '   '))"
    }
    s"""${bpeRoundsCte(k)},
         enc AS MATERIALIZED (
                SELECT w, len(string_split(trim($chain), '  ')) n_syms
                FROM (SELECT w, ' ' || array_to_string([substr(w, i, 1) for i in range(1, len(w) + 1)], '  ') || ' ' s
                      FROM v WHERE len(w) >= 1)),
         dw AS (SELECT doc_id, w FROM (
                  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) w
                  FROM documents) WHERE len(w) >= 1),
         cnts AS (SELECT doc_id, count(*) n_words, CAST(sum(n_syms) AS BIGINT) n_bpe_tokens
                  FROM dw JOIN enc USING (w) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(c.n_words, 0) AS BIGINT) AS n_words,
                CAST(coalesce(c.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         FROM documents d LEFT JOIN cnts c USING (doc_id)
         ORDER BY d.doc_id"""
  }

  /** Shared CTE chain for q203/q204: word-frequency vocabulary, then k
    * unrolled (pair-count → argmax `t_r` → merge-applied `w_r`) rounds.
    *
    * AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
    * every round references its predecessor several times (t_r three times
    * in w_r alone) — inlined, the unrolled chain re-expands w0 ~4^k times
    * and exhausts file handles before it exhausts patience.
    *
    * The `coalesce(…, '   ')` guards (here and in the encode chain): when
    * merges exhaust before round k, t_r is empty and its scalar subqueries
    * go NULL — an unguarded `replace(s, NULL, NULL)` NULL-poisons every
    * word (the engine side treats an exhausted round as a no-op). Three
    * consecutive spaces can never occur in a spaced-symbol string (symbols
    * are non-space, separators are double spaces, boundaries single), so
    * the sentinel pattern is a guaranteed no-match — the exhausted round
    * replays as the identity.
    */
  private def bpeRoundsCte(k: Int): String = {
    val head =
      """WITH v AS MATERIALIZED (SELECT w, count(*) nw FROM (
                      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) w
                      FROM documents) GROUP BY w),
         w0 AS MATERIALIZED (SELECT ' ' || array_to_string([substr(w, i, 1) for i in range(1, len(w) + 1)], '  ') || ' ' s,
                       nw
                FROM v WHERE len(w) >= 2)"""
    val rounds = (1 to k).map { r =>
      s""",
         t$r AS MATERIALIZED (
                 SELECT a, b, CAST(sum(nw) AS BIGINT) cnt
                 FROM (SELECT unnest(l[1:len(l)-1]) a, unnest(l[2:len(l)]) b, nw
                       FROM (SELECT string_split(trim(s), '  ') l, nw FROM w${r - 1}))
                 GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         w$r AS MATERIALIZED (
                 SELECT replace(s,
                   coalesce(' ' || (SELECT a FROM t$r) || '  ' || (SELECT b FROM t$r) || ' ', '   '),
                   coalesce(' ' || (SELECT a || b FROM t$r) || ' ', '   ')) s, nw FROM w${r - 1})"""
    }.mkString
    head + rounds
  }

  /** q205's oracle: q103's equal-population binning (at 2^bits cells per
    * axis), then `Storage.hilbertValue`'s quadrant-rotation arithmetic
    * unrolled as one CTE step per bit level — integer-exact, replayed
    * verbatim (reflection within the FULL grid at every level).
    */
  private def hilbertCellsOracle(bits: Int): String = {
    val n  = 1L << bits
    val n1 = n - 1
    val steps = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, j) =>
      val s = 1L << i
      s""",
         h${j + 1} AS (
           SELECT CASE WHEN (y & $s) = 0
                       THEN CASE WHEN (x & $s) > 0 THEN $n1 - y ELSE y END
                       ELSE x END AS x,
                  CASE WHEN (y & $s) = 0
                       THEN CASE WHEN (x & $s) > 0 THEN $n1 - x ELSE x END
                       ELSE y END AS y,
                  d + ${s * s} * xor(CASE WHEN (x & $s) > 0 THEN 3 ELSE 0 END,
                                     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
           FROM h$j)"""
    }.mkString
    s"""WITH cx AS (SELECT quantile_cont(value, [x / $n.0 for x in range(1, ${n.toInt})]) AS cs FROM events),
         cy AS (SELECT quantile_cont(user_id, [x / $n.0 for x in range(1, ${n.toInt})]) AS cs FROM events),
         b AS (
           SELECT len(list_filter((SELECT cs FROM cx), c -> c <= value)) AS bx,
                  len(list_filter((SELECT cs FROM cy), c -> c <= user_id)) AS qb
           FROM events),
         h0 AS (SELECT CAST(bx AS BIGINT) AS x, CAST(qb AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM b)$steps
         SELECT d AS h, count(*) AS n FROM h$bits GROUP BY d ORDER BY d"""
  }

  /** q210's oracle: 4-bin quantile binning on three columns, then
    * Skilling's transpose algorithm (the exact
    * [[graft.expr.HilbertIndex]] arithmetic) unrolled for dims = 3,
    * bits = 2 — one CTE per inner-loop step (the q = 2 inverse-undo pass
    * over i = 0, 1, 2), then the Gray encode, the trailing-t fold, and
    * the bit interleave. Integer-exact at every step.
    */
  private def hilbert3dCellsOracle: String =
    """WITH cx AS (SELECT quantile_cont(value, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       cy AS (SELECT quantile_cont(user_id, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       cz AS (SELECT quantile_cont(event_id, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       b AS (
         SELECT CAST(len(list_filter((SELECT cs FROM cx), c -> c <= value)) AS BIGINT) AS x0,
                CAST(len(list_filter((SELECT cs FROM cy), c -> c <= user_id)) AS BIGINT) AS x1,
                CAST(len(list_filter((SELECT cs FROM cz), c -> c <= event_id)) AS BIGINT) AS x2
         FROM events),
       s1 AS (SELECT CASE WHEN (x0 & 2) > 0 THEN xor(x0, 1) ELSE x0 END AS x0, x1, x2 FROM b),
       s2 AS (SELECT CASE WHEN (x1 & 2) > 0 THEN xor(x0, 1)
                          ELSE xor(x0, xor(x0, x1) & 1) END AS x0,
                     CASE WHEN (x1 & 2) > 0 THEN x1
                          ELSE xor(x1, xor(x0, x1) & 1) END AS x1, x2 FROM s1),
       s3 AS (SELECT CASE WHEN (x2 & 2) > 0 THEN xor(x0, 1)
                          ELSE xor(x0, xor(x0, x2) & 1) END AS x0, x1,
                     CASE WHEN (x2 & 2) > 0 THEN x2
                          ELSE xor(x2, xor(x0, x2) & 1) END AS x2 FROM s2),
       g AS (SELECT x0, xor(x1, x0) AS x1, xor(x2, xor(x1, x0)) AS x2 FROM s3),
       f AS (SELECT x0, x1, x2, CASE WHEN (x2 & 2) > 0 THEN 1 ELSE 0 END AS t FROM g),
       h AS (SELECT ((xor(x0, t) >> 1) & 1) * 32 + ((xor(x1, t) >> 1) & 1) * 16 +
                    ((xor(x2, t) >> 1) & 1) * 8 + (xor(x0, t) & 1) * 4 +
                    (xor(x1, t) & 1) * 2 + (xor(x2, t) & 1) AS hv
             FROM f)
       SELECT hv AS h, count(*) AS n FROM h GROUP BY hv ORDER BY hv"""

  private def similarityOracles: Map[String, String] = Map(
    "q117_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(embedding) = (SELECT len(embedding) FROM embeddings
                                       WHERE embedding IS NOT NULL
                                       ORDER BY vec_id LIMIT 1)),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) cid, v c
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT vec_id, v, cid FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           floor(list_reduce(list_prepend(0.0::DOUBLE,
                             [(e.v[i] - c.c[i]) * (e.v[i] - c.c[i]) for i in range(1, len(e.v) + 1)]),
                             (a, b) -> a + b) * 1000000 + 0.5)/1000000, c.cid) rn
                  FROM e CROSS JOIN c0 c) WHERE rn = 1),
         c1 AS (SELECT cid, list(m ORDER BY i) c FROM (
                  SELECT cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
                  FROM (SELECT cid, unnest(v) x, generate_subscripts(v, 1) i FROM a1)
                  GROUP BY cid, i) GROUP BY cid),
         a2 AS (SELECT vec_id, v, cid FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           floor(list_reduce(list_prepend(0.0::DOUBLE,
                             [(e.v[i] - c.c[i]) * (e.v[i] - c.c[i]) for i in range(1, len(e.v) + 1)]),
                             (a, b) -> a + b) * 1000000 + 0.5)/1000000, c.cid) rn
                  FROM e CROSS JOIN c1 c) WHERE rn = 1),
         c2 AS (SELECT cid, list(m ORDER BY i) c FROM (
                  SELECT cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
                  FROM (SELECT cid, unnest(v) x, generate_subscripts(v, 1) i FROM a2)
                  GROUP BY cid, i) GROUP BY cid),
         n2 AS (SELECT cid, count(*) n FROM a2 GROUP BY cid)
         SELECT a2.vec_id, a2.cid AS cluster, n2.n AS n,
                c2.c[1] AS c0,
                floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in c2.c]),
                  (a, b) -> a + b)) * 10000 + 0.5)/10000 AS cnorm
         FROM a2 JOIN n2 USING (cid) JOIN c2 USING (cid)
         ORDER BY vec_id""",
    "q118_covariance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         x AS (SELECT vec_id, unnest(v) val, generate_subscripts(v, 1) i FROM e),
         p AS (SELECT a.i ai, b.i bj, sum(a.val * b.val) sxy,
                      sum(a.val) sx, sum(b.val) sy, count(*) n
               FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
               GROUP BY a.i, b.i)
         SELECT CAST(ai - 1 AS INT) i, CAST(bj - 1 AS INT) j,
                floor((sxy - sx * sy / n) / n * 1000000 + 0.5)/1000000 AS cov
         FROM p ORDER BY i, j""",
    "q101_int8_quant" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE embedding IS NOT NULL),
         s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
         qv AS (SELECT vec_id, v, scale,
                      CASE WHEN scale = 0 THEN [0.0 for x in v]
                           ELSE [floor(x / scale + 0.5) for x in v] END AS q
                FROM s)
         SELECT vec_id,
                floor(scale * 10000 + 0.5)/10000 AS scale4,
                floor(list_reduce(list_prepend(0.0::DOUBLE, [v[i] * q[i] for i in range(1, len(v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in q]), (a, b) -> a + b)))
                      * 10000 + 0.5)/10000 AS cos_q
         FROM qv ORDER BY vec_id""",
    "q24_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 2000),
         s AS (
           SELECT p.vec_id probe_id, c.vec_id neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [p.v[i] * c.v[i] for i in range(1, len(p.v) + 1)]), (a, b) -> a + b)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in p.v]), (a, b) -> a + b))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in c.v]), (a, b) -> a + b)))
                        * 10000 + 0.5)/10000 AS sim
           FROM e p JOIN e c ON p.vec_id % 10 = 0 AND p.vec_id <> c.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank""",
    "q25_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 2000),
         s AS (
           SELECT a.vec_id vec_a, b.vec_id vec_b,
                  list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y))) AS c
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, floor(c * 10000 + 0.5)/10000 AS sim
         FROM s WHERE floor(c * 10000 + 0.5)/10000 >= 0.4 ORDER BY vec_a, vec_b""",
    "q26_ann_lsh" ->
      """WITH params AS (
           SELECT least(30, greatest(3, CAST(ceil(ln(greatest(count(embedding)::DOUBLE / 250.0, 1.0)) / ln(2.0)) AS INT))) AS np
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         eb AS (
           SELECT vec_id, t,
                  CAST(list_sum([
                    CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                           [v[d + 1] * (CASE WHEN ('0x' || substr(md5((t*100 + p)::VARCHAR || '_' || (d::VARCHAR)), 1, 15))::BIGINT % 2 = 1
                                         THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
                            for d in range(0, len(v))]), (a, b) -> a + b) > 0
                    THEN (1::BIGINT << p) ELSE 0::BIGINT END
                    for p in range(0, np)]) AS BIGINT) AS bucket
           FROM e, params, unnest([0,1,2,3,4,5,6,7,8,9,10,11]) tt(t)),
         cand AS (
           SELECT DISTINCT a.vec_id probe_id, b.vec_id neighbor_id
           FROM eb a JOIN eb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         s AS (
           SELECT probe_id, neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [pa.v[i] * pb.v[i] for i in range(1, len(pa.v) + 1)]), (x, y) -> x + y)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in pa.v]), (x, y) -> x + y))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in pb.v]), (x, y) -> x + y)))
                        * 10000 + 0.5)/10000 AS sim
           FROM cand JOIN e pa ON probe_id = pa.vec_id JOIN e pb ON neighbor_id = pb.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank""",
    "q58_ivf_ann" ->
      """WITH params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         seeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                   WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, s_id AS cell, rn FROM (
             SELECT e.vec_id, e.v, seeds.s_id,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * seeds.sv[i] for i in range(1, len(e.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in seeds.sv]), (a, b) -> a + b))) DESC,
                      seeds.s_id ASC) rn
             FROM e, seeds)
           WHERE rn <= 6),
         s AS (
           SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y)))
                        * 10000 + 0.5)/10000 AS sim
           FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank""",
    "q111_semantic_dedup" ->
      """WITH RECURSIVE params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE)) AS INT)) AS nc
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE embedding IS NOT NULL),
         seeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                   WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, cell FROM (
             SELECT e.vec_id, e.v, seeds.s_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * seeds.sv[i] for i in range(1, len(e.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in seeds.sv]), (a, b) -> a + b))) DESC,
                      seeds.s_id ASC) rn
             FROM e, seeds)
           WHERE rn = 1),
         pr AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE floor(list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                          * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y)))
                       * 10000 + 0.5)/10000 >= 0.4),
         edges AS (SELECT id_a AS u, id_b AS v2 FROM pr UNION SELECT id_b, id_a FROM pr),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e2.v2, w.root FROM walk w JOIN edges e2 ON e2.u = w.id)
         SELECT id AS doc_id, min(root) AS comp, (id = min(root)) AS keep
         FROM walk GROUP BY id ORDER BY doc_id""",
    "q27_vector_mean" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos, floor(avg(x) * 10000 + 0.5)/10000 AS mv
         FROM (SELECT label, unnest(embedding::DOUBLE[]) x, generate_subscripts(embedding, 1) i FROM embeddings)
         GROUP BY label, i ORDER BY label, pos""",
    "q28_array_ops" ->
      """SELECT vec_id, len(embedding) AS dim,
                floor(embedding[1]::DOUBLE * 10000 + 0.5)/10000 AS first_val,
                floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x::DOUBLE * x::DOUBLE for x in embedding]), (a, b) -> a + b)) * 10000 + 0.5)/10000 AS l2norm
         FROM embeddings ORDER BY vec_id""",

    "q178_pq_encode" ->
      s"""${pqTrainCtesSql()},
         r AS (SELECT e2.vec_id, e2.v, k0.cid code0, k1.cid code1, list_concat(cc0.c, cc1.c) rv
               FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                       JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid)
         SELECT vec_id, code0, code1,
                floor(list_reduce(list_prepend(0.0::DOUBLE, [v[i] * rv[i] for i in range(1, len(v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in rv]), (a, b) -> a + b)))
                      * 10000 + 0.5)/10000 AS recon_cos
         FROM r ORDER BY vec_id""",

    "q179_pq_adc" ->
      s"""${pqTrainCtesSql()},
         enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
                 FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                         JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
         cand AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
                    floor((list_reduce(list_prepend(0.0::DOUBLE,
                             [(p.v0[i] - c.w0[i]) * (p.v0[i] - c.w0[i]) for i in range(1, len(p.v0) + 1)]), (a, b) -> a + b)
                           + list_reduce(list_prepend(0.0::DOUBLE,
                             [(p.v1[i] - c.w1[i]) * (p.v1[i] - c.w1[i]) for i in range(1, len(p.v1) + 1)]), (a, b) -> a + b))
                          * 1000000 + 0.5)/1000000 d6
                  FROM e2 p JOIN enc c ON p.vec_id % 25 = 0 AND p.vec_id <> c.vec_id
                   AND p.vec_id < 2000 AND c.vec_id < 2000)
         SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
         WHERE rn <= 3 ORDER BY probe_id, rank""",

    "q181_ivfpq" ->
      s"""${pqTrainCtesSql()},
         params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
           FROM embeddings),
         ivfseeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, s_id AS cell, rn FROM (
             SELECT e2.vec_id, e2.v, ivfseeds.s_id,
                    row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e2.v[i] * ivfseeds.sv[i] for i in range(1, len(e2.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e2.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in ivfseeds.sv]), (a, b) -> a + b))) DESC,
                      ivfseeds.s_id ASC) rn
             FROM e2, ivfseeds)
           WHERE rn <= 6),
         enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
                 FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                         JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
         cand AS (SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                    floor((list_reduce(list_prepend(0.0::DOUBLE,
                             [(a.v[i] - w.w0[i]) * (a.v[i] - w.w0[i]) for i in range(1, 33)]), (x, y) -> x + y)
                           + list_reduce(list_prepend(0.0::DOUBLE,
                             [(a.v[i + 32] - w.w1[i]) * (a.v[i + 32] - w.w1[i]) for i in range(1, 33)]), (x, y) -> x + y))
                          * 1000000 + 0.5)/1000000 d6
                  FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id
                       JOIN enc w ON w.vec_id = b.vec_id)
         SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
         WHERE rn <= 3 ORDER BY probe_id, rank""",

    "q183_pq_index_search" -> pqIndexSearchOracle(),
    "q209_pq_refine" -> pqRefineOracle(refineR = 12, k = 3),
    // q183's replay with the deleted ids excluded from the STORED side
    // only — the frozen model still routes probes and survivors identically
    "q192_pq_index_delete" ->
      pqIndexSearchOracle("NOT (b.vec_id % 9 = 0 AND b.vec_id >= 8)"),

    "q180_logreg_quality" ->
      s"""${logregCtesSql()},
         sel AS (SELECT f.doc_id, f.y, 1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2))) sc,
                        g3.w0 w0, g3.w1 w1, g3.w2 w2
                 FROM f, g3 WHERE f.doc_id % 20 = 0)
         SELECT doc_id, floor(sc*10000+0.5)/10000 AS score4,
                (floor(sc*10000+0.5)/10000 >= 0.5)::INT AS pred,
                y::INT AS is_en, w0, w1, w2
         FROM sel ORDER BY doc_id""",

    "q182_calibration" ->
      s"""${logregCtesSql()},
         sc AS (SELECT least(CAST(floor(s4 * 10) AS INT), 9) bin, s4, y::INT yy
                FROM (SELECT f.y, floor(1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2)))*10000+0.5)/10000 s4
                      FROM f, g3))
         SELECT bin, count(*) n, count(*) FILTER (WHERE yy = 1) n_pos,
                CAST(SUM(CAST(s4 AS DECIMAL(27,4))) AS DOUBLE) / count(s4) AS avg_score,
                floor(CAST(count(*) FILTER (WHERE yy = 1) AS DOUBLE) / count(*) * 10000 + 0.5)/10000 AS pos_rate
         FROM sc GROUP BY bin ORDER BY bin""",
    // Replays the cdcFixture versions from the base table, then classifies
    // by VALUE comparison (like the engine's struct compare) — not by the
    // %5 reprice rule, so a price that doubles to itself would correctly
    // read as unchanged in both engines.
    "q186_txtable_cdc" ->
      s"""$cdcVersionsSql,
         pair AS (SELECT v1.o_orderkey,
                         v1.o_custkey b_ck, v1.o_orderstatus b_st, v1.o_totalprice b_pr,
                         v2.o_custkey a_ck, v2.o_orderstatus a_st, v2.o_totalprice a_pr
                  FROM v1 JOIN v2 USING (o_orderkey)),
         chg AS (SELECT * FROM pair
                 WHERE b_ck IS DISTINCT FROM a_ck OR b_st IS DISTINCT FROM a_st
                    OR b_pr IS DISTINCT FROM a_pr)
         SELECT v2.*, 'insert' AS change FROM v2
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
         UNION ALL
         SELECT v1.*, 'delete' FROM v1
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
         UNION ALL
         SELECT o_orderkey, b_ck, b_st, b_pr, 'update_pre' FROM chg
         UNION ALL
         SELECT o_orderkey, a_ck, a_st, a_pr, 'update_post' FROM chg
         ORDER BY o_orderkey, change""",
    // Full recompute of the v2 snapshot — the maintained aggregate must
    // match it bit-exactly (decimal carrier on both sides).
    "q187_incremental_agg" ->
      s"""$cdcVersionsSql
         SELECT o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*) AS n_orders
         FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Full recompute of the final chained state: v2 plus the appended
    // keys%7==3 increment.
    "q188_cdc_chain" ->
      s"""$cdcVersionsSql,
         v3 AS (SELECT * FROM v2
                UNION ALL SELECT * FROM base WHERE o_orderkey % 7 = 3)
         SELECT o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*) AS n_orders
         FROM v3 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // The v1 → v3 window diff replayed directly from the snapshot
    // definitions (the intermediate v2 replace is irrelevant to the
    // endpoint diff — what the retention window buys is that v1 is still
    // READABLE after two later replaces).
    "q189_cdc_retention" ->
      s"""$cdcVersionsSql,
         v3 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 0.5
                            ELSE o_totalprice END AS o_totalprice
                FROM base WHERE o_orderkey % 7 <> 5),
         pair AS (SELECT v1.o_orderkey,
                         v1.o_custkey b_ck, v1.o_orderstatus b_st, v1.o_totalprice b_pr,
                         v3.o_custkey a_ck, v3.o_orderstatus a_st, v3.o_totalprice a_pr
                  FROM v1 JOIN v3 USING (o_orderkey)),
         chg AS (SELECT * FROM pair
                 WHERE b_ck IS DISTINCT FROM a_ck OR b_st IS DISTINCT FROM a_st
                    OR b_pr IS DISTINCT FROM a_pr)
         SELECT v3.*, 'insert' AS change FROM v3
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
         UNION ALL
         SELECT v1.*, 'delete' FROM v1
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v3)
         UNION ALL
         SELECT o_orderkey, b_ck, b_st, b_pr, 'update_pre' FROM chg
         UNION ALL
         SELECT o_orderkey, a_ck, a_st, a_pr, 'update_post' FROM chg
         ORDER BY o_orderkey, change""",

    // Replays the evoFixture union: v1 (no flag, NULL-filled) + the
    // appended flagged rows — the evolved snapshot is exactly the ragged
    // union-by-name of the two commits.
    "q200_schema_evolution" ->
      s"""$evoVersionsSql,
         t AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         SELECT o_orderstatus, o_flag, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM t GROUP BY o_orderstatus, o_flag
         ORDER BY o_orderstatus, o_flag NULLS FIRST""",

    // diff(v1, v2) across the evolution boundary: the append introduces
    // ONLY inserts (surviving rows NULL-fill to bit-equal images — no
    // spurious updates), so the aggregated feed is the flagged rows alone.
    "q201_evolution_diff" ->
      s"""$evoVersionsSql
         SELECT 'insert' AS change, o_orderstatus, count(*) AS n,
                CAST(SUM(o_flag) AS BIGINT) AS sum_flag,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM v2 GROUP BY o_orderstatus
         ORDER BY change, o_orderstatus""",

    // Replays the WAV payloads' generative formula (lane sums straight
    // from the sample arithmetic — the engine instead decodes the actual
    // bytes), builds the same dHash, and filters ALL pairs by Hamming
    // distance: the banded-LSH plan has pigeonhole recall 1.0, so it must
    // reproduce the quadratic filter exactly.
    "q202_audio_neardup" ->
      s"""WITH ${audioHashCtesSql("doc_id < 2000")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b""",

    // Capped audio flood: the dHash of doc 0 repeated 300×, then the
    // hot-bucket star bound replayed over the SAME band keys the engine
    // uses (31 bits → bands of 11/11/9 bits): buckets above 16 members
    // pair everyone with the bucket's min id only; cold buckets keep
    // exact all-pairs. DISTINCT over the union mirrors the engine's
    // capped-branch dedup; the Hamming verify then reproduces the
    // engine's map-side filter.
    "q206_audio_flood" ->
      s"""WITH ${audioHashCtesSql("doc_id < 200")},
         allh AS (
           SELECT doc_id, h FROM hx
           UNION ALL
           SELECT 1000000 + i AS doc_id, (SELECT h FROM hx WHERE doc_id = 0) AS h
           FROM range(300) t(i)),
         ${audioBandCtesSql},
         occ AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
                 FROM ex GROUP BY band, key),
         coldex AS (
           SELECT e.doc_id, e.h, e.band, e.key
           FROM ex e JOIN occ o ON e.band = o.band AND e.key = o.key AND o.n <= 16),
         cand AS (
           SELECT DISTINCT a, b, ha, hb FROM (
             SELECT x.doc_id AS a, y.doc_id AS b, x.h AS ha, y.h AS hb
             FROM coldex x JOIN coldex y
               ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
             UNION ALL
             SELECT o.rep AS a, e.doc_id AS b, r.h AS ha, e.h AS hb
             FROM ex e JOIN occ o ON e.band = o.band AND e.key = o.key
                       JOIN allh r ON r.doc_id = o.rep
             WHERE o.n > 16 AND e.doc_id <> o.rep))
         SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= 2
         ORDER BY a, b""",

    // Replays the PNG payloads' generative PIXEL formula (the engine
    // instead decodes the actual bytes: chunk walk, inflate, filter
    // reversal), folds to the same 8x8 luminance-grid dHash (bit
    // row*7+col iff the right cell outweighs the left), and filters ALL
    // pairs by Hamming distance — the banded plan must reproduce the
    // quadratic filter exactly (pigeonhole recall 1.0).
    "q208_image_neardup" ->
      s"""WITH ${pngHashCtesSql("doc_id < 1000")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b""",

    // Replays the derived-geometry audio dHash with the derivation ITSELF
    // in SQL — lanes = min(61, max(32, 1 + 4·w)) where w is the exact
    // smallest shift with 2^w ≥ count(*), the same integer arithmetic
    // dHashLanesFor runs (no float log2 on either side, so power-of-two
    // counts cannot diverge). SF-independent like every other oracle: at
    // the sf0.01 slice (500 docs) this is 37 lanes; a rule drift at ANY
    // scale fails the hash loudly. Verified at the query's maxHamming = 3.
    "q214_audio_neardup_derived" -> {
      val geo =
        """nn AS (SELECT count(*) AS n FROM documents WHERE doc_id < 2000),
          ww AS (SELECT MIN(t.w) AS w FROM range(1, 62) t(w), nn
                 WHERE (1::BIGINT << t.w) >= nn.n),
          geo AS (SELECT LEAST(61, GREATEST(32, 1 + 4 * w)) AS lanes FROM ww),"""
      s"""WITH $geo
         ${audioHashCtesSql("doc_id < 2000", "SELECT lanes FROM geo")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 3
         ORDER BY a, b"""
    },

    // The q208-family band layout (56 bits -> 19/19/18) folded to the
    // occupancy histogram, q207's construction on the raster hashes.
    "q219_image_occupancy" ->
      s"""WITH ${pngHashCtesSql("doc_id < 1000")},
         ex AS (
           SELECT doc_id, h, b.band,
                  (h >> (b.band * 19)) & (CASE WHEN b.band = 2 THEN 262143 ELSE 524287 END) AS key
           FROM hx, (VALUES (0), (1), (2)) b(band)),
         buck AS (SELECT band, key, count(*) AS occ FROM ex GROUP BY band, key)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ""",

    // Replays the JPEG payloads' generative structure (the engine instead
    // entropy-decodes the actual bitstream and runs the exact DC-only
    // IDCT): block b's decoded value is a ±1 random walk over the sign
    // mix, and the dHash's in-row comparison cell[b] < cell[b+1] is
    // EXACTLY "sign s_{b+1} is +1" — so the hash assembles directly from
    // the sign bits: bit (b//8)·7 + b%8 − 1 for every b not ≡ 0 (mod 8).
    // The uniform +r shift never appears (it cancels in every
    // comparison), which is the invariance q216 certifies.
    "q216_jpeg_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE doc_id < 1000),
         s AS (SELECT doc_id, g, r, unnest(range(1, 64)) AS b FROM d),
         sg AS (SELECT doc_id, b,
                       CASE WHEN r = 3
                            THEN (((doc_id % 65536) * (doc_id % 65536) + 7) * (b * b + 31)) % 65537 * 2654435761 % 65537 % 2
                            ELSE (((g % 65536) * (g % 65536) * 131 + 7) * (b * b * 17 + b + 31)) % 65537 * 2654435761 % 65537 % 2
                       END AS s
                FROM s),
         hx AS (SELECT doc_id,
                       CAST(SUM(CASE WHEN s = 1 AND b % 8 >= 1
                                     THEN (1::BIGINT << ((b // 8) * 7 + (b % 8) - 1))
                                     ELSE 0 END) AS BIGINT) AS h
                FROM sg GROUP BY doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b""",

    // Replays the image index lifecycle as the split + quadratic Hamming
    // filter over the PNG pixel-formula hashes (q213's construction on
    // the raster lane): a batch image survives iff NO indexed image is
    // within 2 bits — the banded probe has pigeonhole recall 1.0.
    "q215_image_index_dedup" ->
      s"""WITH ${pngHashCtesSql("doc_id < 1000")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 2)
         ORDER BY b.doc_id""",

    // Replays the GIF payloads' palette-index formula (the engine instead
    // walks the container and LZW-decodes the actual bitstream): palette
    // entry i is gray 2i, so luma = 1000·(2·idx); same 8x8 grid dHash and
    // all-pairs Hamming filter as q208.
    "q211_gif_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE doc_id < 1000),
         s AS (SELECT doc_id, g, r, unnest(range(256)) AS p FROM d),
         v AS (SELECT doc_id,
                      ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
                      CASE WHEN r = 3
                           THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (p * p + 31)) % 65537 * 2654435761 % 65537) % 122
                           ELSE (((((g % 65536) * (g % 65536) * 131 + 7) * (p * p * 17 + p + 31)) % 65537 * 2654435761 % 65537) % 122) + r
                      END AS idx
               FROM s),
         cells AS (SELECT doc_id, cell, SUM(2000 * idx) AS ls FROM v GROUP BY doc_id, cell),
         hx AS (SELECT a.doc_id,
                       CAST(SUM(CASE WHEN b.ls > a.ls
                                     THEN (1::BIGINT << ((a.cell // 8) * 7 + (a.cell % 8)))
                                     ELSE 0 END) AS BIGINT) AS h
                FROM cells a JOIN cells b
                  ON a.doc_id = b.doc_id AND b.cell = a.cell + 1 AND a.cell % 8 < 7
                GROUP BY a.doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b""",

    // Replays the split + the quadratic Hamming filter over the
    // generative-formula hashes: a batch clip survives iff NO stored clip
    // is within 2 bits (the banded probe has pigeonhole recall 1.0).
    "q213_audio_index_dedup" ->
      s"""WITH ${audioHashCtesSql("doc_id < 2000")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 2)
         ORDER BY b.doc_id""",

    // q213's split replayed at DERIVED geometry: the lane derivation runs
    // in SQL over the CORPUS half's count (the q214 device — exact
    // integer shift, no float log2), then the quadratic NOT-EXISTS filter
    // at the query's maxHamming 3. A drift in dHashLanesFor OR in the
    // _meta sidecar round-trip changes the hashes and fails loudly.
    "q220_audio_index_derived" -> {
      val geo =
        """nn AS (SELECT count(*) AS n FROM documents
                  WHERE doc_id < 2000 AND doc_id % 4 <= 1),
          ww AS (SELECT MIN(t.w) AS w FROM range(1, 62) t(w), nn
                 WHERE (1::BIGINT << t.w) >= nn.n),
          geo AS (SELECT LEAST(61, GREATEST(32, 1 + 4 * w)) AS lanes FROM ww),"""
      s"""WITH $geo
         ${audioHashCtesSql("doc_id < 2000", "SELECT lanes FROM geo")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 3)
         ORDER BY b.doc_id"""
    },

    // Replays the TWO-WORD dHash: gradient bit b lands in word b/60 at
    // position b%60, and the Hamming distance is the sum of the two
    // per-word popcounts. Reuses the shared generative lane CTEs at 101
    // lanes; the single-word hx CTE in that block is never referenced, so
    // DuckDB neither executes it nor evaluates its (would-overflow)
    // 1<<lane shift. The engine's banded plan — including the band that
    // straddles the word boundary — must reproduce this quadratic filter
    // bit-for-bit (pigeonhole recall 1.0).
    "q221_audio_neardup_wide" ->
      s"""WITH ${audioHashCtesSql("doc_id < 2000", "101")},
         hx2 AS (SELECT a.doc_id,
                  CAST(SUM(CASE WHEN b.ls > a.ls AND a.lane < 60
                                THEN (1::BIGINT << a.lane) ELSE 0 END) AS BIGINT) AS h0,
                  CAST(SUM(CASE WHEN b.ls > a.ls AND a.lane >= 60
                                THEN (1::BIGINT << (a.lane - 60)) ELSE 0 END) AS BIGINT) AS h1
                 FROM lanes a JOIN lanes b
                   ON a.doc_id = b.doc_id AND b.lane = a.lane + 1
                 GROUP BY a.doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) AS INT) AS hamming
         FROM hx2 x JOIN hx2 y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) <= 3
         ORDER BY a, b""",

    // Replays the mp4 synthesis field formulas (the engine instead walks
    // the actual box structure and parses mvhd/tkhd). dur_s: both engines
    // truncate the positive quotient (CAST of an exact small double vs //).
    "q212_mp4_info" ->
      """SELECT doc_id,
                CAST(1000 AS INT) AS timescale,
                CAST((doc_id % 100000) * 40 + 40 AS BIGINT) AS duration,
                CAST((doc_id * 7 + 13) % 1920 + 16 AS INT) AS width,
                CAST((doc_id * 11 + 7) % 1080 + 16 AS INT) AS height,
                CAST(((doc_id % 100000) * 40 + 40) // 1000 AS BIGINT) AS dur_s
         FROM documents ORDER BY doc_id""",

    // The same (band, key) buckets the q202 pair join uses, folded to an
    // occupancy histogram (q193's construction — occ·(occ−1) is even, so
    // the /2 is exact in both engines).
    "q207_audio_occupancy" ->
      s"""WITH ${audioHashCtesSql("doc_id < 2000")},
         allh AS (SELECT doc_id, h FROM hx),
         ${audioBandCtesSql},
         buck AS (SELECT band, key, count(*) AS occ FROM ex GROUP BY band, key)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ""",
  )

  /** DuckDB replay of the q202-family dHash: the generative sample formula
    * folded to per-lane sums, then gradient-sign bits. `pred` narrows the
    * documents driving the synthesis (q206's flood base).
    */
  /** DuckDB replay of the q208-family PNG dHash: the generative pixel
    * formula folded to 8×8 grid-cell luminance sums, then horizontal
    * gradient-sign bits — shared by the pair query (q208) and the image
    * index-lifecycle query (q215).
    */
  private def pngHashCtesSql(pred: String): String =
    s"""d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE $pred),
       s AS (SELECT doc_id, g, r, unnest(range(256)) AS p FROM d),
       v AS (SELECT doc_id,
                    ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
                    CASE WHEN r = 3
                         THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (p * p + 31)) % 65537 * 2654435761 % 65537) % 244
                         ELSE (((((g % 65536) * (g % 65536) * 131 + 7) * (p * p * 17 + p + 31)) % 65537 * 2654435761 % 65537) % 244) + r
                    END AS pv
             FROM s),
       cells AS (SELECT doc_id, cell, SUM(1000 * pv) AS ls FROM v GROUP BY doc_id, cell),
       hx AS (SELECT a.doc_id,
                     CAST(SUM(CASE WHEN b.ls > a.ls
                                   THEN (1::BIGINT << ((a.cell // 8) * 7 + (a.cell % 8)))
                                   ELSE 0 END) AS BIGINT) AS h
              FROM cells a JOIN cells b
                ON a.doc_id = b.doc_id AND b.cell = a.cell + 1 AND a.cell % 8 < 7
              GROUP BY a.doc_id)"""

  private def audioHashCtesSql(pred: String = "TRUE", lanesSql: String = "32"): String =
    s"""d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE $pred),
       s AS (SELECT doc_id, g, r, unnest(range((g % 4 + 4) * 32)) AS i FROM d),
       v AS (SELECT doc_id, CAST(i % ($lanesSql) AS INT) AS lane,
                    CASE WHEN r = 3
                         THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (i * i + 31)) % 65536) - 32768
                         ELSE ((((g % 65536) * (g % 65536) * 131 + 7) * (i * i * 17 + i + 31) + r) % 65536) - 32768
                    END AS sv
             FROM s),
       lanes AS (SELECT doc_id, lane, SUM(sv) AS ls FROM v GROUP BY doc_id, lane),
       hx AS (SELECT a.doc_id,
                     CAST(SUM(CASE WHEN b.ls > a.ls THEN (1::BIGINT << a.lane)
                                   ELSE 0 END) AS BIGINT) AS h
              FROM lanes a JOIN lanes b
                ON a.doc_id = b.doc_id AND b.lane = a.lane + 1
              GROUP BY a.doc_id)"""

  /** Hamming-band index over `allh (doc_id, h)`: lanes = 32 → 31 hash bits
    * split into 3 bands of 11/11/9 bits — the exact `Multimodal.bandKey`
    * layout for (lanes 32, maxHamming 2).
    */
  private def audioBandCtesSql: String =
    """ex AS (
         SELECT doc_id, h, b.band,
                (h >> (b.band * 11)) & (CASE WHEN b.band = 2 THEN 511 ELSE 2047 END) AS key
         FROM allh, (VALUES (0), (1), (2)) b(band))"""

  /** The q200/q201 evolution snapshots replayed from the base table —
    * v1 narrow (flag NULL), v2 the appended flagged increment.
    */
  private def evoVersionsSql: String =
    """WITH v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                          CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                          CAST(NULL AS INT) AS o_flag
                   FROM orders WHERE o_orderkey % 7 <> 0),
       v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                     CAST(o_orderkey % 3 AS INT) AS o_flag
              FROM orders WHERE o_orderkey % 7 = 0)"""

  /** DuckDB replay of the q183 persisted-index search: PQ training CTEs +
    * IVF seed routing + ADC scoring. `storedPred` narrows the stored
    * (neighbor) side — q192 replays index deletion with it; probes always
    * search.
    */
  private def pqSearchCtesSql(storedPred: String = "TRUE"): String =
    s"""${pqTrainCtesSql()},
       params AS (
         SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
         FROM embeddings),
       ivfseeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                    WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
       asg AS (
         SELECT vec_id, v, s_id AS cell, rn FROM (
           SELECT e2.vec_id, e2.v, ivfseeds.s_id,
                  row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                    list_reduce(list_prepend(0.0::DOUBLE, [e2.v[i] * ivfseeds.sv[i] for i in range(1, len(e2.v) + 1)]), (a, b) -> a + b)
                    / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e2.v]), (a, b) -> a + b))
                       * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in ivfseeds.sv]), (a, b) -> a + b))) DESC,
                    ivfseeds.s_id ASC) rn
           FROM e2, ivfseeds)
         WHERE rn <= 6),
       enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
               FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                       JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
       cand AS (SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                  floor((list_reduce(list_prepend(0.0::DOUBLE,
                           [(a.v[i] - w.w0[i]) * (a.v[i] - w.w0[i]) for i in range(1, 33)]), (x, y) -> x + y)
                         + list_reduce(list_prepend(0.0::DOUBLE,
                           [(a.v[i + 32] - w.w1[i]) * (a.v[i + 32] - w.w1[i]) for i in range(1, 33)]), (x, y) -> x + y))
                        * 1000000 + 0.5)/1000000 d6
                FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id
                     JOIN enc w ON w.vec_id = b.vec_id
                WHERE a.vec_id % 25 = 0 AND $storedPred)"""

  private def pqIndexSearchOracle(storedPred: String = "TRUE"): String =
    s"""${pqSearchCtesSql(storedPred)}
       SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
       WHERE rn <= 3 ORDER BY probe_id, rank"""

  /** The q209 refined replay: the same code-scored candidates, top-R per
    * probe by ADC, then an exact-cosine re-rank of exactly those R — the
    * engine reads the stored `_vecs` rows where the oracle re-joins `e2`
    * (bit-identical: the refine store is the cleaned corpus).
    */
  private def pqRefineOracle(refineR: Int, k: Int): String =
    s"""${pqSearchCtesSql()},
       topr AS (SELECT probe_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn
                  FROM cand)
                WHERE rn <= $refineR),
       ref AS (SELECT t.probe_id, t.neighbor_id,
                 floor(list_reduce(list_prepend(0.0::DOUBLE, [p.v[i] * n.v[i] for i in range(1, len(p.v) + 1)]), (a, b) -> a + b)
                   / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in p.v]), (a, b) -> a + b))
                      * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in n.v]), (a, b) -> a + b)))
                   * 10000 + 0.5) / 10000 AS cos4
               FROM topr t JOIN e2 p ON p.vec_id = t.probe_id
                           JOIN e2 n ON n.vec_id = t.neighbor_id)
       SELECT probe_id, neighbor_id, cos4, CAST(rn AS INT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos4 DESC, neighbor_id) rn FROM ref)
       WHERE rn <= $k ORDER BY probe_id, rank"""

  /** DuckDB replay of [[cdcFixture]]'s two snapshots as CTEs `v1`, `v2`. */
  private def cdcVersionsSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                            CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM base WHERE o_orderkey % 7 <> 3)"""

  /** The q180/q182 shared DuckDB replay of [[qualityModel]]: feature
    * standardization stats rounded 1e-6, then three [[gdStepSql]] GD steps
    * from zero weights. Yields CTEs `f` (doc_id, y, z1, z2) and `g3` (the
    * final 1-row weight vector).
    */
  private def logregCtesSql(): String = s"WITH ${logregCteBody()}"

  /** The same replay WITHOUT the WITH keyword, so it composes into a
    * larger chain (q184 prefixes the simhash-CC recursive CTEs).
    */
  private def logregCteBody(): String =
    s"""docs AS (SELECT doc_id, (lang = 'en')::INT::DOUBLE y,
              ln(1.0 + length(text)::DOUBLE) x1,
              (length(text)::DOUBLE - length(replace(text, ' ', ''))::DOUBLE) / length(text)::DOUBLE x2
            FROM documents WHERE length(text) > 0),
       st AS (SELECT floor(avg(x1)*1000000+0.5)/1000000 m1, floor(stddev_pop(x1)*1000000+0.5)/1000000 s1,
                     floor(avg(x2)*1000000+0.5)/1000000 m2, floor(stddev_pop(x2)*1000000+0.5)/1000000 s2 FROM docs),
       f AS (SELECT doc_id, y, (x1 - m1) / s1 z1, (x2 - m2) / s2 z2 FROM docs, st),
       g0 AS (SELECT 0.0 w0, 0.0 w1, 0.0 w2),
       ${gdStepSql("g1", "g0")},
       ${gdStepSql("g2", "g1")},
       ${gdStepSql("g3", "g2")}"""

  /** The q158 SimHash near-dup pair graph + connected-component walk as a
    * composable CTE body (caller writes `WITH RECURSIVE` — DuckDB accepts
    * the keyword for a chain where only `walk` is recursive). Yields
    * `pairs` (doc_a, doc_b), `edges`, and `walk(id, root)`; components
    * resolve as `SELECT id, min(root) FROM walk GROUP BY id`.
    */
  private def simhashCcCteBody(): String =
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

  /** Shared PQ-training replay for q178/q179: nSub=2 subspaces × k=4
    * codewords, one Lloyd round from the 4 smallest-id seeds — the
    * [[graft.ops.Clustering.pqTrain]] contract (per-candidate distances
    * rounded 1e-6 with ties to the lowest code, means rounded 1e-4).
    * Yields CTEs `e2` (vec_id, v, v0, v1 half-slices), `c0`/`c1` (trained
    * codebooks) and `k0`/`k1` (final per-vector codes).
    */
  private def pqTrainCtesSql(): String = {
    def asg(out: String, book: String, vcol: String) =
      s"""$out AS (SELECT vec_id, cid FROM (
            SELECT e2.vec_id, $book.cid,
                   row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                     floor(list_reduce(list_prepend(0.0::DOUBLE,
                       [(e2.$vcol[i] - $book.c[i]) * (e2.$vcol[i] - $book.c[i]) for i in range(1, len(e2.$vcol) + 1)]),
                       (a, b) -> a + b) * 1000000 + 0.5)/1000000, $book.cid) rn
            FROM e2 CROSS JOIN $book) WHERE rn = 1)"""
    def mean(out: String, asgn: String, vcol: String) =
      s"""$out AS (SELECT cid, list(m ORDER BY i) c FROM (
            SELECT $asgn.cid cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
            FROM (SELECT vec_id, unnest($vcol) x, generate_subscripts($vcol, 1) i FROM e2) t
            JOIN $asgn ON t.vec_id = $asgn.vec_id GROUP BY $asgn.cid, i) GROUP BY cid)"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
              WHERE embedding IS NOT NULL
                AND len(embedding) = (SELECT len(embedding) FROM embeddings
                                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 1)),
         e2 AS (SELECT vec_id, v, v[1:32] v0, v[33:64] v1 FROM e),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) cid, v
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
         s0 AS (SELECT cid, v[1:32] c FROM seeds),
         s1 AS (SELECT cid, v[33:64] c FROM seeds),
         ${asg("a0", "s0", "v0")},
         ${asg("a1", "s1", "v1")},
         ${mean("c0", "a0", "v0")},
         ${mean("c1", "a1", "v1")},
         ${asg("k0", "c0", "v0")},
         ${asg("k1", "c1", "v1")}"""
  }

  /** One full-batch gradient step of the q180 logistic fit as a 1-row CTE:
    * w ← round6(w + Σ(y − σ(w·x))·x / n) with the same association order
    * as [[graft.ops.Clustering.logisticFit]]/[[graft.ops.Clustering.logisticScore]].
    */
  private def gdStepSql(out: String, prev: String): String = {
    val sig = s"1.0/(1.0 + exp(-(($prev.w0 + f.z1*$prev.w1) + f.z2*$prev.w2)))"
    s"""$out AS (SELECT
          floor(($prev.w0 + sum(1.0  * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w0,
          floor(($prev.w1 + sum(f.z1 * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w1,
          floor(($prev.w2 + sum(f.z2 * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w2
        FROM f, $prev GROUP BY $prev.w0, $prev.w1, $prev.w2)"""
  }

  // `events.ts` is parquet TIMESTAMP(NANOS): Spark reads it as long nanos and
  // [[Tables.t]] truncates to µs; the oracle mirrors that exact truncation
  // with make_timestamp(epoch_ns(ts)//1000) wherever ts reaches the output.
  // (All generated values are µs-aligned, but the cast keeps types identical.)
  private def closureOracles: Map[String, String] = Map(
    "q29_theta_agg" ->
      """SELECT a.p_brand, count(*) AS n_pairs
         FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_size < b.p_size
         GROUP BY a.p_brand ORDER BY a.p_brand""",
    "q30_json_extract" ->
      """SELECT json_extract_string(props, '$.k')::INT AS k, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY k ORDER BY k""",
    "q31_map_ops" ->
      """SELECT event_id, CAST(len(json_keys(props)) AS INT) AS n_keys,
                json_extract_string(props, '$.k')::BIGINT AS k_val
         FROM events ORDER BY event_id""",
    "q32_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q33_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The HLL++ estimate has no DuckDB twin; the oracle replays the exact
    // count and asserts the Spark side's within-bound flag is true — the
    // approx-accuracy contract, checked by hash.
    "q34_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
                true AS hll_within_10pct
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q35_lag_lead" ->
      """SELECT user_id, event_id, value,
                value - lag(value, 1) OVER w AS delta_prev,
                lead(event_type, 1) OVER w AS next_type
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_id""",
    "q36_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q105_rank_family" ->
      """SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                CAST(dense_rank() OVER w AS INT) AS drank,
                floor(percent_rank() OVER w * 10000 + 0.5)/10000 AS pr,
                floor(cume_dist() OVER w * 10000 + 0.5)/10000 AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q37_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "q38_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",
    "q39_window_tumbling" ->
      """SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS window_start,
                event_type, count(*) AS cnt
         FROM events GROUP BY window_start, event_type ORDER BY window_start, event_type""",
    "q40_window_sliding" ->
      """SELECT window_start, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM (SELECT CAST(unnest([time_bucket(INTERVAL '1 day', ts),
                                   time_bucket(INTERVAL '1 day', ts) - INTERVAL '1 day']) AS TIMESTAMP) AS window_start,
                      value
               FROM events)
         GROUP BY window_start ORDER BY window_start""",
    "q41_session_window" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) uts FROM events),
         g AS (SELECT user_id, uts,
                      CASE WHEN uts - lag(uts) OVER (PARTITION BY user_id ORDER BY uts) < INTERVAL '4 hours'
                           THEN 0 ELSE 1 END ns
               FROM e),
         sess AS (SELECT user_id, uts,
                         sum(ns) OVER (PARTITION BY user_id ORDER BY uts ROWS UNBOUNDED PRECEDING) sid
                  FROM g)
         SELECT min(uts) AS session_start, max(uts) + INTERVAL '4 hours' AS session_end,
                user_id, count(*) AS cnt
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q195_watermark_drop" ->
      """WITH e AS (SELECT event_id, event_type,
                CASE WHEN event_id % 50 = 0
                     THEN make_timestamp(epoch_ns(ts)//1000) - INTERVAL '3 days'
                     ELSE make_timestamp(epoch_ns(ts)//1000) END ts2,
                event_id // 1000 AS b
         FROM events),
         bm AS (SELECT b, max(ts2) bmax FROM e GROUP BY b),
         w AS (SELECT b, max(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) wm
               FROM bm)
         SELECT event_type,
                count(*) FILTER (WHERE wm IS NULL OR ts2 >= wm - INTERVAL '1 day') AS n_kept,
                count(*) FILTER (WHERE wm IS NOT NULL AND ts2 < wm - INTERVAL '1 day') AS n_dropped
         FROM e JOIN w USING (b) GROUP BY event_type ORDER BY event_type""",
    "q196_stream_dedup" ->
      """WITH u AS (SELECT * FROM events
                    UNION ALL SELECT * FROM events WHERE event_id % 7 = 0),
         d AS (SELECT DISTINCT * FROM u)
         SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM d GROUP BY event_type ORDER BY event_type""",
    // (user_id, ts) is unique in the data, so the lag needs no tiebreak
    "q197_timeout_sessions" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts FROM events),
         g AS (SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                > INTERVAL '30 minutes'
                           THEN 1 ELSE 0 END AS ns
               FROM e),
         s AS (SELECT user_id, ts,
                      sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
         sess AS (SELECT user_id, sid, min(ts) AS session_start,
                         max(ts) AS session_end, count(*)::BIGINT AS n_events
                  FROM s GROUP BY 1, 2),
         wm AS (SELECT max(ts) - INTERVAL '1 hour' AS wm FROM e)
         SELECT user_id, session_start, session_end, n_events,
                CASE WHEN sid < max(sid) OVER (PARTITION BY user_id) THEN 'gap'
                     WHEN session_end + INTERVAL '30 minutes' < wm THEN 'timeout'
                END AS closed_by
         FROM sess, wm
         QUALIFY closed_by IS NOT NULL
         ORDER BY user_id, session_start""",
    "q42_timeseries" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY period ORDER BY period""",
    "q43_histogram" ->
      """SELECT floor(l_extendedprice / 500.0) * 500.0 AS bin, count(*) AS cnt
         FROM lineitem GROUP BY bin ORDER BY bin""",
    "q44_topk_group" ->
      """SELECT user_id, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) <= 3
         ORDER BY user_id, event_id""",
    "q45_asof_join" ->
      """SELECT l.user_id, l.event_id, make_timestamp(epoch_ns(l.ts)//1000) AS ts, l.value,
                r.event_id AS asof_event_id, r.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    "q46_pipeline" ->
      """WITH u AS (
           SELECT event_id, ts, user_id, event_type, value, NULL::VARCHAR AS props
           FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_id, ts, user_id, event_type, NULL::DOUBLE, props
           FROM events WHERE event_id % 2 = 1),
         dd AS (
           SELECT * FROM u
           QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id) = 1)
         SELECT event_type, count(*) AS qtd FROM dd
         WHERE COALESCE(regexp_matches(lower(CAST(event_type AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
            OR COALESCE(regexp_matches(lower(CAST(props AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
         GROUP BY event_type ORDER BY qtd DESC, event_type ASC NULLS FIRST""",
    "q47_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_str,
                format('{:,}', o_orderkey * 1000) AS pretty_key
         FROM orders ORDER BY o_orderkey""",
    "q48_length_stats" ->
      """SELECT lang, count(*) AS n_docs, max(length(text)) AS max_len, min(length(text)) AS min_len,
                floor(sum(length(text))::DOUBLE / count(*) * 10000 + 0.5)/10000 AS avg_len,
                count(*) FILTER (length(text) <> n_chars) AS n_mismatch
         FROM documents GROUP BY lang ORDER BY lang""",
    "q49_null_filter" ->
      """SELECT l_linenumber, count(*) AS cnt
         FROM (SELECT l_linenumber, NULL AS l_quantity
               FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01')
         WHERE l_quantity IS NULL
         GROUP BY l_linenumber ORDER BY l_linenumber""",
    "q50_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q51_csv_roundtrip" ->
      """SELECT p_brand, count(*) AS cnt,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q72_json_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q73_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS cnt,
                CAST(SUM(CAST(s_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS sum_bal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q52_sql_surface" ->
      """SELECT n_name, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q96_variant_extract" ->
      """SELECT k % 10 AS k_mod, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT json_extract(props, '$.k')::BIGINT AS k FROM events)
         GROUP BY k_mod ORDER BY k_mod""",
    "q98_token_windows" ->
      """SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(list_slice(tk, i, i + 29), ' ') AS chunk
         FROM (SELECT doc_id, tk, greatest(len(tk) - 29, 1) AS ms
               FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                     FROM documents)),
              unnest(list_distinct(list_append([x for x in range(1, ms + 1, 15)], ms))) t(i)
         ORDER BY doc_id, pos""",
    "q97_wav_info" ->
      """SELECT doc_id, CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
                CAST(doc_id % 2 + 1 AS INT) AS channels, CAST(16 AS INT) AS bits
         FROM documents ORDER BY doc_id""",
    "q92_image_dims" ->
      """SELECT doc_id, 'png' AS format,
                CAST(doc_id % 500 + 1 AS INT) AS width, CAST(256 AS INT) AS height
         FROM documents ORDER BY doc_id""",
    // replays q56's generative formula: the Spark side must DECODE the wav
    // bytes back into exactly these numbers
    "q56_decode_features" ->
      """WITH s AS (
           SELECT doc_id, unnest(range(doc_id % 64 + 64)) AS i FROM documents),
         v AS (
           SELECT doc_id, i,
                  ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS sv,
                  lag(((doc_id * 7919 + i * 104729) % 65536) - 32768)
                    OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM s),
         f AS (
           SELECT doc_id, count(*) AS n_samples,
                  CAST(sum(sv) AS BIGINT) AS sum_s,
                  CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
                  CAST(max(abs(sv)) AS BIGINT) AS peak,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND ((sv < 0) != (prev < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
           FROM v GROUP BY doc_id),
         l AS (
           SELECT doc_id,
                  string_agg(CAST(lane_sum AS VARCHAR), ',' ORDER BY lane) AS features_csv
           FROM (SELECT doc_id, i % 16 AS lane, CAST(sum(sv) AS BIGINT) AS lane_sum
                 FROM v GROUP BY doc_id, i % 16)
           GROUP BY doc_id)
         SELECT d.doc_id, 'riff' AS format,
                CAST(44 + (d.doc_id % 64 + 64) * 2 AS BIGINT) AS byte_len,
                CAST(8000 + (d.doc_id % 8) * 4000 AS INT) AS sample_rate,
                f.n_samples, f.sum_s, f.sum_sq, f.peak, f.zero_cross, l.features_csv
         FROM documents d JOIN f USING (doc_id) JOIN l USING (doc_id)
         ORDER BY doc_id""",
    // Replays the µ-law byte formula AND the CCITT expansion arithmetic
    // (u = ~byte; t = ((u & 0xF)·8 + 132) << ((u >> 4) & 7); negative
    // half mirrors around the 132 bias) — the engine instead walks the
    // RIFF container and expands through its 256-entry table.
    "q217_ulaw_features" ->
      """WITH s AS (
           SELECT doc_id, unnest(range(doc_id % 64 + 64)) AS i FROM documents),
         e AS (
           SELECT doc_id, i,
                  255 - ((doc_id * 131 + i * 104729) % 256) AS u
           FROM s),
         v AS (
           SELECT doc_id, i,
                  CASE WHEN u >= 128
                       THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
                       ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132
                  END AS sv
           FROM e),
         vz AS (
           SELECT doc_id, i, sv,
                  lag(sv) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM v),
         f AS (
           SELECT doc_id, count(*) AS n_samples,
                  CAST(sum(sv) AS BIGINT) AS sum_s,
                  CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
                  CAST(max(abs(sv)) AS BIGINT) AS peak,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND ((sv < 0) != (prev < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
           FROM vz GROUP BY doc_id),
         l AS (
           SELECT doc_id,
                  string_agg(CAST(lane_sum AS VARCHAR), ',' ORDER BY lane) AS features_csv
           FROM (SELECT doc_id, i % 16 AS lane, CAST(sum(sv) AS BIGINT) AS lane_sum
                 FROM v GROUP BY doc_id, i % 16)
           GROUP BY doc_id)
         SELECT d.doc_id, 'riff' AS format,
                CAST(44 + (d.doc_id % 64 + 64) AS BIGINT) AS byte_len,
                CAST(8000 AS INT) AS sample_rate, CAST(8 AS INT) AS bits,
                f.n_samples, f.sum_s, f.sum_sq, f.peak, f.zero_cross, l.features_csv
         FROM documents d JOIN f USING (doc_id) JOIN l USING (doc_id)
         ORDER BY doc_id""",

    // Runs against the parquet original of the same rows: equality with
    // the ORC-round-tripped engine result is the round-trip proof.
    "q218_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",

    "q53_multimodal" ->
      """SELECT doc_id, length(text) AS byte_len, sha256(text) AS sha,
                ('0x' || hex(substr(text, 1, 7)))::BIGINT AS head7,
                array_to_string([substr(text, i, 1) for i in range(1, length(text) + 1, 64)], '') AS sample
         FROM documents ORDER BY doc_id""",
    "q75_incremental_dedup" ->
      """SELECT event_id, props
         FROM events b
         WHERE event_id % 10 >= 8
           AND NOT EXISTS (SELECT 1 FROM events c
                           WHERE c.event_id % 10 < 8 AND c.props = b.props)
         ORDER BY event_id""",
    "q76_domain_cap" ->
      """WITH rk AS (
           SELECT doc_id, source,
                  row_number() OVER (
                    PARTITION BY source
                    ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) AS rk
           FROM documents)
         SELECT doc_id, source FROM rk WHERE rk <= 10 ORDER BY doc_id""",
    "q77_boilerplate" ->
      """WITH toks AS (
           SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') tk
           FROM documents),
         chunks AS (
           SELECT doc_id, source,
                  [array_to_string(list_slice(tk, i, i + 4), ' ')
                   for i in range(1, len(tk) + 1, 5)] AS ls
           FROM toks),
         ex AS (
           SELECT doc_id, source, unnest(ls) AS line, unnest(range(len(ls))) AS pos
           FROM chunks),
         nd AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         hot AS (
           SELECT ex.source, line
           FROM ex JOIN nd USING (source)
           GROUP BY ex.source, line, n
           HAVING count(DISTINCT doc_id) >= 2
              AND count(DISTINCT doc_id) > n * 0.5),
         kept AS (
           SELECT e.doc_id, string_agg(e.line, chr(10) ORDER BY e.pos) AS clean_text
           FROM ex e ANTI JOIN hot h ON e.source = h.source AND e.line = h.line
           GROUP BY e.doc_id)
         SELECT d.doc_id, d.source, coalesce(k.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN kept k USING (doc_id)
         ORDER BY doc_id""",
    "q78_global_ids" ->
      """SELECT doc_id, source,
                row_number() OVER (ORDER BY doc_id) - 1 AS gid
         FROM documents ORDER BY doc_id""",
    "q79_entropy" ->
      """WITH cs AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
         ks AS (
           SELECT doc_id, len(ch) AS n,
                  [len(list_filter(ch, x -> x = c))
                   for c in list_sort(list_distinct(ch))] AS counts
           FROM cs)
         SELECT doc_id,
                floor(list_sum([-(k::DOUBLE / n) * log2(k::DOUBLE / n)
                                for k in counts]) * 10000 + 0.5) / 10000 AS char_entropy
         FROM ks ORDER BY doc_id""",
    "q80_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, max(o_totalprice) AS max_price
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q81_stratified_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
           FROM documents)
         WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 1000 END
         ORDER BY doc_id""",
    "q82_outliers" ->
      """WITH s AS (
           SELECT source, avg(n_chars) AS mu, stddev(n_chars) AS sd
           FROM documents GROUP BY source)
         SELECT doc_id, d.source,
                floor((n_chars - mu) / sd * 10000 + 0.5) / 10000 AS z
         FROM documents d JOIN s USING (source)
         WHERE abs((n_chars - mu) / sd) > 2.0
         ORDER BY doc_id""",
    "q87_curation_pipeline" ->
      """WITH gated AS (
           SELECT doc_id, source, text FROM documents
           WHERE len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 20 AND 80),
         dd AS (
           SELECT doc_id, source, text FROM gated
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         capped AS (
           SELECT doc_id, source FROM dd
           QUALIFY row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) <= 12)
         SELECT doc_id, source,
                CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
               FROM capped)
         ORDER BY doc_id""",
    "q88_token_mix" ->
      """WITH d AS (
           SELECT doc_id, source,
                  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
           FROM documents),
         tot AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tot FROM d GROUP BY source),
         f AS (SELECT source,
                      least(1.0::DOUBLE,
                            (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                                         ELSE 0.0125 END) * 8000.0 / tot) AS frac
               FROM tot),
         kept AS (
           SELECT d.source, d.n_tokens FROM d JOIN f USING (source)
           WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                 < floor(frac * 10000))
         SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
         FROM kept GROUP BY source ORDER BY source""",
    "q89_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents),
         o AS (
           SELECT doc_id, h % 4 AS bucket, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS "offset"
           FROM d)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, "offset",
                CAST(bucket * 1099511627776 + floor("offset" / 512) AS BIGINT) AS seq
         FROM o ORDER BY doc_id""",
    "q95_training_shards" ->
      """WITH gated AS (
           SELECT doc_id, source, text FROM documents
           WHERE len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 20 AND 80),
         dd AS (
           SELECT doc_id, source, text FROM gated
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         capped AS (
           SELECT doc_id, source, text FROM dd
           QUALIFY row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) <= 12),
         base AS (
           SELECT doc_id, source,
                  CASE WHEN h % 10000 < 8000 THEN 'train'
                       WHEN h % 10000 < 9000 THEN 'val' ELSE 'test' END AS split,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  h
           FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                 FROM capped)),
         tot AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tot FROM base GROUP BY source),
         f AS (SELECT source,
                      least(1.0::DOUBLE,
                            (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                                         ELSE 0.0125 END) * 8000.0 / tot) AS frac
               FROM tot),
         kept AS (
           SELECT base.* FROM base JOIN f USING (source)
           WHERE h % 10000 < floor(frac * 10000)),
         packed AS (
           SELECT split, h % 4 AS bucket, doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS off
           FROM kept),
         seqs AS (
           SELECT split, bucket, n_tokens,
                  CAST(bucket * 1099511627776 + floor(off / 512) AS BIGINT) AS seq
           FROM packed)
         SELECT split, CAST(bucket AS BIGINT) AS bucket, count(DISTINCT seq) AS n_seqs,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM seqs GROUP BY split, bucket ORDER BY split, bucket""",
    "q84_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q175_skew_join" ->
      """SELECT s_nationkey, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty
         FROM (SELECT l_quantity,
                      CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END AS skew_key
               FROM lineitem) li
         JOIN supplier ON li.skew_key = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q85_profile" ->
      """SELECT col_name, n_rows, n_nonnull, n_distinct, min_val, max_val FROM (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                  count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
                  CAST(min(o_orderkey) AS VARCHAR) AS min_val,
                  CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
                  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
                  min(o_orderstatus), max(o_orderstatus) FROM orders)
         ORDER BY col_name""",
    "q86_normalize" ->
      """SELECT doc_id,
                strip_accents('Caf' || chr(233) || ' Z' || chr(252) || 'rich ni' ||
                              chr(241) || 'o Cafe' || chr(769) || ' ' || substr(text, 1, 24)) AS folded,
                nfc_normalize('Caf' || chr(233) || ' Z' || chr(252) || 'rich ni' ||
                              chr(241) || 'o Cafe' || chr(769) || ' ' || substr(text, 1, 24)) AS nfc
         FROM documents ORDER BY doc_id""",
    "q83_json_quarantine" ->
      """SELECT o_orderstatus, cnt, sum_price FROM (
           SELECT o_orderstatus, count(*) AS cnt,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY o_orderstatus
           UNION ALL
           SELECT '__quarantined', 3, NULL)
         ORDER BY o_orderstatus""",
    "q55_simhash_neardup" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
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
                  FROM ex a JOIN ex b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 8
         ORDER BY doc_a, doc_b""",
    "q68_neardup_survivors" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
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
           SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.id)
         SELECT id AS doc_id, min(root) AS comp, (id = min(root)) AS keep
         FROM walk GROUP BY id ORDER BY doc_id""",
    // the identical acyclic recursion replayed by DuckDB (// is DuckDB's
    // integer division, Spark's DIV)
    "q194_sql_recursive" ->
      """WITH RECURSIVE chain AS (
           SELECT c_custkey AS ck, c_custkey AS anc, 0 AS depth FROM customer
           UNION ALL
           SELECT ck, anc // 10, depth + 1 FROM chain WHERE anc > 0)
         SELECT c.anc, count(*) AS n_desc, max(c.depth) AS max_depth,
                CAST(sum(CAST(cu.c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS subtree_bal
         FROM chain c JOIN customer cu ON c.ck = cu.c_custkey
         GROUP BY c.anc ORDER BY c.anc""",
    "q59_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY day ORDER BY day""",
    "q66_interval_join" ->
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND abs(epoch(p.ts) - epoch(c.ts)) <= 3600
         ORDER BY p_id, c_id""",
    "q69_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS qtd,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q62_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q63_percentiles" ->
      """SELECT l_returnflag,
                floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5)/10000 AS median_qty,
                floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5)/10000 AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q94_quantile_bin" ->
      """WITH cuts AS (SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS cs FROM lineitem)
         SELECT bin, count(*) AS n, min(l_quantity) AS lo, max(l_quantity) AS hi FROM (
           SELECT l_quantity,
                  CAST(len(list_filter((SELECT cs FROM cuts), c -> c <= l_quantity)) AS INT) AS bin
           FROM lineitem WHERE l_quantity IS NOT NULL)
         GROUP BY bin ORDER BY bin""",
    "q103_zorder_cells" ->
      """WITH cx AS (SELECT quantile_cont(l_extendedprice, [x / 16.0 for x in range(1, 16)]) AS cs FROM lineitem),
         cy AS (SELECT quantile_cont(l_quantity, [x / 16.0 for x in range(1, 16)]) AS cs FROM lineitem),
         b AS (
           SELECT len(list_filter((SELECT cs FROM cx), c -> c <= l_extendedprice)) AS bx,
                  len(list_filter((SELECT cs FROM cy), c -> c <= l_quantity)) AS qb
           FROM lineitem),
         zz AS (
           SELECT CAST(list_sum([((bx >> p) & 1) * (1::BIGINT << (2 * p)) +
                                 ((qb >> p) & 1) * (1::BIGINT << (2 * p + 1))
                                 for p in range(0, 4)]) AS BIGINT) AS z
           FROM b)
         SELECT z, count(*) AS n FROM zz GROUP BY z ORDER BY z""",
    "q205_hilbert_cells" -> hilbertCellsOracle(4),
    "q210_hilbert3d_cells" -> hilbert3dCellsOracle,
    "q64_stats" ->
      """SELECT l_returnflag,
                floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5)/10000 AS corr_qty_price,
                floor(stddev_samp(l_discount) * 10000 + 0.5)/10000 AS sd_disc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q65_stringagg" ->
      """SELECT o_orderstatus,
                string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q61_unpivot" ->
      """WITH w AS (
           SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS price
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'price', price FROM w
         ORDER BY l_returnflag, measure""",
    "q60_hash_split" ->
      """WITH b AS (
           SELECT doc_id,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
           FROM documents)
         SELECT CASE WHEN bucket < 8000 THEN 'train'
                     WHEN bucket < 9000 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n, min(doc_id) AS first_doc
         FROM b GROUP BY split ORDER BY split""",
    "q57_norm_values" ->
      """SELECT p_partkey,
                regexp_replace(regexp_replace(p_type, '[^0-9A-Za-z]+', '_', 'g'), '_+', '_', 'g') AS type_slug,
                lower(trim(regexp_replace(p_name || '  ' || p_brand, '\s+', ' ', 'g'))) AS canon
         FROM part ORDER BY p_partkey""",
    "q71_pii_redact" ->
      """SELECT p_partkey,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      'contact user' || p_partkey::VARCHAR || '@example.com or 10.0.' ||
                      (p_partkey % 256)::VARCHAR || '.1 ref ' || (p_partkey * 1234567)::VARCHAR || ' end',
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{7,}\b', '<NUM>', 'g') AS redacted
         FROM part ORDER BY p_partkey""",
    "q54_clean_strings" ->
      """WITH src AS (
           SELECT p_partkey, p_name,
                  'host ' || CASE WHEN p_partkey % 3 = 0 THEN 'n/a'
                                  ELSE '10.2.' || (p_partkey % 200)::VARCHAR || '.7' END AS ip_src,
                  CASE WHEN p_partkey % 2 = 0 THEN 'fe80::1, 10.0.0.1' ELSE '1.2.3.4' END AS ip6_src,
                  CASE WHEN p_partkey % 5 = 0 THEN 'garbage'
                       ELSE '2024-01-' || lpad((p_partkey % 27 + 1)::VARCHAR, 2, '0') END AS ts_src
           FROM part)
         SELECT p_partkey,
                array_to_string([upper(substr(w, 1, 1)) || lower(substr(w, 2)) for w in string_split(trim('  ' || p_name || ' '), ' ')], ' ') AS cleaned,
                NULLIF(regexp_extract(ip_src, '\b(\d{1,3}(?:\.\d{1,3}){3})\b', 1), '') AS ip,
                CASE WHEN len(list_filter([trim(p) for p in string_split(ip6_src, ',')], p -> instr(p, ':') > 0)) > 0
                     THEN list_filter([trim(p) for p in string_split(ip6_src, ',')], p -> instr(p, ':') > 0)[1] END AS ip6,
                TRY_CAST(ts_src AS TIMESTAMP) AS ts_parsed
         FROM src ORDER BY p_partkey""",
    "q123_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders WHERE o_orderkey % 7 <> 0),
         n AS (SELECT o_orderkey, o_orderstatus,
                      CASE WHEN o_orderkey % 3 = 0
                           THEN floor(o_totalprice * 1.05 * 100 + 0.5) / 100
                           ELSE o_totalprice END AS o_totalprice
               FROM orders WHERE o_orderkey % 10 <> 0),
         j AS (SELECT coalesce(n.o_orderkey, o.o_orderkey) AS k,
                      CASE WHEN o.o_orderkey IS NULL THEN 'added'
                           WHEN n.o_orderkey IS NULL THEN 'removed'
                           WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                             OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
                           ELSE 'unchanged' END AS change_type,
                      concat_ws(',',
                        CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
                        CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END) AS cc
               FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT k AS o_orderkey, change_type,
                CASE WHEN change_type = 'changed' THEN cc ELSE '' END AS changed_cols
         FROM j WHERE change_type <> 'unchanged' ORDER BY o_orderkey""",
    "q124_gapfill" ->
      """WITH obs AS (SELECT * FROM (
                        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                               CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS v
                        FROM events WHERE user_id % 100 = 0 GROUP BY user_id, bucket)
                      WHERE bucket IS NOT NULL AND v IS NOT NULL),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS bucket
                  FROM (SELECT user_id, min(bucket) d0, max(bucket) d1 FROM obs GROUP BY user_id)),
         j AS (SELECT g.user_id, g.bucket, o.v
               FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket),
         w AS (SELECT user_id, bucket, v,
                 last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
                 last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pd,
                 first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
                 first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nd
               FROM j)
         SELECT user_id, bucket,
                CASE WHEN v IS NOT NULL THEN v
                     ELSE floor((pv + (nv - pv) *
                       (CAST(epoch(bucket) - epoch(pd) AS DOUBLE) /
                        CAST(epoch(nd) - epoch(pd) AS DOUBLE))) * 10000 + 0.5) / 10000 END AS v,
                v IS NULL AS filled
         FROM w ORDER BY user_id, bucket""",
    "q125_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                      FROM documents WHERE length(trim(text)) > 0),
         c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200)
         SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank, token, cnt,
                floor(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / total
                  * 10000 + 0.5) / 10000 AS cum_share
         FROM top CROSS JOIN tt ORDER BY rank""",
    "q126_charlm_quality" ->
      """WITH base AS (SELECT doc_id, text AS t FROM documents
                       WHERE text IS NOT NULL AND length(text) >= 2),
         db AS (SELECT doc_id, bg, count(*) AS c_db FROM (
                  SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, length(t))]) AS bg
                  FROM base)
                GROUP BY doc_id, bg),
         cab AS (SELECT bg, sum(c_db) AS c_ab FROM db GROUP BY bg),
         ca AS (SELECT substr(bg, 1, 1) AS a, sum(c_ab) AS c_a FROM cab GROUP BY a),
         model AS (SELECT bg,
                          CAST(floor(ln(CAST(c_ab AS DOUBLE) / c_a) * 1000000 + 0.5) AS BIGINT) AS lnp_u
                   FROM cab JOIN ca ON substr(cab.bg, 1, 1) = ca.a),
         sc AS (SELECT doc_id, sum(c_db * lnp_u) AS sum_u, sum(c_db) AS n_bigrams
                FROM db JOIN model USING (bg) GROUP BY doc_id)
         SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                floor((-(CAST(sum_u AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)))
                  * 10000 + 0.5) / 10000 AS xent
         FROM sc ORDER BY doc_id""",
    "q127_rendezvous_shards" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST(struct_extract(list_reduce(
                    [{'s': ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT,
                      'i': i} for i in range(0, 8)],
                    (a, b) -> CASE WHEN struct_extract(b, 's') > struct_extract(a, 's') THEN b ELSE a END),
                    'i') AS INT) AS s8,
                  CAST(struct_extract(list_reduce(
                    [{'s': ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT,
                      'i': i} for i in range(0, 9)],
                    (a, b) -> CASE WHEN struct_extract(b, 's') > struct_extract(a, 's') THEN b ELSE a END),
                    'i') AS INT) AS s9
           FROM documents)
         SELECT s8, count(*) AS n, count(*) FILTER (WHERE s9 <> s8) AS n_moved
         FROM s GROUP BY s8 ORDER BY s8""",
    "q128_overlap_join" ->
      """WITH a AS (SELECT l_orderkey * 10 + l_linenumber AS a_id,
                           l_shipdate AS a_start,
                           l_shipdate + to_days(CAST(l_quantity AS INT) % 10 + 3) AS a_end
                    FROM lineitem WHERE l_orderkey % 100 = 0),
         b AS (SELECT o_orderkey AS b_id, o_orderdate AS b_start,
                      o_orderdate + INTERVAL 7 DAY AS b_end
               FROM orders WHERE o_orderkey % 500 = 0)
         SELECT a_id, b_id,
                date_diff('day', CAST(greatest(a_start, b_start) AS DATE),
                  CAST(least(a_end, b_end) AS DATE)) AS overlap_days
         FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
         ORDER BY a_id, b_id""",
    "q129_quality_rules" ->
      """SELECT 'c1_shipdate_not_null' AS rule,
                count(*) FILTER (WHERE l_shipdate IS NULL) AS violations FROM lineitem
         UNION ALL
         SELECT 'c2_discount_range',
                count(*) FILTER (WHERE NOT (l_discount >= 0.0 AND l_discount <= 0.05))
         FROM lineitem
         UNION ALL
         SELECT 'c3_returnflag_domain',
                count(*) FILTER (WHERE NOT regexp_matches(l_returnflag, '^[ARN]$'))
         FROM lineitem
         UNION ALL
         SELECT 'c4_line_unique', coalesce(CAST(sum(cnt - 1) AS BIGINT), 0)
         FROM (SELECT count(*) cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)
         WHERE cnt > 1
         UNION ALL
         SELECT 'c5_order_fk', count(*)
         FROM lineitem
         WHERE l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         ORDER BY rule""",
    "q130_trend" ->
      """WITH pts AS (SELECT event_type,
                             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
                             value FROM events
                      WHERE ts IS NOT NULL AND value IS NOT NULL),
         m AS (SELECT event_type,
                      count(*) AS cnt,
                      CAST(count(*) AS DOUBLE) AS n,
                      CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                      CAST(sum(CAST(x * value AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(x * x AS DECIMAL(27,6))) AS DOUBLE) AS sxx
               FROM pts GROUP BY event_type),
         f AS (SELECT event_type, cnt, n, sx, sy,
                      n * sxx - sx * sx AS den,
                      (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
               FROM m)
         SELECT event_type, CAST(cnt AS BIGINT) AS n,
                CASE WHEN den <> 0.0
                     THEN floor(slope * 10000 + 0.5) / 10000 END AS slope,
                CASE WHEN den <> 0.0
                     THEN floor((sy - slope * sx) / n * 10000 + 0.5) / 10000 END AS intercept
         FROM f ORDER BY event_type""",
    "q131_mutual_info" ->
      """WITH j AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
         t AS (SELECT sum(c) AS N FROM j),
         ma AS (SELECT lang, sum(c) AS ca FROM j GROUP BY lang),
         mb AS (SELECT source, sum(c) AS cb FROM j GROUP BY source)
         SELECT j.lang, j.source, j.c,
                floor(CAST(j.c AS DOUBLE) / N *
                  ln((CAST(j.c AS DOUBLE) * N) / (CAST(ca AS DOUBLE) * cb))
                  * 1000000 + 0.5) / 1000000 AS mi_term
         FROM j JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN t
         ORDER BY lang, source""",
    "q132_ewma" ->
      """WITH ys AS (SELECT user_id, count(*) AS n,
                            list(value ORDER BY ts, event_id) AS v
                     FROM events
                     WHERE ts IS NOT NULL AND value IS NOT NULL
                     GROUP BY user_id)
         SELECT user_id, n,
                floor(list_reduce(v, (a, b) -> a * 0.75 + b * 0.25) * 10000 + 0.5) / 10000
                  AS ewma
         FROM ys ORDER BY user_id""",
    "q133_contamination_score" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
         benchset AS (
           SELECT DISTINCT unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ')
                                                 for i in range(1, len(tk)-3)])) s
           FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk
                 FROM documents WHERE doc_id % 97 = 0)),
         sh AS (SELECT doc_id,
                       unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ')
                                             for i in range(1, len(tk)-3)])) s
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                      FROM corpus)),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
         shr AS (SELECT doc_id, count(*) AS n_shared FROM sh
                 WHERE s IN (SELECT s FROM benchset) GROUP BY doc_id)
         SELECT shr.doc_id, shr.n_shared, tot.n_shingles,
                floor(CAST(shr.n_shared AS DOUBLE) / tot.n_shingles * 10000 + 0.5) / 10000
                  AS frac
         FROM shr JOIN tot USING (doc_id) ORDER BY doc_id""",

    "q134_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS k FROM c)
         SELECT user_id, n,
                floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 10000 + 0.5) / 10000
                  AS share,
                floor(CAST(n AS DOUBLE) * CAST(k AS DOUBLE) / CAST(total AS DOUBLE)
                  * 10000 + 0.5) / 10000 AS skew
         FROM c CROSS JOIN t ORDER BY n DESC, user_id NULLS FIRST LIMIT 20""",

    "q135_auc" ->
      """WITH d AS (SELECT event_type, (user_id % 3 = 0) AS y, CAST(value AS DOUBLE) AS s
                    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         r AS (SELECT event_type, y,
                      rank() OVER (PARTITION BY event_type ORDER BY s)
                        + CAST(count(*) OVER (PARTITION BY event_type, s) - 1 AS DOUBLE) / 2.0
                        AS mr
               FROM d),
         g AS (SELECT event_type,
                      count(*) FILTER (WHERE y) AS n_pos,
                      count(*) FILTER (WHERE NOT y) AS n_neg,
                      sum(mr) FILTER (WHERE y) AS sr
               FROM r GROUP BY event_type)
         SELECT event_type, n_pos, n_neg,
                CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  floor((sr - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2)
                        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                        * 10000 + 0.5) / 10000
                END AS auc
         FROM g ORDER BY event_type""",

    "q136_ks_drift" ->
      """WITH pv AS (
           SELECT v, count(*) FILTER (WHERE src = 0) AS ca,
                     count(*) FILTER (WHERE src = 1) AS cb
           FROM (SELECT CAST(value AS DOUBLE) AS v, 0 AS src FROM events
                 WHERE event_type = 'view' AND value IS NOT NULL
                 UNION ALL
                 SELECT CAST(value AS DOUBLE), 1 FROM events
                 WHERE event_type = 'purchase' AND value IS NOT NULL)
           GROUP BY v),
         c AS (SELECT
                 sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
                 sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
                 sum(ca) OVER () AS na, sum(cb) OVER () AS nb
               FROM pv)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                        - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS d_stat
         FROM c""",

    "q137_chi2_cells" ->
      """WITH j AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM j),
         ma AS (SELECT lang, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY lang),
         mb AS (SELECT source, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY source)
         SELECT ma.lang, mb.source, COALESCE(c, 0) AS observed,
                floor(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE)
                  * 1000000 + 0.5) / 1000000 AS expected,
                floor((CAST(COALESCE(c, 0) AS DOUBLE)
                        - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      * (CAST(COALESCE(c, 0) AS DOUBLE)
                        - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      * 1000000 + 0.5) / 1000000 AS chi2_term
         FROM ma CROSS JOIN mb
         LEFT JOIN j ON ma.lang IS NOT DISTINCT FROM j.lang
                    AND mb.source IS NOT DISTINCT FROM j.source
         CROSS JOIN t ORDER BY ma.lang, mb.source""",

    "q138_transitions" ->
      """WITH s AS (SELECT event_type AS from_state,
                           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS to_state
                    FROM events WHERE ts IS NOT NULL),
         m AS (SELECT from_state, to_state, count(*) AS n FROM s
               WHERE to_state IS NOT NULL GROUP BY from_state, to_state)
         SELECT from_state, to_state, n,
                floor(CAST(n AS DOUBLE)
                      / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
                      * 10000 + 0.5) / 10000 AS p
         FROM m ORDER BY from_state, to_state""",

    "q139_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM c),
         w1 AS (SELECT source, n,
                       CAST(n AS DOUBLE) / CAST(grand AS DOUBLE) AS p,
                       floor(pow(CAST(n AS DOUBLE) / CAST(grand AS DOUBLE), 0.5)
                         * 1000000 + 0.5) / 1000000 AS tq
                FROM c CROSS JOIN t),
         d AS (SELECT list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                                     list(tq ORDER BY source NULLS FIRST)),
                        (acc, x) -> acc + x) AS denom
               FROM w1)
         SELECT source, n,
                floor(p * 10000 + 0.5) / 10000 AS p,
                floor(tq / denom * 10000 + 0.5) / 10000 AS w,
                floor(tq / denom / p * 10000 + 0.5) / 10000 AS boost
         FROM w1 CROSS JOIN d ORDER BY source""",

    "q140_twap" ->
      """WITH d AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v FROM events
                    WHERE ts IS NOT NULL AND value IS NOT NULL),
         l AS (SELECT user_id, v,
                      CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                        AS BIGINT)
                      - CAST(floor(epoch(ts)) AS BIGINT) AS dur
               FROM d),
         g AS (SELECT user_id,
                      CAST(sum(CAST(v AS DECIMAL(27,6)) * dur) AS DOUBLE) AS wv,
                      CAST(sum(dur) AS BIGINT) AS span_s
               FROM l WHERE dur IS NOT NULL GROUP BY user_id)
         SELECT user_id, span_s,
                CASE WHEN span_s > 0 THEN
                  floor(wv / CAST(span_s AS DOUBLE) * 10000 + 0.5) / 10000
                END AS twap
         FROM g ORDER BY user_id""",

    "q141_mad_outliers" ->
      """WITH d AS (SELECT event_type, event_id, value * value * value AS v FROM events
                    WHERE value IS NOT NULL),
         r1 AS (SELECT event_type, event_id, v,
                       row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM d),
         med AS (SELECT event_type, v AS med FROM r1 WHERE rn = (n + 1) // 2),
         dev AS (SELECT d.event_type, d.event_id, d.v, med.med, abs(d.v - med.med) AS adev
                 FROM d JOIN med USING (event_type)),
         r2 AS (SELECT event_type, adev,
                       row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev),
         mad AS (SELECT event_type, adev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         SELECT dev.event_type, dev.event_id, dev.v AS value, dev.med, mad.mad,
                floor(0.6745 * (dev.v - dev.med) / mad.mad * 10000 + 0.5) / 10000 AS score
         FROM dev JOIN mad USING (event_type)
         WHERE mad.mad > 0 AND abs(0.6745 * (dev.v - dev.med) / mad.mad) > 3.5
         ORDER BY event_type, event_id""",

    "q142_winsorize" ->
      """WITH d AS (SELECT event_id, event_type, value, CAST(value AS DOUBLE) AS v
                    FROM events),
         r AS (SELECT event_id, event_type, value, v,
                      CASE WHEN v IS NOT NULL THEN
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY v NULLS LAST, event_id) END AS rn,
                      count(v) OVER (PARTITION BY event_type) AS n
               FROM d),
         b AS (SELECT *,
                      CAST(floor((n - 1) * 0.05) + 1 AS BIGINT) AS ilo,
                      CAST(floor((n - 1) * 0.95) + 1 AS BIGINT) AS ihi
               FROM r),
         w AS (SELECT *,
                      max(CASE WHEN rn = ilo THEN v END) OVER (PARTITION BY event_type) AS vlo,
                      max(CASE WHEN rn = ihi THEN v END) OVER (PARTITION BY event_type) AS vhi
               FROM b)
         SELECT event_id, event_type, value,
                CASE WHEN v IS NOT NULL THEN least(greatest(v, vlo), vhi) END AS clipped,
                CASE WHEN v IS NOT NULL THEN least(greatest(v, vlo), vhi) END <> v
                  AS was_clipped
         FROM w ORDER BY event_id""",

    "q143_containment" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ')
                                         for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                 FROM documents)),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS o,
                      CAST(len(a.ss) AS BIGINT) AS ma, CAST(len(b.ss) AS BIGINT) AS mb
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE len(a.ss) > 0 AND len(b.ss) > 0)
         SELECT doc_a, doc_b, o,
                floor(o / CAST(ma AS DOUBLE) * 10000 + 0.5) / 10000 AS cont_a,
                floor(o / CAST(mb AS DOUBLE) * 10000 + 0.5) / 10000 AS cont_b
         FROM p
         WHERE greatest(o / CAST(ma AS DOUBLE), o / CAST(mb AS DOUBLE)) >= 0.6
         ORDER BY doc_a, doc_b""",

    "q145_sessions" ->
      """WITH d AS (SELECT user_id, ts, event_id FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, ts, event_id,
                      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                             > 1800
                           THEN 1 ELSE 0 END AS flag
               FROM d),
         s AS (SELECT user_id, ts,
                      sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS sid
               FROM f)
         SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events,
                min(ts) AS start_ts, max(ts) AS end_ts,
                max(CAST(floor(epoch(ts)) AS BIGINT))
                  - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_id""",

    "q146_lift" ->
      """WITH d AS (SELECT (user_id % 3 = 0) AS y, CAST(value AS DOUBLE) AS s, event_id
                    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         b AS (SELECT ntile(10) OVER (ORDER BY s DESC, event_id) AS bin, y FROM d),
         g AS (SELECT bin, count(*) AS n, count(*) FILTER (WHERE y) AS n_pos
               FROM b GROUP BY bin)
         SELECT bin, n, n_pos,
                floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000
                  AS resp_rate,
                floor(CAST(sum(n_pos) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                      / CAST(sum(n_pos) OVER () AS DOUBLE) * 10000 + 0.5) / 10000
                  AS cum_capture,
                floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                      / (CAST(sum(n_pos) OVER () AS DOUBLE)
                         / CAST(sum(n) OVER () AS DOUBLE)) * 10000 + 0.5) / 10000
                  AS lift
         FROM g ORDER BY bin""",

    "q147_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                                       's' || CAST(l_suppkey AS VARCHAR) AS b
                        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         m0 AS (SELECT v, CAST(1000000 AS BIGINT) AS m FROM nodes),
         it1 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN m0 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v),
         it2 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN it1 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v),
         it3 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN it2 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v)
         SELECT v, CAST(m AS BIGINT) AS rank_micro
         FROM it3 ORDER BY rank_micro DESC, v""",

    "q177_label_communities" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                        WHERE o_orderdate < DATE '1996-01-01'),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
         l1 AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN l0 l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1),
         l2 AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN l1 l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1)
         SELECT CASE WHEN v % 2 = 0 THEN 'c' ELSE 's' END || CAST(v // 2 AS VARCHAR) AS node,
                CASE WHEN label % 2 = 0 THEN 'c' ELSE 's' END || CAST(label // 2 AS VARCHAR) AS community
         FROM l2 ORDER BY community, node""",

    // Unrolls a FIXED 9 rounds of the digit-chain DAG PageRank: rounds
    // past the integer-mass fixpoint are the identity, so this equals the
    // engine's converge-mode result whenever convergence lands by round 9
    // (depth(max o_orderkey)+2 ≈ 5 at sf0.01). A too-low unroll fails the
    // hash loudly; it can never pass a non-converged answer.
    "q198_pagerank_converge" -> {
      val its = (1 to 9).map { k =>
        val prev = if (k == 1) "m0" else s"it${k - 1}"
        s"""it$k AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN $prev r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v)"""
      }.mkString(",\n         ")
      s"""WITH edges AS (SELECT o_orderkey AS src, o_orderkey // 100 AS dst
                         FROM orders WHERE o_orderkey >= 1),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         m0 AS (SELECT v, CAST(1000000 AS BIGINT) AS m FROM nodes),
         $its
         SELECT v, CAST(m AS BIGINT) AS rank_micro
         FROM it9 ORDER BY rank_micro DESC, v"""
    },

    // Unrolls 4 fixed LPA rounds over the clique fixture: synchronous LPA
    // on a clique of size >= 3 fixpoints at round 3, and identity rounds
    // past the fixpoint keep the unroll equal to the converged labels.
    "q199_lpa_converge" -> {
      val rounds = (1 to 4).map { k =>
        val prev = if (k == 1) "l0" else s"l${k - 1}"
        s"""l$k AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN $prev l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1)"""
      }.mkString(",\n         ")
      s"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS n, c_custkey // 100 AS bkt
                     FROM customer),
         g AS (SELECT n, bkt FROM c GROUP BY n, bkt HAVING count(*) >= 3),
         cc AS (SELECT c.* FROM c JOIN g USING (n, bkt)),
         pairs AS (SELECT x.k AS a, y.k AS b FROM cc x JOIN cc y
                   ON x.n = y.n AND x.bkt = y.bkt AND x.k < y.k),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
         $rounds
         SELECT v, label FROM l4 ORDER BY label, v"""
    },

    "q148_weighted_topk" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         p AS (SELECT doc_id, lang, n_chars, h,
                      CAST(floor(-ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
                                 / CAST(n_chars AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                        AS prio
               FROM d)
         SELECT doc_id, lang, n_chars, prio, h
         FROM p ORDER BY prio, h, CAST(doc_id AS VARCHAR) LIMIT 500""",

    "q144_pruned_scan" ->
      """SELECT l_returnflag,
                count(*) AS n,
                CAST(sum(CAST(l_discount AS DECIMAL(27,2))) AS DOUBLE) AS sum_disc
         FROM lineitem
         WHERE l_quantity >= 10.0 AND l_quantity <= 20.0
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // triangle COUNT is orientation-invariant: the oracle closes id-ordered
    // wedges (a<b<c) while the engine closes degree-ordered ones — same set
    "q149_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_partkey % 10 < 3),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
                   ON e3.a = e1.a AND e3.b = e2.b),
         nn AS (SELECT count(*) AS n_nodes
                FROM (SELECT a AS v FROM e UNION SELECT b FROM e)),
         ne AS (SELECT count(*) AS n_edges FROM e)
         SELECT nn.n_nodes, ne.n_edges, tri.n_triangles FROM nn, ne, tri""",

    "q150_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_id AS t_id, ts AS t_ts, event_type AS channel
               FROM events WHERE event_type IN ('click', 'view', 'signup')),
         j AS (SELECT p.p_id, t.t_id, t.t_ts, t.channel,
                      row_number() OVER (PARTITION BY p.p_id
                                         ORDER BY t.t_ts, t.t_id) AS rn,
                      count(*) OVER (PARTITION BY p.p_id) AS cnt
               FROM p JOIN t ON p.user_id = t.user_id
                AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 1 DAY)
         SELECT channel,
                sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
                sum(CASE WHEN rn = cnt THEN 1 ELSE 0 END)::BIGINT AS last_touch,
                floor(sum(1.0::DOUBLE / cnt) * 10000 + 0.5) / 10000 AS linear
         FROM j GROUP BY channel ORDER BY channel""",

    "q151_bursts" ->
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
                  avg(n) OVER tw AS mu,
                  stddev_samp(CAST(n AS DOUBLE)) OVER tw AS sd
           FROM daily
           WINDOW tw AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n,
                CASE WHEN sd > 0
                     THEN floor((n - mu) / sd * 10000 + 0.5) / 10000 END AS z,
                CASE WHEN sd > 0 THEN abs((n - mu) / sd) > 2 ELSE false END AS burst
         FROM w ORDER BY event_type, day""",

    "q159_packing_report" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents),
         o AS (
           SELECT doc_id, h % 4 AS bucket, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS "offset"
           FROM d),
         sq AS (
           SELECT CAST(bucket AS BIGINT) AS bucket,
                  CAST(bucket * 1099511627776 + floor("offset" / 512) AS BIGINT) AS seq,
                  sum(n_tokens) AS fill
           FROM o GROUP BY 1, 2)
         SELECT bucket, count(*)::BIGINT AS n_seqs,
                floor(avg(fill::DOUBLE / 512.0) * 10000 + 0.5) / 10000 AS avg_fill,
                CAST(min(fill) AS BIGINT) AS min_fill,
                CAST(max(fill) AS BIGINT) AS max_fill,
                sum(CASE WHEN fill > 512 THEN 1 ELSE 0 END)::BIGINT AS n_overflow
         FROM sq GROUP BY bucket ORDER BY bucket""",

    "q160_clustering_coeff" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_partkey % 10 < 3),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                 FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
                   ON e3.a = e1.a AND e3.b = e2.b),
         corners AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri),
         tc AS (SELECT v, count(*) AS t FROM corners GROUP BY v),
         deg AS (SELECT v, count(*) AS deg
                 FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
         SELECT deg.v, deg.deg, coalesce(tc.t, 0)::BIGINT AS triangles,
                floor(coalesce(tc.t, 0) * 2.0::DOUBLE / (deg.deg * (deg.deg - 1))
                      * 10000 + 0.5) / 10000 AS coeff
         FROM deg LEFT JOIN tc ON deg.v = tc.v
         WHERE deg.deg >= 2
         ORDER BY coeff DESC, deg.v LIMIT 20""",

    "q169_activity_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events),
         r AS (SELECT user_id, day,
                      row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
               FROM days),
         st AS (SELECT user_id, day - rn::INT AS grp, count(*) AS len
                FROM r GROUP BY user_id, day - rn::INT),
         b AS (SELECT user_id, max(len) AS best FROM st GROUP BY user_id)
         SELECT CAST(best AS BIGINT) AS streak_days, count(*)::BIGINT AS n_users
         FROM b GROUP BY 1 ORDER BY 1""",

    // quantile_cont replays exactQuantileArrays' interpolation bit-exactly
    // (the q103 parity precedent); bin = count of cuts <= value
    "q170_rfm_segments" ->
      """WITH per AS (
           SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         pv AS (
           SELECT o_custkey,
                  datediff('day', DATE '1970-01-01', last_order)::DOUBLE AS rv,
                  freq::DOUBLE AS fv, monetary AS mv
           FROM per),
         cuts AS (
           SELECT quantile_cont(rv, [0.25, 0.5, 0.75]) cr,
                  quantile_cont(fv, [0.25, 0.5, 0.75]) cf,
                  quantile_cont(mv, [0.25, 0.5, 0.75]) cm
           FROM pv),
         seg AS (
           SELECT (1 + len(list_filter(cr, c -> c <= rv)))::VARCHAR ||
                  (1 + len(list_filter(cf, c -> c <= fv)))::VARCHAR ||
                  (1 + len(list_filter(cm, c -> c <= mv)))::VARCHAR AS segment
           FROM pv, cuts)
         SELECT segment, count(*)::BIGINT AS n_customers
         FROM seg GROUP BY 1 ORDER BY 1""",

    "q171_sessions_per_user" ->
      """WITH d AS (SELECT user_id, ts, event_id FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, ts, event_id,
                      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                             > 1800
                           THEN 1 ELSE 0 END AS flag
               FROM d),
         s AS (SELECT user_id,
                      sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS sid
               FROM f),
         per AS (SELECT user_id, count(DISTINCT sid) AS n_sessions FROM s GROUP BY user_id)
         SELECT CAST(n_sessions AS BIGINT) AS n_sessions, count(*)::BIGINT AS n_users
         FROM per GROUP BY 1 ORDER BY 1""",

    "q172_time_to_convert" ->
      """WITH fc AS (SELECT user_id, min(ts) AS fc FROM events
                     WHERE event_type = 'click' GROUP BY user_id),
         fp AS (SELECT user_id, min(ts) AS fp FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
         j AS (SELECT CAST(date_trunc('week', fc.fc) AS TIMESTAMP) AS cohort_week,
                      (CAST(floor(epoch(fp.fp)) AS BIGINT)
                       - CAST(floor(epoch(fc.fc)) AS BIGINT)) / 60.0::DOUBLE AS mins
               FROM fc JOIN fp ON fc.user_id = fp.user_id AND fp.fp >= fc.fc)
         SELECT cohort_week, count(*)::BIGINT AS n_converted,
                floor(quantile_cont(mins, 0.5) * 10000 + 0.5) / 10000 AS median_mins,
                floor(quantile_cont(mins, 0.9) * 10000 + 0.5) / 10000 AS p90_mins
         FROM j GROUP BY cohort_week ORDER BY cohort_week""",

    "q168_weekday_profile" ->
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(date_part('dow', day) AS INT) AS dow,
                count(*)::BIGINT AS n_days,
                floor(avg(n) * 10000 + 0.5) / 10000 AS avg_n,
                CAST(min(n) AS BIGINT) AS min_n, CAST(max(n) AS BIGINT) AS max_n
         FROM daily GROUP BY 1, 2 ORDER BY event_type, dow""",

    "q167_medallion" ->
      """WITH silver AS (
           SELECT o_orderkey, o_custkey, upper(trim(o_orderstatus)) AS o_orderstatus,
                  o_totalprice, o_orderdate
           FROM orders),
         gold AS (
           SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
           FROM silver
           QUALIFY row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
         SELECT o_orderstatus, count(*)::BIGINT AS n,
                count(DISTINCT o_custkey)::BIGINT AS n_customers,
                CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM gold
         WHERE o_orderdate IS NOT NULL
           AND o_orderdate >= '1993-01-01' AND o_orderdate < '1998-01-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // the full recompute the maintained gold must equal bit-exactly
    // (decimal(27,4) carrier, the q187 parity precedent); base slice ∪
    // increment = the whole table, so no slice predicate appears
    "q167b_medallion_incremental" ->
      """WITH silver AS (
           SELECT upper(trim(o_orderstatus)) AS o_orderstatus,
                  CAST(o_totalprice AS DOUBLE) AS o_totalprice
           FROM orders)
         SELECT o_orderstatus,
                CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*)::BIGINT AS n_orders
         FROM silver GROUP BY 1 ORDER BY 1""",

    "q165_dedup_funnel" ->
      s"""WITH RECURSIVE docs AS (
           SELECT doc_id, text,
                  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
           FROM documents),
         ex AS (
           -- mirror dedupByDigest's NULL pass-through: NULL content is not
           -- "equal content", so NULL-text rows all survive the exact stage
           SELECT * FROM docs WHERE text IS NOT NULL
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
           UNION ALL
           SELECT * FROM docs WHERE text IS NULL),
         sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM ex)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         exx AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM exx a JOIN exx b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
         pr AS (
           SELECT doc_a, doc_b
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
                 / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pr UNION SELECT doc_b, doc_a FROM pr),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.id),
         dropd AS (
           SELECT id FROM (SELECT id, min(root) AS comp FROM walk GROUP BY id)
           WHERE id <> comp),
         fz AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id FROM dropd)),
         u AS (
           SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens FROM docs
           UNION ALL
           SELECT '2_exact', count(*)::BIGINT, sum(nt)::BIGINT FROM ex
           UNION ALL
           SELECT '3_fuzzy', count(*)::BIGINT, sum(nt)::BIGINT FROM fz)
         SELECT stage, n_docs, n_tokens FROM u ORDER BY stage""",

    "q166_props_schema_drift" ->
      """WITH j AS (
           SELECT p_partkey % 2 = 0 AS is_old,
                  CASE WHEN p_partkey % 2 = 0 THEN
                    '{"id": ' || p_partkey::VARCHAR || ', "price": 1' ||
                    CASE WHEN p_partkey % 4 = 0 THEN ', "legacy": true' ELSE '' END || '}'
                  ELSE
                    '{"id": ' || p_partkey::VARCHAR || ', "price_cents": 100' ||
                    CASE WHEN p_partkey % 5 = 0 THEN ', "tags": []' ELSE '' END || '}'
                  END AS js
           FROM part),
         k AS (SELECT is_old, unnest(json_keys(js)) AS key FROM j)
         SELECT key,
                sum(CASE WHEN is_old THEN 1 ELSE 0 END)::BIGINT AS n_old,
                sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END)::BIGINT AS n_new,
                CASE WHEN sum(CASE WHEN is_old THEN 1 ELSE 0 END) > 0
                      AND sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END) > 0 THEN 'common'
                     WHEN sum(CASE WHEN is_old THEN 1 ELSE 0 END) > 0 THEN 'removed'
                     ELSE 'added' END AS status
         FROM k GROUP BY key ORDER BY key""",

    "q163_negative_sampling" ->
      """WITH nb AS (
           SELECT GREATEST(CAST(ceil(count(*) / 32.0) AS BIGINT), 1) AS nb
           FROM documents),
         d AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % (SELECT nb FROM nb) AS bkt
           FROM documents),
         p AS (
           SELECT a.doc_id AS anchor, b.doc_id AS neg_id,
                  ('0x' || substr(md5(a.doc_id::VARCHAR || '_' || b.doc_id::VARCHAR), 1, 15))::BIGINT AS draw
           FROM d a JOIN d b ON a.bkt = b.bkt AND a.doc_id <> b.doc_id AND a.lang <> b.lang),
         r AS (
           SELECT anchor, neg_id,
                  row_number() OVER (PARTITION BY anchor ORDER BY draw, neg_id) AS rank
           FROM p)
         SELECT anchor, neg_id, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3 ORDER BY anchor, rank""",

    "q164_curriculum_order" ->
      """WITH rk AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS round
           FROM documents)
         SELECT doc_id, source, CAST(round AS INT) AS round,
                CAST(row_number() OVER (PARTITION BY round ORDER BY source) AS INT) AS pos
         FROM rk ORDER BY round, pos""",

    "q162_lsh_recall_eval" ->
      s"""WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk
                 FROM documents WHERE lang = 'en')),
         ep AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
                 / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM ex a JOIN ex b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
         lp AS (
           SELECT doc_a, doc_b
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
                 / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5),
         ne AS (SELECT count(*) AS n_exact FROM ep),
         nl AS (SELECT count(*) AS n_lsh FROM lp),
         nb AS (SELECT count(*) AS n_both FROM (SELECT * FROM ep INTERSECT SELECT * FROM lp))
         SELECT n_exact, n_lsh, n_both,
                floor(n_both::DOUBLE / n_exact * 10000 + 0.5) / 10000 AS recall,
                floor(n_both::DOUBLE / n_lsh * 10000 + 0.5) / 10000 AS precision
         FROM ne, nl, nb""",

    "q161_fd_discovery" ->
      """WITH f1 AS (
           SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
                  count(*)::BIGINT AS n_keys,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating
           FROM (SELECT o_orderkey, count(DISTINCT o_custkey) nv FROM orders GROUP BY 1)),
         f2 AS (
           SELECT 'o_custkey', 'o_orderstatus', count(*)::BIGINT,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) nv FROM orders GROUP BY 1)),
         f3 AS (
           SELECT 'o_orderpriority', 'o_orderstatus', count(*)::BIGINT,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) nv FROM orders GROUP BY 1)),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
         SELECT determinant, dependent, n_keys, n_violating,
                n_violating = 0 AS fd_holds
         FROM u ORDER BY determinant, dependent""",

    "q156_pii_summary" ->
      """WITH s AS (
           SELECT p_brand,
                  'ref ' || (p_partkey * 1234567)::VARCHAR ||
                  CASE WHEN p_partkey % 3 = 0
                       THEN ' user' || p_partkey::VARCHAR || '@example.com' ELSE '' END ||
                  CASE WHEN p_partkey % 4 = 0
                       THEN ' 10.0.' || (p_partkey % 256)::VARCHAR || '.1' ELSE '' END AS txt
           FROM part),
         c AS (
           SELECT p_brand,
                  len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) em,
                  len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) ip,
                  len(regexp_extract_all(txt, '\b\d{7,}\b')) nm
           FROM s)
         SELECT p_brand,
                sum(em)::BIGINT AS n_email, sum(ip)::BIGINT AS n_ip,
                sum(nm)::BIGINT AS n_num,
                sum(CASE WHEN em + ip + nm > 0 THEN 1 ELSE 0 END)::BIGINT AS rows_with_pii
         FROM c GROUP BY p_brand ORDER BY p_brand""",

    "q157_charngram_langid" ->
      """WITH lt AS (SELECT doc_id, lang, lower(text) t FROM documents),
         tri AS (
           SELECT doc_id, lang, unnest([substr(t, i, 3) for i in range(1, len(t) - 1)]) g
           FROM lt),
         pc AS (SELECT lang, g, count(*) cnt FROM tri GROUP BY 1, 2),
         prof AS (
           SELECT lang AS plang, g FROM (
             SELECT lang, g,
                    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) rn
             FROM pc) WHERE rn <= 20),
         dtri AS (
           SELECT doc_id,
                  unnest(list_distinct([substr(t, i, 3) for i in range(1, len(t) - 1)])) g
           FROM lt),
         sc AS (SELECT doc_id, plang, count(*) cnt
                FROM dtri JOIN prof ON dtri.g = prof.g GROUP BY 1, 2),
         best AS (
           SELECT doc_id, plang FROM (
             SELECT doc_id, plang,
                    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang) rn
             FROM sc) WHERE rn = 1)
         SELECT d.doc_id, d.lang, coalesce(b.plang, 'und') AS pred
         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         ORDER BY d.doc_id""",

    "q158_cluster_sizes" ->
      s"""WITH RECURSIVE ${simhashCcCteBody()}
         SELECT sz, count(*)::BIGINT AS n_clusters FROM (
           SELECT comp, count(*)::BIGINT AS sz FROM (
             SELECT id, min(root) AS comp FROM walk GROUP BY id)
           GROUP BY comp)
         GROUP BY sz ORDER BY sz""",

    "q184_canonical_survivors" ->
      s"""WITH RECURSIVE ${simhashCcCteBody()},
         ${logregCteBody()},
         comps AS (SELECT id, min(root) AS comp FROM walk GROUP BY id),
         scq AS (SELECT f.doc_id, floor(1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2)))*10000+0.5)/10000 s4
                 FROM f, g3),
         m AS (SELECT c.comp, c.id, scq.s4 FROM comps c JOIN scq ON scq.doc_id = c.id)
         SELECT comp, n_members, id AS survivor_id, s4 AS best_score4 FROM (
           SELECT comp, id, s4, count(*) OVER (PARTITION BY comp) AS n_members,
                  row_number() OVER (PARTITION BY comp ORDER BY s4 DESC, id) AS rn
           FROM m) WHERE rn = 1 ORDER BY comp""",

    "q185_psi_drift" ->
      """WITH b AS (SELECT unnest(range(0, 20)) AS bin),
         d AS (SELECT lang, least(CAST(floor(n_chars / 100) AS INT), 19) AS bin FROM documents),
         r AS (SELECT bin, count(*) rc FROM d WHERE lang = 'en' GROUP BY bin),
         rt AS (SELECT sum(rc) rn FROM r),
         rb AS (SELECT b.bin, coalesce(rc, 0) rc FROM b LEFT JOIN r USING (bin)),
         l AS (SELECT DISTINCT lang FROM d WHERE lang <> 'en'),
         q AS (SELECT lang, bin, count(*) qc FROM d WHERE lang <> 'en' GROUP BY lang, bin),
         qt AS (SELECT lang, count(*) qn FROM d WHERE lang <> 'en' GROUP BY lang),
         dense AS (SELECT l.lang, b.bin, coalesce(q.qc, 0) qc
                   FROM l CROSS JOIN b LEFT JOIN q ON q.lang = l.lang AND q.bin = b.bin),
         terms AS (SELECT dense.lang,
                     ((rb.rc + 1)::DOUBLE / (rt.rn + 20) - (dense.qc + 1)::DOUBLE / (qt.qn + 20))
                     * ln(((rb.rc + 1)::DOUBLE / (rt.rn + 20)) / ((dense.qc + 1)::DOUBLE / (qt.qn + 20))) AS term
                   FROM dense JOIN rb USING (bin) JOIN qt ON qt.lang = dense.lang, rt)
         SELECT lang, floor(sum(term)*10000+0.5)/10000 AS psi4, CAST(qn AS BIGINT) AS n
         FROM terms JOIN qt USING (lang) GROUP BY lang, qn ORDER BY lang""",

    "q153_split_contamination" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct([array_to_string(list_slice(tk, i, i+7), ' ')
                                        for i in range(1, len(tk)-6)])) AS sh
           FROM tk),
         sp AS (
           SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 8000 THEN 'train'
                       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
         ss AS (SELECT DISTINCT sp.split, sh.sh FROM sh JOIN sp USING (doc_id))
         SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_shared
         FROM ss a JOIN ss b ON a.sh = b.sh AND a.split < b.split
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q154_langid_confusion" ->
      """WITH s AS (
           SELECT doc_id, lang,
                  len(list_intersect(tk, ['der','die','das','und'])) s_de,
                  len(list_intersect(tk, ['the','a','of','and'])) s_en,
                  len(list_intersect(tk, ['el','la','los','y'])) s_es,
                  len(list_intersect(tk, ['le','les','une','et'])) s_fr,
                  len(list_intersect(tk, ['shi','bu','wo','zhe'])) s_zh
           FROM (SELECT doc_id, lang, list_distinct(string_split_regex(lower(trim(text)), '\s+')) tk FROM documents)),
         p AS (
           SELECT lang,
                  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh' END AS pred
           FROM s),
         c AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2)
         SELECT lang, pred, n,
                floor(n::DOUBLE / sum(n) OVER (PARTITION BY lang) * 10000 + 0.5) / 10000
                  AS frac_of_true
         FROM c ORDER BY lang, pred""",

    "q155_zipf_slope" ->
      """WITH tok AS (
           SELECT token, count(*) AS cnt
           FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           GROUP BY token ORDER BY cnt DESC, token LIMIT 100),
         rk AS (
           SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS r FROM tok),
         m AS (
           SELECT count(*)::BIGINT AS n,
                  sum(ln(r::DOUBLE)) AS sx, sum(ln(cnt::DOUBLE)) AS sy,
                  sum(ln(r::DOUBLE) * ln(cnt::DOUBLE)) AS sxy,
                  sum(ln(r::DOUBLE) * ln(r::DOUBLE)) AS sxx
           FROM rk)
         SELECT n,
                floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5) / 10000
                  AS slope,
                floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                      * 10000 + 0.5) / 10000 AS intercept
         FROM m""",

    "q152_rrf" ->
      """WITH la AS (
           SELECT doc_id, row_number() OVER (ORDER BY length(text) DESC, doc_id) AS r
           FROM documents QUALIFY r <= 100),
         lb AS (
           SELECT doc_id, row_number() OVER (
             ORDER BY len(list_distinct(string_split(text, ' ')))::DOUBLE
                      / len(string_split(text, ' ')) DESC, doc_id) AS r
           FROM documents QUALIFY r <= 100)
         SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id,
                floor((coalesce(1.0::DOUBLE / (la.r + 60), 0) + coalesce(1.0::DOUBLE / (lb.r + 60), 0))
                      * 10000 + 0.5) / 10000 AS rrf
         FROM la FULL JOIN lb ON la.doc_id = lb.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""",
  )
}
