package graft

import org.apache.spark.sql.functions.{col, lit, spark_partition_id, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Shared

/** Plan-shape assertions (SURVEY §4.2): the operators must not merely be
  * correct — the physical plans must be the ones that survive a 100× scale-up
  * (pushdown into the scan, broadcast for dims, no body-shuffle in dedup).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q01: date filter is pushed down to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q01: scan schema is pruned to the referenced columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"))
  }

  test("q11: dimension joins are broadcast, not shuffled") {
    val p = plan("q11_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q18: two-phase digest dedup ends in a semi-join (no window over bodies)") {
    val p = plan("q18_dedup_digest")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"))
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q17 minhash: the LSH self-join reuses one signature exchange") {
    val df = SparkEntry.queries("q17_minhash_lsh")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"))
  }

  test("q24 knn: probe side is broadcast; corpus is not exchanged") {
    val p = plan("q24_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q99 bloom anti-join: corpus routes via might_contain, never hash-shuffles") {
    val p = plan("q99_bloom_decontaminate")
    assert(p.contains("might_contain"), s"bloom filter not in plan:\n$p")
    // the only exchanges are the one-row bloom aggregate (SinglePartition),
    // the anti-join broadcast, and the final order-by range partitioning —
    // a hash exchange would mean the corpus itself is being shuffled
    assert(!p.contains("Exchange hashpartitioning"), s"corpus hash-shuffled:\n$p")
  }

  test("similarity ranking is a bounded aggregate, not a candidate-stream sort") {
    // kNN/ANN/IVF top-k must partial-aggregate (ObjectHashAggregate over
    // TopKPairs) — a Window would sort the FULL candidate stream per probe
    for (q <- Seq("q24_knn", "q26_ann_lsh", "q58_ivf_ann")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via window sort:\n$p")
      assert(p.contains("ObjectHashAggregate") && p.contains("topkpairs"),
        s"$q missing bounded top-k aggregate:\n$p")
    }
  }

  test("ivfAssign plans zero exchanges: assignment is one narrow pass") {
    val docs = graft.Tables.t(spark, sf, "embeddings")
    val p = graft.ops.Similarity.ivfAssign(docs, "vec_id", "embedding", 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle the corpus:\n$p")
  }

  test("tokenBudgetMix joins the per-source totals by broadcast") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(
        graft.ops.Text.tokens(col("text"))))
    val p = graft.ops.Sampling.tokenBudgetMix(docs, Seq("doc_id"), "source",
        col("n_tokens"), 8000.0, Map("src0" -> 0.5), default = 0.1)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("curationPipeline: the token gate runs below the first exchange (scan stage)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val p = graft.ops.Curation.curationPipeline(docs, "doc_id", "text", "source",
        20, 80, 12, Seq("train" -> 1.0))
      .queryExecution.executedPlan.toString
    val lines     = p.linesIterator.toVector
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("size("))
    val firstExch = lines.indexWhere(_.contains("Exchange"))
    assert(filterIdx >= 0 && firstExch >= 0)
    // plans print top-down: a LATER line is DEEPER (closer to the scan)
    assert(filterIdx > firstExch,
      s"token gate should sit beneath the dedup exchange:\n$p")
  }

  test("whole-stage codegen covers the scan→filter→aggregate pipeline (q01)") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect() // force execution so AQE finalizes the physical plan
    // codegen stages print as `*(n)` prefixes in the final adaptive plan
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("partitioned write → filtered read prunes partitions at the source") {
    val base = Tables.targetPath(s"tmp/part_events_${System.nanoTime()}")
    Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type")
      .write.partitionBy("event_type").parquet(base)
    val df   = spark.read.parquet(base).filter(col("event_type") === "click")
    val plan = df.queryExecution.executedPlan.toString
    // the predicate must land in the scan's PartitionFilters (directory
    // pruning — only the click/ partition is listed), not a post-scan Filter
    assert(plan.contains("PartitionFilters: ["), plan.take(400))
    assert(plan.replaceAll("#\\d+", "").contains("(event_type = click)"), plan.take(400))
  }

  test("q67 tfidf: building the plan launches no job; corpus count is in-plan") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // The scope of this pin is tfidfTopTerms itself (its r2 form ran an eager
    // .count() while BUILDING the plan), so the source read — which may run
    // its own footer/listing job — happens before the listener attaches.
    val docs = Tables.t(spark, sf, "documents")
    docs.queryExecution.optimizedPlan // force analysis of the read up front
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.sql.graftbridge.ListenerBridge.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val df = graft.ops.Text.tfidfTopTerms(docs, "doc_id", "text", 3)
      val plan = df.queryExecution.optimizedPlan.toString // analyze+optimize, never execute
      org.apache.spark.sql.graftbridge.ListenerBridge.flush(spark.sparkContext)
      assert(jobs.get() == 0, "plan construction must not run a Spark job (eager count regression)")
      assert(plan.toLowerCase.contains("count(distinct"),
        "corpus size N must be computed inside the plan")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("connectedComponents runs ONE action per round — no separate convergence-probe job") {
    // The convergence signature is the round's materializing action (the
    // round pin is lazy), so a round costs exactly the AQE stage jobs of the
    // labelSum aggregate — measured 4 on this fixture — and NOT 4 + 1 for a
    // standalone eager-checkpoint job (the pre-fold shape measured 5).
    // Marginal counting (chain-6 minus chain-3 = exactly 3 extra rounds of
    // identical plan shape) cancels the per-invocation setup jobs.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      org.apache.spark.sql.graftbridge.ListenerBridge.flush(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.sql.graftbridge.ListenerBridge.flush(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    def chain(n: Int) = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    graft.ops.Dedup.connectedComponents(chain(3), "a", "b").count() // codegen warm-up
    val j3 = countJobs { graft.ops.Dedup.connectedComponents(chain(3), "a", "b").count() }
    val j6 = countJobs { graft.ops.Dedup.connectedComponents(chain(6), "a", "b").count() }
    // chain(n) converges in exactly n rounds (min label walks 1 hop/round,
    // +1 round to observe the fixpoint), so chain-6 runs 3 more than chain-3
    assert(j6 - j3 == 3 * 4,
      s"expected 4 jobs per extra CC round (labelSum stages only), measured ${(j6 - j3) / 3.0}")
  }

  test("q109 bm25: the postings filter runs beneath the tf aggregate's exchange") {
    val p = plan("q109_bm25")
    val lines = p.linesIterator.toVector
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("term"))
    val firstExch = lines.indexWhere(_.contains("Exchange"))
    assert(filterIdx >= 0 && firstExch >= 0)
    // plans print top-down: a LATER line is DEEPER — the IN(queries) filter
    // must sit below every exchange so only matching postings ever shuffle
    assert(filterIdx > firstExch,
      s"postings filter should gate the explode before the tf shuffle:\n$p")
  }

  test("semanticDedupPairs: the cell join is a hash join, never a cross product") {
    // the q111 query's own plan ends at the connected-components checkpoint,
    // so pin the candidate-pair subplan the capstone is built from
    val p = graft.ops.Similarity.semanticDedupPairs(
        Tables.t(spark, sf, "embeddings"), "vec_id", "embedding", 8, 0.4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs cosine leaked into the plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on the cell id:\n$p")
  }

  test("exactQuantileArrays: the rank window is partitioned, not a global sort") {
    val li = Tables.t(spark, sf, "lineitem")
    val p = graft.ops.Summaries.exactQuantileArrays(li,
        Seq(("l_extendedprice", Seq(0.25, 0.5, 0.75), "c")))
      .queryExecution.executedPlan.toString
    // a Window with an empty partition spec would print `windowspecdefinition(`
    // with the order expression FIRST; the per-column spec leads with __ci
    val winLine = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("windowspecdefinition(__ci"),
      s"cumulative-rank window must partition by column id:\n$winLine")
  }

  test("order statistics: no data-sized window runs unpartitioned or per-group-in-one-task") {
    // The round-10 sweep: ksDrift's CDF, liftTable's rank, and the per-group
    // median/winsorize ranks must all route through runningSums' two-phase
    // range partition. A data-sized window would print windowspecdefinition
    // with the DATA ordering first (unpartitioned) or with the low-card
    // group key as its only partition column; the two-phase shape always
    // partitions data-sized windows by (.., __pid). Windows WITHOUT data
    // ordering columns (the ≤ nPart offsets window, liftTable's ≤ nBins bin
    // windows) are bounded by construction and exempt.
    val ev = Tables.t(spark, sf, "events")
    def winLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
    val ks = winLines(graft.ops.Summaries.ksDrift(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"), col("value")))
    assert(ks.forall(!_.matches(".*windowspecdefinition\\(v#.*")),
      s"ksDrift CDF window is a global domain sort:\n${ks.mkString("\n")}")
    val lift = winLines(graft.ops.Summaries.liftTable(
      ev, col("user_id") % 3 === 0, col("value"), "event_id", 10))
    assert(lift.forall(!_.matches(".*windowspecdefinition\\(__s#.*")),
      s"liftTable rank window is a global score sort:\n${lift.mkString("\n")}")
    for ((name, df) <- Seq(
        "madOutliers" -> graft.ops.Curation.madOutliers(ev, "event_type",
          col("value"), "event_id"),
        "winsorize" -> graft.ops.Curation.winsorize(ev, "event_type",
          col("value"), "event_id"))) {
      // the data-sized rank windows are exactly those ordering by the
      // (value, id) tiebreak; the offsets windows aggregate __ps partials
      // (≤ |groups|·nPart rows) and never mention the id column
      val ls = winLines(df)
      val dataSized = ls.filter(_.contains("event_id#"))
      assert(dataSized.nonEmpty && dataSized.forall(_.contains("__pid")),
        s"$name ranks n/|groups| rows in one task per group:\n${ls.mkString("\n")}")
    }
  }

  test("kmeans assignment plans zero joins and zero exchanges (broadcast argmin)") {
    val docs = graft.Tables.t(spark, sf, "embeddings")
    val p = graft.ops.Clustering.assignClusters(docs, "embedding",
        Seq((0, Seq.fill(64)(0.0)), (1, Seq.fill(64)(1.0))))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("Exchange"), s"assignment must not shuffle the corpus:\n$p")
  }

  test("q118 covariance: one single-partition exchange, no pre-aggregate explode") {
    val p = plan("q118_covariance")
    // the d x d cells come out of ONE merged buffer: the only exchange is
    // the one-row partial->final merge, and the explode sits ABOVE it
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly one exchange:\n$p")
    assert(p.contains("SinglePartition"), s"the merge exchange must be one row:\n$p")
    val gen = p.indexOf("Generate")
    val ex  = p.indexOf("Exchange")
    assert(gen >= 0 && gen < ex, // plans print top-down: above = smaller index
      s"the (i,j,cov) explode must consume the merged buffer, not feed it:\n$p")
  }

  test("q116 dup-span census shuffles the window hash, not the text") {
    val p = plan("q116_ngram_dup_spans")
    assert(p.contains("hashpartitioning(h#"),
      s"occurrence counting must partition by the md5 window hash:\n$p")
    // the text column must die at the scan projection: no exchange of ANY
    // kind carries it (hash, range, OR round-robin — q116 has no sanctioned
    // input spread, so the check is total here)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"no exchange may carry document text:\n${exchanges.mkString("\n")}")
  }

  test("q128 overlap join: grid-cell equi-join, never a cartesian/NL product") {
    val p = plan("q128_overlap_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must bucket to grid cells, not theta-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on the cell:\n$p")
  }

  test("q126 charlm: the per-char explode collapses before any exchange") {
    // assert on the pre-checkpoint stage (the final query plan hides it
    // behind the pinned materialization's LogicalRDD)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val stage = graft.ops.Text.docCharBigramCounts(docs, "doc_id", "text")
    val p = stage.queryExecution.executedPlan.toString
    // the per-doc bigram histogram aggregates INSIDE the native expression:
    // compressed (doc, bigram, count) rows come straight off the scan —
    // never one row per character. The ONLY exchange allowed is the single
    // round-robin spread of the raw (id, text) rows BEFORE the histogram
    // (the minhashNearDupPairs device: a small input arrives as one split,
    // which would serialize the CPU-bound pass; measured as two 1.5 s
    // single-task jobs at sf0.1); nothing downstream of the expression —
    // i.e. no per-character or per-bigram row — may shuffle here.
    val stageEx = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(stageEx.size <= 1 && stageEx.forall(_.contains("RoundRobinPartitioning")),
      s"the bigram-count stage may only carry the one round-robin input spread:\n$p")
    assert(p.toLowerCase.contains("charbigramcounts"),
      s"expected the native histogram expression:\n$p")
    // and the full query must still never shuffle document text on ANY
    // exchange kind — the only sanctioned text-carrying exchange is the one
    // gated round-robin input spread above a narrow scan (checked against
    // the stage plan above); a hash/range text exchange is always a bug
    val full = plan("q126_charlm_quality")
    val fullEx = full.linesIterator.filter(_.contains("Exchange")).toSeq
    val offending = fullEx.filter(l =>
      l.contains("text#") && !l.contains("RoundRobinPartitioning"))
    assert(offending.isEmpty,
      s"no keyed exchange may carry document text:\n${offending.mkString("\n")}")
    assert(fullEx.count(l =>
      l.contains("text#") && l.contains("RoundRobinPartitioning")) <= 1,
      s"at most ONE sanctioned input spread may carry text:\n${fullEx.mkString("\n")}")
  }

  test("q149 triangles: wedge legs are equi-joins; non-equi joins only glue 1-row aggregates") {
    val p = plan("q149_triangles")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the only nested-loop joins are the Cross glue between the three
    // SINGLE-ROW summary aggregates — every data-sized leg is hash-keyed
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2,
      s"nested-loop joins beyond the 1-row glue:\n${bnlj.mkString("\n")}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected hash-keyed wedge legs:\n$p")
  }

  test("q150 attribution: the touch lookup is a banded equi-join, not a per-user theta") {
    val p = plan("q150_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval lookback must bucket to time bands:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on (user, band):\n$p")
  }

  test("q153 contamination: shingle self-join is equi-keyed and the index aggregates partially") {
    val p = plan("q153_split_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"split-contamination must join on the shingle key:\n$p")
    // distinct (split, shingle) must partial-aggregate below its exchange —
    // the map-side combine is what keeps hot shingles from flooding the wire
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final distinct:\n$p")
  }

  test("q157 langid: the trained profile is broadcast — the trigram stream never shuffles for the model join") {
    val p = plan("q157_charngram_langid")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5x20-row model must broadcast to the trigram stream:\n$p")
  }

  /** The q175 fixture: half of lineitem collapses onto supplier 1 via a
    * derived key — REAL skew, unlike q84's uniform l_orderkey. sf0.01 so the
    * hot partition carries enough bytes to trip AQE's size thresholds.
    */
  private def skewFixture(d: String) = {
    val li = Tables.t(spark, d, "lineitem").withColumn("skew_key",
      when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_suppkey")))
    val sup = Tables.t(spark, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    (li, sup)
  }

  /** Set SQL confs for the duration of `body`, restoring prior values after
    * (unsetting keys that had no explicit value, falling back to defaults).
    */
  private def withSqlConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) =>
      // get can throw (no default) OR return null (optional conf, unset)
      k -> scala.util.Try(spark.conf.get(k)).toOption.flatMap(Option(_))
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q175 skew: AQE splits the hot partition of the unsalted join (skew=true)") {
    // the OTHER scale path: no salt at all — AQE detects the oversized
    // shuffle partition at runtime and splits it. Three conditions this pin
    // documents (each found the hard way): (1) broadcast disabled, so the
    // 100-row supplier can't dodge the shuffle; (2) the shuffled rows carry
    // an INCOMPRESSIBLE payload — skew detection is byte-based, and a
    // constant hot key compresses ~7x better than mixed keys, flattening a
    // 5x row skew into near-uniform bytes; (3) the map side has multiple
    // tasks (repartition(16)) — a skewed reduce partition can only split at
    // map-output granularity, so a single-map shuffle is unsplittable
    withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold"                        -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"               -> "-1",
      "spark.sql.adaptive.skewJoin.enabled"                         -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> "131072") {
      val (li0, sup) = skewFixture("/root/testdata/sf0.01")
      val li = li0.withColumn("payload",
          org.apache.spark.sql.functions.sha2(
            org.apache.spark.sql.functions.concat_ws(",",
              col("l_orderkey"), col("l_linenumber")), 256))
        .repartition(16)
      val j = li.join(sup, col("skew_key") === col("s_suppkey"))
        .select(col("skew_key"), col("s_nationkey"), col("l_quantity"), col("payload"))
      j.collect() // execute THIS plan — a .count() finalizes a different one
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE skew-join did not engage on a 50%-hot key:\n$p")
    }
  }

  test("q175 skew: saltedJoin spreads the hot key across reducers (measured rows)") {
    // physical proof, not plan text: spark_partition_id() is evaluated in
    // the join's reducer tasks, so the per-pid row histogram IS the reducer
    // load distribution. AQE off so nothing coalesces/splits behind the
    // measurement; 32 reducers so the two shapes separate crisply
    withSqlConf(
      "spark.sql.adaptive.enabled"           -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions"         -> "32") {
      val (li, sup) = skewFixture("/root/testdata/sf0.01")
      def reducerRows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.groupBy(spark_partition_id().as("pid")).count()
          .collect().map(_.getLong(1)).toSeq
      val plain  = reducerRows(li.join(sup, col("skew_key") === col("s_suppkey")))
      val salted = reducerRows(graft.ops.Relational.saltedJoin(
        li, sup, "skew_key", "s_suppkey", salts = 8))
      val total = plain.sum
      assert(salted.sum == total, "salted join changed the row count")
      assert(plain.max.toDouble / total >= 0.5,
        s"fixture is not actually skewed: max reducer share ${plain.max.toDouble / total}")
      assert(salted.max.toDouble / total <= 0.25,
        s"salt failed to spread the hot key: max reducer share ${salted.max.toDouble / total}")
    }
  }

  test("q176 index dedup: the persisted corpus index is never exchanged") {
    // broadcast disabled so the probe side MUST shuffle — the pin then
    // separates the sides: exactly one band-keyed exchange (the batch
    // probe), zero on the bucketed corpus index
    withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold"          -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = Tables.t(spark, sf, "documents")
      graft.ops.Text.writeMinhashIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3, 16,
        "planspec_idx", 4)
      val df = graft.ops.Text.minhashDedupAgainstIndex(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 3, 16, 0.5,
        "planspec_idx")
      df.collect()
      // the adaptive printout repeats the plan (Final + Initial sections) —
      // pin on the executed Final section only
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val bandEx = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band#")).toSeq
      assert(bandEx.size == 1,
        s"only the batch probe may shuffle on (band,hv):\n${bandEx.mkString("\n")}")
    }
  }

  test("q183 PQ index search: the bucketed code table is never exchanged") {
    // same separation pin as q176: with broadcast disabled the probe side
    // must shuffle on the join key, so exactly one cell-keyed exchange may
    // appear (the probe) and none on the bucketed _idx corpus side
    withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold"          -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val e  = Tables.t(spark, sf, "embeddings")
      val cb = graft.ops.Clustering.pqTrain(e, "vec_id", "embedding", 2, 4, 1)
      graft.ops.Similarity.writePqIndex(e, "vec_id", "embedding", cb,
        nCells = 4, "planspec_pqidx", buckets = 2)
      val df = graft.ops.Similarity.searchPqIndex(
        e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        "planspec_pqidx", k = 3, nProbe = 2)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val cellEx = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("cell#")).toSeq
      assert(cellEx.size == 1,
        s"only the probe batch may shuffle on cell:\n${cellEx.mkString("\n")}")
    }
  }

  test("q213 dHash index dedup: the persisted audio index is never exchanged") {
    // q176's separation pin on the multimodal lane: with broadcast
    // disabled the probe side must shuffle on (band, key), so exactly one
    // band-keyed exchange may appear — and none on the bucketed index
    withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold"          -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = Tables.t(spark, sf, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), Shared.wavPayloadCol.as("payload"))
      graft.ops.Multimodal.writeDHashIndex(docs.filter(col("doc_id") % 4 <= 1),
        "doc_id", "payload", 32, 2, "planspec_dhidx", buckets = 2)
      val df = graft.ops.Multimodal.audioDedupAgainstIndex(
        docs.filter(col("doc_id") % 4 >= 2), "doc_id", "payload", 32, 2, "planspec_dhidx")
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val bandEx = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band#")).toSeq
      assert(bandEx.size == 1,
        s"only the batch probe may shuffle on (band,key):\n${bandEx.mkString("\n")}")
    }
  }

  test("q215 image dHash index dedup: the persisted raster index is never exchanged") {
    // the q213 pin on the IMAGE lane: same shared index machinery, raster
    // hash head — probe-only exchange, bucketed index read in place
    withSqlConf(
      "spark.sql.autoBroadcastJoinThreshold"          -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = Tables.t(spark, sf, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), Shared.pngPayloadCol.as("payload"))
      graft.ops.Multimodal.writeImageDHashIndex(docs.filter(col("doc_id") % 4 <= 1),
        "doc_id", "payload", 8, 8, 2, "planspec_idhidx", buckets = 2)
      val df = graft.ops.Multimodal.imageDedupAgainstIndex(
        docs.filter(col("doc_id") % 4 >= 2), "doc_id", "payload", 8, 8, 2,
        "planspec_idhidx")
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val bandEx = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band#")).toSeq
      assert(bandEx.size == 1,
        s"only the batch probe may shuffle on (band,key):\n${bandEx.mkString("\n")}")
    }
  }

  test("q209 PQ refine: the _vecs store is read for probed cells only (IN pushdown)") {
    val e  = Tables.t(spark, sf, "embeddings")
    val cb = graft.ops.Clustering.pqTrain(e, "vec_id", "embedding", 2, 4, 1)
    graft.ops.Similarity.writePqIndex(e, "vec_id", "embedding", cb,
      nCells = 4, "planspec_pqref", buckets = 2, storeVectors = true)
    val df = graft.ops.Similarity.searchPqIndexRefined(
      e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
      "planspec_pqref", k = 3, nProbe = 2, refineR = 9)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the refine scan must carry the probed-cell IN filter INTO the
    // parquet reader — vector bytes are only read for candidate buckets
    val vecsScan = p.linesIterator.filter(_.contains("planspec_pqref_vecs")).mkString("\n")
    assert(vecsScan.nonEmpty, s"no _vecs scan found:\n$p")
    assert(vecsScan.contains("PushedFilters: [In(cell"),
      s"probed-cell IN filter not pushed to the _vecs scan:\n$vecsScan")
  }

  test("q209 PQ refine above the literal bound: join-based pruning, no _vecs shuffle") {
    val e  = Tables.t(spark, sf, "embeddings")
    val cb = graft.ops.Clustering.pqTrain(e, "vec_id", "embedding", 2, 4, 1)
    graft.ops.Similarity.writePqIndex(e, "vec_id", "embedding", cb,
      nCells = 4, "planspec_pqrefj", buckets = 2, storeVectors = true)
    val df = graft.ops.Similarity.searchPqIndexRefined(
      e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
      "planspec_pqrefj", k = 3, nProbe = 2, refineR = 9, maxCellLiterals = 0)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // past maxCellLiterals the pruning becomes a broadcast semi join on
    // cell: plan size bounded at any model scale, and the _vecs side must
    // not shuffle (probed cells are the broadcast build side)
    val vecsScan = p.linesIterator.filter(_.contains("planspec_pqrefj_vecs")).mkString("\n")
    assert(vecsScan.nonEmpty, s"no _vecs scan found:\n$p")
    assert(!vecsScan.contains("In(cell"),
      s"literal IN should not appear above the literal bound:\n$vecsScan")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected a broadcast left-semi cell pruning join:\n$p")
    val vecsExchanged = p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("planspec_pqrefj_vecs"))
    assert(!vecsExchanged, s"_vecs must never shuffle:\n$p")
  }

  test("q218 ORC round trip: the date predicate pushes into the ORC scan") {
    val df = graft.SparkEntry.queries("q218_orc_roundtrip")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scan = p.linesIterator.filter(l =>
      l.contains("FileScan orc") || l.contains("Scan orc")).mkString("\n")
    assert(scan.nonEmpty, s"no ORC scan in the plan:\n$p")
    assert(scan.contains("PushedFilters") && scan.contains("o_orderdate"),
      s"date predicate not pushed into the ORC scan:\n$scan")
  }

  test("q119 bpe: the corpus collapses to the vocabulary before pairs explode") {
    val p = plan("q119_bpe_pairs")
    // bottom-up: tokenize-explode -> vocab aggregate -> pair explode ->
    // pair aggregate. Top-down printout: the pair explode (first Generate)
    // sits ABOVE the deepest HashAggregate (vocab partial), the tokenize
    // explode (last Generate) BELOW it.
    val gens     = "Generate".r.findAllMatchIn(p).map(_.start).toSeq
    val vocabAgg = p.lastIndexOf("HashAggregate")
    assert(gens.size == 2, s"expected tokenize + pair explodes:\n$p")
    assert(gens.head < vocabAgg && gens.last > vocabAgg,
      s"pair explode must run over the aggregated vocabulary:\n$p")
  }

  test("per-row hot paths plan no interpreted HOF lambda") {
    // Higher-order functions have no doGenCode: a lambda in a per-row path
    // evaluates interpreted on EVERY row, invisibly (the plan still prints
    // a WholeStageCodegen span around it). Round 11 removed the two that
    // dominated their queries — quantile binning's filter(cuts, c <= v) and
    // char n-grams' per-character substr — and round 12 the positional-gram
    // tail (masked variants, adjacent pairs, token chunks, span windows,
    // BPE pairs, sorted repetition/entropy folds); this pins the class shut
    // for every consumer. (HOFs remain fine in bounded contexts, e.g. over
    // a 16-element signature array; these queries have none at all, so the
    // pin can be absolute.)
    for (q <- Seq("q103_zorder_cells", "q94_quantile_bin", "q170_rfm_segments",
        "q157_charngram_langid", "q21_langid",
        "q74_repetition", "q77_boilerplate", "q79_entropy", "q106_name_match",
        "q108_collocations", "q116_ngram_dup_spans", "q119_bpe_pairs",
        "q121_clip_dup_spans")) {
      val p = plan(q).toLowerCase
      assert(!p.contains("lambdafunction"),
        s"$q plans an interpreted HOF lambda in a per-row path")
    }
  }

  test("q180 gradient/score expressions index no per-row array") {
    // element_at(array(bias, f1, ...), i) per gradient component did O(d^2)
    // per-row work AND tripped a Janino rvalue bug that dropped the whole
    // training aggregate to interpreter mode (round-11 fix). The design
    // terms must stay direct columns.
    val p = plan("q180_logreg_quality").toLowerCase
    assert(!p.contains("element_at(array("),
      "q180 rebuilds a per-row design array to index one element")
  }
}
