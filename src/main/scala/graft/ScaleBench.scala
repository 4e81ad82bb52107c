package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, Dedup, Similarity, Summaries, Text, TxTable}
import graft.queries.Shared

/** Dev utility: two-point scaling evidence for the operator families no
  * query scales. Bench over a [[ScaleCorpus]] corpus already times every
  * query's operator at full corpus scale, so this keeps only what the suite
  * cannot show: the steady-state index/ingest loops, incremental view
  * maintenance, the medallion increment, BPE's merge-count axis, and the
  * multimodal/PQ operators whose queries run on a fixed key slice. It
  * measures each family at 1× and REPLICA× (default 10×) and prints one JSON
  * line per (family, factor), so a super-linear blow-up shows itself locally
  * before a real cluster finds it. Results land in SCALING.md, which also
  * names the query that carries each operator a query does scale.
  *
  * Both factors are [[ScaleCorpus]] corpora (`ScaleCorpus.build`, written
  * once per (source, factor) and shared with Bench's ×N runs), read through
  * [[Tables.t]], so both factors scan the same multi-file layout. Derived
  * fixtures (IVM views, persisted indices, TxTable roots) are keyed by the
  * corpus dir, never by the source dir alone, so a fixture can never
  * outlive the corpus it was built from.
  *
  * Usage: `runMain graft.ScaleBench [replicas] [family...]` with
  * `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object ScaleBench {

  // the batches of the three text steady families must be near-dup-free
  // against every corpus replica: they rotate with (r1, r2 >= 1), the pairs
  // ScaleCorpus gives replicas >= 10, so those families need f <= 10
  private val textSteady = Set("index_search_steady", "index_append_steady", "fuzzy_ingest_steady")
  private val textSteadyMax = ScaleCorpus.alphabet.length

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(a => a.toIntOption.getOrElse(
      sys.error(s"usage: ScaleBench [replicas] [family...] — got '$a' " +
        "where the replica count goes"))).getOrElse(10)
    // optional family-name filter (exact match) after the replica count —
    // lets a new family be measured without re-running the whole sweep
    val only = args.drop(1).toSet
    def on(names: String*) = only.isEmpty || names.exists(only)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = Seq(1, replicas).distinct
    require(replicas <= textSteadyMax || (only.nonEmpty && only.intersect(textSteady).isEmpty),
      s"${textSteady.toSeq.sorted.mkString(", ")} support at most $textSteadyMax replicas " +
        "(their batch rotations are corpus replicas past that); filter to the other families")
    val spark = Sessions.local()

    lazy val dir: Map[Int, String] = factors.map(f =>
      f -> ScaleCorpus.build(spark, sfDir, f, ScaleCorpus.defaultDir(sfDir, f))).toMap
    def read(table: String, f: Int) = Tables.t(spark, dir(f), table)
    // derived-fixture key: the corpus dir's name, a table-name-safe identifier
    def tag(f: Int) = new java.io.File(dir(f)).getName.replaceAll("[^A-Za-z0-9]", "_")
    def fixture(f: Int, name: String) = Tables.targetPath(s"scale_bench/${tag(f)}/$name")

    // IVM fixture: the stored per-group (sum, count) view of lineitem at
    // each factor, plus change feeds. The GROUP DOMAIN stays fixed as the
    // table scales: the replicas offset l_suppkey by ScaleCorpus's stride,
    // which would multiply GROUPS by f and make the maintenance join — ∝
    // groups — track the table; undoing the offset (mod the stride) gives
    // the realistic shape where a 10× table has 10× rows per group, not 10×
    // groups. Claims under test: applying a fixed feed costs O(changes +
    // groups) regardless of table size (`ivm_maintain` vs `ivm_recompute`),
    // and maintenance cost follows the FEED when the feed is what grows
    // (`ivm_feed`: f× feed against the fixed 1× view).
    def ivmGroup(df: DataFrame) =
      df.withColumn("g", pmod(col("l_suppkey"), lit(ScaleCorpus.Stride)))
    def liagg(f: Int)  = spark.read.parquet(fixture(f, "liagg_g"))
    def cdcfeed(f: Int) = spark.read.parquet(fixture(f, "cdcfeed_g"))
    if (on("ivm_maintain", "ivm_feed")) for (f <- factors) {
      Summaries.sumCountAgg(ivmGroup(read("lineitem", f)), Seq("g"), col("l_extendedprice"))
        .write.mode("overwrite").parquet(fixture(f, "liagg_g"))
      ivmGroup(read("lineitem", f)).filter(col("l_orderkey") % 59 === 0)
        .select(col("g"), col("l_extendedprice"),
          when(col("l_orderkey") % 118 === 0, "insert").otherwise("delete").as("change"))
        .write.mode("overwrite").parquet(fixture(f, "cdcfeed_g"))
    }

    // Steady-state persisted-index fixture (round-9 verdict item 5): the
    // suite's ×N points rebuild indices per run, so they certify BUILD
    // economics; a 100 TB ingest pipeline lives in the OTHER regime —
    // index built once, every batch pays only search + append. Fixture:
    // one MinHash index per factor over the f× documents, built untimed.
    // The timed families then hold the INCREMENT fixed (one 1×-sized
    // batch) while the indexed corpus grows f× — flat timings are the
    // "cost ∝ increment, not corpus" claim. Batch texts compose a second
    // rotation (r2 >= 1) that no replica below 10 uses (`textSteady`), so
    // the batch is near-dup-free against every factor and the search
    // measures the steady-state miss path, not a dup flood.
    def steadyPrefix(f: Int) = s"steady_${tag(f)}"
    def steadyBatch(j: Int): DataFrame = {
      import ScaleCorpus.{alphabet, alphabet2}
      def rotate(a: String, kk: Int) = a.drop(kk % a.length) + a.take(kk % a.length)
      val r1 = rotate(alphabet, j % alphabet.length)
      val r2 = rotate(alphabet2, 1 + (j / alphabet.length) % (alphabet2.length - 1))
      read("documents", 1).select(
        (col("doc_id") + lit((1000L + j) * ScaleCorpus.Stride)).as("doc_id"),
        translate(translate(col("text"), alphabet, r1), alphabet2, r2).as("text"))
    }
    if (on("index_search_steady", "index_append_steady")) for (f <- factors)
      Text.writeMinhashIndex(read("documents", f), "doc_id", "text", 3, 16,
        steadyPrefix(f), buckets = 32, mode = "overwrite")
    // each timed append consumes a globally-fresh batch so no run re-appends
    // ids the previous run admitted (a re-append would measure the dup-hit
    // path and corrupt the growth the fixture assumes)
    var steadySeq = 0

    // Steady-state MEDALLION fixture (q167b's scale claim): one TxTable
    // root per factor with bronze/silver/gold published whole from the f×
    // lineitem corpus, built untimed. The timed family then runs one
    // increment cycle with a fixed 1×-sized known batch — bronze append,
    // silver append of the row-local transform, gold maintained via
    // maintainSumCount, all in ONE atomic commit. Flat timings are the
    // "publish costs O(changes + groups), not three table copies" claim
    // (the group domain is pmod 100, fixed across factors because the
    // replica stride vanishes mod 100). The feed is the KNOWN batch, not a
    // TxTable.diff — diff is O(snapshot scan) by construction and belongs
    // to the recovery path, not the steady-state loop.
    def medRoot(f: Int) = fixture(f, "medallion")
    def medBase(f: Int) =
      read("lineitem", f).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity")
    def medSilver(df: DataFrame) = df
      .withColumn("gross", col("l_extendedprice") * col("l_quantity"))
      .withColumn("g", pmod(col("l_suppkey"), lit(100L)))
    val medOn = on("medallion_increment")
    if (medOn) for (f <- factors) if (!TxTable.exists(spark, medRoot(f))) {
      val b = medBase(f)
      TxTable.commit(spark, medRoot(f), Seq(
        ("bronze", "replace", b),
        ("silver", "replace", medSilver(b)),
        ("gold",   "replace",
          Summaries.sumCountAgg(medSilver(b), Seq("g"), col("gross")))))
    }
    // The fixture is exists-guarded, so a SECOND ScaleBench run reuses the
    // roots with all of the previous run's increments already committed —
    // medSeq therefore seeds from the commit logs (one commit per timed
    // increment beyond the initial publish, summed across factor roots,
    // which all share this counter), keeping the "batch keys globally
    // fresh" invariant across JVM invocations instead of re-appending the
    // previous run's key range into bronze/silver.
    var medSeq =
      if (!medOn) 0
      else factors.map(f =>
        math.max(0, TxTable.versions(spark, medRoot(f)).size - 1)).sum

    // Steady-state FUZZY-INGEST fixture (the full continuous-ingest loop of
    // Streaming.fuzzyIngestSink, q-spec-gated until now): its OWN MinHash
    // index per factor (the other steady families mutate steadyPrefix —
    // sharing would order-couple the fixtures) plus a corpus TxTable root
    // reset to an empty slice per run (corpus CONTENT never enters the
    // loop's cost — the index does; an empty root keeps the append
    // replay-clean across invocations with no seeding arithmetic).
    def fuzzyPrefix(f: Int) = s"fuzzy_${tag(f)}"
    def fuzzyRoot(f: Int)   = fixture(f, "fuzzy_corpus")
    if (on("fuzzy_ingest_steady")) for (f <- factors) {
      Text.writeMinhashIndex(read("documents", f), "doc_id", "text", 3, 16,
        fuzzyPrefix(f), buckets = 32, mode = "overwrite")
      TxTable.commit(spark, fuzzyRoot(f), Seq((TxTable.SingleTable, "replace",
        read("documents", 1).select("doc_id", "text").limit(0))))
    }
    // fuzzy batches draw from a j-range disjoint from the index families'
    // (distinct rotation pairs → mutually non-near-dup, and non-near-dup
    // against every corpus replica below 10)
    var fuzzySeq = 0

    // Steady-state IMAGE-INDEX fixture (the raster lane's measured scale
    // story — the round-16 verdict's named gap: audio had three measured
    // families while the image lane's flat-wall claim was inherited from
    // shared machinery): a persisted image dHash index per factor (PNG
    // synthesis + real pixel decode + grid dHash, untimed), then the timed
    // family probes it with a FIXED 1×-sized batch drawn from a disjoint
    // id range. Flat timings across factors are the "probe cost follows
    // the batch, the corpus-side index is bucket-pruned and never
    // exchanged" claim — index_search_steady's shape on the raster lane.
    def imgPrefix(f: Int) = s"imgidx_${tag(f)}"
    if (on("image_index_steady")) for (f <- factors)
      graft.ops.Multimodal.writeImageDHashIndex(
        read("documents", f)
          .select(col("doc_id"), Shared.pngPayloadCol.as("payload")),
        "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2,
        tablePrefix = imgPrefix(f), buckets = 32)

    def families(f: Int): Seq[(String, () => Long)] = Seq(
      // flat ADC: every vector probes ALL stored codes — O(n²) candidate
      // pairs by construction, the PQ analogue of fixed-plane sign-LSH
      ("pq_adc_flat", () => {
        val e = read("embeddings", f)
        val cb = graft.ops.Clustering.pqTrain(e, "vec_id", "embedding", 2, 16, 1)
        // dim guard on BOTH sides (the q179/ivfPqTopK convention): an
        // off-dimension probe would throw inside the PqAdc kernel
        val clean = e.filter(col("embedding").isNotNull &&
          org.apache.spark.sql.functions.size(col("embedding")) === cb.dim)
        val enc = graft.ops.Clustering.pqEncode(clean, "embedding", cb)
          .select(col("vec_id").as("neighbor_id"), col("codes"))
        val probes = clean
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
        val d6 = -floor(graft.ops.Clustering.pqAdcDist(
          col("pv"), col("codes"), cb) * 1000000 + 0.5) / 1000000
        Similarity.rankTopK(
          enc.join(probes, col("probe_id") =!= col("neighbor_id"))
            .select(col("probe_id"), col("neighbor_id"), d6.as("sim")), 3).count()
      }),
      // Hamming-banded audio near-dup at the q202 default geometry
      // (lanes 32 → 31 hash bits → 11/11/9-bit band keys): with ~2^11
      // distinct keys per band, candidate volume grows ~n²/keys — this
      // family MEASURES that narrow-key quadratic term so the exponent is
      // a recorded fact, not a surprise. Payloads synthesize from doc_id
      // (replica offsets give distinct signals), so f× docs = f× clips.
      ("audio_neardup_32", () =>
        graft.ops.Multimodal.audioNearDupPairs(
          read("documents", f).select(col("doc_id"), Shared.wavPayloadCol.as("payload")),
          "doc_id", "payload", lanes = 32, maxHamming = 2).count()),
      // the corpus-scale mitigation: lanes 61 → 60 bits → 20-bit band
      // keys, ~2^20 buckets per band — occupancy (and with it the
      // quadratic term) collapses; this is the geometry dHashLanesFor
      // reaches at ~2.6·10^8 clips (maxHamming 2), exactly as annPlanesFor
      // widens sign-LSH keys with n — past it the rule adds the second
      // hash word (the wide member below)
      ("audio_neardup_61", () =>
        graft.ops.Multimodal.audioNearDupPairs(
          read("documents", f).select(col("doc_id"), Shared.wavPayloadCol.as("payload")),
          "doc_id", "payload", lanes = 61, maxHamming = 2).count()),
      // the RULE the two fixed points bracket: lanes = dHashLanesFor(n) —
      // geometry follows the corpus, so the family's exponent should track
      // the 61-lane member as replicas grow instead of the 32-lane knee
      ("audio_neardup_derived", () => {
        val src = read("documents", f)
          .select(col("doc_id"), Shared.wavPayloadCol.as("payload"))
        val lanes = graft.ops.Multimodal.dHashLanesFor(src.count())
        graft.ops.Multimodal.audioNearDupPairs(
          src, "doc_id", "payload", lanes = lanes, maxHamming = 2).count()
      }),
      // the two-word hash past the single-long boundary (101 lanes → 100
      // bits, maxHamming 3 → four 25-bit band keys, band 2 straddling the
      // word boundary), through the same audioNearDupPairs as the members
      // above: band keys this wide keep occupancy sparse at ANY corpus
      // the rule reaches, so the family should read flat like the 61-lane
      // member
      ("audio_neardup_wide", () =>
        graft.ops.Multimodal.audioNearDupPairs(
          read("documents", f).select(col("doc_id"), Shared.wavPayloadCol.as("payload")),
          "doc_id", "payload", lanes = 101, maxHamming = 3).count()),
      // the raster twin of audio_neardup_32: real PNG pixel decode → grid
      // dHash → the shared Hamming-banded pair join; 56 hash bits give
      // 19/19/18-bit band keys, so occupancy stays sparse through the 10×
      // point and the exponent should read near-linear (fixture synthesis
      // + decode are the per-row linear term)
      ("image_neardup", () =>
        graft.ops.Multimodal.imageNearDupPairs(
          read("documents", f).select(col("doc_id"), Shared.pngPayloadCol.as("payload")),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2).count()),
      // fixed 1×-sized probe batch against the f× persisted image index
      // (disjoint id range → unrelated rasters — steady-state probe cost
      // is what's measured, not hit rate); flat across factors = the
      // probe-only-exchange claim, measured rather than inherited
      ("image_index_steady", () => {
        val batch = read("documents", 1)
          .select((col("doc_id") + lit(50000000000L)).as("doc_id"))
          .select(col("doc_id"), Shared.pngPayloadCol.as("payload"))
        graft.ops.Multimodal.imageDedupAgainstStoredIndex(
          batch, "doc_id", "payload", imgPrefix(f)).count()
      }),
      // BPE training with the ROUND COUNT as the scale axis (fixed 1×
      // corpus read straight from the sf dir — no replica fixture): the
      // delta-maintained distributed trainer's claim is per-round cost
      // flat in the round number, so total time must grow ∝ k (8·f
      // merges); the replace-chain form it replaced grew ∝ k². Forced
      // distributed (maxDriverVocab = 0) — the driver-side path is not
      // the 100 TB shape under test.
      ("bpe_train", () =>
        Text.bpeTrainImpl(read("documents", 1), "text", merges = 8 * f, maxDriverVocab = 0L)
          .count()),
      // incremental view maintenance: apply the FIXED change feed to the
      // stored view of the f× table — with the group domain held fixed,
      // cost must not follow the table (grows with groups, not rows)
      ("ivm_maintain", () =>
        Summaries.maintainSumCount(liagg(f), cdcfeed(1),
          Seq("g"), col("l_extendedprice")).count()),
      // the alternative every increment would otherwise pay
      ("ivm_recompute", () =>
        Summaries.sumCountAgg(
          ivmGroup(read("lineitem", f)), Seq("g"), col("l_extendedprice")).count()),
      // the feed-side axis: an f× feed against the FIXED 1× view — the
      // O(changes) claim read the other way (cost follows the feed)
      ("ivm_feed", () =>
        Summaries.maintainSumCount(liagg(1), cdcfeed(f),
          Seq("g"), col("l_extendedprice")).count()),
      // steady-state index SEARCH: a fixed 1×-sized batch probes the f×
      // persisted index. Idempotent (read-only), so min-of-3 is honest.
      // Claim: flat in f — candidates come from the bucketed (band,hv)
      // equi-join and the index side never shuffles.
      ("index_search_steady", () =>
        Text.minhashDedupAgainstIndex(steadyBatch(0), "doc_id", "text",
          3, 16, 0.5, steadyPrefix(f)).count()),
      // steady-state index APPEND: admit a globally-fresh 1×-sized batch
      // into the f× index. Claim: flat in f — shingle+sign the batch,
      // bucketed appends, no corpus read. Mutates the fixture, so it runs
      // AFTER the search family within each factor.
      ("index_append_steady", () => {
        steadySeq += 1
        val b = steadyBatch(steadySeq)
        Text.writeMinhashIndex(b, "doc_id", "text", 3, 16,
          steadyPrefix(f), buckets = 32, mode = "append")
        b.count()
      }),
      // one whole fuzzy-ingest cycle (Streaming.fuzzyIngestSink's
      // foreachBatch body) with a fixed 1×-sized batch against the f×
      // persisted index: within-batch LSH dedup -> probe-only index dedup
      // -> atomic corpus append -> bucketed index append. Claim: flat in f
      // — every stage's exchanges are batch-sized; the index side never
      // shuffles. Mutates its fixture, so batches are globally fresh.
      ("fuzzy_ingest_steady", () => {
        fuzzySeq += 1
        val b = steadyBatch(50 + fuzzySeq)
        val pairs = Text.minhashNearDupPairs(b, "doc_id", "text", 3, 16, 0.5)
        val losers = Dedup.nearDupSurvivors(pairs, "doc_a", "doc_b")
          .filter(!col("keep")).select(col("doc_id").as("__loser"))
        val withinSurv = b.join(losers, b("doc_id") === col("__loser"), "left_anti")
        val fresh = Checkpoints.pin(
          Text.minhashDedupAgainstIndex(withinSurv, "doc_id", "text",
            3, 16, 0.5, fuzzyPrefix(f)))
        TxTable.append(spark, fuzzyRoot(f), fresh)
        Text.writeMinhashIndex(fresh, "doc_id", "text", 3, 16,
          fuzzyPrefix(f), buckets = 32, mode = "append")
        val n = fresh.count()
        Checkpoints.release(fresh)
        n
      }),
      // one whole medallion increment cycle against the f× base: batch keys
      // globally fresh (5000+seq stride, disjoint from every corpus
      // replica), silver+gold+bronze land in one atomic commit, and the
      // re-read gold (≤ 100 groups) is the returned row count
      ("medallion_increment", () => {
        medSeq += 1
        val root = medRoot(f)
        val batch = medBase(1).withColumn("l_orderkey",
          col("l_orderkey") + lit((5000L + medSeq) * 100000000L))
        val maintained = Summaries.maintainSumCount(
          TxTable.read(spark, root, "gold"),
          medSilver(batch).withColumn("change", lit("insert")),
          Seq("g"), col("gross"))
        TxTable.commit(spark, root, Seq(
          ("bronze", "append", batch),
          ("silver", "append", medSilver(batch)),
          ("gold",   "replace", maintained)))
        TxTable.read(spark, root, "gold").count()
      })
    )
    // every fixture above is gated on its families' selection, so a filter
    // of mistyped names builds nothing before this refuses it
    val known = families(1).map(_._1)
    val unknown = only.diff(known.toSet)
    require(unknown.isEmpty,
      s"unknown families: ${unknown.mkString(",")} (known: ${known.sorted.mkString(",")})")

    // JIT/codegen/session warm-up outside the timed region, so factor 1
    // (which runs first) is not charged the whole JVM's cold start
    Text.minhashNearDupPairs(read("documents", 1).limit(500),
      "doc_id", "text", 3, 16, 0.5).count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    for (f <- factors; (name, run) <- families(f)
         if only.isEmpty || only.contains(name)) {
      // min of THREE runs: the first pays codegen + scan warm-up, and a
      // single extra run proved too little insulation against transient
      // session state (one sweep recorded a 61 s IVF-PQ family at 1× whose
      // direct replay measures ~3 s; min-of-3 with a pre-family GC keeps
      // one poisoned measurement from becoming the artifact)
      System.gc()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val rows = run()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val sec = times.map(_._1).min
      println(f"""SCALE {"family":"$name","factor":$f,"sec":${sec}%.3f,"rows":${times.head._2}}""")
      // release anything the family pinned so factors don't interfere
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
