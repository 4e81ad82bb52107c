package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, Dedup, Graph, Similarity, Summaries, Text, TxTable}
import graft.queries.Shared

/** Dev utility: two-point scaling evidence for the nonlinear-risk operator
  * families (LSH dedup, inverted-index Jaccard, exact quantiles, PageRank,
  * sign-LSH ANN). sf0.1 correctness runs say nothing about how these bend
  * as data grows; this measures each family at 1× and REPLICA× (default
  * 10×) of the same sf dir and prints one JSON line per (family, factor),
  * so a super-linear blow-up shows itself locally before a real cluster
  * finds it. Results land in SCALING.md.
  *
  * Replication is NOT naive cloning: a 10× clone corpus would turn every
  * document into a 10-way near-dup family and every embedding into a
  * 10-way cosine clone — measuring the pathological-duplication path
  * (q173's subject) instead of ordinary growth. Each replica instead gets
  *  - text: a distinct rotation of a 10-consonant+vowel `translate`
  *    alphabet, which rewrites nearly every shingle, so replicas are NOT
  *    near-dups of their source and the pair/bucket statistics stay
  *    corpus-like;
  *  - embeddings: deterministic per-(id, lane) jitter of ±0.15 amplitude,
  *    enough to break cosine cliques while keeping the value distribution;
  *  - graph: disjoint id-offset copies (component count scales, degree
  *    distribution is preserved);
  *  - lineitem: id-offset copies (value distribution identical, so the
  *    quantile domain stays fixed while row count scales).
  *
  * Usage: `runMain graft.ScaleBench [replicas]` with `SPARK_GRAFT_SF_DIR`
  * (default sf0.1). The replicated corpora are written once under
  * `target/scale/<table><f>` and reused, so both factors are read from
  * parquet through identical scan paths.
  */
object ScaleBench {

  private val alphabet = "aeiounstrl"
  // disjoint consonant alphabet, used ONLY by the steady-state batches so
  // they can never collide with a rot1-keyed corpus replica
  private val alphabet2 = "bcdfghjkmp"

  /** Replica i of the documents table: ids offset to a disjoint range, text
    * rewritten by a per-replica character rotation (identity for i == 0).
    * The single rotation is injective only for i < alphabet.length — replica
    * i and i+10 would be byte-identical clones, silently rebuilding the
    * dup-flood pathology ScaleCorpus's composed two-alphabet rotation was
    * built to avoid. ScaleBench keeps rot1-only (the steady-state batches'
    * disjointness depends on corpus replicas never touching alphabet2), so
    * main() bounds the CLI replica count instead; past 10×, use ScaleCorpus.
    */
  private def docReplica(docs: DataFrame, i: Int): DataFrame = {
    require(i < alphabet.length,
      s"docReplica rotation is non-injective at replica $i (alphabet has " +
        s"${alphabet.length} chars); use graft.ScaleCorpus for factors > ${alphabet.length}")
    val rot = alphabet.drop(i % alphabet.length) + alphabet.take(i % alphabet.length)
    docs.select(
      (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
      (if (i == 0) col("text") else translate(col("text"), alphabet, rot)).as("text"))
  }

  private def embReplica(emb: DataFrame, i: Int): DataFrame = {
    val jitter = transform(col("embedding"), (x, j) =>
      x + ((pmod(hash(col("vec_id"), lit(i), j), lit(1000)) / lit(1000.0)) - 0.5) * 0.3)
    emb.select(
      (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
      (if (i == 0) col("embedding")
       else jitter.cast("array<float>")).as("embedding"))
  }

  private def replicate(df: DataFrame, n: Int, mk: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(mk(df, _)).reduce(_ unionByName _)

  /** Cache key includes the SOURCE sf dir: without it, switching
    * SPARK_GRAFT_SF_DIR would silently reuse the previous run's replicas
    * (writeOnce sees _SUCCESS) and publish wrong scaling numbers.
    */
  private def corpusDir(sfDir: String, table: String, f: Int) = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables.targetPath(s"scale/$tag/$table$f")
  }

  private def writeOnce(df: => DataFrame, path: String): Unit =
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      df.write.mode("overwrite").parquet(path)

  /** family → corpus tables it reads; corpora are built on demand from
    * this map, so a filtered run only materializes (and only validates)
    * what it measures — which is also what lets a documents-free family
    * (exact_quantiles, ivm_*, graph) run past the text rotation's
    * ×10 injectivity bound.
    */
  private val familyTables: Map[String, Set[String]] = Map(
    "lsh_minhash"         -> Set("documents"),
    "lsh_simhash"         -> Set("documents"),
    "jaccard_inverted"    -> Set("documents"),
    "containment"         -> Set("documents"),
    "index_search_steady" -> Set("documents"),
    "index_append_steady" -> Set("documents"),
    "fuzzy_ingest_steady" -> Set("documents"),
    "exact_quantiles"     -> Set("lineitem"),
    "pagerank"            -> Set("edges"),
    "label_propagation"   -> Set("edges"),
    "ann_sign_lsh_fixed3" -> Set("embeddings"),
    "ann_sign_lsh_tuned"  -> Set("embeddings"),
    "pq_adc_flat"         -> Set("embeddings"),
    "ivfpq_tuned"         -> Set("embeddings"),
    "bpe_train"           -> Set.empty,
    "audio_neardup_32"    -> Set("documents"),
    "audio_neardup_61"    -> Set("documents"),
    "audio_neardup_derived" -> Set("documents"),
    "audio_neardup_wide"  -> Set("documents"),
    "image_neardup"       -> Set("documents"),
    "image_index_steady"  -> Set("documents"),
    "ivm_maintain"        -> Set("liagg_g", "cdcfeed_g"),
    "ivm_recompute"       -> Set("lineitem"),
    "ivm_feed"            -> Set("liagg_g", "cdcfeed_g"),
    "medallion_increment" -> Set("lineitem"))

  private val familyNames = familyTables.keySet

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(a => a.toIntOption.getOrElse(
      sys.error(s"usage: ScaleBench [replicas] [family...] — got '$a' " +
        "where the replica count goes"))).getOrElse(10)
    // optional family-name filter (exact match) after the replica count —
    // lets a new family be measured without re-running the whole sweep.
    // Validated against the static name set: a typo would otherwise build
    // every fixture, measure NOTHING, and exit 0 looking like success.
    val only = args.drop(1).toSet
    val unknown = only.diff(familyNames)
    require(unknown.isEmpty,
      s"unknown families: ${unknown.mkString(",")} (known: ${familyNames.toSeq.sorted.mkString(",")})")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // corpora this run actually reads (empty filter = every family)
    val needed: Set[String] =
      (if (only.isEmpty) familyNames else only).flatMap(familyTables)
    // docReplica's single rotation stops being injective past the alphabet
    // length — refuse loudly rather than bench a byte-identical clone
    // flood. Only the DOCUMENT corpus has this bound (embedding jitter and
    // id offsets are injective at any factor), so a documents-free family
    // filter may scale further.
    require(replicas <= alphabet.length || !needed("documents"),
      s"document families support at most ${alphabet.length} replicas (text " +
        s"rotation injectivity); for larger factors use graft.ScaleCorpus, whose " +
        s"composed two-alphabet rotation is injective to " +
        s"${alphabet.length * alphabet2.length}×, or filter to non-document families")
    val spark = Sessions.local()
    import spark.implicits._

    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val emb  = Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val li   = Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity")
    val ord  = Tables.t(spark, sfDir, "orders").select("o_orderkey", "o_custkey")

    // the lineitem corpus also feeds the liagg_g/cdcfeed_g fixtures
    val needLineitem = Seq("lineitem", "liagg_g", "cdcfeed_g").exists(needed)
    val factors = Seq(1, replicas).distinct
    for (f <- factors) {
      if (needed("documents"))
        writeOnce(replicate(docs, f, docReplica), corpusDir(sfDir, "documents", f))
      if (needed("embeddings"))
        writeOnce(replicate(emb, f, embReplica), corpusDir(sfDir, "embeddings", f))
      if (needLineitem) writeOnce(
        // l_extendedprice gets sub-cent deterministic jitter (replica 0
        // identity) so the exact_quantiles family's distinct-value domain
        // grows ∝ rows — identical-value replicas would probe the
        // per-value collapse, the one axis a quantile CDF is insensitive to
        replicate(li, f, (d, i) => d.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_suppkey") + lit(i * 10000000L)).as("l_suppkey"),
          (if (i == 0) col("l_extendedprice")
           else col("l_extendedprice") +
             pmod(hash(col("l_orderkey"), col("l_quantity"), lit(i)), lit(1000003)) /
               lit(1.0e9)).as("l_extendedprice"),
          col("l_quantity"))),
        corpusDir(sfDir, "lineitem", f))
      // disjoint graph copies: same degree distribution, f x edges
      if (needed("edges")) writeOnce(
        replicate(
          ord.join(li, col("o_orderkey") === col("l_orderkey"))
            .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct(),
          f,
          (d, i) => d.select(
            (col("c") + lit(i * 10000000L)).as("c"),
            (col("s") + lit(i * 10000000L)).as("s"))),
        corpusDir(sfDir, "edges", f))
    }

    def read(table: String, f: Int) = spark.read.parquet(corpusDir(sfDir, table, f))

    // IVM fixture: the stored per-group (sum, count) view of lineitem at
    // each factor, plus change feeds. The GROUP DOMAIN stays fixed as the
    // table scales: the lineitem replicas offset l_suppkey (disjointness
    // for other fixtures), which would multiply GROUPS by f and make the
    // maintenance join — ∝ groups — track the table; undoing the offset
    // (mod the replica stride) gives the realistic shape where a 10×
    // table has 10× rows per group, not 10× groups. Claims under test:
    // applying a fixed feed costs O(changes + groups) regardless of table
    // size (`ivm_maintain` vs `ivm_recompute`), and maintenance cost
    // follows the FEED when the feed is what grows (`ivm_feed`: f× feed
    // against the fixed 1× view).
    def ivmGroup(df: DataFrame) =
      df.withColumn("g", pmod(col("l_suppkey"), lit(10000000L)))
    if (Seq("liagg_g", "cdcfeed_g").exists(needed)) {
      for (f <- factors)
        writeOnce(Summaries.sumCountAgg(ivmGroup(read("lineitem", f)),
          Seq("g"), col("l_extendedprice")), corpusDir(sfDir, "liagg_g", f))
      for (f <- factors)
        writeOnce(
          ivmGroup(read("lineitem", f)).filter(col("l_orderkey") % 59 === 0)
            .select(col("g"), col("l_extendedprice"),
              when(col("l_orderkey") % 118 === 0, "insert").otherwise("delete").as("change")),
          corpusDir(sfDir, "cdcfeed_g", f))
    }

    // corpus row counts per factor, resolved OUTSIDE the timed region so
    // the tuned-ANN family is not charged a full scan the fixed family
    // doesn't pay (lazy: only embedding families force it)
    lazy val embCount: Map[Int, Long] =
      factors.map(f => f -> read("embeddings", f).count()).toMap

    // Steady-state persisted-index fixture (round-9 verdict item 5): the
    // suite's ×N points rebuild indices per run, so they certify BUILD
    // economics; a 100 TB ingest pipeline lives in the OTHER regime —
    // index built once, every batch pays only search + append. Fixture:
    // one MinHash index per factor over the f× documents, built untimed.
    // The timed families then hold the INCREMENT fixed (one 1×-sized
    // batch) while the indexed corpus grows f× — flat timings are the
    // "cost ∝ increment, not corpus" claim. Batch texts compose a second
    // disjoint-alphabet rotation no corpus replica uses (replicas are
    // rot1-only), so the batch is near-dup-free against every factor and
    // the search measures the steady-state miss path, not a dup flood.
    val steadyTag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    def steadyPrefix(f: Int) = s"steady_${steadyTag}_f$f"
    def steadyBatch(j: Int): DataFrame = {
      def rotate(a: String, kk: Int) = a.drop(kk % a.length) + a.take(kk % a.length)
      val r1 = rotate(alphabet, j % alphabet.length)
      val r2 = rotate(alphabet2, 1 + (j / alphabet.length) % (alphabet2.length - 1))
      read("documents", 1).select(
        (col("doc_id") + lit((1000L + j) * 10000000L)).as("doc_id"),
        translate(translate(col("text"), alphabet, r1), alphabet2, r2).as("text"))
    }
    val steadyOn = only.isEmpty ||
      only.contains("index_search_steady") || only.contains("index_append_steady")
    if (steadyOn) for (f <- factors)
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
    def medRoot(f: Int) = Tables.targetPath(s"scale_tx/${steadyTag}_f$f")
    def medSilver(df: DataFrame) = df
      .withColumn("gross", col("l_extendedprice") * col("l_quantity"))
      .withColumn("g", pmod(col("l_suppkey"), lit(100L)))
    val medOn = only.isEmpty || only.contains("medallion_increment")
    if (medOn) for (f <- factors) if (!TxTable.exists(spark, medRoot(f))) {
      val b = read("lineitem", f)
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
    def fuzzyPrefix(f: Int) = s"fuzzy_${steadyTag}_f$f"
    def fuzzyRoot(f: Int)   = Tables.targetPath(s"scale_tx/fuzzy_${steadyTag}_f$f")
    val fuzzyOn = only.isEmpty || only.contains("fuzzy_ingest_steady")
    if (fuzzyOn) for (f <- factors) {
      Text.writeMinhashIndex(read("documents", f), "doc_id", "text", 3, 16,
        fuzzyPrefix(f), buckets = 32, mode = "overwrite")
      TxTable.commit(spark, fuzzyRoot(f),
        Seq((TxTable.SingleTable, "replace", read("documents", 1).limit(0))))
    }
    // fuzzy batches draw from a j-range disjoint from the index families'
    // (distinct rotation pairs → mutually non-near-dup, and non-near-dup
    // against every rot1-keyed corpus replica)
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
    def imgPrefix(f: Int) = s"imgidx_${steadyTag}_f$f"
    val imgOn = only.isEmpty || only.contains("image_index_steady")
    if (imgOn) for (f <- factors)
      graft.ops.Multimodal.writeImageDHashIndex(
        read("documents", f)
          .select(col("doc_id"), Shared.pngPayloadCol.as("payload")),
        "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2,
        tablePrefix = imgPrefix(f), buckets = 32)

    def families(f: Int): Seq[(String, () => Long)] = Seq(
      ("lsh_minhash", () =>
        Text.minhashNearDupPairs(read("documents", f), "doc_id", "text", 3, 16, 0.5).count()),
      ("lsh_simhash", () =>
        Text.simhashNearDupPairs(read("documents", f), "doc_id", "text").count()),
      ("jaccard_inverted", () =>
        Text.jaccardNearDupPairs(read("documents", f), "doc_id", "text", 3, 0.5).count()),
      ("exact_quantiles", () =>
        Summaries.exactQuantileArrays(read("lineitem", f), Seq(
          ("l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95), "price_q"),
          ("l_quantity", Seq(0.25, 0.5, 0.75, 0.95), "qty_q"))).count()),
      ("pagerank", () => {
        val e0 = read("edges", f)
        val e = e0.union(e0.select(col("s").as("c"), col("c").as("s")))
        Graph.pageRankInt(e, "c", "s", iterations = 3, pinEvery = 3).count()
      }),
      // the suite's LPA shape at its historical 3 sync rounds (q177
      // itself trimmed to 2 in round 15 for suite headroom) so the
      // family's growth curve stays comparable across rounds
      ("label_propagation", () =>
        Graph.labelPropagation(read("edges", f), "c", "s",
          iterations = 3, pinEvery = 3).count()),
      // asymmetric doc-in-doc overlap (q143): same inverted-index +
      // prefix-filter machinery as jaccard_inverted but the containment
      // threshold keeps far more of the candidate mass — its own curve
      ("containment", () =>
        Text.containmentPairs(read("documents", f), "doc_id", "text", 3, 0.5).count()),
      ("ann_sign_lsh_fixed3", () =>
        Similarity.annTopK(read("embeddings", f), "vec_id", "embedding", 3, 3,
          nTables = 12, maxBucket = 2000).count()),
      ("ann_sign_lsh_tuned", () =>
        Similarity.annTopK(read("embeddings", f), "vec_id", "embedding",
          Similarity.annPlanesFor(embCount(f)), 3,
          nTables = 12, maxBucket = 2000).count()),
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
      // the scale path: the same codes behind ivfCellsFor-sized cell
      // pruning — candidates O(n^1.5) instead of O(n²)
      ("ivfpq_tuned", () => {
        val e = read("embeddings", f)
        val cb = graft.ops.Clustering.pqTrain(e, "vec_id", "embedding", 2, 16, 1)
        Similarity.ivfPqTopK(e, "vec_id", "embedding", cb,
          Similarity.ivfCellsFor(embCount(f), 2), 3, nProbe = 2).count()
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
      // quadratic term) collapses; this is the geometry a 100 TB audio
      // dedup runs, exactly as annPlanesFor widens sign-LSH keys with n
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
      // word boundary): the multi-word engine's scale point — band keys
      // this wide keep occupancy sparse at ANY corpus the rule reaches,
      // so the family should read flat like the 61-lane member
      ("audio_neardup_wide", () =>
        graft.ops.Multimodal.audioNearDupPairsWide(
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
        Text.bpeTrainImpl(docs, "text", merges = 8 * f, maxDriverVocab = 0L).count()),
      // incremental view maintenance: apply the FIXED change feed to the
      // stored view of the f× table — with the group domain held fixed,
      // cost must not follow the table (grows with groups, not rows)
      ("ivm_maintain", () =>
        Summaries.maintainSumCount(read("liagg_g", f), read("cdcfeed_g", 1),
          Seq("g"), col("l_extendedprice")).count()),
      // the alternative every increment would otherwise pay
      ("ivm_recompute", () =>
        Summaries.sumCountAgg(
          read("lineitem", f).withColumn("g", pmod(col("l_suppkey"), lit(10000000L))),
          Seq("g"), col("l_extendedprice")).count()),
      // the feed-side axis: an f× feed against the FIXED 1× view — the
      // O(changes) claim read the other way (cost follows the feed)
      ("ivm_feed", () =>
        Summaries.maintainSumCount(read("liagg_g", 1), read("cdcfeed_g", f),
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
        val batch = read("lineitem", 1).select(
          (col("l_orderkey") + lit((5000L + medSeq) * 100000000L)).as("l_orderkey"),
          col("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
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

    // JIT/codegen/session warm-up outside the timed region, so factor 1
    // (which runs first) is not charged the whole JVM's cold start
    if (needed("documents"))
      Text.minhashNearDupPairs(read("documents", 1).limit(500),
        "doc_id", "text", 3, 16, 0.5).count()
    if (needed("embeddings"))
      Similarity.annTopK(read("embeddings", 1).limit(500),
        "vec_id", "embedding", 3, 3, nTables = 12).count()
    else if (needLineitem) read("lineitem", 1).limit(500).count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    for (f <- factors; (name, run) <- families(f)
         if only.isEmpty || only.contains(name)) {
      // min of THREE runs: the first pays codegen + scan warm-up, and a
      // single extra run proved too little insulation against transient
      // session state (one sweep recorded a 61 s ivfpq_tuned at 1× whose
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
