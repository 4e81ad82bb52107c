package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Vector-similarity surface (SURVEY §2.10 T4/T5, §2.5 J7, §2.7 A9) over
  * `ArrayType(FloatType)` embedding columns.
  *
  * All scalar math is stock higher-order functions (`zip_with` + `aggregate`)
  * — codegen'd, no UDF boxing in the hot path. Accumulation is sequential
  * over the array in index order, which makes the result bit-reproducible
  * (and matchable by an oracle that sums in the same order).
  */
object Similarity {

  /** Ceiling on rows any model fetch may pull to the driver. The IVF/PQ
    * model artifacts are bounded by design — [[ivfCellsFor]] keeps the cell
    * count at √(n·nProbe), ≈ 0.9 M cells even for 10¹¹ vectors — but the
    * fetches are public-API-reachable with a caller-supplied `nCells`, and
    * an unguarded collect turns one bad argument into a driver OOM. 2²⁰
    * rows (~270 MB at dim 64) sits safely above every legitimate geometry
    * and far below collect-the-corpus territory.
    */
  val MaxModelRows: Int = 1 << 20

  /** Element-wise dot product, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** T4 — cosine similarity via the native codegen expression
    * [[graft.expr.CosineSimilarity]] (registered in [[graft.Sessions]]): the
    * HOF form is CodegenFallback and was the r2 bench bottleneck when run
    * per candidate pair. Same fold order, bit-identical results.
    */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Rank a candidate stream `(probe_id, neighbor_id, sim)` down to the
    * top-k per probe via the bounded [[graft.expr.TopKPairs]] aggregate.
    *
    * Same (sim desc, neighbor_id asc) order and int `rank` as the
    * `row_number` window it replaces, but partial-aggregating: each task
    * reduces its candidates to ≤ k entries per probe BEFORE the exchange,
    * so the shuffle carries tasks × groups × k entries instead of the whole
    * candidate stream — the difference between ranking 6k survivors and
    * globally sorting 2.5M candidates at sf0.1, and between a bounded
    * exchange and an impossible corpus-scale sort at 100 TB.
    */
  private[graft] def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.expr.TopKPairs(
        ColumnBridge.expression(col("sim")),
        ColumnBridge.expression(col("neighbor_id")), k).toAggregateExpression())
    cand.groupBy(col("probe_id"))
      .agg(agg.as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("probe_id"), col("e.id").as("neighbor_id"), col("e.sim").as("sim"),
        (col("p") + 1).cast("int").as("rank"))
  }

  /** T5 — brute-force top-k nearest neighbours for a set of probe vectors.
    *
    * The probe side is broadcast (it is the small side by construction — you
    * probe with a query batch, not the whole corpus), so the corpus never
    * shuffles: each task scans its corpus partition once against the
    * in-memory probes. Ranking is on the 4-decimal-floored similarity with
    * the neighbour id as tie-break — deterministic and oracle-matchable.
    * This is the correctness baseline; [[annTopK]] is the scale path.
    */
  def knn(probes: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val sim = Summaries.r4(cosine(col("pv"), col("cv")))
    // excludeSelf compares RAW ids — only meaningful when probes are drawn
    // from the corpus id space; set false when probing with an external
    // query batch whose ids coincide with corpus ids by accident
    val cond = if (excludeSelf) col("probe_id") =!= col("neighbor_id") else lit(true)
    rankTopK(
      p.join(c, cond)
        .select(col("probe_id"), col("neighbor_id"), sim.as("sim")), k)
  }

  /** J7 — similarity self-join: all pairs with cosine ≥ threshold. Brute
    * force (n²/2 pairs) — correct at probe scale, superseded by LSH
    * bucketing ([[signLshBucket]]) when both sides are large.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    val c = cosine(col("va"), col("vb"))
    // threshold the ROUNDED similarity — the module-wide determinism rule
    // (see semanticDedupPairs), so baseline and scale path agree at the cut
    a.join(b, col("vec_a") < col("vec_b"))
      .filter(Summaries.r4(c) >= threshold)
      .select(col("vec_a"), col("vec_b"), Summaries.r4(c).as("sim"))
  }

  /** ±1 hyperplane weight, derived from md5 of "plane_dim" — deterministic,
    * identically computable by the DuckDB oracle (`('0x'||substr(md5(k),1,
    * 15))::BIGINT % 2`), and requiring no stored model.
    */
  private[graft] def planeWeight(plane: Int, dim: Int): Float = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 1) 1.0f else -1.0f
  }

  /** Random-hyperplane (sign) LSH bucket id in [0, 2^nPlanes) for hash
    * table `table` (plane id = table·100 + p, so tables draw independent
    * hyperplane sets).
    *
    * Bit p = sign(Σ_d w(p,d)·v[d]). Cosine-close vectors agree on most
    * hyperplane signs, so they land in the same bucket with high
    * probability; the ANN join is then an equi-join on the bucket id — the
    * 100 TB shape (shuffle on a small int key) instead of a cross join.
    *
    * The weight matrix is a CONSTANT, so it is materialized driver-side as
    * literal arrays (recomputing md5 per row was the r2 hotspot), and each
    * projection sign runs through the codegen'd [[cosine]] — valid because
    * norms are positive, so sign(cosine) == sign(dot), bit-exactly.
    * `dim` MUST equal the embedding dimension: [[cosine]] rejects
    * mismatched lengths rather than silently truncating.
    */
  def signLshBucket(vec: Column, nPlanes: Int, dim: Int = 64, table: Int = 0): Column = {
    require(nPlanes >= 1 && nPlanes < 64, "nPlanes in [1, 64): bucket bits live in one Long")
    (0 until nPlanes).map { p =>
      val w = typedlit((0 until dim).map(d => planeWeight(table * 100 + p, d)))
      when(cosine(vec, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** T5 scale path — approximate top-k via multi-table sign-LSH: candidates
    * are pairs sharing a bucket in ANY of `nTables` independent hash tables,
    * exactly ranked (cross-table duplicates are absorbed by the ranking
    * aggregate's in-buffer id-dedup).
    *
    * One table of k planes has per-pair recall (1−θ/π)^k — low for the
    * moderate-similarity neighbours that dominate isotropic embeddings; L
    * independent tables lift it to 1−(1−r)^L while keeping the join an
    * equi-join on (table, bucket). L and k trade candidate volume against
    * recall: the (id, table, bucket) index is 3 ints per vector per table,
    * and only candidate pairs ever pull vectors through the verify join —
    * the same never-all-pairs shape as the MinHash pipeline.
    *
    * Hot-bucket bound (`maxBucket`): a bucket holding d vectors emits
    * d·(d−1) candidate rows into one shuffle partition — a clone flood (or
    * an unlucky low-entropy bucket) makes that quadratic. When a bucket's
    * occupancy exceeds `maxBucket` it is SALTED: members are split into
    * ⌈d/maxBucket⌉ deterministic groups (md5-derived from the id — the
    * oracle-replayable [[graft.ops.Text.hash60]]) and only within-group
    * pairs are generated, so each member still draws up to ~maxBucket
    * same-bucket candidates (≫ k — top-k quality is preserved; a clone
    * flood fills every member's top-k with sim-1.0 groupmates) while the
    * bucket's candidate volume drops from O(d²) to O(d·maxBucket).
    * Cross-group neighbours are recovered by the other tables. Default off
    * (`Int.MaxValue`) — the cap changes which approximate candidates are
    * seen, so enabling it is an explicit corpus-scale decision; ~8·k is a
    * reasonable setting (SimilaritySpec exercises a binding cap).
    *
    * `nPlanes` must GROW with the corpus: 2^nPlanes buckets per table means
    * a FIXED plane count degrades to O(n²/2^nPlanes) candidate pairs as n
    * grows — ScaleBench measured the fixed-3-plane form at 59× the cost for
    * 10× the rows. Size planes with [[annPlanesFor]] (occupancy-constant)
    * and spend `nTables` — not occupancy — on recall.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, nPlanes: Int, k: Int,
      nTables: Int = 1, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    require(nPlanes >= 1 && nPlanes <= 30, "nPlanes in [1, 30]")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // all tables' buckets in ONE compiled pass (the inlined-literal Column
    // form generated >8 KB methods that the JIT refused — see SignLshBuckets)
    val buckets = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expr.SignLshBuckets(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")), nTables, nPlanes))
    // The vectors RIDE THROUGH the bucket explode (unlike the MinHash
    // pipeline, which fetches shingle sets per candidate): duplicating a
    // 4·dim-byte vector nTables times through ONE exchange costs
    // n·nTables·dim·4 bytes, while fetching it per candidate costs two
    // hash-join probes over the candidate stream — occupancy·nTables rows
    // per vector, occupancy ≈ 250 ≫ 1. The self-join output then streams
    // (pv, cv) straight into the cosine + top-k partial aggregate in the
    // SAME stage: no candidate materialization, no verify joins at all.
    // Measured at the 20k×12-table point: 12.2 s (fetch-join form) →
    // ~4 s. KB-sized payloads (shingle sets) invert the trade — that's
    // why minhashNearDupPairs keeps the candidate-fetch shape.
    val slim = base.select(col("id"), col("v"), posexplode(buckets).as(Seq("t", "b")))
      .repartition(col("t"), col("b")) // both self-join sides reuse this exchange
    // With the cap off the salt column is a constant and the occupancy
    // aggregation is skipped entirely — the historical plan, unchanged.
    val salted =
      if (maxBucket == Int.MaxValue) slim.withColumn("salt", lit(0L))
      else {
        // occupancy over the slim (id, t, b) projection — the count does
        // not pull vectors through its exchange
        val occ = slim.select(col("t"), col("b"))
          .groupBy(col("t"), col("b")).agg(count(lit(1)).as("occ"))
        // the salt hashes (id, t) — NOT id alone: with an id-only salt,
        // hot buckets of equal occupancy would split into the SAME groups
        // in every table, and a cross-group pair would be lost in all L
        // tables at once; mixing the table index in decorrelates the
        // grouping, so "the other tables recover cross-group neighbours"
        // actually holds
        slim.join(occ, Seq("t", "b"))
          .withColumn("salt",
            pmod(Text.hash60(concat(col("id").cast("string"), lit("#"),
                col("t").cast("string"))),
              greatest(ceil(col("occ") / lit(maxBucket.toDouble)).cast("long"), lit(1L))))
          .drop("occ")
      }
    // A pair sharing buckets in SEVERAL tables surfaces once per table; no
    // pairwise distinct() is needed because TopKPairs dedups ids in-buffer
    // (same pair → same sim, so duplicates can't skew the ranking). That
    // distinct was a whole extra exchange+dedup of the candidate stream.
    val sim = Summaries.r4(cosine(col("a.v"), col("b.v")))
    rankTopK(
      salted.as("a")
        .join(salted.as("b"),
          col("a.t") === col("b.t") && col("a.b") === col("b.b") &&
            col("a.salt") === col("b.salt") && col("a.id") =!= col("b.id"))
        .select(col("a.id").as("probe_id"), col("b.id").as("neighbor_id"),
          sim.as("sim")), k)
  }

  /** Occupancy-constant sign-LSH plane count for a corpus of `n` vectors:
    * the smallest k with n / 2^k ≤ `targetBucket` (floor 3). Expected
    * candidate volume per table is then O(n · targetBucket) — LINEAR in n —
    * where any fixed k degrades to O(n² / 2^k) as the corpus grows
    * (ScaleBench measured 59× cost for 10× rows at fixed k=3). Recall lost
    * to the finer buckets is bought back with `nTables`, which scales cost
    * linearly, never quadratically. `targetBucket` ~ 8·k of the intended
    * top-k is a reasonable operating point.
    */
  def annPlanesFor(n: Long, targetBucket: Long = 250L): Int = {
    require(n >= 0 && targetBucket >= 1, "need n >= 0 and a positive bucket target")
    // clamped to annTopK's own nPlanes <= 30 bound so the advertised
    // annTopK(..., annPlanesFor(n), ...) pairing never throws
    math.min(30, math.max(3, math.ceil(
      math.log((n.toDouble / targetBucket).max(1.0)) / math.log(2.0)).toInt))
  }

  /** IVF-style cell assignment: the coarse quantizer is the `nCells`
    * SMALLEST-id vectors (deterministic, model-free — a bounded
    * TakeOrdered, no assumption that ids are dense or 0-based); every
    * vector takes its most-cosine-similar seed as its cell. On the
    * canonical dense 0-based tables the seed set is exactly `id < nCells`,
    * so the SQL oracle replays it with that predicate. A trained k-means
    * codebook would slot in as a different seed set without changing the
    * plan. `seedByHash = true` orders seed candidates by `md5('seed:'||id)`
    * instead — a deterministic pseudo-random sample for corpora whose ids
    * correlate with content (e.g. insertion time); still replayable in any
    * engine with md5.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      seedByHash: Boolean = false): DataFrame =
    ivfAssignN(df, idCol, vecCol, nCells, 1, seedByHash).drop("rn")

  /** Top-`nProbe` cell assignments per vector (rn = 1 is the home cell).
    *
    * The codebook fetch below is the ONE deliberate driver action in the
    * ANN family: `nCells` rows (the model artifact — bounded, tiny) pulled
    * through a partial top-k (TakeOrdered — never a full sort) and inlined
    * into a [[graft.expr.NearestCells]] expression. Assignment is then a
    * single compiled pass inside the scan stage — no join, no window, no
    * shuffle. The previous expand-join + argmax-window form shuffled the
    * corpus `nCells`-fold amplified; at 1000s of cells over 100 TB only
    * the expression form survives.
    */
  private def ivfAssignN(
      df: DataFrame, idCol: String, vecCol: String, nCells: Int, nProbe: Int,
      seedByHash: Boolean = false): DataFrame = {
    val (ids, vecs) = fetchCellSeeds(df, idCol, vecCol, nCells, seedByHash)
    assignCellsWith(df, idCol, vecCol, ids, vecs, nProbe)
  }

  /** The codebook fetch of [[ivfAssignN]] as a reusable step: the nCells
    * smallest-id (or hash-ordered) non-null vectors, returned driver-side —
    * the bounded model artifact ([[ivfCellsFor]] keeps it √n-sized).
    */
  private def fetchCellSeeds(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seedByHash: Boolean): (Seq[Long], Seq[Seq[Float]]) = {
    require(nCells >= 1 && nCells <= MaxModelRows,
      s"ivfAssign: nCells = $nCells would collect that many seed vectors to " +
        s"the driver (ceiling $MaxModelRows). Cell counts are meant to come " +
        s"from ivfCellsFor(corpusRows, nProbe) = ceil(sqrt(n * nProbe)) — " +
        s"$nCells implies a corpus beyond 10^12 vectors or a miscalled argument")
    val seedOrder =
      if (seedByHash) Seq(md5(concat(lit("seed:"), col("s_id").cast("string"))), col("s_id"))
      else Seq(col("s_id"))
    val seedRows = df
      .select(col(idCol).cast("long").as("s_id"), col(vecCol).as("sv"))
      // a NULL seed embedding would NPE inside NearestCells on every task
      .filter(col("s_id").isNotNull && col("sv").isNotNull)
      .orderBy(seedOrder: _*)
      .limit(nCells)
      .collect()
      .sortBy(_.getLong(0))
    require(seedRows.nonEmpty,
      s"ivfAssign: no rows with a non-null long $idCol and non-null $vecCol to seed the cells")
    (seedRows.map(_.getLong(0)).toSeq, seedRows.map(_.getSeq[Float](1)).toSeq)
  }

  /** Cell assignment against EXPLICIT seeds — shared by [[ivfAssignN]]
    * (seeds fetched from the corpus) and the persisted-index search path
    * (seeds replayed from the stored model, so an increment is routed by
    * the SAME centroids the index was built with).
    */
  private def assignCellsWith(df: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], seedVecs: Seq[Seq[Float]], nProbe: Int): DataFrame = {
    val cells = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expr.NearestCells(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")),
        seedIds, seedVecs, nProbe))
    // NULL embeddings cannot be assigned a cell; exclude them EXPLICITLY
    // (posexplode would drop them silently, which reads as data loss)
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .select(col("id"), col("v"), posexplode(cells).as(Seq("p", "cell")))
      .select(col("id"), col("v"), col("cell"), (col("p") + 1).cast("int").as("rn"))
  }

  /** Compute-balanced IVF cell count for a corpus of `n` vectors:
    * assignment scans all centroids per vector (cost n·C) while search
    * pulls each probe's nProbe cells (cost n·(n/C)·nProbe), so a FIXED C
    * degrades to O(n²/C) search exactly like a fixed sign-LSH plane count
    * ([[annPlanesFor]]); C = √(n·nProbe) balances the two at O(n^1.5)
    * total — the classical IVF operating point. Floor 8. The centroid set
    * is a driver-side artifact: √n stays bounded (10⁹ vectors → ~32k
    * centroids ≈ 8 MB at 64 float dims), so the one deliberate collect in
    * [[ivfAssign]] survives the scale-up.
    */
  def ivfCellsFor(n: Long, nProbe: Int = 1): Int = {
    require(n >= 0 && nProbe >= 1, "need n >= 0 and a positive nProbe")
    math.max(8, math.round(math.sqrt(n.toDouble * nProbe)).toInt)
  }

  /** T5 scale path #2 — IVF top-k: every vector is STORED in its home cell
    * (rn = 1) and SEARCHES its `nProbe` nearest cells — the standard IVF
    * recall knob. Complements [[annTopK]] (sign-LSH buckets); same join
    * shape — an equi-join on a small cell id instead of a cross join.
    * Candidates are naturally distinct (each neighbour lives in exactly one
    * cell), so no dedup step is needed. On isotropic (structureless)
    * vectors recall tracks the probed fraction nProbe/nCells — no partition
    * scheme can beat that without structure to exploit; on real clustered
    * embeddings a small nProbe recovers high recall.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, nCells: Int, k: Int,
      nProbe: Int = 1, seedByHash: Boolean = false): DataFrame = {
    val assigned = ivfAssignN(df, idCol, vecCol, nCells, nProbe, seedByHash)
    val a = assigned.select(col("cell"), col("id").as("probe_id"), col("v").as("pv"))
    val b = assigned.filter(col("rn") === 1)
      .select(col("cell").as("c2"), col("id").as("neighbor_id"), col("v").as("cv"))
    val sim = Summaries.r4(cosine(col("pv"), col("cv")))
    rankTopK(
      a.join(b, col("cell") === col("c2") && col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"), sim.as("sim")), k)
  }

  /** T5 scale path #3 — IVF-PQ: the [[ivfTopK]] candidate pruning (probe
    * `nProbe` nearest cells, store each vector in its home cell) composed
    * with product-quantized scoring ([[Clustering.pqAdcDist]]): candidates
    * are scored STRAIGHT FROM their nSub-byte codes — the stored corpus
    * side of the join carries codes instead of full vectors, which at
    * 100 TB is the difference between an index that fits executor memory
    * and one that doesn't (256 B/vector → nSub bytes/vector). Probes stay
    * exact (ADC), ranking is the bounded [[rankTopK]] aggregate, and cells
    * bound the candidate count at O(n·nProbe·n/nCells) — [[ivfCellsFor]]
    * sizes nCells so that stays O(n^1.5). Distances are rounded 1e-6 with
    * ties to the lower neighbour id, the cross-engine replay contract.
    *
    * @return (probe_id, neighbor_id, adc_d6, rank) — rank 1..k per probe
    *         by ascending approximate squared L2.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      cb: Clustering.PqCodebooks, nCells: Int, k: Int, nProbe: Int = 1,
      seedByHash: Boolean = false): DataFrame = {
    // rows PQ cannot encode (null / off-dimension) get NULL codes, which
    // would surface as null distances mid-join — exclude them up front
    val clean = df.filter(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim)
    val assigned = ivfAssignN(clean, idCol, vecCol, nCells, nProbe, seedByHash)
    val probes = assigned.select(col("cell"), col("id").as("probe_id"), col("v").as("pv"))
    val enc = Clustering.pqEncode(
        assigned.filter(col("rn") === 1)
          .select(col("cell").as("c2"), col("id").as("neighbor_id"), col("v")),
        "v", cb)
      .select(col("c2"), col("neighbor_id"), col("codes"))
    val d6 = floor(Clustering.pqAdcDist(col("pv"), col("codes"), cb) * 1000000 + 0.5) / 1000000
    rankTopK(
        probes.join(enc, col("cell") === col("c2") && col("probe_id") =!= col("neighbor_id"))
          .select(col("probe_id"), col("neighbor_id"), (-d6).as("sim")), k)
      .select(col("probe_id"), col("neighbor_id"), (-col("sim")).as("adc_d6"), col("rank"))
  }

  /** Persist an IVF-PQ index: the stored, incrementally-maintainable form
    * of [[ivfPqTopK]] — after this one-time build, every search or ingest
    * increment routes against the SAME frozen model with no corpus
    * re-scan, no corpus re-encode, and (bucketed `_idx`) no corpus-side
    * exchange. Three tables under `tablePrefix`:
    *
    *  - `<prefix>_cells` — the coarse quantizer: (s_id, sv) seed
    *    centroids, replayed as [[graft.expr.NearestCells]] literals at
    *    search/append time;
    *  - `<prefix>_books` — the PQ codebooks: (sub, code, c) codewords;
    *  - `<prefix>_idx`   — the corpus: (cell, id, codes), bucketed by
    *    `cell` (the search join's key) — nSub bytes of code per vector
    *    instead of the vectors themselves, which is what lets a
    *    10¹¹-vector index live on hot storage.
    *
    * The model tables are the FROZEN routing contract: [[appendPqIndex]]
    * encodes new vectors with the stored codebooks and cells (a batch
    * must never re-train — that would silently re-route the existing
    * corpus), and [[searchPqIndex]] probes with them.
    */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Clustering.PqCodebooks, nCells: Int, tablePrefix: String,
      buckets: Int, seedByHash: Boolean = false,
      storeVectors: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val clean = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim)
    val (ids, vecs) = fetchCellSeeds(clean, idCol, vecCol, nCells, seedByHash)
    // a fresh build must not inherit the previous generation's tombstones
    // (they would silently subtract new-corpus ids from every search)
    Storage.clearTombstones(spark, s"${tablePrefix}_del")
    // cross-session rebuild: a previous session's model tables may have
    // left warehouse locations behind ([[Storage.reclaimStaleLocation]])
    Storage.reclaimStaleLocation(spark, s"${tablePrefix}_cells")
    Storage.reclaimStaleLocation(spark, s"${tablePrefix}_books")
    ids.zip(vecs).toDF("s_id", "sv")
      .write.mode("overwrite").saveAsTable(s"${tablePrefix}_cells")
    cb.books.zipWithIndex
      .flatMap { case (book, s) => book.map { case (code, c) => (s, code, c) } }
      .toDF("sub", "code", "c")
      .write.mode("overwrite").saveAsTable(s"${tablePrefix}_books")
    writeIdxRows(clean, idCol, vecCol, cb, ids, vecs, tablePrefix, buckets, "overwrite",
      storeVectors)
  }

  /** Admit an increment into a persisted index ([[writePqIndex]]): encode
    * and route the batch with the STORED model, append to the bucketed
    * `_idx` (Spark preserves the bucket spec on append). The maintenance
    * write an ingesting pipeline runs after each batch's survivors land.
    */
  def appendPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      tablePrefix: String, buckets: Int): Unit = {
    val spark = batch.sparkSession
    val (cb, ids, vecs) = readPqModel(spark, tablePrefix)
    val clean = batch.filter(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim)
    // an index built with a refine store keeps it consistent under appends
    writeIdxRows(clean, idCol, vecCol, cb, ids, vecs, tablePrefix, buckets, "append",
      storeVectors = spark.catalog.tableExists(s"${tablePrefix}_vecs"))
  }

  private def writeIdxRows(clean: DataFrame, idCol: String, vecCol: String,
      cb: Clustering.PqCodebooks, ids: Seq[Long], vecs: Seq[Seq[Float]],
      tablePrefix: String, buckets: Int, mode: String,
      storeVectors: Boolean = false): Unit = {
    val home = assignCellsWith(clean, idCol, vecCol, ids, vecs, 1)
      .select(col("cell"), col("id"), col("v"))
    Storage.writeBucketed(
      Clustering.pqEncode(home, "v", cb).select(col("cell"), col("id"), col("codes")),
      s"${tablePrefix}_idx", Seq("cell"), buckets, mode)
    if (storeVectors)
      // the FAISS refine-flat trade: exact vectors ride a SEPARATE
      // cell-keyed table, so code-phase scans stay 2-bytes-per-vector and
      // only the refine step's probed cells ever read vector bytes
      Storage.writeBucketed(home, s"${tablePrefix}_vecs", Seq("cell"), buckets, mode)
  }

  /** Rehydrate the frozen model of a persisted index: codebooks + coarse
    * cells — bounded, driver-side by design (same economics as the
    * [[ivfAssignN]] seed fetch).
    */
  def readPqModel(spark: SparkSession, tablePrefix: String)
      : (Clustering.PqCodebooks, Seq[Long], Seq[Seq[Float]]) = {
    // Both collects are capped at MaxModelRows: a corrupted or mis-written
    // model table (e.g. codes accidentally saved under the _books/_cells
    // name) must refuse loudly instead of collecting a corpus to the driver.
    // limit(cap + 1) bounds what the fetch can move even in the failure case.
    def bounded(table: String) = {
      val rows = spark.table(table).limit(MaxModelRows + 1).collect()
      require(rows.length <= MaxModelRows,
        s"model table $table holds more than $MaxModelRows rows — that is " +
          s"corpus-sized, not a model artifact; refusing the driver fetch")
      rows
    }
    val bookRows = bounded(s"${tablePrefix}_books")
      .map(r => (r.getInt(r.fieldIndex("sub")), r.getInt(r.fieldIndex("code")),
        r.getSeq[Double](r.fieldIndex("c"))))
    require(bookRows.nonEmpty, s"empty PQ model at ${tablePrefix}_books")
    val nSub  = bookRows.map(_._1).max + 1
    val width = bookRows.head._3.length
    val books = (0 until nSub).map(s =>
      bookRows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    require(books.forall(_.nonEmpty), s"PQ model at $tablePrefix is missing a subspace")
    val cellRows = bounded(s"${tablePrefix}_cells")
      .map(r => (r.getLong(r.fieldIndex("s_id")), r.getSeq[Float](r.fieldIndex("sv"))))
      .sortBy(_._1)
    require(cellRows.nonEmpty, s"empty cell model at ${tablePrefix}_cells")
    (Clustering.PqCodebooks(width * nSub, nSub, books),
      cellRows.map(_._1).toSeq, cellRows.map(_._2).toSeq)
  }

  /** Search a persisted IVF-PQ index: probes route to their `nProbe`
    * nearest STORED cells and score the bucketed code rows by ADC — the
    * batch (small by contract) broadcasts at runtime via AQE, so the
    * index side never shuffles. Semantics match [[ivfPqTopK]] over the
    * same model (SimilaritySpec pins the equivalence).
    */
  def searchPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      tablePrefix: String, k: Int, nProbe: Int = 1): DataFrame = {
    val spark = batch.sparkSession
    val (cb, ids, vecs) = readPqModel(spark, tablePrefix)
    val clean = batch.filter(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim)
    val probes = assignCellsWith(clean, idCol, vecCol, ids, vecs, nProbe)
      .select(col("cell"), col("id").as("probe_id"), col("v").as("pv"))
    // pending deletes ([[deleteFromPqIndex]]) are subtracted before the
    // cell join — tombstones are small by contract, so AQE broadcasts the
    // anti-join and the bucketed `_idx` side still never shuffles
    val idx0 = spark.table(s"${tablePrefix}_idx")
    val idx = Storage.tombstonesOf(spark, s"${tablePrefix}_del")
      .fold(idx0)(del => idx0.join(del, Seq("id"), "left_anti"))
      .select(col("cell").as("c2"), col("id").as("neighbor_id"), col("codes"))
    val d6 = floor(Clustering.pqAdcDist(col("pv"), col("codes"), cb) * 1000000 + 0.5) / 1000000
    rankTopK(
        probes.join(idx, col("cell") === col("c2") && col("probe_id") =!= col("neighbor_id"))
          .select(col("probe_id"), col("neighbor_id"), (-d6).as("sim")), k)
      .select(col("probe_id"), col("neighbor_id"), (-col("sim")).as("adc_d6"), col("rank"))
  }

  /** [[searchPqIndex]] plus the FAISS-style REFINE step: the code-scored
    * phase keeps the `refineR` best ADC candidates per probe, then exactly
    * those candidates re-score against their STORED exact vectors (the
    * `_vecs` refine store `writePqIndex(storeVectors = true)` lays down)
    * and the final top-k ranks on true cosine. Code-only scoring caps
    * recall — ADC distance is a quantized estimate, so the true nearest
    * neighbor can sit at ADC rank 4 of a top-3 answer; re-ranking a
    * slightly wider R recovers it for the price of R exact distances per
    * probe, not a corpus scan.
    *
    * Scale shape: the refine join reads ONLY candidate cells — the probed
    * cell set is collected (bounded: at most the frozen model's cell
    * count, the [[readPqModel]] economics) and pruned into the bucketed
    * `_vecs` scan: as a pushed IN filter when the set is at most
    * `maxCellLiterals` (row-group stats skip non-probed cells — vector
    * bytes are read for candidate buckets only), or as a broadcast semi
    * join on cell above that bound (plan size stays bounded at any model
    * scale; `_vecs` never shuffles). The candidate stream is
    * batch × refineR rows and AQE broadcasts it. Deleted ids never reach the refine step (the code
    * phase anti-joins tombstones), so the `_vecs` store needs no
    * search-time tombstone handling of its own.
    *
    * Output: `(probe_id, neighbor_id, cos4, rank)` — rank by (cos4 desc,
    * neighbor_id), the 4-decimal rounding every exact-cosine oracle
    * replays.
    */
  def searchPqIndexRefined(batch: DataFrame, idCol: String, vecCol: String,
      tablePrefix: String, k: Int, nProbe: Int = 1, refineR: Int,
      maxCellLiterals: Int = 1024): DataFrame = {
    require(refineR >= k, "refineR must be at least k")
    val spark = batch.sparkSession
    // fail fast, before any job runs: without the refine store this would
    // otherwise surface as a raw missing-table AnalysisException AFTER the
    // code phase already executed
    require(spark.catalog.tableExists(s"${tablePrefix}_vecs"),
      s"searchPqIndexRefined needs the refine store ${tablePrefix}_vecs — " +
        "write the index with writePqIndex(..., storeVectors = true)")
    // one model fetch and ONE cell assignment serve both phases — the
    // probes feed the code-scored join AND the probed-cell collect, so
    // they pin (batch-sized; the collect is the materializing action)
    val (cb, ids, vecs) = readPqModel(spark, tablePrefix)
    val clean = batch.filter(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim)
    val probes = Checkpoints.pin(assignCellsWith(clean, idCol, vecCol, ids, vecs, nProbe)
      .select(col("cell"), col("id").as("probe_id"), col("v").as("pv")), eager = false)
    val idx0 = spark.table(s"${tablePrefix}_idx")
    val idx = Storage.tombstonesOf(spark, s"${tablePrefix}_del")
      .fold(idx0)(del => idx0.join(del, Seq("id"), "left_anti"))
      .select(col("cell").as("c2"), col("id").as("neighbor_id"), col("codes"))
    val d6 = floor(Clustering.pqAdcDist(col("pv"), col("codes"), cb) * 1000000 + 0.5) / 1000000
    val topR = rankTopK(
        probes.join(idx, col("cell") === col("c2") && col("probe_id") =!= col("neighbor_id"))
          .select(col("probe_id"), col("neighbor_id"), (-d6).as("sim")), refineR)
      .select(col("probe_id"), col("neighbor_id"))
    // the cells this batch probes — the refine scan's pruning predicate.
    // Bounded by the frozen cell count (≤ MaxModelRows by construction),
    // NOT by the corpus: collecting it is model-fetch economics.
    //
    // Two pruning shapes, picked by the probed-cell count:
    //  - ≤ maxCellLiterals (the common case — a small batch probes few
    //    cells): a literal IN, which Spark pushes into the parquet reader —
    //    `_vecs` is sorted by cell inside each bucket, so row-group min/max
    //    stats skip everything outside the probed cells; vector BYTES are
    //    read for candidate buckets only.
    //  - above it: a broadcast LEFT SEMI join on cell. The plan size stays
    //    bounded at any model scale (no million-literal IN), `_vecs` never
    //    shuffles (the probed-cell set is the broadcast build side), and
    //    non-candidate rows drop at the scan stage map-side. Static scan
    //    pruning is genuinely lost here — but in this regime the batch
    //    probes more cells than the literal bound anyway, so the scan
    //    would touch most row groups under either shape.
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val vecs0 = spark.table(s"${tablePrefix}_vecs")
    val vecsPruned =
      if (probedCells.length <= maxCellLiterals)
        vecs0.filter(col("cell").isin(probedCells: _*))
      else
        vecs0.join(
          broadcast(spark.createDataset(probedCells.toSeq)(
            org.apache.spark.sql.Encoders.scalaLong).toDF("cell")),
          Seq("cell"), "left_semi")
    val refVecs = vecsPruned.select(col("id").as("neighbor_id"), col("v").as("nv"))
    val probeVecs = clean.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    rankTopK(
        topR.join(refVecs, "neighbor_id").join(probeVecs, "probe_id")
          .select(col("probe_id"), col("neighbor_id"),
            Summaries.r4(cosine(col("pv"), col("nv"))).as("sim")), k)
      .select(col("probe_id"), col("neighbor_id"), col("sim").as("cos4"), col("rank"))
  }

  /** Delete vectors from a persisted IVF-PQ index ([[writePqIndex]]) without
    * rewriting it: tombstone append + search-time anti-join, the same
    * delete-vector shape as [[graft.ops.Text.deleteFromMinhashIndex]]
    * (economics in [[graft.ops.Storage.appendTombstones]]). The frozen
    * model (cells, codebooks) is untouched — deletion changes WHAT is
    * stored, never how the survivors are routed.
    */
  def deleteFromPqIndex(spark: SparkSession, ids: DataFrame, idCol: String,
      tablePrefix: String): Unit =
    Storage.appendTombstones(spark, ids, idCol, s"${tablePrefix}_del")

  /** Fold accumulated tombstones into the physical `_idx` table: rewrite it
    * minus the deleted ids (bucketing preserved) and reset the tombstone
    * table. The model tables are NOT touched — the remaining codes were
    * encoded and routed under the frozen model and stay valid. Kept rows
    * are pinned before the overwrite ([[graft.ops.Checkpoints]]). A
    * maintenance-window operation, not safe under concurrent searches of
    * the same prefix. No-op when no deletes are pending.
    */
  def compactPqIndex(spark: SparkSession, tablePrefix: String, buckets: Int): Unit =
    Storage.tombstonesOf(spark, s"${tablePrefix}_del").foreach { del =>
      val keep = Checkpoints.pin(
        spark.table(s"${tablePrefix}_idx").join(del, Seq("id"), "left_anti"))
      Storage.writeBucketed(keep.select(col("cell"), col("id"), col("codes")),
        s"${tablePrefix}_idx", Seq("cell"), buckets, "overwrite")
      // a refine store compacts alongside: its deleted rows were already
      // unreachable (the code phase anti-joins tombstones before refine),
      // so this is storage reclamation, not a correctness step
      if (spark.catalog.tableExists(s"${tablePrefix}_vecs")) {
        val keepV = Checkpoints.pin(
          spark.table(s"${tablePrefix}_vecs").join(del, Seq("id"), "left_anti"))
        Storage.writeBucketed(keepV.select(col("cell"), col("id"), col("v")),
          s"${tablePrefix}_vecs", Seq("cell"), buckets, "overwrite")
        Checkpoints.release(keepV)
      }
      Storage.clearTombstones(spark, s"${tablePrefix}_del")
      Checkpoints.release(keep)
    }

  /** SemDeDup-style semantic near-duplicate candidates: vectors are
    * bucketed into their IVF home cell (one compiled argmax pass, no
    * shuffle amplification) and only WITHIN-CELL pairs are scored — the
    * O(n²/nCells) trick that makes embedding-level dedup feasible on a
    * corpus where all-pairs cosine is impossible. Emits `(id_a, id_b,
    * sim)` with `id_a < id_b` and rounded `sim ≥ threshold`; feed to
    * [[graft.ops.Dedup.nearDupSurvivors]] for keep-one resolution.
    *
    * Recall contract: a pair is emitted iff either side PROBES the other's
    * home cell — `nProbe = 1` is the pure SemDeDup trade (same-home-cell
    * only); raising `nProbe` recovers cell-border pairs at proportional
    * extra candidate cost (SimilaritySpec measures the recall curve on
    * near-isotropic vectors, the worst case for any cell partition — real
    * clustered embeddings do much better). The threshold compares the
    * 4-decimal-rounded similarity so the cut is engine-deterministic, and
    * pairs are canonicalized `(min, max)` so each surfaces once.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double, nProbe: Int = 1,
      seedByHash: Boolean = false): DataFrame = {
    val assigned = ivfAssignN(df, idCol, vecCol, nCells, nProbe, seedByHash)
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val b = assigned.filter(col("rn") === 1)
      .select(col("cell").as("__c2"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, col("cell") === col("__c2") && col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        Summaries.r4(cosine(col("va"), col("vb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Scalar (max-abs) int8 quantization of an embedding column: per-vector
    * `scale = max|v_i| / 127`, `q_i = floor(v_i/scale + 0.5)` — the storage
    * form ANN candidate stores ship at scale (4× smaller than float32, and
    * int8 dot kernels where the hardware has them). `floor(x + 0.5)` is
    * spelled out (not `round`) so Spark and the DuckDB oracle round
    * identically, including negatives.
    *
    * Returns `struct(scale: double, q: array<tinyint>)`. Zero vectors get
    * scale 0 and an all-zero code. Quantization error is measured by
    * [[dequantCosine]]: cosine is scale-invariant, so `cos(v, q)` IS the
    * reconstruction similarity — no dequantized array needed.
    *
    * Pure per-row expressions — fused into the scan stage, no shuffle. The
    * HOFs here are CodegenFallback, which is fine for a once-per-row
    * storage transform; the HOT path (per candidate pair) stays on the
    * codegen'd [[cosine]].
    */
  def quantizeInt8(vec: Column): Column = {
    val vd    = transform(vec, _.cast("double"))
    val scale = array_max(transform(vd, x => abs(x))) / lit(127.0)
    val q = when(scale === 0.0, transform(vd, _ => lit(0).cast("tinyint")))
      .otherwise(transform(vd, x => floor(x / scale + lit(0.5)).cast("tinyint")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Cosine between the original vector and its int8 code (= its
    * reconstruction, since cosine ignores the scale factor).
    */
  def dequantCosine(vec: Column, quant: Column): Column =
    cosine(transform(vec, _.cast("float")), transform(quant.getField("q"), _.cast("float")))

  /** A9 — typed UDAF: element-wise mean of an embedding column. The buffer is
    * a primitive double array + count; merge is O(dim) — a textbook
    * `Aggregator`, partial-aggregated map-side like any built-in.
    */
  case class VecMeanBuf(sums: Array[Double], n: Long)

  class VectorMean extends Aggregator[Seq[Float], VecMeanBuf, Seq[Double]] {
    override def zero: VecMeanBuf = VecMeanBuf(Array.empty, 0L)
    override def reduce(b: VecMeanBuf, v: Seq[Float]): VecMeanBuf = {
      if (v == null) return b
      require(b.sums.isEmpty || b.sums.length == v.length,
        s"VectorMean: dimension mismatch (${b.sums.length} vs ${v.length})")
      val s = if (b.sums.isEmpty) new Array[Double](v.length) else b.sums
      var i = 0
      while (i < v.length) { s(i) += v(i); i += 1 }
      VecMeanBuf(s, b.n + 1)
    }
    override def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf = {
      if (x.n == 0) return y
      if (y.n == 0) return x
      require(x.sums.length == y.sums.length,
        s"VectorMean: dimension mismatch (${x.sums.length} vs ${y.sums.length})")
      val s = x.sums.clone()
      var i = 0
      while (i < s.length) { s(i) += y.sums(i); i += 1 }
      VecMeanBuf(s, x.n + y.n)
    }
    override def finish(b: VecMeanBuf): Seq[Double] =
      if (b.n == 0) Seq.empty else b.sums.toSeq.map(_ / b.n)
    override def bufferEncoder: Encoder[VecMeanBuf] = Encoders.product[VecMeanBuf]
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Registered column form of [[VectorMean]]. */
  def vectorMean(c: Column): Column = udaf(new VectorMean).apply(c)
}
