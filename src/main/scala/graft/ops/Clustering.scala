package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** Clustering and second-moment statistics over embedding columns — the
  * model-fitting half of a training-data pipeline (corpus topic balancing,
  * semantic bucketing, dimensionality reduction before ANN).
  *
  * Scale shape shared by everything here: the MODEL (k centroids, a d×d
  * covariance) is tiny and lives on the driver / in broadcasts; the DATA
  * only ever streams through partial aggregates. No row is ever shuffled —
  * per iteration the corpus is read once, each task reduces to k×d (or
  * d²/2) doubles, and one k-row (or one-row) exchange merges them. That is
  * the same plan at 500 rows and at 100 TB.
  */
object Clustering {

  /** Squared L2 distance between an embedding column and a fixed centroid,
    * accumulated left-to-right in double — the fold order and casts are the
    * replayable contract ([[Similarity.dot]] convention): DuckDB's
    * `list_reduce(list_prepend(0.0, [...]))` reproduces it bit for bit.
    */
  def sqDist(v: Column, centroid: Seq[Double]): Column =
    aggregate(zip_with(v, typedLit(centroid), (x, y) => {
      val d = x.cast("double") - y
      d * d
    }), lit(0.0), (acc, z) => acc + z)

  /** Nearest-centroid id for each row: argmin over the broadcast centroid
    * table, ties to the LOWest centroid id. The argmin is an `array_min`
    * over (distance, cid) structs — lexicographic struct ordering IS the
    * tie-broken argmin, evaluated entirely inside codegen with no join.
    * Distances are rounded to 1e-6 before comparison so an engine replaying
    * the assignment (the DuckDB oracle) cannot flip a near-tie on
    * last-bit float noise.
    */
  def assignClusters(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], outCol: String = "cluster"): DataFrame =
    df.withColumn(outCol, nearestCode(col(vecCol), centroids))

  /** The argmin itself as a Column — shared by [[assignClusters]] and the
    * per-subspace product-quantization encode, where the input is a SLICE
    * of the vector rather than a named column.
    */
  private def nearestCode(v: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cands = array(centroids.map { case (cid, c) =>
      struct(
        (floor(sqDist(v, c) * 1000000 + 0.5) / 1000000).as("d"),
        lit(cid).as("cid"))
    }: _*)
    array_min(cands).getField("cid")
  }

  /** Lloyd's k-means over an embedding column: k deterministic seeds (the
    * rows with the k smallest ids — content-addressed, replayable), then
    * `iters` rounds of assign → recompute means.
    *
    * Each iteration is ONE pass over the corpus: assignment is a broadcast
    * expression (no join, no shuffle of rows) and the centroid update is a
    * partially-aggregated [[Similarity.VectorMean]] — tasks reduce to at
    * most k×d doubles before the exchange, so the shuffle carries k rows
    * regardless of corpus size. The k-row update lands on the driver (the
    * model is driver state by design — same economics as any ML fit);
    * updated centroids are rounded to 1e-4 per element so the next
    * iteration's assignment is replayable cross-engine. A cluster that
    * captures no rows vanishes (with data-point seeds each centroid owns at
    * least its seed row, so this only happens with duplicate seed vectors).
    *
    * @return (assignment DataFrame with `cluster` added, final centroids
    *         (cid, size, mean)) — the assignment reflects the LAST
    *         assignment pass; the centroids are the means of exactly those
    *         clusters.
    */
  /** Deterministic seeding shared by [[kmeans]] and the streaming
    * [[graft.ops.Streaming.kmeansSink]]: the k smallest-id vectors whose
    * dimension matches the FIRST valid vector's (a wrong-dim row among the
    * smallest ids must not become a centroid — its null distances would
    * win every argmin). Over-fetches 4k candidates so a few malformed
    * rows cannot starve the seed set.
    */
  private[graft] def seedCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[Seq[Double]] = {
    val cand = df.filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(math.max(4 * k, k)).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq)
    cand.headOption match {
      case None    => Seq.empty
      case Some(h) => cand.filter(_.length == h.length).take(k).map(v => v: Seq[Double]).toSeq
    }
  }

  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int)
      : (DataFrame, Seq[(Int, Long, Seq[Double])]) = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val seeds = seedCentroids(df, idCol, vecCol, k)
    require(seeds.nonEmpty, "kmeans needs at least one non-null vector")
    val dim = seeds.head.length
    // NULL or wrong-dimension vectors cannot be assigned (null distances
    // would silently collapse into cluster 0; zip_with would truncate a
    // short vector) — they are EXCLUDED from assignment and means alike.
    // Spread before the distance pass: the per-row k×dim distance kernel
    // is CPU-bound and a small parquet input arrives as ONE split, which
    // would serialize every iteration (measured: q117's per-iteration
    // assign+mean jobs ran single-task) — the minhashNearDupPairs device,
    // gated on the input's actual width (graft.Tables.spread). PINNED
    // (lazily) because every iteration's centroid collect is its own
    // action: unpinned, each of the `iters` actions re-paid the scan plus
    // the spread exchange, and the re-executed round-robin could land rows
    // in different partitions per run — harmless for the rounded result,
    // but the pin makes the double-summation order frozen AND paid once.
    // This is the iterative-fit training-set cache, not cross-run caching
    // (the caller's terminal action still computes from the parquet input;
    // Bench/Verify release pinned blocks after each query).
    val clean = Checkpoints.pin(Tables.spread(
        df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)), eager = false)
    var centroids: Seq[(Int, Seq[Double])] = seeds.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    var assigned  = clean
    var stats     = Seq.empty[(Int, Long, Seq[Double])]
    for (_ <- 1 to iters) {
      assigned = assignClusters(clean, vecCol, centroids)
      stats = assigned.groupBy(col("cluster"))
        .agg(Similarity.vectorMean(col(vecCol)).as("c"), count(lit(1)).as("n"))
        .select(col("cluster"),
          transform(col("c"), x => floor(x * 10000 + 0.5) / 10000).as("c"), col("n"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
      centroids = stats.map { case (cid, _, c) => (cid, c) }
    }
    (assigned, stats)
  }

  // ---- one-pass covariance --------------------------------------------------

  /** Mutable accumulation state: row count, per-dimension sums, and the
    * upper-triangle (i ≤ j, row-major) cross-product sums.
    */
  case class CovBuf(n: Long, sums: Array[Double], prods: Array[Double])

  /** The one place the covariance arithmetic lives — used by both the
    * one-pass aggregate's finish and [[covFromState]], so a stored-state
    * read can never diverge from the direct computation:
    * cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n, upper triangle row-major.
    */
  private def covCells(n: Long, sums: IndexedSeq[Double],
      prods: IndexedSeq[Double]): Seq[(Int, Int, Double)] = {
    if (n == 0L) Seq.empty
    else {
      val d   = sums.length
      val out = Seq.newBuilder[(Int, Int, Double)]
      var i = 0
      var p = 0
      while (i < d) {
        var j = i
        while (j < d) {
          out += ((i, j, (prods(p) - sums(i) * sums(j) / n) / n))
          j += 1; p += 1
        }
        i += 1
      }
      out.result()
    }
  }

  /** One-pass covariance matrix over an embedding column: each task
    * accumulates (n, Σxᵢ, Σxᵢxⱼ) — d + d(d+1)/2 doubles, ~17 kB at d = 64 —
    * and a single merged row yields cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n
    * (population covariance). The naive alternative (posexplode twice →
    * groupBy (i,j)) shuffles d²× the corpus; this shuffles tasks × one
    * buffer. Emitted as (i, j, cov) structs for the upper triangle, ready
    * to `explode` into rows; values are exact (un-rounded) — round at the
    * query layer for cross-engine comparison.
    *
    * The d×d result is small by construction, so downstream PCA (eigen
    * decomposition) is legitimate driver-side work — see [[powerIteration]].
    */
  class CovarianceMatrix extends Aggregator[Seq[Float], CovBuf, Seq[(Int, Int, Double)]] {
    override def zero: CovBuf = CovBuf(0L, Array.empty, Array.empty)
    override def reduce(b: CovBuf, v: Seq[Float]): CovBuf = {
      // empty arrays are the other common 'missing vector' encoding — both
      // are skipped, never allowed to seed a zero-dimension buffer
      if (v == null || v.isEmpty) return b
      val d = v.length
      val acc = if (b.n == 0L) CovBuf(0L, new Array[Double](d), new Array[Double](d * (d + 1) / 2)) else b
      require(acc.sums.length == d, s"dimension mismatch: ${acc.sums.length} vs $d")
      var i = 0
      var p = 0
      while (i < d) {
        val xi = v(i).toDouble
        acc.sums(i) += xi
        var j = i
        while (j < d) { acc.prods(p) += xi * v(j).toDouble; j += 1; p += 1 }
        i += 1
      }
      CovBuf(acc.n + 1, acc.sums, acc.prods)
    }
    override def merge(x: CovBuf, y: CovBuf): CovBuf = {
      if (x.n == 0L) y
      else if (y.n == 0L) x
      else {
        require(x.sums.length == y.sums.length, "dimension mismatch in merge")
        var i = 0
        while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
        var p = 0
        while (p < x.prods.length) { x.prods(p) += y.prods(p); p += 1 }
        CovBuf(x.n + y.n, x.sums, x.prods)
      }
    }
    override def finish(b: CovBuf): Seq[(Int, Int, Double)] =
      covCells(b.n, b.sums, b.prods)
    override def bufferEncoder: Encoder[CovBuf] = Encoders.product[CovBuf]
    override def outputEncoder: Encoder[Seq[(Int, Int, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Int, Int, Double)]]()
  }

  /** Covariance as a ready-to-explode column aggregate. */
  def covarianceMatrix(c: Column): Column = udaf(new CovarianceMatrix).apply(c)

  // ---- incremental covariance state ----------------------------------------

  /** The raw moment buffer as DATA — the covariance counterpart of
    * [[Summaries.aggState]] / the HLL distinct state: (n, Σxᵢ, Σxᵢxⱼ) is
    * algebraic, so yesterday's corpus state plus today's delta state merge
    * by pure addition and the maintained covariance never re-reads
    * history. `finish` here returns the buffer instead of finishing it;
    * [[covFromState]] derives cov(i,j) at READ time, keeping the stored
    * state mergeable forever.
    */
  class CovarianceState extends Aggregator[Seq[Float], CovBuf, CovStateRow] {
    private val inner = new CovarianceMatrix
    override def zero: CovBuf = inner.zero
    override def reduce(b: CovBuf, v: Seq[Float]): CovBuf = inner.reduce(b, v)
    override def merge(x: CovBuf, y: CovBuf): CovBuf = inner.merge(x, y)
    override def finish(b: CovBuf): CovStateRow =
      CovStateRow(b.n, b.sums.toSeq, b.prods.toSeq)
    override def bufferEncoder: Encoder[CovBuf] = Encoders.product[CovBuf]
    override def outputEncoder: Encoder[CovStateRow] = Encoders.product[CovStateRow]
  }
  case class CovStateRow(n: Long, sums: Seq[Double], prods: Seq[Double])

  /** One-row covariance state over an embedding column. */
  def covState(df: DataFrame, vecCol: String): DataFrame =
    df.agg(udaf(new CovarianceState).apply(col(vecCol)).as("s"))
      .select(col("s.n").as("n"), col("s.sums").as("sums"), col("s.prods").as("prods"))

  /** Merge covariance states (any number of one-row state frames unioned):
    * counts add, both moment vectors add element-wise. The element-wise
    * sum runs through posexplode → sum → ordered rebuild — states are a
    * few kB, so this is metadata-scale work regardless of how much corpus
    * each state summarizes.
    */
  def mergeCovStates(states: DataFrame): DataFrame = {
    // dimension guard: index-wise addition of mismatched dims would emit a
    // plausible-looking hybrid (first dims added, the tail passed through)
    // with no error — the embedding-model-upgrade trap. State frames are
    // tiny; the check is metadata-scale.
    val dims = states.filter(col("n") > 0)
      .select(size(col("sums")).as("d")).distinct().collect().map(_.getInt(0))
    require(dims.length <= 1,
      s"mergeCovStates: mixed embedding dimensions ${dims.mkString(", ")}")
    def addArrays(c: String) = states
      .select(posexplode(col(c)).as(Seq("i", "v")))
      .groupBy(col("i")).agg(sum(col("v")).as("v"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        e => e.getField("v")).as(c))
    states.agg(sum(col("n")).as("n"))
      .crossJoin(addArrays("sums"))
      .crossJoin(addArrays("prods"))
  }

  /** (i, j, cov) rows derived from a state frame — same arithmetic as
    * [[CovarianceMatrix.finish]]: cov = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n.
    */
  def covFromState(state: DataFrame): Seq[(Int, Int, Double)] = {
    val rows = state.select(col("n"), col("sums"), col("prods")).collect()
    require(rows.length == 1, s"expected one state row, got ${rows.length}")
    val r = rows.head
    covCells(r.getLong(0), r.getSeq[Double](1).toIndexedSeq, r.getSeq[Double](2).toIndexedSeq)
  }

  /** Top principal component of a covariance matrix by power iteration —
    * DRIVER-side on the d×d result of [[covarianceMatrix]] (the matrix is
    * tiny; the corpus-scale work already happened in the one-pass
    * aggregate). Deterministic start vector (1/√d, …); returns a unit
    * vector with a sign convention (first nonzero component positive) so
    * results are comparable across runs.
    */
  def powerIteration(cov: Seq[(Int, Int, Double)], d: Int, steps: Int = 100): Array[Double] = {
    val m = Array.ofDim[Double](d, d)
    cov.foreach { case (i, j, v) => m(i)(j) = v; m(j)(i) = v }
    powerIterationDense(m, d, steps)
  }

  /** Project an embedding column onto a fixed basis (e.g. top principal
    * components): per row, an array of dot products against broadcast
    * basis vectors — pure expression work in the scan stage, no shuffle.
    */
  def project(v: Column, basis: Seq[Seq[Double]]): Column =
    array(basis.map(b => Similarity.dot(v, typedLit(b))): _*)

  /** Top-k principal components by power iteration with deflation: after
    * each component, its rank-one term λ·vvᵀ is subtracted and the next
    * iteration runs on the residual. Driver-side like [[powerIteration]]
    * (the input is the TINY d×d output of [[covarianceMatrix]]); the
    * corpus-scale application is [[project]]ing rows onto the result —
    * the standard embedding-compression step before ANN indexing.
    *
    * @return (component, eigenvalue) pairs, λ descending; components unit,
    *         first-nonzero-positive sign convention.
    */
  def principalComponents(cov: Seq[(Int, Int, Double)], d: Int, k: Int,
      steps: Int = 100): Seq[(Array[Double], Double)] = {
    require(k >= 1 && k <= d, "k must be in [1, d]")
    val m = Array.ofDim[Double](d, d)
    cov.foreach { case (i, j, v) => m(i)(j) = v; m(j)(i) = v }
    (1 to k).map { _ =>
      val v = powerIterationDense(m, d, steps)
      // Rayleigh quotient: v is unit, so lambda = v' M v
      var lambda = 0.0
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += m(i)(j) * v(j); j += 1 }
        lambda += v(i) * acc
        i += 1
      }
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { m(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      (v, lambda)
    }
  }

  /** PCA whitening: project onto the top components AND rescale each
    * coordinate to unit variance (÷√λ) — decorrelated, equalized features,
    * the standard preprocessing before cosine/L2 retrieval when raw
    * dimensions have wildly different spreads. Pure scan-stage expression
    * like [[project]].
    */
  def whiten(v: Column, pcs: Seq[(Array[Double], Double)]): Column = {
    require(pcs.forall(_._2 > 0), "whitening needs strictly positive eigenvalues")
    array(pcs.map { case (b, lambda) =>
      Similarity.dot(v, typedLit(b.toSeq)) / math.sqrt(lambda)
    }: _*)
  }

  // ---- product quantization -------------------------------------------------

  /** Squared L2 distance between two array COLUMNS (the codeword is data,
    * not a literal), accumulated in double left-to-right — the Column
    * counterpart of [[sqDist]], same fold order, same replay contract.
    */
  def sqDistC(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, z) => acc + z)

  /** Trained product-quantization model: `books(s)` holds subspace `s`'s
    * surviving codewords as (code, centroid-of-width-`width`) — codes keep
    * their seed identity (a codeword that captures no rows vanishes, like
    * [[kmeans]] clusters), so code values are stable across re-trains from
    * the same corpus prefix.
    */
  case class PqCodebooks(dim: Int, nSub: Int, books: Seq[Seq[(Int, Seq[Double])]]) {
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    def width: Int = dim / nSub
    private[Clustering] def bookMap(s: Int): Column =
      typedLit(books(s).toMap)
  }

  /** Train product-quantization codebooks: the d-dim space splits into
    * `nSub` contiguous width-d/nSub subspaces and each runs Lloyd's k-means
    * independently ([Jégou et al. 2011, "Product quantization for nearest
    * neighbor search"]). Memory economics at 100 TB: a 64-dim float vector
    * is 256 B; its PQ code is `nSub` bytes — the corpus index fits in RAM
    * three orders of magnitude sooner, which is the difference between an
    * in-memory ANN sweep and an I/O-bound one.
    *
    * ALL subspaces train in ONE corpus pass per iteration: each row explodes
    * to `nSub` (sub, code, subvector) entries and a single
    * `groupBy(sub, code)` recomputes every codebook's means — the explode
    * never reaches the exchange because partial aggregation collapses it
    * task-side to ≤ nSub·k mean buffers (the [[kmeans]] k-row-shuffle
    * economics, multiplied only by nSub). Seeds are the k smallest-id
    * vectors' slices ([[seedCentroids]] — content-addressed, replayable);
    * per-candidate distances round at 1e-6 and means at 1e-4, the
    * [[kmeans]] cross-engine replay contract.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, nSub: Int, k: Int,
      iters: Int): PqCodebooks = {
    require(nSub >= 1 && k >= 1 && iters >= 1, "nSub, k, iters must be positive")
    val seeds = seedCentroids(df, idCol, vecCol, k)
    require(seeds.nonEmpty, "pqTrain needs at least one non-null vector")
    val dim = seeds.head.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val w = dim / nSub
    val clean = df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
    def sub(s: Int): Column = slice(col(vecCol), s * w + 1, w)
    var books: Seq[Seq[(Int, Seq[Double])]] =
      (0 until nSub).map(s => seeds.zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * w, (s + 1) * w))
      })
    for (_ <- 1 to iters) {
      val entries = array((0 until nSub).map { s =>
        struct(lit(s).as("sub"), nearestCode(sub(s), books(s)).as("code"),
          sub(s).as("sv"))
      }: _*)
      val stats = clean.select(explode(entries).as("e"))
        .select(col("e.sub").as("sub"), col("e.code").as("code"), col("e.sv").as("sv"))
        .groupBy(col("sub"), col("code"))
        .agg(Similarity.vectorMean(col("sv")).as("c"))
        .select(col("sub"), col("code"),
          transform(col("c"), x => floor(x * 10000 + 0.5) / 10000).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      books = (0 until nSub).map(s =>
        stats.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    }
    PqCodebooks(dim, nSub, books)
  }

  /** Encode each vector as `nSub` small codes — per subspace the argmin
    * over that subspace's codebook, the same rounded-distance/lowest-code
    * tie contract as [[assignClusters]]. Pure scan-stage expression work:
    * no join, no shuffle, one compiled pass (ClusteringSpec pins the
    * plan). Rows whose vector is NULL or off-dimension get NULL codes
    * rather than silently joining codeword 0.
    */
  def pqEncode(df: DataFrame, vecCol: String, cb: PqCodebooks,
      outCol: String = "codes"): DataFrame = {
    val w = cb.width
    val codes = array((0 until cb.nSub).map { s =>
      nearestCode(slice(col(vecCol), s * w + 1, w), cb.books(s))
    }: _*)
    df.withColumn(outCol,
      when(col(vecCol).isNotNull && size(col(vecCol)) === cb.dim, codes))
  }

  /** Reconstruct the quantized vector from its codes: the concatenation of
    * each subspace's codeword — `element_at` on a broadcast literal map,
    * expression-only like [[pqEncode]].
    */
  def pqReconstruct(codes: Column, cb: PqCodebooks): Column =
    flatten(array((0 until cb.nSub).map { s =>
      element_at(cb.bookMap(s), element_at(codes, s + 1))
    }: _*))

  /** Asymmetric-distance computation: approximate squared L2 between an
    * EXACT probe vector and an ENCODED candidate — Σ over subspaces of
    * ‖probe_s − codeword(code_s)‖². The probe side stays exact (that is
    * the "asymmetric" in ADC — only the corpus is quantized), candidates
    * never decompress to full vectors in the pairing join; the codebooks
    * ride as literals inside the native [[graft.expr.PqAdc]] expression
    * (the HOF form was interpreted per element — ScaleBench measured the
    * flat sweep at 53 s for 4M pairs before the kernel went native).
    * Compose with [[Similarity.ivfTopK]] cells to bound the candidate
    * set: IVF prunes WHICH candidates are scored, PQ shrinks WHAT is
    * stored and compared — together the standard IVF-PQ index layout.
    */
  def pqAdcDist(probe: Column, codes: Column, cb: PqCodebooks): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expr.PqAdc(
      ColumnBridge.expression(probe), ColumnBridge.expression(codes), cb.books))
  }

  // ---- supervised: logistic regression by aggregate-driven gradient descent

  /** Full-batch logistic regression fit, the model-as-driver-state pattern
    * of [[kmeans]] applied to a supervised quality model (the fastText-style
    * doc-quality classifier of a curation pipeline, fit in-engine): weights
    * start at 0 and take `iters` gradient steps
    * w ← w + lr·Σ(y − σ(w·x))·x / n, each step ONE corpus pass reduced by
    * partial aggregation to d+1 sums — no row ever shuffles, the exchange
    * carries one buffer per task at any corpus size. Features arrive as
    * COLUMNS (standardize them first — raw scales make fixed-lr GD
    * diverge); a bias term is prepended internally. Weights round at 1e-6
    * after every step, so a replaying engine ([[graft.SparkEntry.oracleSql]]'s
    * DuckDB twin) stays bit-aligned across iterations: the only
    * cross-engine float hazard left is `exp` differing in its last ulp,
    * which the per-step rounding absorbs.
    *
    * @return d+1 weights: bias first, then one per feature, in order.
    */
  def logisticFit(df: DataFrame, features: Seq[Column], label: Column,
      iters: Int, lr: Double): Seq[Double] = {
    require(features.nonEmpty && iters >= 1 && lr > 0, "need features, iters >= 1, lr > 0")
    val d = features.length + 1
    var wts: Seq[Double] = Seq.fill(d)(0.0)
    // The design term x_i is element i of [1.0, f_1, …]; materializing that
    // array per row and indexing it per gradient component would do O(d^2)
    // expression work per row AND trips a Janino rvalue bug in the partial
    // aggregate's generated code (whole-stage codegen silently falls back to
    // interpreter mode). The direct column is the same value, null for null.
    val x: Seq[Column] = lit(1.0) +: features.map(_.cast("double"))
    val y = label.cast("double")
    for (_ <- 1 to iters) {
      val resid = y - logisticScore(features, wts)
      val aggs = (0 until d).map(i => sum(x(i) * resid).as(s"g$i")) :+
        count(lit(1)).as("n")
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      require(!row.isNullAt(0), "logisticFit: empty input")
      val n = row.getLong(d).toDouble
      wts = (0 until d).map(i => round6(wts(i) + lr * row.getDouble(i) / n))
    }
    wts
  }

  /** σ(w·x) as a scan-stage Column over feature columns — scoring is pure
    * expression work (broadcast weights, no join); the dot product
    * associates left-to-right from the bias so a replaying engine writes
    * the same arithmetic: ((w0 + f1·w1) + f2·w2) + …
    */
  def logisticScore(features: Seq[Column], wts: Seq[Double]): Column = {
    require(wts.length == features.length + 1,
      s"expected ${features.length + 1} weights (bias first), got ${wts.length}")
    val z = features.zip(wts.tail).foldLeft(lit(wts.head): Column) {
      case (acc, (f, wi)) => acc + f.cast("double") * lit(wi)
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  private def round6(v: Double): Double = math.floor(v * 1000000 + 0.5) / 1000000

  private def powerIterationDense(m: Array[Array[Double]], d: Int, steps: Int): Array[Double] = {
    // deterministic but NON-uniform start: the uniform vector is exactly
    // stationary on any eigenvector it happens to be orthogonal to (e.g.
    // two perfectly anti-correlated features), and symmetric arithmetic
    // never breaks the tie — sin(i+1) components have no such alignment
    val raw  = Array.tabulate(d)(i => math.sin(i + 1.0))
    val rnrm = math.sqrt(raw.map(x => x * x).sum)
    var v    = raw.map(_ / rnrm)
    var s = 0
    while (s < steps) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm == 0.0) s = steps // residual is zero: keep the current vector
      else { v = w.map(_ / nrm); s += 1 }
    }
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(0.0)
    if (lead < 0) v.map(-_) else v
  }
}
