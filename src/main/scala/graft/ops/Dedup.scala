package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication — the reference's signature operator family (SURVEY §2.6).
  *
  * D1 keep-most-recent (reference `app.py:233-242`: sort desc by recency then
  * `drop_duplicates(keep="first")`) is deliberately NOT `dropDuplicates`:
  * Spark's `dropDuplicates` keeps an arbitrary plan-dependent row. The
  * distributed-deterministic form is a window `row_number() == 1` with a
  * total ordering (recency desc, then an explicit tie-break) — one hash
  * exchange on the keys followed by an in-partition sort, same asymptotics as
  * the reference's sort-once-scan-once but partitioned, so it scales to any
  * number of executors with no driver involvement.
  */
object Dedup {

  /** D1 — per key keep the single most-recent row.
    *
    * @param keys      dedup key columns (reference default
    *                  `("endpoint_name","endpoint_alias")`, `app.py:221`)
    * @param recency   recency columns, most significant first
    *                  (`app.py:237-239` sorts descending on these)
    * @param tieBreak  deterministic tie-break ordering appended after the
    *                  recency keys — pandas resolves ties by encounter order,
    *                  which has no distributed equivalent (SURVEY §7.5)
    */
  def keepLatest(
      df: DataFrame,
      keys: Seq[String],
      recency: Seq[String],
      tieBreak: Seq[Column]): DataFrame = {
    require(!df.columns.contains("__rn"),
      "keepLatest uses __rn internally; rename the input's __rn column first")
    val order = recency.map(col(_).desc) ++ tieBreak.map(_.asc)
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** O4 — top-k per group: the k most-recent (or highest-ranked) rows per
    * key; D1 is the k=1 special case.
    */
  def topKPerGroup(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      k: Int): DataFrame = {
    require(!df.columns.contains("__rn"),
      "topKPerGroup uses __rn internally; rename the input's __rn column first")
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** D2 — all-columns distinct (reference fallback `app.py:242`). */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Exact content dedup for document-scale data, two-phase: (1) project to
    * (digest, id) — 32 B + 8 B per row — and `groupBy(digest).agg(min(id))` to
    * pick one winner per distinct content; (2) left-semi join the winners back
    * on the id. The first shuffle carries only digest+id pairs, never the
    * document bodies (the r1 window-on-digest form shuffled full rows); the
    * semi-join hashes rows by id, and AQE turns it into a broadcast when the
    * winner set is small. sha-256, not md5: md5 is collision-broken, and a
    * crafted colliding pair of documents must not silently merge.
    */
  def dedupByDigest(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    // NULL DIGEST is NOT "equal content": sha2(NULL) is NULL, and letting
    // those rows share one digest group would silently collapse every
    // NULL-content row into a single survivor. They all pass instead —
    // consistent with [[dedupAgainstCorpus]], where a NULL digest never
    // matches the corpus set. The drop guard and the restore union use the
    // SAME digest expression: content that is non-null but casts to a null
    // binary must take the pass-through path too, not silently vanish
    // between a content-null restore and a digest-null drop.
    val digest = sha2(col(contentCol).cast("binary"), 256)
    val winners = df
      .select(digest.as("__digest"), col(idCol).as("__keep"))
      .filter(col("__digest").isNotNull)
      .groupBy(col("__digest"))
      .agg(min(col("__keep")).as("__keep"))
      .select(col("__keep"))
    df.join(winners, col(idCol) === col("__keep"), "left_semi")
      .unionByName(df.filter(digest.isNull))
  }

  /** D3 final step — connected components over a candidate-pair graph by
    * iterative min-label propagation, entirely in DataFrame space.
    *
    * Every node starts labeled with its own id; each round every node takes
    * the minimum label among itself and its neighbors (one equi-join + one
    * min-aggregate = two shuffles per round), converging in O(graph diameter)
    * rounds. Near-dup graphs are dense clusters with tiny diameters, so this
    * typically fixpoints in 2–4 rounds; `maxIter` bounds adversarial chains.
    * Convergence is detected by the exact per-node CHANGED count, fused into
    * the round aggregate itself: the labels branch of the round's union
    * carries the previous label as an extra column, so "did anything move"
    * is a filter over the round's own pinned output — no separate
    * convergence-probe job, no signature job on the initial labels, and no
    * hash-collision caveat (empty ⟺ fixed, per-node equality). The round's
    * pin is LAZY: the changed-count is the round's ONE action, and
    * materializing the pinned labels is its side effect
    * (PlanSpec pins the per-round action count). The pin ([[Checkpoints]])
    * truncates the growing lineage so round N's plan does not replay
    * rounds 1..N-1.
    * (At extreme graph scale the alternating large-star/small-star variant
    * [Kiveris et al., CC in MapReduce] halves the round count; plain min
    * propagation keeps the per-round plan to stock joins which AQE handles.)
    *
    * NOTE this is an ITERATIVE ALGORITHM, not a lazy operator: calling it
    * materializes the pair graph and runs the propagation rounds immediately
    * (like fitting a model), because each round's convergence test is an
    * action. Build the pairs DataFrame lazily as usual; invoke this at
    * execution time.
    *
    * @return one row per node that appears in any pair: (id, comp) where
    *         comp is the minimum id of the node's component.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    // Round pins are LAZY: the changed-count probe below both materializes
    // the pinned round AND returns the fixpoint test — one action per
    // round, not a checkpoint job followed by a probe job. (Lazy pins are
    // safe to release here because every round IS materialized by its
    // probe before the next round supersedes it.)
    // Edge table pinned LAZILY and HASH-PARTITIONED ON dst: every round's
    // propagation join probes edges by dst against the node-sized labels,
    // so pre-partitioning the pinned artifact means rounds re-exchange only
    // the labels side (the Graph converge-mode layout device), and the lazy
    // pin folds edge materialization into round 1's probe action instead of
    // paying a standalone eager-checkpoint job — on a pair graph fed by a
    // whole candidate pipeline (minhash/simhash verify) that job was a full
    // extra barrier.
    val edges = Checkpoints.pin(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .repartition(col("dst")), eager = false)
    var labels = Checkpoints.pin(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")), eager = false)
    val idType = edges.select(col("src")).schema.head.dataType
    var converged = false
    var iter      = 0
    while (!converged && iter < maxIter) {
      // The fixpoint probe is FUSED into the round aggregate: the labels
      // branch of the union carries its own comp as an extra `pm` column
      // (propagation rows carry NULL; every node has exactly ONE labels row,
      // so `max(pm)` is exactly the previous label), and the round's one
      // action counts rows whose comp moved — a filter over the round's own
      // pinned output. This replaces the former per-round label-hash-sum
      // probe AND the standalone signature job on the initial labels: the
      // changed count is exact per-node equality (empty ⟺ fixed), with no
      // hash-collision caveat, and a fresh invocation runs one fewer action.
      val prop = edges.join(labels.select(col("id"), col("comp")),
          col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"),
          lit(null).cast(idType).as("pm"))
      val next = Checkpoints.pin(labels
        .select(col("id"), col("comp"), col("comp").as("pm"))
        .union(prop)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"), max(col("pm")).as("pm")),
        eager = false)
      // NULL-safe inequality: a node whose id (and so initial label) is NULL
      // keeps the old fixpoint semantics — <=> treats NULL = NULL as equal.
      val changed = next.filter(!(col("comp") <=> col("pm"))).count()
      converged = changed == 0L
      // superseded — don't pin O(rounds) copies (the initial labels pin was
      // materialized by round 1's probe, so releasing it is well-defined)
      Checkpoints.release(labels)
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    // Unconverged labels are WRONG labels (a node could carry keep=true
    // without being its component's minimum), and a dedup that silently
    // retains duplicates is worse than one that fails loudly.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "the pair graph has a component with diameter > maxIter; raise maxIter")
    labels
  }

  /** Survivor resolution over candidate pairs (the keep-one semantics of the
    * reference's `drop_duplicates(keep="first")`, `app.py:240`, lifted to the
    * fuzzy-pair graph): each near-dup cluster keeps exactly its minimum id.
    * `useStar = true` routes through [[connectedComponentsStar]] for pair
    * graphs whose diameter may exceed propagation's round budget.
    */
  def nearDupSurvivors(pairs: DataFrame, aCol: String, bCol: String,
      useStar: Boolean = false, maxIter: Int = 50): DataFrame = {
    val cc = if (useStar) connectedComponentsStar(pairs, aCol, bCol, maxIter)
             else connectedComponents(pairs, aCol, bCol, maxIter)
    cc.select(col("id").as("doc_id"), col("comp"), (col("id") === col("comp")).as("keep"))
  }

  /** Keyed upsert (the MERGE / SCD-type-1 fast path): rows of `updates`
    * replace same-key rows of `current`; unmatched current rows pass
    * through; new keys insert. Spelled as `updates ∪ (current ⟕̸ update
    * keys)` — the anti-join probes only the KEY COLUMNS of the updates
    * (broadcast under AQE when the increment is small, the overwhelmingly
    * common case), so the current table streams through one narrow
    * scan+filter and never shuffles. This is how a table-format MERGE
    * executes its not-matched path at scale; a row-level transaction log
    * is storage's job, not the engine's.
    *
    * `updates` must be unique per key — pass a `resolveBy` recency column
    * to reduce a multi-version increment with [[keepLatest]] first
    * (checking the contract here would launch an eager job at plan-build
    * time, which this engine bans — see the TF-IDF in-plan-count
    * precedent). Rows that tie on (key, version) resolve by whole-row
    * hash — content-addressed, so the pick survives reruns and
    * repartitions (the keys themselves are constant inside the partition
    * and would leave the choice to physical row order).
    *
    * Block retention: the resolved increment is pinned (it feeds both the
    * union and the anti-join probe) and stays pinned until the session
    * drops it. A long-lived caller (e.g. a streaming foreachBatch loop
    * upserting per batch) should call [[Checkpoints.release]] on the
    * RESULT after its terminal action — release walks the plan and frees
    * the internal pin.
    */
  def upsert(current: DataFrame, updates: DataFrame, keys: Seq[String],
      resolveBy: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    // lazily pinned: `up` feeds BOTH the union side and the anti-join key
    // probe — without the pin the keepLatest window (exchange + sort)
    // would execute once per consumer in the same action
    val up = Checkpoints.pin(resolveBy.fold(updates)(o =>
      keepLatest(updates, keys, Seq(o),
        Seq(xxhash64(updates.columns.map(col): _*)))), eager = false)
    // resolveBy already guarantees one row per key; only the raw-updates
    // path needs the distinct on the probe side
    val probe = up.select(keys.map(col): _*)
    up.unionByName(
      current.join(if (resolveBy.isDefined) probe else probe.distinct(), keys, "left_anti"))
  }

  /** Incremental exact dedup: drop batch rows whose content digest already
    * exists in the corpus — the daily-increment operation of a continuously
    * growing training set. The corpus side is reduced to its distinct digest
    * set (32 B per distinct document) before the anti-join, so the batch —
    * the small side by construction — joins against digests, never against
    * corpus bodies; neither side's documents cross the network.
    */
  def dedupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      contentCol: String): DataFrame = {
    val seen = corpus
      .select(sha2(col(contentCol).cast("binary"), 256).as("__digest"))
      .distinct()
    batch
      .withColumn("__digest", sha2(col(contentCol).cast("binary"), 256))
      .join(seen, Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  /** Produce the deduplicated corpus: drop every non-survivor of every
    * near-dup cluster; documents in no pair are untouched. The loser set is
    * tiny relative to the corpus (it is bounded by the pair count), so the
    * anti-join broadcasts under AQE — the corpus itself never shuffles.
    */
  def dropNearDups(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      useStar: Boolean = false): DataFrame = {
    val losers = nearDupSurvivors(pairs, aCol, bCol, useStar)
      .filter(!col("keep"))
      .select(col("doc_id").as("__loser"))
    docs.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the extreme-diameter-safe alternative to
    * [[connectedComponents]]'s min-label propagation: label propagation
    * needs O(diameter) rounds, while star alternation converges in
    * O(log² n) rounds on ANY graph, because each round rewires edges
    * toward component minima instead of walking them. Same contract and
    * output as [[connectedComponents]] (property-tested equal); choose it
    * when the pair graph might contain long chains — e.g. near-dup chains
    * across a crawl where A≈B≈C≈… for thousands of hops.
    *
    * Per round: two self-aggregating joins over the edge list (no node
    * labels carried between rounds — the edge list IS the state), with
    * a [[Checkpoints.pin]] truncating lineage. Convergence = the normalized
    * edge set reaches a fixpoint, tested exactly with a one-sided
    * `except` (the round can only shrink-or-equal the set; see loop).
    */
  def connectedComponentsStar(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    def normalize(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val nodes = Checkpoints.pin(pairs.select(col(aCol).as("n"))
      .union(pairs.select(col(bCol).as("n"))).distinct())
    var edges = Checkpoints.pin(normalize(
        pairs.select(col(aCol).as("a"), col(bCol).as("b"))))
    var converged = edges.isEmpty
    var iter      = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: every neighbor v > u re-attaches to m(u) = min(Γ(u) ∪ {u})
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL  = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val afterLarge = normalize(
        sym.filter(col("v") > col("u"))
          .join(mL, "u")
          .select(col("v").as("a"), col("m").as("b")))
      // SMALL-STAR on the normalized (u < v) form: v's smaller neighbors are
      // exactly its u-partners; all of them and v itself re-attach to their min
      val mS = afterLarge.groupBy(col("v")).agg(min(col("u")).as("m"))
      val afterSmall = Checkpoints.pin(normalize(
        afterLarge.join(mS, "v").select(col("u").as("a"), col("m").as("b"))
          .union(mS.select(col("v").as("a"), col("m").as("b")))))
      converged = afterSmall.count() == edges.count() &&
        afterSmall.except(edges).isEmpty
      Checkpoints.release(edges) // superseded — don't pin O(rounds) copies
      edges = afterSmall
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint edges are stars (root = component minimum, root < child):
    // children read their root; roots and isolated nodes label themselves
    nodes
      .join(edges.select(col("v").as("n"), col("u").as("comp")), Seq("n"), "left")
      .select(col("n").as("id"), coalesce(col("comp"), col("n")).as("comp"))
  }
}
