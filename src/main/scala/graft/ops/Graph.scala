package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-propagation operators beyond the dedup component machinery
  * ([[Dedup.connectedComponents]]): iterative rank/mass computations
  * expressed as joins + aggregates per round, checkpointed between rounds —
  * the Pregel shape on plain DataFrames.
  */
object Graph {

  /** PageRank with INTEGER micro-mass — deterministic, engine-replayable
    * link analysis for influence/importance scoring (seed-domain weighting,
    * crawl prioritization). Every node starts with 1 000 000 micro-units;
    * each round it keeps `100 − dampingPct` % of the base unit and
    * receives `(m · dampingPct) DIV (100 · out_degree)` from each in-edge.
    * All arithmetic is 64-bit integer division — bit-identical on any
    * engine and any partitioning (a float PageRank's Σ over in-edges is
    * partial-aggregation-order-dependent; this one is exact), which is what
    * lets a SQL oracle replay it term for term.
    *
    * Semantics notes: `edges` must be DISTINCT (src, dst) pairs — dedupe
    * first (multi-edges would double-send mass); integer floor division
    * loses the remainder micro-units and dangling nodes (no out-edges)
    * absorb mass without re-emitting it, so total mass DECAYS rather than
    * being redistributed — fine for ranking (order is what matters), not a
    * probability distribution. Fixed iteration count, no convergence test:
    * rank stabilizes geometrically and a fixed unroll keeps the oracle
    * finite.
    *
    * Scale shape per round: ONE join of the pinned edge table against
    * current ranks on the source key and ONE aggregate on the destination
    * key — the per-node base term rides the aggregate as a unioned
    * constant row per node (ranks' node set is invariant across rounds),
    * so there is no third join back to a node table. Out-degree comes from
    * a partial-aggregated count joined back to the edges (node-sized build
    * side — AQE broadcasts it when small, hash-joins it at corpus scale);
    * a window over `src` would instead SORT the full edge set inside each
    * shuffle partition. Every round reshuffles only node-sized rank rows.
    *
    * Pinning cadence: rounds are checkpointed ([[Checkpoints]]) every
    * `pinEvery` iterations, the Pregel checkpoint-interval pattern. Between
    * pins the plan tree doubles per round (ranks feeds the contribution
    * join AND the base-term union), so `pinEvery` is capped at 5 (2^5
    * scans of one pinned artifact, deduplicated by exchange reuse) —
    * lineage depth stays O(pinEvery), recovery cost on a real cluster is
    * bounded to `pinEvery` rounds, and short fixed unrolls (3–5 rounds,
    * the common scoring configuration) run as ONE job instead of paying a
    * full materialization barrier per round. The FINAL round always stays
    * lazy — it is consumed exactly once by the caller's action, and an
    * eager checkpoint would materialize it twice.
    *
    * Block retention: the pinned edge table and the last surviving pinned
    * round remain referenced by the returned plan, so they stay in the
    * block store until the session drops them. After the terminal action,
    * call [[Checkpoints.release]] on the RESULT — it walks the plan and
    * frees every pin still referenced (the edge table, the final pinned
    * round, and — when `iterations <= pinEvery` ever left it live — the
    * round-0 ranks).
    *
    * @param pinEvery checkpoint interval in rounds (1 = every round).
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85, pinEvery: Int = 1): DataFrame =
    pageRankIntWithRounds(edges, srcCol, dstCol, iterations, dampingPct, pinEvery)._1

  /** [[pageRankInt]] plus the number of rounds actually run — the testable
    * surface of `converge` (GraphSpec asserts early halt and delta ≡ full).
    *
    * `converge = false` (default): exactly `iterations` rounds as one lazy
    * unroll — the oracle-able fixed-round contract (q147).
    *
    * `converge = true`: `iterations` becomes a CEILING — rounds run until
    * the EXACT mass fixpoint (integer masses; the per-round changed set is
    * the co-partitioned diff of consecutive rank tables, empty ⟺ fixed —
    * no epsilon, no float drift caveat: quantized integer mass is what
    * makes a true fixpoint exist at all, a float PageRank only ever
    * oscillates in ulps). Each round lazily pins and the changed-count
    * probe is the round's one action. Once the changed set falls under 20%
    * of the nodes, rounds switch to FRONTIER propagation: a node's new
    * mass is `base + Σ_in (m_u·damping) DIV (100·d_u)` — a pure function
    * of its in-neighbors' masses — so only dsts adjacent to last round's
    * changed set can move, and exactly those re-aggregate (against the
    * full rank table; bit-identical output, GraphSpec pins delta ≡ full)
    * while everyone else carries their mass forward without an exchange.
    * On a converging graph the frontier collapses geometrically, so the
    * late rounds exchange O(frontier·avg-degree) rows instead of O(E) —
    * the round-12/13 verdicts' carried item (q177/q147 were ~104 s of the
    * ×100 suite total, every round full-width). A graph that never
    * fixpoints within the ceiling throws loudly rather than returning a
    * mass table the caller believed final.
    */
  private[graft] def pageRankIntWithRounds(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, dampingPct: Int = 85, pinEvery: Int = 1,
      converge: Boolean = false): (DataFrame, Int) = {
    require(iterations >= 1 && iterations <= (if (converge) 100 else 20),
      "iterations in [1, 20] (fixed) / [1, 100] (converge ceiling)")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct in (0, 100)")
    require(pinEvery >= 1 && pinEvery <= 5, "pinEvery in [1, 5]")
    // (Measured and REJECTED: running the converge loop with AQE disabled
    // to cut its per-exchange stage-jobs — the static planner has no size
    // stats for checkpoint scans, falls back to sort-merge joins, and the
    // per-round sorts cost more than the stage-job round trips they save:
    // q198 3.2 → 4.7 s, q199 2.9 → 5–11 s warm.)
    // setup artifacts pin LAZILY: they feed exactly the next job, so an
    // eager pin would only add a standalone materialization barrier
    val es  = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = es.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // converge mode re-pins the edge table hash-partitioned on src: its
    // rounds are separate jobs (the changed-count probe is a per-round
    // action) and exchange reuse cannot span jobs — without the layout
    // every round-job re-exchanges the edge set for the contribution join.
    // Fixed-round mode skips the repartition: the unroll is ONE job and
    // ReuseExchange dedups the identical edge subtrees (same as LPA).
    //
    // The e/ranks setup pins are kept EVEN for a short one-job fixed unroll
    // (iterations <= pinEvery, q147's shape). Skipping them — relying on
    // ReuseExchange to dedup the duplicated subtrees inside the single job
    // — was MEASURED and REVERTED in round 19: `e` is a broadcast join
    // (deg broadcast over the raw edge scan), so its STREAM side ends in
    // no exchange and every round's differently-projected reference
    // re-scans and re-joins the edge input. The saved construction-time
    // barriers are a CONSTANT ~3–4 stage jobs, while the recompute is
    // O(E · rounds): flat-to-negative at sf0.1 (q147 2.43→2.93 s), −50%
    // at ×10 (7.76→11.63 s), and catastrophic at ×100 (single-JVM
    // 39.0→49.1 s wall / 863→1131 cpu-s; cluster 59.8→169.0 s wall /
    // 1066→3456 cpu-s — the edge prep recomputed per round). LPA's
    // one-job unroll legitimately skips its pins because all three of its
    // setup artifacts are distinct()-terminated — the dedup point is the
    // artifact's own aggregate exchange; pageRank's `e` has no such
    // exchange to reuse.
    val eRaw = es.join(deg, Seq("src"))
    val e    = Checkpoints.pin(if (converge) eRaw.repartition(col("src")) else eRaw, eager = false)
    val base = 1000000L * (100 - dampingPct) / 100
    // round-0 ranks IS the node set at uniform mass — one pinned artifact
    // (it feeds two consumers per round: the contribution join and the
    // base-term union), not separate nodes + ranks copies
    var ranks = Checkpoints.pin(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .distinct()
      .select(col("v"), lit(1000000L).as("m")), eager = false)
    var lastPinnedRanks = ranks // only ever release a PINNED artifact
    val nodeCount = if (converge) ranks.count() else 0L
    var changedPrev: Option[DataFrame] = None
    var changedCount = -1L
    var iter  = 0
    var fixed = false
    // Full-round phase of converge mode BATCHES two rounds per probe: the
    // fixpoint test only needs SOME round to equal its predecessor, and
    // every round past the fixpoint is the identity, so probing every
    // second round costs at most one extra (identity) round of compute
    // while halving the early phase's job round-trips — each probe is a
    // full driver barrier (the round-12/13 verdicts' "latency-shaped tail").
    // The intermediate round stays an UNPINNED subplan inside the probe's
    // one job; its two consumers (contribution join, base-term union) end
    // in the identical aggregate exchange, which ReuseExchange dedups —
    // exactly the device the fixed-round unroll already relies on. Once
    // the changed set is small enough for FRONTIER rounds, probing drops
    // back to every round (the delta propagation consumes the exact
    // changed set of the immediately preceding round).
    while (iter < iterations && !fixed) {
      // FRONTIER round (converge mode, late rounds): recompute exactly the
      // dsts adjacent to last round's changed set; all other nodes carry
      // their mass forward untouched. The recomputation aggregates ALL
      // in-edges of an affected dst against the full rank table, so the
      // value is bit-identical to a full round's.
      val useDelta = converge && changedPrev.nonEmpty && changedCount * 5 < nodeCount
      var roundPin: Option[DataFrame] = None
      // Converge rounds FUSE the fixpoint probe into the round aggregate:
      // the base-term branch of the union carries last round's mass as an
      // extra `pm` column (contribution rows carry NULL; every node has
      // exactly one base row, so `max(pm)` is exact), and the changed set
      // is then a plain FILTER `m =!= pm` over the round's own pinned
      // output — where the unfused shape paid a separate node-wide
      // ranks-diff join per round. One fewer stage in every round-job, no
      // second read of the previous rank table. Fixed-round mode never
      // computes pm (no probe — dead column, and the oracle-able unroll
      // stays byte-identical to before).
      val pmNull = lit(null).cast("long").as("pm")
      val next =
        if (useDelta) {
          val affected = Checkpoints.pin(
            e.join(changedPrev.get, col("src") === col("cv"), "left_semi")
              .select(col("dst")).distinct(), eager = false)
          roundPin = Some(affected)
          val updated = e
            .join(affected, Seq("dst"), "left_semi")
            .join(ranks, col("src") === col("v"))
            .select(col("dst"), expr(s"(m * $dampingPct) DIV (100 * d)").as("c"), pmNull)
            .union(affected.join(ranks, col("dst") === col("v"))
              .select(col("dst"), lit(base).as("c"), col("m").as("pm")))
            .groupBy(col("dst")).agg(sum(col("c")).as("m"), max(col("pm")).as("pm"))
            .select(col("dst").as("v"), col("m"), col("pm"))
          updated.unionByName(
            ranks.join(affected.select(col("dst").as("v")), Seq("v"), "left_anti")
              .select(col("v"), col("m"), col("m").as("pm")))
        } else {
          // Round 1 shortcut: ranks are still the uniform constant, so the
          // per-edge term is (1 000 000 · damping) DIV (100 · d) — a plain
          // projection of the edge table; the rank join only exists to
          // fetch m, which round 1 already knows. Saves one edge-sized join.
          def contrib(r: DataFrame, first: Boolean) =
            if (first)
              e.select(col("dst").as("v"),
                expr(s"(1000000 * $dampingPct) DIV (100 * d)").as("c"))
            else
              e.join(r, col("src") === col("v"))
                .select(col("dst").as("v"),
                  expr(s"(m * $dampingPct) DIV (100 * d)").as("c"))
          def plainRound(r: DataFrame, first: Boolean) =
            contrib(r, first).union(r.select(col("v"), lit(base).as("c")))
              .groupBy(col("v")).agg(sum(col("c")).as("m"))
          if (converge) {
            // batch: one unprobed full round chained lazily under the
            // probed one, when the ceiling still allows two rounds
            val doBatch = iter + 2 <= iterations
            val prev =
              if (doBatch) { val mid = plainRound(ranks, iter == 0); iter += 1; mid }
              else ranks
            contrib(prev, !doBatch && iter == 0).select(col("v"), col("c"), pmNull)
              .union(prev.select(col("v"), lit(base).as("c"), col("m").as("pm")))
              .groupBy(col("v")).agg(sum(col("c")).as("m"), max(col("pm")).as("pm"))
          } else
            plainRound(ranks, iter == 0)
        }
      iter += 1
      if (converge) {
        // CC's round shape: lazy pins; the changed-count probe is the
        // round's one action and materializes both as its side effect
        val pinned = Checkpoints.pin(next, eager = false)
        val chg = Checkpoints.pin(
          pinned.filter(col("m") =!= col("pm")).select(col("v").as("cv")), eager = false)
        changedCount = chg.count()
        fixed = changedCount == 0L
        if (lastPinnedRanks ne null) Checkpoints.release(lastPinnedRanks)
        changedPrev.foreach(Checkpoints.release)
        roundPin.foreach(Checkpoints.release)
        changedPrev = Some(chg)
        lastPinnedRanks = pinned
        ranks = pinned.select(col("v"), col("m"))
      } else if (iter < iterations && iter % pinEvery == 0) {
        val pinned = Checkpoints.pin(next)
        Checkpoints.release(lastPinnedRanks) // superseded — don't pin O(rounds) copies
        lastPinnedRanks = pinned
        ranks = pinned
      } else {
        ranks = next // final round (and un-pinned rounds): lazy
      }
    }
    if (converge && !fixed)
      throw new IllegalStateException(
        s"pageRankInt did not reach its integer-mass fixpoint in $iterations " +
          "rounds — raise the ceiling, or run with converge = false for " +
          "fixed-round semantics")
    (ranks.select(col("v"), col("m").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("v")), iter)
  }

  /** Deterministic synchronous label propagation — community detection on
    * an undirected graph (the LPA family): every node starts labeled with
    * its own id; each round, a node adopts the label held by the MOST of
    * its neighbors, ties broken by the smallest label. The argmax is an
    * in-aggregate `max(struct(cnt, -label))`, so the update is
    * partition-order-exact and replayed term-for-term by the SQL oracle's
    * `row_number() OVER (ORDER BY cnt DESC, label ASC)`. Fixed
    * `iterations` by default (synchronous LPA may oscillate on bipartite
    * structure — the fixed-round form is the deterministic, oracle-able
    * contract; convergence is not claimed); `converge = true` turns
    * `iterations` into a ceiling with per-round fixpoint detection and a
    * LOUD failure when no fixpoint exists (see
    * [[labelPropagationWithRounds]]). Self-loops are ignored for voting — a
    * node whose only edges are self-loops is still a node, and keeps its
    * own label through every round (it votes for nothing and nothing
    * votes for it).
    *
    * Scale shape: per round one edge⋈labels join + two hash aggregates —
    * the same Pregel-shaped plan as [[pageRankInt]], with per-round pins
    * (lineage must not deepen per round) and superseded pins released.
    * After the terminal action, call [[Checkpoints.release]] on the
    * result to free the edge table and final round's pin.
    *
    * The no-vote fallback is a STATIC set, not a per-round join: edges
    * are symmetrized, so every node with a proper edge receives at least
    * one vote every round — the only nodes that ever keep a label by
    * default are those with NO proper edges (isolated / self-loop-only),
    * and their kept label is forever their own id. They are split off
    * once and unioned back at the end, which lets each round read the
    * previous labels exactly ONCE (the votes join). That single-reference
    * shape is what makes `pinEvery > 1` safe here: an unpinned round's
    * subplan appears once in the next round, so a short unroll is linear
    * (the earlier per-round LEFT-JOIN fallback read labels twice and made
    * an unpinned unroll double per round — measured 2.5× wall at sf0.1).
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      iterations: Int, pinEvery: Int = 1, converge: Boolean = false): DataFrame =
    labelPropagationWithRounds(pairs, aCol, bCol, iterations, pinEvery, converge)._1

  /** [[labelPropagation]] plus the number of rounds actually run — the
    * testable surface of `converge` (GraphSpec asserts early halt and the
    * loud oscillation failure).
    *
    * `converge = false` (default): exactly `iterations` rounds, no
    * per-round action — a short unroll with `pinEvery = iterations` runs
    * as ONE job, the oracle-able fixed-round contract (q177). Convergence
    * is not claimed; the caller owns the round count.
    *
    * `converge = true`: `iterations` becomes a CEILING — rounds run until
    * the label fixpoint, detected by the exact per-round CHANGED set (the
    * co-partitioned diff of consecutive label tables; empty ⟺ fixed —
    * per-node equality, so an oscillating 2-cycle that swaps labels
    * between nodes is seen directly, with no hash-collision caveat). Each
    * round lazily pins and the changed-count probe is the round's one
    * action, so the cost is CC's per-round shape (`pinEvery` is ignored —
    * every round is pinned). Once the changed set falls under 20% of the
    * voters, rounds switch to DELTA propagation: only dsts adjacent to the
    * changed set re-vote (against the full labels — bit-identical output,
    * GraphSpec pins delta ≡ full), and the per-round exchange volume
    * collapses with the frontier instead of staying edge-sized. A graph
    * that never fixpoints within the ceiling (synchronous LPA oscillates
    * on bipartite structure) throws rather than returning a non-converged
    * labeling the caller believed final — mirror of CC's refusal;
    * fixed-round semantics remain available as `converge = false`.
    */
  private[graft] def labelPropagationWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, iterations: Int, pinEvery: Int = 1,
      converge: Boolean = false): (DataFrame, Int) = {
    require(iterations >= 1 && iterations <= 20, "iterations in [1, 20]")
    require(pinEvery >= 1 && pinEvery <= 5, "pinEvery in [1, 5]")
    // A SHORT fixed unroll (iterations <= pinEvery) runs as ONE job, so the
    // setup pins — each a sequential construction-time barrier of 3–4 AQE
    // stage jobs (a lazy pin materializes every stage below the
    // final one when it hands out its RDD) — are skipped: inside the single
    // job, ReuseExchange dedups the duplicated subtrees and independent
    // stages materialize concurrently. Converge mode and long unrolls keep
    // the pins (their artifacts are re-read across separate per-round jobs,
    // where exchange reuse cannot span). Same device as pageRankInt.
    val onePass = !converge && iterations <= pinEvery
    val setupPin: DataFrame => DataFrame =
      if (onePass) identity else Checkpoints.pin(_, eager = false)
    val p0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // node set from EVERY endpoint (self-loops included) — the voting edge
    // set drops self-loops, but that must not delete the node itself
    val nodes = setupPin(
      p0.select(col("src").as("v")).union(p0.select(col("dst").as("v"))).distinct())
    // CONVERGE mode re-pins the edge table hash-partitioned on src: its
    // rounds are separate jobs (the changed-count probe is a per-round
    // action), and exchange reuse cannot span jobs — without the layout,
    // every round-job re-exchanges the full edge set for the votes join.
    // The pin preserves the partitioning in the plan, so converge
    // rounds exchange only the node-sized labels side. Fixed-round mode
    // deliberately SKIPS the repartition: the whole unroll is ONE job and
    // ReuseExchange already dedups the identical edge-shuffle subtrees, so
    // the extra setup exchange would be pure overhead (measured +25% on
    // q177 at sf0.1).
    val edgesRaw = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val edges = setupPin(if (converge) edgesRaw.repartition(col("src")) else edgesRaw)
    // the symmetrized edge set means "receives votes" == "has a proper
    // edge" — a static property, so the keep-own-label fallback applies
    // to a FIXED set of isolated nodes, resolved once (their label can
    // only ever be their own id)
    val voters = setupPin(edges.select(col("dst").as("v")).distinct())
    val isolated = nodes.join(voters, Seq("v"), "left_anti")
      .select(col("v"), col("v").as("label"))
    var labels = voters.select(col("v"), col("v").as("label"))
    var lastPinned: Option[DataFrame] = None
    // converge mode tracks the exact per-round CHANGED set (pinned): the
    // diff IS the fixpoint test (empty ⟺ fixed — strictly stronger than
    // the previous hash-sum signature, no collision caveat) and feeds the
    // next round's delta propagation
    val voterCount = if (converge) voters.count() else 0L
    var changedPrev: Option[DataFrame] = None
    var changedCount = -1L
    var rounds = 0
    var fixed  = false
    while (rounds < iterations && !fixed) {
      val i = rounds + 1
      // DELTA round (converge mode, late rounds): a node's vote multiset is
      // unchanged unless some neighbor changed label last round, and the
      // argmax is deterministic — so only dsts adjacent to the changed set
      // can move, and re-voting exactly those (against the FULL labels)
      // reproduces the full round bit-for-bit. Engaged once the changed set
      // is small (< 20% of voters): a delta round scans the pinned edge set
      // but exchanges only the changed-neighborhood's votes, where a full
      // round exchanges every vote — the late-round exchange volume on a
      // converging graph collapses with the frontier.
      val useDelta = converge && changedPrev.nonEmpty && changedCount * 5 < voterCount
      var roundPin: Option[DataFrame] = None
      // diff base for the converge probe: normally last round's labels; in a
      // BATCHED pair of full rounds, the intermediate round (see below)
      var diffBase = labels
      var batchedMid = false
      val next =
        if (useDelta) {
          val affected = Checkpoints.pin(
            edges.join(changedPrev.get, col("src") === col("cv"), "left_semi")
              .select(col("dst")).distinct(), eager = false)
          roundPin = Some(affected)
          val updated = edges
            .join(affected, Seq("dst"), "left_semi")
            .join(labels, col("src") === col("v"))
            .select(col("dst"), col("label"))
            .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
            .groupBy(col("dst"))
            .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("s"))
            .select(col("dst").as("v"), (-col("s.nl")).as("label"))
          updated.unionByName(
            labels.join(affected.select(col("dst").as("v")), Seq("v"), "left_anti"))
        } else {
          // Round-1 shortcut: labels are still the identity (label(v) = v
          // for every voter, and every edge src IS a voter by
          // symmetrization), so the votes join only exists to fetch what
          // round 1 already knows — the src itself. A projection of the
          // pinned edge table replaces a full edge⋈labels join;
          // bit-identical votes.
          def voteRound(lbls: DataFrame, first: Boolean) =
            (if (first) edges.select(col("dst"), col("src").as("label"))
             else edges.join(lbls, col("src") === col("v"))
               .select(col("dst"), col("label")))
              .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
              // every voter node receives >= 1 vote, so the argmax covers
              // all of them: a round reads its labels exactly once
              .groupBy(col("dst"))
              .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("s"))
              .select(col("dst").as("v"), (-col("s.nl")).as("label"))
          // Full-round phase of converge mode BATCHES two rounds per probe
          // (same rationale as pageRankIntWithRounds: identity rounds past
          // the fixpoint are free, probes are driver barriers). The
          // intermediate round is LAZILY PINNED — the probe's diff join
          // reads it as well as the final round's votes join, and across a
          // checkpoint boundary exchange reuse cannot dedup the recompute —
          // then released right after the probe materializes it.
          if (converge && rounds + 2 <= iterations) {
            val mid = Checkpoints.pin(voteRound(labels, i == 1), eager = false)
            roundPin = Some(mid)
            diffBase = mid
            batchedMid = true
            voteRound(mid, first = false)
          } else voteRound(labels, i == 1)
        }
      if (converge) {
        // CC's round shape: lazy pins; the changed-count probe is the
        // round's one action and materializes both as its side effect.
        // (The pageRankInt probe-fusion device — prev value carried through
        // the aggregate — was MEASURED here and reverted: LPA's argmax
        // needs a sentinel vote row per voter to ride the two-stage
        // aggregate, and pushing voter-sized sentinel rows through the
        // vote exchange cost more than the node-wide co-partitioned diff
        // join it replaced.)
        val pinned = Checkpoints.pin(next, eager = false)
        val chg = Checkpoints.pin(pinned.as("n")
          .join(diffBase.as("p"), col("n.v") === col("p.v"))
          .filter(col("n.label") =!= col("p.label"))
          .select(col("n.v").as("cv")), eager = false)
        changedCount = chg.count()
        fixed = changedCount == 0L
        lastPinned.foreach(Checkpoints.release)
        changedPrev.foreach(Checkpoints.release)
        roundPin.foreach(Checkpoints.release)
        changedPrev = Some(chg)
        lastPinned = Some(pinned)
        labels = pinned
      } else if (i < iterations && i % pinEvery == 0) {
        // pinEvery = cadence of lineage truncation, exactly as pageRankInt:
        // a short unroll (iterations <= pinEvery) runs as ONE job with no
        // mid-loop materialization barrier; lineage depth pinEvery is the
        // documented recovery bound
        val pinned = Checkpoints.pin(next)
        lastPinned.foreach(Checkpoints.release) // superseded round
        lastPinned = Some(pinned)
        labels = pinned
      } else labels = next // final round (and un-pinned rounds): lazy
      rounds = if (batchedMid) i + 1 else i // +1: the unprobed mid round
    }
    if (converge && !fixed)
      throw new IllegalStateException(
        s"labelPropagation did not reach a fixpoint in $iterations rounds — " +
          "synchronous LPA oscillates on bipartite structure; raise the " +
          "ceiling, or run with converge = false for fixed-round semantics")
    (labels.unionByName(isolated), rounds)
  }

  /** Exact triangle census of an undirected graph — the standard local-
    * clustering / community-density signal (e.g. grading how tightly a
    * near-duplicate or co-occurrence neighborhood is knit). Returns ONE row
    * `(n_nodes, n_edges, n_triangles)`.
    *
    * Input edges may contain duplicates, self-loops, or both directions;
    * they are canonicalized to distinct `a < b` pairs first.
    *
    * Scale shape: edges are ORIENTED from the lower (degree, id) endpoint
    * to the higher, then each triangle is found exactly once as an apex
    * vertex's out-wedge closed by an oriented edge. Out-degrees under this
    * orientation are bounded by O(sqrt(|E|)) on any graph (arboricity
    * bound), so the wedge join is bounded even when raw degrees are
    * pathologically skewed — the naive all-neighbors wedge join on a
    * celebrity node is exactly the quadratic blowup this avoids. All three
    * legs are equi-joins on node ids; nothing driver-side.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (und, deg, closed) = closedWedges(edges, srcCol, dstCol)
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Local clustering coefficient per node — `2·t(v) / (d(v)·(d(v)−1))`,
    * the fraction of a node's neighbor pairs that are themselves linked.
    * Nodes of degree < 2 are excluded (coefficient undefined); nodes whose
    * neighborhood closes no triangle report 0. Output
    * `(v, deg, triangles, coeff)` with `coeff` rounded to 4 decimals.
    * Same arboricity-bounded wedge machinery as [[triangleCounts]] — each
    * triangle surfaces once and credits all three corners.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (_, deg, closed) = closedWedges(edges, srcCol, dstCol)
    // one row per (triangle, corner) — same multiset as the older
    // union-of-three-projections, but as ONE pass over `closed`: the union
    // form expanded the full wedge-join subtree three times in the plan,
    // and ReuseExchange only dedups the shuffles BELOW the wedge join, so
    // the join + semi-probe (the operator's expensive stage) ran 3×
    // (measured round 19: the fix is most of q160's win there)
    val corners = closed.select(
      explode(array(col("u"), col("x"), col("y"))).as("v"))
    val tc = corners.groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.filter(col("deg") >= 2)
      .join(tc, Seq("v"), "left_outer")
      .select(col("v"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        graft.ops.Summaries.r4(
          coalesce(col("triangles"), lit(0L)) * 2.0 /
            (col("deg") * (col("deg") - 1))).as("coeff"))
  }

  /** Shared triangle core: canonical undirected edges, degrees, and the
    * closed out-wedges `(u, x, y)` — one row per triangle, `u` the
    * orientation apex and `x -> y` the closing oriented edge.
    *
    * Input edges may contain duplicates, self-loops, or both directions;
    * they are canonicalized to distinct `a < b` pairs first. Edges are
    * ORIENTED from the lower (degree, id) endpoint to the higher, so
    * out-degrees are bounded by O(sqrt(|E|)) on any graph (arboricity
    * bound) and the wedge join survives pathological degree skew; the
    * orientation is a total order, so exactly ONE of each wedge's two leg
    * orders has a closing edge — every triangle surfaces once, no /3
    * fixup. All legs are equi-joins on node ids; nothing driver-side.
    *
    * Block retention: `und` and `oriented` are lazily pinned and stay
    * referenced by every consumer's plan — a long-lived caller frees them
    * with [[Checkpoints.release]] on the consuming query's result after
    * its terminal action (release walks the plan to these pins).
    * (Measured and REJECTED in round 19: dropping both pins to fold their
    * construction barriers into the terminal action — the device that paid
    * off for pairOverlaps' pair graph — ran q149 0.88× / q160 0.91×:
    * the wedge machinery's three consumers are NOT exchange-identical
    * above the orientation joins, so the unpinned subtrees recompute
    * instead of reusing.)
    */
  private def closedWedges(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // three consumers (degree agg + both sides of the wedge machinery):
    // pin the canonical edge set instead of repeating the distinct
    val und = Checkpoints.pin(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct(), eager = false)
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val low = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = Checkpoints.pin(und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(low, col("a")).otherwise(col("b")).as("u"),
        when(low, col("b")).otherwise(col("a")).as("w")), eager = false)
    val wedges = oriented.select(col("u"), col("w").as("x"))
      .join(oriented.select(col("u"), col("w").as("y")), Seq("u"))
      .filter(col("x") =!= col("y"))
    val closed = wedges
      .join(oriented.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"), "left_semi")
    (und, deg, closed)
  }
}
