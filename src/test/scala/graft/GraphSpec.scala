package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRankInt: hand-computed integer masses on a 3-node graph") {
    // a->b, b->a, c->a; all out-degrees 1
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a")).toDF("s", "t")
    val out = Graph.pageRankInt(edges, "s", "t", iterations = 2)
      .as[(String, Long)].collect().toMap
    // it1: a = 150000 + 850000(b) + 850000(c) = 1850000; b = 1000000; c = 150000
    // it2: a = 150000 + 850000(b) + 127500(c) = 1127500
    //      b = 150000 + (1850000*85) DIV 100 = 1722500; c = 150000
    assert(out == Map("a" -> 1127500L, "b" -> 1722500L, "c" -> 150000L))
  }

  test("pageRankInt is partitioning-independent (exact integer masses)") {
    val pairs = (1L to 200L).map(i => (s"n$i", s"n${i * 7 % 200 + 1}")).distinct
    val e1 = pairs.toDF("s", "t")
    val e2 = e1.repartition(13)
    val r1 = Graph.pageRankInt(e1, "s", "t", 3).as[(String, Long)].collect().toSeq
    val r2 = Graph.pageRankInt(e2, "s", "t", 3).as[(String, Long)].collect().toSeq
    assert(r1 == r2)
  }

  test("pageRankInt and triangleCounts pins are freed by Checkpoints.release on the result") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("s", "t")
    val pr = Graph.pageRankInt(edges, "s", "t", iterations = 2) // < pinEvery sweep: setup pins stay live
    pr.count()
    val tc = Graph.triangleCounts(edges, "s", "t")
    tc.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "setup artifacts should be pinned after the actions")
    graft.ops.Checkpoints.release(pr)
    graft.ops.Checkpoints.release(tc)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "release(result) must free the edge-table / canonical-edge pins")
  }

  test("triangleCounts: canonicalizes dup/reversed/self-loop edges, counts each triangle once") {
    // K4 on {1,2,3,4} (4 triangles) plus a pendant node 5 and noise:
    // duplicates, reversed duplicates, and a self-loop
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), (1L, 2L), // reversed + repeated
      (4L, 5L),                     // pendant: no new triangle
      (3L, 3L)                      // self-loop: dropped
    ).toDF("s", "t")
    val r = Graph.triangleCounts(edges, "s", "t").as[(Long, Long, Long)].head()
    assert(r == ((5L, 7L, 4L)))
  }

  test("clusteringCoefficients: K4 corners close fully, the pendant-attached node half, degree-1 excluded") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)
    ).toDF("s", "t")
    val r = Graph.clusteringCoefficients(edges, "s", "t")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 3L, 3L, 1.0)) && r(2L) == ((2L, 3L, 3L, 1.0)) &&
      r(3L) == ((3L, 3L, 3L, 1.0)), "K4-internal nodes: every neighbor pair linked")
    assert(r(4L) == ((4L, 4L, 3L, 0.5)), "node 4: 3 of its C(4,2)=6 neighbor pairs linked")
    assert(!r.contains(5L), "degree-1 node has no defined coefficient")
  }

  test("triangleCounts: triangle-free bipartite graph yields zero") {
    val edges = (for { l <- 1L to 10L; r <- 101L to 105L } yield (l, r)).toDF("s", "t")
    val r = Graph.triangleCounts(edges, "s", "t").as[(Long, Long, Long)].head()
    assert(r == ((15L, 50L, 0L)))
  }

  test("triangleCounts: degree-ordered census equals brute force on pseudo-random graphs") {
    // deterministic LCG edge streams over 12 nodes — exercises dup edges,
    // high-degree hubs, and disconnected remnants across 5 graph shapes
    (1 to 5).foreach { seed =>
      var x = seed.toLong
      def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; x }
      val raw = Seq.fill(30)((nxt() % 12, nxt() % 12))
      val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      val adj = und.toSet
      val nodes = und.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val brute = (for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if adj((i, j)) && adj((j, k)) && adj((i, k))
      } yield 1).size.toLong
      val r = Graph.triangleCounts(raw.toDF("s", "t"), "s", "t")
        .as[(Long, Long, Long)].head()
      assert(r._3 == brute, s"seed $seed: census ${r._3} vs brute $brute")
      assert(r._2 == und.size.toLong, s"seed $seed: edge count")
    }
  }

  test("pageRankInt: reliable-checkpoint path matches localCheckpoint bit-for-bit") {
    val edges = (1L to 100L).map(i => (s"n$i", s"n${i * 3 % 100 + 1}")).distinct.toDF("s", "t")
    val (local, reliable, wrote) = TestSpark.localAndReliable(
      Graph.pageRankInt(edges, "s", "t", 3).as[(String, Long)].collect().toSeq)
    assert(reliable == local)
    assert(wrote > 0, "reliable checkpoint wrote no files")
  }

  test("labelPropagation matches an in-memory reference (sync rounds, min-label ties)") {
    // two triangles joined by a bridge, a pendant, and a self-loop-only
    // node — exercises ties, asymmetric degrees, cross-community pull, and
    // the keep-own-label contract for nodes with no proper neighbors
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L), (12L, 20L), (30L, 30L))
    def reference(iters: Int): Map[Long, Long] = {
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val adj = (pairs ++ pairs.map(_.swap)).filter(p => p._1 != p._2)
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var labels = nodes.map(v => v -> v).toMap
      (1 to iters).foreach { _ =>
        labels = nodes.map { v =>
          adj.get(v) match {
            case Some(ns) =>
              val votes = ns.groupBy(labels).view.mapValues(_.size)
              v -> votes.toSeq.map { case (l, c) => (-c, l) }.min._2
            case None => v -> labels(v) // self-loop-only: keeps its label
          }
        }.toMap
      }
      labels
    }
    for (iters <- Seq(1, 2, 3); pinEvery <- Seq(1, 3)) {
      val got = Graph.labelPropagation(pairs.toDF("a", "b"), "a", "b", iters,
          pinEvery = pinEvery)
        .as[(Long, Long)].collect().toMap
      assert(got == reference(iters), s"diverged at $iters iterations (pinEvery=$pinEvery)")
    }
  }

  test("labelPropagation converge=true halts at the fixpoint round, loudly refuses oscillators") {
    // A triangle fixpoints fast: round k's labels equal round k-1's, and
    // the signature halts the loop there — NOT at the iteration ceiling.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val (labels, rounds) = Graph.labelPropagationWithRounds(
      tri, "a", "b", iterations = 20, converge = true)
    assert(labels.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(rounds < 20, s"must halt at the fixpoint, ran $rounds rounds")
    // ...and the converged answer equals the fixed-round answer at any
    // later round count (a fixpoint by definition)
    val fixed = Graph.labelPropagation(tri, "a", "b", 6, pinEvery = 3)
      .as[(Long, Long)].collect().toMap
    assert(fixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // A 2-node path oscillates under synchronous LPA — the labels SWAP
    // every round (which a label-multiset signature would miss; the
    // (v, label) pair hash does not) — so converge must throw rather than
    // return a labeling the caller believed final.
    val osc = Seq((1L, 2L)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Graph.labelPropagation(osc, "a", "b", 6, converge = true).collect())
    assert(e.getMessage.contains("did not reach a fixpoint"))
    // fixed-round semantics stay available for the same graph
    assert(Graph.labelPropagation(osc, "a", "b", 2)
      .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 2L))
  }

  test("pageRankInt converge=true halts at the integer-mass fixpoint; result ≡ fixed-round") {
    // A DAG (k -> k/10 digit chain over 1..300) stabilizes level by level:
    // depth(300) = 3, so the exact fixpoint lands within a handful of
    // rounds — far below the ceiling — and frontier rounds engage once the
    // changed set collapses under 20% of the nodes.
    val edges = (1L to 300L).map(k => (k, k / 10)).toDF("s", "t")
    val (ranks, rounds) = Graph.pageRankIntWithRounds(
      edges, "s", "t", iterations = 100, converge = true)
    val got = ranks.as[(Long, Long)].collect().toSeq
    assert(rounds < 100 && rounds >= 3, s"expected an early fixpoint halt, ran $rounds")
    // converged masses ≡ the fixed-round unroll at the same round count
    // (and at any LATER count — a fixpoint by definition)
    val fixedSame = Graph.pageRankInt(edges, "s", "t", iterations = rounds, pinEvery = 5)
      .as[(Long, Long)].collect().toSeq
    assert(got == fixedSame, "converge (delta rounds included) must equal the full unroll")
    val fixedLater = Graph.pageRankInt(edges, "s", "t",
        iterations = math.min(rounds + 3, 20), pinEvery = 5)
      .as[(Long, Long)].collect().toSeq
    assert(got == fixedLater, "rounds past the fixpoint must be the identity")
    // ... and the fixpoint property holds pointwise: one more hand round
    // from the converged masses reproduces them (spot-check the root chain)
    val m = got.toMap
    assert(m(0L) == 150000L + (1L to 9L).map(k => m.getOrElse(k, 0L) * 85 / 100).sum)
  }

  test("pageRankInt converge=true throws loudly at the ceiling on a non-quantizing graph") {
    // An ASYMMETRIC cycle (a->b->c->a plus a->c): the uniform start is far
    // from the fixpoint and the transient decays at 0.85/round — dozens of
    // rounds before the integer masses quantize, so a ceiling of 3 must
    // throw, never return non-converged. (A symmetric 2-cycle would NOT
    // do: uniform mass is already its exact fixpoint.)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("s", "t")
    val e = intercept[IllegalStateException](
      Graph.pageRankIntWithRounds(edges, "s", "t", iterations = 3, converge = true)
        ._1.collect())
    assert(e.getMessage.contains("fixpoint"))
  }

  test("converge-mode delta rounds ≡ full rounds (frontier under 20% of voters)") {
    // K6 plus a pendant-free second clique: round 1 changes every node,
    // round 2 changes exactly the two min-id nodes (2 of 12 voters = 17%
    // < 20% — the delta threshold engages), round 3 runs as a DELTA round
    // and detects the fixpoint. The delta path must reproduce the full
    // fixed-round labeling bit-for-bit and still report the halt round.
    val k6a = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val k6b = for (a <- 11L to 16L; b <- (a + 1) to 16L) yield (a, b)
    val df  = (k6a ++ k6b ++ Seq((30L, 30L))).toDF("a", "b") // + self-loop-only node
    val (labels, rounds) = Graph.labelPropagationWithRounds(
      df, "a", "b", iterations = 20, converge = true)
    val got = labels.as[(Long, Long)].collect().toMap
    // cliques collapse to their min id; the self-loop node keeps its own
    val expect = ((1L to 6L).map(_ -> 1L) ++ (11L to 16L).map(_ -> 11L) :+ (30L -> 30L)).toMap
    assert(got == expect)
    assert(rounds == 3, s"expected fixpoint detected at round 3, got $rounds")
    // delta ≡ full: the fixed-round form at the same round count agrees
    val full = Graph.labelPropagation(df, "a", "b", rounds, pinEvery = 3)
      .as[(Long, Long)].collect().toMap
    assert(full == got)
  }
}
