package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Summaries

class SummariesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(42L), p)
    assert(res.passed, res.status.toString)
  }

  // ties, an exact-rank hit, and nulls — the cases where interpolated
  // quantile implementations diverge
  private lazy val mixed = Seq[(java.lang.Double, java.lang.Double)](
    (1.0, 10.0), (1.0, 10.0), (2.5, 10.0), (2.5, 20.0), (3.0, 20.0),
    (7.25, 30.0), (7.25, null), (9.0, null), (11.5, 40.0), (100.0, 40.0)
  ).toDF("x", "y")

  test("exactQuantileArrays is bit-identical to built-in percentile (ties, nulls, multi-col)") {
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val mine = Summaries.exactQuantileArrays(mixed,
      Seq(("x", ps, "cx"), ("y", ps, "cy"))).collect()(0)
    val ref = mixed.agg(
      expr(s"percentile(x, array(${ps.mkString(",")}))"),
      expr(s"percentile(y, array(${ps.mkString(",")}))")).collect()(0)
    assert(mine.getSeq[Double](0) == ref.getSeq[Double](0))
    assert(mine.getSeq[Double](1) == ref.getSeq[Double](1))
  }

  test("exactQuantileArrays yields NULL cuts for an all-null column, like percentile") {
    val allNull = Seq[(java.lang.Double, java.lang.Double)]((null, 1.0), (null, 2.0))
      .toDF("x", "y")
    val row = Summaries.exactQuantileArrays(allNull,
      Seq(("x", Seq(0.5), "cx"), ("y", Seq(0.5), "cy"))).collect()(0)
    assert(row.isNullAt(0))
    assert(row.getSeq[Double](1) == Seq(1.5))
  }

  test("mergeAggStates(state(a), state(b)) equals aggState(a union b)") {
    val a = Seq(("x", 1.0), ("x", 3.0), ("y", 10.0)).toDF("k", "v")
    val b = Seq(("x", 2.0), ("z", -5.0), ("y", 0.5)).toDF("k", "v")
    val merged = Summaries.mergeAggStates(
      Summaries.aggState(a, Seq("k"), Seq("v")),
      Summaries.aggState(b, Seq("k"), Seq("v")), Seq("k"), Seq("v"))
      .orderBy("k").collect().map(_.toSeq)
    val full = Summaries.aggState(a.unionByName(b), Seq("k"), Seq("v"))
      .orderBy("k").collect().map(_.toSeq)
    assert(merged.toSeq == full.toSeq)
  }

  test("property: exactQuantileArrays matches built-in percentile on random data") {
    // duplicates and a bounded value domain force tie/straddle cases
    val vals = Gen.nonEmptyListOf(Gen.choose(0, 30).map(_ * 0.5))
    val ps   = Gen.nonEmptyListOf(Gen.choose(0, 100).map(_ / 100.0)).map(_.distinct)
    check(Prop.forAll(vals, ps) { (vs, qs) =>
      val df   = vs.map(Tuple1(_)).toDF("v")
      val mine = Summaries.exactQuantileArrays(df, Seq(("v", qs, "c")))
        .collect()(0).getSeq[Double](0)
      val ref = df.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
        .collect()(0).getSeq[Double](0)
      mine == ref
    }, n = 15)
  }

  test("property: mergeAggStates is split-invariant (any 2-way split = full build)") {
    val rows = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 4); v <- Gen.choose(-50, 50)
    } yield (s"k$k", v.toDouble))
    val cut = Gen.choose(0, 100)
    check(Prop.forAll(rows, cut) { (rs, c) =>
      val (a, b) = rs.splitAt(rs.size * c / 100)
      def state(xs: List[(String, Double)]) =
        Summaries.aggState(xs.toDF("k", "v"), Seq("k"), Seq("v"))
      val merged =
        if (a.isEmpty) state(b) else if (b.isEmpty) state(a)
        else Summaries.mergeAggStates(state(a), state(b), Seq("k"), Seq("v"))
      val full = state(rs)
      merged.orderBy("k").collect().map(_.toSeq).toSeq ==
        full.orderBy("k").collect().map(_.toSeq).toSeq
    }, n = 15)
  }

  test("distinctState merge is lossless: merged sketches estimate like the full build") {
    val a = (1 to 800).map(i => ("g" + i % 3, i % 97)).toDF("k", "v")
    val b = (500 to 1500).map(i => ("g" + i % 3, i % 131)).toDF("k", "v")
    val merged = Summaries.distinctEstimate(Summaries.mergeDistinctStates(
      Summaries.distinctState(a, Seq("k"), "v"),
      Summaries.distinctState(b, Seq("k"), "v"), Seq("k")))
      .select("k", "n_distinct_est").as[(String, Long)].collect().toMap
    val full = Summaries.distinctEstimate(
      Summaries.distinctState(a.unionByName(b), Seq("k"), "v"))
      .select("k", "n_distinct_est").as[(String, Long)].collect().toMap
    assert(merged == full) // register-wise union == sketch of the union
    val exact = a.unionByName(b).groupBy("k").agg(countDistinct($"v").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) => // estimate quality on a small domain
      assert(math.abs(merged(k) - n) <= math.max(2L, (n * 0.05).toLong), s"$k: ${merged(k)} vs $n")
    }
  }

  test("quantileBins matches chained single-column quantileBin and keeps NULL bins") {
    val multi = Summaries.quantileBins(mixed, Seq(("x", 4, "bx"), ("y", 4, "by")))
      .select("x", "y", "bx", "by").collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
    val chained = Summaries.quantileBin(
      Summaries.quantileBin(mixed, "x", 4, "bx"), "y", 4, "by")
      .select("x", "y", "bx", "by").collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
    assert(multi.sortBy(_.toString) sameElements chained.sortBy(_.toString))
    assert(multi.filter(_._2 == null).forall(_._4 == null)) // null value → null bin
  }

  test("quantileBins at 1024 bins stays in whole-stage codegen and counts cuts <= v " +
      "under Spark's double ordering") {
    // duplicates, both zeros, NaN (largest in Spark's ordering) and NULL
    val vs: Seq[Option[Double]] = (0 until 3000).map(i => Some((i * 7919 % 2999) / 7.0)) ++
      Seq(Some(-0.0), Some(0.0), Some(Double.NaN), Some(Double.NaN), None)
    val df = vs.toDF("v")
    val key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false") // a method past 64 KB now fails instead of running unfused
    val got = try {
      Summaries.quantileBin(df, "v", 1024).select("v", "bin")
        .as[(Option[Double], Option[Int])].collect()
    } finally spark.conf.unset(key)
    val cuts = Summaries.exactQuantileArrays(df,
        Seq(("v", (1 until 1024).map(_ / 1024.0), "c")))
      .select("c").as[Seq[Double]].head()
    def rank(v: Double) = cuts.count(c =>
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(c, v) <= 0)
    assert(got.length == vs.length)
    for ((v, bin) <- got) assert(bin == v.map(rank), s"v=$v")
    assert(got.exists(_._2.contains(1023)), "NaN rows rank past every finite cut")
  }

  test("categoryDrift: PSI terms on shared categories only, zero when unchanged") {
    import spark.implicits._
    val ref = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).map(Tuple1(_)).toDF("lang")
    val cur = (Seq.fill(12)("a") ++ Seq.fill(4)("b") ++ Seq.fill(4)("c"))
      .map(Tuple1(_)).toDF("lang")
    val out = graft.ops.Summaries.categoryDrift(ref, cur, "lang")
      .select("lang", "p_ref", "p_cur", "psi_term")
      .as[(String, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains("c")) // one-sided category: excluded by contract
    assert(out("a")._2 == 0.5 && out("a")._3 == 0.6)
    assert(math.abs(out("a")._4 - 0.1 * math.log(0.6 / 0.5)) < 1e-12)
    assert(math.abs(out("b")._4 - (-0.3) * math.log(0.2 / 0.5)) < 1e-12)
    assert(out("b")._4 > 0) // drift in either direction scores positive
    // identical snapshots: every term is exactly zero
    val zero = graft.ops.Summaries.categoryDrift(ref, ref, "lang")
      .select("psi_term").as[Double].collect()
    assert(zero.forall(_ == 0.0))
  }

  test("categoryDrift treats NULL as a real category when present in both snapshots") {
    import spark.implicits._
    val ref = (Seq.fill(9)(Option("a")) ++ Seq.fill(1)(Option.empty[String]))
      .map(Tuple1(_)).toDF("lang")
    val cur = (Seq.fill(4)(Option("a")) ++ Seq.fill(6)(Option.empty[String]))
      .map(Tuple1(_)).toDF("lang")
    val out = graft.ops.Summaries.categoryDrift(ref, cur, "lang")
      .select("lang", "p_ref", "p_cur", "psi_term")
      .as[(Option[String], Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // the tag-loss scenario: NULL share 10% → 60% must surface as drift
    assert(out.contains(None))
    assert(out(None)._2 == 0.1 && out(None)._3 == 0.6)
    assert(math.abs(out(None)._4 - 0.5 * math.log(6.0)) < 1e-12)
  }

  test("gapFillInterpolate fills interior gaps linearly, never extrapolates") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1: days 1, 4 observed (10, 40) → days 2, 3 interpolated 20, 30
    // key 2: single observation → single row, no fill
    val df = Seq(
      (1L, ts("2024-01-01 05:00:00"), 10.0),
      (1L, ts("2024-01-04 19:00:00"), 40.0),
      (2L, ts("2024-02-01 00:00:00"), 7.0)).toDF("k", "ts", "v")
    val out = graft.ops.Summaries.gapFillInterpolate(df, "k", "ts", col("v"))
      .orderBy("k", "bucket")
      .as[(Long, java.sql.Timestamp, Double, Boolean)].collect().toSeq
    assert(out.map(r => (r._1, r._3, r._4)) == Seq(
      (1L, 10.0, false), (1L, 20.0, true), (1L, 30.0, true), (1L, 40.0, false),
      (2L, 7.0, false)))
    // grid spans observed min..max only — 4 rows for key 1, 1 for key 2
    assert(out.map(_._1).groupBy(identity).view.mapValues(_.size).toMap ==
      Map(1L -> 4, 2L -> 1))
  }

  test("groupTrend recovers an exact linear relation; constant x yields NULLs") {
    val pts = (0 to 10).map(x => ("up", x, 2.5 * x + 1.0)) ++
      (0 to 5).map(_ => ("flat", 3, 9.9))
    val out = graft.ops.Summaries.groupTrend(pts.toDF("g", "x", "y"), "g", col("x"), col("y"))
      .as[(String, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out("up") == (("up", 11L, Some(2.5), Some(1.0))))
    assert(out("flat") == (("flat", 6L, None, None))) // undefined fit, not Inf/NaN
  }

  test("mutualInfoCells: independent columns → ~0 terms; dependent → ln 2 total") {
    // perfectly dependent: a == b over two symbols, 4 rows each
    val dep = (Seq.fill(4)(("x", "x")) ++ Seq.fill(4)(("y", "y"))).toDF("a", "b")
    val depOut = graft.ops.Summaries.mutualInfoCells(dep, "a", "b")
      .as[(String, String, Long, Double)].collect()
    assert(math.abs(depOut.map(_._4).sum - math.log(2.0)) < 1e-5)
    // independent uniform 2×2: every term 0
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")).toDF("a", "b")
    val indOut = graft.ops.Summaries.mutualInfoCells(ind, "a", "b")
      .as[(String, String, Long, Double)].collect()
    assert(indOut.forall(_._4 == 0.0))
  }

  test("ewmaLast folds in (ts, tieBreak) order from the first observation") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:00:02"), 3L, 8.0),
      (1L, ts("2024-01-01 00:00:01"), 2L, 4.0), // order: 4, 8 (by ts)
      (2L, ts("2024-01-01 00:00:01"), 1L, 5.0)).toDF("k", "ts", "eid", "v")
    val out = graft.ops.Summaries.ewmaLast(df, "k", "ts", col("v"), 0.75, "eid")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((2L, 0.75 * 4.0 + 0.25 * 8.0))) // 5.0
    assert(out(2L) == ((1L, 5.0)))                      // single point = itself
  }

  test("gapFillInterpolate aggregates multiple observations per bucket first") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 05:00:00"), 1.5),
      (1L, ts("2024-01-01 23:00:00"), 2.5),
      (1L, ts("2024-01-03 00:00:00"), 8.0)).toDF("k", "ts", "v")
    val out = graft.ops.Summaries.gapFillInterpolate(df, "k", "ts", col("v"))
      .orderBy("bucket").as[(Long, java.sql.Timestamp, Double, Boolean)].collect()
    assert(out.map(_._3).toSeq == Seq(4.0, 6.0, 8.0)) // day1 sums to 4.0
  }

  test("keySkewReport ranks heavy keys with share and skew vs the mean") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(1)("c")).toDF("k")
    val out = Summaries.keySkewReport(df, "k", 2)
      .as[(String, Long, Double, Double)].collect().toSeq
    // mean count = 10/3; a: share .6, skew 6*3/10 = 1.8
    assert(out == Seq(("a", 6L, 0.6, 1.8), ("b", 3L, 0.3, 0.9)))
  }

  test("rankAuc: perfect separation is 1, ties midranked, degenerate NULL") {
    val df = Seq(
      // g1: positives strictly above negatives -> AUC 1
      ("g1", true, 10.0), ("g1", true, 9.0), ("g1", false, 1.0), ("g1", false, 2.0),
      // g2: all four tied -> AUC 0.5 by midranks
      ("g2", true, 5.0), ("g2", true, 5.0), ("g2", false, 5.0), ("g2", false, 5.0),
      // g3: no negatives -> NULL
      ("g3", true, 1.0)).toDF("g", "y", "s")
    val out = Summaries.rankAuc(df, "g", col("y"), col("s"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("g1").contains(1.0))
    assert(out("g2").contains(0.5))
    assert(out("g3").isEmpty)
  }

  test("ksDrift: identical samples give 0, disjoint supports give 1") {
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(1.0, 2.0, 3.0).toDF("v")
    val same = Summaries.ksDrift(a, b, col("v")).as[(Long, Long, Double)].head()
    assert(same == ((3L, 3L, 0.0)))
    val c = Seq(10.0, 11.0).toDF("v")
    val disjoint = Summaries.ksDrift(a, c, col("v")).as[(Long, Long, Double)].head()
    assert(disjoint == ((3L, 2L, 1.0)))
  }

  test("chiSquareCells emits the full grid including unseen combinations") {
    val df = Seq(("en", "web"), ("en", "web"), ("fr", "book")).toDF("lang", "src")
    val out = Summaries.chiSquareCells(df, "lang", "src")
      .as[(String, String, Long, Double, Double)].collect()
    assert(out.length == 4) // 2 langs x 2 sources; (en,book) and (fr,web) unseen
    val cells = out.map(r => (r._1, r._2) -> r._3).toMap
    assert(cells(("en", "book")) == 0L && cells(("fr", "web")) == 0L)
    // (fr,book): observed 1, expected 1*1/3; term = (1-1/3)^2/(1/3) = 4/3
    val frBook = out.find(r => r._1 == "fr" && r._2 == "book").get
    assert(math.abs(frBook._5 - 4.0 / 3.0) < 1e-5)
  }

  test("chiSquareCells attaches NULL-category counts to their grid cell") {
    val df = Seq((Some("en"), "web"), (Option.empty[String], "web")).toDF("lang", "src")
    val out = Summaries.chiSquareCells(df, "lang", "src")
      .as[(Option[String], String, Long, Double, Double)].collect()
    // NULL lang is a real category: observed must be 1, not an orphaned 0
    val nullCell = out.find(_._1.isEmpty).get
    assert(nullCell._3 == 1L)
    assert(out.map(_._3).sum == 2L) // sum(observed) == N
  }

  test("transitionMatrix excludes NULL-timestamp events from sequences") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, Option.empty[java.sql.Timestamp], 1L, "x"), // unknown position: dropped
      (1L, Some(ts("2024-01-01 00:00:01")), 2L, "a"),
      (1L, Some(ts("2024-01-01 00:00:02")), 3L, "b")).toDF("u", "ts", "eid", "st")
    val out = Summaries.transitionMatrix(df, "u", "ts", "st", "eid")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(("a", "b", 1L, 1.0))) // no x->a phantom step
  }

  test("transitionMatrix counts ordered steps and row-normalizes") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "a"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "b"),
      (1L, ts("2024-01-01 00:00:03"), 3L, "a"),
      (2L, ts("2024-01-01 00:00:01"), 4L, "a"),
      (2L, ts("2024-01-01 00:00:02"), 5L, "c")).toDF("u", "ts", "eid", "st")
    val out = Summaries.transitionMatrix(df, "u", "ts", "st", "eid")
      .as[(String, String, Long, Double)].collect().toSeq
    // from a: a->b once, a->c once (p 0.5 each); from b: b->a once (p 1)
    assert(out == Seq(("a", "b", 1L, 0.5), ("a", "c", 1L, 0.5), ("b", "a", 1L, 1.0)))
  }

  test("sessionizeBatch splits on gap > threshold, keeps gap == threshold open") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:30:00"), 2L), // gap 1800 == threshold: same session
      (1L, ts("2024-01-01 01:00:01"), 3L), // gap 1801 > threshold: new session
      (2L, ts("2024-01-01 00:00:00"), 4L)).toDF("u", "ts", "eid")
    val out = graft.ops.Summaries.sessionizeBatch(df, "u", "ts", 1800, "eid")
      .select(col("u"), col("session_id"), col("n_events"), col("duration_s"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, 1800L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("liftTable: a perfectly ranked label concentrates capture in bin 1") {
    // 10 rows, 2 positives with the highest scores -> bin1 rate 1.0, lift 5
    val df = (1 to 10).map(i => (i.toLong, 11.0 - i, i <= 2)).toDF("id", "s", "y")
    val out = Summaries.liftTable(df, col("y"), col("s"), "id", 5)
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.head == ((1, 2L, 2L, 1.0, 1.0, 5.0)))
    assert(out.map(_._2).sum == 10L)
    assert(out.last._5 == 1.0) // cumulative capture ends at 1
  }

  test("timeWeightedAvg weights by holding time; single-obs keys omitted") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 10.0), // holds 10 s
      (1L, ts("2024-01-01 00:00:10"), 2L, 20.0), // holds 30 s
      (1L, ts("2024-01-01 00:00:40"), 3L, 99.0), // last obs: no interval
      (2L, ts("2024-01-01 00:00:00"), 4L, 7.0)). // single obs
      toDF("u", "ts", "eid", "v")
    val out = Summaries.timeWeightedAvg(df, "u", "ts", col("v"), "eid")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 40L, Some((10.0 * 10 + 20.0 * 30) / 40)))) // 17.5
  }
}
