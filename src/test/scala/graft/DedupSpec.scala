package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run a scalacheck property deterministically under scalatest. */
  private def check(p: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(42L), p)
    assert(res.passed, res.status.toString)
  }

  test("keepLatest keeps the most recent row per key, ties broken deterministically") {
    val df = Seq(
      ("k1", "2024-01-02", 1), ("k1", "2024-01-03", 2), ("k1", "2024-01-03", 3),
      ("k2", "2024-01-01", 4)).toDF("k", "d", "id")
    val out = Dedup.keepLatest(df, Seq("k"), Seq("d"), Seq(col("id"))).orderBy("k")
    // tie at 2024-01-03 resolves to the LOWEST id (tie-break asc)
    assert(out.select("id").as[Int].collect().toSeq == Seq(2, 4))
  }

  test("topKPerGroup returns k rows per key in order") {
    val df  = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
    val out = Dedup.topKPerGroup(df, Seq("k"), Seq(col("v").desc), 2)
    assert(out.filter($"k" === "a").select("v").as[Int].collect().toSet == Set(3, 2))
    assert(out.filter($"k" === "b").count() == 1)
  }

  test("dedupByDigest keeps the lowest id per distinct content") {
    val df = Seq((10L, "same text"), (3L, "same text"), (7L, "other")).toDF("id", "txt")
    val out = Dedup.dedupByDigest(df, "txt", "id").select("id").as[Long].collect().toSet
    assert(out == Set(3L, 7L))
  }

  test("dedupByDigest: NULL content rows ALL pass through (null digest ≠ equal content)") {
    val df = Seq((10L, "same"), (3L, "same"), (7L, null.asInstanceOf[String]),
      (8L, null.asInstanceOf[String])).toDF("id", "txt")
    val out = Dedup.dedupByDigest(df, "txt", "id").select("id").as[Long].collect().toSet
    assert(out == Set(3L, 7L, 8L))
  }

  test("property: keepLatest ≤1 row/key, survivor has max recency + min tie-break, ⊆ input") {
    val gen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 5); d <- Gen.choose(0, 9); id <- Gen.choose(0, 1000)
    } yield (k, d, id))
    check(Prop.forAll(gen) { rows =>
      val df    = rows.toDF("k", "d", "id")
      val out   = Dedup.keepLatest(df, Seq("k"), Seq("d"), Seq(col("id"))).collect()
      val byKey = rows.groupBy(_._1)
      out.length == byKey.size && out.forall { r =>
        val (k, d, id) = (r.getInt(0), r.getInt(1), r.getInt(2))
        val grp = byKey(k)
        d == grp.map(_._2).max &&
          grp.contains((k, d, id)) &&
          id == grp.filter(_._2 == d).map(_._3).min // deterministic tie-break
      }
    })
  }

  test("property: union counts add (U1)") {
    val ints = Gen.listOf(Gen.choose(0, 100))
    check(Prop.forAll(ints, ints) { (a, b) =>
      val da = a.toDF("x"); val db = b.toDF("x")
      graft.ops.Ingest.unionAllByName(Seq(da, db)).count() == a.size + b.size
    }, n = 10)
  }

  test("upsert: updates replace, new keys insert, untouched rows pass through") {
    val current = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "v")
    val updates = Seq((2L, "b2", 21), (9L, "new", 90)).toDF("k", "s", "v")
    val out = Dedup.upsert(current, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (9L, "new", 90)))
  }

  test("upsert resolveBy reduces a multi-version increment to its latest") {
    val current = Seq((1L, "a", 10)).toDF("k", "s", "v")
    val updates = Seq((1L, "v1", 1), (1L, "v2", 2)).toDF("k", "s", "v")
    val out = Dedup.upsert(current, updates, Seq("k"), resolveBy = Some("v"))
      .orderBy("k").as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq((1L, "v2", 2)))
  }

  test("upsert's internal pin is freed by Checkpoints.release on the result") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val current = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "s", "v")
    val updates = Seq((2L, "b2", 21), (2L, "b3", 22)).toDF("k", "s", "v")
    val out = Dedup.upsert(current, updates, Seq("k"), resolveBy = Some("v"))
    out.count() // terminal action materializes the lazy pin
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "the resolved increment should be pinned after the action")
    graft.ops.Checkpoints.release(out)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "release(result) must walk the plan and free the internal pin")
  }

  test("dedupAgainstCorpus drops batch rows whose content the corpus already has") {
    val corpus = Seq((1L, "seen"), (2L, "also seen")).toDF("id", "txt")
    val batch  = Seq((10L, "seen"), (11L, "fresh"), (12L, null.asInstanceOf[String])).toDF("id", "txt")
    val kept = Dedup.dedupAgainstCorpus(batch, corpus, "txt")
      .select("id").as[Long].collect().toSet
    // null content has no digest → never "seen", kept (matches NOT EXISTS semantics)
    assert(kept == Set(11L, 12L))
  }

  test("connectedComponents labels a chain and a separate pair correctly") {
    // chain 1-2-3 (transitive closure spans >1 hop) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: reliable-checkpoint path matches localCheckpoint") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 5L), (5L, 3L)).toDF("a", "b")
    val (local, reliable, wrote) = TestSpark.localAndReliable(
      Dedup.connectedComponents(pairs, "a", "b").as[(Long, Long)].collect().toMap)
    assert(reliable == local)
    assert(wrote > 0, "reliable checkpoint wrote no files")
  }

  test("connectedComponents fails loudly when maxIter is too small for the diameter") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(chain, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain resolves to one component
    val ok = Dedup.connectedComponents(chain, "a", "b").as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("nearDupSurvivors keeps exactly the min id per cluster; dropNearDups removes the rest") {
    val pairs = Seq((5L, 2L), (2L, 9L)).toDF("doc_a", "doc_b")
    val surv = Dedup.nearDupSurvivors(pairs, "doc_a", "doc_b")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(surv == Set((2L, 2L, true), (5L, 2L, false), (9L, 2L, false)))
    val docs = Seq(1L, 2L, 5L, 9L, 42L).toDF("doc_id") // 1 and 42 in no pair
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs, "doc_a", "doc_b")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 42L))
  }

  test("property: connectedComponents on random graphs — every cluster keeps exactly its min id") {
    val gen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 20L); b <- Gen.choose(0L, 20L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(gen) { edges =>
      val out = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // reference union-find on the driver
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want  = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }
      out == want
    }, n = 10)
  }

  test("property: connectedComponentsStar agrees with min-label propagation on random graphs") {
    val gen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 20L); b <- Gen.choose(0L, 20L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(gen) { edges =>
      val df   = edges.toDF("a", "b")
      val star = Dedup.connectedComponentsStar(df, "a", "b").as[(Long, Long)].collect().toMap
      val prop = Dedup.connectedComponents(df, "a", "b").as[(Long, Long)].collect().toMap
      star == prop
    }, n = 8)
  }

  test("dropNearDups(useStar = true) dedups a long chain end to end") {
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("a", "b")
    val docs  = (0L to 121L).toDF("doc_id") // 121 is in no pair
    val kept = Dedup.dropNearDups(docs, "doc_id", chain, "a", "b", useStar = true)
      .as[Long].collect().toSet
    assert(kept == Set(0L, 121L)) // whole chain is one cluster keeping its min
  }

  test("connectedComponentsStar handles a chain whose diameter defeats label propagation") {
    // a 120-hop chain: min-label propagation needs ~120 rounds (> its default
    // maxIter of 50); star alternation converges in O(log² n)
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b").collect()
    }
    val out = Dedup.connectedComponentsStar(chain, "a", "b")
      .as[(Long, Long)].collect()
    assert(out.length == 121 && out.forall(_._2 == 0L))
  }

  test("property: normCol matches a reference reimplementation on arbitrary strings") {
    def ref(s: String): String = s.trim
      .replaceAll("[^0-9A-Za-z]+", "_").replaceAll("_+", "_")
      .replaceAll("^_|_$", "").toLowerCase
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      graft.ops.Clean.normCol(s) == ref(s)
    }, n = 200)
  }
}
