package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TxTable

/** The atomic-commit contract: a reader never sees partial state, replays
  * are skipped per checkpoint guard, and GC keeps one snapshot of grace for
  * in-flight readers.
  */
class TxTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def base() = Tables.targetPath(s"tmp/tx_${System.nanoTime()}")

  private def readSum(root: String, table: String = TxTable.SingleTable) = {
    import spark.implicits._
    TxTable.read(spark, root, table)
      .agg(org.apache.spark.sql.functions.sum("v")).as[Long].head()
  }

  test("replace/append fold in order; replay of an applied batch is skipped") {
    import spark.implicits._
    val root = base()
    assert(!TxTable.exists(spark, root))
    assert(TxTable.replace(spark, root, Seq(1L, 2L).toDF("v"), guard = "q-A", batchId = 0L))
    assert(readSum(root) == 3L)
    // at-least-once replay of batch 0 under the same guard: no-op
    assert(!TxTable.replace(spark, root, Seq(100L).toDF("v"), guard = "q-A", batchId = 0L))
    assert(readSum(root) == 3L)
    // genuine next batch appends
    assert(TxTable.append(spark, root, Seq(10L).toDF("v"), guard = "q-A", batchId = 1L))
    assert(readSum(root) == 13L)
    // a replace resets the dir list — appends before it no longer contribute
    assert(TxTable.replace(spark, root, Seq(7L).toDF("v"), guard = "q-A", batchId = 2L))
    assert(readSum(root) == 7L)
  }

  test("guard reset: a recreated checkpoint's restarted batch ids still apply") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(1L).toDF("v"), guard = "q-A", batchId = 0L)
    TxTable.append(spark, root, Seq(2L).toDF("v"), guard = "q-A", batchId = 1L)
    assert(readSum(root) == 3L)
    // checkpoint recreated: fresh guard, ids restart at 0 — must APPLY
    assert(TxTable.append(spark, root, Seq(10L).toDF("v"), guard = "q-B", batchId = 0L))
    assert(readSum(root) == 13L)
    // and the new guard's own replay protection works from there
    assert(!TxTable.append(spark, root, Seq(100L).toDF("v"), guard = "q-B", batchId = 0L))
    assert(readSum(root) == 13L)
    // the high-water mark is per-guard over the WHOLE log: q-A's id 1 is
    // still remembered even though q-B committed since
    assert(!TxTable.append(spark, root, Seq(100L).toDF("v"), guard = "q-A", batchId = 1L))
    assert(readSum(root) == 13L)
  }

  test("mid-commit crash: staged-but-uncommitted data is invisible; retry completes") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(1L, 2L).toDF("v"), guard = "q-A", batchId = 0L)
    // simulate a crash AFTER staging batch 1's data but BEFORE the manifest
    // rename: stage directly, write no commit file
    TxTable.stage(root, 2L, 0, TxTable.SingleTable, Seq(1L, 2L, 10L).toDF("v"))
    // a concurrent reader sees exactly the committed snapshot — the staged
    // dir is not referenced by any manifest
    assert(readSum(root) == 3L)
    assert(TxTable.lastApplied(spark, root, "q-A") == 0L)
    // the replayed attempt stages afresh (unique writer token) and commits;
    // state moves atomically to the new snapshot
    assert(TxTable.replace(spark, root, Seq(1L, 2L, 10L).toDF("v"), guard = "q-A", batchId = 1L))
    assert(readSum(root) == 13L)
    // vacuum with no writer active (olderThanMs=0) reclaims the crashed
    // attempt's orphan staged dir and never touches referenced dirs; at the
    // default 1 h age threshold the same fresh orphan is PROTECTED (it
    // could be a live writer's staging area)
    assert(TxTable.vacuum(spark, root) == 0)
    assert(TxTable.vacuum(spark, root, olderThanMs = 0L) == 1)
    assert(readSum(root) == 13L)
  }

  test("multi-table commit is all-or-nothing (quarantine shape)") {
    import spark.implicits._
    val root = base()
    TxTable.commit(spark, root,
      Seq(("good", "append", Seq(1L).toDF("v")), ("bad", "append", Seq(-1L).toDF("v"))),
      guard = "q-A", batchId = 0L)
    // crash between the two staged writes of batch 1: good staged, bad not,
    // no manifest — NEITHER is visible
    TxTable.stage(root, 2L, 0, "good", Seq(2L).toDF("v"))
    assert(readSum(root, "good") == 1L)
    assert(readSum(root, "bad") == -1L)
    // retry commits both sides as one version
    assert(TxTable.commit(spark, root,
      Seq(("good", "append", Seq(2L).toDF("v")), ("bad", "append", Seq(-2L).toDF("v"))),
      guard = "q-A", batchId = 1L))
    assert(readSum(root, "good") == 3L)
    assert(readSum(root, "bad") == -3L)
  }

  test("concurrent reader: a plan resolved before a replace still executes after commit+GC") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(1L, 2L).toDF("v"))
    val before = TxTable.read(spark, root) // resolves version 1's files NOW
    TxTable.replace(spark, root, Seq(50L).toDF("v")) // v2 commits, GC runs
    // GC keeps the previous snapshot: the in-flight reader's plan still works
    assert(before.agg(org.apache.spark.sql.functions.sum("v")).as[Long].head() == 3L)
    assert(readSum(root) == 50L)
    // one more commit retires version 1's dirs for good
    TxTable.replace(spark, root, Seq(60L).toDF("v"))
    assert(readSum(root) == 60L)
    val dataDirs = new java.io.File(s"$root/data").list().toSeq
    // only v2 (grace) and v3 (current) remain on disk
    assert(dataDirs.size == 2, s"unexpected dirs: $dataDirs")
  }

  test("two interleaved committers both land; versions strictly ordered (optimistic retry)") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(0L).toDF("v"))
    // two writers, 5 appends each, barrier-aligned per round so both list
    // the same log head and race for the same version — the old contract
    // wedged the loser with "concurrent writer detected"; the optimistic
    // retry must land BOTH, the loser at the re-allocated next version
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool    = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = (0 until 5).forall { i =>
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            TxTable.append(spark, root, Seq(w * 1000L + i).toDF("v"))
          }
        })
      }
      assert(results.forall(_.get(300, java.util.concurrent.TimeUnit.SECONDS)),
        "every commit must eventually land — no wedge, no lost update")
    } finally pool.shutdown()
    // every one of the 10 interleaved appends is in the committed state
    assert(readSum(root) == (0 until 5).map(i => 1000L + i + 2000L + i).sum)
    // versions are strictly ordered AND contiguous: a lost claim re-allocates
    // rather than burning a version number
    val versions = new java.io.File(s"$root/_log").list().toSeq
      .filter(_.endsWith(".commit")).map(_.stripSuffix(".commit").toLong).sorted
    assert(versions == (1L to 11L), s"unexpected versions: $versions")
    // every manifest records its writer token for audit
    val manifests = versions.map(v =>
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        f"$root/_log/$v%020d.commit")))
    assert(manifests.forall(_.linesIterator.exists(_.startsWith("writer "))))
  }

  test("log checkpointing bounds manifest count and preserves state + replay marks") {
    import spark.implicits._
    val root = base()
    // 70 commits under two guards: enough to trip the 64-manifest fold
    (0 until 35).foreach { i =>
      TxTable.append(spark, root, Seq(i.toLong).toDF("v"), guard = "q-A", batchId = i.toLong)
      TxTable.append(spark, root, Seq(100L + i).toDF("v"), guard = "q-B", batchId = i.toLong)
    }
    val logFiles = new java.io.File(s"$root/_log").list().toSeq
    assert(logFiles.count(_.endsWith(".ckpt")) == 1,
      s"expected one checkpoint, got: ${logFiles.filter(_.endsWith(".ckpt"))}")
    assert(logFiles.count(_.endsWith(".commit")) < 64,
      s"folded manifests must be deleted, ${logFiles.count(_.endsWith(".commit"))} remain")
    // full content survives the fold
    assert(readSum(root) == (0L until 35L).sum + (100L until 135L).sum)
    // per-guard replay high-water marks survive the fold
    assert(TxTable.lastApplied(spark, root, "q-A") == 34L)
    assert(TxTable.lastApplied(spark, root, "q-B") == 34L)
    assert(!TxTable.append(spark, root, Seq(999L).toDF("v"), guard = "q-A", batchId = 30L))
    assert(TxTable.append(spark, root, Seq(1L).toDF("v"), guard = "q-A", batchId = 35L))
    assert(readSum(root) == (0L until 35L).sum + (100L until 135L).sum + 1L)
  }

  test("time travel: readAsOf replays the fold to a version; GC'd history fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val root = base()
    TxTable.replace(spark, root, Seq(1L).toDF("v"), guard = "q-A", batchId = 0L)
    TxTable.append(spark, root, Seq(10L).toDF("v"), guard = "q-A", batchId = 1L)
    TxTable.append(spark, root, Seq(100L).toDF("v"), guard = "q-A", batchId = 2L)
    def sumAsOf(v: Long) =
      TxTable.readAsOf(spark, root, v).agg(sum("v")).as[Long].head()
    val vs = TxTable.versions(spark, root)
    assert(vs.length == 3 && vs == vs.sorted)
    // appends accumulate: every historical version is still readable
    assert(sumAsOf(vs(0)) == 1L && sumAsOf(vs(1)) == 11L && sumAsOf(vs(2)) == 111L)
    // as-of past the head = the head snapshot (inclusive fold)
    assert(sumAsOf(vs(2) + 100) == 111L)
    // before retained history: loud failure, not an empty frame
    intercept[IllegalArgumentException](sumAsOf(vs(0) - 1))
    // GC keeps one superseded snapshot of grace: after ONE replace the
    // append-era dirs survive and history still reads; after a SECOND
    // replace they are reaped and the old versions must REFUSE loudly,
    // not return a plausible partial snapshot
    TxTable.replace(spark, root, Seq(7L).toDF("v"), guard = "q-A", batchId = 3L)
    assert(sumAsOf(TxTable.versions(spark, root).last) == 7L)
    assert(sumAsOf(vs(2)) == 111L)
    TxTable.replace(spark, root, Seq(8L).toDF("v"), guard = "q-A", batchId = 4L)
    assert(sumAsOf(TxTable.versions(spark, root).last) == 8L)
    val ex = intercept[IllegalArgumentException](sumAsOf(vs(2)))
    assert(ex.getMessage.contains("garbage-collected"))
  }

  test("setRetention widens the CDC window: diff across two intermediate replaces") {
    import spark.implicits._
    val root = base()
    TxTable.setRetention(spark, root, 4)
    assert(TxTable.retentionOf(spark, root) == 4)
    TxTable.replace(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    TxTable.replace(spark, root, Seq((1L, 10L), (2L, 25L)).toDF("k", "v"))
    TxTable.replace(spark, root, Seq((1L, 10L), (2L, 25L), (3L, 30L)).toDF("k", "v"))
    TxTable.replace(spark, root, Seq((2L, 25L), (3L, 30L)).toDF("k", "v"))
    val vs = TxTable.versions(spark, root)
    assert(vs.length == 4)
    // diff THREE versions back — two intermediate replaces in between —
    // classifies the net change (update, insert, delete) correctly
    val d = TxTable.diff(spark, root, vs(0), vs(3), Seq("k"))
      .select("k", "v", "change").as[(Long, Long, String)].collect().toSet
    assert(d == Set((1L, 10L, "delete"), (2L, 20L, "update_pre"),
      (2L, 25L, "update_post"), (3L, 30L, "insert")))
    // the same 3-back diff under DEFAULT keep-2 refuses loudly
    val root2 = base()
    TxTable.replace(spark, root2, Seq((1L, 10L)).toDF("k", "v"))
    TxTable.replace(spark, root2, Seq((1L, 11L)).toDF("k", "v"))
    TxTable.replace(spark, root2, Seq((1L, 12L)).toDF("k", "v"))
    val v2s = TxTable.versions(spark, root2)
    val ex = intercept[IllegalArgumentException](
      TxTable.diff(spark, root2, v2s(0), v2s(2), Seq("k")))
    assert(ex.getMessage.contains("garbage-collected"))
    // a fifth commit slides the keep-4 window: v1 reaped (loudly), v2 kept
    TxTable.replace(spark, root, Seq((3L, 31L)).toDF("k", "v"))
    val ex2 = intercept[IllegalArgumentException](TxTable.readAsOf(spark, root, vs(0)))
    assert(ex2.getMessage.contains("garbage-collected"))
    assert(TxTable.readAsOf(spark, root, vs(1)).count() == 2L)
    // vacuum only reaps UNreferenced dirs — the retained window is not
    // vacuum's to touch even at age 0
    assert(TxTable.vacuum(spark, root, olderThanMs = 0L) == 0)
    assert(TxTable.read(spark, root).count() == 1L)
  }

  test("retention updates are versioned: latest generation wins, no unset window") {
    import spark.implicits._
    val root = base()
    // repeated settings land as new generations — last one wins
    TxTable.setRetention(spark, root, 4)
    TxTable.setRetention(spark, root, 3)
    TxTable.setRetention(spark, root, 5)
    assert(TxTable.retentionOf(spark, root) == 5)
    // AT ALL TIMES at least one retention file exists under _log: the old
    // delete-then-rename swap had a window where a concurrent committer's
    // GC read the default keep-2 and reaped retained history silently
    val logDir = new java.io.File(s"$root/_log")
    val retFiles = logDir.listFiles().map(_.getName).filter(_.startsWith("retention"))
    assert(retFiles.nonEmpty && retFiles.forall(_.matches("retention\\.v\\d+")),
      retFiles.toSeq.toString)
    // generations are reaped down to (current, one grace predecessor)
    assert(retFiles.length <= 2, retFiles.toSeq.toString)
    // a legacy single-file `retention` (pre-versioning table) still reads
    val root2 = base()
    new java.io.File(s"$root2/_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root2/_log/retention"), "graft-txret v1\nkeep 7\n")
    assert(TxTable.retentionOf(spark, root2) == 7)
    // and the next setRetention supersedes + removes it
    TxTable.setRetention(spark, root2, 3)
    assert(TxTable.retentionOf(spark, root2) == 3)
    assert(!new java.io.File(s"$root2/_log/retention").exists())
    // the setting still drives GC as before
    TxTable.replace(spark, root, Seq(1L).toDF("v"))
    TxTable.replace(spark, root, Seq(2L).toDF("v"))
    TxTable.replace(spark, root, Seq(3L).toDF("v"))
    val vs = TxTable.versions(spark, root)
    assert(TxTable.readAsOf(spark, root, vs(0)).count() == 1L)
  }

  test("log checkpointing keeps the whole retention window resolvable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val root = base()
    TxTable.setRetention(spark, root, 3)
    // 70 replaces trip the 64-manifest fold; with keep = 3 the newest TWO
    // manifests stay raw and the fold captures the state 2 versions back
    (1 to 70).foreach(i => TxTable.replace(spark, root, Seq(i.toLong).toDF("v")))
    val logFiles = new java.io.File(s"$root/_log").list().toSeq
    assert(logFiles.count(_.endsWith(".ckpt")) == 1)
    def asOf(v: Long) = TxTable.readAsOf(spark, root, v).agg(sum("v")).as[Long].head()
    val vs = TxTable.versions(spark, root)
    // every retained version reads through the ckpt+raw fold...
    assert(asOf(vs.last) == 70L)
    assert(asOf(vs(vs.length - 2)) == 69L)
    assert(asOf(vs(vs.length - 3)) == 68L)
    // ...and one step past the window the data is gone, loudly
    val ex = intercept[IllegalArgumentException](asOf(vs(vs.length - 4)))
    assert(ex.getMessage.contains("garbage-collected"))
    // GC holds exactly the retained snapshots on disk
    assert(new java.io.File(s"$root/data").list().length == 3)
  }

  test("a foreign or corrupt log file is skipped, never wedges the root") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(1L).toDF("v"))
    // foreign file with a non-numeric stem + a corrupt manifest CLAIMING a
    // future version: reads must skip both, and the next commit must
    // allocate PAST the claimed version instead of wedging on the rename
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_log/x.commit"), "not a manifest")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_log/00000000000000000009.commit"), "garbage header")
    assert(readSum(root) == 1L)
    TxTable.replace(spark, root, Seq(7L).toDF("v"))
    assert(readSum(root) == 7L)
    TxTable.replace(spark, root, Seq(8L).toDF("v"))
    assert(readSum(root) == 8L)
  }

  test("compact folds appends into one snapshot without disturbing replay tracking") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(1L).toDF("v"), guard = "q-A", batchId = 0L)
    TxTable.append(spark, root, Seq(2L).toDF("v"), guard = "q-A", batchId = 1L)
    TxTable.append(spark, root, Seq(3L).toDF("v"), guard = "q-A", batchId = 2L)
    val (beforeFiles, afterFiles) = TxTable.compact(spark, root, targetBytes = 1L << 30)
    assert(beforeFiles >= 3 && afterFiles == 1)
    assert(readSum(root) == 6L)
    // compaction committed under NoGuard: the stream's high-water mark is intact
    assert(TxTable.lastApplied(spark, root, "q-A") == 2L)
    assert(!TxTable.append(spark, root, Seq(100L).toDF("v"), guard = "q-A", batchId = 2L))
    assert(TxTable.append(spark, root, Seq(4L).toDF("v"), guard = "q-A", batchId = 3L))
    assert(readSum(root) == 10L)
  }

  test("diff: CDC rows classify insert/delete/update with both images; null-safe compare") {
    import spark.implicits._
    val root = base()
    // (k, payload, score) — k=1 unchanged, k=2 value update, k=3 deleted,
    // k=4 null→value update, k=5 null<=>null unchanged, k=6 inserted
    TxTable.replace(spark, root, Seq(
      (1, "a", Some(10)), (2, "b", Some(20)), (3, "c", Some(30)),
      (4, null.asInstanceOf[String], Some(40)), (5, "e", None)
    ).toDF("k", "payload", "score"))
    TxTable.replace(spark, root, Seq(
      (1, "a", Some(10)), (2, "B", Some(20)),
      (4, "d", Some(40)), (5, "e", None), (6, "f", Some(60))
    ).toDF("k", "payload", "score"))
    val Seq(v1, v2) = TxTable.versions(spark, root)
    val d = TxTable.diff(spark, root, v1, v2, Seq("k"))
    assert(d.columns.toSeq == Seq("k", "payload", "score", "change"))
    val got = d.select($"k", $"payload", $"score", $"change")
      .as[(Int, String, Option[Int], String)].collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == Seq(
      (2, "B", Some(20), "update_post"), (2, "b", Some(20), "update_pre"),
      (3, "c", Some(30), "delete"),
      (4, "d", Some(40), "update_post"), (4, null, Some(40), "update_pre"),
      (6, "f", Some(60), "insert")))
    // ONE key join end to end — classification and both-image emission are
    // a single generator projection over it, not a second pass
    val joins = d.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.length == 1)
    // a NON-additive schema change (a column vanished) refuses instead of
    // mis-diffing; added columns instead NULL-fill (the evolution tests)
    TxTable.replace(spark, root, Seq((1, "a")).toDF("k", "payload"))
    val v3 = TxTable.versions(spark, root).last
    val e = intercept[IllegalArgumentException](TxTable.diff(spark, root, v2, v3, Seq("k")))
    assert(e.getMessage.contains("vanished"))
  }

  test("maintainSumCount over a diff equals a full recompute, drops emptied groups") {
    import spark.implicits._
    val root = base()
    // groups: g1 loses a row (update moves it to g2), g3 vanishes entirely,
    // g4 is born; values carry nulls to pin count-vs-sum semantics; g5
    // loses its LAST non-null value — its maintained sum must return to
    // NULL (SQL sum over zero non-null values), not 0
    TxTable.replace(spark, root, Seq(
      (1, "g1", Some(1.5)), (2, "g1", Some(2.5)), (3, "g2", None),
      (4, "g3", Some(4.0)), (6, "g5", None), (7, "g5", Some(2.0))
    ).toDF("k", "g", "v"))
    TxTable.replace(spark, root, Seq(
      (1, "g1", Some(1.5)), (2, "g2", Some(2.5)), (3, "g2", Some(3.0)),
      (5, "g4", Some(5.0)), (6, "g5", None)
    ).toDF("k", "g", "v"))
    val Seq(v1, v2) = TxTable.versions(spark, root)
    val base1 = graft.ops.Summaries.sumCountAgg(
      TxTable.readAsOf(spark, root, v1), Seq("g"), $"v")
    val cdc = TxTable.diff(spark, root, v1, v2, Seq("k"))
    val maintained = graft.ops.Summaries.maintainSumCount(base1, cdc, Seq("g"), $"v")
    val full = graft.ops.Summaries.sumCountAgg(
      TxTable.readAsOf(spark, root, v2), Seq("g"), $"v")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"g", $"sum_v".cast("double"), $"n")
        .as[(String, Option[Double], Long)].collect().sortBy(_._1).toSeq
    assert(norm(maintained) == norm(full))
    assert(!norm(maintained).exists(_._1 == "g3")) // emptied group dropped
    assert(norm(maintained).exists(_._1 == "g4"))  // born group present
    // all-null group: present with n=1 and sum NULL, same as the recompute
    assert(norm(maintained).contains(("g5", None, 1L)))
  }

  test("diff refuses a table whose columns collide with the change discriminator") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq((1, "x")).toDF("k", "change"))
    TxTable.replace(spark, root, Seq((1, "y")).toDF("k", "change"))
    val Seq(v1, v2) = TxTable.versions(spark, root)
    val e = intercept[IllegalArgumentException](TxTable.diff(spark, root, v1, v2, Seq("k")))
    assert(e.getMessage.contains("reserved column"))
  }

  test("cross-process committers: two real JVMs race one log, every commit lands") {
    // The in-JVM race above still shares TxTable's intra-process claim
    // lock; this one cannot — the child is a separate java process
    // (graft.TxRaceChild) with its own SparkSession, so only the
    // rename-based optimistic protocol orders the writers. Round-10
    // verdict item 4: cross-process commit contention was untested by
    // construction.
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq(0L).toDF("v"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    // carry this JVM's --add-opens pairs to the child (Spark 4 on JDK 17
    // refuses to boot without them); they arrive as separate argv tokens
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val opens = (0 until inArgs.size).flatMap { i =>
      val a = inArgs.get(i)
      if (a == "--add-opens" || a == "--add-exports") Seq(a, inArgs.get(i + 1))
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=")) Seq(a)
      else Nil
    }
    val childRounds = 8
    val cmd = (Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.TxRaceChild", root, "100000", childRounds.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_MASTER", "local[2]") // never inherit local-cluster
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$root.child.log"))
    val child = pb.start()
    try {
      // wait for the child's FIRST commit so the parent's appends genuinely
      // overlap a live foreign writer rather than running before its boot
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (TxTable.versions(spark, root).size < 2 && child.isAlive
             && System.nanoTime() < deadline) Thread.sleep(100)
      assert(TxTable.versions(spark, root).size >= 2,
        s"child never committed; log:\n${scala.util.Try(
          java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root.child.log"))
            .takeRight(2000)).getOrElse("")}")
      (0 until 5).foreach { i =>
        assert(TxTable.append(spark, root, Seq(2000L + i).toDF("v")),
          "parent commit must land despite the foreign writer")
      }
      assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      assert(child.exitValue() == 0, s"child failed; log:\n${scala.util.Try(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root.child.log"))
          .takeRight(2000)).getOrElse("")}")
    } finally if (child.isAlive) child.destroyForcibly()
    // no lost update in either direction
    assert(readSum(root) ==
      (0 until childRounds).map(100000L + _).sum + (0 until 5).map(2000L + _).sum)
    // versions strictly contiguous: a lost rename re-allocates, never burns
    val versions = new java.io.File(s"$root/_log").list().toSeq
      .filter(_.endsWith(".commit")).map(_.stripSuffix(".commit").toLong).sorted
    assert(versions == (1L to (1 + childRounds + 5).toLong),
      s"unexpected versions: $versions")
  }

  test("q167b's increment cycle is idempotent: re-invocation adds no versions, same rows") {
    // The guarded commits (guard=medinc, batchId 0/1) make bench pass 2 a
    // log no-op; a drift here would surface as a bench-only hash flake.
    val q = SparkEntry.queries("q167b_medallion_incremental")
    val sf = "/root/testdata/sf0.001"
    val r1 = q(spark, sf).collect().toSeq
    val root = Tables.targetPath("tmp/medinc_" + sf.replaceAll("[^0-9a-zA-Z]", "_"))
    val vsAfterFirst = TxTable.versions(spark, root)
    val r2 = q(spark, sf).collect().toSeq
    assert(TxTable.versions(spark, root) == vsAfterFirst,
      "second invocation must not append to the commit log")
    assert(r1 == r2)
  }

  test("additive schema evolution: appended column NULL-fills history, as-of reads stay narrow") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = base()
    TxTable.replace(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TxTable.append(spark, root, Seq((3L, "c", 30), (4L, "d", 40)).toDF("k", "s", "extra"))
    // evolved snapshot: the old files read NULL-filled under the new schema
    val snap = TxTable.read(spark, root).orderBy("k")
    assert(snap.columns.toSeq == Seq("k", "s", "extra"))
    assert(snap.select("k", "extra").as[(Long, Option[Int])].collect().toSeq ==
      Seq((1L, None), (2L, None), (3L, Some(30)), (4L, Some(40))))
    // time travel BELOW the evolution commit keeps the pre-evolution schema
    val vs = TxTable.versions(spark, root)
    val old = TxTable.readAsOf(spark, root, vs.head)
    assert(old.columns.toSeq == Seq("k", "s"), "as-of read must not leak the later column")
    // an append that adds ANOTHER column keeps folding additively
    TxTable.append(spark, root, Seq((5L, "e", 50, 5.5)).toDF("k", "s", "extra", "score"))
    assert(TxTable.read(spark, root).columns.toSeq == Seq("k", "s", "extra", "score"))
    assert(TxTable.read(spark, root).where(col("k") === 3L)
      .select("score").as[Option[Double]].head().isEmpty)
  }

  test("schema evolution refuses a type change; replace resets the schema") {
    import spark.implicits._
    val root = base()
    TxTable.replace(spark, root, Seq((1L, 10)).toDF("k", "x"))
    // append with x re-typed string must fail LOUDLY, not corrupt reads
    val e = intercept[IllegalArgumentException](
      TxTable.append(spark, root, Seq((2L, "oops")).toDF("k", "x")))
    assert(e.getMessage.contains("schema conflict") && e.getMessage.contains("x"))
    // ...and the failed attempt leaked no staged data: snapshot unchanged
    assert(TxTable.read(spark, root).count() == 1L)
    // replace RESETS the schema — a full rewrite may re-type freely
    TxTable.replace(spark, root, Seq((1L, "now-a-string")).toDF("k", "x"))
    assert(TxTable.read(spark, root).schema("x").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("diff + IVM across the evolution boundary: no spurious updates, maintained ≡ recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = base()
    // v1: narrow; v2: REPLACE re-writing the survivors with a new column
    // populated — surviving unchanged-value rows must classify as updates
    // ONLY because the flag moved NULL -> value; rows whose values and
    // (NULL) flag are identical post-alignment emit nothing
    TxTable.replace(spark, root,
      Seq((1L, "g", 10.0), (2L, "g", 20.0), (3L, "h", 30.0)).toDF("k", "grp", "v"))
    TxTable.append(spark, root, Seq((4L, "h", 40.0, 4)).toDF("k", "grp", "v", "flag"))
    val vs = TxTable.versions(spark, root)
    val cdc = TxTable.diff(spark, root, vs.head, vs.last, Seq("k"))
    // appended row 4 is the only change: surviving rows align bit-equal
    // (flag NULL on both sides), so NO update pair appears
    val events = cdc.select("k", "change").as[(Long, String)].collect().toSeq.sorted
    assert(events == Seq((4L, "insert")))
    // IVM across the boundary: maintain v1's (sum, count) with the cdc and
    // match a full recompute of the evolved snapshot bit-exactly
    val base1 = graft.ops.Summaries.sumCountAgg(
      TxTable.readAsOf(spark, root, vs.head), Seq("grp"), col("v"), "sv", "n")
    val maintained = graft.ops.Summaries.maintainSumCount(
        base1, cdc, Seq("grp"), col("v"), "sv", "n")
      .select(col("grp"), col("sv").cast("double").as("sv"), col("n"))
      .orderBy("grp").as[(String, Double, Long)].collect().toSeq
    val recomputed = graft.ops.Summaries.sumCountAgg(
        TxTable.read(spark, root), Seq("grp"), col("v"), "sv", "n")
      .select(col("grp"), col("sv").cast("double").as("sv"), col("n"))
      .orderBy("grp").as[(String, Double, Long)].collect().toSeq
    assert(maintained == recomputed)
    // a genuine NULL -> value flag transition IS an update (both images)
    TxTable.replace(spark, root,
      Seq((1L, "g", 10.0, 1), (2L, "g", 20.0, 2), (3L, "h", 30.0, 3),
        (4L, "h", 40.0, 4)).toDF("k", "grp", "v", "flag"))
    val vs2 = TxTable.versions(spark, root)
    val cdc2 = TxTable.diff(spark, root, vs2(vs2.length - 2), vs2.last, Seq("k"))
    val byChange = cdc2.groupBy("change").count()
      .as[(String, Long)].collect().toMap
    // rows 1-3 gained a flag (update), row 4 is bit-identical (nothing)
    assert(byChange == Map("update_pre" -> 3L, "update_post" -> 3L))
    assert(cdc2.where(col("change") === "update_pre").select("flag")
      .as[Option[Int]].collect().forall(_.isEmpty),
      "pre-images must carry the NULL-filled flag")
  }

  test("evolved schema survives the log checkpoint fold") {
    import spark.implicits._
    // drive past LogCheckpointEvery so the log folds, with the evolution
    // commit in the FOLDED prefix — the checkpoint must re-seed the
    // resolveSchema fold or history would silently lose the column
    val root = base()
    TxTable.replace(spark, root, Seq((0L, "s")).toDF("k", "s"))
    TxTable.append(spark, root, Seq((1L, "s", 1)).toDF("k", "s", "extra"))
    (2 to 70).foreach(i => TxTable.append(spark, root, Seq((i.toLong, "s", i)).toDF("k", "s", "extra")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_log"))
      .map(_.getPath.getName)
    assert(names.exists(_.endsWith(".ckpt")), "log should have checkpointed")
    val snap = TxTable.read(spark, root)
    assert(snap.columns.toSeq == Seq("k", "s", "extra"))
    assert(snap.where(org.apache.spark.sql.functions.col("k") === 0L)
      .select("extra").as[Option[Int]].head().isEmpty,
      "the pre-evolution row must stay NULL-filled after the fold")
    assert(snap.count() == 71L)
  }

  test("claim onto an existing target returns false and leaves the target's bytes unchanged") {
    // A posix rename replaces its target silently, so an exists-check plus
    // rename lets a second process overwrite a manifest another one already
    // claimed; the claim must be atomic create-if-absent. Checked on the
    // session's local filesystem (checksum sidecars; its rename refuses an
    // existing target, but only after a separate exists check) and on the
    // raw one, whose rename is the bare posix replace.
    val conf = spark.sparkContext.hadoopConfiguration
    val session = new org.apache.hadoop.fs.Path(base()).getFileSystem(conf)
    val raw = org.apache.hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem
    for (fs <- Seq(session, raw)) {
      val dir = new org.apache.hadoop.fs.Path(base())
      def write(p: org.apache.hadoop.fs.Path, body: String): Unit = {
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      def read(p: org.apache.hadoop.fs.Path): String = {
        val in = fs.open(p) // verifies the checksum sidecar where there is one
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val target = new org.apache.hadoop.fs.Path(dir, "00000000000000000001.commit")
      val first  = new org.apache.hadoop.fs.Path(dir, ".first.tmp")
      val second = new org.apache.hadoop.fs.Path(dir, ".second.tmp")
      write(first, "graft-tx v1\nfirst writer\n")
      write(second, "graft-tx v1\nsecond writer, longer body\n")
      assert(TxTable.claim(fs, first, target), fs.getClass)
      assert(!fs.exists(first), "a won claim moves tmp away")
      assert(!TxTable.claim(fs, second, target), s"${fs.getClass}: the target exists, the claim must lose")
      assert(read(target) == "graft-tx v1\nfirst writer\n", fs.getClass)
      assert(fs.exists(second), "a lost claim leaves tmp for its writer to delete")
      // listed raw: the Hadoop local filesystem hides the checksum sidecars
      val sidecars = fs match {
        case _: org.apache.hadoop.fs.ChecksumFileSystem =>
          Set(".00000000000000000001.commit.crc", "..second.tmp.crc")
        case _ => Set.empty[String]
      }
      assert(new java.io.File(dir.toUri.getPath).list().toSet ==
        Set("00000000000000000001.commit", ".second.tmp") ++ sidecars, fs.getClass)
    }
  }
}
