package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transactional table format — the atomic multi-file commit that
  * plain `write.parquet` lacks. The reference's storage story is a single
  * xlsx swap (`/root/reference/app.py:369-378`); at 100 TB the same need
  * ("replace/extend a table so readers never see partial state") is what
  * Delta/Iceberg commit logs solve. This is that protocol reduced to its
  * load-bearing core:
  *
  * {{{
  * root/
  *   _log/00000000000000000007.commit   // manifest, made live by ONE atomic claim
  *   data/00000000000000000007-0-t/     // immutable parquet dirs
  * }}}
  *
  *  - **Stage**: each table's rows are written to a fresh dir under `data/`
  *    named by the version being attempted. Staged dirs are invisible —
  *    readers only follow dirs referenced by a committed manifest — so a
  *    crash mid-stage leaves garbage, never a torn table, and a replayed
  *    attempt at the same version overwrites its own garbage.
  *  - **Commit**: the manifest (guard, batch id, and `(mode, table, dir)`
  *    entries) is written to a temp file and RENAMED to
  *    `_log/<version>.commit`. Rename is the one atomic filesystem
  *    primitive (posix and HDFS both); a reader lists the log and either
  *    sees the whole commit or none of it. A multi-table commit (e.g. the
  *    quarantine's good+bad sinks) is therefore all-or-nothing — the crash
  *    window between two `mode("append")` writes that this replaces cannot
  *    exist here.
  *  - **Resolve**: a table's state is the ordered fold of the log — a
  *    `replace` entry resets its dir list, an `append` entry extends it —
  *    so rebuild-style sinks and append-style sinks share one reader.
  *  - **Replay guard**: `foreachBatch` is at-least-once; a commit records
  *    the streaming checkpoint's query id (`guard`) and batch id, and
  *    [[lastApplied]] takes the max batch over commits with the SAME guard
  *    — so a recreated checkpoint (fresh guard, ids restart at 0) is never
  *    falsely skipped, and a non-batch commit in between (compaction,
  *    guard [[NoGuard]]) never disturbs the streaming high-water mark.
  *  - **GC**: after a commit, dirs referenced by none of the last
  *    `keepSnapshots` resolved states are deleted (default 2 — current
  *    plus one superseded snapshot, the grace window for concurrent
  *    readers: a plan resolved against version N still executes correctly
  *    while version N+1 commits; TxTableSpec pins this). [[setRetention]]
  *    widens the window durably — the knob a CDC consumer replaying a
  *    multi-version backlog needs ([[diff]] requires its from-version
  *    readable, so keep-2 supports only adjacent-version diffs).
  *
  *  - **Concurrency**: commits are optimistic. A writer stages its data,
  *    allocates the next version, and attempts the manifest claim; if
  *    another writer claimed that version first, it re-lists the log,
  *    re-allocates, and re-attempts — the staged data dirs carry a unique
  *    writer token so they never collide and never need re-writing. The
  *    version-claim check runs under a per-root JVM lock, so in-process
  *    committers (the common shape: several sinks of one application) are
  *    fully serialized at the claim point; across processes the claim is
  *    one atomic create-if-absent step ([[claim]]): a hard link on a local
  *    filesystem (posix rename would replace a foreign manifest silently),
  *    a rename that fails on an existing target elsewhere (HDFS and
  *    object-store committers — the deployment targets). Each manifest records
  *    its `writer` token for audit. The log is one small file per commit,
  *    so a long-lived table should periodically [[compact]], which folds
  *    history into one `replace` commit the resolver can fold just as
  *    cheaply.
  */
object TxTable {

  /** Table name used by the single-table convenience forms. */
  val SingleTable = "t"

  /** Guard for commits that are not streaming batches (compaction, batch
    * jobs). Never equal to a checkpoint query id, so it cannot disturb
    * [[lastApplied]]'s per-guard high-water mark.
    */
  val NoGuard = "-"

  private[graft] case class Entry(mode: String, table: String, dir: String)
  private[graft] case class Commit(version: Long, guard: String, batchId: Long,
      entries: Seq[Entry],
      schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty)

  private def logDir(root: Path)  = new Path(root, "_log")
  private def dataDir(root: Path) = new Path(root, "data")
  private def commitPath(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.commit")
  private def ckptPath(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.ckpt")

  /** Fold the log into a checkpoint once this many manifest files
    * accumulate past the last checkpoint. Without folding, every
    * read/exists/lastApplied opens EVERY historical manifest — a streaming
    * sink committing per micro-batch pays O(batches²) cumulative log I/O.
    */
  private val LogCheckpointEvery = 64

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // Legacy single-file name (pre-versioned scheme); still read as the
  // generation-0 fallback so existing tables keep their setting.
  private def retentionPath(root: Path) = new Path(logDir(root), "retention")

  /** Current versioned retention files, (generation, path), ascending. */
  private def retentionGens(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val ld = logDir(root)
    if (!fs.exists(ld)) return Seq.empty
    fs.listStatus(ld).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("retention.v"))
        n.stripPrefix("retention.v").toLongOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)
  }

  /** Durably set how many most-recent committed versions stay readable: the
    * resolved snapshot of each of the last `keepSnapshots` versions
    * survives GC, and the log checkpointer keeps their manifests raw, so
    * [[readAsOf]] and [[diff]] reach `keepSnapshots − 1` versions back.
    * Default (no file) is 2 — the historical keep-one-superseded-snapshot
    * behavior. A table property, not a session setting: it lives in the
    * log (`_log/retention`), so every writer process GCs by the same rule.
    *
    * Widening takes effect for versions committed AFTER the call (already
    * collected dirs are gone); narrowing reaps on the next commit's GC.
    * Set it before the history you need exists.
    *
    * Durability under concurrency: each call writes a NEW generation file
    * (`retention.vNNN`, readers take the max) and never deletes the one it
    * supersedes until the new one is in place — a concurrent committer's
    * GC that listed the directory a moment earlier still finds the grace
    * predecessor. (The earlier delete-then-rename single-file swap had a
    * window with NO file at all, and losing it meant silent loss of
    * retained history rather than a loud refusal.) This narrows the race
    * rather than closing it: TWO setRetention calls landing between a
    * reader's listing and its read can reap both the listed generation and
    * its grace predecessor, which is why [[readRetention]] re-lists once
    * before degrading to the default. Concurrent setRetention writers can
    * also compute the same next generation; they claim it through the
    * same create-if-absent [[claim]] as a commit, and the loser recomputes
    * the generation and retries.
    */
  def setRetention(spark: SparkSession, root: String, keepSnapshots: Int): Unit = {
    require(keepSnapshots >= 2,
      s"keepSnapshots must be >= 2 (got $keepSnapshots): the current snapshot " +
        "plus at least one superseded snapshot is the concurrent-reader grace " +
        "window the commit protocol depends on")
    val (fs, rp) = fsFor(spark, root)
    fs.mkdirs(logDir(rp))
    val tmp = new Path(logDir(rp),
      s".retention-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"graft-txret v1\nkeep $keepSnapshots\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // A racing setRetention can claim the same next generation; the claim
    // then fails — recompute and retry rather than abort, since the other
    // writer advancing the generation is progress, not failure. Bounded
    // attempts: each loss means someone else claimed.
    val gens = (1 to 5).iterator.map { _ =>
      val g = retentionGens(fs, rp)
      val next = g.lastOption.map(_._1 + 1).getOrElse(1L)
      val target = new Path(logDir(rp), f"retention.v$next%09d")
      if (claim(fs, tmp, target)) Some(g) else None
    }.collectFirst { case Some(g) => g }
      .getOrElse(throw new java.io.IOException(s"retention write failed at $root"))
    // Only now is superseded state garbage: reap old generations and the
    // legacy single file, keeping the newest predecessor as a grace copy
    // for a reader that listed the directory just before our claim.
    gens.dropRight(1).foreach { case (_, p) => fs.delete(p, false) }
    fs.delete(retentionPath(rp), false)
  }

  /** The effective retention window of `root` (see [[setRetention]]). */
  def retentionOf(spark: SparkSession, root: String): Int = {
    val (fs, rp) = fsFor(spark, root)
    readRetention(fs, rp)
  }

  /** An unreadable/absent/foreign retention file degrades to the DEFAULT
    * (2), never an error: retention tunes garbage collection, and a GC
    * that cannot read its knob must fall back to the conservative historic
    * behavior rather than poison every commit on the root.
    */
  private def readRetention(fs: FileSystem, root: Path): Int = {
    def parse(p: Path): Option[Int] =
      try {
        if (!fs.exists(p)) return None
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val lines = txt.split("\n").toSeq
        if (!lines.headOption.contains("graft-txret v1")) None
        else lines.collectFirst { case l if l.startsWith("keep ") =>
          l.stripPrefix("keep ").trim }
          .flatMap(_.toIntOption).filter(_ >= 2)
      } catch { case _: java.io.IOException => None }
    // newest generation wins; fall back through older generations (a just-
    // reaped max gen degrades to its predecessor, never to the default),
    // then the legacy single file. Before degrading all the way to the
    // default, RE-LIST once: two setRetention calls landing between our
    // listing and our reads can reap both the listed max and its grace
    // predecessor, but the generation that replaced them is on disk — a
    // second listing finds it. Only a genuinely unset table defaults.
    def attempt(): Option[Int] =
      retentionGens(fs, root).reverse.iterator.flatMap { case (_, p) => parse(p) }
        .nextOption()
        .orElse(parse(retentionPath(root)))
    try attempt().orElse(attempt()).getOrElse(2)
    catch { case _: java.io.IOException => 2 }
  }

  /** All committed manifests in version order. An unparseable file (torn by
    * something other than this writer — rename can't produce one) is
    * skipped rather than poisoning the table.
    */
  private[graft] def listCommits(fs: FileSystem, root: Path): Seq[Commit] = {
    val ld = logDir(root)
    if (!fs.exists(ld)) return Seq.empty
    val names = fs.listStatus(ld).toSeq.map(_.getPath.getName)
    def readText(name: String): String = {
      val in = fs.open(new Path(ld, name))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    // latest parseable checkpoint is the base state; manifests at or below
    // its version are folded into it (and deleted by the checkpointer —
    // tolerating both present is what makes the fold crash-safe)
    val base = names.filter(_.endsWith(".ckpt")).sorted.reverse.iterator
      .flatMap { n =>
        n.stripSuffix(".ckpt").toLongOption
          .flatMap(v => parseCheckpoint(v, readText(n)))
      }
      .nextOption().getOrElse(Seq.empty)
    val baseV = base.headOption.map(_.version).getOrElse(Long.MinValue)
    val live = names.filter(_.endsWith(".commit")).sorted
      .flatMap { n =>
        // toLongOption, not toLong: a foreign file named x.commit must be
        // SKIPPED (the documented bad-manifest contract), not poison every
        // read of the root with a NumberFormatException
        n.stripSuffix(".commit").toLongOption
          .filter(_ > baseV)
          .flatMap(parseManifest(_, readText(n)))
      }
    base ++ live
  }

  /** A checkpoint parses to SYNTHETIC commits at its version — one carrying
    * each retained guard's high-water mark, one carrying the folded table
    * entries — so every log consumer (resolve, guard scan, gc, vacuum)
    * reads a checkpointed log exactly like a raw one.
    */
  private def parseCheckpoint(version: Long, txt: String): Option[Seq[Commit]] = {
    val lines = txt.split("\n").map(_.trim).filter(_.nonEmpty)
    if (!lines.headOption.contains("graft-txck v1")) return None
    val guards  = Seq.newBuilder[Commit]
    val entries = Seq.newBuilder[Entry]
    var schemas = Map.empty[String, org.apache.spark.sql.types.StructType]
    lines.drop(1).foreach { l =>
      l.split(" ").toSeq match {
        case Seq("guardmax", g, b) =>
          guards += Commit(version, g, b.toLongOption.getOrElse(return None), Seq.empty)
        case Seq("schema", t, b64) =>
          schemas += t -> decodeSchema(b64).getOrElse(return None)
        case Seq(m @ ("replace" | "append"), t, d) => entries += Entry(m, t, d)
        case _ => return None
      }
    }
    // the synthetic entries commit leads with `replace` per table, so the
    // folded schema re-enters the resolveSchema fold exactly like a real
    // replace commit's recorded schema
    Some(guards.result() :+ Commit(version, NoGuard, -1L, entries.result(), schemas))
  }

  /** Highest version any `.commit` FILENAME claims, parseable or not — the
    * version allocator must never re-issue a number a corrupt/foreign file
    * already occupies, or the claim target exists forever and the
    * root wedges with a spurious concurrent-writer error.
    */
  private def maxClaimedVersion(fs: FileSystem, root: Path): Long = {
    val ld = logDir(root)
    if (!fs.exists(ld)) return 0L
    fs.listStatus(ld).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.endsWith(".commit")) n.stripSuffix(".commit").toLongOption
        else if (n.endsWith(".ckpt")) n.stripSuffix(".ckpt").toLongOption
        else None
      }
      .foldLeft(0L)(math.max)
  }

  /** Schema line codec: `StructType.json` base64-encoded so the manifest
    * stays a whitespace-split line format (the JSON itself holds spaces).
    * A corrupt schema payload makes the whole manifest bad (skipped), the
    * same contract as a garbage batch id.
    */
  private def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(
      s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def decodeSchema(b64: String): Option[org.apache.spark.sql.types.StructType] =
    try org.apache.spark.sql.types.DataType.fromJson(
        new String(java.util.Base64.getDecoder.decode(b64),
          java.nio.charset.StandardCharsets.UTF_8)) match {
      case s: org.apache.spark.sql.types.StructType => Some(s)
      case _                                        => None
    } catch { case _: Exception => None }

  private def parseManifest(version: Long, txt: String): Option[Commit] = {
    val lines = txt.split("\n").map(_.trim).filter(_.nonEmpty)
    if (!lines.headOption.contains("graft-tx v1")) return None
    var guard = NoGuard
    var batch = -1L
    val entries = Seq.newBuilder[Entry]
    var schemas = Map.empty[String, org.apache.spark.sql.types.StructType]
    lines.drop(1).foreach { l =>
      l.split(" ").toSeq match {
        case Seq("guard", g)           => guard = g
        case Seq("batch", b)           =>
          batch = b.toLongOption.getOrElse(return None) // garbage batch = bad manifest, skip
        case Seq("writer", _)          => () // audit-only writer token
        case Seq("schema", t, b64)     =>
          schemas += t -> decodeSchema(b64).getOrElse(return None)
        case Seq(m @ ("replace" | "append"), t, d) => entries += Entry(m, t, d)
        case _                         => return None
      }
    }
    Some(Commit(version, guard, batch, entries.result(), schemas))
  }

  private def renderManifest(guard: String, batchId: Long, entries: Seq[Entry],
      writer: String = "-",
      schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): String = {
    val head = Seq("graft-tx v1", s"guard $guard", s"batch $batchId", s"writer $writer")
    val schemaLines = schemas.toSeq.sortBy(_._1)
      .map { case (t, s) => s"schema $t ${encodeSchema(s)}" }
    (head ++ schemaLines ++ entries.map(e => s"${e.mode} ${e.table} ${e.dir}")).mkString("\n")
  }

  /** Fold the log into `table`'s current dir list (relative to `data/`). */
  private def resolveRel(commits: Seq[Commit], table: String): Seq[String] =
    commits.foldLeft(Seq.empty[String]) { (dirs, c) =>
      c.entries.filter(_.table == table).foldLeft(dirs) { (d, e) =>
        if (e.mode == "replace") Seq(e.dir) else d :+ e.dir
      }
    }

  /** Additive merge: `base`'s fields in order (their types authoritative),
    * then `next`'s NEW fields appended nullable — the union-by-name shape
    * of the reference's ragged multi-file ingest (`app.py:325`). A shared
    * name with a DIFFERENT type throws: a silent cast would corrupt every
    * reader, and [[commit]] refuses such appends up front, so hitting this
    * at read time means a foreign writer broke the contract.
    */
  private def mergeAdditive(base: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType, table: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val conflicts = next.flatMap(f => base.find(_.name == f.name)
      .filter(_.dataType != f.dataType)
      .map(b => s"${f.name}: ${b.dataType.simpleString} vs ${f.dataType.simpleString}"))
    require(conflicts.isEmpty,
      s"schema conflict in table '$table': ${conflicts.mkString(", ")} — " +
        "only additive evolution (new columns) is supported across appends")
    StructType(base.fields ++
      next.filterNot(f => base.exists(_.name == f.name)).map(_.copy(nullable = true)))
  }

  /** Fold the log into `table`'s evolved read schema: a `replace` resets it
    * to that commit's recorded schema, an `append` extends it additively
    * ([[mergeAdditive]]) — so files staged before a column existed are read
    * NULL-filled under the final schema, by name. Returns None (readers
    * fall back to parquet footer inference, the pre-evolution behavior)
    * whenever any contributing commit predates schema recording — a mixed
    * log must not half-apply evolution.
    */
  private[graft] def resolveSchema(commits: Seq[Commit], table: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    var cur: Option[org.apache.spark.sql.types.StructType] = None
    var known = true
    commits.foreach { c =>
      if (c.entries.exists(_.table == table)) {
        val rec = c.schemas.get(table)
        val isReplace = c.entries.filter(_.table == table).exists(_.mode == "replace")
        if (isReplace) { cur = rec; known = rec.isDefined }
        else (cur, rec) match {
          case (Some(b), Some(n)) if known => cur = Some(mergeAdditive(b, n, table))
          case (None, Some(n)) if known    => cur = Some(n) // append-created table
          case _                           => known = false
        }
      }
    }
    if (known) cur else None
  }

  private def dataFiles(fs: FileSystem, root: Path, rel: Seq[String]): Seq[Path] =
    rel.flatMap { d =>
      val p = new Path(dataDir(root), d)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }

  /** True when `table` has committed data rows (a committed empty append
    * alone does not count — there is nothing to read).
    */
  def exists(spark: SparkSession, root: String, table: String = SingleTable): Boolean = {
    val (fs, rp) = fsFor(spark, root)
    dataFiles(fs, rp, resolveRel(listCommits(fs, rp), table)).nonEmpty
  }

  /** The committed snapshot of `table` — the union of its resolved dirs,
    * each immutable and fully written by construction. `schema` pins the
    * read schema (useful when empty staged appends are present).
    */
  def read(spark: SparkSession, root: String, table: String = SingleTable,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val (fs, rp) = fsFor(spark, root)
    val commits = listCommits(fs, rp)
    val files = dataFiles(fs, rp, resolveRel(commits, table))
    require(files.nonEmpty, s"no committed data for table '$table' under $root")
    val r = spark.read
    // caller override wins; otherwise the log's evolved schema NULL-fills
    // columns added after a file was staged (additive evolution)
    schema.orElse(resolveSchema(commits, table)).foreach(r.schema)
    r.parquet(files.map(_.toString): _*)
  }

  /** Versions with committed entries still listed in the log, ascending —
    * the candidates for [[readAsOf]]. History below the latest log
    * checkpoint is folded into one synthetic version; whether a listed
    * version's DATA is still present additionally depends on GC
    * (dirs outside the [[setRetention]] window are deleted once later
    * replaces supersede them), which [[readAsOf]] checks loudly at read
    * time.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, rp) = fsFor(spark, root)
    listCommits(fs, rp).filter(_.entries.nonEmpty).map(_.version).distinct.sorted
  }

  /** Time travel: the committed snapshot of `table` as of `version`
    * (inclusive) — the standard table-format audit/debug read ("what did
    * the gold table hold when batch N landed?"). Resolution replays the
    * manifest fold stopping at `version`, so appends after it vanish and
    * the snapshot is exactly what [[read]] returned then.
    *
    * Retention contract, enforced loudly instead of silently shrinking:
    * (1) a version below the latest log checkpoint is gone from the log —
    * the fold cannot reconstruct it, so the earliest listed version is
    * required; (2) a dir superseded by a later replace may have been
    * garbage-collected — every resolved dir must still exist, or this
    * raises rather than returning a plausible partial snapshot.
    */
  def readAsOf(spark: SparkSession, root: String, version: Long,
      table: String = SingleTable,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val (fs, rp) = fsFor(spark, root)
    val commits = listCommits(fs, rp)
    val dataVs = commits.filter(_.entries.nonEmpty).map(_.version)
    require(dataVs.nonEmpty, s"no committed data under $root")
    require(version >= dataVs.min,
      s"version $version predates retained history under $root (earliest " +
        s"listed version: ${dataVs.min} — either the table's first commit, " +
        "or the floor a log checkpoint folded older manifests into)")
    val rel = resolveRel(commits.filter(_.version <= version), table)
    require(rel.nonEmpty,
      s"table '$table' has no data at or before version $version under $root")
    val missing = rel.filterNot(d => fs.exists(new Path(dataDir(rp), d)))
    require(missing.isEmpty,
      s"version $version of '$table' is no longer readable: data dirs " +
        s"${missing.mkString(", ")} were garbage-collected by a later replace")
    val files = dataFiles(fs, rp, rel)
    require(files.nonEmpty, s"no data files for '$table' at version $version under $root")
    val r = spark.read
    // the schema AS OF the requested version — an evolution commit after
    // `version` must not leak its columns into the historical snapshot
    schema.orElse(resolveSchema(commits.filter(_.version <= version), table))
      .foreach(r.schema)
    r.parquet(files.map(_.toString): _*)
  }

  /** Change-data capture between two committed versions of `table`: one
    * row per changed key in Delta-CDF shape — the table's own columns plus
    * a `change` discriminator in {`insert`, `delete`, `update_pre`,
    * `update_post`}. An updated key emits BOTH images (`update_pre` with
    * the from-version values, `update_post` with the to-version values),
    * so any downstream incremental maintenance is a signed union: add
    * `insert`/`update_post` rows, subtract `delete`/`update_pre` rows —
    * see [[Summaries.maintainSumCount]]. Unchanged keys emit nothing.
    *
    * This is the batch companion to [[readAsOf]] time travel: "what
    * happened between batch N and batch M" without re-reading either full
    * snapshot downstream. At 100 TB that asymmetry is the whole point —
    * consumers of a slowly-changing gold table process O(changes), not
    * O(table), per increment.
    *
    * Relationship to the neighbors: [[Relational.snapshotDiff]] compares
    * two arbitrary DataFrames and emits ONE row per key with a
    * `change_type` (a report shape); this operates on the commit log and
    * emits the dual-image feed whose signed rows support RETRACTION —
    * which [[Summaries.mergeAggStates]] (append-only partial-state merge)
    * cannot express for deletes and updates.
    *
    * Scale shape: ONE key-partitioned full-outer join between the two
    * snapshot scans (AQE-sizable; both sides are plain parquet file scans
    * of the resolved manifests), change classification by a null-safe
    * struct comparison over the non-key columns, and a single generator
    * projection that emits 0–2 rows per joined key — no second pass over
    * the join, no driver actions, output ∝ changed rows.
    *
    * Contract: `keyCols` is a primary key in both snapshots (unique,
    * non-null) — the usual CDC precondition. Under a VIOLATED precondition
    * the output is undefined: duplicate keys usually surface as
    * join-multiplied spurious update pairs, but can also cancel silently
    * (deleting one of two identical duplicate rows joins equal images and
    * emits nothing) — dedupe or re-key upstream; there is no in-band
    * detection here because a uniqueness assertion would cost a full extra
    * aggregation on every diff. Both versions must still be readable
    * ([[readAsOf]]'s retention contract): with the default keep-2 window
    * only the immediately previous snapshot is safe to diff against;
    * [[setRetention]] widens the window so `diff(v − k, v)` holds for
    * k ≤ keepSnapshots − 1, and anything older fails loudly rather than
    * returning partial changes.
    */
  def diff(spark: SparkSession, root: String, fromVersion: Long, toVersion: Long,
      keyCols: Seq[String], table: String = SingleTable): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val beforeRaw = readAsOf(spark, root, fromVersion, table)
    val after     = readAsOf(spark, root, toVersion, table)
    // Additive evolution boundary: columns added between the two versions
    // NULL-fill the before-image (an old row whose added column is now
    // populated therefore classifies as an update — the correct CDC
    // reading of "this row gained data"). A VANISHED column still refuses:
    // its change classification would be undefined.
    val dropped = beforeRaw.columns.filterNot(after.columns.contains)
    require(dropped.isEmpty,
      s"column(s) ${dropped.mkString(",")} of '$table' vanished between " +
        s"versions $fromVersion and $toVersion — diff supports only " +
        "additive schema evolution")
    val before =
      if (beforeRaw.columns.sameElements(after.columns)) beforeRaw
      else {
        val have = beforeRaw.columns.toSet
        beforeRaw.select(after.columns.toSeq.map { c =>
          if (have(c)) col(c)
          else lit(null).cast(after.schema(c).dataType).as(c)
        }: _*)
      }
    // keys must exist in the FROM version too: a key column added by the
    // evolution would be all-NULL in every before-image, violating the
    // unique-non-null key precondition for the whole from-side
    val missing = keyCols.filterNot(beforeRaw.columns.contains)
    require(missing.isEmpty, s"key columns not in '$table': ${missing.mkString(",")}")
    // the discriminator and join temporaries are reserved: a source column
    // named `change` would silently duplicate in the output (ambiguous for
    // every downstream col("change")), so refuse loudly up front — the
    // jsonQuarantineStream `__corrupt` convention
    val reserved = Seq("change", "__before", "__after", "__e").filter(before.columns.contains)
    require(reserved.isEmpty,
      s"table '$table' already has reserved column(s) ${reserved.mkString(",")} — " +
        "rename them before diffing")
    val nonKey = before.columns.filterNot(keyCols.contains).toSeq
    // A constant lead field keeps the image struct non-empty even for an
    // all-key table; row absence is still tested on the struct itself
    // (an absent side of the full-outer join is a NULL struct, which no
    // present row can produce).
    def image(cols: Seq[String]) = struct(lit(1).as("__p") +: cols.map(col): _*)
    val b = before.select(keyCols.map(col) :+ image(nonKey).as("__before"): _*)
    val a = after.select(keyCols.map(col) :+ image(nonKey).as("__after"): _*)
    val j = b.join(a, keyCols, "full_outer")
    val changed = col("__before").isNotNull && col("__after").isNotNull &&
      !(col("__before") <=> col("__after"))
    def tagged(tag: String, img: String) =
      struct(lit(tag).as("change"), col(img).as("img"))
    val events = array(
      when(col("__before").isNull, tagged("insert", "__after")),
      when(col("__after").isNull, tagged("delete", "__before")),
      when(changed, tagged("update_pre", "__before")),
      when(changed, tagged("update_post", "__after")))
    j.select(keyCols.map(col) :+
        explode(filter(events, e => e.isNotNull)).as("__e"): _*)
      .select(keyCols.map(col) ++
        nonKey.map(c => col("__e").getField("img").getField(c).as(c)) :+
        col("__e").getField("change").as("change"): _*)
  }

  /** Max batch id committed under `guard` (-1 if none) — the replay
    * high-water mark. Per-guard max over the WHOLE log, not the last
    * commit's id: a compaction or a different checkpoint's commits in
    * between must not reset streaming replay tracking.
    */
  def lastApplied(spark: SparkSession, root: String, guard: String): Long = {
    val (fs, rp) = fsFor(spark, root)
    lastAppliedIn(listCommits(fs, rp), guard)
  }

  private def lastAppliedIn(commits: Seq[Commit], guard: String): Long =
    commits.filter(_.guard == guard).map(_.batchId).foldLeft(-1L)(math.max)

  /** Stage one table's rows (visible to nobody until a manifest referencing
    * the dir commits). The dir name carries the version being attempted (for
    * operator debuggability) and, when `token` is set, a unique writer token
    * — so concurrent committers never collide on a staged dir, and a lost
    * version race re-attempts with the SAME staged data (resolution follows
    * manifest entries, not dir-name parsing). A crashed attempt's dir is
    * unreferenced garbage that [[vacuum]] reclaims.
    */
  private[graft] def stage(root: String, v: Long, i: Int, table: String,
      df: DataFrame, token: String = ""): Entry = {
    require(!table.contains(" ") && !table.contains("/"), s"bad table name: $table")
    val rel = if (token.isEmpty) f"$v%020d-$i-$table" else f"$v%020d-$i-$table-$token"
    df.write.mode("overwrite").parquet(new Path(new Path(root, "data"), rel).toString)
    Entry("stage", table, rel) // mode filled in by commit
  }

  /** Move `tmp` to `target` only if `target` does not exist, atomically
    * across processes; false (and `tmp` left in place) if it does. On a
    * local filesystem a rename would replace a foreign writer's file
    * silently, so the claim is a hard link, which fails with
    * `FileAlreadyExistsException` when the target exists; the checksum
    * sidecar follows once the claim holds, then `tmp` goes. Other schemes
    * rename, which fails on an existing target there (HDFS, object-store
    * committers).
    */
  private[graft] def claim(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (fs.getUri.getScheme != "file") !fs.exists(target) && fs.rename(tmp, target)
    else {
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      try java.nio.file.Files.createLink(local(target), local(tmp))
      catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          val crc = local(c.getChecksumFile(tmp))
          if (java.nio.file.Files.exists(crc))
            java.nio.file.Files.move(crc, local(c.getChecksumFile(target)),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case _ => ()
      }
      java.nio.file.Files.delete(local(tmp))
      true
    }

  /** Per-root claim locks: in one JVM, the version claim is serialized, so
    * in-process concurrent committers never race the [[claim]] itself.
    */
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: Path): Object =
    rootLocks.computeIfAbsent(root.toString, _ => new Object)

  /** Atomically commit `writes` — each `(table, mode, rows)` with mode
    * `"replace"` or `"append"` — as one all-or-nothing version. Returns
    * false (nothing written) when `batchId` was already applied under
    * `guard` — the at-least-once replay skip. Plans in `writes` may read
    * this table's current snapshot: they execute against the resolved dirs
    * while staging writes NEW dirs, and GC keeps the previous snapshot, so
    * there is no read-while-overwrite hazard.
    *
    * Optimistic concurrency: the data is staged ONCE (under a unique writer
    * token), then up to `maxAttempts` version claims are attempted — each
    * re-listing the log, re-allocating the next version, and re-attempting
    * the manifest claim. Losing a claim costs one small manifest write,
    * never a data re-write. Only after `maxAttempts` straight losses (a
    * pathologically contended root) does the commit fail loudly — and the
    * staged dir is removed so nothing leaks.
    */
  def commit(spark: SparkSession, root: String,
      writes: Seq[(String, String, DataFrame)],
      guard: String = NoGuard, batchId: Long = -1L, maxAttempts: Int = 8): Boolean = {
    require(writes.nonEmpty, "commit needs at least one write")
    require(maxAttempts >= 1, "maxAttempts must be positive")
    writes.foreach { case (_, m, _) =>
      require(m == "replace" || m == "append", s"bad mode: $m") }
    val (fs, rp) = fsFor(spark, root)
    val token = java.util.UUID.randomUUID().toString.take(8)
    var entries: Seq[Entry] = null // staged lazily, exactly once
    // every write records its schema; the fold of these lines IS the
    // table's evolved read schema (same-table double writes: last wins,
    // matching resolveRel's entry order)
    val writeSchemas: Map[String, org.apache.spark.sql.types.StructType] =
      writes.map { case (t, _, df) =>
        // recorded nullable: an evolved read NULL-fills old files' missing
        // columns, so the read schema can never promise non-null
        t -> org.apache.spark.sql.types.StructType(
          df.schema.fields.map(_.copy(nullable = true)))
      }.toMap
    var attempt = 0
    while (attempt < maxAttempts) {
      val commits = listCommits(fs, rp)
      if (batchId >= 0 && lastAppliedIn(commits, guard) >= batchId) {
        // replayed batch lost the race to its twin: drop any staged garbage
        if (entries != null)
          entries.foreach(e => fs.delete(new Path(dataDir(rp), e.dir), true))
        return false
      }
      // Additive-evolution gate, re-checked per attempt against the FRESH
      // log (a concurrent writer may have evolved the table between
      // claims), and only after the replay skip — a replayed batch must
      // skip quietly, not fail its twin's gate. An append may add columns
      // but never change a shared column's type: readers NULL-fill by
      // name, and a type flip would corrupt every historical file's read.
      // Replace resets the schema, so it needs no check.
      try writes.foreach { case (table, mode, df) =>
        if (mode == "append") resolveSchema(commits, table).foreach { cur =>
          mergeAdditive(cur, df.schema, table) // throws on a type conflict
        }
      } catch { case e: Throwable =>
        // a later attempt may already have staged (a concurrent writer can
        // evolve the table between claims) — don't leak the staged dirs
        if (entries != null)
          entries.foreach(e2 => fs.delete(new Path(dataDir(rp), e2.dir), true))
        throw e
      }
      // allocate PAST any version a commit FILENAME claims, even unparseable
      // ones listCommits skipped — reusing such a number would make the
      // rename target exist forever and wedge the root
      val v = math.max(commits.lastOption.map(_.version).getOrElse(0L),
        maxClaimedVersion(fs, rp)) + 1
      if (entries == null) {
        // Stage the writes CONCURRENTLY: each stages into its own new dir,
        // so the jobs are independent until the manifest claim, and a
        // multi-table commit's staging wall is the largest write, not the
        // sum. Entry order is preserved, so same-table double writes keep
        // their last-wins resolution. When any write fails, Concurrent.all
        // cancels the siblings' jobs and waits for them; every dir staged
        // so far is then deleted before the rethrow, so nothing leaks
        // until vacuum.
        val stagedSoFar = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
        entries =
          try Concurrent.all(spark)(writes.zipWithIndex.map { case ((table, mode, df), i) =>
            () => {
              val e = stage(root, v, i, table, df, token).copy(mode = mode)
              stagedSoFar.add(e)
              e
            }
          })
          catch { case e: Throwable =>
            stagedSoFar.forEach(se => // best-effort: never mask the cause
              try fs.delete(new Path(dataDir(rp), se.dir), true)
              catch { case _: Throwable => () })
            throw e
          }
      }
      // temp manifest + claim: the ONE atomic step. A reader lists the log
      // before or after the claim; there is no in-between.
      val target = commitPath(rp, v)
      val tmp = new Path(logDir(rp), f".$v%020d-$token.tmp")
      val out = fs.create(tmp, true)
      try out.write(renderManifest(guard, batchId, entries, token, writeSchemas)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val claimed = lockFor(rp).synchronized(claim(fs, tmp, target))
      if (claimed) {
        // re-list for GC: commits interleaved by OTHER writers since our
        // listing must count as live references
        gc(fs, rp, listCommits(fs, rp))
        return true
      }
      fs.delete(tmp, false) // lost this version to a concurrent writer
      attempt += 1
    }
    entries.foreach(e => fs.delete(new Path(dataDir(rp), e.dir), true))
    throw new java.io.IOException(
      s"commit conflict at $root: lost the version claim $maxAttempts times " +
        "to concurrent writers")
  }

  /** Replace `table` with `rows` in one commit (batch-job form). */
  def replace(spark: SparkSession, root: String, rows: DataFrame,
      table: String = SingleTable, guard: String = NoGuard, batchId: Long = -1L): Boolean =
    commit(spark, root, Seq((table, "replace", rows)), guard, batchId)

  /** Append `rows` to `table` in one commit (batch-job form). */
  def append(spark: SparkSession, root: String, rows: DataFrame,
      table: String = SingleTable, guard: String = NoGuard, batchId: Long = -1L): Boolean =
    commit(spark, root, Seq((table, "append", rows)), guard, batchId)

  /** Fold `table`'s accumulated append dirs (and their small files) into
    * one compacted `replace` commit sized from the actual on-disk bytes —
    * [[Storage.compactTo]]'s economics with an atomic swap: readers see the
    * old file set or the new one, never a mix, and streaming replay
    * tracking is untouched ([[NoGuard]]). Returns (files before, after).
    */
  def compact(spark: SparkSession, root: String, table: String = SingleTable,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (fs, rp) = fsFor(spark, root)
    val files = dataFiles(fs, rp, resolveRel(listCommits(fs, rp), table))
    require(files.nonEmpty, s"no committed data for table '$table' under $root")
    val totalBytes = files.map(fs.getFileStatus(_).getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // read() (not a raw file scan): mixed-schema dirs from additive
    // evolution must compact under the evolved schema, NULL-filled
    val compacted = read(spark, root, table).repartition(nOut)
    replace(spark, root, compacted, table)
    val after = {
      val (fs2, rp2) = fsFor(spark, root)
      dataFiles(fs2, rp2, resolveRel(listCommits(fs2, rp2), table)).length
    }
    (files.length, after)
  }

  /** Delete data dirs referenced by NONE of the last `keepSnapshots`
    * resolved states ([[setRetention]]; default 2 — current plus one
    * superseded snapshot of grace for in-flight readers). Staged dirs of
    * versions above the log (a writer mid-stage) are never touched; use
    * [[vacuum]] for crashed-stage garbage.
    */
  private def gc(fs: FileSystem, root: Path, commits: Seq[Commit]): Unit = {
    if (commits.size < 2) return
    val keep = readRetention(fs, root)
    val tables = commits.flatMap(_.entries.map(_.table)).distinct
    // union of each retained version's resolved state — dropRight past the
    // log's start resolves to nothing, so a young table retains everything
    val live = (0 until keep).flatMap { i =>
      val asOf = commits.dropRight(i)
      tables.flatMap(t => resolveRel(asOf, t))
    }.toSet
    val referenced = commits.flatMap(_.entries.map(_.dir)).toSet
    (referenced -- live).foreach(d => fs.delete(new Path(dataDir(root), d), true))
    checkpointLog(fs, root, commits, keep)
  }

  /** Fold the manifest prefix into one checkpoint file once enough raw
    * manifests accumulate. The newest `keep − 1` commits stay raw files —
    * the fold captures the state `keep − 1` versions back, so gc's
    * retained-snapshot grace window ([[setRetention]]) survives
    * checkpointing and [[readAsOf]] can still resolve every retained
    * version. Ordering is crash-safe: the checkpoint lands by atomic
    * claim FIRST; the folded manifests are deleted after, and the reader
    * tolerates both being present (it ignores manifests at or below the
    * checkpoint).
    */
  private def checkpointLog(fs: FileSystem, root: Path, commits: Seq[Commit],
      keep: Int): Unit = {
    val ld = logDir(root)
    val rawNames = fs.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
    if (rawNames.size < LogCheckpointEvery || commits.size < keep) return
    val prefix = commits.dropRight(keep - 1)
    if (prefix.isEmpty) return
    val v      = prefix.map(_.version).max
    val guardLines = prefix
      .filter(c => c.guard != NoGuard && c.batchId >= 0)
      .groupBy(_.guard).toSeq.sortBy(_._1)
      .map { case (g, cs) => s"guardmax $g ${cs.map(_.batchId).max}" }
    val tables = prefix.flatMap(_.entries.map(_.table)).distinct.sorted
    val entryLines = tables.flatMap { t =>
      resolveRel(prefix, t) match {
        case Seq()          => Seq.empty[String]
        case first +: rest  => s"replace $t $first" +: rest.map(d => s"append $t $d")
      }
    }
    // the fold must not lose evolution state: each table's prefix-resolved
    // schema rides the checkpoint (the synthetic replace re-seeds the
    // resolveSchema fold); an unknown (legacy) schema emits nothing and
    // the table keeps its footer-inference behavior
    val schemaLines = tables.flatMap(t =>
      resolveSchema(prefix, t).map(s => s"schema $t ${encodeSchema(s)}"))
    val body = (Seq("graft-txck v1") ++ guardLines ++ schemaLines ++ entryLines).mkString("\n")
    val tmp = new Path(ld, f".$v%020d.ckpt.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // a concurrent committer's gc may fold the same prefix first: its
    // checkpoint of version v holds exactly this body, so losing is fine
    if (!claim(fs, tmp, ckptPath(root, v))) {
      fs.delete(tmp, false)
      if (!fs.exists(ckptPath(root, v)))
        throw new java.io.IOException(s"checkpoint claim failed at version $v")
    }
    // prune what the checkpoint folded: manifests <= v, checkpoints < v
    fs.listStatus(ld).foreach { st =>
      val n = st.getPath.getName
      val folded =
        (n.endsWith(".commit") && n.stripSuffix(".commit").toLongOption.exists(_ <= v)) ||
        (n.endsWith(".ckpt") && n.stripSuffix(".ckpt").toLongOption.exists(_ < v))
      if (folded) fs.delete(st.getPath, false)
    }
  }

  /** Delete data dirs referenced by NO commit — crashed-stage leftovers.
    * Only dirs older than `olderThanMs` (by modification time, default 1 h)
    * are touched: an unreferenced dir younger than that may be a LIVE
    * writer's staging area (optimistic commits stage before they claim a
    * version), and deleting it would let that writer commit a manifest
    * whose data is gone — silent row loss, since readers skip missing
    * dirs. Pass 0 only when no writer can be mid-commit on this root.
    */
  def vacuum(spark: SparkSession, root: String, olderThanMs: Long = 3600000L): Int = {
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val (fs, rp) = fsFor(spark, root)
    val dd = dataDir(rp)
    if (!fs.exists(dd)) return 0
    val referenced = listCommits(fs, rp).flatMap(_.entries.map(_.dir)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = fs.listStatus(dd).toSeq
      .filter(st => !referenced(st.getPath.getName) && st.getModificationTime <= cutoff)
      .map(_.getPath)
    orphans.foreach(fs.delete(_, true))
    orphans.length
  }
}
