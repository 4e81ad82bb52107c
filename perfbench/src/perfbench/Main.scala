package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.{Pipeline, Sessions, SparkEntry, Tables}
import graft.ops.{Excel, TxTable}

/** JVM side of the benchmark: one fresh engine, one workload, a first pass
  * and then warm passes, every layer timed from outside the engine.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *     --data DIR --work DIR --t0-ms EPOCH_MS [--uploads DIR] [--setup-only 1]
  *
  * The last stdout line is `PERFBENCH <json>`; the launcher checks outputs
  * and turns it into metrics. `setup_s` is always in it: launch (`--t0-ms`,
  * taken by the launcher just before it starts the JVM) to a ready engine.
  * With `--setup-only` the JVM only sets up, stops and reports that.
  */
object Main {
  /** SparkEntry query numbers per workload (queries resolve by `q<n>_`
    * prefix): curation kernels whose work count() used to prune, then
    * iterative and quantile loops dominated by pins and driver barriers.
    */
  val Workloads: Map[String, Seq[Int]] = Map(
    "queries" -> Seq(56, 77, 116, 121, 204, 63, 117, 147))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spark = Sessions.local(opt("cpus"))
    Tables.registerAll(spark, opt("data"))
    val setupS = (System.currentTimeMillis() - opt("t0-ms").toLong) / 1e3
    val out = try (if (opt.contains("setup-only")) Map.empty[String, Any] else new Run(spark, opt).apply())
      finally spark.stop()
    println("PERFBENCH " + Json(out + ("setup_s" -> setupS)))
  }
}

/** One op execution in one pass. */
final case class OpRun(name: String, wall: Double, cpu: Double, pins: Int, pinnedMb: Double,
    error: Option[String])

final class Run(spark: org.apache.spark.sql.SparkSession, opt: Map[String, String]) {
  private val sc       = spark.sparkContext
  private val data     = opt("data")
  private val work     = new File(opt("work"))
  private val workload = opt("workload")
  private val seed     = opt("seed").toLong
  private val traceRun = opt("trace") == "1"
  private val Phase    = "perfbench.phase"

  private val probe  = new Probe
  private val tracer = new Tracer
  sc.addSparkListener(probe)
  spark.listenerManager.register(probe)

  private def flush(): Unit = ListenerBridge.flush(sc)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).sum
  /** This JVM's threads as (name, path of the kernel's schedstat for the
    * thread, whose first field is its run time in ns); none without /proc.
    */
  private def threads(): Seq[(String, java.nio.file.Path)] =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.map { t =>
      scala.util.Try(Files.readString(new File(t, "comm").toPath).trim).getOrElse("") ->
        new File(t, "schedstat").toPath
    }
  private def runNs(schedstat: java.nio.file.Path): Long =
    scala.util.Try(Files.readString(schedstat).trim.split(' ')(0).toLong).getOrElse(0L)

  /** The JIT compiler threads. The launcher turns off dynamic compiler
    * threads, so the ones found at start-up are all there are.
    */
  private val compilerThreads = threads().collect {
    case (n, p) if n.startsWith("C1 CompilerThre") || n.startsWith("C2 CompilerThre") => p
  }
  private def jitNs(): Long = compilerThreads.map(runNs).sum

  /** Run time of the live threads by name family (digits dropped), ns:
    * where the process CPU went, for the artifact.
    */
  private def threadFamilies(): Map[String, Long] =
    threads().groupBy(_._1.replaceAll("[0-9]+", "#")).map { case (k, v) => k -> v.map(t => runNs(t._2)).sum }
  private val jvmPasses = mutable.ArrayBuffer.empty[Seq[Double]] // per pass: GC s, JIT CPU s

  private val errors      = mutable.LinkedHashMap.empty[String, String]
  private var attempted   = 0
  private var failedRuns  = 0

  private def mb(b: Long) = b / 1048576.0
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Run one op: wall and process CPU around `body`, then (untimed) count
    * the RDDs it pinned, sample block-manager storage, and free the pins so
    * ops stay independent.
    */
  private def runOp(pass: Int, name: String)(body: String => Unit): OpRun = {
    val id = s"$pass/$name"
    probe.current = id
    probe.newOp()
    val before = sc.getPersistentRDDs.keys.toSet
    sc.setLocalProperty(Phase, s"a|$id")
    val (c0, j0) = (cpuNs(), jitNs())
    val t0 = System.nanoTime()
    val err =
      try { tracer.span(name, id)(body(id)); None }
      catch { case e: Throwable => Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu  = (cpuNs() - c0 - (jitNs() - j0)) / 1e9 // JIT compiler threads excluded
    sc.setLocalProperty(Phase, null)
    attempted += 1
    err.foreach { e => failedRuns += 1; errors.getOrElseUpdate(name, e) }
    flush()
    val fresh  = sc.getPersistentRDDs.keys.toSet -- before
    val pinned = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    OpRun(name, wall, cpu, fresh.size, mb(pinned), err)
  }

  /** Run an untimed output check; the blocks it stores are not peaks. */
  private def checking[T](f: => T): T = {
    probe.checking = true
    try f finally { flush(); probe.checking = false }
  }

  private def releasePins(): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  // ---- per-layer accounting (traced passes) --------------------------------

  private def layerTotals(id: String, into: mutable.Map[String, Double]): Unit = {
    def add(k: String, v: Double): Unit = into(k) = into.getOrElse(k, 0.0) + v
    Option(probe.phases.get(s"b|$id")).foreach { b =>
      add("SparkEntry.build_jobs", b.jobs.toDouble)
      add("shuffle.write_mb", mb(b.shufW)); add("shuffle.read_mb", mb(b.shufR)); add("spill_mb", mb(b.spill))
    }
    Option(probe.phases.get(s"a|$id")).foreach { a =>
      add("exec.jobs", a.jobs.toDouble); add("exec.stages", a.stages.toDouble)
      add("exec.tasks", a.tasks.toDouble)
      add("exec.stage_busy_s", Intervals.union(a.intervals.toSeq) / 1e3)
      add("exec.task_cpu_s", a.taskCpuNs / 1e9); add("exec.gc_s", a.gcMs / 1e3)
      add("shuffle.write_mb", mb(a.shufW)); add("shuffle.read_mb", mb(a.shufR)); add("spill_mb", mb(a.spill))
      val skew = a.taskMs.filter(_.length >= 2).map { t =>
        val s = t.sorted
        s.last.toDouble / math.max(s(s.length / 2), 10L) // tasks under 10 ms are scheduling noise
      }
      into("exec.skew_max") = (skew :+ into.getOrElse("exec.skew_max", 1.0)).max
    }
    Option(probe.catalyst.get(id)).foreach { c =>
      add("catalyst.analysis_s", c.analysisMs / 1e3)
      add("catalyst.optimization_s", c.optimizationMs / 1e3)
      add("catalyst.planning_s", c.planningMs / 1e3)
    }
  }

  private def forget(id: String): Unit = {
    probe.phases.remove(s"b|$id"); probe.phases.remove(s"a|$id"); probe.catalyst.remove(id)
  }

  // ---- SparkEntry workloads ------------------------------------------------

  private def nodeNames(p: LogicalPlan): Map[String, Int] =
    p.collect { case n => n.nodeName }.groupBy(identity).map { case (k, v) => k -> v.size }

  private def scannedTables(p: LogicalPlan): Set[String] =
    p.collectLeaves().collect { case l: LogicalRelation => l.relation }.collect {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.toSet

  private final class QueryWorkload(queries: Seq[String]) {
    val coverage     = mutable.LinkedHashMap.empty[String, Any]
    val fingerprints = mutable.Map.empty[String, Any]
    val inputTables  = mutable.Map.empty[String, Set[String]]

    /** Rows of the input tables each query scans, summed over the queries;
      * counted after the timed passes so the counts warm nothing.
      */
    def inputRows(): Long = {
      val rows = inputTables.values.flatten.toSet
        .map((t: String) => t -> spark.read.parquet(s"$data/$t.parquet").count()).toMap
      inputTables.values.map(_.toSeq.map(rows).sum).sum
    }

    /** One query op: build the plan (SparkEntry), then materialize all of
      * it through the noop sink. With `check` (the unreported warm-up pass),
      * check untimed after the op that the sink's plan kept every node of
      * the query's optimized plan, record which input tables the op's
      * executions scanned, and fingerprint the result.
      */
    def op(pass: Int, q: String, layers: Option[mutable.Map[String, Double]], check: Boolean): OpRun = {
      var df: DataFrame = null
      var buildS, actS = 0.0
      val r = runOp(pass, q) { id =>
        sc.setLocalProperty(Phase, s"b|$id")
        val (d, b) = tracer.span("SparkEntry.build", id)(SparkEntry.queries(q)(spark, data))
        df = d; buildS = b
        sc.setLocalProperty(Phase, s"a|$id")
        actS = tracer.span("noop.action", id)(d.write.format("noop").mode("overwrite").save())._2
      }
      val id = s"$pass/$q"
      if (r.error.isEmpty && check) {
        val execs = Option(probe.catalyst.get(id)).map(_.executions.toSeq).getOrElse(Nil)
        val sink  = execs.map(_.optimizedPlan).collectFirst { case w: V2WriteCommand => w.query }
        val want  = nodeNames(df.queryExecution.optimizedPlan)
        val got   = sink.map(nodeNames).getOrElse(Map.empty)
        val ok    = sink.nonEmpty && want.forall { case (k, n) => got.getOrElse(k, 0) >= n }
        coverage(q) = Seq(ok, want.values.sum, got.values.sum)
        inputTables(q) = execs.flatMap(qe => scannedTables(qe.optimizedPlan)).toSet
      }
      layers.foreach { m =>
        m("SparkEntry.build_s") = m.getOrElse("SparkEntry.build_s", 0.0) + buildS
        m("exec.s") = m.getOrElse("exec.s", 0.0) + actS
        Option(df).foreach { d =>
          val ph = d.queryExecution.tracker.phases
          m("catalyst.analysis_s") = m.getOrElse("catalyst.analysis_s", 0.0) +
            ph.get("analysis").map(_.durationMs).getOrElse(0L) / 1e3
        }
        layerTotals(id, m)
      }
      if (check) fingerprints(q) = checking {
        if (r.error.nonEmpty) Seq(-1, "failed")
        else try { val (n, h) = Fingerprint.of(df); Seq(n, h) }
        catch { case e: Throwable => Seq(-1, e.getClass.getSimpleName) }
      }
      forget(id)
      releasePins()
      r
    }
  }

  // ---- cortex_etl ----------------------------------------------------------

  private final class CortexWorkload(uploads: Seq[File]) {
    var files = (0, 0)
    var last: Map[String, DataFrame] = Map.empty
    var lastIngested: Seq[DataFrame] = Nil
    var lastDir: File = null

    def pass(p: Int, layers: Option[mutable.Map[String, Double]]): Seq[OpRun] = {
      val dir = new File(work, s"cortex/p$p")
      deleteTree(dir)
      dir.mkdirs()
      val root = new File(dir, "tx").getPath
      var raw: Seq[Seq[Seq[Any]]] = Nil
      var ingested: Seq[DataFrame] = Nil
      var catalog: Map[String, DataFrame] = Map.empty
      val steps: Seq[(String, () => Unit)] = Seq(
        "Excel.readRaw" -> (() => raw = uploads.map(f => Excel.readRaw(f.getPath))),
        "Pipeline.ingestRaw" -> (() => ingested = raw.map(Pipeline.ingestRaw(spark, _))),
        "Pipeline.run" -> (() => catalog = Pipeline.run(ingested)),
        "Pipeline.exportCatalog" -> (() => Pipeline.exportCatalog(catalog, new File(dir, "catalog").getPath)),
        "TxTable.append" -> (() => ingested.foreach(d => TxTable.append(spark, root, Pipeline.normalizeUpload(d)))),
        "TxTable.compact" -> (() => files = TxTable.compact(spark, root)),
        "TxTable.read" -> (() => TxTable.read(spark, root).groupBy("endpoint_status").count().collect()),
        "Pipeline.exportCatalogXlsx" -> (() => Pipeline.exportCatalogXlsx(catalog, new File(dir, "catalog.xlsx").getPath)))
      var failed = false
      val runs = steps.map { case (name, f) =>
        if (failed) { attempted += 1; failedRuns += 1; OpRun(name, 0, 0, 0, 0, Some("skipped")) }
        else {
          val r = runOp(p, name)(_ => f())
          failed = r.error.nonEmpty
          val id = s"$p/$name"
          layers.foreach { m =>
            m(s"${name}_s") = r.wall
            m("exec.s") = m.getOrElse("exec.s", 0.0) + r.wall
            layerTotals(id, m)
          }
          forget(id)
          r
        }
      }
      releasePins()
      layers.foreach { m =>
        m("TxTable.files_before") = files._1
        m("TxTable.files_after") = files._2
        m("TxTable.bytes_per_input_byte") = dirBytes(new File(root)).toDouble / uploads.map(_.length).sum
      }
      last = catalog; lastIngested = ingested; lastDir = dir
      runs
    }

    var checked: Map[String, Any] = Map("error" -> "not checked")

    /** Untimed output check of the latest pass: the workbook read back equals
      * the catalog's first table, the transactional table holds the sum of
      * the batches, and the catalog summaries for the launcher's model.
      */
    def check(): Unit = checked = try {
      def cells(r: Seq[Any]) = r.map(v => if (v == null) null else v.toString)
      val base     = last("base_limpa")
      val sheet    = Excel.readRaw(new File(lastDir, "catalog.xlsx").getPath)
      val width    = base.columns.length
      val fromXlsx = sheet.tail.map(r => cells(r).padTo(width, null)).sortBy(_.mkString("\u0001"))
      val fromCat  = base.collect().toSeq.map(r => cells(r.toSeq)).sortBy(_.mkString("\u0001"))
      val txRows   = TxTable.read(spark, new File(lastDir, "tx").getPath).count()
      def counts(name: String) = last.get(name).toSeq.flatMap(_.collect().toSeq)
        .map((r: Row) => (if (r.isNullAt(0)) "null" else r.get(0).toString) -> r.getLong(1)).toMap
      Map(
        "xlsx_equals_catalog" -> (cells(sheet.head) == base.columns.toSeq && fromXlsx == fromCat),
        "tx_rows" -> txRows, "batch_rows" -> lastIngested.map(_.count()).sum,
        "base_rows" -> fromCat.size,
        "falhas_rows" -> last.get("falhas_upgrade").map(_.count()).getOrElse(-1L),
        "resumo_status" -> counts("resumo_status"), "resumo_os" -> counts("resumo_os"))
    } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
  private def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  // ---- host stamp -----------------------------------------------------------

  /** Fixed single-thread calibration: 100M xorshift steps, in M steps/s. */
  private def calibration(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    100.0 / s + (x & 1L) * 1e-9
  }

  // ---- the run --------------------------------------------------------------

  def apply(): Map[String, Any] = {
    val seconds = opt("seconds").toDouble
    val queries = Main.Workloads.get(workload).map(_.map { n =>
      SparkEntry.queries.keys.find(_.startsWith(s"q${n}_"))
        .getOrElse(sys.error(s"no SparkEntry query q$n"))
    })
    val qw = queries.map(new QueryWorkload(_))
    val cw = opt.get("uploads").filter(_ => queries.isEmpty).map { d =>
      new CortexWorkload(Option(new File(d).listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".xlsx")).sortBy(_.getName))
    }
    require(qw.nonEmpty || cw.nonEmpty, s"unknown workload $workload")

    /** One pass over the workload; query order is shuffled per pass by the
      * seed. With `check`, every output is checked, untimed, after its op
      * (cortex_etl: after the pass).
      */
    def pass(p: Int, layers: Option[mutable.Map[String, Double]], check: Boolean = false): Seq[OpRun] = {
      val (gc0, jit0) = (gcMs(), jitNs())
      probe.tracing = layers.nonEmpty
      tracer.on = layers.nonEmpty
      val runs = qw match {
        case Some(w) =>
          new Random(seed * 1000003L + p).shuffle(queries.get).map(q => w.op(p, q, layers, check))
        case None =>
          val runs = cw.get.pass(p, layers)
          if (check) checking(cw.get.check())
          runs
      }
      probe.tracing = false
      tracer.on = false
      jvmPasses += Seq((gcMs() - gc0) / 1e3, (jitNs() - jit0) / 1e9)
      System.gc()
      runs
    }

    // Pass 0 is the cold first pass, with nothing untimed between its ops.
    // Pass 1 is not reported: the JIT is still compiling hard and its walls
    // sit on the warm-up slope; every output is checked on it, untimed.
    // Warm passes follow for `seconds`, at least three so each op's median
    // has a middle.
    val tRun  = System.nanoTime()
    val first = pass(0, None)
    pass(1, None, check = true)
    val warm  = mutable.ArrayBuffer.empty[(Seq[OpRun], Option[mutable.Map[String, Double]])]
    val tWarm = System.nanoTime()
    val threads0 = threadFamilies()
    while (warm.length < 3 || (System.nanoTime() - tWarm) / 1e9 < seconds) {
      val layers = if (traceRun && warm.length % 2 == 0) Some(mutable.Map.empty[String, Double]) else None
      warm += (pass(warm.length + 2, layers) -> layers)
    }

    def wall(rs: Seq[OpRun]) = rs.map(_.wall).sum
    /** Sum over ops of each op's median across `passes`. */
    def perOpMedian(passes: Seq[Seq[OpRun]], f: OpRun => Double) =
      passes.flatten.groupBy(_.name).values.map(rs => median(rs.map(f))).sum
    val untracedRuns = warm.collect { case (rs, None) => rs }.toSeq
    val untraced = warm.collect { case (rs, None) => wall(rs) }.toSeq
    val traced   = warm.collect { case (rs, Some(m)) => (rs, m) }.toSeq
    val layers: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val keys = traced.flatMap(_._2.keys).distinct
        val base = keys.map(k => k -> median(traced.map(_._2.getOrElse(k, 0.0)))).toMap
        val ops  = if (qw.isEmpty) Map.empty else
          traced.flatMap(_._1).groupBy(_.name).map { case (n, rs) => s"op.${n}_s" -> median(rs.map(_.wall)) }
        val pins = traced.map(_._1.map(_.pins).sum.toDouble)
        base ++ ops ++ Map(
          "Checkpoints.pins" -> median(pins),
          "Checkpoints.pinned_mb" -> median(traced.map(_._1.map(_.pinnedMb).sum)),
          "exec.barrier_s" -> (base.getOrElse("exec.s", 0.0) - base.getOrElse("exec.stage_busy_s", 0.0)),
          "trace.overhead_s" -> (median(traced.map(t => wall(t._1))) - median(untraced)))
      }
    val checks: Map[String, Any] = qw.map(w => Map[String, Any](
      "fingerprints" -> w.fingerprints, "coverage" -> w.coverage,
      "input_rows" -> w.inputRows())).getOrElse(Map("cortex" -> cw.get.checked))
    val traceFile = new File(work, s"trace-$workload-$seed.jsonl")
    if (traceRun) {
      val w = new java.io.PrintWriter(traceFile)
      try tracer.spans.foreach(s => w.println(Json(Map("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))))
      finally w.close()
    }
    checks ++ Map(
      "first_pass_s" -> wall(first),
      "phase_s" -> Map("first_and_warmup" -> (tWarm - tRun) / 1e9, "warm" -> (System.nanoTime() - tWarm) / 1e9),
      "warm_walls" -> untraced,
      "jvm_gc_jit_s" -> jvmPasses,
      "warm_cpu" -> untracedRuns.map(_.map(_.cpu).sum),
      "warm_thread_cpu_s" -> threadFamilies().map { case (k, v) => k -> (v - threads0.getOrElse(k, 0L)) / 1e9 }
        .filter(_._2 > 0.05),
      "wall_s" -> perOpMedian(untracedRuns, _.wall),
      "cpu_s" -> perOpMedian(untracedRuns, _.cpu),
      "traced_walls" -> traced.map(t => wall(t._1)),
      "op_walls" -> (first +: warm.map(_._1).toSeq).flatten.groupBy(_.name)
        .map { case (n, rs) => n -> rs.map(_.wall) },
      "storage_peak_mb" -> mb(probe.storagePeak),
      "attempted" -> attempted,
      "failed_runs" -> failedRuns,
      "errors" -> errors,
      "layers" -> layers,
      "self_s" -> (if (traceRun) tracer.selfSeconds else Map.empty),
      "trace_file" -> (if (traceRun) traceFile.getPath else null),
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(), "jit_threads" -> compilerThreads.size,
        "heap_max_mb" -> mb(Runtime.getRuntime.maxMemory), "calib_msteps_s" -> calibration()))
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                          => "null"
    case s: String                     => q(s)
    case b: Boolean                    => b.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                        => n.toString
    case n: Long                       => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                => s.map(apply).mkString("[", ",", "]")
    case o                             => q(o.toString)
  }
}
