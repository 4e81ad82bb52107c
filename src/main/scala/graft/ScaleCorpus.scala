package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility, and the repo's one corpus replicator: materialize a
  * CONSISTENT ×N replication of the whole testdata directory. Bench runs the
  * full 222-query suite over it (the ×10/×100 points of SCALING.md), and
  * [[ScaleBench]] reads its 1× and f× corpora for the operator families no
  * query scales. Every table is scaled AT ONCE with foreign keys kept valid,
  * which is what the suite's join-shaped queries need:
  *
  *  - every replica offsets each key DOMAIN by the same stride
  *    (`o_custkey` moves with `c_custkey`, `l_orderkey` with
  *    `o_orderkey`, …), so FK joins land exactly as in the source;
  *  - `region`/`nation` are copied once, not replicated — TPC-H dimension
  *    tables are fixed-size at every SF, and replica rows keep pointing
  *    at them;
  *  - `documents.text` gets a per-replica two-alphabet rotation (injective
  *    to ×100) and `embeddings.embedding` a deterministic ±0.15 jitter keyed
  *    by the offset `vec_id`, so dedup/ANN statistics stay corpus-like
  *    instead of measuring the pathological N-way-clone path;
  *  - `events.value` / `lineitem.l_extendedprice` get sub-0.1%
  *    deterministic jitter so numeric DISTINCT domains grow ∝ rows —
  *    without it, domain-bound operators (CDFs, exact quantiles, heavy
  *    hitters) are probed on the one axis they are insensitive to;
  *  - replica 0 is the byte-identical source, so fixtures that rely on
  *    canonical ids (IVF seeds `vec_id < 8`, the flood corpus `doc_id <
  *    50`) still find them;
  *  - outputs are written multi-file (the source is single-row-group
  *    parquet, unsplittable — honest scan parallelism at 10× needs real
  *    files).
  *
  * `ScaleCorpusSpec` pins this contract. Usage: `runMain graft.ScaleCorpus
  * [replicas] [outDir]` with `SPARK_GRAFT_SF_DIR` (default sf0.1; out dir
  * default [[defaultDir]]); then point Bench at the out dir.
  */
object ScaleCorpus {

  // Two DISJOINT 10-char alphabets. Each replica's text transform is the
  // composition of a vowel-ish rotation keyed by i%10 and a consonant
  // rotation keyed by (i/10)%10 — 100 distinct transforms, injective over
  // the whole replicas-in-[1,100] domain. A single 10-char rotation keyed
  // by i%10 (rounds 8–9) repeated at i, i+10, i+20: at ×30 every document
  // appeared 3× byte-identical, re-introducing exactly the clone-flood
  // path SCALING.md claims is avoided. For i<10 the second rotation is
  // the identity, so ×10-and-below corpora are unchanged.
  private[graft] val alphabet  = "aeiounstrl"
  private[graft] val alphabet2 = "bcdfghjkmp"
  private[graft] val Stride    = 10000000L // asserted per table below

  // per-table key columns that move together (the FK contract)
  private[graft] val keyCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The default home of the ×n corpus of `sfDir`: one dir per (source, n). */
  def defaultDir(sfDir: String, n: Int): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Tables.targetPath(s"scale_suite/${tag}_x$n")
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse(defaultDir(sfDir, n))
    val spark = Sessions.local()
    build(spark, sfDir, n, outDir)
    spark.stop()
  }

  /** Write the ×n corpus of `sfDir` to `outDir` and return `outDir`.
    * Write-once per table: a table whose `_SUCCESS` marker exists is reused,
    * so every caller of one (source, n) shares one corpus.
    */
  def build(spark: SparkSession, sfDir: String, n: Int, outDir: String): String = {
    require(n >= 1 && n <= 100, "replicas in [1, 100]")
    def off(c: String, i: Int): Column = col(c) + lit(i * Stride)
    def replica(name: String, df: DataFrame, i: Int): DataFrame = {
      val keyed = keyCols(name).foldLeft(df)((d, k) => d.withColumn(k, off(k, i)))
      name match {
        // TPC-H names embed the key ("Customer#000000042"): regenerate them
        // from the OFFSET key so replica names stay unique, as real sf1
        // data's would — cloned names would flood q106's deletion-variant
        // blocks with 10-way duplicates (the pathological path, not growth)
        case "customer" if i > 0 =>
          keyed.withColumn("c_name",
            format_string("Customer#%09d", col("c_custkey")))
        case "supplier" if i > 0 =>
          keyed.withColumn("s_name",
            format_string("Supplier#%09d", col("s_suppkey")))
        case "documents" if i > 0 =>
          def rotate(a: String, k: Int) = a.drop(k % a.length) + a.take(k % a.length)
          val rot  = rotate(alphabet, i % alphabet.length)
          val rot2 = rotate(alphabet2, (i / alphabet.length) % alphabet2.length)
          keyed.withColumn("text",
            translate(translate(col("text"), alphabet, rot), alphabet2, rot2))
        case "embeddings" if i > 0 =>
          keyed.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              x + ((pmod(hash(col("vec_id"), lit(i), j), lit(1000)) / lit(1000.0)) - 0.5) * 0.3)
              .cast("array<float>"))
        // Value-domain growth axis (round-10 verdict #3): id-offset
        // replication with identical measure values holds numeric DISTINCT
        // domains fixed while rows grow — the one axis domain-bound
        // operators (ksDrift CDFs, exact quantiles, heavy hitters, z-order
        // cells) are insensitive to, which is what masked ksDrift's
        // single-task CDF sort until round 10. Each replica therefore
        // jitters its measure columns by a deterministic hash-keyed offset
        // in [0, ~0.001) — sub-cent on prices, sub-0.1% on event values —
        // so distinct values scale ∝ rows as real data's would while the
        // distribution every other query sees is unmoved. Replica 0 stays
        // byte-identical.
        case "events" if i > 0 =>
          keyed.withColumn("value", when(col("value").isNotNull,
            col("value") +
              pmod(hash(col("event_id"), lit(i)), lit(1000003)) / lit(1.0e9)))
        case "lineitem" if i > 0 =>
          keyed.withColumn("l_extendedprice",
            col("l_extendedprice") +
              pmod(hash(col("l_orderkey"), col("l_linenumber"), lit(i)), lit(1000003)) /
                lit(1.0e9))
        case _ => keyed
      }
    }

    def writeOnce(name: String, mk: => DataFrame, parts: Int): Unit = {
      val path = s"$outDir/$name.parquet"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        mk.repartition(parts).write.mode("overwrite").parquet(path)
        println(s"[scalecorpus] wrote $path")
      } else println(s"[scalecorpus] reusing $path")
    }

    for (dim <- Seq("region", "nation"))
      writeOnce(dim, Tables.t(spark, sfDir, dim), 1)
    for (name <- keyCols.keys.toSeq.sorted) {
      val src = Tables.t(spark, sfDir, name) // events: ns→µs ts conversion applied
      // FK safety: replica key ranges are disjoint only if every source key
      // domain fits under the stride. Pointed at a bigger source (sf>=2,
      // where o_orderkey exceeds 10^7) overlap would corrupt every
      // join-shaped bench number SILENTLY — so fail loudly instead.
      val maxKeys = src.select(keyCols(name).map(k => max(col(k)).cast("long").as(k)): _*)
        .head()
      keyCols(name).zipWithIndex.foreach { case (k, j) =>
        val m = if (maxKeys.isNullAt(j)) 0L else maxKeys.getLong(j)
        require(m < Stride,
          s"$name.$k max $m >= stride $Stride; raise Stride for this source")
      }
      writeOnce(name, (0 until n).map(replica(name, src, _)).reduce(_ unionByName _),
        parts = 32)
    }
    println(s"[scalecorpus] done: $outDir (x$n of $sfDir)")
    outDir
  }
}
