package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Aggregation surface (SURVEY §2.7–2.8). All stock Spark hash aggregates —
  * partial (map-side) + final pairs come free, which is the 100 TB answer:
  * the shuffle carries one partial row per (task, group), not the raw data.
  */
object Summaries {

  /** A1 — category frequency table (reference `app.py:245-261`,
    * `groupby(c, dropna=False).size()`): NULL is its own group, which is
    * Spark GROUP BY semantics already. Sorted by count desc then key for a
    * deterministic total order (oracle requirement, SURVEY §5.2).
    */
  def groupCount(df: DataFrame, key: String, cntName: String = "qtd"): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as(cntName))
      .orderBy(col(cntName).desc, col(key).asc_nulls_first)

  /** Time-series gap-fill with linear interpolation: bucket `ts` to days,
    * aggregate `valueCol` per (key, day), then materialize every missing day
    * between each key's first and last observation with a value linearly
    * interpolated between its observed neighbors. The standard resample step
    * before any fixed-step time-series model — missing days otherwise
    * silently shrink windows and skew rates.
    *
    * Scale shape: everything is per-key — the day grid comes from a
    * `sequence`/`explode` of each key's own [min, max] span (rows ∝ output,
    * no global calendar cross join), the neighbor lookups are
    * `last/first(_, ignoreNulls)` frame windows inside the key's partition,
    * and the whole plan carries exactly two hash exchanges (the day
    * aggregate, then the per-key window). No driver actions, no global sort.
    * Interpolated rows carry `filled = true`. Endpoints are always observed
    * (the grid spans observed min→max), so interpolation never extrapolates.
    *
    * A bucket whose every row has a NULL value (or a NULL timestamp) is not
    * an observation: it is dropped from the anchor set and treated as a gap
    * like any missing day — otherwise an all-NULL first/last bucket would
    * anchor the grid yet have nothing to interpolate from, breaking the
    * observed-endpoints invariant above.
    */
  def gapFillInterpolate(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: Column, unit: String = "day"): DataFrame = {
    require(Set("day", "hour", "minute").contains(unit), s"unsupported unit $unit")
    val obs = df.groupBy(col(keyCol), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(exactSum(valueCol).as("v"))
      .filter(col("bucket").isNotNull && col("v").isNotNull)
    val grid = obs.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__d0"), max(col("bucket")).as("__d1"))
      .select(col(keyCol),
        explode(sequence(col("__d0"), col("__d1"), expr(s"interval 1 $unit"))).as("bucket"))
    val joined = grid.join(obs, Seq(keyCol, "bucket"), "left")
    val wAll  = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val wPrev = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("bucket"))
    val prevV = last(col("v"), ignoreNulls = true).over(wPrev)
    val prevD = last(obsDay, ignoreNulls = true).over(wPrev)
    val nextV = first(col("v"), ignoreNulls = true).over(wNext)
    val nextD = first(obsDay, ignoreNulls = true).over(wNext)
    // fraction of the prev→next span elapsed at this bucket, in epoch
    // seconds (unit-agnostic; truncated buckets are whole seconds, exact in
    // a double either engine). Both endpoints are observed rows, so the
    // denominator is never zero on a filled row.
    val frac = (unix_timestamp(col("bucket")) - unix_timestamp(prevD)).cast("double") /
      (unix_timestamp(nextD) - unix_timestamp(prevD)).cast("double")
    joined.select(col(keyCol), col("bucket"),
      when(col("v").isNotNull, col("v"))
        .otherwise(r4(prevV + (nextV - prevV) * frac)).as("v"),
      col("v").isNull.as("filled"))
  }

  /** Per-group ordinary-least-squares trend: closed-form slope/intercept of
    * `y` against `x` from the four sufficient moments (Σx, Σy, Σxy, Σx²) —
    * the "is this metric drifting" primitive of monitoring pipelines.
    *
    * Moments are DECIMAL-accumulated (exact, order-free) so the result is
    * identical for any partitioning; the closed form then runs on the four
    * merged scalars. One partial+final aggregate, no window, no second
    * pass. Groups where x is constant get NULL slope/intercept (the fit is
    * undefined), not a division blow-up. Rows with a NULL x or y are
    * excluded from the fit ENTIRELY — mixing `count(*)` with NULL-skipping
    * sums would silently bend the slope (n counts a point the moments never
    * saw); `n` reports the points actually fitted.
    */
  def groupTrend(df: DataFrame, keyCol: String, x: Column, y: Column): DataFrame = {
    val m = df.filter(x.isNotNull && y.isNotNull).groupBy(col(keyCol)).agg(
      count(lit(1)).cast("double").as("__n"),
      sum(x.cast("decimal(27,6)")).cast("double").as("__sx"),
      sum(y.cast("decimal(27,6)")).cast("double").as("__sy"),
      sum((x * y).cast("decimal(27,6)")).cast("double").as("__sxy"),
      sum((x * x).cast("decimal(27,6)")).cast("double").as("__sxx"))
    val den = m("__n") * col("__sxx") - col("__sx") * col("__sx")
    val slope = (m("__n") * col("__sxy") - col("__sx") * col("__sy")) / den
    m.select(col(keyCol), col("__n").cast("long").as("n"),
      when(den =!= 0.0, r4(slope)).as("slope"),
      when(den =!= 0.0,
        r4((col("__sy") - slope * col("__sx")) / m("__n"))).as("intercept"))
  }

  /** Mutual information between two categorical columns, reported as the
    * per-cell decomposition `p(a,b) · ln(p(a,b)/(p(a)·p(b)))` — which
    * (lang, source) cells actually carry the association, not just the
    * total. Feature-selection / leakage-detection primitive.
    *
    * One hash aggregate builds the joint contingency table; the marginals
    * re-aggregate from it (tiny) and broadcast back, with the grand total
    * as a one-row broadcast. Probabilities are formed in double space
    * (`c·N / (ca·cb)` would overflow integer space at corpus scale), and
    * the ln term is quantized to 1e-6 like every cross-engine log here.
    */
  def mutualInfoCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // pinned: four consumers, same shape and rationale as [[chiSquareCells]]
    val joint = Checkpoints.pin(df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("c")),
      eager = false)
    val tot = joint.agg(sum(col("c")).as("__N"))
    val ma  = joint.groupBy(col(aCol)).agg(sum(col("c")).as("__ca"))
    val mb  = joint.groupBy(col(bCol)).agg(sum(col("c")).as("__cb"))
    val ratio = (col("c").cast("double") * col("__N")) /
      (col("__ca").cast("double") * col("__cb"))
    joint.join(broadcast(ma), Seq(aCol)).join(broadcast(mb), Seq(bCol))
      .crossJoin(broadcast(tot))
      .select(col(aCol), col(bCol), col("c"),
        (floor(col("c").cast("double") / col("__N") * log(ratio) * 1000000 + 0.5) /
          1000000).as("mi_term"))
  }

  /** Per-key exponentially-weighted moving average (final smoothed value):
    * the `s ← α·s + (1−α)·y` recurrence folded over the key's events in
    * (ts, tieBreak) order. Seed is the first observation.
    *
    * A recurrence is not window-expressible without an exponential-weight
    * running sum that overflows doubles on long histories, so each key's
    * series is collected into ONE ordered in-memory array and folded —
    * correct and exactly replayable by a SQL `list_reduce`. CONTRACT: the
    * per-key history must fit in executor memory (fine for per-user event
    * streams; for unbounded keys use the streaming sessionizer's
    * mapGroupsWithState shape instead). Pick α such that 1−α is exact in
    * binary (0.75, 0.5) when an oracle must replay the arithmetic.
    */
  def ewmaLast(df: DataFrame, keyCol: String, tsCol: String, valueCol: Column,
      alpha: Double, tieBreak: String): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val ys = transform(
      sort_array(collect_list(struct(col(tsCol), col(tieBreak), valueCol.as("y")))),
      s => s.getField("y"))
    // NULL ts would sort first in Spark but last in DuckDB's list(... ORDER BY ts),
    // diverging the fold order (and a NULL value poisons the whole fold) — drop
    // both up front, mirroring transitionMatrix/timeWeightedAvg's contract.
    df.filter(col(tsCol).isNotNull && valueCol.isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), ys.as("__ys"))
      .select(col(keyCol), col("n"),
        r4(aggregate(
          slice(col("__ys"), lit(2), size(col("__ys")) - 1),
          element_at(col("__ys"), 1),
          (acc, y) => acc * lit(alpha) + y * (lit(1.0) - lit(alpha)))).as("ewma"))
  }

  /** A8 — arbitrary GROUPING SETS as a library operator (not just raw SQL):
    * the reference's two PARALLEL summaries over status and OS
    * (`app.py:245-261`) are exactly `GROUPING SETS ((status),(os))` — one
    * pass over the data and one shuffle instead of two separate group-bys
    * scanning the input twice. `grouping_id()` disambiguates which set each
    * output row belongs to.
    */
  def groupingSetsCount(df: DataFrame, sets: Seq[Seq[String]], cntName: String = "qtd"): DataFrame = {
    val keys = sets.flatten.distinct.map(col)
    df.groupingSets(sets.map(_.map(col)), keys: _*)
      .agg(count(lit(1)).as(cntName), grouping_id().as("gid"))
  }

  /** A5/F15 — fixed-width histogram: bin = floor(x / w) * w. */
  def histogram(df: DataFrame, c: String, width: Double): DataFrame =
    df.groupBy((floor(col(c) / width) * width).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bin"))

  /** A6/F14 — per-period time series aggregate. */
  def timeSeries(df: DataFrame, ts: String, unit: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(date_trunc(unit, col(ts)).as("period"))
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      .orderBy(col("period"))

  /** Exact decimal sum of a double column, surfaced as double — the
    * determinism device used throughout the oracle-checked queries: decimal
    * accumulation is exact, hence independent of partial-aggregation order,
    * where a double sum is not (SURVEY §7.5 float pitfall).
    */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(27,$scale)")).cast("double")

  /** Order-insensitive mean built from the exact sum. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    (sum(c.cast(s"decimal(27,$scale)")).cast("double") / count(c))

  /** Deterministic 4-decimal rounding: `floor(x·10⁴ + 0.5)/10⁴`, written the
    * same way in oracle SQL. NOT `round(_, 4)` — Spark rounds half-up while
    * DuckDB rounds half-even, and ratios of small integers (k/32, k/64)
    * land exactly on the .00005 boundary where the two disagree.
    */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Quantile binning (feature discretization): rows are labeled with the
    * index of the quantile bucket their value falls in. The `nBins − 1`
    * exact-percentile cut points are computed IN-PLAN (one aggregate row)
    * and broadcast back onto the corpus — no driver action, one wide scan
    * + one narrow pass, the same shape at any scale. Swap
    * `approx_percentile` in at 100 TB when exact interpolation isn't
    * required; the plan is unchanged.
    */
  def quantileBin(df: DataFrame, valCol: String, nBins: Int,
      binName: String = "bin"): DataFrame =
    quantileBins(df, Seq((valCol, nBins, binName)))

  /** Multi-column quantile binning with ONE distributed cut-point pass:
    * every column's cut array comes out of a single [[exactQuantileArrays]]
    * job, broadcast once. Chaining the single-column form instead re-derives
    * each later column's cuts over the already-cross-joined plan — an extra
    * cut-point scan of the corpus per column.
    */
  def quantileBins(df: DataFrame, specs: Seq[(String, Int, String)]): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2 >= 2), "need specs with >= 2 bins")
    val names = specs.map(s => s"__cuts_${s._3}")
    val cuts = exactQuantileArrays(df, specs.zip(names).map { case ((valCol, nBins, _), name) =>
      (valCol, (1 until nBins).map(_.toDouble / nBins), name)
    })
    // ascending under Spark's double ordering, for the binary search: the
    // interpolation is not guaranteed monotone in floating point, and a
    // count of the cuts <= v does not depend on their order — one sort of
    // one row
    val sortedCuts = cuts.select(names.map(n => sort_array(col(n)).as(n)): _*)
    specs.foldLeft(df.crossJoin(broadcast(sortedCuts))) { case (acc, (valCol, _, binName)) =>
      // "count of cut points <= value" as one codegen'd binary search
      // (graft.expr.CutRank) against the broadcast cut array: constant
      // generated code at any bin count. The HOF form —
      // size(filter(cuts, c <= v)) — evaluates its lambda in interpreter
      // mode on EVERY row (higher-order functions have no doGenCode), which
      // measured as the dominant cost of the whole binning pass at sf0.1.
      val cutsCol = col(s"__cuts_$binName")
      val rank = ColumnBridge.column(graft.expr.CutRank(ColumnBridge.expression(cutsCol),
        ColumnBridge.expression(col(valCol).cast("double"))))
      acc.withColumn(binName,
        // NULL value → NULL bin (a count over comparisons would yield bin 0);
        // NULL cut array (all-NULL input column) → NULL bin, as size(NULL)
        // was under ansi-off semantics
        when(col(valCol).isNull || cutsCol.isNull, lit(null))
          .otherwise(rank)
          .cast("int"))
    }.drop(names: _*)
  }

  /** Exact interpolated quantiles (`percentile`/`quantile_cont` semantics:
    * value at 0-based position `p·(n−1)`, linear interpolation between the
    * straddling order statistics) for MANY columns at once, as a ONE-ROW
    * DataFrame with one cut-array column per spec — computed distributed.
    *
    * Spark's built-in exact `percentile` buffers a value→count map that is
    * merged and sorted in a single final task; on a near-unique double
    * column that one task dominates the whole query (5.4 s on sf0.1
    * `l_extendedprice` vs 0.26 s on 50-distinct `l_quantity`). Here one
    * scan explodes (columnId, value) pairs and a parallel `groupBy`
    * reduces to the DISTINCT domain with counts; cumulative ranks come
    * from the two-phase pattern — assign each value a DETERMINISTIC
    * contiguous range id (equi-width over the column's [min, max], one
    * tiny collected probe), run the cumulative sum WITHIN each range in
    * parallel, then add broadcast per-range offsets — so no task ever
    * sorts more than its slice (a window partitioned only by columnId
    * would put one whole column's domain in one task). The needed order
    * statistics are picked
    * out by a broadcast join against the literal quantile targets, with
    * rank arithmetic inline in the predicate. Bounded by distinct count,
    * not row count — and when even the distinct domain is too large,
    * swap `approx_percentile` in; every caller keeps the broadcast-cuts
    * shape.
    *
    * The interpolation reproduces Spark's own formula term-for-term
    * (`(higher−pos)·vlo + (pos−lower)·vhi`), so results are bit-identical
    * to the built-in.
    * A column with zero non-null values yields a NULL cut array, matching
    * `percentile`'s null on empty input.
    */
  def exactQuantileArrays(df: DataFrame,
      specs: Seq[(String, Seq[Double], String)]): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty), "need non-empty quantile lists")
    require(specs.flatMap(_._2).forall(p => p >= 0 && p <= 1), "quantiles must be in [0,1]")
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    // ONE pinned artifact: the distinct domain with counts — exactly what
    // this operator is bounded by. Three consumers read it (the bounds
    // probe, the in-range cumsums, the per-range offsets).
    // (Measured and REJECTED: spreading the projected spec columns across
    // defaultParallelism before the explode — the minhashNearDupPairs
    // device. The domain scan is NOT this operator's wall: the extra
    // exchange barrier cost more than the widened partial agg saved —
    // q94 0.71 → 1.51 s, q210 1.38 → 1.87 s settled.)
    val domain = Checkpoints.pin(df
      .select(posexplode(array(specs.map(s => col(s._1).cast("double")): _*))
        .as(Seq("__ci", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy(col("__ci"), col("__v")).agg(count(lit(1)).as("__c")), eager = false)
    // Contiguous range ids as a DETERMINISTIC row function — equi-width
    // buckets over each column's [min, max], from one tiny collected probe
    // of the pinned domain (the Storage stats-plan pattern). This replaces
    // the former repartitionByRange + spark_partition_id construction,
    // which needed a SECOND pinned materialization purely so both
    // consumers observed the same sampled boundaries (a re-executed range
    // partitioner re-samples and the pids silently desynchronize); a value-
    // derived id cannot desynchronize, so the whole hazard class — and one
    // full materialization plus the sampler's extra pass — disappears.
    // Monotone in v by construction, so off + in-range cumsum is the exact
    // global rank. Balance note: equi-WIDTH ranges follow the value spread
    // where sampled ranges followed the mass; the window runs over the
    // DISTINCT domain, so the duplicate-heavy case (where mass and spread
    // diverge most) is precisely where the domain is small. NaN sorts
    // highest in Spark's ordering → pinned to the last range; a constant
    // column (hi == lo) degenerates to one range, exact either way.
    // Degenerate-balance cases (correct, but single-range): an extreme
    // outlier can put virtually the whole domain in bucket 0, and a ±Inf
    // value makes (v − lo)/(hi − lo) NaN-collapse every row into one
    // bucket — assignment stays monotone (exact result), only the
    // "no task sorts more than its slice" guarantee degrades to the
    // single-task behavior; clamp infinities upstream or move to
    // equi-depth boundaries if a production domain hits this.
    val bounds = domain.groupBy(col("__ci"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val bucket = specs.indices.foldLeft(lit(0).cast("int")) { (acc, i) =>
      val b = bounds.get(i) match {
        case Some((lo, hi)) if hi > lo =>
          when(isnan(col("__v")), lit(nPart - 1)).otherwise(
            least(lit(nPart - 1), greatest(lit(0),
              floor((col("__v") - lit(lo)) / lit(hi - lo) * nPart)))).cast("int")
        case _ => lit(0).cast("int")
      }
      when(col("__ci") === i, b).otherwise(acc)
    }
    val bucketed = domain.withColumn("__b", bucket)
    val local = bucketed.withColumn("__lhi", sum(col("__c"))
      .over(Window.partitionBy(col("__ci"), col("__b")).orderBy(col("__v"))))
    val byCol   = Window.partitionBy(col("__ci"))
    // Per-(ci, range) totals aggregate `bucketed` DIRECTLY — their own
    // partial-agg exchange of the domain. Deriving them from the in-range
    // cumsum instead (`max(__lhi)` per range, the aggregate sitting on the
    // window's own distribution) removes that one tiny exchange stage and
    // was MEASURED and REVERTED in round 19: only the exchange BELOW the
    // window is reused between the broadcast build side and the stream
    // side — the domain-sized window SORT + running sum computes TWICE. At
    // sf0.1 the window is too small for the duplication to register
    // (family cpu identical in a same-window A/B), but at ×100 the
    // big-domain curve-layout consumers paid it directly: q103 26.7→39.5 s
    // (cpu 281→357), q205 18.4→25.1, q210 9.0→13.5 single-JVM, with the
    // same signature in the ×100 cluster point. A constant ~40 ms stage
    // barrier traded against O(domain log domain) recompute loses at
    // scale.
    val offsets = bucketed.groupBy(col("__ci"), col("__b"))
      .agg(sum(col("__c")).as("__ps"))
      .withColumn("__off", coalesce(sum(col("__ps"))
        .over(byCol.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__ps")).over(byCol))
      .select(col("__ci").as("__oci"), col("__b").as("__ob"),
        col("__off"), col("__n"))
    val cum = local
      .join(broadcast(offsets),
        col("__ci") === col("__oci") && col("__b") === col("__ob"))
      .withColumn("__hi", col("__lhi") + col("__off"))
      .withColumn("__lo", col("__hi") - col("__c"))
    val targets = df.sparkSession.range(1)
      .select(explode(array((for {
        ((_, ps, _), i) <- specs.zipWithIndex
        (p, pi)         <- ps.zipWithIndex
      } yield struct(lit(i).as("__tci"), lit(pi).as("__pi"), lit(p).as("__p"))): _*)).as("__t"))
      .select(col("__t.*"))
    // rank arithmetic inline: position is 0-based, order-statistic ranks 1-based
    val pos      = col("__p") * (col("__n") - 1)
    val rlo      = (floor(pos) + 1).cast("long")
    val rhi      = (ceil(pos) + 1).cast("long")
    val coversLo = rlo > col("__lo") && rlo <= col("__hi")
    val coversHi = rhi > col("__lo") && rhi <= col("__hi")
    val joined = cum
      .join(broadcast(targets), col("__tci") === col("__ci") && (coversLo || coversHi))
    // Terminal assembly. The (ci, pi) target grid is STATIC (it comes from
    // `specs`), so for a bounded grid the three nested aggregates the old
    // shape paid — groupBy(ci, pi) → groupBy(ci) → groupBy() — collapse
    // into ONE single-partition aggregate with the per-target max(when(…))
    // cells unrolled as columns: two fewer sequential exchange stages in a
    // latency-bound chain (§1.2), over an input that is tiny by
    // construction (≤ 2 covering rows per target). Every per-cell
    // expression is the old one verbatim — max over the single covering
    // row, Spark's PercentileBase.getPercentile term order bit-for-bit —
    // so results are unchanged. Above the unroll bound (curve layouts bin
    // at 2^bits cells; 3 cells × up to ~1000 targets would be thousands of
    // aggregate expressions — a codegen hazard, not a win) the old
    // collect_list shape is kept.
    val nTargets = specs.map(_._2.size).sum
    if (nTargets <= 64) {
      def cell(i: Int, pi: Int, c: Column): Column =
        max(when(col("__tci") === i && col("__pi") === pi, c))
      val aggs = specs.zipWithIndex.flatMap { case ((_, ps, _), i) =>
        ps.indices.flatMap { pi =>
          Seq(cell(i, pi, pos).as(s"__q_${i}_$pi"),
            cell(i, pi, when(coversLo, col("__v"))).as(s"__vlo_${i}_$pi"),
            cell(i, pi, when(coversHi, col("__v"))).as(s"__vhi_${i}_$pi"))
        }
      }
      val arrs = specs.zipWithIndex.map { case ((_, ps, name), i) =>
        val cuts = ps.indices.map { pi =>
          val q   = col(s"__q_${i}_$pi")
          val vlo = col(s"__vlo_${i}_$pi")
          val vhi = col(s"__vhi_${i}_$pi")
          when(ceil(q) === floor(q), vlo)
            .otherwise((ceil(q) - q) * vlo + (q - floor(q)) * vhi)
        }
        // a column with zero non-null values produced no domain rows — its
        // cut array must be NULL (the old collect_list shape's behavior,
        // and what quantileBin's NULL-bin guard keys on), not [null, …]
        when(col(s"__q_${i}_0").isNull, lit(null).cast("array<double>"))
          .otherwise(array(cuts: _*)).as(name)
      }
      joined.groupBy().agg(aggs.head, aggs.tail: _*)
        .select(arrs: _*)
    } else {
      val q = col("__q")
      val perCol = joined
        .groupBy(col("__ci"), col("__pi"))
        .agg(first(pos).as("__q"),
             max(when(coversLo, col("__v"))).as("__vlo"),
             max(when(coversHi, col("__v"))).as("__vhi"))
        .select(col("__ci"), col("__pi"),
          // Spark's PercentileBase.getPercentile term order, reproduced
          // bit-for-bit: lowerKey when the position is integral, else
          // (higher − pos)·lowerKey + (pos − lower)·higherKey
          when(ceil(q) === floor(q), col("__vlo"))
            .otherwise((ceil(q) - q) * col("__vlo") + (q - floor(q)) * col("__vhi"))
            .as("__cut"))
        .groupBy(col("__ci"))
        // .getField on the array<struct> is codegen'd GetArrayStructFields
        // (bounded context — a few quantile cuts per column — but free to fix)
        .agg(array_sort(collect_list(struct(col("__pi"), col("__cut"))))
          .getField("__cut").as("__arr"))
      val outs = specs.zipWithIndex.map { case ((_, _, name), i) =>
        max(when(col("__ci") === i, col("__arr"))).as(name)
      }
      perCol.groupBy().agg(outs.head, outs.tail: _*)
    }
  }

  /** Two-phase distributed running sums: every row gains, for each
    * `(expr, runningName, totalName)` spec, its prefix sum of `expr` over
    * `order` within `keys` (plus the per-key total) — [[exactQuantileArrays]]'
    * range-partition pattern factored out so EVERY exact order statistic in
    * the repo (global rank, per-group rank for low-cardinality keys,
    * cumulative CDFs) shares one shape in which no task ever sorts more
    * than its range slice.
    *
    * Phase 1 range-partitions on (keys ++ order) and runs the running sum
    * WITHIN each partition; phase 2 aggregates one partial-sum row per
    * (key, partition), turns those into broadcast per-partition offsets
    * with a tiny window (≤ |key domain| · nPart rows), and adds them back.
    * A global rank is the running sum of `lit(1L)` — callers must make
    * `order` a total order (append a tiebreak id) or in-partition tie
    * placement leaks into the "rank".
    *
    * Intended for GLOBAL (`keys = Nil`) or low-cardinality keys — the
    * exact shapes where `Window.partitionBy(keys)` would funnel n or
    * n/|keys| rows through one task. High-cardinality keys don't need
    * this: a plain per-key window already spreads across the cluster, and
    * the |keys|·nPart offsets table here would outgrow its broadcast.
    *
    * The range exchange is pinned (lazily) because BOTH the
    * running sums and the offsets aggregate must observe the SAME
    * spark_partition_id per row — a re-executed range partitioner
    * re-samples its boundaries and the pids silently desynchronize (the
    * same hazard documented on [[exactQuantileArrays]]). `pinInput`
    * additionally pins the INPUT, for callers whose child is itself
    * expensive (an aggregate, a join): the range partitioner's sampling
    * job re-executes its child once more, which is fine for a pruned
    * column scan and wasteful for a computed table.
    */
  private[graft] def runningSums(df: DataFrame, keys: Seq[String],
      order: Seq[Column], sums: Seq[(Column, String, String)],
      pinInput: Boolean = false): DataFrame = {
    require(order.nonEmpty && sums.nonEmpty, "need order and sum specs")
    val in      = if (pinInput) Checkpoints.pin(df, eager = false) else df
    val nPart   = df.sparkSession.sparkContext.defaultParallelism
    val keyCols = keys.map(col)
    val ranged = Checkpoints.pin(in
      .repartitionByRange(nPart, (keyCols ++ order): _*)
      .withColumn("__pid", spark_partition_id()), eager = false)
    val wLoc = Window.partitionBy((keyCols :+ col("__pid")): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(ranged) { case (acc, (e, run, _)) =>
      acc.withColumn(run, sum(e).over(wLoc))
    }
    val wKey     = Window.partitionBy(keyCols: _*)
    val partials = sums.zipWithIndex.map { case ((e, _, _), i) => sum(e).as(s"__ps$i") }
    val offsets = sums.zipWithIndex.foldLeft(
      ranged.groupBy((keyCols :+ col("__pid")): _*).agg(partials.head, partials.tail: _*)
    ) { case (acc, ((_, _, tot), i)) =>
      acc.withColumn(s"__off$i", coalesce(sum(col(s"__ps$i"))
          .over(wKey.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn(tot, sum(col(s"__ps$i")).over(wKey))
    }
    val oKeys = keys.indices.map(i => s"__ok$i")
    val off = offsets.select(keys.zip(oKeys).map { case (k, ok) => col(k).as(ok) } ++
      Seq(col("__pid").as("__opid")) ++
      sums.zipWithIndex.flatMap { case ((_, _, tot), i) => Seq(col(s"__off$i"), col(tot)) }: _*)
    // null-safe on the keys: a NULL group key is a real group here
    val cond = (keys.zip(oKeys).map { case (k, ok) => col(k) <=> col(ok) } :+
      (col("__pid") === col("__opid"))).reduce(_ && _)
    val joined = local.join(broadcast(off), cond)
    val out = sums.zipWithIndex.foldLeft(joined) { case (acc, ((_, run, _), i)) =>
      acc.withColumn(run, col(run) + col(s"__off$i"))
    }
    out.drop((oKeys :+ "__opid" :+ "__pid") ++ sums.indices.map(i => s"__off$i"): _*)
  }

  /** One-pass column profiler: total rows, non-null count, exact distinct
    * count, min/max per named column — one output row per column. Everything
    * folds into a SINGLE aggregate over one scan (Catalyst plans the
    * multi-distinct via Expand), instead of the naive one-scan-per-column
    * loop that costs `cols.size` passes over a 100 TB table. min/max
    * aggregate in native type and cast to string only at the end, so numeric
    * columns order numerically, not lexically.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
          countDistinct(col(c)).as(s"__nd_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_val"), col(s"__mx_$c").as("max_val"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Distribution drift between two corpus snapshots on a categorical
    * column — the population-stability-index (PSI) census that guards a
    * training pipeline against silent mixture shift (a crawler change
    * doubling one language, a source going dark). Per category shared by
    * both snapshots: its share in each, and the PSI term
    * `(p_cur − p_ref) · ln(p_cur / p_ref)`; Σ psi_term > ~0.2 is the
    * conventional "investigate" line. Categories on one side only carry
    * infinite PSI by definition — they are EXCLUDED here (inner join) and
    * belong to a presence/absence check, not a drift score. NULL is a
    * category like any other (null-safe join): a crawler silently losing
    * its language tags IS the drift this operator exists to catch.
    *
    * Scale: each snapshot reduces to (category, count) by ONE partial hash
    * aggregate; the total is the sum of that (small) category table, not a
    * second corpus scan, and the category tables join on the category key.
    * One scan per snapshot, nothing else moves.
    */
  def categoryDrift(ref: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    def shares(df: DataFrame, side: String) = {
      val counts = df.groupBy(col(catCol)).agg(count(lit(1)).as("__c"))
      val tot    = counts.agg(sum(col("__c")).cast("double").as("__n"))
      counts.crossJoin(broadcast(tot))
        .select(col(catCol).as(s"__cat_$side"), (col("__c") / col("__n")).as(s"p_$side"))
    }
    shares(ref, "ref").join(shares(cur, "cur"), col("__cat_ref") <=> col("__cat_cur"))
      .select(col("__cat_ref").as(catCol), col("p_ref"), col("p_cur"),
        ((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))).as("psi_term"))
  }

  /** Algebraic aggregate STATE over `keys`: per-group count, sums, and
    * min/max — the decomposable core every incremental/streaming pipeline
    * maintains. Derived measures (avg = sum/cnt) are computed at READ time
    * from the state, never stored, so states stay mergeable.
    */
  def aggState(df: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame = {
    require(keys.nonEmpty && measures.nonEmpty, "need keys and measures")
    val aggs = Seq(count(lit(1)).as("cnt")) ++ measures.flatMap { m =>
      Seq(sum(col(m)).as(s"sum_$m"),
          min(col(m)).as(s"min_$m"),
          max(col(m)).as(s"max_$m"))
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Mergeable DISTINCT-COUNT state — the sketch stand-in [[mergeAggStates]]
    * prescribes for the one common measure that does NOT decompose: exact
    * `countDistinct` needs the full value set, but a per-group HLL sketch
    * (Datasketches binary, fixed KB per group) merges register-wise, and
    * `sketch(A ∪ B) = union(sketch(A), sketch(B))` EXACTLY — so incremental
    * maintenance loses nothing over a full rebuild ([[SummariesSpec]] pins
    * the equality). Read the estimate off the state with
    * [[distinctEstimate]]; never store the estimate itself (estimates
    * don't merge).
    */
  def distinctState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      // call_function, not expr-splicing: a column named "user id" would
      // otherwise be parsed as SQL and throw
      .agg(call_function("hll_sketch_agg", col(valueCol)).as("hll"))

  /** Merge two [[distinctState]] tables (state ∪ delta → state). */
  def mergeDistinctStates(state: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame =
    state.unionByName(delta).groupBy(keys.map(col): _*)
      .agg(expr("hll_union_agg(hll)").as("hll"))

  /** Distinct-count estimate per group from a [[distinctState]] table. */
  def distinctEstimate(state: DataFrame): DataFrame =
    state.withColumn("n_distinct_est", expr("hll_sketch_estimate(hll)"))

  /** Incremental view maintenance: merge a stored aggregate state with the
    * state of a new delta batch, WITHOUT touching the rows that produced
    * either — counts and sums add, min/max re-minimize. `mergeAggStates(
    * aggState(old), aggState(delta)) ≡ aggState(old ∪ delta)` for the whole
    * algebraic family (the q110 oracle checks exactly this equivalence).
    *
    * This is THE pattern that makes daily 100 TB pipelines affordable: the
    * full-history re-aggregation is replaced by a merge whose cost scales
    * with |state| + |delta|, independent of history size. With the state
    * table bucketed by `keys` ([[Storage.writeBucketed]]) the merge is
    * exchange-free on the state side — only the delta shuffles. Holistic
    * aggregates (exact distinct, exact percentile) are NOT in the state by
    * design: they don't decompose; use sketches (HLL, KLL) for those.
    */
  def mergeAggStates(state: DataFrame, delta: DataFrame, keys: Seq[String],
      measures: Seq[String]): DataFrame = {
    val aggs = Seq(sum(col("cnt")).as("cnt")) ++ measures.flatMap { m =>
      Seq(sum(col(s"sum_$m")).as(s"sum_$m"),
          min(col(s"min_$m")).as(s"min_$m"),
          max(col(s"max_$m")).as(s"max_$m"))
    }
    state.unionByName(delta)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Join-key skew diagnostic: the top-`topN` heaviest values of `key` with
    * each value's row count, corpus share, and skew factor (count ÷ the
    * mean count over all key values). The pre-flight check that decides
    * whether a planned shuffle join needs [[Relational.saltedJoin]] — at
    * 1000-executor scale a key with skew ≫ 10 is the straggler task.
    *
    * Scale shape: one partial+final count aggregate (shuffle bounded by key
    * cardinality); the grand totals ride a one-row broadcast; only the
    * top-`topN` frontier is globally sorted — post-aggregate rows, never
    * the input. NULL keys are a group like any other (their skew matters
    * just as much in a null-safe join).
    */
  def keySkewReport(df: DataFrame, key: String, topN: Int): DataFrame = {
    require(topN >= 1, "topN must be positive")
    // pinned: consumed by both the totals aggregate and the report —
    // recompute would scan the input twice (see chiSquareCells)
    val counts = Checkpoints.pin(df.groupBy(col(key)).agg(count(lit(1)).as("n")), eager = false)
    val totals = counts.agg(sum(col("n")).as("__total"), count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(totals))
      .select(col(key), col("n"),
        r4(col("n").cast("double") / col("__total").cast("double")).as("share"),
        r4(col("n").cast("double") * col("__k").cast("double") /
          col("__total").cast("double")).as("skew"))
      .orderBy(col("n").desc, col(key).asc_nulls_first)
      .limit(topN)
  }

  /** Per-group ROC AUC by rank sums (Mann-Whitney): with positives' average
    * ranks `R` over ascending `score`, AUC = (ΣR − P(P+1)/2) / (P·N). The
    * standard calibration check on a learned quality/toxicity scorer before
    * its threshold gates a corpus.
    *
    * Ties get the midrank (`rank() + (ties−1)/2` — min-rank plus half the
    * tie run), which is what makes the estimator unbiased under heavily
    * quantized scores. Midranks are exact binary halves, so their sum is
    * exact in doubles regardless of partial-agg order. Groups with no
    * positives or no negatives have undefined AUC → NULL. NULL labels and
    * scores are excluded. One shuffle (the per-group sort feeds both the
    * rank window and the aggregate).
    */
  def rankAuc(df: DataFrame, keyCol: String, label: Column, score: Column): DataFrame = {
    val d = df.filter(label.isNotNull && score.isNotNull)
      .select(col(keyCol), label.cast("boolean").as("__y"), score.cast("double").as("__s"))
    val w   = Window.partitionBy(col(keyCol)).orderBy(col("__s"))
    val tie = Window.partitionBy(col(keyCol), col("__s"))
    val midrank = rank().over(w) + (count(lit(1)).over(tie) - 1).cast("double") / 2.0
    d.withColumn("__r", midrank)
      .groupBy(col(keyCol))
      .agg(count(when(col("__y"), 1)).as("n_pos"),
           count(when(!col("__y"), 1)).as("n_neg"),
           sum(when(col("__y"), col("__r"))).as("__sr"))
      .select(col(keyCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          r4((col("__sr") - col("n_pos").cast("double") * (col("n_pos") + 1).cast("double") / 2) /
            (col("n_pos").cast("double") * col("n_neg").cast("double")))).as("auc"))
      .orderBy(col(keyCol))
  }

  /** Two-sample Kolmogorov–Smirnov distance: max |F_a(x) − F_b(x)| over the
    * pooled support — the distribution-drift gate that PSI ([[categoryDrift]])
    * can't give you for continuous columns. Returns one row:
    * `(n_a, n_b, d_stat)`.
    *
    * Scale shape: both inputs collapse to per-distinct-value counts first
    * (partial-agg'd; shuffle bounded by distinct cardinality), so the
    * cumulative CDFs run over the VALUE DOMAIN, not the rows — and that
    * domain is itself range-partitioned through [[runningSums]]' two-phase
    * pattern, so on a near-unique double column (domain ∝ rows) no task
    * ever sorts more than its value-range slice. The per-value table is
    * pinned (it is an aggregate; the range partitioner's sampling job
    * would otherwise re-execute it). CDF ratios are exact (BIGINT
    * cumulative counts ÷ total, one division per distinct value), so the
    * max is order-free.
    */
  def ksDrift(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def side(df: DataFrame, tag: Int) =
      df.select(value.cast("double").as("v")).filter(col("v").isNotNull)
        .withColumn("__src", lit(tag))
    val perValue = side(a, 0).unionByName(side(b, 1))
      .groupBy(col("v"))
      .agg(count(when(col("__src") === 0, 1)).as("ca"),
           count(when(col("__src") === 1, 1)).as("cb"))
    runningSums(perValue, Nil, Seq(col("v")),
        Seq((col("ca"), "__cuma", "__na"), (col("cb"), "__cumb", "__nb")),
        pinInput = true)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cuma").cast("double") / col("__na").cast("double") -
                col("__cumb").cast("double") / col("__nb").cast("double"))).as("d_stat"))
  }

  /** Chi-square independence decomposition between two categorical columns:
    * one row per cell of the FULL contingency grid (observed categories of
    * `a` × observed categories of `b`, including never-co-occurring pairs —
    * their expected count still contributes), with the observed count,
    * expected count, and the cell's χ² term. The caller sums `chi2_term`
    * for the statistic; emitting per-cell terms keeps the result
    * order-deterministic (a global double sum is not) and is more useful
    * anyway — the biggest cells ARE the drift explanation.
    *
    * Scale shape: mirrors [[mutualInfoCells]] — one hash aggregate over the
    * data builds the joint table; marginals re-aggregate from it (tiny) and
    * broadcast back; the full grid is marginal-a × marginal-b, a broadcast
    * cross of two post-aggregation tables. Terms are quantized to 1e-6
    * before emission, the cross-engine float contract used by every log/
    * ratio surface here.
    */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // pinned: the joint table feeds FOUR consumers (total, both marginals,
    // the grid join) — exchange reuse does not reliably unify identical
    // subtrees (measured on the near-dup index), and recomputing joint
    // means re-scanning the corpus per consumer. Cardinality = observed
    // (a, b) pairs. Local vs reliable pins: see Checkpoints.
    val joint = Checkpoints.pin(df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("c")),
      eager = false)
    val tot = joint.agg(sum(col("c")).as("__N"))
    val ma  = joint.groupBy(col(aCol)).agg(sum(col("c")).as("__ca"))
    val mb  = joint.groupBy(col(bCol)).agg(sum(col("c")).as("__cb"))
    val expected = col("__ca").cast("double") * col("__cb").cast("double") /
      col("__N").cast("double")
    // null-safe grid join: a NULL category is a real category here (it has
    // a marginal), so its observed count must attach to its grid cell —
    // plain `=` would orphan it to observed 0 and corrupt the cell term
    val jr = joint.withColumnRenamed(aCol, "__ja").withColumnRenamed(bCol, "__jb")
    ma.crossJoin(broadcast(mb))
      .join(jr, col(aCol) <=> col("__ja") && col(bCol) <=> col("__jb"), "left")
      .crossJoin(broadcast(tot))
      .select(col(aCol), col(bCol),
        coalesce(col("c"), lit(0L)).as("observed"),
        (floor(expected * 1000000 + 0.5) / 1000000).as("expected"),
        (floor(pow(coalesce(col("c"), lit(0L)).cast("double") - expected, 2) / expected
          * 1000000 + 0.5) / 1000000).as("chi2_term"))
      .orderBy(col(aCol), col(bCol))
  }

  /** First-order Markov transition matrix of `stateCol` sequences per `key`:
    * counts of (state → next state) steps in (`tsCol`, `tieBreak`) order,
    * with each row's transition probability (count ÷ out-degree of the
    * source state). The behavioral-drift / session-model primitive: "what
    * does a `view` lead to, and did that change".
    *
    * Scale shape: the lag window is per-key (one hash exchange, bounded
    * partitions); the matrix aggregate collapses to ≤ S² rows before the
    * tiny row-normalizing window runs over source states. Probabilities
    * are single divisions of exact counts — order-free. Events with a NULL
    * timestamp are excluded (their sequence position is unknown; engines
    * also disagree on NULL sort placement, so keeping them would make the
    * matrix engine-dependent) — same contract as [[sessionizeBatch]] and
    * [[timeWeightedAvg]].
    */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val steps = df
      .filter(col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieBreak), col(stateCol).as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
    val m = steps.groupBy(col("from_state"), col("to_state")).agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("from_state"))
    m.select(col("from_state"), col("to_state"), col("n"),
        r4(col("n").cast("double") / sum(col("n")).over(wSrc).cast("double")).as("p"))
      .orderBy(col("from_state"), col("to_state"))
  }

  /** Gap-based BATCH sessionization: a new session starts where the gap
    * from the key's previous event exceeds `gapSeconds`; returns one row
    * per session with ordinal id, event count, and span — the historical
    * twin of the streaming sessionizer ([[Streaming]] `sessionize`), for
    * backfills and offline behavioral features.
    *
    * Scale shape: one hash exchange on the key; the boundary flags (lag)
    * and the running session ordinal (prefix sum of flags) share the same
    * sorted window, and the per-session aggregate re-uses the partitioning.
    * Timestamps compare at whole-second resolution (`unix_timestamp`,
    * floored — the engine-agnostic form); a gap of EXACTLY `gapSeconds`
    * keeps the session open, `>` closes it. NULL timestamps are excluded.
    */
  def sessionizeBatch(df: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long, tieBreak: String): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    val flag = when(gap > gapSeconds, 1).otherwise(0) // first row: NULL gap → 0
    df.filter(col(tsCol).isNotNull)
      .withColumn("__sid", sum(flag).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1)
      .groupBy(col(keyCol), col("__sid").as("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"),
        (max(unix_timestamp(col(tsCol))) - min(unix_timestamp(col(tsCol))))
          .as("duration_s"))
      .orderBy(col(keyCol), col("session_id"))
  }

  /** Decile lift table — the calibration report read before a learned
    * quality/conversion scorer gates anything: rank rows by `score`
    * descending, cut into `nBins` equal-population bins (`ntile`), and per
    * bin report size, positives, response rate, cumulative capture share,
    * and lift over the base rate.
    *
    * Equal-population binning needs each row's GLOBAL rank in
    * (score desc, id) order — but not a global sort: the rank comes from
    * [[runningSums]]' two-phase range partition (no task holds more than
    * its score-range slice) and the `ntile` bucket is then pure rank
    * arithmetic, reproducing Spark's/SQL's NTile contract exactly — with
    * `q = n DIV nBins` and `r = n % nBins`, the first `r` buckets take
    * `q + 1` rows and the rest `q` (rows ranked past `r·(q+1)` land in
    * bucket `r + ⌈(rank − r·(q+1)) / q⌉`). Ordering is (score desc, id)
    * so ties are deterministic; rates are single divisions of exact
    * counts. The per-bin cumulative windows at the end run over ≤ nBins
    * rows — bounded by construction.
    */
  def liftTable(df: DataFrame, label: Column, score: Column, idCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val d = df.filter(label.isNotNull && score.isNotNull)
      .select(label.cast("boolean").as("__y"), score.cast("double").as("__s"), col(idCol))
    val ranked = runningSums(d, Nil, Seq(col("__s").desc, col(idCol)),
      Seq((lit(1L), "__rn", "__n")))
    val binned = ranked
      // CASE evaluates lazily per row, so the q = 0 division in the ELSE
      // branch (possible only when n < nBins) is never reached
      .withColumn("bin", expr(
        s"""CASE WHEN __rn <= (__n % $nBins) * (__n DIV $nBins + 1)
           |     THEN (__rn - 1) DIV (__n DIV $nBins + 1) + 1
           |     ELSE (__n % $nBins)
           |          + (__rn - 1 - (__n % $nBins) * (__n DIV $nBins + 1))
           |            DIV (__n DIV $nBins) + 1
           |END""".stripMargin).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), count(when(col("__y"), 1)).as("n_pos"))
    val wCum = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .select(col("bin"), col("n"), col("n_pos"),
        r4(col("n_pos").cast("double") / col("n").cast("double")).as("resp_rate"),
        r4(sum(col("n_pos")).over(wCum).cast("double") /
           sum(col("n_pos")).over(wAll).cast("double")).as("cum_capture"),
        r4(col("n_pos").cast("double") / col("n").cast("double") /
           (sum(col("n_pos")).over(wAll).cast("double") /
            sum(col("n")).over(wAll).cast("double"))).as("lift"))
      .orderBy(col("bin"))
  }

  /** Per-key time-weighted average (TWAP): each observation holds until the
    * next one, so it is weighted by its holding duration in seconds —
    * Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first). The correct "average sensor value"
    * when sampling is irregular (the arithmetic mean over-weights bursts).
    *
    * Keys with a single observation are omitted — no holding interval
    * exists; a key whose observations all share one timestamp has span 0 →
    * NULL TWAP. The value·duration products are
    * accumulated as DECIMAL (value at 1e-6, duration an exact BIGINT of
    * seconds), so the sum is exact and partition-order-free; one division
    * at the end. One shuffle: the per-key sort feeds lead() and the
    * aggregate in the same exchange.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: Column, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val d = df.filter(col(tsCol).isNotNull && valueCol.isNotNull)
      .select(col(keyCol), col(tsCol), col(tieBreak), valueCol.cast("double").as("__v"))
      .withColumn("__dur",
        (unix_timestamp(lead(col(tsCol), 1).over(w)) - unix_timestamp(col(tsCol))))
      .filter(col("__dur").isNotNull)
    d.groupBy(col(keyCol))
      .agg(sum(col("__v").cast("decimal(27,6)") * col("__dur")).as("__wv"),
           sum(col("__dur")).as("__span"))
      .select(col(keyCol), col("__span").as("span_s"),
        when(col("__span") > 0,
          r4(col("__wv").cast("double") / col("__span").cast("double"))).as("twap"))
      .orderBy(col(keyCol))
  }

  /** Per-group (sum, count, non-null count) in the exact-decimal carrier
    * type that [[maintainSumCount]] updates incrementally. Values enter as
    * `decimal(27,scale)` and the sum carries Spark's widened
    * `decimal(37,scale)` — decimal addition is associative and exact, so
    * base + delta later equals a full recompute BIT-exactly, which a
    * double carrier cannot promise (fp addition is order-sensitive). Cast
    * to double only at presentation time, once. The non-null count is
    * load-bearing for that equivalence too: SQL `sum` over zero non-null
    * values is NULL, not 0, and maintenance can only reproduce that
    * (e.g. after deleting a group's last non-null row) by tracking how
    * many non-null values remain — a sum alone cannot distinguish
    * "nets to zero" from "nothing to sum".
    */
  def sumCountAgg(df: DataFrame, keys: Seq[String], valueCol: Column,
      sumName: String = "sum_v", cntName: String = "n", scale: Int = 4,
      nvName: String = "n_vals"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(valueCol.cast(s"decimal(27,$scale)")).as(sumName),
           count(lit(1)).as(cntName),
           count(valueCol).as(nvName))

  /** Incremental view maintenance of a [[sumCountAgg]] aggregate from a
    * [[TxTable.diff]] change feed — the O(changes) alternative to
    * re-aggregating the whole table per increment. Sum and count are
    * self-maintainable aggregates: each CDC row contributes its value and
    * its row with a sign (+1 for `insert`/`update_post`, −1 for `delete`/
    * `update_pre`), so an update nets to (new − old) and the maintained
    * result equals a full recompute of the new snapshot exactly (decimal
    * carrier, see [[sumCountAgg]]). Groups whose maintained count reaches
    * zero are dropped — a full recompute has no empty groups either.
    *
    * Scale shape: ONE aggregation over the CDC rows (∝ changes, partial
    * map-side combine) plus one full-outer join against the base aggregate
    * on the group keys (∝ groups, AQE-broadcastable when the delta touches
    * few groups). The base table's rows are never re-read. An unknown
    * change kind raises at execution rather than skewing the signs.
    */
  def maintainSumCount(baseAgg: DataFrame, cdc: DataFrame, keys: Seq[String],
      valueCol: Column, sumName: String = "sum_v", cntName: String = "n",
      changeCol: String = "change", scale: Int = 4,
      nvName: String = "n_vals"): DataFrame = {
    val sign = when(col(changeCol).isin("insert", "update_post"), 1)
      .when(col(changeCol).isin("delete", "update_pre"), -1)
      .otherwise(raise_error(concat(lit("maintainSumCount: unknown change kind "),
        col(changeCol))).cast("int"))
    val delta = cdc.groupBy(keys.map(col): _*)
      .agg(sum((valueCol * sign).cast(s"decimal(27,$scale)")).as("__dsum"),
           sum(sign).as("__dn"),
           sum(when(valueCol.isNotNull, sign).otherwise(0)).as("__dnv"))
    val zero = lit(0).cast(s"decimal(27,$scale)")
    val nv = coalesce(col(nvName), lit(0L)) + coalesce(col("__dnv"), lit(0L))
    // The running sum keeps [[sumCountAgg]]'s widened decimal(37,scale)
    // carrier — 33 integer digits of headroom — rather than narrowing back
    // to the 27-digit input type. Narrowing mattered: under non-ANSI Spark
    // an overflowing cast yields NULL silently, and the NEXT increment's
    // coalesce would have read that NULL as 0 — silent corruption. With
    // the wide carrier kept, an overflow is beyond-physical; if one ever
    // happens anyway the guard below raises instead of corrupting.
    val combined = (coalesce(col(sumName), zero) + coalesce(col("__dsum"), zero))
      .cast(s"decimal(37,$scale)")
    baseAgg.join(delta, keys, "full_outer")
      .select(keys.map(col) :+
        // a group with NO remaining non-null values must read sum = NULL,
        // exactly as a full recompute's SQL sum would
        when(nv > 0, when(combined.isNotNull, combined)
          .otherwise(raise_error(lit("maintainSumCount: decimal(37) sum overflow "
            + "— the carrier cannot hold this total")).cast(s"decimal(37,$scale)")))
          .as(sumName) :+
        (coalesce(col(cntName), lit(0L)) + coalesce(col("__dn"), lit(0L))).as(cntName) :+
        nv.as(nvName): _*)
      .filter(col(cntName) > 0)
  }
}
