package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._

/** SQL-closure / windows / JSON / composition surface: SURVEY §2.3
  * F10/F11/F13/F16/F18, §2.4 U2, §2.7 A3/A7/A8, §2.8 O3, §2.9 W2/W3,
  * §2.11 ST1–ST3 batch forms, J5-aggregated, J6, S5, and the §3.1
  * pipeline replica.
  */
object ClosureQueries {
  import Tables.t
  import Shared._

  // `events.ts` is parquet TIMESTAMP(NANOS): Spark reads it as long nanos and
  // [[Tables.t]] truncates to µs; the oracle mirrors that exact truncation
  // with make_timestamp(epoch_ns(ts)//1000) wherever ts reaches the output.
  // (All generated values are µs-aligned, but the cast keeps types identical.)
  private[graft] val records: Seq[Query] = Seq(
    // J5 at scale — aggregate-first theta join: join the tiny per-(brand,
    // size) histograms instead of the raw rows, then sum cnt_a*cnt_b.
    // Same result as q12 with O(|brands|·|sizes|²) work instead of O(n²).
    Query("q29_theta_agg", (s, d) => {
      val h = t(s, d, "part").groupBy(col("p_brand"), col("p_size")).agg(count(lit(1)).as("cnt"))
      val a = h.select(col("p_brand"), col("p_size").as("size_a"), col("cnt").as("cnt_a"))
      val b = h.select(col("p_brand").as("brand_b"), col("p_size").as("size_b"), col("cnt").as("cnt_b"))
      a.join(b, col("p_brand") === col("brand_b") && col("size_a") < col("size_b"))
        .groupBy(col("p_brand"))
        .agg(sum(col("cnt_a") * col("cnt_b")).as("n_pairs"))
        .orderBy(col("p_brand"))
    },
      """SELECT a.p_brand, count(*) AS n_pairs
         FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_size < b.p_size
         GROUP BY a.p_brand ORDER BY a.p_brand"""),

    // F16 — JSON field extraction from events.props
    Query("q30_json_extract", (s, d) => {
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value"))
        .orderBy(col("k"))
    },
      """SELECT json_extract_string(props, '$.k')::INT AS k, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY k ORDER BY k"""),

    // F18 — map ops after from_json → MapType
    Query("q31_map_ops", (s, d) => {
      import org.apache.spark.sql.types.{LongType, MapType, StringType}
      val m = from_json(col("props"), MapType(StringType, LongType))
      t(s, d, "events")
        .select(col("event_id"), size(map_keys(m)).as("n_keys"),
          element_at(m, "k").as("k_val"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, CAST(len(json_keys(props)) AS INT) AS n_keys,
                json_extract_string(props, '$.k')::BIGINT AS k_val
         FROM events ORDER BY event_id"""),

    // A8 — rollup with grouping_id to disambiguate total rows
    Query("q32_rollup", (s, d) => {
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // A7 — exact distinct count
    Query("q33_distinct_count", (s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // A7 approx — HLL++. The estimate itself has no DuckDB twin (different
    // sketch, different bias tables), so the oracle instead replays the
    // EXACT count and `true`: the Spark side emits exact alongside a
    // boolean asserting the HLL++ estimate landed within 2× its configured
    // rsd (0.05 → 10%). HLL is deterministic for a fixed dataset, so the
    // boolean is stable and the hash comparison machine-checks the
    // approx-accuracy contract instead of downgrading to rows-only
    // (round-9 verdict item 6). SummariesSpec keeps the tighter 1-rsd gate.
    // CAVEAT: 2-rsd is a ~2σ probabilistic bound hashed as a hard contract.
    // It holds for every committed dataset, but pointing the suite at NEW
    // data can legitimately put a group outside 10% — a q34 hash mismatch
    // on fresh data may mean the HLL bound fired, not broken code; check
    // the flag column before debugging the pipeline.
    Query("q34_approx_distinct", (s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.10).as("hll_within_10pct"))
        .orderBy(col("event_type"))
    },
      // The HLL++ estimate has no DuckDB twin; the oracle replays the exact
      // count and asserts the Spark side's within-bound flag is true — the
      // approx-accuracy contract, checked by hash.
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
                true AS hll_within_10pct
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // W2 — lag/lead analytics per user ((user_id, ts) is unique in the data)
    Query("q35_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id, value,
                value - lag(value, 1) OVER w AS delta_prev,
                lead(event_type, 1) OVER w AS next_type
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_id"""),

    // W3 — frame-spec running total (exact decimal accumulation → order-free)
    Query("q36_running_sum", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast("decimal(27,2)")).over(w).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey, o_orderdate,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""),

    // W1 completion — the rank family beyond row_number: ntile buckets,
    // percent_rank, cume_dist, dense_rank (all ANSI, engine-portable)
    Query("q105_rank_family", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("drank"),
          Summaries.r4(percent_rank().over(w)).as("pr"),
          Summaries.r4(cume_dist().over(w)).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                CAST(dense_rank() OVER w AS INT) AS drank,
                floor(percent_rank() OVER w * 10000 + 0.5)/10000 AS pr,
                floor(cume_dist() OVER w * 10000 + 0.5)/10000 AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),

    // U2 — intersect: customers ordering in both 1995 and 1996
    Query("q37_intersect", (s, d) => {
      val o = t(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    // U2 — except: 1995 customers who did not order in 1996
    Query("q38_except", (s, d) => {
      val o = t(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .except(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    // ST1 batch form — tumbling 1-day window counts
    Query("q39_window_tumbling", (s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS window_start,
                event_type, count(*) AS cnt
         FROM events GROUP BY window_start, event_type ORDER BY window_start, event_type"""),

    // ST2 batch form — sliding 2-day window, 1-day slide (each event in 2)
    Query("q40_window_sliding", (s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 days", "1 day"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("cnt"), col("sum_value"))
        .orderBy(col("window_start"))
    },
      """SELECT window_start, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM (SELECT CAST(unnest([time_bucket(INTERVAL '1 day', ts),
                                   time_bucket(INTERVAL '1 day', ts) - INTERVAL '1 day']) AS TIMESTAMP) AS window_start,
                      value
               FROM events)
         GROUP BY window_start ORDER BY window_start"""),

    // ST3 batch form — session windows (4 h gap) per user
    Query("q41_session_window", (s, d) => {
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "4 hours"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("user_id"), col("cnt"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) uts FROM events),
         g AS (SELECT user_id, uts,
                      CASE WHEN uts - lag(uts) OVER (PARTITION BY user_id ORDER BY uts) < INTERVAL '4 hours'
                           THEN 0 ELSE 1 END ns
               FROM e),
         sess AS (SELECT user_id, uts,
                         sum(ns) OVER (PARTITION BY user_id ORDER BY uts ROWS UNBOUNDED PRECEDING) sid
                  FROM g)
         SELECT min(uts) AS session_start, max(uts) + INTERVAL '4 hours' AS session_end,
                user_id, count(*) AS cnt
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // ST4 batch twin — the watermark late-drop PREDICATE with DuckDB rows
    // (round-9 verdict item 7; StreamingSpec proves the real runtime's
    // kept set equals this predicate's, micro-batch ≡ bucket).
    // Micro-batch ≙ the event_id/1000 arrival bucket; the watermark a batch
    // runs under is max(event time) over all PRIOR batches minus the delay
    // — exactly Spark's batch-boundary watermark update. Source events
    // arrive in event-time order (nothing would drop), so every 50th event
    // is deterministically shifted 3 days late. Scale shape: the prefix-max
    // is a TWO-LEVEL distributed scan (the q170 lesson — no global window
    // over anything that grows with the data): per-bucket max (parallel
    // agg), then within 1024-bucket super-bucket groups a PARTITIONED
    // running max, and only the super-bucket maxima (n/10^6 rows) pass
    // through a global window; prior-overall max = greatest(prior within
    // group, prior groups' max), broadcast back. The per-row side never
    // sees a window at all.
    Query("q195_watermark_drop", (s, d) => {
      val e = t(s, d, "events")
        .withColumn("ts2",
          when(col("event_id") % 50 === 0, col("ts") - expr("INTERVAL 3 DAYS"))
            .otherwise(col("ts")))
        .withColumn("bucket", floor(col("event_id") / 1000L))
      val perBucket = e.groupBy(col("bucket")).agg(max(col("ts2")).as("bmax"))
        .withColumn("sb", floor(col("bucket") / 1024L))
      val wInGroup = Window.partitionBy(col("sb")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wGroups = Window.orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val groupPrior = perBucket.groupBy(col("sb")).agg(max(col("bmax")).as("sbmax"))
        .withColumn("sb_prior", max(col("sbmax")).over(wGroups))
        .select(col("sb"), col("sb_prior"))
      // greatest() skips NULLs: null only when BOTH are null — the very
      // first bucket overall, which is exactly the no-watermark case
      val wm = perBucket.join(broadcast(groupPrior), "sb")
        .withColumn("wm",
          greatest(max(col("bmax")).over(wInGroup), col("sb_prior")))
        .select(col("bucket"), col("wm"))
      e.join(broadcast(wm), "bucket")
        .withColumn("kept",
          col("wm").isNull || col("ts2") >= col("wm") - expr("INTERVAL 1 DAY"))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("kept"), 1)).as("n_kept"),
          count(when(!col("kept"), 1)).as("n_dropped"))
        .orderBy(col("event_type"))
    },
      """WITH e AS (SELECT event_id, event_type,
                CASE WHEN event_id % 50 = 0
                     THEN make_timestamp(epoch_ns(ts)//1000) - INTERVAL '3 days'
                     ELSE make_timestamp(epoch_ns(ts)//1000) END ts2,
                event_id // 1000 AS b
         FROM events),
         bm AS (SELECT b, max(ts2) bmax FROM e GROUP BY b),
         w AS (SELECT b, max(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) wm
               FROM bm)
         SELECT event_type,
                count(*) FILTER (WHERE wm IS NULL OR ts2 >= wm - INTERVAL '1 day') AS n_kept,
                count(*) FILTER (WHERE wm IS NOT NULL AND ts2 < wm - INTERVAL '1 day') AS n_dropped
         FROM e JOIN w USING (b) GROUP BY event_type ORDER BY event_type"""),

    // ST5 batch twin — streaming exact-key dedup with DuckDB rows: an
    // at-least-once source redelivers every 7th event; dropDuplicates on
    // (event_id, ts) — the same key `Streaming.dedupEvents` uses — restores
    // exactly-once. Redelivered rows are byte-identical, so the surviving
    // set is deterministic; the aggregate proves no duplicate survived.
    Query("q196_stream_dedup", (s, d) => {
      val e = t(s, d, "events")
      e.unionByName(e.filter(col("event_id") % 7 === 0))
        .dropDuplicates("event_id", "ts")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          exactSum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """WITH u AS (SELECT * FROM events
                    UNION ALL SELECT * FROM events WHERE event_id % 7 = 0),
         d AS (SELECT DISTINCT * FROM u)
         SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM d GROUP BY event_type ORDER BY event_type"""),

    // ST6's event-time-timeout CLOSE semantics as a batch twin (the q195
    // watermark-model precedent): per-user 30-min gap sessions over the
    // real events, where a session is emitted iff the streaming runtime
    // would have emitted it in Append mode — closed by GAP when a later
    // session for the same user exists, or closed by TIMEOUT when the
    // end-of-stream watermark (global max ts − 1 h lateness bound) has
    // passed session_end + gap, which is exactly when
    // GroupStateTimeout.EventTimeTimeout fires for a quiet key. The
    // user's still-live trailing session (wm not yet past end + gap)
    // appears in NEITHER. StreamingSpec proves the model against the real
    // flatMapGroupsWithState runtime on the same corpus; the oracle
    // replays the predicate in SQL. Scale shape: per-user windows
    // (high-cardinality key) + one broadcast scalar — no global window.
    Query("q197_timeout_sessions", (s, d) => {
      val gapMs = 1800L * 1000
      val e = t(s, d, "events").select(col("user_id"), col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val sess = e
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__new", (col("__prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("__prev")) > gapMs).cast("long"))
        .withColumn("__sid", sum(col("__new")).over(w))
        .groupBy(col("user_id"), col("__sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
      val wm = e.agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("__wm"))
      sess
        .withColumn("__last", max(col("__sid")).over(Window.partitionBy(col("user_id"))))
        .crossJoin(broadcast(wm))
        .withColumn("closed_by",
          when(col("__sid") < col("__last"), lit("gap"))
            .when(unix_millis(col("__wm")) > unix_millis(col("session_end")) + gapMs,
              lit("timeout")))
        .filter(col("closed_by").isNotNull)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("closed_by"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // (user_id, ts) is unique in the data, so the lag needs no tiebreak
      """WITH e AS (SELECT user_id, make_timestamp(epoch_ns(ts)//1000) AS ts FROM events),
         g AS (SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                > INTERVAL '30 minutes'
                           THEN 1 ELSE 0 END AS ns
               FROM e),
         s AS (SELECT user_id, ts,
                      sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
         sess AS (SELECT user_id, sid, min(ts) AS session_start,
                         max(ts) AS session_end, count(*)::BIGINT AS n_events
                  FROM s GROUP BY 1, 2),
         wm AS (SELECT max(ts) - INTERVAL '1 hour' AS wm FROM e)
         SELECT user_id, session_start, session_end, n_events,
                CASE WHEN sid < max(sid) OVER (PARTITION BY user_id) THEN 'gap'
                     WHEN session_end + INTERVAL '30 minutes' < wm THEN 'timeout'
                END AS closed_by
         FROM sess, wm
         QUALIFY closed_by IS NOT NULL
         ORDER BY user_id, session_start"""),

    // A6/F14 — daily time series
    Query("q42_timeseries", (s, d) => {
      Summaries.timeSeries(t(s, d, "events"), "ts", "day",
        Seq(count(lit(1)).as("cnt"), exactSum(col("value")).as("sum_value")))
    },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY period ORDER BY period"""),

    // A5/F15 — fixed-width histogram of extended price
    Query("q43_histogram", (s, d) => Summaries.histogram(t(s, d, "lineitem"), "l_extendedprice", 500.0),
      """SELECT floor(l_extendedprice / 500.0) * 500.0 AS bin, count(*) AS cnt
         FROM lineitem GROUP BY bin ORDER BY bin"""),

    // O4 — top-3 most recent events per user
    Query("q44_topk_group", (s, d) => {
      Dedup.topKPerGroup(t(s, d, "events"), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").asc), 3)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) <= 3
         ORDER BY user_id, event_id"""),

    // J6 — as-of join: latest click at-or-before each purchase, per user
    Query("q45_asof_join", (s, d) => {
      val e = t(s, d, "events")
      Relational.asOfJoin(
          left = e.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts", "value"),
          right = e.filter(col("event_type") === "click").select("event_id", "user_id", "ts", "value"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id", "value"), tieBreak = Seq("event_id"))
        .orderBy(col("event_id"))
    },
      """SELECT l.user_id, l.event_id, make_timestamp(epoch_ns(l.ts)//1000) AS ts, l.value,
                r.event_id AS asof_event_id, r.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id"""),

    // §3.1 pipeline replica on real tables: split → unionByName → dedup
    // keep-latest → keyword failure filter → group count
    Query("q46_pipeline", (s, d) => {
      val e = t(s, d, "events")
      val a = e.filter(col("event_id") % 2 === 0).select("event_id", "ts", "user_id", "event_type", "value")
      val b = e.filter(col("event_id") % 2 === 1).select("event_id", "ts", "user_id", "event_type", "props")
      val u = Ingest.unionAllByName(Seq(a, b))
      val deduped = Dedup.keepLatest(u, keys = Seq("user_id", "event_type"),
        recency = Seq("ts"), tieBreak = Seq(col("event_id")))
      Summaries.groupCount(
        deduped.filter(Clean.keywordAny(Seq(col("event_type"), col("props")), Clean.FailurePattern)),
        "event_type")
    },
      """WITH u AS (
           SELECT event_id, ts, user_id, event_type, value, NULL::VARCHAR AS props
           FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_id, ts, user_id, event_type, NULL::DOUBLE, props
           FROM events WHERE event_id % 2 = 1),
         dd AS (
           SELECT * FROM u
           QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id) = 1)
         SELECT event_type, count(*) AS qtd FROM dd
         WHERE COALESCE(regexp_matches(lower(CAST(event_type AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
            OR COALESCE(regexp_matches(lower(CAST(props AS VARCHAR)), 'fail|timed out|faulty|lost|error'), false)
         GROUP BY event_type ORDER BY qtd DESC, event_type ASC NULLS FIRST"""),

    // F10/F11 — timestamp and thousands-separator number formatting
    Query("q47_format", (s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_str"),
          format_number(col("o_orderkey") * 1000, 0).as("pretty_key"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_str,
                format('{:,}', o_orderkey * 1000) AS pretty_key
         FROM orders ORDER BY o_orderkey"""),

    // F13/A3 — length stats per lang (+ cross-check against n_chars)
    Query("q48_length_stats", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          max(length(col("text"))).as("max_len"),
          min(length(col("text"))).as("min_len"),
          Summaries.r4(sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_len"),
          count(when(length(col("text")) =!= col("n_chars"), 1)).as("n_mismatch"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n_docs, max(length(text)) AS max_len, min(length(text)) AS min_len,
                floor(sum(length(text))::DOUBLE / count(*) * 10000 + 0.5)/10000 AS avg_len,
                count(*) FILTER (length(text) <> n_chars) AS n_mismatch
         FROM documents GROUP BY lang ORDER BY lang"""),

    // P6 — null filter over union-induced missing columns
    Query("q49_null_filter", (s, d) => {
      val li  = t(s, d, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      val a = li.filter(col("l_shipdate") < cut).select("l_orderkey", "l_linenumber", "l_quantity")
      val b = li.filter(col("l_shipdate") >= cut).select("l_orderkey", "l_linenumber", "l_extendedprice")
      Ingest.unionAllByName(Seq(a, b))
        .filter(col("l_quantity").isNull)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_linenumber"))
    },
      """SELECT l_linenumber, count(*) AS cnt
         FROM (SELECT l_linenumber, NULL AS l_quantity
               FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01')
         WHERE l_quantity IS NULL
         GROUP BY l_linenumber ORDER BY l_linenumber"""),

    // O3 — deterministic top-N via sort + limit
    Query("q50_limit", (s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    // S5 — CSV sink + source round-trip (schema-explicit read back)
    Query("q51_csv_roundtrip", (s, d) => {
      val src  = t(s, d, "part")
      val path = Tables.targetPath(s"tmp/csv_part_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      src.write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").schema(src.schema).csv(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("p_retailprice")).as("sum_price"))
        .orderBy(col("p_brand"))
    },
      """SELECT p_brand, count(*) AS cnt,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM part GROUP BY p_brand ORDER BY p_brand"""),

    // S — JSON-lines sink + source round-trip (schema-explicit read back;
    // Spark writes shortest-round-trip doubles, so values survive exactly)
    Query("q72_json_roundtrip", (s, d) => {
      val src = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val path = Tables.targetPath(s"tmp/json_orders_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, count(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // S — ORC sink + source round-trip (columnar alternative to parquet)
    Query("q73_orc_roundtrip", (s, d) => {
      val src  = t(s, d, "supplier")
      val path = Tables.targetPath(s"tmp/orc_supplier_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      src.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("s_acctbal")).as("sum_bal"))
        .orderBy(col("s_nationkey"))
    },
      """SELECT s_nationkey, count(*) AS cnt,
                CAST(SUM(CAST(s_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS sum_bal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""),

    // SQL surface over the registered table catalog
    Query("q52_sql_surface", (s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT n_name, count(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name ORDER BY n_name""")
    },
      """SELECT n_name, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),

    // Capstone: raw corpus → training shards in ONE lazy plan — curation
    // (gate/dedup/cap/split) → token-budget mixing → sequence packing →
    // per-(split, bucket) shard manifest
    Query("q95_training_shards", (s, d) => {
      val curated = Curation.curationPipeline(t(s, d, "documents"),
        "doc_id", "text", "source", minTokens = 20, maxTokens = 80, cap = 12,
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val withTok = curated.withColumn("n_tokens",
        size(Text.tokens(col("text"))).cast("long"))
      val mixed = Sampling.tokenBudgetMix(withTok, Seq("doc_id"), "source",
        col("n_tokens"), budget = 8000.0,
        Map("src0" -> 0.5, "src1" -> 0.25), default = 0.0125)
      val packed = Sampling.packSequences(mixed, "doc_id", col("n_tokens"), 512L, 4)
      packed
        .groupBy(col("split"), col("bucket").cast("long").as("bucket"))
        .agg(countDistinct(col("seq")).as("n_seqs"), count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("split"), col("bucket"))
    },
      """WITH gated AS (
           SELECT doc_id, source, text FROM documents
           WHERE len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 20 AND 80),
         dd AS (
           SELECT doc_id, source, text FROM gated
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         capped AS (
           SELECT doc_id, source, text FROM dd
           QUALIFY row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) <= 12),
         base AS (
           SELECT doc_id, source,
                  CASE WHEN h % 10000 < 8000 THEN 'train'
                       WHEN h % 10000 < 9000 THEN 'val' ELSE 'test' END AS split,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  h
           FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                 FROM capped)),
         tot AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tot FROM base GROUP BY source),
         f AS (SELECT source,
                      least(1.0::DOUBLE,
                            (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                                         ELSE 0.0125 END) * 8000.0 / tot) AS frac
               FROM tot),
         kept AS (
           SELECT base.* FROM base JOIN f USING (source)
           WHERE h % 10000 < floor(frac * 10000)),
         packed AS (
           SELECT split, h % 4 AS bucket, doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS off
           FROM kept),
         seqs AS (
           SELECT split, bucket, n_tokens,
                  CAST(bucket * 1099511627776 + floor(off / 512) AS BIGINT) AS seq
           FROM packed)
         SELECT split, CAST(bucket AS BIGINT) AS bucket, count(DISTINCT seq) AS n_seqs,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM seqs GROUP BY split, bucket ORDER BY split, bucket"""),

    // TPC-H Q3-shaped composite (shipping priority): segment-filtered
    // 3-table join, revenue agg, top-10 — the classic relational stress
    // pattern, exactSum so the ranking is partition-order-free
    Query("q91_shipping_priority", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""),

    // The full fuzzy-dedup path in PURE SQL via the injected function
    // battery (graft_shingles/graft_minhash/graft_jaccard) — same semantics
    // as q17's operator form, same oracle
    Query("q90_sql_neardup", (s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """WITH sh AS (SELECT doc_id, graft_shingles(text, 3) AS ss FROM documents),
           sig AS (
             SELECT doc_id, band, hv
             FROM sh LATERAL VIEW posexplode(graft_minhash(ss, 16)) t AS band, hv),
           cand AS (
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sig a JOIN sig b
               ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
           scored AS (
             SELECT doc_a, doc_b, graft_jaccard(x.ss, y.ss) AS j
             FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id)
           SELECT doc_a, doc_b, floor(j * 10000 + 0.5)/10000 AS jacc
           FROM scored WHERE j >= 0.5
           ORDER BY doc_a, doc_b""")
    },
      // identical semantics driven through the pure-SQL surface (q90)
      minhashLshOracle()),

    // Multimodal plumbing — opaque binary payload + typed metadata: byte
    // length, sha-256 fingerprint, head-bytes probe, every-64th-byte sample
    Query("q53_multimodal", (s, d) => {
      val payload = col("text").cast("binary")
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(payload).as("byte_len"),
          sha2(payload, 256).as("sha"),
          conv(hex(substring(payload, 1, 7)), 16, 10).cast("long").as("head7"),
          expr("concat_ws('', transform(sequence(1, length(text), 64), i -> substr(text, i, 1)))").as("sample"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, length(text) AS byte_len, sha256(text) AS sha,
                ('0x' || hex(substr(text, 1, 7)))::BIGINT AS head7,
                array_to_string([substr(text, i, 1) for i in range(1, length(text) + 1, 64)], '') AS sample
         FROM documents ORDER BY doc_id"""),

    // Overlapping token-window chunking (RAG/long-doc prep): 30-token
    // windows advancing by 15
    Query("q98_token_windows", (s, d) => {
      Curation.slidingTokenWindows(t(s, d, "documents"), "doc_id", "text", 30, 15)
        .orderBy(col("doc_id"), col("pos"))
    },
      """SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(list_slice(tk, i, i + 29), ' ') AS chunk
         FROM (SELECT doc_id, tk, greatest(len(tk) - 29, 1) AS ms
               FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                     FROM documents)),
              unnest(list_distinct(list_append([x for x in range(1, ms + 1, 15)], ms))) t(i)
         ORDER BY doc_id, pos"""),

    // REAL image-header parsing: docs wrapped in a constructed PNG header
    // (width = doc_id % 500 + 1, height = 256); ImageDims must recover the
    // dimensions the construction encoded
    Query("q92_image_dims", (s, d) => {
      val w = (col("doc_id") % 500 + 1).cast("int")
      val payload = concat(
        unhex(lit("89504E470D0A1A0A0000000D49484452")), // PNG sig + IHDR len/type
        unhex(lpad(hex(w), 8, "0")),                    // width  BE32
        unhex(lit("00000100")),                         // height BE32 = 256
        col("text").cast("binary"))
      t(s, d, "documents").select(col("doc_id"),
          Multimodal.inferFormat(payload).as("format"),
          Multimodal.imageDims(payload).getField("width").as("width"),
          Multimodal.imageDims(payload).getField("height").as("height"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, 'png' AS format,
                CAST(doc_id % 500 + 1 AS INT) AS width, CAST(256 AS INT) AS height
         FROM documents ORDER BY doc_id"""),

    // F16 via Spark 4's native VariantType: parse once to variant, typed
    // path extraction — the open-schema semi-structured path (vs q30's
    // fixed-schema from_json)
    Query("q96_variant_extract", (s, d) => {
      t(s, d, "events")
        .select(variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod"))
    },
      """SELECT k % 10 AS k_mod, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT json_extract(props, '$.k')::BIGINT AS k FROM events)
         GROUP BY k_mod ORDER BY k_mod"""),

    // REAL WAV-header parsing: RIFF/fmt chunks constructed in-plan with
    // little-endian byte plumbing; WavInfo must recover the encoded
    // (sample_rate, channels, bits)
    Query("q97_wav_info", (s, d) => {
      val rate = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
      val ch   = (col("doc_id") % 2 + 1).cast("int")
      val payload = concat(
        lit("RIFF").cast("binary"), unhex(lit("64000000")), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(1), 2), le(ch, 2), le(rate, 4),
        le(rate * 4, 4), le(lit(4), 2), le(lit(16), 2))
      val w = Multimodal.wavInfo(payload)
      t(s, d, "documents").select(col("doc_id"),
          w.getField("sample_rate").as("sample_rate"),
          w.getField("channels").as("channels"),
          w.getField("bits_per_sample").as("bits"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
                CAST(doc_id % 2 + 1 AS INT) AS channels, CAST(16 AS INT) AS bits
         FROM documents ORDER BY doc_id"""),

    // Incremental exact dedup — drop batch rows whose content already exists
    // in the corpus (the daily-increment path of a growing training set)
    Query("q75_incremental_dedup", (s, d) => {
      val e      = t(s, d, "events")
      val corpus = e.filter(col("event_id") % 10 < 8)
      val batch  = e.filter(col("event_id") % 10 >= 8)
      Dedup.dedupAgainstCorpus(batch, corpus, "props")
        .select(col("event_id"), col("props"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, props
         FROM events b
         WHERE event_id % 10 >= 8
           AND NOT EXISTS (SELECT 1 FROM events c
                           WHERE c.event_id % 10 < 8 AND c.props = b.props)
         ORDER BY event_id"""),

    // Keyed upsert (MERGE fast path): a priced-up increment replaces its
    // keys; untouched rows pass through; the current table never shuffles
    Query("q102_upsert", (s, d) => {
      val orders  = t(s, d, "orders")
      val updates = orders.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Dedup.upsert(orders, updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          Summaries.r4(col("o_totalprice")).as("price4"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderstatus,
                floor((CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 1.1
                            ELSE o_totalprice END) * 10000 + 0.5)/10000 AS price4
         FROM orders ORDER BY o_orderkey"""),

    // Incremental FUZZY dedup — drop batch docs with a MinHash near-dup
    // already in the corpus (the paraphrase-resistant increment path; q75
    // is the exact-digest counterpart)
    Query("q100_fuzzy_incremental", (s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      Text.minhashDedupAgainstCorpus(batch, corpus, "doc_id", "text", 3, 16, 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, minhashIncrementalOracle()),

    // q100's 100 TB form: the corpus's LSH index persisted as bucketed
    // tables (signatures by (band,hv), shingle sets by id), so the
    // increment joins against the STORED index — no corpus re-scan,
    // re-hash, or corpus-side exchange (PlanSpec pins the plan; TextSpec
    // pins equivalence with the recompute form; same oracle as q100)
    Query("q176_index_dedup", (s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // one-time corpus index build per source dir (the dir tag in the
      // table name IS the freshness check — a fresh session's empty
      // catalog rebuilds, a repeat invocation in the same session reuses),
      // so repeated runs measure the INCREMENT cost, which is the point
      val prefix = s"q176_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig"))
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // identical semantics to q100 — the stored-index plan must not change results
      minhashIncrementalOracle()),

    // The index lifecycle's missing half: corpus docs are DELETED from the
    // persisted q176-shaped index (doc_id % 3 == 0 tombstoned — one
    // O(deleted ids) append, no index rewrite) and the increment dedup
    // must equal a recompute against the SHRUNKEN corpus — a batch doc
    // whose only near-dup was deleted now survives
    Query("q190_index_delete", (s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val prefix = s"q190_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig")) {
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
        Text.deleteFromMinhashIndex(s,
          corpus.filter(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id", prefix)
      }
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // index deletion ≡ recompute against the corpus minus the deleted docs
      minhashIncrementalOracle("b.doc_id % 10 <> 0 AND b.doc_id % 3 <> 0")),

    // q190 after COMPACTION: the tombstones folded into a physical rewrite
    // of both bucketed tables (shingles minus deleted ids; signatures
    // re-derived from the retained shingle rows — no corpus re-scan) and
    // the tombstone table reset. Same oracle as q190 — the delete-vector
    // fast path and the compacted slow path must agree exactly
    Query("q191_index_compact", (s, d) => {
      val docs   = t(s, d, "documents")
      val batch  = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val prefix = s"q191_idx_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_sig")) {
        Text.writeMinhashIndex(corpus, "doc_id", "text", 3, 16, prefix, buckets = 8)
        Text.deleteFromMinhashIndex(s,
          corpus.filter(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id", prefix)
        Text.compactMinhashIndex(s, prefix, 16, buckets = 8)
      }
      Text.minhashDedupAgainstIndex(batch, "doc_id", "text", 3, 16, 0.5, prefix)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // compaction must not change what deletion already decided
      minhashIncrementalOracle("b.doc_id % 10 <> 0 AND b.doc_id % 3 <> 0")),

    // Per-domain quota: at most k docs per source, content-addressed pick
    Query("q76_domain_cap", (s, d) => {
      Curation.domainCap(t(s, d, "documents"), "source", "doc_id", "text", 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      """WITH rk AS (
           SELECT doc_id, source,
                  row_number() OVER (
                    PARTITION BY source
                    ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) AS rk
           FROM documents)
         SELECT doc_id, source FROM rk WHERE rk <= 10 ORDER BY doc_id"""),

    // Boilerplate-line removal (CCNet-style) over fixed-width token chunks
    Query("q77_boilerplate", (s, d) => {
      val docs  = Tables.spread(t(s, d, "documents"))
      val lines = Curation.tokenChunks(docs, "doc_id", "source", "text", 5)
      Curation.stripBoilerplate(docs, lines, "doc_id", "source", maxFrac = 0.5)
        .select(col("doc_id"), col("source"), col("clean_text"))
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
           SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') tk
           FROM documents),
         chunks AS (
           SELECT doc_id, source,
                  [array_to_string(list_slice(tk, i, i + 4), ' ')
                   for i in range(1, len(tk) + 1, 5)] AS ls
           FROM toks),
         ex AS (
           SELECT doc_id, source, unnest(ls) AS line, unnest(range(len(ls))) AS pos
           FROM chunks),
         nd AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         hot AS (
           SELECT ex.source, line
           FROM ex JOIN nd USING (source)
           GROUP BY ex.source, line, n
           HAVING count(DISTINCT doc_id) >= 2
              AND count(DISTINCT doc_id) > n * 0.5),
         kept AS (
           SELECT e.doc_id, string_agg(e.line, chr(10) ORDER BY e.pos) AS clean_text
           FROM ex e ANTI JOIN hot h ON e.source = h.source AND e.line = h.line
           GROUP BY e.doc_id)
         SELECT d.doc_id, d.source, coalesce(k.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN kept k USING (doc_id)
         ORDER BY doc_id"""),

    // Dense global ids without a single-partition window
    Query("q78_global_ids", (s, d) => {
      Ingest.withGlobalId(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"), "gid")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source,
                row_number() OVER (ORDER BY doc_id) - 1 AS gid
         FROM documents ORDER BY doc_id"""),

    // Character-entropy information-density score
    Query("q79_entropy", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          Summaries.r4(Curation.charEntropy(col("text"))).as("char_entropy"))
        .orderBy(col("doc_id"))
    },
      """WITH cs AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
         ks AS (
           SELECT doc_id, len(ch) AS n,
                  [len(list_filter(ch, x -> x = c))
                   for c in list_sort(list_distinct(ch))] AS counts
           FROM cs)
         SELECT doc_id,
                floor(list_sum([-(k::DOUBLE / n) * log2(k::DOUBLE / n)
                                for k in counts]) * 10000 + 0.5) / 10000 AS char_entropy
         FROM ks ORDER BY doc_id"""),

    // Stratified deterministic sampling: per-language fractions
    Query("q81_stratified_sample", (s, d) => {
      Sampling.stratifiedSample(t(s, d, "documents"), "lang",
          Seq("doc_id"), Map("en" -> 0.5, "zh" -> 0.2), default = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
           FROM documents)
         WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 1000 END
         ORDER BY doc_id"""),

    // Z-score outlier trim: docs whose length is >2 sd from their source mean
    Query("q82_outliers", (s, d) => {
      Curation.zScoreOutliers(t(s, d, "documents"), "source", "n_chars", 2.0)
        .select(col("doc_id"), col("source"), Summaries.r4(col("z")).as("z"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (
           SELECT source, avg(n_chars) AS mu, stddev(n_chars) AS sd
           FROM documents GROUP BY source)
         SELECT doc_id, d.source,
                floor((n_chars - mu) / sd * 10000 + 0.5) / 10000 AS z
         FROM documents d JOIN s USING (source)
         WHERE abs((n_chars - mu) / sd) > 2.0
         ORDER BY doc_id"""),

    // S — malformed-record quarantine: JSON-lines ingest routed into
    // (parsed, rejected-raw) off ONE text scan (Ingest.readJsonQuarantine).
    // Three corrupt lines are injected next to the good part-files; the
    // good side must aggregate exactly like the source table and the bad
    // side must count exactly the injected lines.
    Query("q83_json_quarantine", (s, d) => {
      val src  = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = Tables.targetPath(s"tmp/jsonq_orders_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      src.write.mode("overwrite").json(path)
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "corrupt.txt"),
        java.util.Arrays.asList(
          """{"o_orderkey": 1, "o_orderstatus": BROKEN""",
          "not json at all",
          """{"truncated"""))
      val (good, bad) = Ingest.readJsonQuarantine(s, path, src.schema)
      val g = good.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), exactSum(col("o_totalprice")).as("sum_price"))
      val b = bad.agg(count(lit(1)).as("cnt"))
        .select(lit("__quarantined").as("o_orderstatus"), col("cnt"),
          lit(null).cast("double").as("sum_price"))
      g.unionByName(b).orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, cnt, sum_price FROM (
           SELECT o_orderstatus, count(*) AS cnt,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY o_orderstatus
           UNION ALL
           SELECT '__quarantined', 3, NULL)
         ORDER BY o_orderstatus"""),

    // Bucketed co-located join: shuffle paid once at write time, join is
    // exchange-free (plan pinned in StorageSpec)
    Query("q80_bucketed_join", (s, d) => {
      Storage.writeBucketed(t(s, d, "customer"), "q80_cust_b", Seq("c_custkey"), 4)
      Storage.writeBucketed(
        t(s, d, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        "q80_ord_b", Seq("c_custkey"), 4)
      Storage.coLocatedJoin(s, "q80_cust_b", "q80_ord_b", Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders, max(o_totalprice) AS max_price
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // End-to-end corpus curation: quality gate → exact dedup → domain cap →
    // deterministic split, composed as ONE lazy plan
    Query("q87_curation_pipeline", (s, d) => {
      Curation.curationPipeline(t(s, d, "documents"), "doc_id", "text", "source",
          minTokens = 20, maxTokens = 80, cap = 12,
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    },
      """WITH gated AS (
           SELECT doc_id, source, text FROM documents
           WHERE len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 20 AND 80),
         dd AS (
           SELECT doc_id, source, text FROM gated
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         capped AS (
           SELECT doc_id, source FROM dd
           QUALIFY row_number() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT, doc_id) <= 12)
         SELECT doc_id, source,
                CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS b
               FROM capped)
         ORDER BY doc_id"""),

    // Token-budget corpus mixing: per-source keep-fractions computed in-plan
    // from token totals; membership content-addressed
    Query("q88_token_mix", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))))
      Sampling.tokenBudgetMix(docs, Seq("doc_id"), "source",
          col("n_tokens"), budget = 8000.0,
          Map("src0" -> 0.5, "src1" -> 0.25), default = 0.0125)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("kept_tokens"))
        .orderBy(col("source"))
    },
      """WITH d AS (
           SELECT doc_id, source,
                  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
           FROM documents),
         tot AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tot FROM d GROUP BY source),
         f AS (SELECT source,
                      least(1.0::DOUBLE,
                            (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                                         ELSE 0.0125 END) * 8000.0 / tot) AS frac
               FROM tot),
         kept AS (
           SELECT d.source, d.n_tokens FROM d JOIN f USING (source)
           WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                 < floor(frac * 10000))
         SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
         FROM kept GROUP BY source ORDER BY source"""),

    // Sequence packing: concat-and-chop into 512-token training sequences,
    // bucketed so the running-offset windows parallelize
    Query("q89_pack_sequences", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      Sampling.packSequences(docs, "doc_id", col("n_tokens"), maxTokens = 512L, buckets = 4)
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          col("offset"), col("seq"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents),
         o AS (
           SELECT doc_id, h % 4 AS bucket, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS "offset"
           FROM d)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, "offset",
                CAST(bucket * 1099511627776 + floor("offset" / 512) AS BIGINT) AS seq
         FROM o ORDER BY doc_id"""),

    // Skew-safe salted equi-join: one hot key spreads over 4 reducers; the
    // result is identical to the plain join (that identity IS the oracle)
    Query("q84_salted_join", (s, d) => {
      Relational.saltedJoin(
          t(s, d, "lineitem"), t(s, d, "orders"), "l_orderkey", "o_orderkey", salts = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // One-pass column profiler: rows / non-null / exact distinct / min / max
    // per column off a single scan (multi-distinct via Expand, not one scan
    // per column)
    Query("q85_profile", (s, d) => {
      Summaries.profile(t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .orderBy(col("col_name"))
    },
      """SELECT col_name, n_rows, n_nonnull, n_distinct, min_val, max_val FROM (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                  count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
                  CAST(min(o_orderkey) AS VARCHAR) AS min_val,
                  CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
                  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
                  min(o_orderstatus), max(o_orderstatus) FROM orders)
         ORDER BY col_name"""),

    // Unicode canonicalization: accent folding + NFC recomposition. The
    // prefix carries precomposed AND decomposed accents so both paths are
    // exercised on every row (corpus text itself is ASCII-only).
    Query("q86_normalize", (s, d) => {
      val decorated = concat(
        lit("Caf\u00e9 Z\u00fcrich ni\u00f1o Cafe\u0301 "), substring(col("text"), 1, 24))
      t(s, d, "documents").select(col("doc_id"),
          Clean.stripAccents(decorated).as("folded"),
          Clean.unicodeNormalize(decorated, "NFC").as("nfc"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                strip_accents('Caf' || chr(233) || ' Z' || chr(252) || 'rich ni' ||
                              chr(241) || 'o Cafe' || chr(769) || ' ' || substr(text, 1, 24)) AS folded,
                nfc_normalize('Caf' || chr(233) || ' Z' || chr(252) || 'rich ni' ||
                              chr(241) || 'o Cafe' || chr(769) || ' ' || substr(text, 1, 24)) AS nfc
         FROM documents ORDER BY doc_id"""),

    // D3 — SimHash-banded near-dup (third LSH family; Hamming verify)
    Query("q55_simhash_neardup", (s, d) => {
      Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
         shl AS (SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss FROM toks),
         sh AS (
           SELECT doc_id,
                  CAST(list_sum([CASE WHEN list_sum([((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) * 2 - 1
                                                    for t in ss]) > 0
                                 THEN (1::BIGINT << b) ELSE 0::BIGINT END
                                 for b in range(0, 48)]) AS BIGINT) AS sig
           FROM shl),
         ex AS (SELECT doc_id, sig, p AS band, (sig >> (p*16)) & 65535 AS bv FROM sh, unnest([0,1,2]) t(p)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig sa, b.doc_id AS doc_b, b.sig sb
                  FROM ex a JOIN ex b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 8
         ORDER BY doc_a, doc_b"""),

    // D3 survivor resolution — connected components keep-one over the
    // simhash near-dup pair graph (q55's candidates): every cluster keeps
    // exactly its minimum doc_id (reference keep-first semantics, app.py:240).
    // NOTE: unlike every other entry, building this DataFrame RUNS the
    // iterative label propagation (documented on Dedup.connectedComponents) —
    // the one queries-map entry that is an algorithm, not a lazy plan.
    Query("q68_neardup_survivors", (s, d) => {
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.nearDupSurvivors(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
         shl AS (SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss FROM toks),
         sh AS (
           SELECT doc_id,
                  CAST(list_sum([CASE WHEN list_sum([((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) * 2 - 1
                                                    for t in ss]) > 0
                                 THEN (1::BIGINT << b) ELSE 0::BIGINT END
                                 for b in range(0, 48)]) AS BIGINT) AS sig
           FROM shl),
         ex AS (SELECT doc_id, sig, p AS band, (sig >> (p*16)) & 65535 AS bv FROM sh, unnest([0,1,2]) t(p)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig sa, b.doc_id AS doc_b, b.sig sb
                  FROM ex a JOIN ex b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 8),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.id)
         SELECT id AS doc_id, min(root) AS comp, (id = min(root)) AS keep
         FROM walk GROUP BY id ORDER BY doc_id"""),

    // SQL-closure: hierarchy rollup through Spark's OWN `WITH RECURSIVE`
    // (SQL:2023 recursive CTE — Catalyst UnionLoop, new in Spark 4.x), the
    // org-chart/BOM pattern that windows cannot express. The hierarchy is
    // the radix trie over custkeys (parent = key DIV 10 — deterministic,
    // acyclic, depth ≤ ⌈log₁₀ n⌉): each customer walks its ancestor chain,
    // and every ancestor prefix aggregates its subtree's size and exact
    // balance. UNION ALL terminates because the chain strictly shrinks —
    // Spark's recursion does not yet accept deduplicating UNION
    // ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), so fixpoint walks over
    // CYCLIC graphs stay on the operator surface
    // ([[graft.ops.Dedup.connectedComponents]], q68) while the acyclic
    // recursion family is certified here. Output rows ∝ n·depth — linear,
    // and the per-round join is the same Pregel shape Catalyst already
    // plans for the iterative operators.
    Query("q194_sql_recursive", (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS ck, c_custkey AS anc, 0 AS depth FROM customer
          UNION ALL
          SELECT ck, anc DIV 10, depth + 1 FROM chain WHERE anc > 0)
        SELECT c.anc, count(*) AS n_desc, max(c.depth) AS max_depth,
               CAST(sum(CAST(cu.c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS subtree_bal
        FROM chain c JOIN customer cu ON c.ck = cu.c_custkey
        GROUP BY c.anc ORDER BY c.anc""")
    },
      // the identical acyclic recursion replayed by DuckDB (// is DuckDB's
      // integer division, Spark's DIV)
      """WITH RECURSIVE chain AS (
           SELECT c_custkey AS ck, c_custkey AS anc, 0 AS depth FROM customer
           UNION ALL
           SELECT ck, anc // 10, depth + 1 FROM chain WHERE anc > 0)
         SELECT c.anc, count(*) AS n_desc, max(c.depth) AS max_depth,
                CAST(sum(CAST(cu.c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS subtree_bal
         FROM chain c JOIN customer cu ON c.ck = cu.c_custkey
         GROUP BY c.anc ORDER BY c.anc"""),

    // Multimodal decode path — REAL 16-bit PCM decode via mapPartitions
    // over a WAV constructed in-plan (q97's byte-plumbing trick, now with a
    // data chunk): sample i of doc is ((doc_id·7919 + i·104729) % 65536)
    // − 32768, n = doc_id % 64 + 64 samples. The decoder walks RIFF chunks
    // and recovers exact integer features (sums/energy/peak/zero-crossings/
    // per-lane sums) that the oracle computes from the same formula — a
    // wrong byte anywhere breaks the hash
    Query("q56_decode_features", (s, d) => {
      val n    = (col("doc_id") % 64 + 64).cast("int")
      val rate = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
      val sampleHex = array_join(
        transform(sequence(lit(0), n - 1), i => {
          val tc = pmod(pmod(col("doc_id") * 7919 + i * 104729, lit(65536)) - 32768,
            lit(65536)) // two's-complement 16-bit image of the signed sample
          concat(lpad(hex(pmod(tc, lit(256))), 2, "0"), lpad(hex(shiftright(tc, 8)), 2, "0"))
        }), "")
      val payload = concat(
        lit("RIFF").cast("binary"), le(n * 2 + 36, 4), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(1), 2), le(lit(1), 2), le(rate, 4),
        le(rate * 2, 4), le(lit(2), 2), le(lit(16), 2),
        lit("data").cast("binary"), le(n * 2, 4),
        unhex(sampleHex))
      val src = t(s, d, "documents").select(col("doc_id"), payload.as("payload"))
      Multimodal.decodeFeatures(Tables.spread(src), "doc_id", "payload", dim = 16)
        .select(col("doc_id"), col("format"), col("byte_len"),
          col("sample_rate"), col("n_samples"), col("sum_s"), col("sum_sq"),
          col("peak"), col("zero_cross"),
          // CSV, not the raw array: the driver's compare sorts/hashes
          // pandas cells, and ndarray cells are unhashable there
          array_join(col("features").cast("array<string>"), ",").as("features_csv"))
        .orderBy(col("doc_id"))
    },
      // replays q56's generative formula: the Spark side must DECODE the wav
      // bytes back into exactly these numbers
      """WITH s AS (
           SELECT doc_id, unnest(range(doc_id % 64 + 64)) AS i FROM documents),
         v AS (
           SELECT doc_id, i,
                  ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS sv,
                  lag(((doc_id * 7919 + i * 104729) % 65536) - 32768)
                    OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM s),
         f AS (
           SELECT doc_id, count(*) AS n_samples,
                  CAST(sum(sv) AS BIGINT) AS sum_s,
                  CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
                  CAST(max(abs(sv)) AS BIGINT) AS peak,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND ((sv < 0) != (prev < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
           FROM v GROUP BY doc_id),
         l AS (
           SELECT doc_id,
                  string_agg(CAST(lane_sum AS VARCHAR), ',' ORDER BY lane) AS features_csv
           FROM (SELECT doc_id, i % 16 AS lane, CAST(sum(sv) AS BIGINT) AS lane_sum
                 FROM v GROUP BY doc_id, i % 16)
           GROUP BY doc_id)
         SELECT d.doc_id, 'riff' AS format,
                CAST(44 + (d.doc_id % 64 + 64) * 2 AS BIGINT) AS byte_len,
                CAST(8000 + (d.doc_id % 8) * 4000 AS INT) AS sample_rate,
                f.n_samples, f.sum_s, f.sum_sq, f.peak, f.zero_cross, l.features_csv
         FROM documents d JOIN f USING (doc_id) JOIN l USING (doc_id)
         ORDER BY doc_id"""),

    // G.711 µ-law WAV decode (fmt tag 7, 8-bit companded — how telephony
    // corpora actually ship audio): in-plan synthesis of a µ-law
    // container whose data bytes come straight from a byte formula; the
    // engine expands through the CCITT table (Multimodal.UlawTable) to
    // exact 16-bit integers, and the oracle replays the SAME expansion
    // arithmetic in SQL — table drift fails the hash loudly. q56's shape
    // on the companded branch.
    Query("q217_ulaw_features", (s, d) => {
      val n    = (col("doc_id") % 64 + 64).cast("int")
      val rate = lit(8000).cast("int")
      val sampleHex = array_join(
        transform(sequence(lit(0), n - 1), i =>
          lpad(hex(pmod(col("doc_id") * 131 + i * 104729, lit(256))), 2, "0")), "")
      val payload = concat(
        lit("RIFF").cast("binary"), le(n + 36, 4), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), unhex(lit("10000000")),
        le(lit(7), 2), le(lit(1), 2), le(rate, 4),
        le(rate, 4), le(lit(1), 2), le(lit(8), 2),
        lit("data").cast("binary"), le(n, 4),
        unhex(sampleHex))
      val src = Tables.spread(t(s, d, "documents").select(col("doc_id")))
        .select(col("doc_id"), payload.as("payload"))
      Multimodal.decodeFeatures(src, "doc_id", "payload", dim = 16)
        .select(col("doc_id"), col("format"), col("byte_len"),
          col("sample_rate"), col("bits"), col("n_samples"), col("sum_s"),
          col("sum_sq"), col("peak"), col("zero_cross"),
          array_join(col("features").cast("array<string>"), ",").as("features_csv"))
        .orderBy(col("doc_id"))
    },
      // Replays the µ-law byte formula AND the CCITT expansion arithmetic
      // (u = ~byte; t = ((u & 0xF)·8 + 132) << ((u >> 4) & 7); negative
      // half mirrors around the 132 bias) — the engine instead walks the
      // RIFF container and expands through its 256-entry table.
      """WITH s AS (
           SELECT doc_id, unnest(range(doc_id % 64 + 64)) AS i FROM documents),
         e AS (
           SELECT doc_id, i,
                  255 - ((doc_id * 131 + i * 104729) % 256) AS u
           FROM s),
         v AS (
           SELECT doc_id, i,
                  CASE WHEN u >= 128
                       THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
                       ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132
                  END AS sv
           FROM e),
         vz AS (
           SELECT doc_id, i, sv,
                  lag(sv) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM v),
         f AS (
           SELECT doc_id, count(*) AS n_samples,
                  CAST(sum(sv) AS BIGINT) AS sum_s,
                  CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
                  CAST(max(abs(sv)) AS BIGINT) AS peak,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND ((sv < 0) != (prev < 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
           FROM vz GROUP BY doc_id),
         l AS (
           SELECT doc_id,
                  string_agg(CAST(lane_sum AS VARCHAR), ',' ORDER BY lane) AS features_csv
           FROM (SELECT doc_id, i % 16 AS lane, CAST(sum(sv) AS BIGINT) AS lane_sum
                 FROM v GROUP BY doc_id, i % 16)
           GROUP BY doc_id)
         SELECT d.doc_id, 'riff' AS format,
                CAST(44 + (d.doc_id % 64 + 64) AS BIGINT) AS byte_len,
                CAST(8000 AS INT) AS sample_rate, CAST(8 AS INT) AS bits,
                f.n_samples, f.sum_s, f.sum_sq, f.peak, f.zero_cross, l.features_csv
         FROM documents d JOIN f USING (doc_id) JOIN l USING (doc_id)
         ORDER BY doc_id"""),

    // S9: ORC source/sink round trip — the other columnar format a lake
    // actually holds (Spark's reader/writer are built in; DuckDB has no
    // ORC reader, so the oracle runs on the SAME rows' parquet original —
    // equality certifies the round trip end to end). Write once per
    // session (the q213 memoization pattern), read back, aggregate. The
    // ORC scan carries predicate/column pushdown exactly like parquet —
    // PlanSpec pins PushedFilters on it.
    Query("q218_orc_roundtrip", (s, d) => {
      val dir = s"target/q218_orc_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      // memoized PER JVM, not per on-disk marker: a _SUCCESS check would
      // survive restarts and serve a stale snapshot if the source dir is
      // regenerated in place (the q213 catalog memo has the same
      // session-scoped property)
      if (orcWritten.add(dir))
        t(s, d, "orders").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter(col("o_orderdate") >= lit("1996-01-01"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
      // Runs against the parquet original of the same rows: equality with
      // the ORC-round-tripped engine result is the round-trip proof.
      """SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus"""),

    // A-pivot — wide category table (conditional aggregation both engines)
    Query("q59_pivot", (s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day"))
    },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY day ORDER BY day"""),

    // banded interval join: purchase↔click pairs within 1 h per user —
    // equi-join on (user, time band), never a per-key cross product
    Query("q66_interval_join", (s, d) => {
      val e = t(s, d, "events")
      Relational.intervalJoin(
          left = e.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts")),
          right = e.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts")),
          keys = Seq("user_id"), leftTs = "p_ts", rightTs = "c_ts",
          toleranceSec = 3600)
        .select(col("user_id"), col("p_id"), col("c_id"))
        .orderBy(col("p_id"), col("c_id"))
    },
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND abs(epoch(p.ts) - epoch(c.ts)) <= 3600
         ORDER BY p_id, c_id"""),

    // A8 — arbitrary GROUPING SETS: the reference's two parallel summaries
    // (app.py:245-261) as ONE pass — sets ((status),(priority))
    Query("q69_grouping_sets", (s, d) => {
      Summaries.groupingSetsCount(t(s, d, "orders"),
          Seq(Seq("o_orderstatus"), Seq("o_orderpriority")))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS qtd,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // A8 — cube: all grouping-set combinations with grouping_id
    Query("q62_cube", (s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // exact interpolated percentiles (median + p90)
    Query("q63_percentiles", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Summaries.r4(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
          Summaries.r4(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
                floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5)/10000 AS median_qty,
                floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5)/10000 AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Quantile binning: quartile cut points computed in-plan, rows labeled
    // with their bucket — the discretization step of feature prep
    Query("q94_quantile_bin", (s, d) => {
      Summaries.quantileBin(t(s, d, "lineitem"), "l_quantity", 4)
        .filter(col("bin").isNotNull)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("lo"),
          max(col("l_quantity")).as("hi"))
        .orderBy(col("bin"))
    },
      """WITH cuts AS (SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS cs FROM lineitem)
         SELECT bin, count(*) AS n, min(l_quantity) AS lo, max(l_quantity) AS hi FROM (
           SELECT l_quantity,
                  CAST(len(list_filter((SELECT cs FROM cuts), c -> c <= l_quantity)) AS INT) AS bin
           FROM lineitem WHERE l_quantity IS NOT NULL)
         GROUP BY bin ORDER BY bin"""),

    // Z-order cells: two quantile-binned dims bit-interleaved into the
    // Morton value that zOrderWrite clusters files by — the cell census a
    // layout job reports (StorageSpec proves the span-bounding on disk)
    Query("q103_zorder_cells", (s, d) => {
      val li = t(s, d, "lineitem")
      val binned = Summaries.quantileBins(li,
        Seq(("l_extendedprice", 16, "bx"), ("l_quantity", 16, "by")))
      binned
        .withColumn("z", Storage.zValue(Seq(col("bx"), col("by")), 4))
        .groupBy(col("z"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("z"))
    },
      """WITH cx AS (SELECT quantile_cont(l_extendedprice, [x / 16.0 for x in range(1, 16)]) AS cs FROM lineitem),
         cy AS (SELECT quantile_cont(l_quantity, [x / 16.0 for x in range(1, 16)]) AS cs FROM lineitem),
         b AS (
           SELECT len(list_filter((SELECT cs FROM cx), c -> c <= l_extendedprice)) AS bx,
                  len(list_filter((SELECT cs FROM cy), c -> c <= l_quantity)) AS qb
           FROM lineitem),
         zz AS (
           SELECT CAST(list_sum([((bx >> p) & 1) * (1::BIGINT << (2 * p)) +
                                 ((qb >> p) & 1) * (1::BIGINT << (2 * p + 1))
                                 for p in range(0, 4)]) AS BIGINT) AS z
           FROM b)
         SELECT z, count(*) AS n FROM zz GROUP BY z ORDER BY z"""),

    // q103's layout census on the HILBERT curve: equal-population 16×16
    // quantile cells (over events — a different fact table than q103's, so
    // the suite doesn't pay the same census twice), indexed by the
    // jump-free walk (consecutive indices are grid-adjacent where Morton
    // teleports at quadrant boundaries); the oracle replays the
    // quadrant-rotation arithmetic as four unrolled CTE steps
    Query("q205_hilbert_cells", (s, d) => {
      val ev = t(s, d, "events")
      val binned = Summaries.quantileBins(ev,
        Seq(("value", 16, "bx"), ("user_id", 16, "by")))
      binned
        .withColumn("h", Storage.hilbertValue(col("bx"), col("by"), 4))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("h"))
    }, hilbertCellsOracle(4)),

    // q205's layout lifted to THREE dimensions: quantile bins on
    // (value, user_id, event_id) at 4 bins each, indexed by the
    // d-dimensional Skilling Hilbert walk (Storage.hilbertValueN — the
    // codegen'd expression that removes the 2-D/8-bit unroll bound), then
    // the per-cell population. The oracle unrolls Skilling's transpose
    // loop for dims = 3, bits = 2 step by step — integer-exact.
    Query("q210_hilbert3d_cells", (s, d) => {
      val ev = t(s, d, "events")
      val binned = Summaries.quantileBins(ev,
        Seq(("value", 4, "bx"), ("user_id", 4, "by"), ("event_id", 4, "bz")))
      binned
        .withColumn("h", Storage.hilbertValueN(Seq(col("bx"), col("by"), col("bz")), 2))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("h"))
    }, hilbert3dCellsOracle),

    // statistical aggregates: correlation, sample stddev (r4 masks the
    // partition-order jitter of streaming co-moments)
    Query("q64_stats", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Summaries.r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
          Summaries.r4(stddev_samp(col("l_discount"))).as("sd_disc"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
                floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5)/10000 AS corr_qty_price,
                floor(stddev_samp(l_discount) * 10000 + 0.5)/10000 AS sd_disc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ordered string aggregation (deterministic: sort the set, then join)
    Query("q65_stringagg", (s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("priorities"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
                string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // unpivot/melt — long form back out of wide columns
    Query("q61_unpivot", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(exactSum(col("l_quantity")).as("qty"),
          exactSum(col("l_extendedprice")).as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    },
      """WITH w AS (
           SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS price
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, 'price', price FROM w
         ORDER BY l_returnflag, measure"""),

    // Deterministic content-addressed sampling + train/val/test split
    Query("q60_hash_split", (s, d) => {
      val split = Sampling.splitColumn(Seq(col("doc_id").cast("string")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      t(s, d, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("split"))
    },
      """WITH b AS (
           SELECT doc_id,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
           FROM documents)
         SELECT CASE WHEN bucket < 8000 THEN 'train'
                     WHEN bucket < 9000 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n, min(doc_id) AS first_doc
         FROM b GROUP BY split ORDER BY split"""),

    // F4 — value normalization: collapse non-alnum runs + canonical text
    Query("q57_norm_values", (s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"),
          Clean.collapseNonAlnum(col("p_type")).as("type_slug"),
          Clean.canonicalText(concat(col("p_name"), lit("  "), col("p_brand"))).as("canon"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
                regexp_replace(regexp_replace(p_type, '[^0-9A-Za-z]+', '_', 'g'), '_+', '_', 'g') AS type_slug,
                lower(trim(regexp_replace(p_name || '  ' || p_brand, '\s+', ' ', 'g'))) AS canon
         FROM part ORDER BY p_partkey"""),

    // PII redaction — emails / dotted quads / long digit runs → placeholders
    // (synthetic PII derived from p_partkey so the scrub is demonstrable)
    Query("q71_pii_redact", (s, d) => {
      val pk = col("p_partkey")
      val txt = concat(
        lit("contact user"), pk.cast("string"), lit("@example.com or 10.0."),
        (pk % 256).cast("string"), lit(".1 ref "), (pk * 1234567).cast("string"), lit(" end"))
      t(s, d, "part")
        .select(pk, Clean.redactPii(txt).as("redacted"))
        .orderBy(pk)
    },
      """SELECT p_partkey,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      'contact user' || p_partkey::VARCHAR || '@example.com or 10.0.' ||
                      (p_partkey % 256)::VARCHAR || '.1 ref ' || (p_partkey * 1234567)::VARCHAR || ' end',
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{7,}\b', '<NUM>', 'g') AS redacted
         FROM part ORDER BY p_partkey"""),

    // Snapshot diff (CDC validation): two derived versions of orders —
    // old = keys %7≠0; new = keys %10≠0 with a 5% price bump on %3==0 —
    // classified added/removed/changed with the differing-column list.
    // One full-outer hash join; content compare is per-row, no window.
    Query("q123_snapshot_diff", (s, d) => {
      val o = t(s, d, "orders")
      val old = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val nw = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0,
            floor(col("o_totalprice") * 1.05 * 100 + 0.5) / 100)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Relational.snapshotDiff(old, nw, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy(col("o_orderkey"))
    },
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders WHERE o_orderkey % 7 <> 0),
         n AS (SELECT o_orderkey, o_orderstatus,
                      CASE WHEN o_orderkey % 3 = 0
                           THEN floor(o_totalprice * 1.05 * 100 + 0.5) / 100
                           ELSE o_totalprice END AS o_totalprice
               FROM orders WHERE o_orderkey % 10 <> 0),
         j AS (SELECT coalesce(n.o_orderkey, o.o_orderkey) AS k,
                      CASE WHEN o.o_orderkey IS NULL THEN 'added'
                           WHEN n.o_orderkey IS NULL THEN 'removed'
                           WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                             OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
                           ELSE 'unchanged' END AS change_type,
                      concat_ws(',',
                        CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
                        CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END) AS cc
               FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT k AS o_orderkey, change_type,
                CASE WHEN change_type = 'changed' THEN cc ELSE '' END AS changed_cols
         FROM j WHERE change_type <> 'unchanged' ORDER BY o_orderkey"""),

    // Time-series gap-fill: hourly buckets per user (user_id %100==0 slice),
    // missing hours linearly interpolated between observed neighbors
    Query("q124_gapfill", (s, d) => {
      Summaries.gapFillInterpolate(
          t(s, d, "events").filter(col("user_id") % 100 === 0),
          "user_id", "ts", col("value"), unit = "hour")
        .orderBy(col("user_id"), col("bucket"))
    },
      """WITH obs AS (SELECT * FROM (
                        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                               CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS v
                        FROM events WHERE user_id % 100 = 0 GROUP BY user_id, bucket)
                      WHERE bucket IS NOT NULL AND v IS NOT NULL),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 HOUR)) AS bucket
                  FROM (SELECT user_id, min(bucket) d0, max(bucket) d1 FROM obs GROUP BY user_id)),
         j AS (SELECT g.user_id, g.bucket, o.v
               FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket),
         w AS (SELECT user_id, bucket, v,
                 last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
                 last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pd,
                 first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
                 first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nd
               FROM j)
         SELECT user_id, bucket,
                CASE WHEN v IS NOT NULL THEN v
                     ELSE floor((pv + (nv - pv) *
                       (CAST(epoch(bucket) - epoch(pd) AS DOUBLE) /
                        CAST(epoch(nd) - epoch(pd) AS DOUBLE))) * 10000 + 0.5) / 10000 END AS v,
                v IS NULL AS filled
         FROM w ORDER BY user_id, bucket"""),

    // Vocabulary coverage curve: top-200 tokens with cumulative corpus share
    Query("q125_vocab_coverage", (s, d) =>
      Text.vocabCoverage(t(s, d, "documents"), "text", 200).orderBy(col("rank")),
      """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                      FROM documents WHERE length(trim(text)) > 0),
         c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200)
         SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank, token, cnt,
                floor(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / total
                  * 10000 + 0.5) / 10000 AS cum_share
         FROM top CROSS JOIN tt ORDER BY rank"""),

    // Char-bigram LM cross-entropy (perplexity-proxy quality score) against
    // the corpus's own character statistics; integer micro-nat accumulation
    Query("q126_charlm_quality", (s, d) =>
      Text.bigramLmScore(t(s, d, "documents"), "doc_id", "text").orderBy(col("doc_id")),
      """WITH base AS (SELECT doc_id, text AS t FROM documents
                       WHERE text IS NOT NULL AND length(text) >= 2),
         db AS (SELECT doc_id, bg, count(*) AS c_db FROM (
                  SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, length(t))]) AS bg
                  FROM base)
                GROUP BY doc_id, bg),
         cab AS (SELECT bg, sum(c_db) AS c_ab FROM db GROUP BY bg),
         ca AS (SELECT substr(bg, 1, 1) AS a, sum(c_ab) AS c_a FROM cab GROUP BY a),
         model AS (SELECT bg,
                          CAST(floor(ln(CAST(c_ab AS DOUBLE) / c_a) * 1000000 + 0.5) AS BIGINT) AS lnp_u
                   FROM cab JOIN ca ON substr(cab.bg, 1, 1) = ca.a),
         sc AS (SELECT doc_id, sum(c_db * lnp_u) AS sum_u, sum(c_db) AS n_bigrams
                FROM db JOIN model USING (bg) GROUP BY doc_id)
         SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                floor((-(CAST(sum_u AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)))
                  * 10000 + 0.5) / 10000 AS xent
         FROM sc ORDER BY doc_id"""),

    // Rendezvous (HRW) sharding, 8 shards: per-shard sizes plus how many keys
    // move when a 9th shard is added (≈1/9 of each shard, all TO shard 8)
    Query("q127_rendezvous_shards", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("s8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("s9"))
        .groupBy(col("s8"))
        .agg(count(lit(1)).as("n"), count(when(col("s9") =!= col("s8"), 1)).as("n_moved"))
        .orderBy(col("s8"))
    },
      """WITH s AS (
           SELECT doc_id,
                  CAST(struct_extract(list_reduce(
                    [{'s': ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT,
                      'i': i} for i in range(0, 8)],
                    (a, b) -> CASE WHEN struct_extract(b, 's') > struct_extract(a, 's') THEN b ELSE a END),
                    'i') AS INT) AS s8,
                  CAST(struct_extract(list_reduce(
                    [{'s': ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT,
                      'i': i} for i in range(0, 9)],
                    (a, b) -> CASE WHEN struct_extract(b, 's') > struct_extract(a, 's') THEN b ELSE a END),
                    'i') AS INT) AS s9
           FROM documents)
         SELECT s8, count(*) AS n, count(*) FILTER (WHERE s9 <> s8) AS n_moved
         FROM s GROUP BY s8 ORDER BY s8"""),

    // Grid-bucketed interval-overlap join: shipment windows × order promo
    // weeks — equi-join on the first shared grid cell, never a cartesian
    Query("q128_overlap_join", (s, d) => {
      val a = t(s, d, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("a_id"),
          col("l_shipdate").as("a_start"),
          // no receiptdate in the synthetic schema — derive a 3–12 day window
          expr("timestampadd(DAY, CAST(l_quantity AS INT) % 10 + 3, l_shipdate)").as("a_end"))
      val b = t(s, d, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("b_id"), col("o_orderdate").as("b_start"),
          (col("o_orderdate") + expr("interval 7 days")).as("b_end"))
      Relational.overlapJoin(a, b, "a_start", "a_end", "b_start", "b_end", 30L * 86400)
        .select(col("a_id"), col("b_id"),
          datediff(least(col("a_end"), col("b_end")),
            greatest(col("a_start"), col("b_start"))).as("overlap_days"))
        .orderBy(col("a_id"), col("b_id"))
    },
      """WITH a AS (SELECT l_orderkey * 10 + l_linenumber AS a_id,
                           l_shipdate AS a_start,
                           l_shipdate + to_days(CAST(l_quantity AS INT) % 10 + 3) AS a_end
                    FROM lineitem WHERE l_orderkey % 100 = 0),
         b AS (SELECT o_orderkey AS b_id, o_orderdate AS b_start,
                      o_orderdate + INTERVAL 7 DAY AS b_end
               FROM orders WHERE o_orderkey % 500 = 0)
         SELECT a_id, b_id,
                date_diff('day', CAST(greatest(a_start, b_start) AS DATE),
                  CAST(least(a_end, b_end) AS DATE)) AS overlap_days
         FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
         ORDER BY a_id, b_id"""),

    // Declarative data-quality gate: five constraint classes over lineitem
    // (row rules fuse into one aggregate pass; unique = one key aggregate;
    // FK = one anti-join). The synthetic data genuinely violates c2/c4.
    Query("q129_quality_rules", (s, d) => {
      val li = t(s, d, "lineitem")
      Constraints.check(li, Seq(
        Constraints.NotNull("c1_shipdate_not_null", "l_shipdate"),
        Constraints.InRange("c2_discount_range", "l_discount", 0.0, 0.05),
        Constraints.Matches("c3_returnflag_domain", "l_returnflag", "^[ARN]$"),
        Constraints.Unique("c4_line_unique", Seq("l_orderkey", "l_linenumber")),
        Constraints.RefIntegrity("c5_order_fk", "l_orderkey", t(s, d, "orders"), "o_orderkey")))
    },
      """SELECT 'c1_shipdate_not_null' AS rule,
                count(*) FILTER (WHERE l_shipdate IS NULL) AS violations FROM lineitem
         UNION ALL
         SELECT 'c2_discount_range',
                count(*) FILTER (WHERE NOT (l_discount >= 0.0 AND l_discount <= 0.05))
         FROM lineitem
         UNION ALL
         SELECT 'c3_returnflag_domain',
                count(*) FILTER (WHERE NOT regexp_matches(l_returnflag, '^[ARN]$'))
         FROM lineitem
         UNION ALL
         SELECT 'c4_line_unique', coalesce(CAST(sum(cnt - 1) AS BIGINT), 0)
         FROM (SELECT count(*) cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)
         WHERE cnt > 1
         UNION ALL
         SELECT 'c5_order_fk', count(*)
         FROM lineitem
         WHERE l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         ORDER BY rule"""),

    // Per-group OLS trend of event value over days — drift monitoring
    Query("q130_trend", (s, d) => {
      Summaries.groupTrend(
          t(s, d, "events")
            .withColumn("__x", datediff(col("ts"), lit("2024-01-01").cast("timestamp"))),
          "event_type", col("__x"), col("value"))
        .orderBy(col("event_type"))
    },
      """WITH pts AS (SELECT event_type,
                             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
                             value FROM events
                      WHERE ts IS NOT NULL AND value IS NOT NULL),
         m AS (SELECT event_type,
                      count(*) AS cnt,
                      CAST(count(*) AS DOUBLE) AS n,
                      CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                      CAST(sum(CAST(x * value AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(x * x AS DECIMAL(27,6))) AS DOUBLE) AS sxx
               FROM pts GROUP BY event_type),
         f AS (SELECT event_type, cnt, n, sx, sy,
                      n * sxx - sx * sx AS den,
                      (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
               FROM m)
         SELECT event_type, CAST(cnt AS BIGINT) AS n,
                CASE WHEN den <> 0.0
                     THEN floor(slope * 10000 + 0.5) / 10000 END AS slope,
                CASE WHEN den <> 0.0
                     THEN floor((sy - slope * sx) / n * 10000 + 0.5) / 10000 END AS intercept
         FROM f ORDER BY event_type"""),

    // Mutual information decomposition between lang and source
    Query("q131_mutual_info", (s, d) =>
      Summaries.mutualInfoCells(t(s, d, "documents"), "lang", "source")
        .orderBy(col("lang"), col("source")),
      """WITH j AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
         t AS (SELECT sum(c) AS N FROM j),
         ma AS (SELECT lang, sum(c) AS ca FROM j GROUP BY lang),
         mb AS (SELECT source, sum(c) AS cb FROM j GROUP BY source)
         SELECT j.lang, j.source, j.c,
                floor(CAST(j.c AS DOUBLE) / N *
                  ln((CAST(j.c AS DOUBLE) * N) / (CAST(ca AS DOUBLE) * cb))
                  * 1000000 + 0.5) / 1000000 AS mi_term
         FROM j JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN t
         ORDER BY lang, source"""),

    // Per-user EWMA of event values (α=0.75; exact-binary 1−α for replay)
    Query("q132_ewma", (s, d) =>
      Summaries.ewmaLast(t(s, d, "events"), "user_id", "ts", col("value"), 0.75, "event_id")
        .orderBy(col("user_id")),
      """WITH ys AS (SELECT user_id, count(*) AS n,
                            list(value ORDER BY ts, event_id) AS v
                     FROM events
                     WHERE ts IS NOT NULL AND value IS NOT NULL
                     GROUP BY user_id)
         SELECT user_id, n,
                floor(list_reduce(v, (a, b) -> a * 0.75 + b * 0.25) * 10000 + 0.5) / 10000
                  AS ewma
         FROM ys ORDER BY user_id"""),

    // Contamination report: overlap fraction of corpus docs' 5-gram sets
    // against the benchmark slice (doc_id %97==0), not just a boolean drop
    Query("q133_contamination_score", (s, d) => {
      val docs = t(s, d, "documents")
      Text.contaminationScore(docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 97 === 0), "text", 5)
        .orderBy(col("doc_id"))
    },
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
         benchset AS (
           SELECT DISTINCT unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ')
                                                 for i in range(1, len(tk)-3)])) s
           FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk
                 FROM documents WHERE doc_id % 97 = 0)),
         sh AS (SELECT doc_id,
                       unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ')
                                             for i in range(1, len(tk)-3)])) s
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                      FROM corpus)),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
         shr AS (SELECT doc_id, count(*) AS n_shared FROM sh
                 WHERE s IN (SELECT s FROM benchset) GROUP BY doc_id)
         SELECT shr.doc_id, shr.n_shared, tot.n_shingles,
                floor(CAST(shr.n_shared AS DOUBLE) / tot.n_shingles * 10000 + 0.5) / 10000
                  AS frac
         FROM shr JOIN tot USING (doc_id) ORDER BY doc_id"""),

    // Join-key skew pre-flight: top-20 heaviest user_ids with share + skew
    Query("q134_skew_report", (s, d) =>
      Summaries.keySkewReport(t(s, d, "events"), "user_id", 20),
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS k FROM c)
         SELECT user_id, n,
                floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 10000 + 0.5) / 10000
                  AS share,
                floor(CAST(n AS DOUBLE) * CAST(k AS DOUBLE) / CAST(total AS DOUBLE)
                  * 10000 + 0.5) / 10000 AS skew
         FROM c CROSS JOIN t ORDER BY n DESC, user_id NULLS FIRST LIMIT 20"""),

    // Rank-sum (Mann-Whitney) AUC per event_type: synthetic label vs value
    Query("q135_auc", (s, d) =>
      Summaries.rankAuc(t(s, d, "events"), "event_type",
        col("user_id") % 3 === 0, col("value")),
      """WITH d AS (SELECT event_type, (user_id % 3 = 0) AS y, CAST(value AS DOUBLE) AS s
                    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         r AS (SELECT event_type, y,
                      rank() OVER (PARTITION BY event_type ORDER BY s)
                        + CAST(count(*) OVER (PARTITION BY event_type, s) - 1 AS DOUBLE) / 2.0
                        AS mr
               FROM d),
         g AS (SELECT event_type,
                      count(*) FILTER (WHERE y) AS n_pos,
                      count(*) FILTER (WHERE NOT y) AS n_neg,
                      sum(mr) FILTER (WHERE y) AS sr
               FROM r GROUP BY event_type)
         SELECT event_type, n_pos, n_neg,
                CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  floor((sr - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2)
                        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                        * 10000 + 0.5) / 10000
                END AS auc
         FROM g ORDER BY event_type"""),

    // Two-sample KS distance between view-event and purchase-event values
    Query("q136_ks_drift", (s, d) => {
      val ev = t(s, d, "events")
      Summaries.ksDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), col("value"))
    },
      """WITH pv AS (
           SELECT v, count(*) FILTER (WHERE src = 0) AS ca,
                     count(*) FILTER (WHERE src = 1) AS cb
           FROM (SELECT CAST(value AS DOUBLE) AS v, 0 AS src FROM events
                 WHERE event_type = 'view' AND value IS NOT NULL
                 UNION ALL
                 SELECT CAST(value AS DOUBLE), 1 FROM events
                 WHERE event_type = 'purchase' AND value IS NOT NULL)
           GROUP BY v),
         c AS (SELECT
                 sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
                 sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
                 sum(ca) OVER () AS na, sum(cb) OVER () AS nb
               FROM pv)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                        - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS d_stat
         FROM c"""),

    // Chi-square independence cells for lang × source (full grid)
    Query("q137_chi2_cells", (s, d) =>
      Summaries.chiSquareCells(t(s, d, "documents"), "lang", "source"),
      """WITH j AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM j),
         ma AS (SELECT lang, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY lang),
         mb AS (SELECT source, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY source)
         SELECT ma.lang, mb.source, COALESCE(c, 0) AS observed,
                floor(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE)
                  * 1000000 + 0.5) / 1000000 AS expected,
                floor((CAST(COALESCE(c, 0) AS DOUBLE)
                        - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      * (CAST(COALESCE(c, 0) AS DOUBLE)
                        - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
                      * 1000000 + 0.5) / 1000000 AS chi2_term
         FROM ma CROSS JOIN mb
         LEFT JOIN j ON ma.lang IS NOT DISTINCT FROM j.lang
                    AND mb.source IS NOT DISTINCT FROM j.source
         CROSS JOIN t ORDER BY ma.lang, mb.source"""),

    // First-order Markov transition matrix of per-user event sequences
    Query("q138_transitions", (s, d) =>
      Summaries.transitionMatrix(t(s, d, "events"), "user_id", "ts",
        "event_type", "event_id"),
      """WITH s AS (SELECT event_type AS from_state,
                           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS to_state
                    FROM events WHERE ts IS NOT NULL),
         m AS (SELECT from_state, to_state, count(*) AS n FROM s
               WHERE to_state IS NOT NULL GROUP BY from_state, to_state)
         SELECT from_state, to_state, n,
                floor(CAST(n AS DOUBLE)
                      / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
                      * 10000 + 0.5) / 10000 AS p
         FROM m ORDER BY from_state, to_state"""),

    // Temperature-scaled source mixing weights (α = 0.5 upsamples the tail)
    Query("q139_temperature_mix", (s, d) =>
      Sampling.temperatureWeights(t(s, d, "documents"), "source", 0.5),
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM c),
         w1 AS (SELECT source, n,
                       CAST(n AS DOUBLE) / CAST(grand AS DOUBLE) AS p,
                       floor(pow(CAST(n AS DOUBLE) / CAST(grand AS DOUBLE), 0.5)
                         * 1000000 + 0.5) / 1000000 AS tq
                FROM c CROSS JOIN t),
         d AS (SELECT list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                                     list(tq ORDER BY source NULLS FIRST)),
                        (acc, x) -> acc + x) AS denom
               FROM w1)
         SELECT source, n,
                floor(p * 10000 + 0.5) / 10000 AS p,
                floor(tq / denom * 10000 + 0.5) / 10000 AS w,
                floor(tq / denom / p * 10000 + 0.5) / 10000 AS boost
         FROM w1 CROSS JOIN d ORDER BY source"""),

    // Per-user time-weighted average of event values (irregular sampling)
    Query("q140_twap", (s, d) =>
      Summaries.timeWeightedAvg(t(s, d, "events"), "user_id", "ts",
        col("value"), "event_id"),
      """WITH d AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v FROM events
                    WHERE ts IS NOT NULL AND value IS NOT NULL),
         l AS (SELECT user_id, v,
                      CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                        AS BIGINT)
                      - CAST(floor(epoch(ts)) AS BIGINT) AS dur
               FROM d),
         g AS (SELECT user_id,
                      CAST(sum(CAST(v AS DECIMAL(27,6)) * dur) AS DOUBLE) AS wv,
                      CAST(sum(dur) AS BIGINT) AS span_s
               FROM l WHERE dur IS NOT NULL GROUP BY user_id)
         SELECT user_id, span_s,
                CASE WHEN span_s > 0 THEN
                  floor(wv / CAST(span_s AS DOUBLE) * 10000 + 0.5) / 10000
                END AS twap
         FROM g ORDER BY user_id"""),

    // Robust median/MAD outliers on a cubed (heavy-tailed) value, per type
    Query("q141_mad_outliers", (s, d) =>
      Curation.madOutliers(t(s, d, "events"), "event_type",
        col("value") * col("value") * col("value"), "event_id", k = 3.5),
      """WITH d AS (SELECT event_type, event_id, value * value * value AS v FROM events
                    WHERE value IS NOT NULL),
         r1 AS (SELECT event_type, event_id, v,
                       row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM d),
         med AS (SELECT event_type, v AS med FROM r1 WHERE rn = (n + 1) // 2),
         dev AS (SELECT d.event_type, d.event_id, d.v, med.med, abs(d.v - med.med) AS adev
                 FROM d JOIN med USING (event_type)),
         r2 AS (SELECT event_type, adev,
                       row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev),
         mad AS (SELECT event_type, adev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         SELECT dev.event_type, dev.event_id, dev.v AS value, dev.med, mad.mad,
                floor(0.6745 * (dev.v - dev.med) / mad.mad * 10000 + 0.5) / 10000 AS score
         FROM dev JOIN mad USING (event_type)
         WHERE mad.mad > 0 AND abs(0.6745 * (dev.v - dev.med) / mad.mad) > 3.5
         ORDER BY event_type, event_id"""),

    // Per-type winsorization at [p05, p95] (exact order-statistic bounds)
    Query("q142_winsorize", (s, d) =>
      Curation.winsorize(t(s, d, "events"), "event_type", col("value"), "event_id")
        .select(col("event_id"), col("event_type"), col("value"),
          col("clipped"), col("was_clipped"))
        .orderBy(col("event_id")),
      """WITH d AS (SELECT event_id, event_type, value, CAST(value AS DOUBLE) AS v
                    FROM events),
         r AS (SELECT event_id, event_type, value, v,
                      CASE WHEN v IS NOT NULL THEN
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY v NULLS LAST, event_id) END AS rn,
                      count(v) OVER (PARTITION BY event_type) AS n
               FROM d),
         b AS (SELECT *,
                      CAST(floor((n - 1) * 0.05) + 1 AS BIGINT) AS ilo,
                      CAST(floor((n - 1) * 0.95) + 1 AS BIGINT) AS ihi
               FROM r),
         w AS (SELECT *,
                      max(CASE WHEN rn = ilo THEN v END) OVER (PARTITION BY event_type) AS vlo,
                      max(CASE WHEN rn = ihi THEN v END) OVER (PARTITION BY event_type) AS vhi
               FROM b)
         SELECT event_id, event_type, value,
                CASE WHEN v IS NOT NULL THEN least(greatest(v, vlo), vhi) END AS clipped,
                CASE WHEN v IS NOT NULL THEN least(greatest(v, vlo), vhi) END <> v
                  AS was_clipped
         FROM w ORDER BY event_id"""),

    // Asymmetric containment (doc-in-doc): either direction >= 0.6
    Query("q143_containment", (s, d) =>
      Text.containmentPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.6)
        .orderBy(col("doc_a"), col("doc_b")),
      """WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ')
                                         for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                 FROM documents)),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS o,
                      CAST(len(a.ss) AS BIGINT) AS ma, CAST(len(b.ss) AS BIGINT) AS mb
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE len(a.ss) > 0 AND len(b.ss) > 0)
         SELECT doc_a, doc_b, o,
                floor(o / CAST(ma AS DOUBLE) * 10000 + 0.5) / 10000 AS cont_a,
                floor(o / CAST(mb AS DOUBLE) * 10000 + 0.5) / 10000 AS cont_b
         FROM p
         WHERE greatest(o / CAST(ma AS DOUBLE), o / CAST(mb AS DOUBLE)) >= 0.6
         ORDER BY doc_a, doc_b"""),

    // Gap-based batch sessionization: per-user sessions at a 30-min gap
    Query("q145_sessions", (s, d) =>
      Summaries.sessionizeBatch(t(s, d, "events"), "user_id", "ts", 1800, "event_id"),
      """WITH d AS (SELECT user_id, ts, event_id FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, ts, event_id,
                      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                             > 1800
                           THEN 1 ELSE 0 END AS flag
               FROM d),
         s AS (SELECT user_id, ts,
                      sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS sid
               FROM f)
         SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events,
                min(ts) AS start_ts, max(ts) AS end_ts,
                max(CAST(floor(epoch(ts)) AS BIGINT))
                  - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_id"""),

    // Decile lift table for a synthetic label vs the event value as score
    Query("q146_lift", (s, d) =>
      Summaries.liftTable(t(s, d, "events"),
        col("user_id") % 3 === 0, col("value"), "event_id", 10),
      """WITH d AS (SELECT (user_id % 3 = 0) AS y, CAST(value AS DOUBLE) AS s, event_id
                    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         b AS (SELECT ntile(10) OVER (ORDER BY s DESC, event_id) AS bin, y FROM d),
         g AS (SELECT bin, count(*) AS n, count(*) FILTER (WHERE y) AS n_pos
               FROM b GROUP BY bin)
         SELECT bin, n, n_pos,
                floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000
                  AS resp_rate,
                floor(CAST(sum(n_pos) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                      / CAST(sum(n_pos) OVER () AS DOUBLE) * 10000 + 0.5) / 10000
                  AS cum_capture,
                floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                      / (CAST(sum(n_pos) OVER () AS DOUBLE)
                         / CAST(sum(n) OVER () AS DOUBLE)) * 10000 + 0.5) / 10000
                  AS lift
         FROM g ORDER BY bin"""),

    // Integer-mass PageRank over the customer<->supplier trade graph
    Query("q147_pagerank", (s, d) => {
      // Long node ids through every shuffle (customer → 2k, supplier →
      // 2k+1): the distinct, degree agg, and all three round joins hash
      // and compare 8-byte keys instead of "c…"/"s…" strings; the public
      // string id is reconstructed once, after the last aggregate.
      // pinned: the symmetrizing union consumes pairs twice — without the
      // pin the orders⋈lineitem join + distinct executes once per direction
      val pairs = Checkpoints.pin(t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct(), eager = false)
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      // pinEvery = 3: the whole 3-round unroll runs as ONE job — lineage
      // depth 3 is the documented recovery bound, not a per-round barrier
      Graph.pageRankInt(edges, "a", "b", iterations = 3, pinEvery = 3)
        .select(
          concat(when(col("v") % 2 === 0, "c").otherwise("s"),
            expr("v div 2")).as("v"),
          col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("v"))
    },
      """WITH pairs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                                       's' || CAST(l_suppkey AS VARCHAR) AS b
                        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         nodes AS (SELECT DISTINCT src AS v FROM edges),
         m0 AS (SELECT v, CAST(1000000 AS BIGINT) AS m FROM nodes),
         it1 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN m0 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v),
         it2 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN it1 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v),
         it3 AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN it2 r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v)
         SELECT v, CAST(m AS BIGINT) AS rank_micro
         FROM it3 ORDER BY rank_micro DESC, v"""),

    // Fixed-size weighted sample (A-ES): 500 docs, inclusion ∝ n_chars
    Query("q148_weighted_topk", (s, d) =>
      Sampling.weightedTakeK(t(s, d, "documents"), col("doc_id"), col("n_chars"), 500)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("__prio").as("prio"), col("__h").as("h"))
        .orderBy(col("prio"), col("h")),
      """WITH d AS (SELECT doc_id, lang, n_chars,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         p AS (SELECT doc_id, lang, n_chars, h,
                      CAST(floor(-ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
                                 / CAST(n_chars AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                        AS prio
               FROM d)
         SELECT doc_id, lang, n_chars, prio, h
         FROM p ORDER BY prio, h, CAST(doc_id AS VARCHAR) LIMIT 500"""),

    // Exact triangle census of the part co-purchase graph (parts that
    // appear in the same order are linked) — graph-density profiling via
    // the degree-ordered wedge join (Graph.triangleCounts). The census runs
    // on a DETERMINISTIC 30% node sample (partkey mod 10 < 3): node
    // sampling shrinks wedge work cubically (the DOULION estimator scales
    // counts back up by p^-3), which is how a triangle census stays
    // tractable on a dense co-occurrence graph at any corpus size — the
    // sampled subgraph census itself stays exact and oracle-replayable
    Query("q149_triangles", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .filter(col("p") % 10 < 3)
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.triangleCounts(edges, "a", "b")
    },
      // triangle COUNT is orientation-invariant: the oracle closes id-ordered
      // wedges (a<b<c) while the engine closes degree-ordered ones — same set
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_partkey % 10 < 3),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
                   ON e3.a = e1.a AND e3.b = e2.b),
         nn AS (SELECT count(*) AS n_nodes
                FROM (SELECT a AS v FROM e UNION SELECT b FROM e)),
         ne AS (SELECT count(*) AS n_edges FROM e)
         SELECT nn.n_nodes, ne.n_edges, tri.n_triangles FROM nn, ne, tri"""),

    // Multi-touch attribution: for each purchase, the user's click/view/
    // signup touches in the trailing 24 h share credit under first-touch,
    // last-touch, and linear models — per-channel totals. The touch
    // lookup is the banded interval join (never a per-user cross
    // product); credit assignment is one window pass per purchase
    Query("q150_attribution", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_id").as("t_id"), col("ts").as("t_ts"),
          col("event_type").as("channel"))
      val joined = Relational.intervalJoin(purchases, touches,
          Seq("user_id"), "p_ts", "t_ts", toleranceSec = 86400)
        .filter(col("t_ts") <= col("p_ts")) // lookback only, inclusive
      val byPurchase = Window.partitionBy(col("p_id"))
      val asc = byPurchase.orderBy(col("t_ts").asc, col("t_id").asc)
      joined
        .withColumn("rn", row_number().over(asc))
        .withColumn("cnt", count(lit(1)).over(byPurchase))
        .groupBy(col("channel"))
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rn") === col("cnt"), 1L).otherwise(0L)).as("last_touch"),
          Summaries.r4(sum(lit(1.0) / col("cnt"))).as("linear"))
        .orderBy(col("channel"))
    },
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_id AS t_id, ts AS t_ts, event_type AS channel
               FROM events WHERE event_type IN ('click', 'view', 'signup')),
         j AS (SELECT p.p_id, t.t_id, t.t_ts, t.channel,
                      row_number() OVER (PARTITION BY p.p_id
                                         ORDER BY t.t_ts, t.t_id) AS rn,
                      count(*) OVER (PARTITION BY p.p_id) AS cnt
               FROM p JOIN t ON p.user_id = t.user_id
                AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 1 DAY)
         SELECT channel,
                sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
                sum(CASE WHEN rn = cnt THEN 1 ELSE 0 END)::BIGINT AS last_touch,
                floor(sum(1.0::DOUBLE / cnt) * 10000 + 0.5) / 10000 AS linear
         FROM j GROUP BY channel ORDER BY channel"""),

    // Burst detection: daily event counts vs the SAME type's trailing-7-
    // observation mean/stddev — |z| > 2 flags the spike. One agg + one
    // bounded window per event type; the frame is 7 ROWS, so partition
    // state is O(1) regardless of history length
    Query("q151_bursts", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val trail = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("mu", avg(col("n")).over(trail))
        .withColumn("sd", stddev_samp(col("n").cast("double")).over(trail))
        .select(col("event_type"), col("day"), col("n"),
          Summaries.r4(when(col("sd") > 0, (col("n") - col("mu")) / col("sd"))).as("z"),
          when(col("sd") > 0, abs((col("n") - col("mu")) / col("sd")) > 2)
            .otherwise(lit(false)).as("burst"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
                  avg(n) OVER tw AS mu,
                  stddev_samp(CAST(n AS DOUBLE)) OVER tw AS sd
           FROM daily
           WINDOW tw AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n,
                CASE WHEN sd > 0
                     THEN floor((n - mu) / sd * 10000 + 0.5) / 10000 END AS z,
                CASE WHEN sd > 0 THEN abs((n - mu) / sd) > 2 ELSE false END AS burst
         FROM w ORDER BY event_type, day"""),

    // Packing-efficiency report: per bucket, how full the packed training
    // sequences actually are (q89's greedy offset packing) — fill factor,
    // extremes, and boundary-straddling count. Two aggregates over the
    // packing plan; no new shuffle beyond the per-bucket window q89 pays
    Query("q159_packing_report", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
      Sampling.packSequences(docs, "doc_id", col("n_tokens"), maxTokens = 512L, buckets = 4)
        .groupBy(col("bucket"), col("seq")).agg(sum(col("n_tokens")).as("fill"))
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_seqs"),
          Summaries.r4(avg(col("fill") / 512.0)).as("avg_fill"),
          min(col("fill")).as("min_fill"), max(col("fill")).as("max_fill"),
          sum(when(col("fill") > 512, 1L).otherwise(0L)).as("n_overflow"))
        .orderBy(col("bucket"))
    },
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents),
         o AS (
           SELECT doc_id, h % 4 AS bucket, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
                       - n_tokens AS BIGINT) AS "offset"
           FROM d),
         sq AS (
           SELECT CAST(bucket AS BIGINT) AS bucket,
                  CAST(bucket * 1099511627776 + floor("offset" / 512) AS BIGINT) AS seq,
                  sum(n_tokens) AS fill
           FROM o GROUP BY 1, 2)
         SELECT bucket, count(*)::BIGINT AS n_seqs,
                floor(avg(fill::DOUBLE / 512.0) * 10000 + 0.5) / 10000 AS avg_fill,
                CAST(min(fill) AS BIGINT) AS min_fill,
                CAST(max(fill) AS BIGINT) AS max_fill,
                sum(CASE WHEN fill > 512 THEN 1 ELSE 0 END)::BIGINT AS n_overflow
         FROM sq GROUP BY bucket ORDER BY bucket"""),

    // Local clustering coefficients on the sampled part co-purchase graph
    // (q149's edge set): top-20 most tightly-knit neighborhoods. Same
    // arboricity-bounded wedge machinery; each triangle credits its three
    // corners
    Query("q160_clustering_coeff", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .filter(col("p") % 10 < 3)
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.clusteringCoefficients(edges, "a", "b")
        .orderBy(col("coeff").desc, col("v"))
        .limit(20)
    },
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_partkey % 10 < 3),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
         tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                 FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
                   ON e3.a = e1.a AND e3.b = e2.b),
         corners AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri),
         tc AS (SELECT v, count(*) AS t FROM corners GROUP BY v),
         deg AS (SELECT v, count(*) AS deg
                 FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
         SELECT deg.v, deg.deg, coalesce(tc.t, 0)::BIGINT AS triangles,
                floor(coalesce(tc.t, 0) * 2.0::DOUBLE / (deg.deg * (deg.deg - 1))
                      * 10000 + 0.5) / 10000 AS coeff
         FROM deg LEFT JOIN tc ON deg.v = tc.v
         WHERE deg.deg >= 2
         ORDER BY coeff DESC, deg.v LIMIT 20"""),

    // Community detection: deterministic synchronous label propagation on
    // the q147 customer–supplier graph — 3 fixed rounds, most-common
    // neighbor label, smallest-label tie-break (exactly replayed by the
    // oracle's unrolled per-round CTEs with row_number over the vote
    // counts). Long node ids through every shuffle; public string ids
    // reconstructed once at the end, like q147
    Query("q177_label_communities", (s, d) => {
      // the first order-year of the trade graph (the natural pipeline shape —
      // community detection over a reporting window; the date predicate
      // pushes to the orders scan and bounds the edge set BEFORE the
      // join): what q177 exercises is the fixed-round LPA contract, which
      // is window-independent — convergence depth lives in q199. The window
      // keeps every replica of a ScaleCorpus corpus, so the edge set grows
      // with the factor: Bench over ×N is LPA's scale measurement
      val pairs = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      def nodeStr(c: Column) = concat(
        when(c % 2 === 0, lit("c")).otherwise(lit("s")),
        shiftright(c, 1).cast("string"))
      // pinEvery=2: with the static-fallback round shape each round reads
      // the previous labels once, so the unroll is linear and runs as ONE
      // job with no mid-loop pin barriers (the earlier per-round LEFT-JOIN
      // fallback form doubled each unpinned round's subplan — 6.5 s
      // measured at sf0.1 vs ~4.8 s pinned per round). 2 fixed rounds
      // (was 3): the suite's slowest query by a wide margin, and the
      // fixed-round CONTRACT — not a particular depth — is what q177
      // exercises; 10-round convergence depth lives in q199.
      Graph.labelPropagation(pairs, "a", "b", iterations = 2, pinEvery = 2)
        .select(nodeStr(col("v")).as("node"), nodeStr(col("label")).as("community"))
        .orderBy(col("community"), col("node"))
    },
      """WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                        WHERE o_orderdate < DATE '1996-01-01'),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
         l1 AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN l0 l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1),
         l2 AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN l1 l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1)
         SELECT CASE WHEN v % 2 = 0 THEN 'c' ELSE 's' END || CAST(v // 2 AS VARCHAR) AS node,
                CASE WHEN label % 2 = 0 THEN 'c' ELSE 's' END || CAST(label // 2 AS VARCHAR) AS community
         FROM l2 ORDER BY community, node"""),

    // Longest consecutive-day activity streak per user, summarized as a
    // histogram — the gaps-and-islands pattern: day minus per-user rank is
    // constant within a run, so streaks fall out of two partitioned
    // windows and two aggregates, no self-join
    Query("q169_activity_streaks", (s, d) => {
      val days = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day")))
      val streaks = days
        .withColumn("grp", date_sub(col("day"), rn))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("best"))
      streaks.groupBy(col("best").as("streak_days"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_days"))
    },
      """WITH days AS (
           SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events),
         r AS (SELECT user_id, day,
                      row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
               FROM days),
         st AS (SELECT user_id, day - rn::INT AS grp, count(*) AS len
                FROM r GROUP BY user_id, day - rn::INT),
         b AS (SELECT user_id, max(len) AS best FROM st GROUP BY user_id)
         SELECT CAST(best AS BIGINT) AS streak_days, count(*)::BIGINT AS n_users
         FROM b GROUP BY 1 ORDER BY 1"""),

    // RFM segmentation: per-customer recency/frequency/monetary quartiles
    // (deterministic ntile over totally-ordered customers), segment = the
    // three digits concatenated, output = customers per segment. The
    // global ntile is a single-partition window over the CUSTOMER-GRAIN
    // aggregate (already reduced); at key counts where that single task
    // binds, swap quantile-cut binning (q94's machinery) for ntile
    // RFM quartiles via IN-PLAN exact quantile cuts (quantileBins: one
    // distributed cut-point job, broadcast back, per-row comparison) —
    // replacing three GLOBAL ntile windows, each of which funneled every
    // customer through ONE task (the unpartitioned-window anti-pattern;
    // the three-point probe measured it 3.9× for 3× rows and it only gets
    // worse). Tie semantics change with the plan shape and are part of
    // the contract now: equal VALUES share a quartile (boundary ties →
    // the higher bin), where rank-ntile split ties arbitrarily by key —
    // the value-based read is also the defensible analytics answer.
    Query("q170_rfm_segments", (s, d) => {
      val per = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          exactSum(col("o_totalprice")).as("monetary"))
        .withColumn("rv", datediff(col("last_order"), lit("1970-01-01")).cast("double"))
        .withColumn("fv", col("freq").cast("double"))
        .withColumn("mv", col("monetary").cast("double"))
      Summaries.quantileBins(per, Seq(("rv", 4, "r"), ("fv", 4, "f"), ("mv", 4, "m")))
        .select(concat(col("r") + 1, col("f") + 1, col("m") + 1).as("segment"))
        .groupBy(col("segment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("segment"))
    },
      // quantile_cont replays exactQuantileArrays' interpolation bit-exactly
      // (the q103 parity precedent); bin = count of cuts <= value
      """WITH per AS (
           SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         pv AS (
           SELECT o_custkey,
                  datediff('day', DATE '1970-01-01', last_order)::DOUBLE AS rv,
                  freq::DOUBLE AS fv, monetary AS mv
           FROM per),
         cuts AS (
           SELECT quantile_cont(rv, [0.25, 0.5, 0.75]) cr,
                  quantile_cont(fv, [0.25, 0.5, 0.75]) cf,
                  quantile_cont(mv, [0.25, 0.5, 0.75]) cm
           FROM pv),
         seg AS (
           SELECT (1 + len(list_filter(cr, c -> c <= rv)))::VARCHAR ||
                  (1 + len(list_filter(cf, c -> c <= fv)))::VARCHAR ||
                  (1 + len(list_filter(cm, c -> c <= mv)))::VARCHAR AS segment
           FROM pv, cuts)
         SELECT segment, count(*)::BIGINT AS n_customers
         FROM seg GROUP BY 1 ORDER BY 1"""),

    // Sessions-per-user distribution: histogram of how many gap-based
    // sessions each user accumulates (q145's sessionizer feeding an
    // engagement-shape report) — two bounded aggregates on top of the
    // shared sessionization plan
    Query("q171_sessions_per_user", (s, d) => {
      Summaries.sessionizeBatch(t(s, d, "events"), "user_id", "ts", 1800, "event_id")
        .groupBy(col("user_id")).agg(countDistinct(col("session_id")).as("n_sessions"))
        .groupBy(col("n_sessions")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_sessions"))
    },
      """WITH d AS (SELECT user_id, ts, event_id FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, ts, event_id,
                      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                             > 1800
                           THEN 1 ELSE 0 END AS flag
               FROM d),
         s AS (SELECT user_id,
                      sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS sid
               FROM f),
         per AS (SELECT user_id, count(DISTINCT sid) AS n_sessions FROM s GROUP BY user_id)
         SELECT CAST(n_sessions AS BIGINT) AS n_sessions, count(*)::BIGINT AS n_users
         FROM per GROUP BY 1 ORDER BY 1"""),

    // Time-to-conversion: median and p90 minutes from each user's FIRST
    // click to their FIRST subsequent purchase, by signup-week cohort of
    // the first click — funnel latency, the q114 conversion funnel's
    // "how fast" companion. Exact per-cohort percentiles (quantile_cont
    // parity); cohort count bounds the groups
    Query("q172_time_to_convert", (s, d) => {
      val ev = t(s, d, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pt"))
        .groupBy(col("pu")).agg(min(col("pt")).as("fp"))
      firstClick
        .join(firstPurchase, col("user_id") === col("pu") && col("fp") >= col("fc"))
        .select(date_trunc("week", col("fc")).as("cohort_week"),
          ((unix_timestamp(col("fp")) - unix_timestamp(col("fc"))) / 60.0).as("mins"))
        .groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_converted"),
          Summaries.r4(expr("percentile(mins, 0.5)")).as("median_mins"),
          Summaries.r4(expr("percentile(mins, 0.9)")).as("p90_mins"))
        .orderBy(col("cohort_week"))
    },
      """WITH fc AS (SELECT user_id, min(ts) AS fc FROM events
                     WHERE event_type = 'click' GROUP BY user_id),
         fp AS (SELECT user_id, min(ts) AS fp FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
         j AS (SELECT CAST(date_trunc('week', fc.fc) AS TIMESTAMP) AS cohort_week,
                      (CAST(floor(epoch(fp.fp)) AS BIGINT)
                       - CAST(floor(epoch(fc.fc)) AS BIGINT)) / 60.0::DOUBLE AS mins
               FROM fc JOIN fp ON fc.user_id = fp.user_id AND fp.fp >= fc.fc)
         SELECT cohort_week, count(*)::BIGINT AS n_converted,
                floor(quantile_cont(mins, 0.5) * 10000 + 0.5) / 10000 AS median_mins,
                floor(quantile_cont(mins, 0.9) * 10000 + 0.5) / 10000 AS p90_mins
         FROM j GROUP BY cohort_week ORDER BY cohort_week"""),

    // Weekday seasonality profile: per event type, the day-of-week shape
    // of daily volume (mean/min/max) — the baseline any anomaly detector
    // (q151) should be normalized against. Two bounded aggregates
    Query("q168_weekday_profile", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("int")) // Sunday = 0
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"),
          Summaries.r4(avg(col("n"))).as("avg_n"),
          min(col("n")).as("min_n"), max(col("n")).as("max_n"))
        .orderBy(col("event_type"), col("dow"))
    },
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(date_part('dow', day) AS INT) AS dow,
                count(*)::BIGINT AS n_days,
                floor(avg(n) * 10000 + 0.5) / 10000 AS avg_n,
                CAST(min(n) AS BIGINT) AS min_n, CAST(max(n) AS BIGINT) AS max_n
         FROM daily GROUP BY 1, 2 ORDER BY event_type, dow"""),

    // Medallion flow (the reference's declared Bronze→Silver→Gold model,
    // /root/reference/README.md:5-8) on the transactional table layer:
    // bronze = raw, silver = normalized strings, gold = business rules
    // (keep-latest dedup per customer + date-range + column selection).
    // All three layers land in ONE atomic TxTable commit — a reader never
    // sees a silver that disagrees with its bronze — and the output
    // aggregates the RE-READ gold table, so the round trip through the
    // commit log is what the oracle checks
    Query("q167_medallion", (s, d) => {
      val root = Tables.targetPath(s"tmp/medallion_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      val bronze = t(s, d, "orders")
      val silver = bronze
        .withColumn("o_orderstatus", upper(trim(col("o_orderstatus"))))
        .withColumn("o_orderpriority", trim(col("o_orderpriority")))
      val keep = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val gold = silver
        .withColumn("__rn", row_number().over(keep)).filter(col("__rn") === 1).drop("__rn")
        .filter(col("o_orderdate").isNotNull &&
          col("o_orderdate") >= lit("1993-01-01") && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      TxTable.commit(s, root, Seq(
        ("bronze", "replace", bronze),
        ("silver", "replace", silver),
        ("gold",   "replace", gold)))
      TxTable.read(s, root, "gold")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_customers"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
      """WITH silver AS (
           SELECT o_orderkey, o_custkey, upper(trim(o_orderstatus)) AS o_orderstatus,
                  o_totalprice, o_orderdate
           FROM orders),
         gold AS (
           SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
           FROM silver
           QUALIFY row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
         SELECT o_orderstatus, count(*)::BIGINT AS n,
                count(DISTINCT o_custkey)::BIGINT AS n_customers,
                CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM gold
         WHERE o_orderdate IS NOT NULL
           AND o_orderdate >= '1993-01-01' AND o_orderdate < '1998-01-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // The medallion maintained INCREMENTALLY — q167's flow re-shaped so the
    // publish costs O(changes), not three table copies (round-10 verdict
    // item 5). The fixture publishes bronze/silver/gold whole once; this
    // query then runs one increment cycle: append a known batch to bronze,
    // derive its CDC with TxTable.diff (insert-only here by construction),
    // silver-append the row-local normalize of exactly those rows, maintain
    // gold (the per-status business aggregate) from the same feed via
    // maintainSumCount in O(changes + groups), and land silver + gold in
    // ONE atomic commit — no reader ever sees a gold that disagrees with
    // its silver. Both commits carry guard/batchId replay protection, so
    // re-invocation (bench pass 2) is a log no-op and the read stays
    // deterministic. The re-read gold must equal a full recompute of the
    // complete orders table — the oracle IS that recompute. The diff is the
    // demo's CDC source (O(snapshot scan), shuffle on the key); a 100 TB
    // loop feeds maintenance from the writer's known batch or the streaming
    // CDC sink instead — ScaleBench's medallion_increment family measures
    // that path flat in corpus size.
    Query("q167b_medallion_incremental", (s, d) => {
      val (root, v1) = medallionIncFixture(s, d)
      val inc = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
        .filter(col("o_orderkey") % 13 === 0)
      TxTable.commit(s, root, Seq(("bronze", "append", inc)),
        guard = "medinc", batchId = 0L)
      val cdc = TxTable.diff(s, root, v1, v1 + 1, Seq("o_orderkey"), "bronze")
      val silverFeed = silverizeOrders(cdc)
      val maintained = Summaries.maintainSumCount(
        TxTable.readAsOf(s, root, v1, "gold"), silverFeed,
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      TxTable.commit(s, root, Seq(
        ("silver", "append",
          silverFeed.filter(col("change") === "insert").drop("change")),
        ("gold", "replace", maintained)),
        guard = "medinc", batchId = 1L)
      TxTable.read(s, root, "gold")
        .select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
      // the full recompute the maintained gold must equal bit-exactly
      // (decimal(27,4) carrier, the q187 parity precedent); base slice ∪
      // increment = the whole table, so no slice predicate appears
      """WITH silver AS (
           SELECT upper(trim(o_orderstatus)) AS o_orderstatus,
                  CAST(o_totalprice AS DOUBLE) AS o_totalprice
           FROM orders)
         SELECT o_orderstatus,
                CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*)::BIGINT AS n_orders
         FROM silver GROUP BY 1 ORDER BY 1"""),

    // Dedup funnel: document and token counts surviving each dedup stage
    // (raw → exact digest → fuzzy MinHash survivors) — the shrinkage
    // report every corpus build publishes. Each stage reuses the shipped
    // operator; the fuzzy stage runs on the exact-deduped remainder
    Query("q165_dedup_funnel", (s, d) => {
      // pinned: the (text, nt) projection feeds THREE stage aggregates plus
      // the digest dedup and the minhash pipeline — without the pin each
      // consumer re-scans the parquet and re-tokenizes every document
      val docs = Checkpoints.pin(t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(Text.tokens(col("text"))).cast("long").as("nt")), eager = false)
      val exact = Dedup.dedupByDigest(docs, "text", "doc_id")
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(lit(name).as("stage"), count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"))
      // The fuzzy-dedup side runs an eager CC loop (an action per round),
      // during which the driver would otherwise sit on the 1_raw/2_exact
      // stage aggregates it already has everything for — compute those
      // concurrently (guide §2.6, see q162); both are 1-row pins. Same
      // aggregates over the same rows; only the scheduling overlaps.
      val Seq(dropped, s12) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Dedup.nearDupSurvivors(
            Text.minhashNearDupPairs(exact, "doc_id", "text", 3, 16, 0.5),
            "doc_a", "doc_b")
          .filter(!col("keep")).select(col("doc_id"))),
        () => Checkpoints.pin(stage("1_raw", docs)
          .unionByName(stage("2_exact", exact)))))
      val fuzzy = exact.join(dropped, Seq("doc_id"), "left_anti")
      s12
        .unionByName(stage("3_fuzzy", fuzzy))
        .orderBy(col("stage"))
    },
      s"""WITH RECURSIVE docs AS (
           SELECT doc_id, text,
                  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
           FROM documents),
         ex AS (
           -- mirror dedupByDigest's NULL pass-through: NULL content is not
           -- "equal content", so NULL-text rows all survive the exact stage
           SELECT * FROM docs WHERE text IS NOT NULL
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
           UNION ALL
           SELECT * FROM docs WHERE text IS NULL),
         sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM ex)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         exx AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM exx a JOIN exx b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
         pr AS (
           SELECT doc_a, doc_b
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
                 / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pr UNION SELECT doc_b, doc_a FROM pr),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.id),
         dropd AS (
           SELECT id FROM (SELECT id, min(root) AS comp FROM walk GROUP BY id)
           WHERE id <> comp),
         fz AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id FROM dropd)),
         u AS (
           SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens FROM docs
           UNION ALL
           SELECT '2_exact', count(*)::BIGINT, sum(nt)::BIGINT FROM ex
           UNION ALL
           SELECT '3_fuzzy', count(*)::BIGINT, sum(nt)::BIGINT FROM fz)
         SELECT stage, n_docs, n_tokens FROM u ORDER BY stage"""),

    // JSON schema drift between snapshot generations: key-set profiling
    // over a JSON column (added / removed / common, with occurrence
    // counts) — the ingestion guard for evolving upstream payloads. One
    // explode of json keys + one aggregate
    Query("q166_props_schema_drift", (s, d) => {
      val pk = col("p_partkey")
      val js = when(pk % 2 === 0,
          concat(lit("{\"id\": "), pk.cast("string"), lit(", \"price\": 1"),
            when(pk % 4 === 0, lit(", \"legacy\": true")).otherwise(lit("")), lit("}")))
        .otherwise(
          concat(lit("{\"id\": "), pk.cast("string"), lit(", \"price_cents\": 100"),
            when(pk % 5 === 0, lit(", \"tags\": []")).otherwise(lit("")), lit("}")))
      t(s, d, "part")
        .select((pk % 2 === 0).as("is_old"), explode(json_object_keys(js)).as("key"))
        .groupBy(col("key"))
        .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
          sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
        .withColumn("status",
          when(col("n_old") > 0 && col("n_new") > 0, "common")
            .when(col("n_old") > 0, "removed").otherwise("added"))
        .orderBy(col("key"))
    },
      """WITH j AS (
           SELECT p_partkey % 2 = 0 AS is_old,
                  CASE WHEN p_partkey % 2 = 0 THEN
                    '{"id": ' || p_partkey::VARCHAR || ', "price": 1' ||
                    CASE WHEN p_partkey % 4 = 0 THEN ', "legacy": true' ELSE '' END || '}'
                  ELSE
                    '{"id": ' || p_partkey::VARCHAR || ', "price_cents": 100' ||
                    CASE WHEN p_partkey % 5 = 0 THEN ', "tags": []' ELSE '' END || '}'
                  END AS js
           FROM part),
         k AS (SELECT is_old, unnest(json_keys(js)) AS key FROM j)
         SELECT key,
                sum(CASE WHEN is_old THEN 1 ELSE 0 END)::BIGINT AS n_old,
                sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END)::BIGINT AS n_new,
                CASE WHEN sum(CASE WHEN is_old THEN 1 ELSE 0 END) > 0
                      AND sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END) > 0 THEN 'common'
                     WHEN sum(CASE WHEN is_old THEN 1 ELSE 0 END) > 0 THEN 'removed'
                     ELSE 'added' END AS status
         FROM k GROUP BY key ORDER BY key"""),

    // Deterministic negative sampling for contrastive training: per
    // anchor, 3 cross-language negatives drawn by content hash WITHIN the
    // anchor's hash bucket. The bucket count is OCCUPANCY-CONSTANT —
    // ceil(n/32), computed in-plan by a broadcast 1-row aggregate — so
    // candidates stay O(n · 32) as the corpus grows; a fixed bucket count
    // is the same O(n²/buckets) geometry ScaleBench caught in fixed-plane
    // ANN (and measured here too: 16 fixed buckets ran 11.5× the cost for
    // 10× the docs before this change). Every draw replays under retry or
    // corpus growth; at sf0.01 ceil(500/32)=16 reproduces the historical
    // bucketing exactly
    Query("q163_negative_sampling", (s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val nb = base.agg(
        greatest(ceil(count(lit(1)) / 32.0).cast("long"), lit(1L)).as("nb"))
      val docs = base.crossJoin(broadcast(nb))
        .withColumn("bkt", pmod(Text.hash60(col("doc_id").cast("string")), col("nb")))
        .drop("nb")
      val pairs = docs.as("a").join(docs.as("b"),
          col("a.bkt") === col("b.bkt") && col("a.doc_id") =!= col("b.doc_id") &&
            col("a.lang") =!= col("b.lang"))
        .select(col("a.doc_id").as("anchor"), col("b.doc_id").as("neg_id"),
          Text.hash60(concat(col("a.doc_id").cast("string"), lit("_"),
            col("b.doc_id").cast("string"))).as("draw"))
      pairs
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("anchor")).orderBy(col("draw"), col("neg_id"))))
        .filter(col("rank") <= 3)
        .select(col("anchor"), col("neg_id"), col("rank"))
        .orderBy(col("anchor"), col("rank"))
    },
      """WITH nb AS (
           SELECT GREATEST(CAST(ceil(count(*) / 32.0) AS BIGINT), 1) AS nb
           FROM documents),
         d AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % (SELECT nb FROM nb) AS bkt
           FROM documents),
         p AS (
           SELECT a.doc_id AS anchor, b.doc_id AS neg_id,
                  ('0x' || substr(md5(a.doc_id::VARCHAR || '_' || b.doc_id::VARCHAR), 1, 15))::BIGINT AS draw
           FROM d a JOIN d b ON a.bkt = b.bkt AND a.doc_id <> b.doc_id AND a.lang <> b.lang),
         r AS (
           SELECT anchor, neg_id,
                  row_number() OVER (PARTITION BY anchor ORDER BY draw, neg_id) AS rank
           FROM p)
         SELECT anchor, neg_id, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3 ORDER BY anchor, rank"""),

    // Curriculum interleave: per-source difficulty rank (longest docs
    // first as the difficulty proxy), then round-robin across sources —
    // the schedule column a trainer reads shards by. Two window passes,
    // both partitioned (per-source rank, then per-round position)
    Query("q164_curriculum_order", (s, d) => {
      val ranked = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
      ranked
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("rk")).orderBy(col("source"))))
        .select(col("doc_id"), col("source"), col("rk").as("round"), col("pos"))
        .orderBy(col("round"), col("pos"))
    },
      """WITH rk AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS round
           FROM documents)
         SELECT doc_id, source, CAST(round AS INT) AS round,
                CAST(row_number() OVER (PARTITION BY round ORDER BY source) AS INT) AS pos
         FROM rk ORDER BY round, pos"""),

    // LSH-vs-exact evaluation: recall/precision of the MinHash-LSH
    // near-dup pipeline against the exact inverted-index ground truth on
    // the same corpus slice — the tuning harness for band/row choices
    // (run on a scoped sample, exactly how banding parameters are tuned
    // before a corpus-wide pass)
    Query("q162_lsh_recall_eval", (s, d) => {
      val docs = t(s, d, "documents").filter(col("lang") === "en")
      // The exact and LSH pipelines are INDEPENDENT subtrees over the same
      // corpus slice. Their pins block at CONSTRUCTION time on stage
      // materialization, so built sequentially they paid both pipelines'
      // pin/stage barriers back to back (guide §2.6). Each side's verified
      // pair set is tiny (hundreds of rows) and is eagerly pinned inside its
      // thread, so the final recall/precision assembly reads two pinned row
      // sets. Same pairs, same arithmetic — only the build overlaps.
      val Seq(exact, lsh) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Text.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
          .select(col("doc_a"), col("doc_b"))),
        () => Checkpoints.pin(Text.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 0.5)
          .select(col("doc_a"), col("doc_b")))))
      val both = exact.intersect(lsh)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(both.agg(count(lit(1)).as("n_both")))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          Summaries.r4(col("n_both").cast("double") / col("n_exact")).as("recall"),
          Summaries.r4(col("n_both").cast("double") / col("n_lsh")).as("precision"))
    },
      s"""WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk
                 FROM documents WHERE lang = 'en')),
         ep AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
                 / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM ex a JOIN ex b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id),
         lp AS (
           SELECT doc_a, doc_b
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
                 / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5),
         ne AS (SELECT count(*) AS n_exact FROM ep),
         nl AS (SELECT count(*) AS n_lsh FROM lp),
         nb AS (SELECT count(*) AS n_both FROM (SELECT * FROM ep INTERSECT SELECT * FROM lp))
         SELECT n_exact, n_lsh, n_both,
                floor(n_both::DOUBLE / n_exact * 10000 + 0.5) / 10000 AS recall,
                floor(n_both::DOUBLE / n_lsh * 10000 + 0.5) / 10000 AS precision
         FROM ne, nl, nb"""),

    // D3 hot-bucket bound under pathological duplication: a 1000-copy
    // boilerplate flood collides in EVERY LSH band, so the unguarded band
    // self-join would emit ~500k candidate rows into one shuffle partition;
    // maxBucket=64 switches those buckets to star pairing — each clone
    // links to the bucket representative (min id), O(d) rows — and the
    // flood still resolves around one representative. Constant-size by
    // construction (doc_id < 50 + 1000 synthesized clones), so this costs
    // the same at every SF
    // The maxBucket PREFLIGHT: band-bucket occupancy over the documents
    // table — the measurement that decides whether the (deliberately
    // default-off) hot-bucket cap must be set before minhashNearDupPairs
    // runs at a new corpus scale. Healthy corpora tail off early; a q173
    // flood shows itself as one occ≈clones bucket carrying a quadratic
    // cand_pairs spike
    Query("q193_lsh_occupancy", (s, d) => {
      Text.lshBucketOccupancy(t(s, d, "documents"), "doc_id", "text", 3, 16)
        .orderBy(col("occ"))
    },
      // the same (band, hv) buckets the pair join uses, folded to an
      // occupancy histogram — cand_pairs is exact (occ·(occ−1) is even, so
      // the /2 has no fractional part and both engines' double-div + cast
      // agree bit-for-bit)
      s"""WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM documents)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         buck AS (SELECT band, hv, count(*) AS occ FROM ex GROUP BY band, hv)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ"""),

    Query("q173_boilerplate_flood", (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      val t0   = docs.filter(col("doc_id") === 0).select(col("text").as("t0"))
      val clones = s.range(1000).crossJoin(t0)
        .select((col("id") + 1000000L).as("doc_id"), col("t0").as("text"))
      Text.minhashNearDupPairs(base.unionByName(clones), "doc_id", "text", 3, 16, 0.5,
          maxBucket = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH ${floodCorpusSql(1000)},
         ${cappedLshCtesSql(64)}
         SELECT doc_a, doc_b, floor(j * 10000 + 0.5)/10000 AS jacc
         FROM capped ORDER BY doc_a, doc_b"""),

    // Recall cost of the hot-bucket star bound, quantified (the q162
    // harness re-run against a clone flood): capped-LSH pairs are a
    // verified subset of the exact ground truth, so pair_recall =
    // n_capped/n_exact collapses (the flood's O(d²) pairs reduce to O(d)
    // star pairs — by design), while doc_recall — the dedup-relevant
    // metric, "does every duplicated document keep a verified partner" —
    // stays 1.0: capping bounds candidate volume without losing a single
    // dedupable document
    Query("q174_flood_recall", (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      val t0   = docs.filter(col("doc_id") === 0).select(col("text").as("t0"))
      val clones = s.range(200).crossJoin(t0)
        .select((col("id") + 1000000L).as("doc_id"), col("t0").as("text"))
      val corpus = base.unionByName(clones)
      // ground truth: exact inverted-index Jaccard with maxDf above the
      // flood's df (the deliberate unbounded form — feasible at this
      // fixture size, impossible at corpus scale; that gap is the point).
      // The two pipelines are independent subtrees — built concurrently so
      // their pin/stage barriers overlap (guide §2.6, see q162); each pair
      // set is tiny and eagerly pinned inside its thread.
      val Seq(exact, capped) = Concurrent.all(s)(Seq(
        () => Checkpoints.pin(Text.jaccardNearDupPairs(corpus, "doc_id", "text", 3, 0.5,
            maxDf = 5000).select(col("doc_a"), col("doc_b"))),
        () => Checkpoints.pin(Text.minhashNearDupPairs(corpus, "doc_id", "text", 3, 16, 0.5,
            maxBucket = 64).select(col("doc_a"), col("doc_b")))))
      def dupDocs(p: DataFrame) =
        p.select(explode(array(col("doc_a"), col("doc_b"))).as("id")).distinct()
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
        .crossJoin(dupDocs(exact).agg(count(lit(1)).as("n_dup_docs_exact")))
        .crossJoin(dupDocs(capped).agg(count(lit(1)).as("n_dup_docs_capped")))
        .select(col("n_exact"), col("n_capped"),
          Summaries.r4(col("n_capped").cast("double") / col("n_exact")).as("pair_recall"),
          col("n_dup_docs_exact"), col("n_dup_docs_capped"),
          Summaries.r4(col("n_dup_docs_capped").cast("double") / col("n_dup_docs_exact"))
            .as("doc_recall"))
    },
      s"""WITH ${floodCorpusSql(200)},
         ${cappedLshCtesSql(64)},
         exact AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5),
         m AS (
           SELECT (SELECT count(*) FROM exact) AS n_exact,
                  (SELECT count(*) FROM capped) AS n_capped,
                  (SELECT count(DISTINCT id) FROM (SELECT doc_a AS id FROM exact UNION ALL SELECT doc_b FROM exact)) AS nde,
                  (SELECT count(DISTINCT id) FROM (SELECT doc_a AS id FROM capped UNION ALL SELECT doc_b FROM capped)) AS ndc)
         SELECT n_exact, n_capped,
                floor(n_capped::DOUBLE / n_exact * 10000 + 0.5)/10000 AS pair_recall,
                nde AS n_dup_docs_exact, ndc AS n_dup_docs_capped,
                floor(ndc::DOUBLE / nde * 10000 + 0.5)/10000 AS doc_recall
         FROM m"""),

    // Skew-join on REAL skew: a derived key collapses half of lineitem onto
    // one supplier (q84 only proved salt ≡ plain on uniform keys). The
    // salted join spreads the hot key's rows over 8 reducers; result
    // identity with the plain DuckDB join IS the oracle, and PlanSpec pins
    // the physical property (measured per-reducer row distribution + AQE
    // skew-split engagement on the unsalted plan)
    Query("q175_skew_join", (s, d) => {
      val li = t(s, d, "lineitem").withColumn("skew_key",
        when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_suppkey")))
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      Relational.saltedJoin(li, sup, "skew_key", "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    },
      """SELECT s_nationkey, count(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty
         FROM (SELECT l_quantity,
                      CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END AS skew_key
               FROM lineitem) li
         JOIN supplier ON li.skew_key = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey"""),

    // Functional-dependency discovery: for candidate determinant →
    // dependent column pairs, count keys whose dependent value is not
    // unique — the schema-inference / data-contract profiling pass. One
    // two-level aggregate per pair (distinct-per-key, then violations),
    // unioned into a single plan
    Query("q161_fd_discovery", (s, d) => {
      val o = t(s, d, "orders")
      def fd(det: String, dep: String): DataFrame = o
        .groupBy(col(det)).agg(countDistinct(col(dep)).as("nv"))
        .agg(lit(det).as("determinant"), lit(dep).as("dependent"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"),
          (sum(when(col("nv") > 1, 1L).otherwise(0L)) === 0).as("fd_holds"))
      fd("o_orderkey", "o_custkey")
        .unionByName(fd("o_custkey", "o_orderstatus"))
        .unionByName(fd("o_orderpriority", "o_orderstatus"))
        .orderBy(col("determinant"), col("dependent"))
    },
      """WITH f1 AS (
           SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
                  count(*)::BIGINT AS n_keys,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating
           FROM (SELECT o_orderkey, count(DISTINCT o_custkey) nv FROM orders GROUP BY 1)),
         f2 AS (
           SELECT 'o_custkey', 'o_orderstatus', count(*)::BIGINT,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) nv FROM orders GROUP BY 1)),
         f3 AS (
           SELECT 'o_orderpriority', 'o_orderstatus', count(*)::BIGINT,
                  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) nv FROM orders GROUP BY 1)),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
         SELECT determinant, dependent, n_keys, n_violating,
                n_violating = 0 AS fd_holds
         FROM u ORDER BY determinant, dependent"""),

    // PII incidence report: per-brand counts of emails / IPs / long
    // numbers found by the q71 redaction patterns — the compliance-audit
    // view (what WOULD be redacted, where) before any text ships. Pure
    // per-row regexp counts + one aggregate
    Query("q156_pii_summary", (s, d) => {
      val pk = col("p_partkey")
      val txt = concat(
        lit("ref "), (pk * 1234567).cast("string"),
        when(pk % 3 === 0, concat(lit(" user"), pk.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pk % 4 === 0, concat(lit(" 10.0."), (pk % 256).cast("string"), lit(".1")))
          .otherwise(lit("")))
      val em = regexp_count(txt, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
      val ip = regexp_count(txt, lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"))
      val nm = regexp_count(txt, lit("\\b\\d{7,}\\b"))
      t(s, d, "part")
        .select(col("p_brand"), em.as("em"), ip.as("ip"), nm.as("nm"))
        .groupBy(col("p_brand"))
        .agg(sum(col("em")).as("n_email"), sum(col("ip")).as("n_ip"),
          sum(col("nm")).as("n_num"),
          sum(when(col("em") + col("ip") + col("nm") > 0, 1L).otherwise(0L))
            .as("rows_with_pii"))
        .orderBy(col("p_brand"))
    },
      """WITH s AS (
           SELECT p_brand,
                  'ref ' || (p_partkey * 1234567)::VARCHAR ||
                  CASE WHEN p_partkey % 3 = 0
                       THEN ' user' || p_partkey::VARCHAR || '@example.com' ELSE '' END ||
                  CASE WHEN p_partkey % 4 = 0
                       THEN ' 10.0.' || (p_partkey % 256)::VARCHAR || '.1' ELSE '' END AS txt
           FROM part),
         c AS (
           SELECT p_brand,
                  len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) em,
                  len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) ip,
                  len(regexp_extract_all(txt, '\b\d{7,}\b')) nm
           FROM s)
         SELECT p_brand,
                sum(em)::BIGINT AS n_email, sum(ip)::BIGINT AS n_ip,
                sum(nm)::BIGINT AS n_num,
                sum(CASE WHEN em + ip + nm > 0 THEN 1 ELSE 0 END)::BIGINT AS rows_with_pii
         FROM c GROUP BY p_brand ORDER BY p_brand"""),

    // Profile-based language ID: train per-language top-20 char-trigram
    // profiles FROM the labeled corpus, score each doc's distinct trigrams
    // against them — the realistic two-pass shape (corpus-derived model,
    // broadcast-joined application; the model is 5×20 rows however large
    // the corpus). Tie rule: highest hit count, then alphabetical language
    Query("q157_charngram_langid", (s, d) => {
      val docs = Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("text"))
      // deliberately TWO explode passes over the text (train + score): the
      // explode is a narrow codegen'd stage, and pinning the ~300×-larger
      // trigram stream to share it measured SLOWER than re-exploding
      val tri = docs.select(col("lang"),
        explode(Text.charNgrams(col("text"), 3)).as("g"))
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("g").asc)
      val profile = tri.groupBy(col("lang"), col("g")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(byLang))
        .filter(col("rn") <= 20)
        .select(col("lang").as("plang"), col("g"))
      val hits = docs
        .select(col("doc_id"), explode(Text.charNgramsDistinct(col("text"), 3)).as("g"))
        .join(broadcast(profile), Seq("g"))
        .groupBy(col("doc_id"), col("plang")).agg(count(lit(1)).as("cnt"))
      val best = hits
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("plang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("plang"))
      docs.select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("lang"), coalesce(col("plang"), lit("und")).as("pred"))
        .orderBy(col("doc_id"))
    },
      """WITH lt AS (SELECT doc_id, lang, lower(text) t FROM documents),
         tri AS (
           SELECT doc_id, lang, unnest([substr(t, i, 3) for i in range(1, len(t) - 1)]) g
           FROM lt),
         pc AS (SELECT lang, g, count(*) cnt FROM tri GROUP BY 1, 2),
         prof AS (
           SELECT lang AS plang, g FROM (
             SELECT lang, g,
                    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) rn
             FROM pc) WHERE rn <= 20),
         dtri AS (
           SELECT doc_id,
                  unnest(list_distinct([substr(t, i, 3) for i in range(1, len(t) - 1)])) g
           FROM lt),
         sc AS (SELECT doc_id, plang, count(*) cnt
                FROM dtri JOIN prof ON dtri.g = prof.g GROUP BY 1, 2),
         best AS (
           SELECT doc_id, plang FROM (
             SELECT doc_id, plang,
                    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, plang) rn
             FROM sc) WHERE rn = 1)
         SELECT d.doc_id, d.lang, coalesce(b.plang, 'und') AS pred
         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
         ORDER BY d.doc_id"""),

    // Near-dup cluster-size histogram — the dedup report that tells you
    // whether duplication is pairwise noise or template floods: SimHash
    // pair graph → connected components → component sizes → histogram
    Query("q158_cluster_sizes", (s, d) => {
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
      s"""WITH RECURSIVE ${simhashCcCteBody()}
         SELECT sz, count(*)::BIGINT AS n_clusters FROM (
           SELECT comp, count(*)::BIGINT AS sz FROM (
             SELECT id, min(root) AS comp FROM walk GROUP BY id)
           GROUP BY comp)
         GROUP BY sz ORDER BY sz"""),

    // Cross-split contamination matrix: count 8-gram shingles shared
    // between the train/val/test hash splits — the leakage audit run
    // before any eval is trusted. The shingle index is (split, shingle)
    // DISTINCT, so the self-join emits at most C(3,2) rows per shingle —
    // bounded by the split count, never by document frequency
    Query("q153_split_contamination", (s, d) => {
      val split = Sampling.splitColumn(Seq(col("doc_id").cast("string")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val ss = Tables.spread(t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(split.as("split"), explode(Text.shinglesOf(col("text"), 8)).as("sh"))
        .distinct()
      ss.as("a").join(ss.as("b"),
          col("a.sh") === col("b.sh") && col("a.split") < col("b.split"))
        .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("split_a"), col("split_b"))
    },
      """WITH tk AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct([array_to_string(list_slice(tk, i, i+7), ' ')
                                        for i in range(1, len(tk)-6)])) AS sh
           FROM tk),
         sp AS (
           SELECT doc_id,
                  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 8000 THEN 'train'
                       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
         ss AS (SELECT DISTINCT sp.split, sh.sh FROM sh JOIN sp USING (doc_id))
         SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_shared
         FROM ss a JOIN ss b ON a.sh = b.sh AND a.split < b.split
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Language-ID confusion matrix vs the labeled lang column — the
    // classifier-eval view of q21's heuristic: cells plus each cell's
    // share of its true class. One scan, one node-bounded aggregate
    Query("q154_langid_confusion", (s, d) => {
      val cells = Tables.spread(t(s, d, "documents"))
        .select(col("lang"), Text.languageId(Text.tokenSet(col("text"))).as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
      cells
        .withColumn("frac_of_true",
          Summaries.r4(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("lang")))))
        .orderBy(col("lang"), col("pred"))
    },
      """WITH s AS (
           SELECT doc_id, lang,
                  len(list_intersect(tk, ['der','die','das','und'])) s_de,
                  len(list_intersect(tk, ['the','a','of','and'])) s_en,
                  len(list_intersect(tk, ['el','la','los','y'])) s_es,
                  len(list_intersect(tk, ['le','les','une','et'])) s_fr,
                  len(list_intersect(tk, ['shi','bu','wo','zhe'])) s_zh
           FROM (SELECT doc_id, lang, list_distinct(string_split_regex(lower(trim(text)), '\s+')) tk FROM documents)),
         p AS (
           SELECT lang,
                  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh' END AS pred
           FROM s),
         c AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2)
         SELECT lang, pred, n,
                floor(n::DOUBLE / sum(n) OVER (PARTITION BY lang) * 10000 + 0.5) / 10000
                  AS frac_of_true
         FROM c ORDER BY lang, pred"""),

    // Zipf power-law fit: ln(freq) ~ a + b·ln(rank) over the top-100
    // tokens — corpus-health fingerprint (a natural corpus slopes ≈ −1;
    // template/boilerplate floods flatten or steepen it). Top-100 via
    // TakeOrdered; the OLS fold is over 100 driver-bounded points
    Query("q155_zipf_slope", (s, d) => {
      val top = Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(100)
        .withColumn("r",
          row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)))
      val x = log(col("r").cast("double"))
      val y = log(col("cnt").cast("double"))
      top.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("n"),
          Summaries.r4((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          Summaries.r4((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"))
            .as("intercept"))
    },
      """WITH tok AS (
           SELECT token, count(*) AS cnt
           FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           GROUP BY token ORDER BY cnt DESC, token LIMIT 100),
         rk AS (
           SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS r FROM tok),
         m AS (
           SELECT count(*)::BIGINT AS n,
                  sum(ln(r::DOUBLE)) AS sx, sum(ln(cnt::DOUBLE)) AS sy,
                  sum(ln(r::DOUBLE) * ln(cnt::DOUBLE)) AS sxy,
                  sum(ln(r::DOUBLE) * ln(r::DOUBLE)) AS sxx
           FROM rk)
         SELECT n,
                floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5) / 10000
                  AS slope,
                floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                      * 10000 + 0.5) / 10000 AS intercept
         FROM m"""),

    // Reciprocal-rank fusion of two bounded retrieval lists (by length and
    // by lexical diversity): the standard zero-tuning rank combiner for
    // hybrid search. Each list is a TakeOrdered top-100 (never a global
    // sort); the fusion is a full outer join of two 100-row sides
    Query("q152_rrf", (s, d) => {
      val docs = t(s, d, "documents")
      def top100(metric: Column): DataFrame = {
        val ranked = docs.select(col("doc_id"), metric.as("m"))
          .orderBy(col("m").desc, col("doc_id")).limit(100)
        // rank within 100 driver-bounded rows — the single-partition window
        // is over the ALREADY-limited list, not the corpus
        ranked.withColumn("r",
          row_number().over(Window.orderBy(col("m").desc, col("doc_id"))))
          .select(col("doc_id"), col("r"))
      }
      val a = top100(length(col("text")).cast("double"))
      val b = top100(size(array_distinct(split(col("text"), " "))).cast("double") /
        size(split(col("text"), " ")))
      a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
          Summaries.r4(
            coalesce(lit(1.0) / (col("a.r") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("b.r") + 60), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },
      """WITH la AS (
           SELECT doc_id, row_number() OVER (ORDER BY length(text) DESC, doc_id) AS r
           FROM documents QUALIFY r <= 100),
         lb AS (
           SELECT doc_id, row_number() OVER (
             ORDER BY len(list_distinct(string_split(text, ' ')))::DOUBLE
                      / len(string_split(text, ' ')) DESC, doc_id) AS r
           FROM documents QUALIFY r <= 100)
         SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id,
                floor((coalesce(1.0::DOUBLE / (la.r + 60), 0) + coalesce(1.0::DOUBLE / (lb.r + 60), 0))
                      * 10000 + 0.5) / 10000 AS rrf
         FROM la FULL JOIN lb ON la.doc_id = lb.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20"""),

    // Z-order write → file-stats index → stats-pruned range scan; the
    // result must equal the plain filtered aggregate (oracle), while
    // StorageSpec pins that the pruned read opens a strict file subset
    Query("q144_pruned_scan", (s, d) => {
      // projected 3-column table, z-ordered on two LOW-CARDINALITY columns:
      // the write-side quantile pass is bounded by their tiny distinct
      // domains, so the bench prices the skipping machinery, not a rewrite
      // of the widest possible table (StorageSpec covers the continuous-
      // domain price case)
      val dir = Tables.targetPath(s"tmp/zorder_li_${d.replaceAll("[^0-9a-zA-Z]", "_")}")
      val statsDir = dir + "_stats"
      // file count derives from the table (≈500k rows/file, floor 16):
      // with a FIXED file count, rows-per-file — and so the pruning
      // granularity every skipped query depends on — degrades linearly
      // with table growth (the three-point probe read 5.1× for 3× rows);
      // sizing files to data keeps skipped-vs-scanned fractions stable.
      // The stamp embeds the derived count so a layout change rebuilds.
      val nFiles = math.max(16,
        math.ceil(t(s, d, "lineitem").count() / 500000.0).toInt)
      // write-once/scan-many: the clustering rewrite and its stats index
      // refresh only when the SOURCE parquet changes (sourceStamp) — every
      // later call prices the pruned SCAN, which is the operator's
      // steady-state cost in any table format's OPTIMIZE economics
      val stamp = Storage.sourceStamp(s, Seq(s"$d/lineitem.parquet"),
        s"zorder:l_returnflag,l_quantity,l_discount:4:$nFiles:v1")
      Storage.refreshIfChanged(s, dir, stamp, alsoRequire = Seq(statsDir)) {
        Storage.zOrderWrite(
          t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity"), col("l_discount")),
          Seq("l_quantity", "l_discount"), 4, dir, nFiles)
        Storage.fileStats(s, dir, Seq("l_quantity", "l_discount"))
          .coalesce(1).write.mode("overwrite").parquet(statsDir)
      }
      val stats = s.read.parquet(statsDir)
      val (rows, _, _) = Storage.prunedRead(s, dir, stats, "l_quantity", 10.0, 20.0)
      rows.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_discount")).as("sum_disc"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
                count(*) AS n,
                CAST(sum(CAST(l_discount AS DECIMAL(27,2))) AS DOUBLE) AS sum_disc
         FROM lineitem
         WHERE l_quantity >= 10.0 AND l_quantity <= 20.0
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // F1/F2/F5/F6/F9 — string-cleaning battery on derived columns
    Query("q54_clean_strings", (s, d) => {
      val pk = col("p_partkey")
      val ipSrc = concat(lit("host "),
        when(pk % 3 === 0, lit("n/a"))
          .otherwise(concat(lit("10.2."), (pk % 200).cast("string"), lit(".7"))))
      val ip6Src = when(pk % 2 === 0, lit("fe80::1, 10.0.0.1")).otherwise(lit("1.2.3.4"))
      val tsSrc = when(pk % 5 === 0, lit("garbage"))
        .otherwise(concat(lit("2024-01-"), lpad((pk % 27 + 1).cast("string"), 2, "0")))
      t(s, d, "part")
        .select(pk,
          Clean.titleCase(concat(lit("  "), col("p_name"), lit(" "))).as("cleaned"),
          Clean.firstIpv4(ipSrc).as("ip"),
          Clean.firstIpv6(ip6Src).as("ip6"),
          Clean.parseTs(tsSrc).as("ts_parsed"))
        .orderBy(pk)
    },
      """WITH src AS (
           SELECT p_partkey, p_name,
                  'host ' || CASE WHEN p_partkey % 3 = 0 THEN 'n/a'
                                  ELSE '10.2.' || (p_partkey % 200)::VARCHAR || '.7' END AS ip_src,
                  CASE WHEN p_partkey % 2 = 0 THEN 'fe80::1, 10.0.0.1' ELSE '1.2.3.4' END AS ip6_src,
                  CASE WHEN p_partkey % 5 = 0 THEN 'garbage'
                       ELSE '2024-01-' || lpad((p_partkey % 27 + 1)::VARCHAR, 2, '0') END AS ts_src
           FROM part)
         SELECT p_partkey,
                array_to_string([upper(substr(w, 1, 1)) || lower(substr(w, 2)) for w in string_split(trim('  ' || p_name || ' '), ' ')], ' ') AS cleaned,
                NULLIF(regexp_extract(ip_src, '\b(\d{1,3}(?:\.\d{1,3}){3})\b', 1), '') AS ip,
                CASE WHEN len(list_filter([trim(p) for p in string_split(ip6_src, ',')], p -> instr(p, ':') > 0)) > 0
                     THEN list_filter([trim(p) for p in string_split(ip6_src, ',')], p -> instr(p, ':') > 0)[1] END AS ip6,
                TRY_CAST(ts_src AS TIMESTAMP) AS ts_parsed
         FROM src ORDER BY p_partkey"""),
  )

  /** ORC round-trip dirs already written by THIS JVM (q218). */
  private val orcWritten = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** q167b's silver transform — row-local, so its increment is exactly the
    * bronze increment transformed.
    */
  private def silverizeOrders(df: DataFrame): DataFrame =
    df.withColumn("o_orderstatus", upper(trim(col("o_orderstatus"))))

  /** q167b's base publish: bronze/silver/gold of the keys%13≠0 orders slice
    * in ONE atomic commit, retention widened to 3 so the increment loop can
    * still read the pre-increment gold after its own two commits supersede
    * it. Memoized per (session, dir) with stale-root delete (the cdcFixture
    * precedent). Returns (root, baseVersion).
    */
  private val medallionIncCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long)]

  private def medallionIncFixture(s: SparkSession, d: String): (String, Long) =
    medallionIncCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
        .filter(col("o_orderkey") % 13 =!= 0)
      val (root, vs) = cdcRoot(s, d, "medinc_", { r =>
        TxTable.setRetention(s, r, 3)
        TxTable.commit(s, r, Seq(
          ("bronze", "replace", base),
          ("silver", "replace", silverizeOrders(base)),
          ("gold",   "replace", Summaries.sumCountAgg(silverizeOrders(base),
            Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders"))))
        TxTable.versions(s, r)
      })
      (root, vs.last)
    })

  /** Batch-vs-corpus variant of [[minhashLshOracle]] for q100: candidates
    * pair a batch doc (doc_id % 10 = 0) with a corpus doc, and the batch
    * survivors are those with no verified near-dup. `corpusPred` narrows
    * the corpus side — q190/q191 replay index deletion by shrinking it.
    */
  private def minhashIncrementalOracle(
      corpusPred: String = "b.doc_id % 10 <> 0"): String =
    s"""WITH sh AS (
           SELECT doc_id, lang, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') tk FROM documents)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
           FROM ex a JOIN ex b ON a.band = b.band AND a.hv = b.hv
           WHERE a.doc_id % 10 = 0 AND $corpusPred),
         dup AS (
           SELECT DISTINCT bid FROM cand
           JOIN sh x ON bid = x.doc_id JOIN sh y ON cid = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT bid FROM dup)
         ORDER BY doc_id"""

  /** Flood fixture shared by q173/q174: `documents` rows with doc_id < 50
    * plus `nClones` synthesized copies of doc 0's text (ids 1000000+i) —
    * the pathological boilerplate cluster that makes an unbounded LSH
    * band join quadratic.
    */
  private def floodCorpusSql(nClones: Int): String =
    s"""corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 50
           UNION ALL
           SELECT 1000000 + i AS doc_id, (SELECT text FROM documents WHERE doc_id = 0) AS text
           FROM range($nClones) t(i))"""

  /** MinHash-LSH candidate pairs over the flood corpus WITH the hot-bucket
    * star bound replayed in SQL: buckets above `maxBucket` members pair
    * everyone with the bucket's min id only (mirrors
    * `Text.minhashNearDupPairs(maxBucket = …)`). Both self-join sides are
    * pre-filtered to cold buckets so the oracle itself never materializes
    * the quadratic hot-bucket join.
    */
  private def cappedLshCtesSql(maxBucket: Int): String =
    s"""sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') tk FROM corpus)),
         sig AS (
           SELECT doc_id, ${minhashSigSqlTerms(16)} sg
           FROM (SELECT doc_id, [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in ss] hs FROM sh)),
         ex AS (SELECT doc_id, generate_subscripts(sg, 1) - 1 AS band, unnest(sg) AS hv FROM sig),
         occ AS (SELECT band, hv, count(*) AS n, min(doc_id) AS rep FROM ex GROUP BY band, hv),
         coldex AS (
           SELECT e.doc_id, e.band, e.hv
           FROM ex e JOIN occ o ON e.band = o.band AND e.hv = o.hv AND o.n <= $maxBucket),
         cand AS (
           SELECT DISTINCT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM coldex a JOIN coldex b ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id
             UNION ALL
             SELECT o.rep AS doc_a, e.doc_id AS doc_b
             FROM ex e JOIN occ o ON e.band = o.band AND e.hv = o.hv
             WHERE o.n > $maxBucket AND e.doc_id <> o.rep)),
         capped AS (
           SELECT doc_a, doc_b,
                  len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) AS j
           FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
           WHERE len(list_intersect(x.ss, y.ss))::DOUBLE / len(list_distinct(list_concat(x.ss, y.ss))) >= 0.5)"""

  /** q205's oracle: q103's equal-population binning (at 2^bits cells per
    * axis), then `Storage.hilbertValue`'s quadrant-rotation arithmetic
    * unrolled as one CTE step per bit level — integer-exact, replayed
    * verbatim (reflection within the FULL grid at every level).
    */
  private def hilbertCellsOracle(bits: Int): String = {
    val n  = 1L << bits
    val n1 = n - 1
    val steps = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, j) =>
      val s = 1L << i
      s""",
         h${j + 1} AS (
           SELECT CASE WHEN (y & $s) = 0
                       THEN CASE WHEN (x & $s) > 0 THEN $n1 - y ELSE y END
                       ELSE x END AS x,
                  CASE WHEN (y & $s) = 0
                       THEN CASE WHEN (x & $s) > 0 THEN $n1 - x ELSE x END
                       ELSE y END AS y,
                  d + ${s * s} * xor(CASE WHEN (x & $s) > 0 THEN 3 ELSE 0 END,
                                     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
           FROM h$j)"""
    }.mkString
    s"""WITH cx AS (SELECT quantile_cont(value, [x / $n.0 for x in range(1, ${n.toInt})]) AS cs FROM events),
         cy AS (SELECT quantile_cont(user_id, [x / $n.0 for x in range(1, ${n.toInt})]) AS cs FROM events),
         b AS (
           SELECT len(list_filter((SELECT cs FROM cx), c -> c <= value)) AS bx,
                  len(list_filter((SELECT cs FROM cy), c -> c <= user_id)) AS qb
           FROM events),
         h0 AS (SELECT CAST(bx AS BIGINT) AS x, CAST(qb AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM b)$steps
         SELECT d AS h, count(*) AS n FROM h$bits GROUP BY d ORDER BY d"""
  }

  /** q210's oracle: 4-bin quantile binning on three columns, then
    * Skilling's transpose algorithm (the exact
    * [[graft.expr.HilbertIndex]] arithmetic) unrolled for dims = 3,
    * bits = 2 — one CTE per inner-loop step (the q = 2 inverse-undo pass
    * over i = 0, 1, 2), then the Gray encode, the trailing-t fold, and
    * the bit interleave. Integer-exact at every step.
    */
  private def hilbert3dCellsOracle: String =
    """WITH cx AS (SELECT quantile_cont(value, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       cy AS (SELECT quantile_cont(user_id, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       cz AS (SELECT quantile_cont(event_id, [x / 4.0 for x in range(1, 4)]) AS cs FROM events),
       b AS (
         SELECT CAST(len(list_filter((SELECT cs FROM cx), c -> c <= value)) AS BIGINT) AS x0,
                CAST(len(list_filter((SELECT cs FROM cy), c -> c <= user_id)) AS BIGINT) AS x1,
                CAST(len(list_filter((SELECT cs FROM cz), c -> c <= event_id)) AS BIGINT) AS x2
         FROM events),
       s1 AS (SELECT CASE WHEN (x0 & 2) > 0 THEN xor(x0, 1) ELSE x0 END AS x0, x1, x2 FROM b),
       s2 AS (SELECT CASE WHEN (x1 & 2) > 0 THEN xor(x0, 1)
                          ELSE xor(x0, xor(x0, x1) & 1) END AS x0,
                     CASE WHEN (x1 & 2) > 0 THEN x1
                          ELSE xor(x1, xor(x0, x1) & 1) END AS x1, x2 FROM s1),
       s3 AS (SELECT CASE WHEN (x2 & 2) > 0 THEN xor(x0, 1)
                          ELSE xor(x0, xor(x0, x2) & 1) END AS x0, x1,
                     CASE WHEN (x2 & 2) > 0 THEN x2
                          ELSE xor(x2, xor(x0, x2) & 1) END AS x2 FROM s2),
       g AS (SELECT x0, xor(x1, x0) AS x1, xor(x2, xor(x1, x0)) AS x2 FROM s3),
       f AS (SELECT x0, x1, x2, CASE WHEN (x2 & 2) > 0 THEN 1 ELSE 0 END AS t FROM g),
       h AS (SELECT ((xor(x0, t) >> 1) & 1) * 32 + ((xor(x1, t) >> 1) & 1) * 16 +
                    ((xor(x2, t) >> 1) & 1) * 8 + (xor(x0, t) & 1) * 4 +
                    (xor(x1, t) & 1) * 2 + (xor(x2, t) & 1) AS hv
             FROM f)
       SELECT hv AS h, count(*) AS n FROM h GROUP BY hv ORDER BY hv"""
}
