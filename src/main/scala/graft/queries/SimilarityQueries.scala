package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._

/** SURVEY §2.10 T4/T5, §2.5 J7, §2.7 A9, §2.3 F17 — embedding-vector
  * similarity on the `embeddings` table.
  */
object SimilarityQueries {
  import Tables.t
  import Shared._

  private[graft] val records: Seq[Query] = Seq(
    // T5 — brute-force cosine top-3 for a probe subset (corpus never
    // shuffles). DELIBERATELY-RAW quadratic ground truth for the ANN recall
    // gate, BOUNDED to the canonical slice `vec_id < 2000`: the whole table
    // at sf0.01/sf0.1 (correctness and the sf0.1 recall gate unchanged) and
    // exactly the replica-0 rows of any ScaleCorpus output, so the oracle's
    // cost stays constant while the scale twins (q26 sign-LSH, q58 IVF)
    // carry the full corpus.
    Query("q24_knn", (s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.knn(e.filter(col("vec_id") % 10 === 0), e, "vec_id", "embedding", 3)
        .orderBy(col("probe_id"), col("rank"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 2000),
         s AS (
           SELECT p.vec_id probe_id, c.vec_id neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [p.v[i] * c.v[i] for i in range(1, len(p.v) + 1)]), (a, b) -> a + b)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in p.v]), (a, b) -> a + b))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in c.v]), (a, b) -> a + b)))
                        * 10000 + 0.5)/10000 AS sim
           FROM e p JOIN e c ON p.vec_id % 10 = 0 AND p.vec_id <> c.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank"""),

    // J7 — cosine similarity self-join: all pairs ≥ 0.4. DELIBERATELY-RAW
    // range cross-join demo, bounded to the same canonical `vec_id < 2000`
    // slice as q24 (no-op at sf0.01/sf0.1, replica-0-only at scale); the
    // full-corpus forms are q26/q111 (bucketed, never all-pairs).
    Query("q25_embed_neardup", (s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") < 2000)
      Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 2000),
         s AS (
           SELECT a.vec_id vec_a, b.vec_id vec_b,
                  list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y))) AS c
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, floor(c * 10000 + 0.5)/10000 AS sim
         FROM s WHERE floor(c * 10000 + 0.5)/10000 >= 0.4 ORDER BY vec_a, vec_b"""),

    // T5 scale path — multi-table sign-LSH approximate top-3, sized by the
    // occupancy-constant rule: nPlanes = annPlanesFor(n) so expected bucket
    // occupancy stays ≤ 250 as the corpus grows (a FIXED plane count was
    // measured at 59× cost for 10× rows in SCALING.md — this query now
    // certifies the geometry a user should copy). The one-row count() is the
    // sizing probe — the same driver action the IVF codebook fetch already
    // makes. Recall spent via nTables (linear), never occupancy (quadratic);
    // SimilaritySpec gates recall@3 ≥ 0.9 vs q24 ground truth.
    Query("q26_ann_lsh", (s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      Similarity.annTopK(e, "vec_id", "embedding", Similarity.annPlanesFor(n), 3,
          nTables = 12)
        .orderBy(col("probe_id"), col("rank"))
    },
      """WITH params AS (
           SELECT least(30, greatest(3, CAST(ceil(ln(greatest(count(embedding)::DOUBLE / 250.0, 1.0)) / ln(2.0)) AS INT))) AS np
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         eb AS (
           SELECT vec_id, t,
                  CAST(list_sum([
                    CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                           [v[d + 1] * (CASE WHEN ('0x' || substr(md5((t*100 + p)::VARCHAR || '_' || (d::VARCHAR)), 1, 15))::BIGINT % 2 = 1
                                         THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)
                            for d in range(0, len(v))]), (a, b) -> a + b) > 0
                    THEN (1::BIGINT << p) ELSE 0::BIGINT END
                    for p in range(0, np)]) AS BIGINT) AS bucket
           FROM e, params, unnest([0,1,2,3,4,5,6,7,8,9,10,11]) tt(t)),
         cand AS (
           SELECT DISTINCT a.vec_id probe_id, b.vec_id neighbor_id
           FROM eb a JOIN eb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         s AS (
           SELECT probe_id, neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [pa.v[i] * pb.v[i] for i in range(1, len(pa.v) + 1)]), (x, y) -> x + y)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in pa.v]), (x, y) -> x + y))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in pb.v]), (x, y) -> x + y)))
                        * 10000 + 0.5)/10000 AS sim
           FROM cand JOIN e pa ON probe_id = pa.vec_id JOIN e pb ON neighbor_id = pb.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank"""),

    // T5 scale path #2 — IVF approximate top-3 with the compute-balanced
    // cell count nCells = ivfCellsFor(n, nProbe) = √(n·nProbe): assignment
    // (n·C) and search (n²·nProbe/C) meet at O(n^1.5), where the old fixed
    // 8-cell form degraded to O(n²/8). On the isotropic testdata recall
    // tracks cell-neighbourhood structure (~0.45 at sf0.001 — the
    // information bound for structureless vectors; no sublinear index can
    // beat the probed fraction there); SimilaritySpec carries the ≥ 0.9
    // recall gate on CLUSTERED embeddings, the regime IVF exists for.
    Query("q58_ivf_ann", (s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      Similarity.ivfTopK(e, "vec_id", "embedding",
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    },
      """WITH params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         seeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                   WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, s_id AS cell, rn FROM (
             SELECT e.vec_id, e.v, seeds.s_id,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * seeds.sv[i] for i in range(1, len(e.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in seeds.sv]), (a, b) -> a + b))) DESC,
                      seeds.s_id ASC) rn
             FROM e, seeds)
           WHERE rn <= 6),
         s AS (
           SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                  floor(list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                           * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y)))
                        * 10000 + 0.5)/10000 AS sim
           FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id)
         SELECT probe_id, neighbor_id, sim, rank FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank FROM s)
         WHERE rank <= 3 ORDER BY probe_id, rank"""),

    // Int8 scalar quantization: per-vector max-abs scale + tinyint code;
    // cos_q is the reconstruction similarity (cosine is scale-invariant)
    Query("q101_int8_quant", (s, d) => {
      val e = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      e.select(col("vec_id"), col("embedding"),
          Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          Summaries.r4(col("qz.scale")).as("scale4"),
          Summaries.r4(Similarity.dequantCosine(col("embedding"), col("qz"))).as("cos_q"))
        .orderBy(col("vec_id"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE embedding IS NOT NULL),
         s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
         qv AS (SELECT vec_id, v, scale,
                      CASE WHEN scale = 0 THEN [0.0 for x in v]
                           ELSE [floor(x / scale + 0.5) for x in v] END AS q
                FROM s)
         SELECT vec_id,
                floor(scale * 10000 + 0.5)/10000 AS scale4,
                floor(list_reduce(list_prepend(0.0::DOUBLE, [v[i] * q[i] for i in range(1, len(v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in q]), (a, b) -> a + b)))
                      * 10000 + 0.5)/10000 AS cos_q
         FROM qv ORDER BY vec_id"""),

    // A9 — typed UDAF: per-label element-wise mean, exploded to rows
    Query("q27_vector_mean", (s, d) => {
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(Similarity.vectorMean(col("embedding")).as("mean"))
        .select(col("label"), posexplode(col("mean")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"), Summaries.r4(col("v")).as("mv"))
        .orderBy(col("label"), col("pos"))
    },
      """SELECT label, CAST(i - 1 AS INT) AS pos, floor(avg(x) * 10000 + 0.5)/10000 AS mv
         FROM (SELECT label, unnest(embedding::DOUBLE[]) x, generate_subscripts(embedding, 1) i FROM embeddings)
         GROUP BY label, i ORDER BY label, pos"""),

    // F17 — array ops: size, element_at, L2 norm via aggregate
    Query("q28_array_ops", (s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          Summaries.r4(element_at(col("embedding"), 1).cast("double")).as("first_val"),
          Summaries.r4(Similarity.norm(col("embedding"))).as("l2norm"))
        .orderBy(col("vec_id"))
    },
      """SELECT vec_id, len(embedding) AS dim,
                floor(embedding[1]::DOUBLE * 10000 + 0.5)/10000 AS first_val,
                floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x::DOUBLE * x::DOUBLE for x in embedding]), (a, b) -> a + b)) * 10000 + 0.5)/10000 AS l2norm
         FROM embeddings ORDER BY vec_id"""),

    // Lloyd's k-means, 2 iterations from the 8 smallest-id seeds: per vector
    // its final cluster, plus the cluster's size, first centroid element and
    // centroid norm — assignment is a broadcast argmin expression, the update
    // a k-row partial aggregate; rows never shuffle
    Query("q117_kmeans", (s, d) => {
      import s.implicits._
      val (assigned, stats) =
        Clustering.kmeans(t(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
      val cent = stats.toDF("cluster", "n", "centroid")
        .select(col("cluster"), col("n"),
          element_at(col("centroid"), 1).as("c0"),
          Summaries.r4(Similarity.norm(col("centroid"))).as("cnorm"))
      assigned.select(col("vec_id"), col("cluster"))
        .join(broadcast(cent), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("n"), col("c0"), col("cnorm"))
        .orderBy(col("vec_id"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
               WHERE embedding IS NOT NULL
                 AND len(embedding) = (SELECT len(embedding) FROM embeddings
                                       WHERE embedding IS NOT NULL
                                       ORDER BY vec_id LIMIT 1)),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) cid, v c
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT vec_id, v, cid FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           floor(list_reduce(list_prepend(0.0::DOUBLE,
                             [(e.v[i] - c.c[i]) * (e.v[i] - c.c[i]) for i in range(1, len(e.v) + 1)]),
                             (a, b) -> a + b) * 1000000 + 0.5)/1000000, c.cid) rn
                  FROM e CROSS JOIN c0 c) WHERE rn = 1),
         c1 AS (SELECT cid, list(m ORDER BY i) c FROM (
                  SELECT cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
                  FROM (SELECT cid, unnest(v) x, generate_subscripts(v, 1) i FROM a1)
                  GROUP BY cid, i) GROUP BY cid),
         a2 AS (SELECT vec_id, v, cid FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           floor(list_reduce(list_prepend(0.0::DOUBLE,
                             [(e.v[i] - c.c[i]) * (e.v[i] - c.c[i]) for i in range(1, len(e.v) + 1)]),
                             (a, b) -> a + b) * 1000000 + 0.5)/1000000, c.cid) rn
                  FROM e CROSS JOIN c1 c) WHERE rn = 1),
         c2 AS (SELECT cid, list(m ORDER BY i) c FROM (
                  SELECT cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
                  FROM (SELECT cid, unnest(v) x, generate_subscripts(v, 1) i FROM a2)
                  GROUP BY cid, i) GROUP BY cid),
         n2 AS (SELECT cid, count(*) n FROM a2 GROUP BY cid)
         SELECT a2.vec_id, a2.cid AS cluster, n2.n AS n,
                c2.c[1] AS c0,
                floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in c2.c]),
                  (a, b) -> a + b)) * 10000 + 0.5)/10000 AS cnorm
         FROM a2 JOIN n2 USING (cid) JOIN c2 USING (cid)
         ORDER BY vec_id"""),

    // One-pass covariance matrix (upper triangle) over the embeddings: tasks
    // accumulate d + d(d+1)/2 doubles; one merged buffer yields all 2080
    // cells — the d²× explode-and-shuffle never happens
    Query("q118_covariance", (s, d) => {
      t(s, d, "embeddings")
        .agg(Clustering.covarianceMatrix(col("embedding")).as("cov"))
        .select(explode(col("cov")).as("e"))
        .select(col("e._1").as("i"), col("e._2").as("j"),
          (floor(col("e._3") * 1000000 + 0.5) / 1000000).as("cov"))
        .orderBy(col("i"), col("j"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         x AS (SELECT vec_id, unnest(v) val, generate_subscripts(v, 1) i FROM e),
         p AS (SELECT a.i ai, b.i bj, sum(a.val * b.val) sxy,
                      sum(a.val) sx, sum(b.val) sy, count(*) n
               FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
               GROUP BY a.i, b.i)
         SELECT CAST(ai - 1 AS INT) i, CAST(bj - 1 AS INT) j,
                floor((sxy - sx * sy / n) / n * 1000000 + 0.5)/1000000 AS cov
         FROM p ORDER BY i, j"""),

    // Product quantization (2 subspaces × 4 codewords, 1 Lloyd round from
    // the 4 smallest-id seeds): per vector its two codes and the cosine
    // between the vector and its 2-byte reconstruction — the compression-
    // quality readout. Training is one corpus pass (all subspaces in one
    // groupBy); encode is expression-only
    Query("q178_pq_encode", (s, d) => {
      val e  = t(s, d, "embeddings")
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      val recon = Clustering.pqReconstruct(col("codes"), cb)
      Clustering.pqEncode(
          e.filter(col("embedding").isNotNull && size(col("embedding")) === cb.dim),
          "embedding", cb)
        .select(col("vec_id"),
          element_at(col("codes"), 1).as("code0"),
          element_at(col("codes"), 2).as("code1"),
          Summaries.r4(Similarity.dot(col("embedding"), recon) /
            (Similarity.norm(col("embedding")) * Similarity.norm(recon))).as("recon_cos"))
        .orderBy(col("vec_id"))
    },
      s"""${pqTrainCtesSql()},
         r AS (SELECT e2.vec_id, e2.v, k0.cid code0, k1.cid code1, list_concat(cc0.c, cc1.c) rv
               FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                       JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid)
         SELECT vec_id, code0, code1,
                floor(list_reduce(list_prepend(0.0::DOUBLE, [v[i] * rv[i] for i in range(1, len(v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in rv]), (a, b) -> a + b)))
                      * 10000 + 0.5)/10000 AS recon_cos
         FROM r ORDER BY vec_id"""),

    // Asymmetric-distance (ADC) top-3 over the PQ codes: probes stay exact,
    // the corpus is scored purely from its 2-byte codes via literal-map
    // codeword lookups — candidates never decompress in the join. Ranking
    // is the bounded TopKPairs aggregate (k per group pre-exchange), not a
    // window sort. (At corpus scale the candidate set composes with IVF
    // cells — pqAdcDist scaladoc; here the oracle-checkable flat sweep.)
    // Training stays FULL-corpus (linear); the flat sweep itself is
    // O(probes·n) by construction, so — like q24/q25 — it is bounded to
    // the canonical `vec_id < 2000` slice (no-op at sf0.01/sf0.1,
    // replica-0-only at suite scale; the ×100 curve measured the unbounded
    // form at 9.7× for 3.3× rows). q181/q183 are the cell-pruned forms
    // that carry the full corpus.
    Query("q179_pq_adc", (s, d) => {
      val e = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      val clean  = e.filter(size(col("embedding")) === cb.dim)
      val sliced = clean.filter(col("vec_id") < 2000)
      val enc    = Clustering.pqEncode(sliced, "embedding", cb)
        .select(col("vec_id").as("neighbor_id"), col("codes"))
      val probes = sliced.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val cand = enc.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          (floor(Clustering.pqAdcDist(col("pv"), col("codes"), cb) * 1000000 + 0.5)
            / 1000000).as("d6"))
      Similarity.rankTopK(
          cand.select(col("probe_id"), col("neighbor_id"), (-col("d6")).as("sim")), 3)
        .select(col("probe_id"), col("neighbor_id"), (-col("sim")).as("adc_d6"), col("rank"))
        .orderBy(col("probe_id"), col("rank"))
    },
      s"""${pqTrainCtesSql()},
         enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
                 FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                         JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
         cand AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
                    floor((list_reduce(list_prepend(0.0::DOUBLE,
                             [(p.v0[i] - c.w0[i]) * (p.v0[i] - c.w0[i]) for i in range(1, len(p.v0) + 1)]), (a, b) -> a + b)
                           + list_reduce(list_prepend(0.0::DOUBLE,
                             [(p.v1[i] - c.w1[i]) * (p.v1[i] - c.w1[i]) for i in range(1, len(p.v1) + 1)]), (a, b) -> a + b))
                          * 1000000 + 0.5)/1000000 d6
                  FROM e2 p JOIN enc c ON p.vec_id % 25 = 0 AND p.vec_id <> c.vec_id
                   AND p.vec_id < 2000 AND c.vec_id < 2000)
         SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
         WHERE rn <= 3 ORDER BY probe_id, rank"""),

    // IVF-PQ: cell-pruned candidates scored straight from 2-byte PQ codes
    // — the FAISS-style index layout where the stored side of the join
    // carries codes, not vectors. Cells sized by ivfCellsFor(n, nProbe)
    // (√(n·nProbe) — the O(n^1.5) balance point): the fixed-8-cell form
    // this replaces was the three-point suite probe's one real catch,
    // 281 s at 30× (34× the 10× time — candidates O(n²·nProbe/8)); the
    // tuned geometry returns it to the family curve.
    Query("q181_ivfpq", (s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    },
      s"""${pqTrainCtesSql()},
         params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
           FROM embeddings),
         ivfseeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, s_id AS cell, rn FROM (
             SELECT e2.vec_id, e2.v, ivfseeds.s_id,
                    row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e2.v[i] * ivfseeds.sv[i] for i in range(1, len(e2.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e2.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in ivfseeds.sv]), (a, b) -> a + b))) DESC,
                      ivfseeds.s_id ASC) rn
             FROM e2, ivfseeds)
           WHERE rn <= 6),
         enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
                 FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                         JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
         cand AS (SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                    floor((list_reduce(list_prepend(0.0::DOUBLE,
                             [(a.v[i] - w.w0[i]) * (a.v[i] - w.w0[i]) for i in range(1, 33)]), (x, y) -> x + y)
                           + list_reduce(list_prepend(0.0::DOUBLE,
                             [(a.v[i + 32] - w.w1[i]) * (a.v[i + 32] - w.w1[i]) for i in range(1, 33)]), (x, y) -> x + y))
                          * 1000000 + 0.5)/1000000 d6
                  FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id
                       JOIN enc w ON w.vec_id = b.vec_id)
         SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
         WHERE rn <= 3 ORDER BY probe_id, rank"""),

    // Persisted IVF-PQ index: one-time build of the frozen model (cells +
    // codebooks) and the bucketed code table, then a probe batch searches
    // with the STORED model — the corpus is never re-scanned or re-encoded
    // and its side of the join carries 2-byte codes, not vectors. The
    // frozen cell count derives from the corpus at BUILD time
    // (ivfCellsFor — the occupancy-constant contract the in-memory q181
    // carries), and search replays it from the stored model.
    Query("q183_pq_index_search", (s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q183_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4)
      }
      Similarity.searchPqIndex(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }, pqIndexSearchOracle()),

    // q183's index after DELETION: stored vectors (vec_id % 9 == 0, above
    // a fixed floor) tombstoned out of the search with no `_idx` rewrite
    // and no model change — the frozen cells/codebooks still route the
    // survivors identically (a deleted id that was a seed only loses its
    // STORED row; the model keeps routing by it), so the oracle is q183's
    // replay minus the deleted ids on the stored side only
    Query("q192_pq_index_delete", (s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q192_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4)
        Similarity.deleteFromPqIndex(s,
          e.filter(col("vec_id") % 9 === 0 && col("vec_id") >= 8).select(col("vec_id")),
          "vec_id", prefix)
      }
      Similarity.searchPqIndex(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6)
        .orderBy(col("probe_id"), col("rank"))
    },
      // q183's replay with the deleted ids excluded from the STORED side
      // only — the frozen model still routes probes and survivors identically
      pqIndexSearchOracle("NOT (b.vec_id % 9 = 0 AND b.vec_id >= 8)")),

    // The FAISS-style REFINE step over the persisted index: q183's
    // code-scored search widened to the top-12 ADC candidates per probe,
    // then exactly those 12 re-ranked on TRUE cosine against the stored
    // `_vecs` refine store (writePqIndex(storeVectors = true)) — the
    // recall-recovery move when the quantized ADC estimate misorders the
    // frontier. The _vecs scan reads only the probed cells (IN-filter
    // pushdown, PlanSpec-pinned); the oracle replays the same two-phase
    // rank over the training CTEs.
    Query("q209_pq_refine", (s, d) => {
      val e = t(s, d, "embeddings")
      val prefix = s"q209_pq_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx")) {
        val n  = e.filter(col("embedding").isNotNull).count()
        val cb = Clustering.pqTrain(e, "vec_id", "embedding", nSub = 2, k = 4, iters = 1)
        Similarity.writePqIndex(e, "vec_id", "embedding", cb,
          nCells = Similarity.ivfCellsFor(n, nProbe = 6), prefix, buckets = 4,
          storeVectors = true)
      }
      Similarity.searchPqIndexRefined(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", prefix, k = 3, nProbe = 6, refineR = 12)
        .orderBy(col("probe_id"), col("rank"))
    }, pqRefineOracle(refineR = 12, k = 3)),

    // Supervised doc-quality model fit in-engine: logistic regression on
    // standardized (ln length, space-ratio) features, label = lang == 'en',
    // 3 full-batch GD steps — each step ONE partial-aggregated corpus pass
    // (d+1 sums cross the exchange, never rows). Output: the scored sample
    // with the final weights, every float rounded for cross-engine replay
    Query("q180_logreg_quality", (s, d) => {
      val (docs, feats, y, wts) = qualityModel(s, d)
      val sc4 = Summaries.r4(Clustering.logisticScore(feats, wts))
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), sc4.as("score4"), (sc4 >= 0.5).cast("int").as("pred"),
          y.cast("int").as("is_en"),
          lit(wts(0)).as("w0"), lit(wts(1)).as("w1"), lit(wts(2)).as("w2"))
        .orderBy(col("doc_id"))
    },
      s"""${logregCtesSql()},
         sel AS (SELECT f.doc_id, f.y, 1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2))) sc,
                        g3.w0 w0, g3.w1 w1, g3.w2 w2
                 FROM f, g3 WHERE f.doc_id % 20 = 0)
         SELECT doc_id, floor(sc*10000+0.5)/10000 AS score4,
                (floor(sc*10000+0.5)/10000 >= 0.5)::INT AS pred,
                y::INT AS is_en, w0, w1, w2
         FROM sel ORDER BY doc_id"""),

    // Canonical-survivor selection: near-dup clusters (SimHash pair graph
    // → connected components) × the q180 quality model — per cluster keep
    // the highest-scoring member (ties → lowest id). THE curation
    // composition: dedup decides which docs are the same, the model
    // decides which copy survives
    Query("q184_canonical_survivors", (s, d) => {
      val (docs, feats, _, wts) = qualityModel(s, d)
      val scored = docs.select(col("doc_id"),
        Summaries.r4(Clustering.logisticScore(feats, wts)).as("s4"))
      val pairs = Text.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .join(scored, col("id") === col("doc_id"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("s4"), (-col("doc_id")).as("nid"))).as("best"))
        .select(col("comp"), col("n_members"),
          (-col("best.nid")).as("survivor_id"), col("best.s4").as("best_score4"))
        .orderBy(col("comp"))
    },
      s"""WITH RECURSIVE ${simhashCcCteBody()},
         ${logregCteBody()},
         comps AS (SELECT id, min(root) AS comp FROM walk GROUP BY id),
         scq AS (SELECT f.doc_id, floor(1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2)))*10000+0.5)/10000 s4
                 FROM f, g3),
         m AS (SELECT c.comp, c.id, scq.s4 FROM comps c JOIN scq ON scq.doc_id = c.id)
         SELECT comp, n_members, id AS survivor_id, s4 AS best_score4 FROM (
           SELECT comp, id, s4, count(*) OVER (PARTITION BY comp) AS n_members,
                  row_number() OVER (PARTITION BY comp ORDER BY s4 DESC, id) AS rn
           FROM m) WHERE rn = 1 ORDER BY comp"""),

    // Population-stability index per language vs the 'en' reference over
    // fixed-width length bins, Laplace-smoothed (+1 per bin) so the index
    // is defined on empty bins and integer-count deterministic — the
    // standard distribution-drift gate alongside the q136 KS statistic
    Query("q185_psi_drift", (s, d) => {
      val bins = s.range(0, 20).select(col("id").cast("int").as("bin"))
      val d0 = t(s, d, "documents")
        .select(col("lang"), least(floor(col("n_chars") / 100).cast("int"), lit(19)).as("bin"))
      val ref  = d0.filter(col("lang") === "en").groupBy(col("bin")).agg(count(lit(1)).as("rc"))
      val refT = ref.agg(sum(col("rc")).as("rn"))
      val rb = bins.join(ref, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("rc"), lit(0L)).as("rc"))
        .crossJoin(broadcast(refT))
      val oth  = d0.filter(col("lang") =!= "en")
      val qc   = oth.groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("qc"))
      val qt   = oth.groupBy(col("lang")).agg(count(lit(1)).as("qn"))
      val dense = qt.select(col("lang"), col("qn")).crossJoin(bins)
        .join(qc, Seq("lang", "bin"), "left")
        .select(col("lang"), col("qn"), col("bin"), coalesce(col("qc"), lit(0L)).as("qc"))
      val p = (col("rc") + 1).cast("double") / (col("rn") + 20)
      val q = (col("qc") + 1).cast("double") / (col("qn") + 20)
      dense.join(broadcast(rb), Seq("bin"))
        .select(col("lang"), col("qn"), ((p - q) * log(p / q)).as("term"))
        .groupBy(col("lang"), col("qn"))
        .agg(Summaries.r4(sum(col("term"))).as("psi4"))
        .select(col("lang"), col("psi4"), col("qn").as("n"))
        .orderBy(col("lang"))
    },
      """WITH b AS (SELECT unnest(range(0, 20)) AS bin),
         d AS (SELECT lang, least(CAST(floor(n_chars / 100) AS INT), 19) AS bin FROM documents),
         r AS (SELECT bin, count(*) rc FROM d WHERE lang = 'en' GROUP BY bin),
         rt AS (SELECT sum(rc) rn FROM r),
         rb AS (SELECT b.bin, coalesce(rc, 0) rc FROM b LEFT JOIN r USING (bin)),
         l AS (SELECT DISTINCT lang FROM d WHERE lang <> 'en'),
         q AS (SELECT lang, bin, count(*) qc FROM d WHERE lang <> 'en' GROUP BY lang, bin),
         qt AS (SELECT lang, count(*) qn FROM d WHERE lang <> 'en' GROUP BY lang),
         dense AS (SELECT l.lang, b.bin, coalesce(q.qc, 0) qc
                   FROM l CROSS JOIN b LEFT JOIN q ON q.lang = l.lang AND q.bin = b.bin),
         terms AS (SELECT dense.lang,
                     ((rb.rc + 1)::DOUBLE / (rt.rn + 20) - (dense.qc + 1)::DOUBLE / (qt.qn + 20))
                     * ln(((rb.rc + 1)::DOUBLE / (rt.rn + 20)) / ((dense.qc + 1)::DOUBLE / (qt.qn + 20))) AS term
                   FROM dense JOIN rb USING (bin) JOIN qt ON qt.lang = dense.lang, rt)
         SELECT lang, floor(sum(term)*10000+0.5)/10000 AS psi4, CAST(qn AS BIGINT) AS n
         FROM terms JOIN qt USING (lang) GROUP BY lang, qn ORDER BY lang"""),

    // Reliability diagram over the q180 model: fixed-width score bins,
    // per-bin predicted-vs-observed rate — the calibration report a
    // quality-filter rollout gates on before trusting the scores
    Query("q182_calibration", (s, d) => {
      val (docs, feats, y, wts) = qualityModel(s, d)
      val sc4 = Summaries.r4(Clustering.logisticScore(feats, wts))
      docs.select(least(floor(sc4 * 10).cast("int"), lit(9)).as("bin"),
          sc4.as("s4"), y.cast("int").as("yy"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("yy") === 1, 1)).as("n_pos"),
          Summaries.exactAvg(col("s4"), 4).as("avg_score"))
        .select(col("bin"), col("n"), col("n_pos"), col("avg_score"),
          Summaries.r4(col("n_pos").cast("double") / col("n")).as("pos_rate"))
        .orderBy(col("bin"))
    },
      s"""${logregCtesSql()},
         sc AS (SELECT least(CAST(floor(s4 * 10) AS INT), 9) bin, s4, y::INT yy
                FROM (SELECT f.y, floor(1.0/(1.0 + exp(-((g3.w0 + f.z1*g3.w1) + f.z2*g3.w2)))*10000+0.5)/10000 s4
                      FROM f, g3))
         SELECT bin, count(*) n, count(*) FILTER (WHERE yy = 1) n_pos,
                CAST(SUM(CAST(s4 AS DECIMAL(27,4))) AS DOUBLE) / count(s4) AS avg_score,
                floor(CAST(count(*) FILTER (WHERE yy = 1) AS DOUBLE) / count(*) * 10000 + 0.5)/10000 AS pos_rate
         FROM sc GROUP BY bin ORDER BY bin"""),

    // CDC between two TxTable versions (time travel's batch companion):
    // v1 = a narrowed orders snapshot, v2 = the next day's snapshot with
    // deterministic inserts (keys%7==0 arrive), deletes (keys%7==3 leave)
    // and updates (keys%5==0 repriced ×2). diff emits Delta-CDF-shaped
    // rows — both images per update — via ONE full-outer key join.
    Query("q186_txtable_cdc", (s, d) => {
      val (root, v1, v2) = cdcFixture(s, d)
      TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("change"))
    },
      // Replays the cdcFixture versions from the base table, then classifies
      // by VALUE comparison (like the engine's struct compare) — not by the
      // %5 reprice rule, so a price that doubles to itself would correctly
      // read as unchanged in both engines.
      s"""$cdcVersionsSql,
         pair AS (SELECT v1.o_orderkey,
                         v1.o_custkey b_ck, v1.o_orderstatus b_st, v1.o_totalprice b_pr,
                         v2.o_custkey a_ck, v2.o_orderstatus a_st, v2.o_totalprice a_pr
                  FROM v1 JOIN v2 USING (o_orderkey)),
         chg AS (SELECT * FROM pair
                 WHERE b_ck IS DISTINCT FROM a_ck OR b_st IS DISTINCT FROM a_st
                    OR b_pr IS DISTINCT FROM a_pr)
         SELECT v2.*, 'insert' AS change FROM v2
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
         UNION ALL
         SELECT v1.*, 'delete' FROM v1
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
         UNION ALL
         SELECT o_orderkey, b_ck, b_st, b_pr, 'update_pre' FROM chg
         UNION ALL
         SELECT o_orderkey, a_ck, a_st, a_pr, 'update_post' FROM chg
         ORDER BY o_orderkey, change"""),

    // Incremental view maintenance driven by the q186 change feed: the
    // per-status (sum, count) aggregate of v1 is updated with O(changes)
    // work — one signed aggregation over the CDC rows + one full-outer
    // join on 3 group keys — and must equal a FULL recompute of v2
    // bit-exactly (decimal carrier; the oracle IS that full recompute).
    Query("q187_incremental_agg", (s, d) => {
      val (root, v1, v2) = cdcFixture(s, d)
      val base = Summaries.sumCountAgg(TxTable.readAsOf(s, root, v1),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val cdc = TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
      Summaries.maintainSumCount(base, cdc, Seq("o_orderstatus"),
          col("o_totalprice"), "sum_price", "n_orders")
        .select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
      // Full recompute of the v2 snapshot — the maintained aggregate must
      // match it bit-exactly (decimal carrier on both sides).
      s"""$cdcVersionsSql
         SELECT o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*) AS n_orders
         FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // Chained maintenance across TWO increments — replace-diff (updates +
    // deletes + inserts) then append-diff (a second root whose after-side
    // snapshot spans two data dirs) — with the composed view equal to a
    // full recompute of the final state. The multi-increment composition
    // proof: maintenance error cannot accumulate because there is none.
    Query("q188_cdc_chain", (s, d) => {
      val (rootA, a1, a2) = cdcFixture(s, d)
      val (rootB, b1, b2) = cdcChainFixture(s, d)
      val base = Summaries.sumCountAgg(TxTable.readAsOf(s, rootA, a1),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val m1 = Summaries.maintainSumCount(base,
        TxTable.diff(s, rootA, a1, a2, Seq("o_orderkey")),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      val m2 = Summaries.maintainSumCount(m1,
        TxTable.diff(s, rootB, b1, b2, Seq("o_orderkey")),
        Seq("o_orderstatus"), col("o_totalprice"), "sum_price", "n_orders")
      m2.select(col("o_orderstatus"),
          col("sum_price").cast("double").as("sum_price"), col("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
      // Full recompute of the final chained state: v2 plus the appended
      // keys%7==3 increment.
      s"""$cdcVersionsSql,
         v3 AS (SELECT * FROM v2
                UNION ALL SELECT * FROM base WHERE o_orderkey % 7 = 3)
         SELECT o_orderstatus,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
                count(*) AS n_orders
         FROM v3 GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // CDC across a WIDENED retention window ([[TxTable.setRetention]](3)):
    // v1 → v3 spans TWO intermediate replaces — the weekend-backlog replay
    // that the default keep-2 window refuses loudly (TxTableSpec pins the
    // refusal; this query certifies the widened read). ×0.5 reprice is
    // fp-exact like q186's ×2, so the oracle replays images bit-identically.
    Query("q189_cdc_retention", (s, d) => {
      val (root, v1, v3) = cdcRetentionFixture(s, d)
      TxTable.diff(s, root, v1, v3, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("change"))
    },
      // The v1 → v3 window diff replayed directly from the snapshot
      // definitions (the intermediate v2 replace is irrelevant to the
      // endpoint diff — what the retention window buys is that v1 is still
      // READABLE after two later replaces).
      s"""$cdcVersionsSql,
         v3 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 0.5
                            ELSE o_totalprice END AS o_totalprice
                FROM base WHERE o_orderkey % 7 <> 5),
         pair AS (SELECT v1.o_orderkey,
                         v1.o_custkey b_ck, v1.o_orderstatus b_st, v1.o_totalprice b_pr,
                         v3.o_custkey a_ck, v3.o_orderstatus a_st, v3.o_totalprice a_pr
                  FROM v1 JOIN v3 USING (o_orderkey)),
         chg AS (SELECT * FROM pair
                 WHERE b_ck IS DISTINCT FROM a_ck OR b_st IS DISTINCT FROM a_st
                    OR b_pr IS DISTINCT FROM a_pr)
         SELECT v3.*, 'insert' AS change FROM v3
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
         UNION ALL
         SELECT v1.*, 'delete' FROM v1
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v3)
         UNION ALL
         SELECT o_orderkey, b_ck, b_st, b_pr, 'update_pre' FROM chg
         UNION ALL
         SELECT o_orderkey, a_ck, a_st, a_pr, 'update_post' FROM chg
         ORDER BY o_orderkey, change"""),

    // Converge-mode integer PageRank on a DAG (k → k DIV 100 — the
    // centesimal digit chain, depth = ⌈digits(max key)/2⌉): rounds run to the EXACT integer-mass
    // fixpoint with frontier propagation — on a DAG nodes stabilize level
    // by level, so the changed set collapses 10× per round and the late
    // rounds exchange only the still-moving tail. The oracle unrolls a
    // FIXED 9 rounds: every round past the fixpoint is the identity, so
    // the unrolled table equals the converged one whenever the fixpoint
    // lands at or before round 9 (depth+2 ≈ 5 at sf0.01, ≈ 6 at sf0.1 —
    // and the ceiling guarantee is the loud throw, never a silent wrong
    // answer). Scale story: rounds grow with log100(max key), not with rows.
    Query("q198_pagerank_converge", (s, d) => {
      val e = t(s, d, "orders").filter(col("o_orderkey") >= 1)
        .select(col("o_orderkey").as("a"), expr("o_orderkey DIV 100").as("b"))
      Graph.pageRankIntWithRounds(e, "a", "b", iterations = 100, converge = true)._1
    }, {
      // Unrolls a FIXED 9 rounds of the digit-chain DAG PageRank: rounds
      // past the integer-mass fixpoint are the identity, so this equals the
      // engine's converge-mode result whenever convergence lands by round 9
      // (depth(max o_orderkey)+2 ≈ 5 at sf0.01). A too-low unroll fails the
      // hash loudly; it can never pass a non-converged answer.
      val its = (1 to 9).map { k =>
        val prev = if (k == 1) "m0" else s"it${k - 1}"
        s"""it$k AS (SELECT n.v, 150000 + COALESCE(i.inc, 0) AS m
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS v, sum((r.m * 85) // (100 * g.d)) AS inc
                   FROM edges e JOIN $prev r ON e.src = r.v JOIN deg g ON e.src = g.src
                   GROUP BY e.dst) i ON n.v = i.v)"""
      }.mkString(",\n         ")
      s"""WITH edges AS (SELECT o_orderkey AS src, o_orderkey // 100 AS dst
                         FROM orders WHERE o_orderkey >= 1),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         m0 AS (SELECT v, CAST(1000000 AS BIGINT) AS m FROM nodes),
         $its
         SELECT v, CAST(m AS BIGINT) AS rank_micro
         FROM it9 ORDER BY rank_micro DESC, v"""
    }),

    // Converge-mode LPA on deterministic cliques ((nation, custkey DIV 100)
    // buckets of >= 3 customers; pairs within a bucket): synchronous LPA on
    // any clique of size >= 3 fixpoints at round 3 (round 1: everyone
    // adopts the min — the min node the second-min; round 2: all min;
    // round 3: identity, detected). The oracle unrolls 4 fixed rounds —
    // identity past the fixpoint, same contract as q198. Size >= 3 matters:
    // a 2-clique oscillates under synchronous LPA and converge would throw.
    Query("q199_lpa_converge", (s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("n"),
          expr("c_custkey DIV 100").as("bkt"))
      val grp = c.groupBy(col("n"), col("bkt")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3)
      val cc = c.join(grp, Seq("n", "bkt"), "left_semi")
      val pairs = cc.as("x").join(cc.as("y"),
          col("x.n") === col("y.n") && col("x.bkt") === col("y.bkt") &&
            col("x.k") < col("y.k"))
        .select(col("x.k").as("a"), col("y.k").as("b"))
      Graph.labelPropagation(pairs, "a", "b", iterations = 10, converge = true)
        .orderBy(col("label"), col("v"))
    }, {
      // Unrolls 4 fixed LPA rounds over the clique fixture: synchronous LPA
      // on a clique of size >= 3 fixpoints at round 3, and identity rounds
      // past the fixpoint keep the unroll equal to the converged labels.
      val rounds = (1 to 4).map { k =>
        val prev = if (k == 1) "l0" else s"l${k - 1}"
        s"""l$k AS (SELECT dst AS v, label FROM (
                  SELECT e.dst, l.label, count(*) AS cnt,
                         row_number() OVER (PARTITION BY e.dst
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                  FROM edges e JOIN $prev l ON e.src = l.v GROUP BY e.dst, l.label)
                WHERE rn = 1)"""
      }.mkString(",\n         ")
      s"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS n, c_custkey // 100 AS bkt
                     FROM customer),
         g AS (SELECT n, bkt FROM c GROUP BY n, bkt HAVING count(*) >= 3),
         cc AS (SELECT c.* FROM c JOIN g USING (n, bkt)),
         pairs AS (SELECT x.k AS a, y.k AS b FROM cc x JOIN cc y
                   ON x.n = y.n AND x.bkt = y.bkt AND x.k < y.k),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
         $rounds
         SELECT v, label FROM l4 ORDER BY label, v"""
    }),

    // Additive schema evolution, snapshot read: v1 commits the narrow
    // orders slice, v2 APPENDS rows carrying a new o_flag column — the
    // evolved read NULL-fills v1's files under the v2 schema (the
    // reference's ragged union-by-name, app.py:325, as a lakehouse commit
    // boundary). Grouping on the evolved column exercises the NULL-fill:
    // the NULL-flag group is exactly the pre-evolution rows.
    Query("q200_schema_evolution", (s, d) => {
      val (root, _, _) = evoFixture(s, d)
      TxTable.read(s, root)
        .groupBy(col("o_orderstatus"), col("o_flag"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"), col("o_flag"))
    },
      // Replays the evoFixture union: v1 (no flag, NULL-filled) + the
      // appended flagged rows — the evolved snapshot is exactly the ragged
      // union-by-name of the two commits.
      s"""$evoVersionsSql,
         t AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         SELECT o_orderstatus, o_flag, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM t GROUP BY o_orderstatus, o_flag
         ORDER BY o_orderstatus, o_flag NULLS FIRST"""),

    // CDC across the evolution boundary: diff(v1, v2) NULL-fills the
    // before-images' missing o_flag, so surviving rows (bit-equal after
    // alignment) emit NOTHING — no spurious updates from the evolution
    // itself — and the appended rows classify as inserts carrying the new
    // column. Aggregated by (change, status) with the flag sum proving the
    // inserts' flag values ride the feed.
    Query("q201_evolution_diff", (s, d) => {
      val (root, v1, v2) = evoFixture(s, d)
      TxTable.diff(s, root, v1, v2, Seq("o_orderkey"))
        .groupBy(col("change"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_flag")).as("sum_flag"),
          exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("change"), col("o_orderstatus"))
    },
      // diff(v1, v2) across the evolution boundary: the append introduces
      // ONLY inserts (surviving rows NULL-fill to bit-equal images — no
      // spurious updates), so the aggregated feed is the flagged rows alone.
      s"""$evoVersionsSql
         SELECT 'insert' AS change, o_orderstatus, count(*) AS n,
                CAST(SUM(o_flag) AS BIGINT) AS sum_flag,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
         FROM v2 GROUP BY o_orderstatus
         ORDER BY change, o_orderstatus"""),

    // Multimodal near-dup: REAL in-plan WAV synthesis and byte-level PCM
    // decode (the q56 machinery), perceptual dHash over the decoded lane
    // embedding, Hamming-banded LSH pairs (pigeonhole recall 1.0 — the
    // oracle replays the hash formula and filters ALL pairs, which the
    // banded plan must reproduce exactly). Docs come in groups of 4 on one
    // base signal: members r = 0,1,2 differ by a constant sample offset —
    // gradient-sign-invariant, so they dHash (near-)identically — while
    // r = 3 is an unrelated signal. Sample counts are multiples of the 32
    // lanes so a constant offset shifts equal-count lanes equally.
    Query("q202_audio_neardup", (s, d) => {
      // canonical doc_id < 2000 slice (the q24 convention; the whole table
      // at sf0.01): what scales is the shared Hamming pipeline, measured
      // through ScaleBench's audio families — the slice bounds the in-plan
      // WAV synthesis, which is fixture cost, not operator cost (and is
      // session-memoized: see memoPayloads/wavDocs2k)
      Multimodal.audioNearDupPairs(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 32, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Replays the WAV payloads' generative formula (lane sums straight
      // from the sample arithmetic — the engine instead decodes the actual
      // bytes), builds the same dHash, and filters ALL pairs by Hamming
      // distance: the banded-LSH plan has pigeonhole recall 1.0, so it must
      // reproduce the quadratic filter exactly.
      s"""WITH ${audioHashCtesSql("doc_id < 2000")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b"""),

    // The q173 boilerplate flood replayed in the MULTIMODAL lane: 300
    // byte-identical clones of doc 0's WAV land a 301-member bucket in
    // every Hamming band, so the unbounded band join would be quadratic in
    // the flood; `maxBucket = 16` switches those buckets to star pairing
    // (every clone against rep 0 — O(flood) rows), while cold buckets keep
    // exact all-pairs semantics. The oracle replays the cap: same band
    // keys, same occ threshold, same min-id representative.
    Query("q206_audio_flood", (s, d) => {
      // the memoized q202 slice, narrowed to its doc_id < 200 flood base
      val base = wavDocs2k(s, d).filter(col("doc_id") < 200)
      val p0 = base.filter(col("doc_id") === 0).select(col("payload").as("p0"))
      val clones = s.range(300).crossJoin(p0)
        .select((col("id") + 1000000L).as("doc_id"), col("p0").as("payload"))
      Multimodal.audioNearDupPairs(base.unionByName(clones),
          "doc_id", "payload", lanes = 32, maxHamming = 2, maxBucket = 16)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Capped audio flood: the dHash of doc 0 repeated 300×, then the
      // hot-bucket star bound replayed over the SAME band keys the engine
      // uses (31 bits → bands of 11/11/9 bits): buckets above 16 members
      // pair everyone with the bucket's min id only; cold buckets keep
      // exact all-pairs. DISTINCT over the union mirrors the engine's
      // capped-branch dedup; the Hamming verify then reproduces the
      // engine's map-side filter.
      s"""WITH ${audioHashCtesSql("doc_id < 200")},
         allh AS (
           SELECT doc_id, h FROM hx
           UNION ALL
           SELECT 1000000 + i AS doc_id, (SELECT h FROM hx WHERE doc_id = 0) AS h
           FROM range(300) t(i)),
         ${audioBandCtesSql},
         occ AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
                 FROM ex GROUP BY band, key),
         coldex AS (
           SELECT e.doc_id, e.h, e.band, e.key
           FROM ex e JOIN occ o ON e.band = o.band AND e.key = o.key AND o.n <= 16),
         cand AS (
           SELECT DISTINCT a, b, ha, hb FROM (
             SELECT x.doc_id AS a, y.doc_id AS b, x.h AS ha, y.h AS hb
             FROM coldex x JOIN coldex y
               ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
             UNION ALL
             SELECT o.rep AS a, e.doc_id AS b, r.h AS ha, e.h AS hb
             FROM ex e JOIN occ o ON e.band = o.band AND e.key = o.key
                       JOIN allh r ON r.doc_id = o.rep
             WHERE o.n > 16 AND e.doc_id <> o.rep))
         SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= 2
         ORDER BY a, b"""),

    // The maxBucket PREFLIGHT for the audio lane (q193's twin): Hamming
    // band-bucket occupancy over the SAME (band, key) buckets the q202
    // pair join uses — the measurement that decides whether the
    // (deliberately default-off) hot-bucket cap must be set before
    // audioNearDupPairs runs at a new corpus scale.
    // Bounded to the canonical `doc_id < 2000` slice (the q24 convention:
    // the whole table at sf0.01, constant-size at larger SFs) — the
    // preflight's cost story at scale is the text twin's (q193) plus the
    // decode, both already measured; the fixture synthesis is what this
    // slice bounds.
    Query("q207_audio_occupancy", (s, d) => {
      Multimodal.audioBandOccupancy(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 32, maxHamming = 2)
        .orderBy(col("occ"))
    },
      // The same (band, key) buckets the q202 pair join uses, folded to an
      // occupancy histogram (q193's construction — occ·(occ−1) is even, so
      // the /2 is exact in both engines).
      s"""WITH ${audioHashCtesSql("doc_id < 2000")},
         allh AS (SELECT doc_id, h FROM hx),
         ${audioBandCtesSql},
         buck AS (SELECT band, key, count(*) AS occ FROM ex GROUP BY band, key)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ"""),

    // IMAGE perceptual near-dup (q202's construction on the raster lane):
    // in-plan synthesis of complete VALID PNGs (stored-deflate blocks,
    // adler32 via prefix sums, chunk CRC32 via a table-driven aggregate —
    // all in the plan), REAL pixel decode (PngGrayCells: inflate + the
    // five scanline filters), dHash over the 8x8 luminance grid, and the
    // shared Hamming-banded pipeline. Docs in groups of 4: r = 0,1,2 are
    // one base image + uniform brightness offset (dHash-identical), r = 3
    // unrelated; the oracle replays the pixel formula and filters ALL
    // pairs, which the banded plan (pigeonhole recall 1.0) must reproduce.
    // The GIF lane of q208: in-plan synthesis of complete valid GIF89a
    // files — 128-gray global palette, REAL LZW bitstream kept 8-bit-wide
    // (a clear code every 126 pixels holds the decoder's dictionary under
    // the 256-entry width bump, so every code is one byte — the classic
    // "uncompressed GIF" device, which makes the stream expressible as a
    // plain byte concat) — decoded by the full variable-width LZW decoder
    // (GifGrayCells), hashed and banded by the same shared pipeline.
    // Groups of 4 docs: r = 0,1,2 share a base raster + uniform palette-
    // index offset (palette entry i is gray 2i, so +r is a uniform
    // brightness shift — dHash-invariant), r = 3 unrelated. Same doc_id
    // < 1000 pixel-family slice as q208 (whole table at sf0.01).
    Query("q211_gif_neardup", (s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "gif1k", gifPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Replays the GIF payloads' palette-index formula (the engine instead
      // walks the container and LZW-decodes the actual bitstream): palette
      // entry i is gray 2i, so luma = 1000·(2·idx); same 8x8 grid dHash and
      // all-pairs Hamming filter as q208.
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE doc_id < 1000),
         s AS (SELECT doc_id, g, r, unnest(range(256)) AS p FROM d),
         v AS (SELECT doc_id,
                      ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
                      CASE WHEN r = 3
                           THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (p * p + 31)) % 65537 * 2654435761 % 65537) % 122
                           ELSE (((((g % 65536) * (g % 65536) * 131 + 7) * (p * p * 17 + p + 31)) % 65537 * 2654435761 % 65537) % 122) + r
                      END AS idx
               FROM s),
         cells AS (SELECT doc_id, cell, SUM(2000 * idx) AS ls FROM v GROUP BY doc_id, cell),
         hx AS (SELECT a.doc_id,
                       CAST(SUM(CASE WHEN b.ls > a.ls
                                     THEN (1::BIGINT << ((a.cell // 8) * 7 + (a.cell % 8)))
                                     ELSE 0 END) AS BIGINT) AS h
                FROM cells a JOIN cells b
                  ON a.doc_id = b.doc_id AND b.cell = a.cell + 1 AND a.cell % 8 < 7
                GROUP BY a.doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b"""),

    // Incremental multimodal dedup against a PERSISTED dHash index: the
    // corpus (r = 0, 1 of every group) decodes and indexes ONCE
    // (session-memoized build, the q183 pattern); the batch (r = 2, 3)
    // probes the bucketed (band, key) table — r = 2 clips are uniform
    // offsets of stored r = 0/1 signals (hamming 0, dropped), r = 3 are
    // unrelated (kept, minus any accidental ≤ 2-bit match the oracle's
    // quadratic replay also sees). Pigeonhole recall 1.0 makes the banded
    // probe ≡ the oracle's NOT EXISTS filter.
    Query("q213_audio_index_dedup", (s, d) => {
      val all = wavDocs2k(s, d)
      val prefix = s"q213_dh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeDHashIndex(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", lanes = 32, maxHamming = 2, prefix, buckets = 4)
      Multimodal.audioDedupAgainstIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", lanes = 32, maxHamming = 2, prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      // Replays the split + the quadratic Hamming filter over the
      // generative-formula hashes: a batch clip survives iff NO stored clip
      // is within 2 bits (the banded probe has pigeonhole recall 1.0).
      s"""WITH ${audioHashCtesSql("doc_id < 2000")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 2)
         ORDER BY b.doc_id"""),

    // q213's lifecycle at CORPUS-DERIVED geometry, closing the round-16
    // verdict's routing gap: the 32-lane default was safe for the pair
    // join (opt-in per call) but DURABLE in a persisted index — an index
    // written at the default on a 10⁶+-clip corpus bakes in the quadratic
    // knee q214's rule exists to prevent. writeDHashIndexDerived counts
    // the corpus once at write time, derives lanes via dHashLanesFor
    // (maxHamming 3 / targetBucket 1 push the derivation above the
    // 32-lane floor at test scale: 250 corpus clips → 33 lanes at sf0.01),
    // and records the geometry in the index's _meta sidecar;
    // audioDedupAgainstStoredIndex probes with the SIDECAR's geometry —
    // no call-site lane constant anywhere. The oracle replays the
    // derivation itself in SQL (the q214 device) over the corpus count,
    // then the quadratic NOT-EXISTS filter — a drift in either the rule
    // or the sidecar round-trip fails the hash loudly.
    Query("q220_audio_index_derived", (s, d) => {
      val all = wavDocs2k(s, d)
      val prefix = s"q220_dh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeDHashIndexDerived(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", maxHamming = 3, tablePrefix = prefix,
          buckets = 4, targetBucket = 1L)
      Multimodal.audioDedupAgainstStoredIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, {
      // q213's split replayed at DERIVED geometry: the lane derivation runs
      // in SQL over the CORPUS half's count (the q214 device — exact
      // integer shift, no float log2), then the quadratic NOT-EXISTS filter
      // at the query's maxHamming 3. A drift in dHashLanesFor OR in the
      // _meta sidecar round-trip changes the hashes and fails loudly.
      val geo =
        """nn AS (SELECT count(*) AS n FROM documents
                  WHERE doc_id < 2000 AND doc_id % 4 <= 1),
          ww AS (SELECT MIN(t.w) AS w FROM range(1, 62) t(w), nn
                 WHERE (1::BIGINT << t.w) >= nn.n),
          geo AS (SELECT LEAST(61, GREATEST(32, 1 + 4 * w)) AS lanes FROM ww),"""
      s"""WITH $geo
         ${audioHashCtesSql("doc_id < 2000", "SELECT lanes FROM geo")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 3)
         ORDER BY b.doc_id"""
    }),

    // MULTI-WORD dHash past the single-long boundary (SCALING.md's design
    // note, implemented): 101 lanes → 100 gradient bits in two 60-bit
    // words, through the same Hamming-banded pipeline — at maxHamming 3
    // the 4 bands are 25 bits wide, and band 2 ([50, 75)) STRADDLES the
    // word boundary, exercising the two-word key stitch in the oracle
    // gate, not just a spec. The oracle replays the hash as two explicit
    // words over the shared generative lane CTEs and runs the quadratic
    // two-popcount filter — banded recall 1.0 must reproduce it exactly.
    // The lane count is pinned (not derived): dHashLanesForWide only
    // leaves the [32, 61] range at corpus sizes no oracle-scale fixture
    // reaches, and what q221 certifies is the wide ENGINE, whose geometry
    // inputs are literals either way.
    Query("q221_audio_neardup_wide", (s, d) => {
      Multimodal.audioNearDupPairsWide(wavDocs2k(s, d), "doc_id", "payload",
          lanes = 101, maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Replays the TWO-WORD dHash: gradient bit b lands in word b/60 at
      // position b%60, and the Hamming distance is the sum of the two
      // per-word popcounts. Reuses the shared generative lane CTEs at 101
      // lanes; the single-word hx CTE in that block is never referenced, so
      // DuckDB neither executes it nor evaluates its (would-overflow)
      // 1<<lane shift. The engine's banded plan — including the band that
      // straddles the word boundary — must reproduce this quadratic filter
      // bit-for-bit (pigeonhole recall 1.0).
      s"""WITH ${audioHashCtesSql("doc_id < 2000", "101")},
         hx2 AS (SELECT a.doc_id,
                  CAST(SUM(CASE WHEN b.ls > a.ls AND a.lane < 60
                                THEN (1::BIGINT << a.lane) ELSE 0 END) AS BIGINT) AS h0,
                  CAST(SUM(CASE WHEN b.ls > a.ls AND a.lane >= 60
                                THEN (1::BIGINT << (a.lane - 60)) ELSE 0 END) AS BIGINT) AS h1
                 FROM lanes a JOIN lanes b
                   ON a.doc_id = b.doc_id AND b.lane = a.lane + 1
                 GROUP BY a.doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) AS INT) AS hamming
         FROM hx2 x JOIN hx2 y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) <= 3
         ORDER BY a, b"""),

    // VIDEO container metadata: in-plan synthesis of minimal valid
    // ISO-BMFF files (exact box sizes, mvhd v0, tkhd v0 16.16 dims),
    // parsed by the real box walker (Mp4Info — the duration/resolution
    // gate of a video-curation pipeline, reading header boxes only). The
    // oracle replays the generative field formulas.
    Query("q212_mp4_info", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), Multimodal.mp4Info(mp4PayloadCol).as("m"))
        .select(col("doc_id"),
          col("m.timescale").as("timescale"), col("m.duration").as("duration"),
          col("m.width").as("width"), col("m.height").as("height"),
          (col("m.duration") / col("m.timescale")).cast("long").as("dur_s"))
        .orderBy(col("doc_id"))
    },
      // Replays the mp4 synthesis field formulas (the engine instead walks
      // the actual box structure and parses mvhd/tkhd). dur_s: both engines
      // truncate the positive quotient (CAST of an exact small double vs //).
      """SELECT doc_id,
                CAST(1000 AS INT) AS timescale,
                CAST((doc_id % 100000) * 40 + 40 AS BIGINT) AS duration,
                CAST((doc_id * 7 + 13) % 1920 + 16 AS INT) AS width,
                CAST((doc_id * 11 + 7) % 1080 + 16 AS INT) AS height,
                CAST(((doc_id % 100000) * 40 + 40) // 1000 AS BIGINT) AS dur_s
         FROM documents ORDER BY doc_id"""),

    // Bounded to the `doc_id < 1000` pixel-family slice (still the whole
    // table at sf0.01, so the oracle gate is unchanged — tighter than the
    // q24 convention because per-doc pixel synthesis + decode is the
    // suite's most expensive fixture): what scales is the shared Hamming
    // pipeline — measured through the audio lane and the text LSH
    // families — while the in-plan PNG synthesis is fixture cost.
    Query("q208_image_neardup", (s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "png1k", pngPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Replays the PNG payloads' generative PIXEL formula (the engine
      // instead decodes the actual bytes: chunk walk, inflate, filter
      // reversal), folds to the same 8x8 luminance-grid dHash (bit
      // row*7+col iff the right cell outweighs the left), and filters ALL
      // pairs by Hamming distance — the banded plan must reproduce the
      // quadratic filter exactly (pigeonhole recall 1.0).
      s"""WITH ${pngHashCtesSql("doc_id < 1000")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b"""),

    // q202 at CORPUS-DERIVED geometry: lanes from dHashLanesFor(n) — the
    // annPlanesFor-style occupancy-constant rule that widens band keys
    // with the corpus instead of riding the fixed 32-lane default into
    // its ~10^6-clip quadratic knee (SCALING.md). The rule floors at the
    // default 32 (it only ever WIDENS the hash), so (maxHamming 3,
    // targetBucket 1) drives the derivation ABOVE the floor at test
    // scale — 500 docs → 37 lanes (4 bands × 9-bit width), the sf0.1
    // slice → 45 — certifying the arithmetic, not a constant. The
    // count() is the same one-row sizing probe q26/q58 make. The oracle
    // replays the derived value verbatim — a rule drift fails the hash.
    Query("q214_audio_neardup_derived", (s, d) => {
      val src = wavDocs2k(s, d)
      val lanes = Multimodal.dHashLanesFor(src.count(), maxHamming = 3, targetBucket = 1)
      Multimodal.audioNearDupPairs(src, "doc_id", "payload",
          lanes = lanes, maxHamming = 3)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    }, {
      // Replays the derived-geometry audio dHash with the derivation ITSELF
      // in SQL — lanes = min(61, max(32, 1 + 4·w)) where w is the exact
      // smallest shift with 2^w ≥ count(*), the same integer arithmetic
      // dHashLanesFor runs (no float log2 on either side, so power-of-two
      // counts cannot diverge). SF-independent like every other oracle: at
      // the sf0.01 slice (500 docs) this is 37 lanes; a rule drift at ANY
      // scale fails the hash loudly. Verified at the query's maxHamming = 3.
      val geo =
        """nn AS (SELECT count(*) AS n FROM documents WHERE doc_id < 2000),
          ww AS (SELECT MIN(t.w) AS w FROM range(1, 62) t(w), nn
                 WHERE (1::BIGINT << t.w) >= nn.n),
          geo AS (SELECT LEAST(61, GREATEST(32, 1 + 4 * w)) AS lanes FROM ww),"""
      s"""WITH $geo
         ${audioHashCtesSql("doc_id < 2000", "SELECT lanes FROM geo")}
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 3
         ORDER BY a, b"""
    }),

    // Incremental IMAGE dedup against a persisted dHash index — q213's
    // lifecycle on the raster lane (the round-15 verdict's named gap:
    // image pairs existed but every ingest batch re-decoded the corpus).
    // Corpus r = 0,1 of each group indexes once (session-memoized build);
    // batch r = 2 images are uniform brightness shifts of stored rasters
    // (hamming 0 — dropped), r = 3 unrelated (kept minus accidental ≤ 2-bit
    // matches the oracle's quadratic replay also sees).
    Query("q215_image_index_dedup", (s, d) => {
      val all = imageDocs1k(s, d, "png1k", pngPayloadCol)
      val prefix = s"q215_idh_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
      if (!s.catalog.tableExists(s"${prefix}_idx"))
        Multimodal.writeImageDHashIndex(all.filter(col("doc_id") % 4 <= 1),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2,
          tablePrefix = prefix, buckets = 4)
      Multimodal.imageDedupAgainstIndex(all.filter(col("doc_id") % 4 >= 2),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2, tablePrefix = prefix)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      // Replays the image index lifecycle as the split + quadratic Hamming
      // filter over the PNG pixel-formula hashes (q213's construction on
      // the raster lane): a batch image survives iff NO indexed image is
      // within 2 bits — the banded probe has pigeonhole recall 1.0.
      s"""WITH ${pngHashCtesSql("doc_id < 1000")},
         c AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 <= 1),
         b AS (SELECT doc_id, h FROM hx WHERE doc_id % 4 >= 2)
         SELECT b.doc_id FROM b
         WHERE NOT EXISTS (
           SELECT 1 FROM c WHERE bit_count(xor(b.h, c.h)) <= 2)
         ORDER BY b.doc_id"""),

    // The maxBucket PREFLIGHT for the raster lane (q207's image twin):
    // Hamming band-bucket occupancy over the SAME (band, key) buckets the
    // q208/q215 paths use — the measurement that decides whether the
    // default-off hot-bucket cap must be set before the image pair join
    // or index build runs at a new corpus scale.
    Query("q219_image_occupancy", (s, d) => {
      Multimodal.imageBandOccupancy(imageDocs1k(s, d, "png1k", pngPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .orderBy(col("occ"))
    },
      // The q208-family band layout (56 bits -> 19/19/18) folded to the
      // occupancy histogram, q207's construction on the raster hashes.
      s"""WITH ${pngHashCtesSql("doc_id < 1000")},
         ex AS (
           SELECT doc_id, h, b.band,
                  (h >> (b.band * 19)) & (CASE WHEN b.band = 2 THEN 262143 ELSE 524287 END) AS key
           FROM hx, (VALUES (0), (1), (2)) b(band)),
         buck AS (SELECT band, key, count(*) AS occ FROM ex GROUP BY band, key)
         SELECT occ, count(*) AS n_buckets,
                CAST(occ * (occ - 1) / 2 * count(*) AS BIGINT) AS cand_pairs
         FROM buck GROUP BY occ ORDER BY occ"""),

    // JPEG perceptual near-dup — the DOMINANT web image format joins the
    // raster lane (q208 PNG / q211 GIF): in-plan synthesis of complete
    // valid baseline JPEGs (DC-only blocks, byte-aligned custom Huffman
    // tables — see jpegPayloadCol), REAL entropy decode + exact DC-only
    // IDCT (JpegGrayCells), the shared grid dHash and Hamming-banded
    // pipeline. Groups of 4: r = 0,1,2 share per-block gradient signs
    // with a uniform +r brightness shift (dHash-identical), r = 3
    // unrelated. Same doc_id < 1000 pixel-family slice.
    Query("q216_jpeg_neardup", (s, d) => {
      Multimodal.imageNearDupPairs(imageDocs1k(s, d, "jpeg1k", jpegPayloadCol),
          "doc_id", "payload", gw = 8, gh = 8, maxHamming = 2)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("a"), col("b"))
    },
      // Replays the JPEG payloads' generative structure (the engine instead
      // entropy-decodes the actual bitstream and runs the exact DC-only
      // IDCT): block b's decoded value is a ±1 random walk over the sign
      // mix, and the dHash's in-row comparison cell[b] < cell[b+1] is
      // EXACTLY "sign s_{b+1} is +1" — so the hash assembles directly from
      // the sign bits: bit (b//8)·7 + b%8 − 1 for every b not ≡ 0 (mod 8).
      // The uniform +r shift never appears (it cancels in every
      // comparison), which is the invariance q216 certifies.
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE doc_id < 1000),
         s AS (SELECT doc_id, g, r, unnest(range(1, 64)) AS b FROM d),
         sg AS (SELECT doc_id, b,
                       CASE WHEN r = 3
                            THEN (((doc_id % 65536) * (doc_id % 65536) + 7) * (b * b + 31)) % 65537 * 2654435761 % 65537 % 2
                            ELSE (((g % 65536) * (g % 65536) * 131 + 7) * (b * b * 17 + b + 31)) % 65537 * 2654435761 % 65537 % 2
                       END AS s
                FROM s),
         hx AS (SELECT doc_id,
                       CAST(SUM(CASE WHEN s = 1 AND b % 8 >= 1
                                     THEN (1::BIGINT << ((b // 8) * 7 + (b % 8) - 1))
                                     ELSE 0 END) AS BIGINT) AS h
                FROM sg GROUP BY doc_id)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         FROM hx x JOIN hx y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.h, y.h)) <= 2
         ORDER BY a, b"""),
  )

  /** Session-memoized payload fixtures — the q213 index-build memo
    * generalized to the payload TABLES (the round-16 verdict's "keep
    * shrinking fixture-synthesis cost" lever): the in-plan WAV/PNG/GIF/JPEG
    * byte synthesis is fixture cost, not operator cost, and every query
    * (and every bench pass) touching a lane re-paid it. Each family now
    * synthesizes once per session into a managed table — spread ABOVE the
    * synthesis (ids shuffle, payloads don't; 32-way parallel build),
    * `repartition(8)` below it (a scan-friendly file count — the round-17
    * tablecache experiment measured ~40-80 ms of per-task parquet-reader
    * setup, so tiny many-file tables tax every scan) — and every consumer
    * scans stored bytes. What stays inside each query is exactly the
    * operator under test: decode, hash, band, join, index probe. Oracles
    * are unaffected: they replay the same generative formulas the build
    * ran, and the memo content is deterministic in doc_id.
    */
  private def memoPayloads(s: SparkSession, d: String, family: String)
      (build: => DataFrame): DataFrame = {
    val tbl = s"memo_${family}_${Integer.toHexString(d.hashCode & 0x7fffffff)}"
    this.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        Storage.reclaimStaleLocation(s, tbl)
        build.write.format("parquet").saveAsTable(tbl)
      }
    }
    s.table(tbl)
  }

  /** The canonical `doc_id < 2000` WAV slice (q202/q206/q207/q213/q214/
    * q220), memoized.
    */
  private def wavDocs2k(s: SparkSession, d: String): DataFrame =
    memoPayloads(s, d, "wav2k")(
      Tables.spread(t(s, d, "documents").filter(col("doc_id") < 2000).select(col("doc_id")))
        .select(col("doc_id"), wavPayloadCol.as("payload")).repartition(8))

  /** The `doc_id < 1000` pixel-family slices (q208/q211/q215/q216/q219),
    * memoized per container format.
    */
  private def imageDocs1k(s: SparkSession, d: String, family: String,
      payload: Column): DataFrame =
    memoPayloads(s, d, family)(
      Tables.spread(t(s, d, "documents").filter(col("doc_id") < 1000).select(col("doc_id")))
        .select(col("doc_id"), payload.as("payload")).repartition(8))

  /** The three deterministic orders snapshots behind q186–q188: v1 =
    * keys%7≠0; v2 = keys%7≠3 with keys%5==0 repriced ×2 (inserts, deletes
    * AND updates vs v1); inc = the keys%7==3 rows, the appended third
    * increment. Prices as DOUBLE (×2 is fp-exact, so the DuckDB oracle
    * replays images bit-identically).
    */
  private def cdcRows(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
    val v1rows = base.filter(col("o_orderkey") % 7 =!= 0)
    val v2rows = base.filter(col("o_orderkey") % 7 =!= 3)
      .withColumn("o_totalprice", when(col("o_orderkey") % 5 === 0,
        col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    (v1rows, v2rows, base.filter(col("o_orderkey") % 7 === 3))
  }

  /** The q186/q187 shared TxTable: two committed snapshots of a narrowed
    * orders table with deterministic inserts/deletes/updates between them.
    * Built ONCE per (session, dataset dir) — on first use any stale root
    * from a previous session is deleted, then exactly two `replace`
    * commits land, and the (root, v1, v2) triple is memoized. Re-running
    * the builder per query invocation would append versions 3, 4, … and
    * let keep-one-snapshot GC reap v1's data out from under [[TxTable.diff]];
    * the memo pins the version pair instead (the q183 session-cache
    * precedent). Prices are carried as DOUBLE: ×2 is exact in binary
    * floating point, so the update image replays bit-identically in the
    * DuckDB oracle.
    */
  private val cdcFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]

  private def cdcFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcFixtureCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (v1rows, v2rows, _) = cdcRows(s, d)
      val (root, vs) = cdcRoot(s, d, "cdc_", { r =>
        TxTable.replace(s, r, v1rows)
        TxTable.replace(s, r, v2rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q200/q201's evolution log: v1 = replace of the narrow orders slice
    * (keys%7≠0, no flag column); v2 = APPEND of the keys%7==0 rows carrying
    * the new `o_flag` column (key%3, deterministic) — the additive schema
    * boundary. Memoized per (session, dir) with stale-root delete, exactly
    * the cdcFixture pattern.
    */
  private val evoFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]

  private def evoFixture(s: SparkSession, d: String): (String, Long, Long) =
    evoFixtureCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
      val v1rows = base.filter(col("o_orderkey") % 7 =!= 0)
      val v2rows = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_flag", (col("o_orderkey") % 3).cast("int"))
      val (root, vs) = cdcRoot(s, d, "evo_", { r =>
        TxTable.replace(s, r, v1rows)
        TxTable.append(s, r, v2rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q188's second log: the v2 state re-based as its own root's first
    * version, then the increment APPENDED — a separate root because
    * keep-one-snapshot GC on the first root would reap v1's data the
    * moment a third commit landed there, breaking q186's pinned pair.
    * Covers diff across an append commit (the after-side snapshot spans
    * two data dirs).
    */
  private val cdcChainCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]

  private def cdcChainFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcChainCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (_, v2rows, incRows) = cdcRows(s, d)
      val (root, vs) = cdcRoot(s, d, "cdcchain_", { r =>
        TxTable.replace(s, r, v2rows)
        TxTable.append(s, r, incRows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 2), vs.last)
    })

  /** q189's retention-3 log: three replace snapshots under
    * [[graft.ops.TxTable.setRetention]](3), so the v1 → v3 diff — spanning
    * two intermediate replaces — stays readable where the default keep-2
    * window would have reaped v1's data at the third commit. v3 = keys%7≠5
    * with keys%3==0 repriced ×0.5 (exact in binary fp, like q186's ×2).
    */
  private val cdcRetentionCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (String, Long, Long)]

  private def cdcRetentionFixture(s: SparkSession, d: String): (String, Long, Long) =
    cdcRetentionCache.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val (v1rows, v2rows, _) = cdcRows(s, d)
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
      val v3rows = base.filter(col("o_orderkey") % 7 =!= 5)
        .withColumn("o_totalprice", when(col("o_orderkey") % 3 === 0,
          col("o_totalprice") * 0.5).otherwise(col("o_totalprice")))
      val (root, vs) = cdcRoot(s, d, "cdcret_", { r =>
        TxTable.setRetention(s, r, 3)
        TxTable.replace(s, r, v1rows)
        TxTable.replace(s, r, v2rows)
        TxTable.replace(s, r, v3rows)
        TxTable.versions(s, r)
      })
      (root, vs(vs.length - 3), vs.last)
    })

  /** The q180/q182/q184 shared fit: standardized (ln length, space-ratio)
    * features over non-empty documents, label = lang == 'en', 3 GD steps —
    * stats and weights rounded 1e-6 (the [[graft.ops.Clustering.logisticFit]]
    * replay contract). The DRIVER-SIDE artifact (4 stats + 3 weights) is
    * memoized per (session, dataset dir) — the q183 session-cache
    * precedent — so a suite run pays the four training collects once, not
    * once per consuming query; the fit is deterministic, so the memo
    * cannot change any result.
    */
  private val qualityModelCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Seq[Double], Seq[Double])]

  private def qualityModel(s: SparkSession, d: String)
      : (DataFrame, Seq[Column], Column, Seq[Double]) = {
    def r6d(v: Double) = math.floor(v * 1000000 + 0.5) / 1000000
    val docs = t(s, d, "documents").filter(length(col("text")) > 0)
    val len  = length(col("text")).cast("double")
    val x1   = log(lit(1.0) + len)
    val x2   = (len - length(translate(col("text"), " ", "")).cast("double")) / len
    val y    = (col("lang") === "en").cast("double")
    def featsOf(ms: Seq[Double]) =
      Seq((x1 - lit(ms(0))) / lit(ms(1)), (x2 - lit(ms(2))) / lit(ms(3)))
    val (ms, wts) = qualityModelCache.computeIfAbsent(
      (System.identityHashCode(s), d), _ => {
        val st = docs.agg(
          avg(x1).as("m1"), stddev_pop(x1).as("s1"),
          avg(x2).as("m2"), stddev_pop(x2).as("s2")).collect().head
        val stats = (0 to 3).map(i => r6d(st.getDouble(i)))
        (stats, Clustering.logisticFit(docs, featsOf(stats), y, iters = 3, lr = 1.0))
      })
    (docs, featsOf(ms), y, wts)
  }

  /** DuckDB replay of the q208-family PNG dHash: the generative pixel
    * formula folded to 8×8 grid-cell luminance sums, then horizontal
    * gradient-sign bits — shared by the pair query (q208) and the image
    * index-lifecycle query (q215).
    */
  private def pngHashCtesSql(pred: String): String =
    s"""d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE $pred),
       s AS (SELECT doc_id, g, r, unnest(range(256)) AS p FROM d),
       v AS (SELECT doc_id,
                    ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
                    CASE WHEN r = 3
                         THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (p * p + 31)) % 65537 * 2654435761 % 65537) % 244
                         ELSE (((((g % 65536) * (g % 65536) * 131 + 7) * (p * p * 17 + p + 31)) % 65537 * 2654435761 % 65537) % 244) + r
                    END AS pv
             FROM s),
       cells AS (SELECT doc_id, cell, SUM(1000 * pv) AS ls FROM v GROUP BY doc_id, cell),
       hx AS (SELECT a.doc_id,
                     CAST(SUM(CASE WHEN b.ls > a.ls
                                   THEN (1::BIGINT << ((a.cell // 8) * 7 + (a.cell % 8)))
                                   ELSE 0 END) AS BIGINT) AS h
              FROM cells a JOIN cells b
                ON a.doc_id = b.doc_id AND b.cell = a.cell + 1 AND a.cell % 8 < 7
              GROUP BY a.doc_id)"""

  /** DuckDB replay of the q202-family dHash: the generative sample formula
    * folded to per-lane sums, then gradient-sign bits. `pred` narrows the
    * documents driving the synthesis (q206's flood base).
    */
  private def audioHashCtesSql(pred: String = "TRUE", lanesSql: String = "32"): String =
    s"""d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents WHERE $pred),
       s AS (SELECT doc_id, g, r, unnest(range((g % 4 + 4) * 32)) AS i FROM d),
       v AS (SELECT doc_id, CAST(i % ($lanesSql) AS INT) AS lane,
                    CASE WHEN r = 3
                         THEN ((((doc_id % 65536) * (doc_id % 65536) + 7) * (i * i + 31)) % 65536) - 32768
                         ELSE ((((g % 65536) * (g % 65536) * 131 + 7) * (i * i * 17 + i + 31) + r) % 65536) - 32768
                    END AS sv
             FROM s),
       lanes AS (SELECT doc_id, lane, SUM(sv) AS ls FROM v GROUP BY doc_id, lane),
       hx AS (SELECT a.doc_id,
                     CAST(SUM(CASE WHEN b.ls > a.ls THEN (1::BIGINT << a.lane)
                                   ELSE 0 END) AS BIGINT) AS h
              FROM lanes a JOIN lanes b
                ON a.doc_id = b.doc_id AND b.lane = a.lane + 1
              GROUP BY a.doc_id)"""

  /** Hamming-band index over `allh (doc_id, h)`: lanes = 32 → 31 hash bits
    * split into 3 bands of 11/11/9 bits — the exact `Multimodal.bandKey`
    * layout for (lanes 32, maxHamming 2).
    */
  private def audioBandCtesSql: String =
    """ex AS (
         SELECT doc_id, h, b.band,
                (h >> (b.band * 11)) & (CASE WHEN b.band = 2 THEN 511 ELSE 2047 END) AS key
         FROM allh, (VALUES (0), (1), (2)) b(band))"""

  /** The q200/q201 evolution snapshots replayed from the base table —
    * v1 narrow (flag NULL), v2 the appended flagged increment.
    */
  private def evoVersionsSql: String =
    """WITH v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                          CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                          CAST(NULL AS INT) AS o_flag
                   FROM orders WHERE o_orderkey % 7 <> 0),
       v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                     CAST(o_orderkey % 3 AS INT) AS o_flag
              FROM orders WHERE o_orderkey % 7 = 0)"""

  /** DuckDB replay of the q183 persisted-index search: PQ training CTEs +
    * IVF seed routing + ADC scoring. `storedPred` narrows the stored
    * (neighbor) side — q192 replays index deletion with it; probes always
    * search.
    */
  private def pqSearchCtesSql(storedPred: String = "TRUE"): String =
    s"""${pqTrainCtesSql()},
       params AS (
         SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE * 6.0)) AS INT)) AS nc
         FROM embeddings),
       ivfseeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                    WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
       asg AS (
         SELECT vec_id, v, s_id AS cell, rn FROM (
           SELECT e2.vec_id, e2.v, ivfseeds.s_id,
                  row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                    list_reduce(list_prepend(0.0::DOUBLE, [e2.v[i] * ivfseeds.sv[i] for i in range(1, len(e2.v) + 1)]), (a, b) -> a + b)
                    / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e2.v]), (a, b) -> a + b))
                       * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in ivfseeds.sv]), (a, b) -> a + b))) DESC,
                    ivfseeds.s_id ASC) rn
           FROM e2, ivfseeds)
         WHERE rn <= 6),
       enc AS (SELECT e2.vec_id, cc0.c w0, cc1.c w1
               FROM e2 JOIN k0 ON e2.vec_id = k0.vec_id JOIN k1 ON e2.vec_id = k1.vec_id
                       JOIN c0 cc0 ON cc0.cid = k0.cid JOIN c1 cc1 ON cc1.cid = k1.cid),
       cand AS (SELECT a.vec_id probe_id, b.vec_id neighbor_id,
                  floor((list_reduce(list_prepend(0.0::DOUBLE,
                           [(a.v[i] - w.w0[i]) * (a.v[i] - w.w0[i]) for i in range(1, 33)]), (x, y) -> x + y)
                         + list_reduce(list_prepend(0.0::DOUBLE,
                           [(a.v[i + 32] - w.w1[i]) * (a.v[i + 32] - w.w1[i]) for i in range(1, 33)]), (x, y) -> x + y))
                        * 1000000 + 0.5)/1000000 d6
                FROM asg a JOIN asg b ON a.cell = b.cell AND b.rn = 1 AND a.vec_id <> b.vec_id
                     JOIN enc w ON w.vec_id = b.vec_id
                WHERE a.vec_id % 25 = 0 AND $storedPred)"""

  private def pqIndexSearchOracle(storedPred: String = "TRUE"): String =
    s"""${pqSearchCtesSql(storedPred)}
       SELECT probe_id, neighbor_id, d6 AS adc_d6, CAST(rn AS INT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn FROM cand)
       WHERE rn <= 3 ORDER BY probe_id, rank"""

  /** The q209 refined replay: the same code-scored candidates, top-R per
    * probe by ADC, then an exact-cosine re-rank of exactly those R — the
    * engine reads the stored `_vecs` rows where the oracle re-joins `e2`
    * (bit-identical: the refine store is the cleaned corpus).
    */
  private def pqRefineOracle(refineR: Int, k: Int): String =
    s"""${pqSearchCtesSql()},
       topr AS (SELECT probe_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d6, neighbor_id) rn
                  FROM cand)
                WHERE rn <= $refineR),
       ref AS (SELECT t.probe_id, t.neighbor_id,
                 floor(list_reduce(list_prepend(0.0::DOUBLE, [p.v[i] * n.v[i] for i in range(1, len(p.v) + 1)]), (a, b) -> a + b)
                   / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in p.v]), (a, b) -> a + b))
                      * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in n.v]), (a, b) -> a + b)))
                   * 10000 + 0.5) / 10000 AS cos4
               FROM topr t JOIN e2 p ON p.vec_id = t.probe_id
                           JOIN e2 n ON n.vec_id = t.neighbor_id)
       SELECT probe_id, neighbor_id, cos4, CAST(rn AS INT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos4 DESC, neighbor_id) rn FROM ref)
       WHERE rn <= $k ORDER BY probe_id, rank"""

  /** DuckDB replay of [[cdcFixture]]'s two snapshots as CTEs `v1`, `v2`. */
  private def cdcVersionsSql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                            CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS o_totalprice
                FROM base WHERE o_orderkey % 7 <> 3)"""

  /** The q180/q182 shared DuckDB replay of [[qualityModel]]: feature
    * standardization stats rounded 1e-6, then three [[gdStepSql]] GD steps
    * from zero weights. Yields CTEs `f` (doc_id, y, z1, z2) and `g3` (the
    * final 1-row weight vector).
    */
  private def logregCtesSql(): String = s"WITH ${logregCteBody()}"

  /** The same replay WITHOUT the WITH keyword, so it composes into a
    * larger chain (q184 prefixes the simhash-CC recursive CTEs).
    */
  private def logregCteBody(): String =
    s"""docs AS (SELECT doc_id, (lang = 'en')::INT::DOUBLE y,
              ln(1.0 + length(text)::DOUBLE) x1,
              (length(text)::DOUBLE - length(replace(text, ' ', ''))::DOUBLE) / length(text)::DOUBLE x2
            FROM documents WHERE length(text) > 0),
       st AS (SELECT floor(avg(x1)*1000000+0.5)/1000000 m1, floor(stddev_pop(x1)*1000000+0.5)/1000000 s1,
                     floor(avg(x2)*1000000+0.5)/1000000 m2, floor(stddev_pop(x2)*1000000+0.5)/1000000 s2 FROM docs),
       f AS (SELECT doc_id, y, (x1 - m1) / s1 z1, (x2 - m2) / s2 z2 FROM docs, st),
       g0 AS (SELECT 0.0 w0, 0.0 w1, 0.0 w2),
       ${gdStepSql("g1", "g0")},
       ${gdStepSql("g2", "g1")},
       ${gdStepSql("g3", "g2")}"""

  /** Shared PQ-training replay for q178/q179: nSub=2 subspaces × k=4
    * codewords, one Lloyd round from the 4 smallest-id seeds — the
    * [[graft.ops.Clustering.pqTrain]] contract (per-candidate distances
    * rounded 1e-6 with ties to the lowest code, means rounded 1e-4).
    * Yields CTEs `e2` (vec_id, v, v0, v1 half-slices), `c0`/`c1` (trained
    * codebooks) and `k0`/`k1` (final per-vector codes).
    */
  private def pqTrainCtesSql(): String = {
    def asg(out: String, book: String, vcol: String) =
      s"""$out AS (SELECT vec_id, cid FROM (
            SELECT e2.vec_id, $book.cid,
                   row_number() OVER (PARTITION BY e2.vec_id ORDER BY
                     floor(list_reduce(list_prepend(0.0::DOUBLE,
                       [(e2.$vcol[i] - $book.c[i]) * (e2.$vcol[i] - $book.c[i]) for i in range(1, len(e2.$vcol) + 1)]),
                       (a, b) -> a + b) * 1000000 + 0.5)/1000000, $book.cid) rn
            FROM e2 CROSS JOIN $book) WHERE rn = 1)"""
    def mean(out: String, asgn: String, vcol: String) =
      s"""$out AS (SELECT cid, list(m ORDER BY i) c FROM (
            SELECT $asgn.cid cid, i, floor(avg(x) * 10000 + 0.5)/10000 m
            FROM (SELECT vec_id, unnest($vcol) x, generate_subscripts($vcol, 1) i FROM e2) t
            JOIN $asgn ON t.vec_id = $asgn.vec_id GROUP BY $asgn.cid, i) GROUP BY cid)"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
              WHERE embedding IS NOT NULL
                AND len(embedding) = (SELECT len(embedding) FROM embeddings
                                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 1)),
         e2 AS (SELECT vec_id, v, v[1:32] v0, v[33:64] v1 FROM e),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) cid, v
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
         s0 AS (SELECT cid, v[1:32] c FROM seeds),
         s1 AS (SELECT cid, v[33:64] c FROM seeds),
         ${asg("a0", "s0", "v0")},
         ${asg("a1", "s1", "v1")},
         ${mean("c0", "a0", "v0")},
         ${mean("c1", "a1", "v1")},
         ${asg("k0", "c0", "v0")},
         ${asg("k1", "c1", "v1")}"""
  }

  /** One full-batch gradient step of the q180 logistic fit as a 1-row CTE:
    * w ← round6(w + Σ(y − σ(w·x))·x / n) with the same association order
    * as [[graft.ops.Clustering.logisticFit]]/[[graft.ops.Clustering.logisticScore]].
    */
  private def gdStepSql(out: String, prev: String): String = {
    val sig = s"1.0/(1.0 + exp(-(($prev.w0 + f.z1*$prev.w1) + f.z2*$prev.w2)))"
    s"""$out AS (SELECT
          floor(($prev.w0 + sum(1.0  * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w0,
          floor(($prev.w1 + sum(f.z1 * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w1,
          floor(($prev.w2 + sum(f.z2 * (f.y - $sig)) / count(*))*1000000+0.5)/1000000 w2
        FROM f, $prev GROUP BY $prev.w0, $prev.w1, $prev.w2)"""
  }
}
