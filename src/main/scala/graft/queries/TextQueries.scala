package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._

/** SURVEY §2.10 T1–T3/T6, §2.6 D3, plus the LLM-pipeline text operators
  * (language-ID, quality scoring, token counting, fingerprinting, SimHash)
  * — all on the `documents`/`events` tables.
  */
object TextQueries {
  import Tables.t
  import Shared._

  private[graft] val records: Seq[Query] = Seq(
    // T1 — tokenize/explode, global term frequency top-20
    Query("q13_tokenize", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)
    },
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 20"""),

    // TF-IDF — top-3 distinguishing terms per document
    Query("q67_tfidf", (s, d) => {
      Text.tfidfTopTerms(Tables.spread(t(s, d, "documents")), "doc_id", "text", 3)
        .orderBy(col("id"), col("rank"))
    },
      """WITH toks AS (
           SELECT doc_id AS id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         n AS (SELECT count(DISTINCT doc_id) nn FROM documents),
         tf AS (SELECT id, term, count(*) tf FROM toks GROUP BY id, term),
         dfq AS (SELECT term, count(DISTINCT id) df FROM toks GROUP BY term)
         SELECT id, term, score, rank FROM (
           SELECT tf.id, tf.term,
                  floor(tf.tf * ln((SELECT nn FROM n)::DOUBLE / dfq.df) * 10000 + 0.5)/10000 AS score,
                  CAST(row_number() OVER (PARTITION BY tf.id ORDER BY
                    floor(tf.tf * ln((SELECT nn FROM n)::DOUBLE / dfq.df) * 10000 + 0.5)/10000 DESC,
                    tf.term ASC) AS INT) AS rank
           FROM tf JOIN dfq ON tf.term = dfq.term)
         WHERE rank <= 3 ORDER BY id, rank"""),

    // T2 — per-language token statistics
    Query("q14_token_stats", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("lang"), col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_uniq"),
          Summaries.r4(count(lit(1)).cast("double") / countDistinct(col("doc_id"))).as("tokens_per_doc"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_uniq,
                floor(count(*)::DOUBLE / count(DISTINCT doc_id) * 10000 + 0.5)/10000 AS tokens_per_doc
         FROM (SELECT lang, doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY lang ORDER BY lang"""),

    // T3 — bigram frequency top-20
    Query("q15_ngrams", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.ngramsOf(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20)
    },
      """SELECT bigram, count(*) AS cnt
         FROM (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ') for i in range(1, len(tk))]) AS bigram
               FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20"""),

    // D3 exact — n-gram Jaccard near-dup via inverted shingle index
    Query("q16_jaccard_neardup", (s, d) => {
      Text.jaccardNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      """WITH sh AS (
           SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i+2), ' ') for i in range(1, len(tk)-1)]) ss
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                floor(len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) * 10000 + 0.5)/10000 AS jacc
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5
         ORDER BY doc_a, doc_b"""),

    // T6/D3 — MinHash signatures + LSH banding + exact Jaccard verify
    Query("q17_minhash_lsh", (s, d) => {
      Text.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 16, 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }, minhashLshOracle()),

    // D3 scoped fuzzy dedup: same MinHash+LSH plan with the language in the
    // candidate join key — per-language dedup of a multilingual corpus
    // without a per-language driver loop (and with smaller LSH buckets)
    Query("q93_scoped_neardup", (s, d) => {
      Text.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", 3, 16, 0.5,
          scopeCols = Seq("lang"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // the per-language scoped form (q93)
      minhashLshOracle(scoped = true)),

    // D3 exact-content dedup, two-phase digest form (events.props: 100
    // distinct payloads across 10k rows at sf0.01)
    Query("q18_dedup_digest", (s, d) => {
      Dedup.dedupByDigest(t(s, d, "events"), "props", "event_id")
        .select(col("event_id"), col("props"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, props FROM (
           -- mirror dedupByDigest's NULL pass-through (NULL ≠ equal content)
           SELECT event_id, props FROM events WHERE props IS NOT NULL
           QUALIFY row_number() OVER (PARTITION BY props ORDER BY event_id) = 1
           UNION ALL
           SELECT event_id, props FROM events WHERE props IS NULL)
         ORDER BY event_id"""),

    // SimHash document signature (16-bit, md5-derived → oracle-checkable)
    Query("q19_simhash", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), Text.simhash(col("text"), 16).as("simhash"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                CAST(list_sum([CASE WHEN list_sum([((('0x' || substr(md5(t), 1, 15))::BIGINT >> b) & 1) * 2 - 1
                                                  for t in list_distinct(string_split_regex(lower(trim(text)), '\s+'))]) > 0
                               THEN (1::BIGINT << b) ELSE 0::BIGINT END
                               for b in range(0, 16)]) AS BIGINT) AS simhash
         FROM documents ORDER BY doc_id"""),

    // Rolling-hash fingerprint (order-sensitive, integer math)
    Query("q20_fingerprint", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(text, '')]),
                            (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM documents ORDER BY doc_id"""),

    // Language-ID heuristic vs the labeled lang column
    Query("q21_langid", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          Text.languageId(Text.tokenSet(col("text"))).as("pred"))
        .orderBy(col("doc_id"))
    },
      """WITH s AS (
           SELECT doc_id, lang,
                  len(list_intersect(tk, ['der','die','das','und'])) s_de,
                  len(list_intersect(tk, ['the','a','of','and'])) s_en,
                  len(list_intersect(tk, ['el','la','los','y'])) s_es,
                  len(list_intersect(tk, ['le','les','une','et'])) s_fr,
                  len(list_intersect(tk, ['shi','bu','wo','zhe'])) s_zh
           FROM (SELECT doc_id, lang, list_distinct(string_split_regex(lower(trim(text)), '\s+')) tk FROM documents))
         SELECT doc_id, lang,
                CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                     WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                     WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                     ELSE 'zh' END AS pred
         FROM s ORDER BY doc_id"""),

    // Quality scoring: token count, stopword ratio, chars/token, bucket
    Query("q22_quality", (s, d) => {
      val toks = Text.tokens(col("text"))
      val nTok = size(toks).cast("double")
      val stop = Text.stopwordCount(toks, Seq("the", "a", "of", "and")).cast("double")
      val stopRatio = Summaries.r4(stop / nTok)
      val charsTok  = Summaries.r4(length(col("text")).cast("double") / nTok)
      val score     = Summaries.r4(least(lit(1.0), nTok / lit(100.0)) - (stop / nTok) * 0.5)
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"), size(toks).as("n_tokens"), stopRatio.as("stop_ratio"),
          charsTok.as("chars_per_token"), score.as("score"),
          when(score >= 0.5, lit("high")).when(score >= 0.2, lit("mid")).otherwise(lit("low")).as("bucket"))
        .orderBy(col("doc_id"))
    },
      """WITH q AS (
           SELECT doc_id, len(tk) n_tokens, length(text) n_chars,
                  len(list_filter(tk, t -> t IN ('the','a','of','and'))) stop_cnt
           FROM (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') tk FROM documents)),
         sc AS (
           SELECT doc_id, n_tokens,
                  floor(stop_cnt::DOUBLE / n_tokens * 10000 + 0.5)/10000 AS stop_ratio,
                  floor(n_chars::DOUBLE / n_tokens * 10000 + 0.5)/10000 AS chars_per_token,
                  floor((least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0) - (stop_cnt::DOUBLE / n_tokens) * 0.5) * 10000 + 0.5)/10000 AS score
           FROM q)
         SELECT doc_id, n_tokens, stop_ratio, chars_per_token, score,
                CASE WHEN score >= 0.5 THEN 'high' WHEN score >= 0.2 THEN 'mid' ELSE 'low' END AS bucket
         FROM sc ORDER BY doc_id"""),

    // Training-corpus decontamination: drop corpus docs sharing any 5-gram
    // with a benchmark subset (doc_id % 37 == 0 plays the eval set)
    Query("q70_decontaminate", (s, d) => {
      val docs   = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val bench  = docs.filter(col("doc_id") % 37 === 0)
      Text.decontaminate(corpus, "doc_id", "text", bench, "text", 5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 37 <> 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ') for i in range(1, len(tk)-3)])) s
           FROM (SELECT string_split_regex(lower(trim(text)), '\s+') tk FROM documents WHERE doc_id % 37 = 0)),
         bad AS (
           SELECT DISTINCT doc_id FROM (
             SELECT doc_id, unnest(list_distinct([array_to_string(list_slice(tk, i, i+4), ' ') for i in range(1, len(tk)-3)])) s
             FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM corpus))
           WHERE s IN (SELECT s FROM bench))
         SELECT doc_id, lang FROM corpus
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id"""),

    // Bloom-pruned anti-join (blocklist decontamination): the exclusion
    // set's bloom routes rows in-plan (scalar subquery) so the clean
    // majority never shuffles; only bloom-positives reach the exact
    // anti-join, and the result equals a plain NOT IN
    Query("q99_bloom_decontaminate", (s, d) => {
      val bad = t(s, d, "customer").filter(col("c_acctbal") < 0)
      Curation.bloomAntiJoin(t(s, d, "orders"), col("o_custkey"),
          bad, col("c_custkey"), expectedItems = 2000L, fpp = 0.01)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         ORDER BY o_orderkey"""),

    // Repetition-based quality (Gopher-rule family): top-token dominance and
    // duplicate-bigram fraction per document
    Query("q74_repetition", (s, d) => {
      val toks = Text.tokens(col("text"))
      Tables.spread(t(s, d, "documents"))
        .select(col("doc_id"),
          Summaries.r4(Text.topTokenRatio(toks)).as("top_tok_ratio"),
          Summaries.r4(Text.dupBigramRatio(Text.ngramsOf(col("text"), 2))).as("dup_bigram_ratio"))
        .orderBy(col("doc_id"))
    },
      """WITH tkx AS (
           SELECT doc_id, tk,
                  [array_to_string(list_slice(tk, i, i+1), ' ') for i in range(1, len(tk))] bg
           FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk FROM documents))
         SELECT doc_id,
                floor(list_max([len(list_filter(tk, x -> x = t)) for t in list_distinct(tk)])::DOUBLE
                      / len(tk) * 10000 + 0.5)/10000 AS top_tok_ratio,
                floor((CASE WHEN len(bg) > 0
                            THEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                            ELSE 0.0 END) * 10000 + 0.5)/10000 AS dup_bigram_ratio
         FROM tkx ORDER BY doc_id"""),

    // Entity-resolution near-match: customer names within one substitution,
    // blocked by deletion variants (bucket sizes bounded by construction —
    // boilerplate-proof, unlike prefix blocking)
    Query("q106_name_match", (s, d) => {
      Text.singleEditNearPairs(t(s, d, "customer"), "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH m AS (
           SELECT c_custkey k, c_name n,
                  unnest([concat(substr(c_name, 1, i-1), substr(c_name, i+1))
                          for i in range(1, len(c_name)+1)]) mk
           FROM customer),
         cand AS (
           SELECT DISTINCT a.k AS id_a, b.k AS id_b
           FROM m a JOIN m b ON a.mk = b.mk AND a.k < b.k)
         SELECT id_a, id_b, CAST(levenshtein(x.c_name, y.c_name) AS INT) AS dist
         FROM cand JOIN customer x ON id_a = x.c_custkey
                   JOIN customer y ON id_b = y.c_custkey
         WHERE levenshtein(x.c_name, y.c_name) <= 1
         ORDER BY id_a, id_b"""),

    // Heavy-hitter tokens via the DataSketches frequent-items aggregate:
    // tasks keep a maxItemsTracked-bounded summary and merge map-side, so
    // corpus-scale token stats never shuffle the full vocabulary (billions
    // of keys for web text) — only tasks × maxItems entries. Here the
    // vocabulary fits the sketch, so counts are exact and oracle-checkable;
    // the overflow regime's subset guarantee is pinned in ContractSpec.
    Query("q104_heavy_hitters", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(explode(Text.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 40, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    },
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token"""),

    // Weighted Bernoulli sampling: inclusion odds ∝ n_chars (expected 20%
    // of rows), membership decided by content hash, corpus totals in-plan;
    // the per-lang census shows long docs over-represented vs hashSample
    Query("q107_weighted_sample", (s, d) => {
      Sampling.weightedSample(t(s, d, "documents"), Seq("doc_id"), "n_chars", 0.2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },
      """WITH s AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS sw, CAST(count(*) AS DOUBLE) AS n
                    FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents CROSS JOIN s
         WHERE n_chars IS NOT NULL AND n_chars > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
               < floor(10000 * least(1.0, 0.2 * n * CAST(n_chars AS DOUBLE) / sw))
         GROUP BY lang ORDER BY lang"""),

    // Collocation mining: top PMI-scored adjacent token pairs (count ≥ 5) —
    // integer count products inside the single ln, vocabulary shuffle-joined
    Query("q108_collocations", (s, d) => {
      Text.collocations(Tables.spread(t(s, d, "documents")), "text", 5L)
        .orderBy(col("nxy").desc, col("bigram"))
        .limit(15)
        .select(col("bigram"), col("nxy").as("n"), col("pmi"))
    },
      """WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         uni AS (SELECT w, count(*) AS nw FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
         bi AS (SELECT bg, count(*) AS nxy
                FROM (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
                                     for i in range(1, len(tk))]) AS bg FROM tk)
                GROUP BY bg HAVING count(*) >= 5),
         tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS t,
                        CAST(sum(CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END) AS BIGINT) AS b
                 FROM tk)
         SELECT bg AS bigram, nxy AS n,
                floor(ln(CAST(nxy * t * t AS DOUBLE) / CAST(b * u1.nw * u2.nw AS DOUBLE))
                      * 10000 + 0.5)/10000 AS pmi
         FROM bi
         CROSS JOIN tot
         JOIN uni u1 ON split_part(bg, ' ', 1) = u1.w
         JOIN uni u2 ON split_part(bg, ' ', 2) = u2.w
         ORDER BY n DESC, bigram LIMIT 15"""),

    // BM25 ranked retrieval: top-5 docs per query term; the postings filter
    // sits before the tf aggregate so cost tracks matches, not vocabulary
    Query("q109_bm25", (s, d) => {
      Text.bm25TopK(Tables.spread(t(s, d, "documents")), "doc_id", "text",
          Seq("the", "data", "der", "la", "model"), 5)
        .orderBy(col("term"), col("score").desc, col("doc_id"))
    },
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(tk)) AS DOUBLE) AS tt FROM tk),
         tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk)
                WHERE term IN ('the', 'data', 'der', 'la', 'model')
                GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT term, doc_id,
                floor(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                      (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / (tt / n))))
                      * 10000 + 0.5)/10000 AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN st)
         SELECT term, doc_id, score
         FROM (SELECT sc.*, row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rn
               FROM sc)
         WHERE rn <= 5
         ORDER BY term, score DESC, doc_id"""),

    // Incremental view maintenance: aggregate state from an old snapshot
    // merged with a delta batch's state — the oracle is the full
    // re-aggregation, pinning mergeAggStates ≡ aggState(old ∪ delta);
    // merge cost scales with |state| + |delta|, not history size
    Query("q110_incremental_agg", (s, d) => {
      val o    = t(s, d, "orders")
      val keys = Seq("o_orderstatus", "o_orderpriority")
      val st = Summaries.aggState(
        o.filter(col("o_orderdate") < lit("1996-01-01")), keys, Seq("o_totalprice"))
      val dl = Summaries.aggState(
        o.filter(col("o_orderdate") >= lit("1996-01-01")), keys, Seq("o_totalprice"))
      Summaries.mergeAggStates(st, dl, keys, Seq("o_totalprice"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("cnt"),
          Summaries.r4(col("sum_o_totalprice")).as("sum_price"),
          Summaries.r4(col("min_o_totalprice")).as("min_price"),
          Summaries.r4(col("max_o_totalprice")).as("max_price"),
          Summaries.r4(col("sum_o_totalprice") / col("cnt")).as("avg_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                floor(sum(o_totalprice) * 10000 + 0.5)/10000 AS sum_price,
                floor(min(o_totalprice) * 10000 + 0.5)/10000 AS min_price,
                floor(max(o_totalprice) * 10000 + 0.5)/10000 AS max_price,
                floor(sum(o_totalprice) / count(*) * 10000 + 0.5)/10000 AS avg_price
         FROM orders
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority"""),

    // Semantic dedup capstone: IVF-bucketed within-cell cosine pairs →
    // connected components → keep-one. The embedding-level analogue of the
    // q68 text pipeline; all-pairs cosine never happens — and the cell
    // count derives from the corpus (ivfCellsFor: √n at nProbe = 1), so
    // within-cell candidate volume stays O(n^1.5). The fixed-8-cell form
    // this replaces measured 6.0× cost for 3× rows in the three-point
    // suite probe (candidates O(n²/8)).
    Query("q111_semantic_dedup", (s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      val pairs = Similarity.semanticDedupPairs(
        e, "vec_id", "embedding", nCells = Similarity.ivfCellsFor(n), threshold = 0.4)
      Dedup.nearDupSurvivors(pairs, "id_a", "id_b")
        .orderBy(col("doc_id"))
    },
      """WITH RECURSIVE params AS (
           SELECT greatest(8, CAST(round(sqrt(count(embedding)::DOUBLE)) AS INT)) AS nc
           FROM embeddings),
         e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE embedding IS NOT NULL),
         seeds AS (SELECT vec_id s_id, embedding::DOUBLE[] sv FROM embeddings
                   WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         asg AS (
           SELECT vec_id, v, cell FROM (
             SELECT e.vec_id, e.v, seeds.s_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * seeds.sv[i] for i in range(1, len(e.v) + 1)]), (a, b) -> a + b)
                      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in e.v]), (a, b) -> a + b))
                         * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in seeds.sv]), (a, b) -> a + b))) DESC,
                      seeds.s_id ASC) rn
             FROM e, seeds)
           WHERE rn = 1),
         pr AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE floor(list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]), (x, y) -> x + y)
                       / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in a.v]), (x, y) -> x + y))
                          * sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x for x in b.v]), (x, y) -> x + y)))
                       * 10000 + 0.5)/10000 >= 0.4),
         edges AS (SELECT id_a AS u, id_b AS v2 FROM pr UNION SELECT id_b, id_a FROM pr),
         walk(id, root) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e2.v2, w.root FROM walk w JOIN edges e2 ON e2.u = w.id)
         SELECT id AS doc_id, min(root) AS comp, (id = min(root)) AS keep
         FROM walk GROUP BY id ORDER BY doc_id"""),

    // SCD-2 history: each customer's order sequence becomes half-open
    // validity intervals with an is_current flag — "what was true as of T"
    Query("q112_scd2", (s, d) => {
      Relational.scd2(t(s, d, "orders"), Seq("o_custkey"), "o_orderdate",
          Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
                lead(o_orderdate) OVER w AS valid_to,
                lead(o_orderdate) OVER w IS NULL AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, valid_from, o_orderkey"""),

    // OHLC downsampling: open/high/low/close of `value` per (type, day) —
    // open/close picked by the (ts, event_id) total order, so both engines
    // agree on first/last without any arithmetic in the output
    Query("q113_ohlc", (s, d) => {
      val e = t(s, d, "events").withColumn("day", date_trunc("day", col("ts")))
      val part = Seq(col("event_type"), col("day"))
      val wA = Window.partitionBy(part: _*).orderBy(col("ts").asc, col("event_id").asc)
      val wD = Window.partitionBy(part: _*).orderBy(col("ts").desc, col("event_id").desc)
      e.select(col("event_type"), col("day"), col("value"),
          row_number().over(wA).as("ra"), row_number().over(wD).as("rd"))
        .groupBy(col("event_type"), col("day"))
        .agg(max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH r AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
                  row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                     ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                     ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT event_type, day,
                max(CASE WHEN ra = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rd = 1 THEN value END) AS close,
                count(*) AS n
         FROM r GROUP BY event_type, day ORDER BY event_type, day"""),

    // Conversion funnel: per first-click cohort day, the fraction of users
    // who purchase within an hour of their first click — the first-touch
    // attribution query; the step join is an equi-join on user with a
    // residual time band, never a cross product
    Query("q114_funnel", (s, d) => {
      val ev = t(s, d, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
        .withColumn("cohort", date_trunc("day", col("fc")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pt"))
      val converted = firstClick
        .join(purchases, col("user_id") === col("pu") &&
          col("pt") >= col("fc") && col("pt") <= col("fc") + expr("INTERVAL 1 HOUR"),
          "left_semi")
        .select(col("user_id"), lit(1L).as("cv"))
      firstClick.join(converted, Seq("user_id"), "left_outer")
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("cv"), lit(0L))).as("n_converted"),
          Summaries.r4(sum(coalesce(col("cv"), lit(0L))).cast("double") / count(lit(1)))
            .as("conv_rate"))
        .orderBy(col("cohort"))
    },
      """WITH fc AS (
           SELECT user_id, min(ts) AS fc FROM events
           WHERE event_type = 'click' GROUP BY user_id),
         conv AS (
           SELECT fc.user_id FROM fc WHERE EXISTS (
             SELECT 1 FROM events p
             WHERE p.user_id = fc.user_id AND p.event_type = 'purchase'
               AND p.ts >= fc.fc AND p.ts <= fc.fc + INTERVAL 1 HOUR))
         SELECT CAST(date_trunc('day', fc) AS TIMESTAMP) AS cohort,
                count(*) AS n_users,
                CAST(count(*) FILTER (user_id IN (SELECT user_id FROM conv)) AS BIGINT) AS n_converted,
                floor(CAST(count(*) FILTER (user_id IN (SELECT user_id FROM conv)) AS DOUBLE)
                      / count(*) * 10000 + 0.5)/10000 AS conv_rate
         FROM fc GROUP BY cohort ORDER BY cohort"""),

    // Cohort retention matrix: users bucketed by first-seen week, activity
    // counted per week offset — the funnel's long-horizon companion. Week
    // arithmetic is epoch-exact in both engines (Monday-truncated weeks)
    Query("q115_retention", (s, d) => {
      val ev = t(s, d, "events")
      val firstWeek = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).as("cohort_week"))
      val active = ev
        .select(col("user_id").as("au"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      firstWeek.join(active, col("user_id") === col("au"))
        .select(col("cohort_week"), col("user_id"),
          ((unix_timestamp(col("week")) - unix_timestamp(col("cohort_week"))) / 604800L)
            .cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH fw AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
                     FROM events GROUP BY user_id),
         aw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                FROM events)
         SELECT cohort_week,
                CAST((epoch(week) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
                count(DISTINCT user_id) AS n_active
         FROM fw JOIN aw USING (user_id)
         GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset"""),

    // Token counting: whitespace vs BPE-ish pre-tokenizer regex, per lang
    Query("q23_token_count", (s, d) => {
      Tables.spread(t(s, d, "documents"))
        .select(col("lang"),
          Text.bpeishTokenCount(col("text")).as("bpe"),
          size(Text.tokens(col("text"))).cast("long").as("ws"))
        .groupBy(col("lang"))
        .agg(sum(col("bpe")).as("bpe_tokens"), sum(col("ws")).as("ws_tokens"),
          Summaries.r4(sum(col("bpe")).cast("double") / sum(col("ws"))).as("bpe_per_ws"))
        .orderBy(col("lang"))
    },
      """SELECT lang,
                CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]'))) AS BIGINT) AS bpe_tokens,
                CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS ws_tokens,
                floor(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')))::DOUBLE
                      / sum(len(string_split_regex(lower(trim(text)), '\s+'))) * 10000 + 0.5)/10000 AS bpe_per_ws
         FROM documents GROUP BY lang ORDER BY lang"""),

    // Substring-level duplication census: per doc, how many token positions
    // sit inside a 4-gram window that occurs >= 2 times corpus-wide — the
    // clip fraction a suffix-style exact substring dedup would remove
    Query("q116_ngram_dup_spans", (s, d) => {
      Text.duplicatedNgramCoverage(Tables.spread(t(s, d, "documents")), "doc_id", "text", 4)
        .orderBy(col("doc_id"))
    },
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                       FROM documents),
         wins AS (SELECT doc_id,
                         unnest(range(0, greatest(len(tk) - 3, 0))) AS pos,
                         unnest([md5(array_to_string(list_slice(tk, i, i + 3), ' '))
                                 for i in range(1, greatest(len(tk) - 3, 0) + 1)]) AS h
                  FROM base),
         dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id, tpos FROM (
                   SELECT w.doc_id, unnest([w.pos, w.pos + 1, w.pos + 2, w.pos + 3]) AS tpos
                   FROM wins w JOIN dup USING (h))),
         cnt AS (SELECT doc_id, count(*) c FROM cov GROUP BY doc_id)
         SELECT b.doc_id, len(b.tk) AS n_tokens,
                coalesce(cnt.c, 0) AS covered,
                CASE WHEN len(b.tk) > 0
                     THEN floor(coalesce(cnt.c, 0)::DOUBLE / len(b.tk) * 10000 + 0.5)/10000
                     ELSE 0.0 END AS coverage
         FROM base b LEFT JOIN cnt USING (doc_id) ORDER BY doc_id"""),

    // BPE tokenizer training, round one: top adjacent char pairs weighted
    // by word frequency — the corpus reduces to the vocab before pairs fly
    Query("q119_bpe_pairs", (s, d) => {
      Text.bpePairCounts(Tables.spread(t(s, d, "documents")), "text", 20)
        .orderBy(col("cnt").desc, col("pair"))
    },
      """WITH v AS (SELECT w, count(*) nw FROM (
                      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) w
                      FROM documents) GROUP BY w),
         p AS (SELECT nw, unnest([substr(w, i, 2) for i in range(1, len(w))]) pair
               FROM v WHERE len(w) >= 2)
         SELECT pair, CAST(sum(nw) AS BIGINT) AS cnt
         FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""),

    // Mixture-drift census: language shares of two interleaved snapshots
    // (even vs odd doc ids) with per-category PSI terms
    Query("q120_category_drift", (s, d) => {
      val docs = t(s, d, "documents")
      Summaries.categoryDrift(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1), "lang")
        .select(col("lang"),
          Summaries.r4(col("p_ref")).as("p_ref"),
          Summaries.r4(col("p_cur")).as("p_cur"),
          (floor(col("psi_term") * 1000000 + 0.5) / 1000000).as("psi_term"))
        .orderBy(col("lang"))
    },
      """WITH r AS (SELECT lang, count(*) c FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
         rn AS (SELECT CAST(count(*) AS DOUBLE) n FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT lang, count(*) c FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
         cn AS (SELECT CAST(count(*) AS DOUBLE) n FROM documents WHERE doc_id % 2 = 1),
         rs AS (SELECT lang, c / n p_ref FROM r CROSS JOIN rn),
         cs AS (SELECT lang, c / n p_cur FROM c CROSS JOIN cn)
         SELECT rs.lang, floor(p_ref * 10000 + 0.5)/10000 AS p_ref,
                floor(p_cur * 10000 + 0.5)/10000 AS p_cur,
                floor((p_cur - p_ref) * ln(p_cur / p_ref) * 1000000 + 0.5)/1000000 AS psi_term
         FROM rs JOIN cs ON rs.lang IS NOT DISTINCT FROM cs.lang
         ORDER BY rs.lang NULLS FIRST"""),

    // Substring dedup transform: q116's clip applied — non-first occurrences
    // of duplicated 4-gram windows removed, documents re-joined
    Query("q121_clip_dup_spans", (s, d) => {
      Text.clipDuplicatedSpans(Tables.spread(t(s, d, "documents")), "doc_id", "text", 4)
        .orderBy(col("doc_id"))
    },
      """WITH base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') tk
                       FROM documents),
         wins AS (SELECT doc_id,
                         unnest(range(0, greatest(len(tk) - 3, 0))) AS pos,
                         unnest([md5(array_to_string(list_slice(tk, i, i + 3), ' '))
                                 for i in range(1, greatest(len(tk) - 3, 0) + 1)]) AS h
                  FROM base),
         marked AS (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY h) occ,
                           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
                    FROM wins),
         clip AS (SELECT DISTINCT doc_id, tpos FROM (
                    SELECT doc_id, unnest([pos, pos + 1, pos + 2, pos + 3]) AS tpos
                    FROM marked WHERE occ >= 2 AND rn > 1)),
         tokpos AS (SELECT doc_id, unnest(range(0, len(tk))) tpos, unnest(tk) tok FROM base),
         kept AS (SELECT doc_id, count(*) n_kept,
                         string_agg(tok, ' ' ORDER BY tpos) clean_text
                  FROM tokpos t
                  WHERE NOT EXISTS (SELECT 1 FROM clip c
                                    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos)
                  GROUP BY doc_id)
         SELECT b.doc_id, len(b.tk) AS n_tokens,
                coalesce(k.n_kept, 0) AS n_kept,
                coalesce(k.clean_text, '') AS clean_text
         FROM base b LEFT JOIN kept k USING (doc_id) ORDER BY doc_id"""),

    // Entity-resolution scoring: part-name vocabulary, first-token blocking,
    // native byte-wise Jaro-Winkler >= 0.85 (DuckDB replays the same score)
    Query("q122_name_similarity", (s, d) => {
      Text.nameSimilarityPairs(t(s, d, "part"), "p_name", 0.85)
        .orderBy(col("name_a"), col("name_b"))
    },
      """WITH n AS (SELECT p_name nm, count(*) n FROM part GROUP BY p_name),
         p AS (SELECT nm, n, split_part(lower(trim(nm)), ' ', 1) blk FROM n)
         SELECT a.nm AS name_a, b.nm AS name_b,
                floor(jaro_winkler_similarity(a.nm, b.nm) * 10000 + 0.5)/10000 AS jw,
                a.n AS n_a, b.n AS n_b
         FROM p a JOIN p b ON a.blk = b.blk AND a.nm < b.nm
         WHERE floor(jaro_winkler_similarity(a.nm, b.nm) * 10000 + 0.5)/10000 >= 0.85
         ORDER BY name_a, name_b"""),

    // The full BPE tokenizer-TRAINING loop (q119 is just round one's
    // counting step): 8 rounds of count-pairs / argmax / merge-everywhere
    // over the persisted word-frequency vocabulary; the oracle unrolls the
    // same 8 rounds with the same spaced-symbol replace device
    Query("q203_bpe_train", (s, d) => {
      Text.bpeTrain(Tables.spread(t(s, d, "documents")), "text", 8)
        .orderBy(col("merge_rank"))
    }, bpeTrainOracle(8)),

    // Tokenizer APPLICATION — encode the corpus with the 8 trained merges:
    // rules collected to the driver (k rows), compiled to a replace chain
    // over the DISTINCT-word encode vocabulary, then a fact×dimension join
    // back (AQE broadcast-converts the vocab side) + per-doc aggregate
    Query("q204_bpe_encode", (s, d) => {
      Text.bpeEncode(Tables.spread(t(s, d, "documents")), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }, bpeEncodeOracle(8)),
  )

  /** q203's oracle: `Text.bpeTrain`'s k merge rounds unrolled as chained
    * CTEs — each round's top pair from the previous round's spaced-symbol
    * vocabulary, then the SAME single-`replace` greedy-merge device the
    * Spark side uses (see the [[graft.ops.Text.bpeTrain]] scaladoc for why
    * one left-to-right `replace` over double-space separators IS the BPE
    * merge). Data-dependent loops cannot be written in one static SQL
    * string, so the round count is fixed and unrolled — the q198/q199
    * converge-oracle trick, minus the fixpoint (BPE never converges, it
    * just stops at k).
    */
  private def bpeTrainOracle(k: Int): String = {
    val sel = (1 to k).map(r =>
      s"SELECT $r AS merge_rank, a AS sym_a, b AS sym_b, a || b AS merged, cnt FROM t$r")
      .mkString("\n         UNION ALL ")
    s"${bpeRoundsCte(k)}\n         $sel\n         ORDER BY merge_rank"
  }

  /** q204's oracle: the same k training rounds, then the encode vocabulary
    * (1-char words kept — merges never touch them), the k merges applied as
    * one nested replace chain, and the per-document word→symbol-count join.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val chain = (1 to k).foldLeft("s") { (acc, r) =>
      s"replace($acc, coalesce(' ' || (SELECT a FROM t$r) || '  ' || (SELECT b FROM t$r) || ' ', '   '), coalesce(' ' || (SELECT a || b FROM t$r) || ' ', '   '))"
    }
    s"""${bpeRoundsCte(k)},
         enc AS MATERIALIZED (
                SELECT w, len(string_split(trim($chain), '  ')) n_syms
                FROM (SELECT w, ' ' || array_to_string([substr(w, i, 1) for i in range(1, len(w) + 1)], '  ') || ' ' s
                      FROM v WHERE len(w) >= 1)),
         dw AS (SELECT doc_id, w FROM (
                  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) w
                  FROM documents) WHERE len(w) >= 1),
         cnts AS (SELECT doc_id, count(*) n_words, CAST(sum(n_syms) AS BIGINT) n_bpe_tokens
                  FROM dw JOIN enc USING (w) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(c.n_words, 0) AS BIGINT) AS n_words,
                CAST(coalesce(c.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         FROM documents d LEFT JOIN cnts c USING (doc_id)
         ORDER BY d.doc_id"""
  }

  /** Shared CTE chain for q203/q204: word-frequency vocabulary, then k
    * unrolled (pair-count → argmax `t_r` → merge-applied `w_r`) rounds.
    *
    * AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
    * every round references its predecessor several times (t_r three times
    * in w_r alone) — inlined, the unrolled chain re-expands w0 ~4^k times
    * and exhausts file handles before it exhausts patience.
    *
    * The `coalesce(…, '   ')` guards (here and in the encode chain): when
    * merges exhaust before round k, t_r is empty and its scalar subqueries
    * go NULL — an unguarded `replace(s, NULL, NULL)` NULL-poisons every
    * word (the engine side treats an exhausted round as a no-op). Three
    * consecutive spaces can never occur in a spaced-symbol string (symbols
    * are non-space, separators are double spaces, boundaries single), so
    * the sentinel pattern is a guaranteed no-match — the exhausted round
    * replays as the identity.
    */
  private def bpeRoundsCte(k: Int): String = {
    val head =
      """WITH v AS MATERIALIZED (SELECT w, count(*) nw FROM (
                      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) w
                      FROM documents) GROUP BY w),
         w0 AS MATERIALIZED (SELECT ' ' || array_to_string([substr(w, i, 1) for i in range(1, len(w) + 1)], '  ') || ' ' s,
                       nw
                FROM v WHERE len(w) >= 2)"""
    val rounds = (1 to k).map { r =>
      s""",
         t$r AS MATERIALIZED (
                 SELECT a, b, CAST(sum(nw) AS BIGINT) cnt
                 FROM (SELECT unnest(l[1:len(l)-1]) a, unnest(l[2:len(l)]) b, nw
                       FROM (SELECT string_split(trim(s), '  ') l, nw FROM w${r - 1}))
                 GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         w$r AS MATERIALIZED (
                 SELECT replace(s,
                   coalesce(' ' || (SELECT a FROM t$r) || '  ' || (SELECT b FROM t$r) || ' ', '   '),
                   coalesce(' ' || (SELECT a || b FROM t$r) || ' ', '   ')) s, nw FROM w${r - 1})"""
    }.mkString
    head + rounds
  }
}
