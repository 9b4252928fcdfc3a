package graft.queries

import graft.Engine.table
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._
import Registry.sql

/** Lexical + hybrid retrieval over `documents`/`embeddings` (beyond-
  * reference, LLM-pipeline first-class): BM25 ranking via an inverted
  * posting join, and reciprocal-rank fusion of a dense (cosine) and a
  * lexical (token-set Jaccard) ranker — the retrieval stack a training-
  * data curation team runs for decontamination lookups and
  * more-like-this corpus exploration.
  *
  * Cross-engine determinism: every score is EXACT INTEGER arithmetic
  * (the text_tfidf integer-idf trick extended to BM25's length
  * normalization) — no transcendental idf, no float accumulation, so
  * ranks agree bit-for-bit with the DuckDB oracle at any SF.
  *
  * Scale posture: the query side (terms or query docs) broadcasts; the
  * corpus side is one scan. BM25's posting join filters the tf table by
  * the broadcast term list BEFORE any shuffle, per-doc length stats join
  * on doc_id (corpus-partitioned), and every top-k is the bounded-heap
  * graft_topk aggregate — never a single-partition window.
  */
object RetrievalQueries {

  /** Shared lexical-index tables (r21, the r20 verdict's #2: kill the
    * per-trial broadcast-rebuild wall that made text_bm25_topk /
    * text_tfidf run FASTER on 8 cores than 32). A production lexical
    * index materializes exactly tf + dl + df (Lucene stores postings,
    * per-doc length norms, and per-term docFreq side by side), so all
    * three are CacheOnce signature tables built once per session:
    *
    *  - `text_tf` (doc_id, token, tf, dl, n_docs, dl_docs, avgdl_milli): the
    *    postings with the per-doc length FOLDED IN as a column (dl =
    *    Σ tf per doc ≡ the doc's token count, carried through the tf
    *    aggregate as max(dl) — no window, no second exchange) and the
    *    three corpus constants attached by a 1-row broadcast cross join
    *    at BUILD time. This deletes bm25's per-trial dl join + its
    *    broadcast build AND the per-trial 1-row st aggregate job.
    *    The cache is REPARTITIONED BY token (explicit N = the session
    *    shuffle partitions, one extra build exchange of the compact
    *    post-agg rows): the tf⋈df scoring join and the df build then
    *    ride the stored hashpartitioning(token) with ZERO per-trial
    *    exchanges — the posting-list layout every search index uses.
    *    Token-keyed skew is the same skew the per-trial join exchange
    *    already had; moving it to the once-per-session build strictly
    *    reduces how often it is paid.
    *  - `text_df` (token, df): the full-vocabulary document-frequency
    *    aggregate, built FROM the cached tf (one pass, zero exchanges —
    *    the input is already token-partitioned). It is vocabulary-sized
    *    and therefore still NEVER broadcast by tfidf (the r10 defect
    *    fence); bm25 broadcasts only the ≤|terms| rows surviving its
    *    literal term filter.
    *
    * Both scorers read the same keys through these builders (one
    * builder per key: a CacheOnce hit does not compare plans). The
    * repartition count is the session's shuffle partitions, so it is a
    * dep of both keys; text_df also depends on the text_tf DataFrame it
    * is built from, so it rebuilds whenever text_tf does. */
  private[queries] def tfIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    graft.functions.CacheOnce.get("text_tf", s, d, parts) {
      val ts = table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val tf = ts
        .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
          explode(col("ts")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      // corpus stats, computed once at build time. n_docs counts every
      // document (tfidf's N). BM25's N (dl_docs) and average length
      // cover only the docs with >= 1 token: split() never returns an
      // empty array, but a NULL text splits to NULL, explodes to no tf
      // row, and its size is -1 with ANSI off, so its dl is NULL here
      val st = ts
        .select(when(col("ts").isNotNull, size(col("ts"))).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), count(col("dl")).as("dl_docs"),
          expr("(sum(dl) * 1000) div count(dl)").as("avgdl_milli"))
      tf.repartition(parts, col("token")).crossJoin(broadcast(st))
    }
  }

  private[queries] def dfIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tf = tfIndex(s, d)
    graft.functions.CacheOnce.get("text_df", s, d,
        s.sessionState.conf.numShufflePartitions, tf) {
      tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    }
  }

  val all: Seq[Q] = Seq(

    // BM25 (k1=1.2, b=0.75) in exact integer arithmetic:
    //   N          = dl_docs, the docs with >= 1 token (the oracle's dl rows)
    //   idf        = (N * 1e6) div df                  (monotone integer idf)
    //   avgdl_milli= (total_tokens * 1e3) div N
    //   dlr        = (dl * 1e6) div avgdl_milli        (dl/avgdl in micro)
    //   tf_part    = (tf * 2.2e6) div (1e3*tf + 300 + (900*dlr) div 1e3)
    //              ≈ 1e3 * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    //   score      = Σ_terms idf * tf_part             (fits a BIGINT/double)
    // The tf table is the SAME CacheOnce signature table text_tfidf
    // builds — one tokenize pass serves both scorers.
    Q("text_bm25_topk", bench = true,
      fn = (s, d) => {
        import s.implicits._
        // tf carries dl + the corpus stats as columns (see tfIndex): the
        // r13-r20 shape joined a separate text_dl cache AND cross-joined
        // a per-trial 1-row st aggregate — two broadcast builds per
        // trial whose cost exceeded the data work at sf0.1 (the 8-core
        // inversion in PERF_r20's scaling block). Both are now index
        // columns; the only remaining per-trial broadcast builds are the
        // 9-row literal term table and the ≤|terms|-row df filter.
        val tf = tfIndex(s, d)
        val qtPairs = Seq(
          ("q1", "stream"), ("q1", "join"), ("q1", "window"),
          ("q2", "hash"), ("q2", "merge"), ("q2", "sort"),
          ("q3", "customer"), ("q3", "filter"), ("q3", "scan"))
        val qt = qtPairs.toDF("q_id", "term")
        // df for the QUERY terms = the cached full-vocabulary df index
        // filtered by the literal term list BEFORE the broadcast (build
        // side ≤ |terms|, here 9 rows, NEVER corpus-growing — the r10
        // verdict's plan defect). r20 deduplicated the literal list in
        // Scala (no LocalTableScan shuffle round); r21 replaces the
        // per-trial filter+aggregate over the tf cache with a filter
        // over the df index — the aggregate ran once per trial for a
        // corpus-static value (guide §1.2: don't recompute what a real
        // index materializes).
        val qTerms = qtPairs.map(_._2).distinct
        val dfQ = dfIndex(s, d).filter(col("token").isin(qTerms: _*))
        tf.join(broadcast(qt), col("token") === col("term"))
          .join(broadcast(dfQ), Seq("token"))
          .withColumn("idf", expr("(dl_docs * 1000000) div df"))
          .withColumn("dlr", expr("(dl * 1000000) div avgdl_milli"))
          .withColumn("tfp",
            expr("(tf * 2200000) div (1000 * tf + 300 + (900 * dlr) div 1000)"))
          .groupBy(col("q_id"), col("doc_id"))
          .agg(sum(expr("idf * tfp")).as("score"))
          .groupBy(col("q_id"))
          .agg(expr("graft_topk(CAST(score AS DOUBLE), doc_id, 10)").as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col.id").as("c_id"),
            col("col.score").cast("long").as("score"),
            (col("pos") + 1).cast("long").as("rk"))
      },
      oracle = Some(sql("""WITH qt(q_id, term) AS (VALUES
                    ('q1','stream'),('q1','join'),('q1','window'),
                    ('q2','hash'),('q2','merge'),('q2','sort'),
                    ('q3','customer'),('q3','filter'),('q3','scan')),
                  terms AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
                            FROM documents),
                  tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1,2),
                  df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
                  dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
                  st AS (SELECT count(*) AS n_docs,
                           (CAST(sum(dl) AS BIGINT) * 1000) // count(*) AS avgdl_milli
                         FROM dl),
                  scored AS (SELECT q_id, tf.doc_id,
                      CAST(sum( ((st.n_docs * 1000000) // df.df)
                        * ((tf.tf * 2200000) // (1000 * tf.tf + 300
                           + (900 * ((dl.dl * 1000000) // st.avgdl_milli)) // 1000)) )
                        AS BIGINT) AS score
                    FROM qt JOIN tf ON tf.token = qt.term
                      JOIN df ON df.token = qt.term
                      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
                    GROUP BY 1, 2)
                  SELECT * FROM (SELECT q_id, doc_id AS c_id, score,
                      CAST(row_number() OVER (PARTITION BY q_id
                           ORDER BY score DESC, doc_id) AS BIGINT) AS rk
                    FROM scored)
                  WHERE rk <= 10"""))),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack 2009, k=60) of a
    // dense ranker (embedding cosine, the sim_topk_brute shape) and a
    // lexical ranker (distinct-token Jaccard in exact integer milli) for
    // the same 10 query documents (vec_id ≡ doc_id in the testdata).
    // rrf = Σ_rankers 1e6 div (60 + rank), missing rank contributes 0 —
    // the integer-scaled spelling of 1/(60+r), order-equivalent.
    Q("sim_hybrid_rrf",
      (s, d) => {
        val e = table(s, d, "embeddings")
        val qv = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val dense = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
          .join(broadcast(qv), col("q_id") =!= col("c_id"))
          .select(col("q_id"), col("c_id"),
            round(T.cosineFast(col("q_vec"), col("c_vec")), 6).as("cos"))
          .groupBy(col("q_id"))
          .agg(expr("graft_topk(cos, c_id, 20)").as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col.id").as("c_id"),
            (col("pos") + 1).cast("long").as("rk_d"))
        val toks = table(s, d, "documents")
          .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
        val qd = toks.filter(col("doc_id") < 10)
          .select(col("doc_id").as("q_id"), col("ts").as("q_ts"))
        val lex = toks.select(col("doc_id").as("c_id"), col("ts").as("c_ts"))
          .join(broadcast(qd), col("q_id") =!= col("c_id"))
          .withColumn("ov", size(array_intersect(col("q_ts"), col("c_ts"))).cast("long"))
          .withColumn("jac", expr("(ov * 1000000) div (size(q_ts) + size(c_ts) - ov)"))
          .groupBy(col("q_id"))
          .agg(expr("graft_topk(CAST(jac AS DOUBLE), c_id, 20)").as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col.id").as("c_id"),
            (col("pos") + 1).cast("long").as("rk_l"))
        dense.join(lex, Seq("q_id", "c_id"), "full_outer")
          .withColumn("rrf", expr(
            "coalesce(1000000 div (60 + rk_d), 0) + coalesce(1000000 div (60 + rk_l), 0)"))
          .groupBy(col("q_id"))
          .agg(expr("graft_topk(CAST(rrf AS DOUBLE), c_id, 10)").as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col.id").as("c_id"),
            col("col.score").cast("long").as("rrf"),
            (col("pos") + 1).cast("long").as("rk"))
      },
      Some(sql(s"""WITH qv AS (SELECT vec_id AS q_id, embedding AS q_vec
                               FROM embeddings WHERE vec_id < 10),
                   dense AS (SELECT * FROM (SELECT q_id, c.vec_id AS c_id,
                        CAST(row_number() OVER (PARTITION BY q_id
                             ORDER BY round(${T.cosineSql("q_vec", "c.embedding")}, 6) DESC,
                                      c.vec_id) AS BIGINT) AS rk
                      FROM qv JOIN embeddings c ON q_id <> c.vec_id) WHERE rk <= 20),
                   toks AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS ts
                            FROM documents),
                   qt AS (SELECT doc_id AS q_id, ts AS q_ts FROM toks WHERE doc_id < 10),
                   lex AS (SELECT * FROM (SELECT q_id, c.doc_id AS c_id,
                        CAST(row_number() OVER (PARTITION BY q_id ORDER BY
                          (len(list_intersect(q_ts, c.ts)) * 1000000)
                            // (len(q_ts) + len(c.ts) - len(list_intersect(q_ts, c.ts))) DESC,
                          c.doc_id) AS BIGINT) AS rk
                      FROM qt JOIN toks c ON q_id <> c.doc_id) WHERE rk <= 20),
                   fused AS (SELECT coalesce(d.q_id, l.q_id) AS q_id,
                       coalesce(d.c_id, l.c_id) AS c_id,
                       CAST(coalesce(1000000 // (60 + d.rk), 0)
                          + coalesce(1000000 // (60 + l.rk), 0) AS BIGINT) AS rrf
                     FROM dense d FULL JOIN lex l
                       ON d.q_id = l.q_id AND d.c_id = l.c_id)
                   SELECT * FROM (SELECT q_id, c_id, rrf,
                       CAST(row_number() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, c_id) AS BIGINT) AS rk
                     FROM fused)
                   WHERE rk <= 10""")))
  )
}
