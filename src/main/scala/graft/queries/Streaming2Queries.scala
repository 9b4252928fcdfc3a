package graft.queries

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import Registry.sql

/** Round-11 streaming wave 2 — the State Data Source (Spark 4's
  * `format("statestore")` reader): after a streaming aggregation runs to
  * completion, its CHECKPOINTED STATE is read back as a plain batch
  * DataFrame — the operational surface for state inspection, debugging
  * and repair a production streaming deployment needs. The state rows
  * (key = group key, value = aggregation buffer) must equal the batch
  * aggregation of the same input — pinning that (a) the checkpoint holds
  * exactly the final state and (b) the reader decodes the buffer
  * faithfully. Buffer columns are positional (`value.*` order follows
  * the agg declaration), renamed via toDF.
  */
object Streaming2Queries {

  val all: Seq[Q] = Seq(

    Q("stream_state_source",
      (s, d) => {
        val name = s"statesrc2_${math.abs(d.hashCode)}"
        // Deterministic per-query checkpoint path, PRE-CLEANED on every
        // invocation: the statestore reader is lazy, so the checkpoint
        // cannot be deleted inside the query fn — a nanotime-suffixed dir
        // would accumulate one copy per run forever (r11 advice).
        val ckpt = s"${StreamRunner.ckptRoot(s)}/$name"
        Registry.rmTree(new java.io.File(ckpt))
        val agg = StreamRunner.eventsStream(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        StreamRunner.run(agg.writeStream.format("memory").queryName(name)
          .outputMode("complete"), name, ckpt)
        s.read.format("statestore").load(ckpt)
          .select(col("key.*"), col("value.*"))
          .toDF("user_id", "n_events", "cents")
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM events GROUP BY user_id"""))),

    // State CHANGE FEED: the per-batch changelog of the same aggregation
    // (readChangeFeed from batch 0). Replaying the log — keeping each
    // key's LAST change — must reconstruct the final state exactly, the
    // contract an incremental downstream consumer (CDC to a serving
    // store) depends on. The last-change pick is a groupBy max(batch_id)
    // + self-join on (key, batch), not a global window.
    Q("stream_state_change_feed",
      (s, d) => {
        val name = s"statecf2_${math.abs(d.hashCode)}"
        // Deterministic pre-cleaned checkpoint — see stream_state_source.
        val ckpt = s"${StreamRunner.ckptRoot(s)}/$name"
        Registry.rmTree(new java.io.File(ckpt))
        val agg = StreamRunner.eventsStream(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        StreamRunner.run(agg.writeStream.format("memory").queryName(name)
          .outputMode("complete"), name, ckpt)
        val feed = s.read.format("statestore")
          .option("readChangeFeed", "true")
          .option("changeStartBatchId", "0")
          .load(ckpt)
          .select(col("batch_id"), col("change_type"),
            col("key.user_id").as("user_id"), col("value.*"))
          .toDF("batch_id", "change_type", "user_id", "n_events")
        val last = feed.groupBy(col("user_id")).agg(max(col("batch_id")).as("batch_id"))
        feed.join(last, Seq("user_id", "batch_id"))
          .filter(col("change_type") === "update")
          .select(col("user_id"), col("n_events"))
      },
      Some(sql("""SELECT user_id, count(*) AS n_events
                  FROM events GROUP BY user_id"""))),

    // STREAMING-NATIVE curation (r11 verdict #6): the incremental twin of
    // pipe_curation_funnel. Documents arrive in deterministic waves
    // (StreamRunner.documentsStream, wave = doc_id % 4); the stream
    // applies exact-hash dedup with keep-FIRST semantics (streaming
    // dropDuplicates state: one row per distinct md5 — a later wave's
    // copy of an earlier wave's text is dropped) and flags each survivor
    // with the Pipeline7 learned quality score (a pure scan-stage
    // projection — streaming-safe, zero extra state). The result is the
    // per-wave survival census: raw arrivals, dedup survivors first seen
    // in that wave, quality keepers among them, and their token budget.
    // The oracle restates keep-first as min(wave) per distinct hash.
    //
    // Scale posture: dedup state is the distinct-hash set — the exact
    // semantics' irreducible state, hash-partitioned by Spark's state
    // store (production would bound it with
    // dropDuplicatesWithinWatermark when re-arrival is time-bounded, the
    // stream_dedup_within_watermark row); the quality score adds no
    // state; the census is a bounded-cardinality (4-row) aggregate.
    Q("stream_curation_census",
      (s, d) => {
        val flagged = StreamRunner.documentsStream(s, d)
          .withColumn("h", md5(col("text")))
          .dropDuplicates("h")
          .select(col("b"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            (expr(Pipeline7Queries.clfSpark) >= 0L).as("keep"))
        val sink = StreamRunner.runToTable(s, flagged,
          s"scur_${math.abs(d.hashCode)}", "append")
        val survivors = sink.groupBy(col("b"))
          .agg(count(lit(1)).as("n_dedup"),
            expr("CAST(count_if(keep) AS BIGINT)").as("n_quality"),
            expr("CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT)")
              .as("tok_quality"))
        val raw = graft.Engine.table(s, d, "documents")
          .groupBy(pmod(col("doc_id"), lit(4)).cast("int").as("b"))
          .agg(count(lit(1)).as("n_raw"))
        raw.join(survivors, Seq("b"))
          .select(col("b").cast("long").as("b"), col("n_raw"),
            col("n_dedup"), col("n_quality"), col("tok_quality"))
      },
      Some(sql(s"""
        WITH waved AS (SELECT doc_id, text, doc_id % 4 AS b FROM documents),
             firsts AS (SELECT min(b) AS b, min(text) AS text,
                          CAST(min(len(string_split(text, ' '))) AS BIGINT) AS n_tok
                        FROM waved GROUP BY md5(text)),
             flags AS (SELECT b, n_tok, ${Pipeline7Queries.clfDuck} >= 0 AS keep
                       FROM firsts),
             ded AS (SELECT b, count(*) AS n_dedup,
                       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_quality,
                       CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT)
                         AS tok_quality
                     FROM flags GROUP BY b),
             raw AS (SELECT doc_id % 4 AS b, count(*) AS n_raw
                     FROM documents GROUP BY 1)
        SELECT CAST(r.b AS BIGINT) AS b, r.n_raw,
               d.n_dedup, d.n_quality, d.tok_quality
        FROM raw r JOIN ded d ON r.b = d.b"""))),

    // Streaming twin of pipe_quality_psi — drift monitoring ON INGEST:
    // each arrival wave's classifier-score distribution is compared to
    // wave 0 (the reference release) by Population Stability Index. The
    // STREAMING side keeps only the (wave, bucket) count histogram —
    // ≤ 4×9 rows of state regardless of corpus size (bucket =
    // score div 50 clamped to ±4, Laplace-smoothed downstream) — and
    // the PSI itself is a bounded batch post-process over the sink.
    // The oracle recomputes the identical grid from the raw table.
    Q("stream_quality_psi",
      (s, d) => {
        val scored = StreamRunner.documentsStream(s, d)
          .select(col("b"), expr(
            s"least(greatest(CAST(floor((${Pipeline7Queries.clfSpark}) / 50.0) AS INT), -4), 4)")
            .as("bkt"))
        val hist = scored.groupBy(col("b"), col("bkt")).count()
        val sink = StreamRunner.runToTable(s, hist,
          s"spsi_${math.abs(d.hashCode)}", "complete")
        sink.createOrReplaceTempView("graft_spsi_hist")
        s.sql(sql(psiOverHist(
          "SELECT CAST(b AS INT) AS b, bkt, CAST(count AS DOUBLE) AS n FROM graft_spsi_hist")))
      },
      Some(sql(psiOverHist(s"""
        SELECT CAST(doc_id % 4 AS INT) AS b,
               least(greatest(CAST(floor((${Pipeline7Queries.clfDuck}) / 50.0) AS INT), -4), 4) AS bkt,
               CAST(count(*) AS DOUBLE) AS n
        FROM documents GROUP BY 1, 2"""))))
  )

  /** Per-wave PSI vs wave 0 over a (b, bkt, n) histogram — identical
    * text on both engines; only the histogram source differs. */
  private def psiOverHist(histSql: String): String = s"""
    WITH hist AS ($histSql),
         t AS (SELECT b, sum(n) AS tot FROM hist GROUP BY b),
         bkts AS (SELECT DISTINCT bkt FROM hist),
         wv AS (SELECT DISTINCT b FROM hist WHERE b > 0),
         grid AS (SELECT wv.b, bkts.bkt FROM wv CROSS JOIN bkts),
         j AS (SELECT g.b, g.bkt,
                 coalesce(hn.n, 0) AS nn, coalesce(hr.n, 0) AS nr,
                 tn.tot AS tn, tr.tot AS tr
               FROM grid g
               LEFT JOIN hist hn ON hn.b = g.b AND hn.bkt = g.bkt
               LEFT JOIN hist hr ON hr.b = 0 AND hr.bkt = g.bkt
               JOIN t tn ON tn.b = g.b
               JOIN t tr ON tr.b = 0)
    SELECT CAST(b AS BIGINT) AS b,
           round(sum( ((nn + 1.0) / (tn + 9.0) - (nr + 1.0) / (tr + 9.0))
                * ln(((nn + 1.0) / (tn + 9.0))
                     / ((nr + 1.0) / (tr + 9.0))) ), 6) AS psi
    FROM j GROUP BY b"""
}
