package graft.queries

import graft.Engine.table
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Registry.sql

/** Text wave 2 (round 10) — ROUGE-1/ROUGE-2 pair scoring, overlapping
  * audio-frame features, PPMI distributional word similarity, and
  * TextRank keywords. The ROUGE half: the standard summarization/
  * contamination metric a training-eval pipeline computes between
  * candidate and reference
  * texts. Pairing is a deterministic hash sample (every 25th doc, fixed
  * +137 partner offset), the clipped-count overlap is exact integer
  * arithmetic, and scores are floor-1e6-scaled integers — no floats
  * anywhere.
  *
  * Scale posture: per-pair work is bounded by tokens-per-doc; the
  * n-gram overlap is a (pair, gram)-keyed partial agg + equi-join,
  * never a cross join of the corpus.
  */
object Text2Queries {

  /** Sample every Mth doc as a "candidate", partner offset P. */
  private val SampleMod = 25
  private val PartnerOff = 137

  val all: Seq[Q] = Seq(

    Q("text_rouge_pairs",
      (s, d) => {
        // one row per (pair, side, gram) for unigrams and bigrams, then
        // clipped-count overlap per pair: Σ min(ref_cnt, cand_cnt)
        // cached: three consumers (unigram overlap, bigram overlap,
        // sizes) — without the cache each re-derives the sample joins
        // from scratch
        val withToks = graft.functions.CacheOnce.get("rouge_wt", s, d) {
          val n = table(s, d, "documents").agg(count(lit(1)).as("corpus_n"))
          val docs = table(s, d, "documents")
            .select(col("doc_id"), split(col("text"), " ").as("w"))
          val pairs = docs
            .filter(Portable.stableHash64(col("doc_id")) % SampleMod === 0)
            .crossJoin(broadcast(n))
            .select(col("doc_id").as("ref_id"),
              ((col("doc_id") + PartnerOff) % col("corpus_n")).as("cand_id"))
          pairs
            .join(docs.select(col("doc_id").as("ref_id"), col("w").as("wa")), "ref_id")
            .join(docs.select(col("doc_id").as("cand_id"), col("w").as("wb")), "cand_id")
        }
        def grams(w: org.apache.spark.sql.Column, nGram: Int) =
          if (nGram == 1) w
          else filter(
            transform(sequence(lit(0), greatest(size(w) - nGram, lit(0))), i =>
              when(i <= size(w) - nGram,
                concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2)))),
            g => g.isNotNull)
        def overlap(nGram: Int): DataFrame = {
          val a = withToks.select(col("ref_id"), col("cand_id"),
            explode(grams(col("wa"), nGram)).as("g"))
            .groupBy(col("ref_id"), col("cand_id"), col("g"))
            .agg(count(lit(1)).as("ca"))
          val b = withToks.select(col("ref_id"), col("cand_id"),
            explode(grams(col("wb"), nGram)).as("g"))
            .groupBy(col("ref_id"), col("cand_id"), col("g"))
            .agg(count(lit(1)).as("cb"))
          a.join(b, Seq("ref_id", "cand_id", "g"))
            .groupBy(col("ref_id"), col("cand_id"))
            .agg(sum(least(col("ca"), col("cb"))).as(s"ov$nGram"))
        }
        val sizes = withToks.select(col("ref_id"), col("cand_id"),
          size(col("wa")).cast("long").as("na1"), size(col("wb")).cast("long").as("nb1"),
          greatest(size(col("wa")) - 1, lit(0)).cast("long").as("na2"),
          greatest(size(col("wb")) - 1, lit(0)).cast("long").as("nb2"))
        sizes
          .join(overlap(1), Seq("ref_id", "cand_id"), "left")
          .join(overlap(2), Seq("ref_id", "cand_id"), "left")
          .select(col("ref_id"), col("cand_id"),
            coalesce(col("ov1"), lit(0L)).as("ov1"),
            coalesce(col("ov2"), lit(0L)).as("ov2"),
            expr("CAST(coalesce(ov1, 0) * 1000000 DIV na1 AS BIGINT)").as("r1_recall_micro"),
            expr("CAST(coalesce(ov1, 0) * 1000000 DIV nb1 AS BIGINT)").as("r1_prec_micro"),
            expr("CAST(CASE WHEN na2 > 0 THEN coalesce(ov2, 0) * 1000000 DIV na2 ELSE 0 END AS BIGINT)")
              .as("r2_recall_micro"),
            expr("CAST(CASE WHEN nb2 > 0 THEN coalesce(ov2, 0) * 1000000 DIV nb2 ELSE 0 END AS BIGINT)")
              .as("r2_prec_micro"))
          .orderBy(col("ref_id"))
      },
      Some(sql(s"""WITH n AS (SELECT count(*) AS corpus_n FROM documents),
                   docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   pairs AS (SELECT d.doc_id AS ref_id,
                       (d.doc_id + $PartnerOff) % n.corpus_n AS cand_id
                     FROM docs d, n
                     WHERE ${Portable.stableHash64Sql("d.doc_id")} % $SampleMod = 0),
                   wt AS (SELECT p.ref_id, p.cand_id, a.w AS wa, b.w AS wb
                          FROM pairs p
                          JOIN docs a ON a.doc_id = p.ref_id
                          JOIN docs b ON b.doc_id = p.cand_id),
                   ga AS (SELECT ref_id, cand_id, unnest(wa) AS g FROM wt),
                   gb AS (SELECT ref_id, cand_id, unnest(wb) AS g FROM wt),
                   ov1 AS (SELECT ref_id, cand_id, CAST(sum(least(ca, cb)) AS BIGINT) AS ov1
                           FROM (SELECT ref_id, cand_id, g, count(*) AS ca FROM ga GROUP BY 1,2,3) x
                           JOIN (SELECT ref_id, cand_id, g, count(*) AS cb FROM gb GROUP BY 1,2,3) y
                             USING (ref_id, cand_id, g)
                           GROUP BY ref_id, cand_id),
                   ba AS (SELECT ref_id, cand_id, unnest(
                            list_transform(range(1, len(wa)),
                              i -> wa[i] || ' ' || wa[i+1])) AS g FROM wt),
                   bb AS (SELECT ref_id, cand_id, unnest(
                            list_transform(range(1, len(wb)),
                              i -> wb[i] || ' ' || wb[i+1])) AS g FROM wt),
                   ov2 AS (SELECT ref_id, cand_id, CAST(sum(least(ca, cb)) AS BIGINT) AS ov2
                           FROM (SELECT ref_id, cand_id, g, count(*) AS ca
                                 FROM ba GROUP BY 1, 2, 3) x
                           JOIN (SELECT ref_id, cand_id, g, count(*) AS cb
                                 FROM bb GROUP BY 1, 2, 3) y
                             USING (ref_id, cand_id, g)
                           GROUP BY ref_id, cand_id),
                   sizes AS (SELECT ref_id, cand_id,
                       CAST(len(wa) AS BIGINT) AS na1, CAST(len(wb) AS BIGINT) AS nb1,
                       CAST(greatest(len(wa) - 1, 0) AS BIGINT) AS na2,
                       CAST(greatest(len(wb) - 1, 0) AS BIGINT) AS nb2
                     FROM wt)
                   SELECT ref_id, cand_id,
                     COALESCE(ov1, 0) AS ov1, COALESCE(ov2, 0) AS ov2,
                     COALESCE(ov1, 0) * 1000000 // na1 AS r1_recall_micro,
                     COALESCE(ov1, 0) * 1000000 // nb1 AS r1_prec_micro,
                     CASE WHEN na2 > 0 THEN COALESCE(ov2, 0) * 1000000 // na2 ELSE 0 END AS r2_recall_micro,
                     CASE WHEN nb2 > 0 THEN COALESCE(ov2, 0) * 1000000 // nb2 ELSE 0 END AS r2_prec_micro
                   FROM sizes
                   LEFT JOIN ov1 USING (ref_id, cand_id)
                   LEFT JOIN ov2 USING (ref_id, cand_id)
                   ORDER BY ref_id"""))),

    // AUDIO FRAME FEATURES (speech-pipeline plumbing): the payload is a
    // deterministic synthetic PCM track (sample_j = ascii(char_j) − 100,
    // the codec-free stand-in consistent with the mm_* decode stubs),
    // framed 16 samples with hop 8 — OVERLAPPING frames, the 25ms/10ms
    // speech convention — emitting per-frame energy Σs² and the
    // zero-crossing count, the two features behind every energy-gate
    // VAD. Ragged tails are dropped (only fully-covered frames emit) so
    // both engines frame identically; all arithmetic is exact integers.
    // Scale posture: one explode bounded by samples/hop per doc; the
    // per-frame fold is a codegen'd HOF over a 16-element slice.
    Q("mm_audio_frames",
      (s, d) => {
        table(s, d, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
          .filter(col("n") >= 16)
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0L), expr("(n - 16) div 8"))).as("f"))
          .select(col("doc_id"), col("f").as("frame_idx"),
            expr("""transform(sequence(1, 16),
                      j -> CAST(ascii(substr(text, CAST(f * 8 + j AS INT), 1)) AS BIGINT) - 100)""")
              .as("sm"))
          .select(col("doc_id"), col("frame_idx"),
            expr("aggregate(sm, CAST(0 AS BIGINT), (a, x) -> a + x * x)").as("energy"),
            expr("""aggregate(sequence(2, 16), CAST(0 AS BIGINT),
                      (a, j) -> a + CASE WHEN element_at(sm, j) * element_at(sm, j - 1) < 0
                                         THEN 1 ELSE 0 END)""").as("zero_crossings"))
          .withColumn("voiced", col("energy") > 8000L)
      },
      Some(sql(s"""WITH docs AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
                     FROM documents WHERE doc_id < 50 AND length(text) >= 16),
                   fr AS (SELECT doc_id, text,
                       unnest(range(0, (n - 16) // 8 + 1)) AS frame_idx
                     FROM docs),
                   sm AS (SELECT doc_id, frame_idx,
                       list_transform(range(1, 17),
                         j -> CAST(ascii(substr(text, CAST(frame_idx * 8 + j AS INT), 1)) AS BIGINT) - 100)
                         AS sm
                     FROM fr)
                   SELECT doc_id, frame_idx,
                     CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS energy,
                     CAST(list_sum(list_transform(range(2, 17),
                       j -> CASE WHEN sm[CAST(j AS INT)] * sm[CAST(j - 1 AS INT)] < 0
                                 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
                     CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) > 8000 AS voiced
                   FROM sm"""))),

    // DISTRIBUTIONAL WORD SIMILARITY (the count-based word2vec analog,
    // Levy & Goldberg 2014: PPMI + cosine): ±2-window co-occurrence
    // counts → PPMI word vectors over the vocabulary contexts → cosine
    // between named word pairs. Every aggregate is vocabulary-bounded
    // (the corpus-growing work is ONE windowed self-join on doc+pos);
    // ln/cosine appear only on the vocabulary-sized PPMI table.
    Q("text_word_similarity",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val coocc = toks.as("a").join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id")
              && abs(col("a.pos") - col("b.pos")).between(1, 2))
          .groupBy(col("a.w").as("w"), col("b.w").as("c"))
          .agg(count(lit(1)).as("cwc"))
        val rowMarg = coocc.groupBy(col("w")).agg(sum(col("cwc")).as("cw"))
        val colMarg = coocc.groupBy(col("c")).agg(sum(col("cwc")).as("cc"))
        val tot = coocc.agg(sum(col("cwc")).as("nn"))
        val ppmi = coocc
          .join(broadcast(rowMarg), "w").join(broadcast(colMarg), "c")
          .crossJoin(broadcast(tot))
          .select(col("w"), col("c"),
            greatest(lit(0.0),
              log(col("nn").cast("double") * col("cwc").cast("double") /
                (col("cw").cast("double") * col("cc").cast("double")))).as("v"))
        val norms = ppmi.groupBy(col("w")).agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
        val targets = Seq(("join", "merge"), ("scan", "filter"),
          ("stream", "batch"), ("fast", "slow"))
        val sq = s; import sq.implicits._
        val tdf = targets.toDF("wa", "wb")
        tdf
          .join(ppmi.select(col("w").as("wa"), col("c"), col("v").as("va")), Seq("wa"))
          .join(ppmi.select(col("w").as("wb"), col("c").as("c"), col("v").as("vb")),
            Seq("wb", "c"))
          .groupBy(col("wa"), col("wb"))
          .agg(sum(col("va") * col("vb")).as("dot"))
          .join(broadcast(norms.select(col("w").as("wa"), col("nrm").as("na"))), Seq("wa"))
          .join(broadcast(norms.select(col("w").as("wb"), col("nrm").as("nb"))), Seq("wb"))
          .select(col("wa"), col("wb"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
          .orderBy(col("wa"), col("wb"))
      },
      Some(sql("""WITH toks AS (SELECT doc_id, i AS pos, l[i + 1] AS w
                      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
                           unnest(range(len(l))) AS t(i)),
                   coocc AS (SELECT a.w AS w, b.w AS c, count(*) AS cwc
                             FROM toks a JOIN toks b
                               ON a.doc_id = b.doc_id
                               AND abs(a.pos - b.pos) BETWEEN 1 AND 2
                             GROUP BY 1, 2),
                   rm AS (SELECT w, CAST(sum(cwc) AS BIGINT) AS cw FROM coocc GROUP BY w),
                   cm AS (SELECT c, CAST(sum(cwc) AS BIGINT) AS cc FROM coocc GROUP BY c),
                   tot AS (SELECT CAST(sum(cwc) AS BIGINT) AS nn FROM coocc),
                   ppmi AS (SELECT w, c,
                       greatest(0.0, ln(CAST(nn AS DOUBLE) * CAST(cwc AS DOUBLE) /
                         (CAST(cw AS DOUBLE) * CAST(cc AS DOUBLE)))) AS v
                     FROM coocc JOIN rm USING (w) JOIN cm USING (c) CROSS JOIN tot),
                   norms AS (SELECT w, sqrt(sum(v * v)) AS nrm FROM ppmi GROUP BY w),
                   targets AS (SELECT * FROM (VALUES ('join', 'merge'), ('scan', 'filter'),
                       ('stream', 'batch'), ('fast', 'slow')) AS t(wa, wb)),
                   dots AS (SELECT wa, wb, sum(pa.v * pb.v) AS dot
                     FROM targets
                     JOIN ppmi pa ON pa.w = wa
                     JOIN ppmi pb ON pb.w = wb AND pb.c = pa.c
                     GROUP BY 1, 2)
                   SELECT wa, wb,
                     round(dot / (na.nrm * nb.nrm), 6) AS cosine
                   FROM dots
                   JOIN norms na ON na.w = wa
                   JOIN norms nb ON nb.w = wb
                   ORDER BY wa, wb"""))),

    // TEXTRANK KEYWORDS (Mihalcea & Tarau 2004): weighted PageRank over
    // the word co-occurrence graph, 3 unrolled iterations of
    // PR'(w) = 0.15 + 0.85·Σ_c PR(c)·weight(c,w)/wdeg(c), top-10 words.
    // The graph is vocabulary-bounded (the corpus-growing work is the
    // one windowed self-join); each iteration is an edge-table join +
    // partial agg — the bounded-iteration Pregel shape in pure SQL.
    Q("text_textrank",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val coocc = toks.as("a").join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id")
              && abs(col("a.pos") - col("b.pos")).between(1, 2))
          .groupBy(col("a.w").as("src"), col("b.w").as("dst"))
          .agg(count(lit(1)).as("wgt"))
        val deg = coocc.groupBy(col("src")).agg(sum(col("wgt")).as("wdeg"))
        val edges = coocc.join(broadcast(deg), "src")
          .select(col("src"), col("dst"),
            (col("wgt").cast("double") / col("wdeg").cast("double")).as("share"))
        val pr0 = deg.select(col("src").as("w"), lit(1.0).as("pr"))
        def step(pr: org.apache.spark.sql.DataFrame) =
          edges.join(pr.withColumnRenamed("w", "src"), "src")
            .groupBy(col("dst").as("w"))
            .agg((lit(0.15) + lit(0.85) * sum(col("share") * col("pr"))).as("pr"))
        val pr3 = step(step(step(pr0)))
        pr3.select(col("w"), round(col("pr"), 6).as("score"))
          .orderBy(col("score").desc, col("w")).limit(10)
      },
      Some(sql("""WITH toks AS (SELECT doc_id, i AS pos, l[i + 1] AS w
                      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
                           unnest(range(len(l))) AS t(i)),
                   coocc AS (SELECT a.w AS src, b.w AS dst, count(*) AS wgt
                             FROM toks a JOIN toks b
                               ON a.doc_id = b.doc_id
                               AND abs(a.pos - b.pos) BETWEEN 1 AND 2
                             GROUP BY 1, 2),
                   deg AS (SELECT src, CAST(sum(wgt) AS BIGINT) AS wdeg
                           FROM coocc GROUP BY src),
                   edges AS (SELECT src, dst,
                       CAST(wgt AS DOUBLE) / CAST(wdeg AS DOUBLE) AS share
                     FROM coocc JOIN deg USING (src)),
                   pr0 AS (SELECT src AS w, 1.0 AS pr FROM deg),
                   pr1 AS (SELECT dst AS w, 0.15 + 0.85 * sum(share * pr) AS pr
                           FROM edges JOIN pr0 ON pr0.w = edges.src GROUP BY dst),
                   pr2 AS (SELECT dst AS w, 0.15 + 0.85 * sum(share * pr) AS pr
                           FROM edges JOIN pr1 ON pr1.w = edges.src GROUP BY dst),
                   pr3 AS (SELECT dst AS w, 0.15 + 0.85 * sum(share * pr) AS pr
                           FROM edges JOIN pr2 ON pr2.w = edges.src GROUP BY dst)
                   SELECT w, round(pr, 6) AS score
                   FROM pr3 ORDER BY score DESC, w LIMIT 10""")))
  )
}
