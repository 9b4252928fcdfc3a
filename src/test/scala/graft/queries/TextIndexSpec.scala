package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lexical index's corpus statistics (RetrievalQueries.tfIndex)
  * match each scorer's oracle on a corpus with a NULL-text document:
  * tfidf's N counts every document, BM25's N and average length only
  * the documents that contribute tf rows. */
class TextIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("tfIndex corpus stats on a NULL-text document: tfidf counts it, bm25 skips it") {
    // a NULL text splits to NULL: no tf row, and size(NULL) = -1 with
    // ANSI off, which must not reach BM25's N or sum(dl)
    val dir = s"/tmp/graft_textindex/nulltext_${System.nanoTime()}"
    try {
      val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(20)
      docs.union(docs.limit(1)
          .withColumn("doc_id", lit(-1L))
          .withColumn("text", lit(null).cast("string")))
        .write.parquet(s"$dir/documents.parquet")
      val all = spark.read.parquet(s"$dir/documents.parquet")
      val nAll = all.count()
      assert(nAll === 21L)
      val expected = all
        .filter(col("text").isNotNull)
        .select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)), expr("(sum(dl) * 1000) div count(1)"))
        .head()
      assert(expected.getLong(0) === 20L)
      val st = RetrievalQueries.tfIndex(spark, dir)
        .select(col("n_docs"), col("dl_docs"), col("avgdl_milli")).distinct().collect()
      assert(st.length === 1)
      assert((st(0).getLong(0), st(0).getLong(1), st(0).getLong(2)) ===
        ((nAll, expected.getLong(0), expected.getLong(1))))

      // text_tfidf's oracle takes N = count(*) FROM documents
      val scored = SparkEntry.queries("text_tfidf")(spark, dir)
        .select(col("tf"), col("df"), col("score")).collect()
      assert(scored.nonEmpty)
      scored.foreach { r =>
        assert(r.getLong(2) === r.getLong(0) * ((nAll * 1000000L) / r.getLong(1)))
      }
    } finally Registry.rmTree(new java.io.File(dir))
  }
}
