package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks (tokenization, quality metrics, SimHash,
  * char n-grams, LSH hyperplanes), each with a Spark `Column` form and a
  * DuckDB SQL-string twin so every operator stays oracle-checkable.
  *
  * Scale posture: everything here is a per-row expression chain over the
  * scan (no shuffle, no UDF); SimHash/minhash signatures are tiny fixed-
  * width values, so the downstream dedup joins shuffle signatures, not
  * documents.
  */
object TextFunctions {

  /** Whitespace tokens — the reference's only tokenizer-ish surface was
    * string ops (stringOperations.scala); this is the pipeline extension. */
  def tokens(text: Column): Column = split(text, " ")
  def tokensSql(e: String): String = s"string_split($e, ' ')"

  // Small per-language stopword lists for the n-gram/stopword language-ID
  // heuristic. Single source of truth for Spark + oracle.
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
  val StopwordsFr = Seq("le", "la", "les", "et", "est", "un", "une", "des")
  val StopwordsEs = Seq("el", "los", "las", "y", "es", "como", "por", "una")

  /** Count (with multiplicity) of tokens that appear in `words`. */
  def tokenHits(toks: Column, words: Seq[String]): Column =
    aggregate(
      transform(toks, t => when(t.isin(words: _*), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)

  def tokenHitsSql(toksExpr: String, words: Seq[String]): String = {
    val inList = words.map(w => s"'$w'").mkString(", ")
    s"CAST(list_sum(list_transform($toksExpr, t -> CASE WHEN t IN ($inList) THEN 1 ELSE 0 END)) AS BIGINT)"
  }

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token (a crude merge-free BPE lower bound).
    * NOTE (r20 optimization pass): regexp_count looks like the
    * allocation-free spelling, but Spark 4's RegExpCount is
    * RuntimeReplaceable and desugars to EXACTLY this
    * size(regexp_extract_all(…)) — verified in the 4.1.2 catalyst jar —
    * so there is no cheaper built-in; a no-op rewrite was tried and
    * reverted. */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRegex), lit(0))).cast("long")
  def bpeTokenCountSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '$BpeTokenRegex')) AS BIGINT)"

  /** 16-bit SimHash over the distinct whitespace tokens: bit b is set when
    * the (+1/-1) vote of token-hash bit b is positive. Near-identical docs
    * land on equal signatures (token multiset barely changes the votes). */
  val SimHashBits = 16
  def simhash(text: Column): Column = simhashOf(array_distinct(tokens(text)))

  /** SimHash over an ALREADY-DISTINCT feature array (tokens, n-grams,
    * byte-gram stand-ins) — the generalized form shared by text and
    * binary-payload signatures. */
  def simhashOf(feats: Column): Column = {
    val bitCols = (0 until SimHashBits).map { b =>
      val vote = aggregate(
        transform(feats, t =>
          when(shiftright(Portable.stableHash64(t), b).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L)),
        lit(0L), (acc, x) => acc + x)
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** SimHash from PRE-COMPUTED 60-bit feature hashes — callers stage
    * `transform(feats, Portable.stableHash64)` as its own projection so
    * the md5 work happens once, not once per bit (16× less hashing; the
    * per-bit vote is a nearly-free shift+mask). */
  def simhashOfHashes(hs: Column): Column = {
    val bitCols = (0 until SimHashBits).map { b =>
      val vote = aggregate(
        transform(hs, h =>
          when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        lit(0L), (acc, x) => acc + x)
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** DuckDB twin — `hsExpr` references a staged list of 60-bit hashes. */
  def simhashOfHashesSql(hsExpr: String): String =
    (0 until SimHashBits).map { b =>
      val vote = s"list_sum(list_transform($hsExpr, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END))"
      s"(CASE WHEN $vote > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  def simhashSql(e: String): String = simhashOfSql(s"list_distinct(${tokensSql(e)})")

  /** DuckDB twin of simhashOf — `featsExpr` should reference a staged,
    * already-distinct list column (recomputing the list per bit is 16×
    * the work). */
  def simhashOfSql(featsExpr: String): String =
    (0 until SimHashBits).map { b =>
      val vote = s"list_sum(list_transform($featsExpr, t -> CASE WHEN (${Portable.stableHash64Sql("t")} >> $b) & 1 = 1 THEN 1 ELSE -1 END))"
      s"(CASE WHEN $vote > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  /** Distinct character 4-grams (for exact n-gram Jaccard). */
  def charNgrams(text: Column, n: Int = 4): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  def charNgramsSql(e: String, n: Int = 4): String =
    s"list_distinct(list_transform(range(1, greatest(length($e) - ${n - 2}, 2)), i -> substr($e, i, $n)))"

  /** Exact Jaccard of two pre-distinct string arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")
  def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / CAST(len(list_distinct($a || $b)) AS DOUBLE))"

  // ---- Embedding similarity ----------------------------------------------

  /** Cosine similarity of two float-array columns, computed in double with
    * a sequential fold so Spark and DuckDB agree bit-for-bit. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Native codegen'd cosine (graft.plans.CosineSim, registered by
    * Engine.session) — bit-identical to `cosine` but one primitive
    * loop, no intermediate arrays. Preferred in scan-stage hot paths. */
  def cosineFast(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  def cosineSql(a: String, b: String): String =
    s"(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) / " +
      s"(sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) * " +
      s"sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))"

  // ---- Random-hyperplane LSH ---------------------------------------------
  // Deterministic pseudo-random planes (LCG over the flat index) shared by
  // both engines as inline literals: at scale these are a broadcast-free
  // constant folded into the projection.

  val LshPlanes = 8
  val Dim = 64

  def planeValue(plane: Int, i: Int): Double = {
    val k = plane * Dim + i
    (((k * 2654435761L + 1013904223L) % 2001 + 2001) % 2001 - 1000) / 1000.0
  }

  /** LSH bucket id: sign bits of the 8 hyperplane projections. */
  def lshBucket(vec: Column): Column =
    (0 until LshPlanes).map { p =>
      val planeArr = array((0 until Dim).map(i => lit(planeValue(p, i))): _*)
      val proj = aggregate(zip_with(vec, planeArr, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucketSql(e: String): String =
    (0 until LshPlanes).map { p =>
      val planeArr = (0 until Dim).map(i => planeValue(p, i)).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST($e AS DOUBLE[]), $planeArr) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS BIGINT)")
}
