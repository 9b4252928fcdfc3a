package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared capability: a Spark query + (optionally) the equivalent
  * DuckDB SQL the driver's t2 harness hash-compares against.
  *
  * `bench = true` marks the headline queries Bench.scala times at sf0.1.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Registry {
  /** Collapse whitespace so oracle SQL survives JSON + logs cleanly.
    *
    * ORACLE TYPING RULE: DuckDB types a raw integer `sum(...)` as HUGEINT
    * (int128) while Spark emits BIGINT, and the harness hashes the two
    * differently even when every value is identical. Any EXPOSED oracle
    * column built from an integer sum() must be wrapped
    * `CAST(sum(...) AS BIGINT)` (count(*) is already BIGINT and needs no
    * cast; sums that feed only into a CAST(... AS DOUBLE) expression are
    * also fine). This cost six red rows in round 5 — keep the rule.
    */
  def sql(s: String): String = s.replaceAll("\\s+", " ").trim

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{array_join, transform}

  /** Render a numeric array column as one '|'-joined string of fixed-scale
    * decimal elements. The harness's tabular checker cannot sort list-valued
    * cells, so array outputs are flattened to strings on BOTH sides; the
    * DECIMAL(18,6) rendering is the one rendering Spark and DuckDB agree on
    * exactly (full scale, no scientific notation). DuckDB twin:
    * array_to_string(list_transform(l, x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), '|'). */
  def arrDecStr(c: Column): Column =
    array_join(transform(c, x => x.cast("decimal(18,6)").cast("string")), "|")

  /** Same flattening for integral/string arrays (plain cast rendering).
    * DuckDB twin: array_to_string(l, '|'). */
  def arrStr(c: Column): Column =
    array_join(transform(c, x => x.cast("string")), "|")

  /** Per-fixture scratch path for a source/sink round-trip: one dir per
    * sf dir under /tmp/graft_io, so sf0.01 and sf0.1 runs never share
    * output. */
  def ioPath(d: String, name: String): String =
    s"/tmp/graft_io/${d.replaceAll("[^a-zA-Z0-9]", "_")}/$name"

  /** Run `body` with `confs` set on the session, restoring each key's
    * previous value (or unsetting it) afterwards. Conf-variant rows must
    * run EAGERLY inside the scope: a lazy DataFrame returned from it
    * would plan under the restored confs. */
  def withConfs[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, prev) =>
      prev.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
  }

  /** Drop a managed table AND its warehouse location — the location can
    * survive from a previous JVM whose in-memory catalog is gone, and
    * CTAS refuses to reuse it. Shared by every query that creates
    * managed tables (Source/Sql3/Sql4 waves). */
  def dropManaged(s: org.apache.spark.sql.SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"/tmp/graft_warehouse/$name")
    if (loc.exists()) rmTree(loc)
  }

  /** Recursive delete — the single shared copy (warehouse drops,
    * object/sequence-file staging, stream staging + checkpoint
    * cleanup). Null-safe against listFiles returning null when a
    * directory vanishes or errors mid-walk. */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }
}
