package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Deterministic rotation slice (r18 verdict #3 — the standing
    * third-scale-point protocol): `slice:k/n` selects the rows whose
    * name falls in rotation class k of n. Keyed on String.hashCode
    * (SPEC-FIXED in Java — s[0]*31^(n-1)+…— so the same k/n selects the
    * same rows on every JVM and every round), floorMod for negatives.
    * Used to run a rotating quarter of the registry against the derived
    * 3× corpus each round; the cursor lives in COVERAGE.md. */
  private def inSlice(spec: String, name: String): Boolean = spec match {
    case s if s.startsWith("slice:") =>
      // fail fast with a usage message on a malformed spec (r19 ADVICE:
      // `slice:a/b` threw NumberFormatException and `slice:0/0` threw
      // ArithmeticException from deep inside the run) — reject before
      // any query executes rather than aborting mid-dump.
      val kn = s.stripPrefix("slice:").split("/")
      val parsed = kn match {
        case Array(ks, ns) => (ks.toIntOption, ns.toIntOption) match {
          case (Some(k), Some(n)) if n > 0 && k >= 0 && k < n => Some((k, n))
          case _ => None
        }
        case _ => None
      }
      parsed match {
        case Some((k, n)) => java.lang.Math.floorMod(name.hashCode, n) == k
        case None =>
          System.err.println(
            s"[verify] bad slice spec '$s': expected slice:k/n with n > 0 and 0 <= k < n")
          sys.exit(2)
      }
    case _ => spec == name
  }

  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in an oracle's SQL would
    * otherwise make json.load reject oracle_sql.json and silently zero
    * the correctness result. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = Engine.session("graft-verify", Engine.localMaster)
    new java.io.File(outDir).mkdirs()
    // every failed query → {class, message}, written to errors.json
    // ({} on a clean run) as well as printed
    val errors = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.exists(inSlice(_, name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"${jsonString(name)}: {\"class\": ${jsonString(e.getClass.getName)}, " +
            s"\"message\": ${jsonString(String.valueOf(e.getMessage))}}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/errors.json"), errors.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
