package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.{Engine, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs and
  * the request plan from the seed, starts this program, then checks the
  * dumped results against the DuckDB oracle and computes the metrics.
  *
  * Arguments (all `--key value`):
  *  - `work`: directory for every file this run reads or writes; holds
  *    `plan.tsv` (one request per line: input, query)
  *    and, for the ingest workload, `batch.tsv`;
  *  - `sf`: the sf0.1 corpus, the input of every request whose input is
  *    not `batch`;
  *  - `block`: requests per block of the plan (each window ends on a
  *    block boundary); `warm-blocks`: blocks of the untimed warm-up;
  *    `seconds`: length of the timed window; `cores`: k of local[k];
  *  - `trace`: 1 for the traced run; `t0-ms`: epoch ms at which set-up
  *    began (just before the inputs were generated).
  *
  * Writes `checks.tsv`, `dumps/`, `oracle/`, `requests.tsv` and
  * `summary.tsv`, plus `spans.jsonl` and `counts.jsonl` when traced. */
object Main {

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opt("work"))
    val sf = opt("sf")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val block = opt("block").toInt
    val warmBlocks = opt("warm-blocks").toInt
    val trace = opt("trace") == "1"
    val plan = Files.readAllLines(work.resolve("plan.tsv"), UTF_8).asScala.toSeq.map { l =>
      val Array(input, q) = l.split("\t")
      Request(input, q)
    }

    val tSession = System.nanoTime()
    val spark = Engine.session("perfbench", Some(s"local[$cores]"))
    val sessionMs = (System.nanoTime() - tSession) / 1e6
    val sc = spark.sparkContext
    require(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString,
      "shuffle partitions must equal the core count")

    val fns = SparkEntry.queries
    val batch: Option[DataFrame] = plan.find(_.input == "batch").map { _ =>
      val rows = Files.readAllLines(work.resolve("batch.tsv"), UTF_8).asScala.map { l =>
        val Array(id, text, lang, source, n) = l.split("\t", -1)
        Row(id.toLong, text, lang, source, n.toLong)
      }
      spark.createDataFrame(rows.asJava, DocSchema)
    }

    /** The corpus of a request's input: sf0.1, or for `batch` a fresh
      * version at `dest` that holds the sf0.1 tables plus a documents
      * table appending the batch to the sf0.1 documents. */
    def corpus(input: String, dest: Path, spans: Spans = Spans.Off): String =
      if (input != "batch") sf else spans.span("write") {
        Files.createDirectories(dest)
        Engine.TableNames.filterNot(_ == "documents").foreach { t =>
          Files.createSymbolicLink(dest.resolve(s"$t.parquet"), Paths.get(sf, s"$t.parquet"))
        }
        Engine.table(spark, sf, "documents").unionByName(batch.get)
          .write.parquet(dest.resolve("documents.parquet").toString)
        dest.toString
      }

    def version(name: String, id: Int): Path = work.resolve(s"versions/$name-$id")
    def dump(r: Request): Path = work.resolve(s"dumps/${r.input}__${r.query}")

    /** Runs `requests` in a closed loop. A request declares its query on
      * its input and writes the result to `noop`, or with `dumps` to a
      * parquet file for the output check. */
    def window(spans: Spans, name: String, secs: Double, requests: Seq[Request] = plan,
        blockSize: Int = block, dumps: Boolean = false): (Seq[Record], Long) =
      ClosedLoop.run(requests.iterator, blockSize, secs) { (id, r) =>
        sc.setJobGroup(s"$name-$id", r.input, interruptOnCancel = false)
        try spans.request(id) {
          val dir = corpus(r.input, version(name, id), spans)
          val df = spans.span("queries.declare", r.query)(fns(r.query)(spark, dir))
          spans.span("execute", r.query) {
            if (dumps) df.coalesce(1).write.mode("overwrite").parquet(dump(r).toString)
            else df.write.format("noop").mode("overwrite").save()
          }
        } finally sc.clearJobGroup()
      }

    // ---- set-up ends with one untimed pass over every distinct
    // (input, query) pair, which pays the cold CacheOnce index builds
    // and code generation
    val pairs = plan.distinct
    val tCold = System.nanoTime()
    val (coldRecords, _) = window(Spans.Off, "cold", 0, pairs, pairs.size)
    val coldMs = (System.nanoTime() - tCold) / 1e6
    val setupEndMs = System.currentTimeMillis()

    // ---- untimed warm-up, outside set-up: request latencies keep
    // falling for a while after the cold pass as the JIT compiles the
    // hot paths. Its first block, one request of every (input, query)
    // pair on the warm path, writes the results the oracle checks; the
    // rest write to noop like the timed window. A count rather than a
    // time, so that the window starts at the same point of the JIT's
    // progress on a slow host as on a fast one.
    val (checkRecords, _) = window(Spans.Off, "check", Double.PositiveInfinity,
      plan.take(block), dumps = true)
    val (warmRecords, _) = window(Spans.Off, "warm", Double.PositiveInfinity,
      plan.slice(block, warmBlocks * block))

    // ---- timed windows: the traced one first (so JIT warm-up favours
    // the untraced window and the reported overhead is not understated)
    val traced = if (!trace) None else {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      val (recs, ns) = window(t, "traced", seconds / 2)
      org.apache.spark.PerfbenchShim.drainListenerBus(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      Some((t, recs, ns))
    }
    val (records, windowNs) = window(Spans.Off, "plain", if (trace) seconds / 2 else seconds)
    val cacheMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    writeLines(work.resolve("checks.tsv"), checkRecords.map { r =>
      val dir = if (r.request.input == "batch") version("check", r.id).toString else sf
      (Seq(r.request.input, r.request.query, dir, dump(r.request).toString)
        ++ errorCols(r.error)).mkString("\t")
    })
    Files.createDirectories(work.resolve("oracle"))
    pairs.map(_.query).distinct.foreach { q =>
      SparkEntry.oracleSql.get(q).foreach(sql => Files.writeString(work.resolve(s"oracle/$q.sql"), sql))
    }

    def requestLines(name: String, recs: Seq[Record]): Seq[String] = recs.map { r =>
      (Seq(name, r.id, r.request.input, r.request.query, r.startNs, r.endNs)
        ++ errorCols(r.error)).mkString("\t")
    }
    writeLines(work.resolve("requests.tsv"), requestLines("cold", coldRecords) ++
      requestLines("check", checkRecords) ++ requestLines("warm", warmRecords) ++
      requestLines("plain", records) ++
      traced.toSeq.flatMap { case (_, recs, _) => requestLines("traced", recs) })
    writeLines(work.resolve("summary.tsv"), (Seq(
      "setup_s" -> (setupEndMs - opt("t0-ms").toLong) / 1e3,
      "engine.session_ms" -> sessionMs,
      "engine.warmup_ms" -> coldMs,
      "window_s" -> windowNs / 1e9,
      "cache_mb" -> cacheMb) ++
      traced.map { case (_, _, ns) => "traced_window_s" -> ns / 1e9 })
      .map { case (k, v) => s"$k\t$v" })

    traced.foreach { case (t, _, _) =>
      val (spans, counts) = t.resolve(id => s"traced-$id")
      writeLines(work.resolve("spans.jsonl"), spans.map { s =>
        s"""{"req":${s.req},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_us":${s.startUs},"end_us":${s.endUs},"query":"${s.query}"}"""
      })
      writeLines(work.resolve("counts.jsonl"), counts.toSeq.sortBy(_._1).map { case (r, m) =>
        (s""""req":$r""" +: m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" })
          .mkString("{", ",", "}")
      })
    }
    spark.stop()
  }

  /** Exception class and message as two TSV columns (empty when none). */
  private def errorCols(e: Option[(String, String)]): Seq[String] = {
    val (cls, msg) = e.getOrElse(("", ""))
    Seq(cls, msg.replaceAll("\\s+", " ").take(400))
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.asJava, UTF_8): Unit
}
