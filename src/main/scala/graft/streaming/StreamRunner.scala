package graft.streaming

import graft.Staging
import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** SURVEY §2.9 — Structured Streaming harness. The reference's DStream
  * model (processing-time micro-batches, DStream.scala:68-74) is restated
  * on event time: file-source `readStream` over the events parquet,
  * watermarked event-time windows, memory sink for verification.
  *
  * This is the one place a stream is started, waited on, staged or
  * checkpointed: [[run]] (AvailableNow, checkpoint, bounded wait),
  * [[scratch]] (per-invocation source + checkpoint dirs, deleted when the
  * run ends), [[stageWaves]] (one mtime-ordered file per micro-batch) and
  * [[runToTable]] (memory sink). StreamingSpec's source scan fails on
  * any other file under src/main that does one of these itself.
  *
  * Scale posture: the same code runs against a Kafka source + file sink
  * on a cluster (swap format strings); state is bounded by the watermark.
  */
object StreamRunner {

  /** Checkpoint ROOT for every streaming query's offset/commit/state
    * logs — conf-overridable: the test session points it at tmpfs so the
    * stream_* rows' per-micro-batch snapshot/delta/checksum writes stop
    * paying ext4 sync latency. Default unchanged — the driver's
    * Verify/Bench keep real-disk checkpoints; on a cluster the conf
    * points at durable storage. Checkpoint SEMANTICS (offsets, recovery,
    * exactly-once) are identical on any filesystem. */
  def ckptRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.ckptRoot", "/tmp/graft_ckpt")

  /** Number of staged time-range files = number of micro-batches each
    * streaming query processes (maxFilesPerTrigger=1). */
  val Batches = 4

  /** A run that has not finished after this long is stopped and fails. */
  private val TimeoutMs = 300000L

  /** mtime of staged wave 0; wave i is stamped i minutes later. */
  private val WaveEpochMs = 1000000000000L

  /** Scratch of one stream invocation: `src` for its staged input,
    * `ckpt` for its checkpoint, `id` a unique name (memory-sink query
    * names). */
  final case class Scratch(id: String, src: String, ckpt: String)

  /** Run `body` with a fresh [[Scratch]] and delete both dirs when it
    * ends, normally or not, so repeated Verify/Bench/suite runs leave
    * nothing behind in /tmp or the checkpoint root. Nothing is created
    * up front: writers create `src`, the stream creates `ckpt`. What
    * `body` returns must not read either dir lazily. */
  def scratch[T](spark: SparkSession, tag: String)(body: Scratch => T): T = {
    val id = s"${tag}_${System.nanoTime()}"
    val sc = Scratch(id, s"/tmp/graft_stream/$id", s"${ckptRoot(spark)}/$id")
    try body(sc) finally Seq(sc.src, sc.ckpt).foreach(p => Registry.rmTree(new java.io.File(p)))
  }

  /** Run one stream to completion: AvailableNow trigger, checkpoint at
    * `ckpt`, `.start()` (or `.toTable(table)`), then wait. A run that
    * does not finish within 300 s is stopped and fails loudly — a
    * partial sink must never masquerade as the query result. Returns the
    * terminated query. */
  def run[T](w: DataStreamWriter[T], name: String, ckpt: String,
      table: Option[String] = None): StreamingQuery = {
    val ready = w.trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
    val q = table.fold(ready.start())(ready.toTable)
    if (!q.awaitTermination(TimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query '$name' did not finish within ${TimeoutMs / 1000}s")
    }
    q
  }

  /** Run a streaming plan into a memory sink and return the sink as a
    * DataFrame. The result lives in driver memory, so the checkpoint is
    * deleted as soon as the run ends. */
  def runToTable(spark: SparkSession, df: DataFrame, name: String,
                 outputMode: String = "complete"): DataFrame = {
    scratch(spark, name) { sc =>
      run(df.writeStream.format("memory").queryName(name).outputMode(outputMode), name, sc.ckpt)
    }
    spark.table(name)
  }

  /** Stage `waves` under `dir` as ONE parquet file each
    * (`wave-0000.parquet` upwards), stamped one minute apart in wave
    * order. The file source orders by modification time, so a
    * [[waveStream]] over `dir` replays wave i as micro-batch i; a refused
    * stamp fails the staging (see Staging.stampMtime). */
  def stageWaves(dir: String, waves: Seq[DataFrame]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)): Unit
    waves.zipWithIndex.foreach { case (wave, i) =>
      val slice = new java.io.File(s"$dir/_slice_$i")
      wave.coalesce(1).write.mode("overwrite").parquet(slice.toString)
      val part = slice.listFiles().filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(f"$dir/wave-$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath): Unit
      Staging.stampMtime(dst, WaveEpochMs + i * 60000L)
      Registry.rmTree(slice)
    }
  }

  /** File stream over a staged dir, one file per micro-batch. */
  def waveStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Streaming Dataset over `$dir/events.parquet` (file source), with the
    * same nanos→micros ts normalization as Engine.events. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // Stage the events as `Batches` range-partitioned-by-ts files with
    // ascending mtimes, so the file source (which orders by modification
    // time) replays them as a REAL micro-batch sequence in event-time
    // order — watermarks and state genuinely advance across batches
    // instead of one batch swallowing everything.
    // Fingerprint-keyed, atomically-renamed staging — see graft.Staging.
    val d = Staging.once(java.nio.file.Paths.get(
      s"/tmp/graft_stream/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Staging.fingerprint(path)}")) { tmp =>
      spark.read.parquet(path)
        .repartitionByRange(Batches, col("ts"))
        .write.mode("overwrite").parquet(tmp.toString)
      // part-file index = range-partition index = time order; a refused
      // mtime stamp fails the staging (wave order would go nondeterministic)
      val parts = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        Staging.stampMtime(f, WaveEpochMs + i * 60000L)
      }
    }
    val schema = spark.read.parquet(path).schema
    val raw = waveStream(spark, d.toString, schema)
    if (schema("ts").dataType == LongType)
      // integral `div`: double division loses µs precision on ns longs
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Streaming Dataset over `$dir/documents.parquet`: the corpus staged
    * as [[Batches]] arrival waves (wave = `doc_id % Batches`) so an
    * INCREMENTAL curation pipeline sees documents arrive in a
    * deterministic batch order both engines can restate. Each staged row
    * carries its wave id in column `b`. Same fingerprint-keyed,
    * atomically-renamed staging as [[eventsStream]]. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val d = Staging.once(java.nio.file.Paths.get(
      s"/tmp/graft_stream/docs_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${Staging.fingerprint(path)}")) { tmp =>
      val docs = spark.read.parquet(path)
        .withColumn("b", pmod(col("doc_id"), lit(Batches)).cast("int"))
      stageWaves(tmp.toString, (0 until Batches).map(i => docs.filter(col("b") === i)))
    }
    waveStream(spark, d.toString, spark.read.parquet(s"$d/wave-0000.parquet").schema)
  }
}
