package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** SURVEY §2.9 — Structured Streaming harness. The reference's DStream
  * model (processing-time micro-batches, DStream.scala:68-74) is restated
  * on event time: file-source `readStream` over the events parquet,
  * watermarked event-time windows, memory sink for verification.
  *
  * Scale posture: the same code runs against a Kafka source + file sink
  * on a cluster (swap format strings); state is bounded by the watermark.
  */
object StreamRunner {

  /** Checkpoint ROOT for every streaming query's offset/commit/state
    * logs — conf-overridable (r21, r20 verdict #1): the test session
    * points it at tmpfs so the 34 stream_* rows' per-micro-batch
    * snapshot/delta/checksum writes (each row's declaration runs its
    * stream, once per suite run in RegistrySpec, whose pass also feeds
    * the eager and window censuses) stop paying ext4 sync latency.
    * Default unchanged — the driver's Verify/Bench keep real-disk
    * checkpoints; on a cluster the conf points at durable storage.
    * Checkpoint SEMANTICS (offsets, recovery, exactly-once) are
    * identical on any filesystem. */
  def ckptRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.ckptRoot", "/tmp/graft_ckpt")

  /** Streaming Dataset over `$dir/events.parquet` (file source), with the
    * same nanos→micros ts normalization as Engine.events. */
  /** Number of staged time-range files = number of micro-batches each
    * streaming query processes (maxFilesPerTrigger=1). */
  val Batches = 4

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // Stage the events as `Batches` range-partitioned-by-ts files with
    // ascending mtimes, so the file source (which orders by modification
    // time) replays them as a REAL micro-batch sequence in event-time
    // order — watermarks and state genuinely advance across batches
    // instead of one batch swallowing everything.
    // Fingerprint-keyed, atomically-renamed staging — see graft.Staging.
    val d = graft.Staging.once(java.nio.file.Paths.get(
      s"/tmp/graft_stream/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${graft.Staging.fingerprint(path)}")) { tmp =>
      spark.read.parquet(path)
        .repartitionByRange(Batches, col("ts"))
        .write.mode("overwrite").parquet(tmp.toString)
      // part-file index = range-partition index = time order; a refused
      // mtime stamp fails the staging (wave order would go nondeterministic)
      val parts = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        graft.Staging.stampMtime(f, 1000000000000L + i * 60000L)
      }
    }
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString)
    if (schema("ts").dataType == LongType)
      // integral `div`: double division loses µs precision on ns longs
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Streaming Dataset over `$dir/documents.parquet`: the corpus staged
    * as [[Batches]] arrival waves (wave = `doc_id % Batches`, one file
    * per wave, ascending mtimes) so an INCREMENTAL curation pipeline
    * sees documents arrive in a deterministic batch order both engines
    * can restate. Each staged row carries its wave id in column `b`.
    * Same fingerprint-keyed, atomically-renamed staging as
    * [[eventsStream]]. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val d = graft.Staging.once(java.nio.file.Paths.get(
      s"/tmp/graft_stream/docs_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${graft.Staging.fingerprint(path)}")) { tmp =>
      java.nio.file.Files.createDirectories(tmp): Unit
      val docs = spark.read.parquet(path)
        .withColumn("b", pmod(col("doc_id"), lit(Batches)).cast("int"))
      (0 until Batches).foreach { i =>
        val slice = java.nio.file.Paths.get(s"$tmp/_slice_$i")
        docs.filter(col("b") === i).coalesce(1)
          .write.mode("overwrite").parquet(slice.toString)
        val part = new java.io.File(slice.toString).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dst = tmp.resolve(f"wave-$i%04d.parquet")
        java.nio.file.Files.move(part.toPath, dst): Unit
        graft.Staging.stampMtime(dst.toFile, 1000000000000L + i * 60000L)
        graft.queries.Registry.rmTree(slice.toFile)
      }
    }
    val schema = spark.read.parquet(s"$d/wave-0000.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString)
  }

  /** Run a streaming plan to completion (AvailableNow) into a memory sink
    * and return the sink as a DataFrame. */
  def runToTable(spark: SparkSession, df: DataFrame, name: String,
                 outputMode: String = "complete"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"${ckptRoot(spark)}/$name-${System.nanoTime()}")
      .start()
    val finished = q.awaitTermination(300000)
    if (!finished) {
      // fail loudly: a partial memory sink must never masquerade as the
      // query result
      q.stop()
      throw new IllegalStateException(s"streaming query '$name' did not finish within 300s")
    }
    spark.table(name)
  }
}
