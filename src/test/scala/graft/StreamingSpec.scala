package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/stream unification check (the §2.9 contract): the REAL
  * Structured Streaming pipeline over the events file source produces
  * exactly the batch result of the same plan. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("streaming tumbling-window counts equal the batch computation") {
    val streamed = StreamRunner.runToTable(
      spark,
      StreamRunner.eventsStream(spark, TestSpark.Sf)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "spec_tumbling")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(_.toString).toSet

    val batch = Engine.events(spark, TestSpark.Sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(_.toString).toSet

    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("file source replays as a multi-batch sequence (maxFilesPerTrigger)") {
    import org.apache.spark.sql.streaming.Trigger
    StreamRunner.scratch(spark, "spec_batches") { sc =>
      val q = StreamRunner.eventsStream(spark, TestSpark.Sf)
        .groupBy(col("event_type")).count()
        .writeStream.format("memory").queryName("spec_batches").outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", sc.ckpt)
        .start()
      assert(q.awaitTermination(300000))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= StreamRunner.Batches,
        s"expected >= ${StreamRunner.Batches} data batches, saw $dataBatches")
    }
  }

  test("curation census stream processes the corpus as >= 4 arrival waves") {
    StreamRunner.scratch(spark, "spec_curation") { sc =>
      // the oracle proves the VALUES; this pins the streaming-ness — the
      // dedup state genuinely spans multiple micro-batches (keep-first
      // across waves), not one batch swallowing the whole corpus
      import org.apache.spark.sql.streaming.Trigger
      val q = StreamRunner.documentsStream(spark, TestSpark.Sf)
        .withColumn("h", md5(col("text")))
        .dropDuplicates("h")
        .groupBy(col("b")).count()
        .writeStream.format("memory").queryName("spec_curation_waves")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", sc.ckpt)
        .start()
      assert(q.awaitTermination(300000))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= StreamRunner.Batches,
        s"expected >= ${StreamRunner.Batches} waves, saw $dataBatches")
      // every wave contributed first-seen hashes
      assert(spark.table("spec_curation_waves").count() === StreamRunner.Batches)
    }
  }

  test("quality-PSI histogram stream processes >= 4 waves with bounded state") {
    StreamRunner.scratch(spark, "spec_psi") { sc =>
      // stream_quality_psi's streaming-ness + state bound: the (wave,
      // bucket) histogram accumulates across >= 4 genuine micro-batches
      // and never exceeds the 4×9 bucket-domain cardinality.
      import org.apache.spark.sql.streaming.Trigger
      val q = StreamRunner.documentsStream(spark, TestSpark.Sf)
        .select(col("b"), expr(
          s"least(greatest(CAST(floor((${graft.queries.Pipeline7Queries.clfSpark}) / 50.0) AS INT), -4), 4)")
          .as("bkt"))
        .groupBy(col("b"), col("bkt")).count()
        .writeStream.format("memory").queryName("spec_psi_waves")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", sc.ckpt)
        .start()
      assert(q.awaitTermination(300000))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= StreamRunner.Batches,
        s"expected >= ${StreamRunner.Batches} waves, saw $dataBatches")
      val hist = spark.table("spec_psi_waves").count()
      assert(hist <= StreamRunner.Batches * 9L,
        s"histogram state exceeded the bucket domain: $hist rows")
      assert(hist >= StreamRunner.Batches.toLong,
        s"expected at least one bucket per wave, got $hist")
    }
  }

  test("rate source drives a non-file streaming input end-to-end") {
    StreamRunner.scratch(spark, "spec_rate") { sc =>
      // the non-file input path (reference external/ receivers analog):
      // the generator source feeds a windowless aggregate into a memory
      // sink; liveness + monotonic totals are the contract (values are
      // wall-clock dependent, so no oracle)
      val q = spark.readStream.format("rate")
        .option("rowsPerSecond", "500").option("numPartitions", "2")
        .load()
        .groupBy((col("value") % 10).as("m")).count()
        .writeStream.format("memory").queryName("spec_rate").outputMode("complete")
        .option("checkpointLocation", sc.ckpt)
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        var n = 0L
        while (n == 0L && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          n = spark.table("spec_rate").count()
        }
        assert(n > 0, "rate source produced no aggregated rows within 60s")
      } finally q.stop()
    }
  }

  test("socket source streams lines from a TCP server end-to-end") {
    StreamRunner.scratch(spark, "spec_socket") { sc =>
      // the third non-file input path (alongside rate): a real TCP feed
      // into a windowless aggregate; the contract is that every line the
      // server wrote is eventually counted exactly once
      val server = new java.net.ServerSocket(0)
      // the feeder holds the connection open until the polling loop below
      // SIGNALS it has observed all 50 lines (latch), not for a fixed
      // sleep — a loaded machine can take arbitrarily long to drain, and
      // closing early would reset the socket source mid-stream
      val drained = new java.util.concurrent.CountDownLatch(1)
      val feeder = new Thread(() => {
        try {
          val sock = server.accept()
          val out = new java.io.PrintWriter(sock.getOutputStream, true)
          (1 to 50).foreach(i => out.println(s"evt${i % 5}"))
          out.flush()
          drained.await(120, java.util.concurrent.TimeUnit.SECONDS)
          sock.close()
        } catch { case _: Throwable => () }
      })
      feeder.setDaemon(true)
      feeder.start()
      val q = spark.readStream.format("socket")
        .option("host", "localhost").option("port", server.getLocalPort)
        .load()
        .groupBy(col("value")).count()
        .writeStream.format("memory").queryName("spec_socket").outputMode("complete")
        .option("checkpointLocation", sc.ckpt)
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        var total = 0L
        while (total < 50L && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          val rows = spark.table("spec_socket").collect()
          total = rows.map(_.getLong(1)).sum
        }
        drained.countDown() // all 50 observed (or deadline) — feeder may close
        val counts = spark.table("spec_socket").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts.values.sum === 50L, s"socket lines lost or duplicated: $counts")
        assert(counts.size === 5 && counts.values.forall(_ === 10L), counts.toString)
      } finally {
        q.stop()
        server.close()
      }
    }
  }

  test("aggregation restarted from its checkpoint resumes exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    // Two-phase replay: stage HALF the corpus, run an AvailableNow
    // aggregation to completion (offsets + state land in the
    // checkpoint), then add the remaining files and RESTART with the
    // SAME checkpoint. The restarted query must resume from recorded
    // offsets and recovered state: the final aggregate equals the batch
    // answer over the full corpus — no loss (missed files) and no
    // duplication (re-read files would double counts).
    StreamRunner.scratch(spark, "spec_recovery") { sc =>
      val events = Engine.events(spark, TestSpark.Sf)
        .select(col("user_id"), col("event_id"))
      val half1 = events.filter(col("event_id") % 2 === 0)
      val half2 = events.filter(col("event_id") % 2 === 1)
      half1.coalesce(1).write.mode("overwrite").parquet(sc.src)
      val schema = spark.read.parquet(sc.src).schema
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(sc.src)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName("spec_recovery")
          .outputMode("complete").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", sc.ckpt).start()
        assert(q.awaitTermination(300000))
      }
      runOnce() // phase 1: half the corpus, checkpointed
      val phase1 = spark.table("spec_recovery").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // phase 2: the second half arrives as NEW files; same checkpoint
      half2.coalesce(1).write.mode("append").parquet(sc.src)
      runOnce()
      val restarted = spark.table("spec_recovery").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(restarted === batch,
        "restart from checkpoint lost or duplicated rows")
      assert(phase1 !== batch,
        "phase 1 already saw the full corpus — the two-phase setup is broken")
    }
  }

  test("streaming per-key totals equal batch groupBy") {
    val streamed = StreamRunner.runToTable(
      spark,
      StreamRunner.eventsStream(spark, TestSpark.Sf)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      "spec_totals")
      .collect().map(_.toString).toSet
    val batch = Engine.events(spark, TestSpark.Sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    assert(streamed === batch)
  }

  test("a memory-sink run deletes its checkpoint and its result stays readable") {
    val root = new java.io.File(StreamRunner.ckptRoot(spark))
    def ckpts = Option(root.listFiles()).toSeq.flatten.map(_.getName).toSet
    val before = ckpts
    val sink = StreamRunner.runToTable(spark,
      StreamRunner.eventsStream(spark, TestSpark.Sf).groupBy(col("event_type")).count(),
      "spec_ckpt_gone")
    assert((ckpts -- before).isEmpty, s"checkpoints left behind: ${ckpts -- before}")
    val batch = Engine.events(spark, TestSpark.Sf).groupBy(col("event_type")).count()
    assert(sink.collect().map(_.toString).toSet === batch.collect().map(_.toString).toSet)
  }

  test("staged waves are one file each with strictly ascending mtimes") {
    import spark.implicits._
    val src = StreamRunner.scratch(spark, "spec_waves") { sc =>
      StreamRunner.stageWaves(sc.src, (0 until 5).map(i => Seq(i.toLong).toDF("w")))
      val files = new java.io.File(sc.src).listFiles().sortBy(_.getName).toSeq
      assert(files.map(_.getName) === (0 until 5).map(i => f"wave-$i%04d.parquet"))
      // stamped, not write-time: one minute apart, so no filesystem's
      // mtime granularity can tie two waves
      val mtimes = files.map(_.lastModified)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => b - a == 60000L }, mtimes)
      assert(files.map(f => spark.read.parquet(f.getPath).as[Long].collect().toSeq) ===
        (0 until 5).map(i => Seq(i.toLong)))
      sc.src
    }
    assert(!new java.io.File(src).exists(), s"scratch dir survived its scope: $src")
  }

  test("StreamRunner is the only code that starts, waits on, stamps or checkpoints a stream") {
    val needles = Seq("awaitTermination(", "setLastModified(", "checkpointLocation",
      "Trigger.AvailableNow")
    // the one owner of each needle; Staging.stampMtime is the mtime stamp
    val owners = Map("StreamRunner.scala" -> needles.toSet,
      "Staging.scala" -> Set("setLastModified("))
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val sources = scala(new java.io.File("src/main"))
    assert(sources.exists(_.getName == "StreamRunner.scala"), "src/main not found from the test's working directory")
    val offenders = for {
      f <- sources
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      n <- needles if text.contains(n) && !owners.getOrElse(f.getName, Set.empty[String])(n)
    } yield s"${f.getPath}: $n"
    assert(offenders.isEmpty, s"run streams through StreamRunner: ${offenders.mkString(", ")}")
  }
}
