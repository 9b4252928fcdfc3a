package graft.queries

import graft.Engine
import graft.streaming.StreamRunner
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types.StructType
import Registry.sql

/** SURVEY §2.9 — streaming operators, restated on event time (the
  * DStream surface was processing-time-only; Structured Streaming's
  * batch/stream unification lets the DuckDB oracle verify the same
  * query semantics over the same input).
  *
  * `stream_tumbling` and `stream_user_totals` run a REAL streaming query
  * (file-source readStream → watermark → stateful agg → memory sink);
  * the others declare the batch-unified form of each §2.9 operator class
  * (sliding window, session window = updateStateByKey's gap analog,
  * mapGroupsWithState for arbitrary state).
  */
object StreamingQueries {

  /** Run `body` with the RocksDB state store provider set (required by
    * transformWithState — and the disk-backed store large stateful jobs
    * need at scale), restoring the previous session conf afterwards. */
  private def withRocksDBStateStore[T](s: SparkSession)(body: => T): T =
    Registry.withConfs(s, Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(body)

  /** Spark 4 StatefulProcessor for `stream_transform_with_state`:
    * per-user running (event count, micro-unit value sum) in a single
    * ValueState cell, re-emitted at a bumped revision every micro-batch
    * — the arbitrary-state API that superseded mapGroupsWithState
    * (typed composite state, timers, and the RocksDB-backed store it
    * requires). */
  private class RunningTotals
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val (n0, s0, rev0) = if (st.exists()) st.get() else (0L, 0L, 0L)
      var n = n0
      var sum = s0
      rows.foreach { r => n += 1; sum += r._2 }
      val rev = rev0 + 1
      st.update((n, sum, rev))
      Iterator.single((key, n, sum, rev))
    }
  }

  /** StatefulProcessor for `stream_tws_mapstate`: per-user MAP state
    * (event_type → count) — the keyed composite-state cell kind, where
    * the RocksDB store reads/writes individual map entries instead of
    * deserializing one monolithic value per update. */
  private class TypeCounts
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long, Long)] {
    @transient private var m: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var rev: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      m = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      rev = getHandle.getValueState[Long]("rev",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      val r = (if (rev.exists()) rev.get() else 0L) + 1
      rev.update(r)
      rows.foreach { case (_, t) =>
        val c = if (m.containsKey(t)) m.getValue(t) else 0L
        m.updateValue(t, c + 1)
      }
      m.iterator().map { case (t, c) => (key, t, c, r) }.toSeq.iterator
    }
  }

  /** StatefulProcessor for `stream_tws_liststate`: per-user LIST state
    * accumulating event ids across batches — the append-only cell kind
    * (RocksDB merge-appends entries; no read-modify-write of the whole
    * list per row). Emitted summary is order-insensitive (size/min/max)
    * because intra-batch row order is not deterministic. */
  private class EventIdLog
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long, Long)] {
    @transient private var ids: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var rev: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      ids = getHandle.getListState[Long]("ids",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
      rev = getHandle.getValueState[Long]("rev",
        Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      val r = (if (rev.exists()) rev.get() else 0L) + 1
      rev.update(r)
      rows.foreach { row => ids.appendValue(row._2) }
      val all = ids.get().toSeq
      Iterator.single((key, all.size.toLong, all.min, all.max, r))
    }
  }

  /** StatefulProcessor for `stream_tws_timers`: EVENT-TIME TIMER
    * sessionization — each input batch extends the per-user session
    * state and re-arms one timer at last_ts + gap (deleting any older
    * timer); when the watermark passes the armed expiry,
    * handleExpiredTimer emits the finalized session ONCE and clears the
    * state. Emission happens ONLY on timer expiry (append mode), the
    * contract processing-time APIs cannot express. */
  private class SessionFinalizer
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), (String, Long, Long, Long)] {
    private val GapMs = 60L * 60 * 1000
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Long, Long)] = {
      val (n0, s0, l0) = if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
      var n = n0; var sum = s0; var last = l0
      rows.foreach { r => n += 1; sum += r._2; last = math.max(last, r._3) }
      st.update((n, sum, last))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + GapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(String, Long, Long, Long)] = {
      if (!st.exists()) Iterator.empty
      else {
        val (n, sum, last) = st.get()
        st.clear()
        Iterator.single((key, n, sum, last))
      }
    }
  }

  /** StatefulProcessor for `stream_tws_initial_state`: the WARM-START
    * contract — per-user totals are SEEDED from a batch snapshot via
    * handleInitialState before any stream batch runs, then extended by
    * the stream exactly like RunningTotals. The migration surface a
    * production job needs when a stateful query is (re)deployed against
    * an existing accumulated history. */
  private class RunningTotalsWithInit
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), (Long, Long, Long, Long), (Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(key: Long, initialState: (Long, Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      st.update((initialState._2, initialState._3, 0L))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val (n0, s0, rev0) = if (st.exists()) st.get() else (0L, 0L, 0L)
      var n = n0
      var sum = s0
      rows.foreach { r => n += 1; sum += r._2 }
      val rev = rev0 + 1
      st.update((n, sum, rev))
      Iterator.single((key, n, sum, rev))
    }
  }

  val all: Seq[Q] = Seq(

    // window()/reduceByKeyAndWindow analog: REAL stream, event-time
    // tumbling 1h windows with watermark, complete mode → memory sink.
    Q("stream_tumbling",
      (s, d) => {
        val agg = StreamRunner.eventsStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        StreamRunner.runToTable(s, agg, s"tumbling_${math.abs(d.hashCode)}")
          .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      },
      Some(sql("""SELECT date_trunc('hour', ts) AS ws, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
                  FROM events GROUP BY 1, 2"""))),

    // updateStateByKey-style running totals: REAL stream, per-key state.
    Q("stream_user_totals",
      (s, d) => {
        val agg = StreamRunner.eventsStream(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
        StreamRunner.runToTable(s, agg, s"utotals_${math.abs(d.hashCode)}")
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                   round(sum(value), 4) AS total_value
                  FROM events GROUP BY user_id"""))),

    // Sliding window (window/slide = 2h/1h): REAL stream, each event
    // lands in 2 overlapping windows; complete mode → memory sink.
    Q("stream_sliding",
      (s, d) => {
        val agg = StreamRunner.eventsStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        StreamRunner.runToTable(s, agg, s"sliding_${math.abs(d.hashCode)}")
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
      },
      Some(sql("""SELECT ws, event_type, count(*) AS n FROM (
                    SELECT unnest([date_trunc('hour', ts),
                                   date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
                           event_type
                    FROM events)
                  GROUP BY 1, 2"""))),

    // Session windows (30-minute gap): the event-time restatement of
    // session state; verified against a lag-gap cumulative-sum oracle.
    Q("stream_session",
      (s, d) => Engine.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("session_start"), col("user_id"), col("n")),
      Some(sql("""SELECT min(ts) AS session_start, user_id, count(*) AS n
                  FROM (SELECT user_id, ts,
                          sum(CASE WHEN prev_ts IS NULL
                                    OR ts - prev_ts >= INTERVAL 30 MINUTE
                                   THEN 1 ELSE 0 END)
                            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
                        FROM (SELECT user_id, event_id, ts,
                                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                              FROM events))
                  GROUP BY session_id, user_id"""))),

    // Session windows with a DYNAMIC per-event gap (Spark 3.2): clicks
    // extend a session by only 10 minutes, every other event by 30 —
    // the per-row gap expression each real sessionizer eventually
    // needs. Windows merge while they overlap, so a session's end is
    // the RUNNING MAX of (ts + gap); the oracle restates that as
    // gaps-and-islands over the running-max end.
    Q("stream_session_dynamic",
      (s, d) => Engine.events(s, d)
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "click", "10 minutes")
            .otherwise("30 minutes")), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("session_start"), col("user_id"), col("n")),
      Some(sql("""SELECT min(ts) AS session_start, user_id, count(*) AS n
                  FROM (SELECT user_id, ts,
                          sum(CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                                   THEN 1 ELSE 0 END)
                            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
                        FROM (SELECT user_id, event_id, ts,
                                max(ts + INTERVAL (CASE WHEN event_type = 'click'
                                     THEN 10 ELSE 30 END) MINUTE)
                                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                                  AS prev_max_end
                              FROM events))
                  GROUP BY session_id, user_id"""))),

    // mapGroupsWithState (updateStateByKey's arbitrary-state superset):
    // per-user event count + max inter-event gap, computed in the typed
    // stateful API (runs identically in batch and streaming).
    Q("stream_map_groups_state",
      (s, d) => {
        import s.implicits._
        val ev = Engine.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts").cast("long").as("ts_s"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
        ev.groupByKey(_._1)
          .mapGroupsWithState[(Long, Long), (Long, Long, Long)] {
            (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[(Long, Long)]) =>
              val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
              val gaps = sorted.sliding(2).collect { case Seq(a, b) => b._3 - a._3 }.toSeq
              (user, sorted.size.toLong, if (gaps.isEmpty) 0L else gaps.max)
          }
          .toDF("user_id", "n_events", "max_gap_s")
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                   coalesce(max(gap), 0) AS max_gap_s
                  FROM (SELECT user_id,
                          ts_s - lag(ts_s)
                              OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS gap
                        FROM (SELECT user_id, event_id,
                                CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events))
                  GROUP BY user_id"""))),

    // REAL stream-stream inner join (PairDStreamFunctions.join analog):
    // purchases joined to the user's clicks in the preceding hour, both
    // sides watermarked, append mode; aggregated after the sink for a
    // compact deterministic result.
    Q("stream_stream_join",
      (s, d) => {
        val purchases = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val clicks = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("user_id") === col("c_user")
            && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
            && col("c_ts") <= col("p_ts"))
        StreamRunner.runToTable(s, joined, s"ssjoin_${math.abs(d.hashCode)}", "append")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"), round(sum(col("p_value")), 4).as("sum_value"))
      },
      Some(sql("""SELECT p.user_id, count(*) AS n_pairs,
                   round(sum(p.value), 4) AS sum_value
                  FROM events p JOIN events c
                    ON p.user_id = c.user_id
                   AND p.event_type = 'purchase' AND c.event_type = 'click'
                   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
                  GROUP BY p.user_id"""))),

    // Stream-stream LEFT OUTER join — the semantics the inner join row
    // cannot pin: an unmatched purchase must be emitted NULL-EXTENDED,
    // but only once the watermark proves no click can still arrive.
    // Rows near the stream's end are never finalized (the watermark
    // stops at max_ts - delay when the input is exhausted), so BOTH
    // engines aggregate only the STABLE region p_ts ≤ max_ts - 3h —
    // strictly inside the final watermark (max_ts - 2h), making the
    // comparison independent of eviction-boundary tie behavior. Inside
    // that region the contract is exact: every purchase appears exactly
    // once, matched or null-extended.
    Q("stream_outer_join",
      (s, d) => {
        val purchases = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val clicks = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("user_id") === col("c_user")
            && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
            && col("c_ts") <= col("p_ts"),
          "left_outer")
        val mx = Engine.table(s, d, "events").agg(max(col("ts")).as("m"))
        StreamRunner.runToTable(s, joined, s"sojoin_${math.abs(d.hashCode)}", "append")
          .crossJoin(broadcast(mx))
          .filter(col("p_ts") <= col("m") - expr("INTERVAL 3 HOUR"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_rows"), count(col("c_user")).as("n_matched"),
            round(sum(col("p_value")), 4).as("sum_value"))
      },
      Some(sql("""WITH mx AS (SELECT max(ts) AS m FROM events),
                  p AS (SELECT user_id, ts AS p_ts, value FROM events
                        WHERE event_type = 'purchase'),
                  c AS (SELECT user_id AS c_user, ts AS c_ts FROM events
                        WHERE event_type = 'click')
                  SELECT p.user_id, count(*) AS n_rows,
                    count(c.c_user) AS n_matched,
                    round(sum(p.value), 4) AS sum_value
                  FROM p CROSS JOIN mx LEFT JOIN c
                    ON c.c_user = p.user_id
                   AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
                   AND c.c_ts <= p.p_ts
                  WHERE p.p_ts <= mx.m - INTERVAL 3 HOUR
                  GROUP BY p.user_id"""))),

    // Stream-stream FULL OUTER join — completes the join family
    // (inner / left outer / left semi / full outer): BOTH sides
    // null-extend after watermark finalization. The stable region cuts
    // on EACH row's own event time via coalesce(p_ts, c_ts), and cuts
    // DEEPER than the left-outer row (4h, not 3h): an unmatched click's
    // emission needs wm > c_ts + 1h (its match window extends 1h into
    // the future), so a 3h cut leaves zero watermark-lag tolerance —
    // measured: near-boundary clicks (~3h03m before end) were still
    // unflushed at termination. The 4h cut restores the same 1h
    // tolerance the purchase side has.
    Q("stream_full_outer_join",
      (s, d) => {
        val purchases = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val clicks = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user")
            && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
            && col("c_ts") <= col("p_ts"),
          "full_outer")
        val mx = Engine.table(s, d, "events").agg(max(col("ts")).as("m"))
        StreamRunner.runToTable(s, joined, s"sfoj_${math.abs(d.hashCode)}", "append")
          .crossJoin(broadcast(mx))
          .filter(coalesce(col("p_ts"), col("c_ts")) < col("m") - expr("INTERVAL 4 HOUR"))
          .groupBy(coalesce(col("p_user"), col("c_user")).as("user_id"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("p_ts")).as("n_left"), count(col("c_ts")).as("n_right"),
            round(sum(col("p_value")), 4).as("sum_value"))
      },
      Some(sql("""WITH mx AS (SELECT max(ts) AS m FROM events),
                  p AS (SELECT user_id AS p_user, ts AS p_ts, value FROM events
                        WHERE event_type = 'purchase'),
                  c AS (SELECT user_id AS c_user, ts AS c_ts FROM events
                        WHERE event_type = 'click'),
                  j AS (SELECT p_user, p_ts, value, c_user, c_ts
                        FROM p FULL JOIN c
                          ON c.c_user = p.p_user
                         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
                         AND c.c_ts <= p.p_ts)
                  SELECT coalesce(p_user, c_user) AS user_id,
                    count(*) AS n_rows,
                    count(p_ts) AS n_left, count(c_ts) AS n_right,
                    round(sum(value), 4) AS sum_value
                  FROM j CROSS JOIN mx
                  WHERE coalesce(p_ts, c_ts) < mx.m - INTERVAL 4 HOUR
                  GROUP BY coalesce(p_user, c_user)"""))),

    // Stream-stream LEFT SEMI join (supported since 3.1): purchases
    // with at least one click in the preceding hour, emitted AT MOST
    // ONCE on first match — never duplicated by additional matches,
    // never null-extended. Unlike the outer join, matched rows emit as
    // soon as the match arrives (no watermark wait) and the staged
    // replay is in event-time order, so EVERY qualifying purchase is in
    // the sink at termination — the batch EXISTS oracle needs no
    // stable-region cutoff.
    Q("stream_semi_join",
      (s, d) => {
        val purchases = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
          .withWatermark("p_ts", "2 hours")
        val clicks = StreamRunner.eventsStream(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("user_id") === col("c_user")
            && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
            && col("c_ts") <= col("p_ts"),
          "left_semi")
        StreamRunner.runToTable(s, joined, s"ssemi_${math.abs(d.hashCode)}", "append")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("p_value")), 4).as("sum_value"))
      },
      Some(sql("""SELECT user_id, count(*) AS n_purchases,
                    round(sum(value), 4) AS sum_value
                  FROM events p
                  WHERE event_type = 'purchase'
                    AND EXISTS (SELECT 1 FROM events c
                                WHERE c.event_type = 'click'
                                  AND c.user_id = p.user_id
                                  AND c.ts >= p.ts - INTERVAL 1 HOUR
                                  AND c.ts <= p.ts)
                  GROUP BY user_id"""))),

    // Streaming union + exactly-once dedup (DStream union + the
    // dropDuplicates state operator): two copies of the stream unioned,
    // deduped on event_id, so the sink holds each event exactly once.
    Q("stream_union_dedup",
      (s, d) => {
        val a = StreamRunner.eventsStream(s, d).select(col("event_id"), col("event_type"), col("ts"))
        val b = StreamRunner.eventsStream(s, d).select(col("event_id"), col("event_type"), col("ts"))
        val deduped = a.union(b)
          .withWatermark("ts", "1 hour")
          .dropDuplicates("event_id")
        StreamRunner.runToTable(s, deduped.select(col("event_id"), col("event_type")),
          s"sdedup_${math.abs(d.hashCode)}", "append")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      },
      Some(sql("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))),

    // REAL stream-static join (DStream.transform-with-RDD analog): the
    // event stream enriches against a STATIC customer dimension loaded
    // once per micro-batch planner — the canonical "stream + slowly
    // changing dim" shape; at scale the static side broadcasts, so the
    // stream never shuffles.
    Q("stream_static_join",
      (s, d) => {
        val dim = Engine.table(s, d, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        val joined = StreamRunner.eventsStream(s, d)
          .select(col("user_id"), col("event_type"), col("value"))
          .join(broadcast(dim), Seq("user_id"))
        StreamRunner.runToTable(s, joined, s"ssdim_${math.abs(d.hashCode)}", "append")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      },
      Some(sql("""SELECT c_nationkey, count(*) AS n,
                   round(sum(value), 4) AS sum_value
                  FROM events JOIN customer ON user_id = c_custkey
                  GROUP BY c_nationkey"""))),

    // dropDuplicatesWithinWatermark: exactly-once dedup whose state is
    // EVICTED once the watermark passes — the bounded-state form (plain
    // dropDuplicates keeps keys forever; this is the one that survives an
    // unbounded stream). Duplicate copies carry the same event time, so
    // they always land inside the watermark and the contract is exact.
    Q("stream_dedup_within_watermark",
      (s, d) => {
        val a = StreamRunner.eventsStream(s, d).select(col("event_id"), col("event_type"), col("ts"))
        val b = StreamRunner.eventsStream(s, d).select(col("event_id"), col("event_type"), col("ts"))
        val deduped = a.union(b)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        StreamRunner.runToTable(s, deduped.select(col("event_id"), col("event_type")),
          s"sdwm_${math.abs(d.hashCode)}", "append")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      },
      Some(sql("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))),

    // flatMapGroupsWithState (the multi-row-emitting superset of
    // mapGroupsWithState): per user, one row per event_type carrying the
    // type's count and share of the user's events.
    Q("stream_flat_map_groups_state",
      (s, d) => {
        import s.implicits._
        val ev = Engine.events(s, d)
          .select(col("user_id"), col("event_type"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[Map[String, Long], (Long, String, Long, Double)](
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
            (user: Long, rows: Iterator[(Long, String)], state: GroupState[Map[String, Long]]) =>
              val counts = rows.foldLeft(Map.empty[String, Long]) { (m, r) =>
                m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
              }
              val total = counts.values.sum
              counts.toSeq.sortBy(_._1).iterator.map { case (t, n) =>
                (user, t, n, total.toDouble)
              }
          }
          .toDF("user_id", "event_type", "n", "total")
          .select(col("user_id"), col("event_type"), col("n"),
            round(col("n") / col("total"), 4).as("share"))
      },
      Some(sql("""SELECT user_id, event_type, count(*) AS n,
                   round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY user_id) AS DOUBLE), 4) AS share
                  FROM events GROUP BY user_id, event_type"""))),

    // foreachBatch sink (foreachRDD analog): each micro-batch is appended
    // to a parquet sink by custom driver-side code; verified by reading
    // the sink back and aggregating.
    Q("stream_foreach_batch",
      (s, d) => {
        // unique sink per run: append mode must start from empty
        val out = Registry.ioPath(d, s"stream_fb_${System.nanoTime()}")
        StreamRunner.scratch(s, "fb") { sc =>
          StreamRunner.run(StreamRunner.eventsStream(s, d)
            .select(col("event_type"), col("value"))
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
              // idempotent sink: batch-id-named path + overwrite, so a
              // retried micro-batch replaces its own output instead of
              // appending a duplicate copy
              batch.write.mode("overwrite").parquet(s"$out/batch=$id")
            }, "stream_foreach_batch", sc.ckpt)
        }
        s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      },
      Some(sql("""SELECT event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
                  FROM events GROUP BY event_type"""))),

    // reduceByKeyAndWindow WITH invReduceFunc (streaming/.../dstream/
    // PairDStreamFunctions.scala:198-324) — the INCREMENTAL window
    // maintenance contract: the window aggregate is updated by ADDING the
    // newly-entered slice and SUBTRACTING the expired slice, never
    // recomputed from scratch. Restated on event time over the REAL
    // 4-batch stream: per user, state holds per-hour partial sums
    // (micro-unit integers, so add/subtract is exact and order-free) and
    // every 2-hour sliding window value is produced by the recurrence
    //   W(h) = W(h−1) + S(h) − S(h−2)
    // — one add, one inverse-subtract per step, exactly the invReduceFunc
    // dataflow. Each micro-batch re-emits the windows at a bumped state
    // revision; the sink keeps the LAST revision per (user, hour), and
    // the oracle checks it against direct (non-incremental) window sums —
    // a wrong subtraction cannot cancel out.
    Q("stream_window_inverse",
      (s, d) => {
        import s.implicits._
        val ev = StreamRunner.eventsStream(s, d)
          .select(col("user_id"),
            floor(col("ts").cast("long") / 3600).cast("long").as("h"),
            round(col("value") * 10000).cast("long").as("um"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
        val upd = ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Map[Long, Long], Long), (Long, Long, Long, Long)](
            org.apache.spark.sql.streaming.OutputMode.Update(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
            (user: Long, rows: Iterator[(Long, Long, Long)],
             state: GroupState[(Map[Long, Long], Long)]) =>
              val (hs0, rev0) = state.getOption.getOrElse((Map.empty[Long, Long], 0L))
              val hs = rows.foldLeft(hs0) { case (m, (_, h, um)) =>
                m.updated(h, m.getOrElse(h, 0L) + um)
              }
              val rev = rev0 + 1
              state.update((hs, rev))
              if (hs.isEmpty) Iterator.empty
              else {
                var w = 0L
                (hs.keys.min to hs.keys.max).iterator.map { h =>
                  w = w + hs.getOrElse(h, 0L) - hs.getOrElse(h - 2, 0L)
                  (h, w)
                }.filter { case (h, _) => hs.contains(h) }
                  .map { case (h, wv) => (user, h, wv, rev) }
              }
          }
          .toDF("user_id", "h", "w_um", "rev")
        StreamRunner.runToTable(s, upd,
          s"wininv_${math.abs(d.hashCode)}", "update")
          .groupBy(col("user_id"), col("h"))
          .agg(max_by(col("w_um"), col("rev")).as("w2h_um"))
      },
      Some(sql("""WITH hs AS (SELECT user_id,
                      CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                      CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS um
                    FROM events GROUP BY 1, 2)
                  SELECT a.user_id, a.h,
                    CAST(a.um + coalesce(b.um, 0) AS BIGINT) AS w2h_um
                  FROM hs a LEFT JOIN hs b
                    ON a.user_id = b.user_id AND b.h = a.h - 1"""))),

    // Spark 4 transformWithState (the arbitrary-state operator that
    // superseded mapGroupsWithState: typed StatefulProcessor + named
    // state cells + TTL/timers) over the REAL 4-batch stream, running on
    // the RocksDB state store provider — the disk-backed store large
    // stateful jobs need at 100 TB, where hash-map state no longer fits
    // the heap. Per-user running totals re-emit each micro-batch at a
    // bumped revision; the sink keeps the last revision and the oracle
    // checks the final totals against a direct batch aggregation.
    Q("stream_transform_with_state",
      (s, d) => withRocksDBStateStore(s) {
        import s.implicits._
        val ev = StreamRunner.eventsStream(s, d)
          .select(col("user_id"), round(col("value") * 10000).cast("long").as("um"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        val out = ev.groupByKey(_._1)
          .transformWithState(new RunningTotals,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n_events", "sum_um", "rev")
        StreamRunner.runToTable(s, out, s"tws_${math.abs(d.hashCode)}", "update")
          .groupBy(col("user_id"))
          .agg(max_by(col("n_events"), col("rev")).as("n_events"),
            max_by(col("sum_um"), col("rev")).as("sum_um"))
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_um
                  FROM events GROUP BY 1"""))),

    // transformWithState with MAP state (per-user event_type → count):
    // the keyed composite-state kind where RocksDB touches individual
    // entries per update instead of round-tripping one monolithic value
    // — the right state shape when per-key sub-state grows wide. Same
    // revision/last-write sink protocol as the ValueState row.
    Q("stream_tws_mapstate",
      (s, d) => withRocksDBStateStore(s) {
        import s.implicits._
        val ev = StreamRunner.eventsStream(s, d)
          .select(col("user_id"), col("event_type"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
        val out = ev.groupByKey(_._1)
          .transformWithState(new TypeCounts,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "event_type", "n", "rev")
        StreamRunner.runToTable(s, out, s"twsm_${math.abs(d.hashCode)}", "update")
          .groupBy(col("user_id"), col("event_type"))
          .agg(max_by(col("n"), col("rev")).as("n"))
      },
      Some(sql("""SELECT user_id, event_type, count(*) AS n
                  FROM events GROUP BY 1, 2"""))),

    // transformWithState with LIST state (append-only event-id log per
    // user): the third and last state cell kind — RocksDB merge-appends
    // entries instead of rewriting the collection, the right shape for
    // per-key logs that only grow. Order-insensitive summary (size, min,
    // max) because intra-batch arrival order is not deterministic.
    Q("stream_tws_liststate",
      (s, d) => withRocksDBStateStore(s) {
        import s.implicits._
        val ev = StreamRunner.eventsStream(s, d)
          .select(col("user_id"), col("event_id"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        val out = ev.groupByKey(_._1)
          .transformWithState(new EventIdLog,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n_ids", "min_id", "max_id", "rev")
        StreamRunner.runToTable(s, out, s"twsl_${math.abs(d.hashCode)}", "update")
          .groupBy(col("user_id"))
          .agg(max_by(col("n_ids"), col("rev")).as("n_ids"),
            max_by(col("min_id"), col("rev")).as("min_id"),
            max_by(col("max_id"), col("rev")).as("max_id"))
      },
      Some(sql("""SELECT user_id, count(*) AS n_ids,
                    min(event_id) AS min_id, max(event_id) AS max_id
                  FROM events GROUP BY 1"""))),

    // CHECKPOINT RECOVERY as a declared, oracled capability (promoted
    // from StreamingSpec): stage HALF the corpus, run an AvailableNow
    // aggregation to completion (offsets + state land in the
    // checkpoint), append the remaining half, then RESTART with the
    // SAME checkpoint. The recovered query must resume from recorded
    // offsets and state: the final aggregate equals the batch answer
    // over the full corpus — no loss (missed files) and no duplication
    // (re-read files would double counts). Staging is per-invocation
    // (StreamRunner.scratch) so EVERY run exercises a real recovery, not
    // a replay of a warm checkpoint.
    Q("stream_ckpt_recovery",
      (s, d) => {
        val events = Engine.events(s, d).select(col("user_id"), col("event_id"))
        // the memory sink holds the complete-mode result in driver
        // memory once the query terminates, so the scratch dirs go as
        // soon as the second pass ends
        StreamRunner.scratch(s, "ckptrec") { sc =>
          events.filter(col("event_id") % 2 === 0)
            .coalesce(1).write.mode("overwrite").parquet(sc.src)
          val schema = s.read.parquet(sc.src).schema
          def runPass(name: String): Unit =
            StreamRunner.run(s.readStream.schema(schema).parquet(sc.src)
              .groupBy(col("user_id"))
              .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
              .writeStream.format("memory").queryName(name).outputMode("complete"),
              name, sc.ckpt): Unit
          runPass(s"${sc.id}_p1") // phase 1: half the corpus
          events.filter(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(sc.src)
          runPass(s"${sc.id}_final") // restart: resume offsets + state
          s.table(s"${sc.id}_final")
        }
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(event_id) AS BIGINT) AS sum_ids
                  FROM events GROUP BY 1"""))),

    // STREAMING GOPHER GATE — the curation pipeline running
    // INCREMENTALLY: the same five-rule quality gate as
    // text_gopher_rules / pipe_dataset_card (one shared definition,
    // Pipeline4Queries.gopherSignals/gopherPass — stream and batch
    // cannot drift), applied to documents arriving as a file stream in
    // four micro-batches (maxFilesPerTrigger=1), aggregated per source
    // in complete mode. The streaming answer must equal the batch
    // truth over the full corpus — the report a continuously-ingesting
    // corpus build reads. Staging is per-invocation and cleaned up
    // (StreamRunner.scratch).
    Q("stream_gopher_gate",
      (s, d) => StreamRunner.scratch(s, "gopher") { sc =>
        // range partitioning guarantees four NON-EMPTY doc_id-contiguous
        // files (hash of the residue classes collides two of them and
        // leaves one partition empty — verified on this Spark build)
        graft.Engine.table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(sc.src)
        val stream = StreamRunner.waveStream(s, sc.src, s.read.parquet(sc.src).schema)
        val agg = Pipeline4Queries.gopherSignals(
          stream.select(col("source"), col("text")), Seq("source"))
          .withColumn("gpass", Pipeline4Queries.gopherPass.cast("long"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("gpass")).as("n_pass"))
        StreamRunner.runToTable(s, agg, sc.id)
      },
      Some(sql(s"""SELECT source, count(*) AS n_docs,
                    CAST(sum(CASE WHEN ${Pipeline4Queries.gopherPassSql}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
                  FROM (${Pipeline4Queries.gopherSignalsSql("source", "source")})
                  GROUP BY source"""))),

    // EVENT-TIME TIMERS (transformWithState + TimeMode.EventTime):
    // timer-driven sessionization over a HAND-STAGED 4-batch timeline
    // (one file per micro-batch, mtime-ordered), chosen so every
    // fired-timer outcome is identical whether the engine checks timers
    // against the batch's input watermark or its output watermark —
    // each user has ONE session, and no batch both carries a user's
    // events and expires that user's timer. Watermark delay 30 min,
    // session gap 1 h: A(2 events) and B finalize once the 12:00 batch
    // advances the watermark, C after the 14:00 batch, D on the final
    // watermark-flush batch, and E (18:00, expiry 19:00 > final
    // watermark 17:30) must NEVER emit — the unfinalized-tail contract.
    // The oracle is the timeline's finalized sessions as literals.
    Q("stream_tws_timers",
      (s, d) => withRocksDBStateStore(s) {
        val sq = s; import sq.implicits._
        val batches = Seq(
          Seq(("A", 1L, "2024-03-01 10:00:00"), ("A", 2L, "2024-03-01 10:05:00"),
            ("B", 3L, "2024-03-01 10:00:00")),
          Seq(("C", 4L, "2024-03-01 12:00:00")),
          Seq(("D", 5L, "2024-03-01 14:00:00")),
          Seq(("E", 6L, "2024-03-01 18:00:00")))
        StreamRunner.scratch(s, "twst") { sc =>
          StreamRunner.stageWaves(sc.src, batches.map(_.toDF("user", "event_id", "ts_s")
            .select(col("user"), col("event_id"), to_timestamp(col("ts_s")).as("ts"))))
          val ev = StreamRunner.waveStream(s, sc.src,
              StructType.fromDDL("user STRING, event_id BIGINT, ts TIMESTAMP"))
            .withWatermark("ts", "30 minutes")
            .select(col("user"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
            .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
          val out = ev.groupByKey(_._1)
            .transformWithState(new SessionFinalizer,
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              org.apache.spark.sql.streaming.OutputMode.Append())
            .toDF("user", "n_events", "sum_ids", "last_ts_ms")
          StreamRunner.runToTable(s, out, sc.id, "append")
            .select(col("user"), col("n_events"), col("sum_ids"),
              (col("last_ts_ms") / lit(1000)).cast("long").as("last_ts_s"))
        }
      },
      Some(sql("""SELECT usr AS user, CAST(n AS BIGINT) AS n_events,
                    CAST(sm AS BIGINT) AS sum_ids,
                    CAST(epoch(CAST(lt AS TIMESTAMP)) AS BIGINT) AS last_ts_s
                  FROM (VALUES
                    ('A', 2, 3, '2024-03-01 10:05:00'),
                    ('B', 1, 3, '2024-03-01 10:00:00'),
                    ('C', 1, 4, '2024-03-01 12:00:00'),
                    ('D', 1, 5, '2024-03-01 14:00:00')
                  ) AS t(usr, n, sm, lt)"""))),

    // STREAMING UPSERT (foreachBatch + MERGE INTO): the
    // streaming-lakehouse pattern — each micro-batch aggregates its
    // events and MERGEs the deltas into a catalog table through the
    // row-level-operation SPI (src_dsv2_merge's machinery), so the
    // table always holds exact running per-user totals. The target is
    // seeded with zero rows per user, so every batch exercises the
    // MATCHED-UPDATE arithmetic; the final table equals the batch
    // aggregate over the whole corpus. At scale the increment-MERGE
    // needs a batch-id idempotency guard against foreachBatch retries
    // (Delta/Iceberg txn metadata); the memory table demonstrates the
    // plan shape, not the transactional guard.
    Q("stream_merge_upsert",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        Engine.events(s, d).select(col("user_id")).distinct()
          .select(col("user_id"), lit(0L).as("n_events"), lit(0L).as("sum_ids"))
          .write.format("graft.sources.MemTableSource")
          .option("name", "graft_upsert")
          .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
        StreamRunner.scratch(s, "upsert") { sc =>
          StreamRunner.run(StreamRunner.eventsStream(s, d)
            .select(col("user_id"), col("event_id"))
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              batch.groupBy(col("user_id"))
                .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
                .createOrReplaceTempView("graft_upsert_batch")
              batch.sparkSession.sql(sql("""
                MERGE INTO graftmem.graft_upsert t
                USING graft_upsert_batch s ON t.user_id = s.user_id
                WHEN MATCHED THEN UPDATE SET
                  n_events = t.n_events + s.n_events,
                  sum_ids = t.sum_ids + s.sum_ids
                WHEN NOT MATCHED THEN INSERT *""")): Unit
            }, "stream_merge_upsert", sc.ckpt)
        }
        s.read.format("graft.sources.MemTableSource")
          .option("name", "graft_upsert").load()
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(event_id) AS BIGINT) AS sum_ids
                  FROM events GROUP BY user_id"""))),

    // STREAMING TABLE API (DataStreamWriter.toTable): the sink is a
    // CATALOG TABLE — downstream batch queries read it by name with no
    // path plumbing, the lakehouse-shaped streaming topology. AvailableNow
    // over the staged replay into a managed parquet table, then the
    // catalog read-back is the declared result (equals batch truth).
    Q("stream_to_table",
      (s, d) => {
        Registry.dropManaged(s, "graft_stream_sink")
        // file-backed tables are APPEND-ONLY sinks (complete/update
        // raise STREAMING_OUTPUT_MODE.UNSUPPORTED_DATASOURCE) — the
        // append projection lands per-event rows; aggregation happens
        // on the catalog read-back
        val rows = StreamRunner.eventsStream(s, d)
          .select(col("event_type"), round(col("value") * 100.0).cast("long").as("cents"))
        StreamRunner.scratch(s, "totable") { sc =>
          StreamRunner.run(rows.writeStream.outputMode("append"), "stream_to_table",
            sc.ckpt, table = Some("graft_stream_sink"))
        }
        s.table("graft_stream_sink")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      },
      Some(sql("""SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
                  FROM events GROUP BY event_type"""))),

    // APPEND-MODE WINDOW EMISSION: in append mode a windowed aggregate
    // emits a window EXACTLY ONCE, when the watermark passes its end —
    // so the result over the 4-batch replay is precisely the windows
    // closed by the FINAL watermark (global max ts − 1h, flushed by the
    // trailing no-data batch); still-open windows never appear. The
    // oracle recomputes that gate with a HAVING over the batch truth.
    // (complete/update modes are pinned by the other rows; this is the
    // once-per-window contract the file-sink topology depends on.)
    Q("stream_append_closed_windows",
      (s, d) => {
        val agg = StreamRunner.eventsStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        StreamRunner.runToTable(s, agg,
            s"appendw_${math.abs(d.hashCode)}", "append")
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
      },
      Some(sql("""SELECT date_trunc('hour', ts) AS ws, event_type,
                    count(*) AS n
                  FROM events GROUP BY 1, 2
                  HAVING date_trunc('hour', ts) + INTERVAL 2 HOUR
                    <= (SELECT max(ts) FROM events)"""))),

    // LATE-DATA EXCLUSION: the watermark's defining drop contract,
    // pinned end to end — a row for the 10:00 window arrives in batch 4,
    // two watermark advances after the window closed (the watermark
    // incorporates batch 2's 12:10 by then under ANY update-lag
    // convention), so the tumbling-window aggregate must NOT count it:
    // the finalized 10:00 window holds n=2, not 3, and no second 10:00
    // row may appear. The 15:00 tail window stays unfinalized (final
    // watermark 14:30) and must never emit. Oracle = the finalized
    // windows as literals.
    Q("stream_late_data",
      (s, d) => {
        val sq = s; import sq.implicits._
        val batches = Seq(
          Seq((1L, "2024-03-01 10:05:00"), (2L, "2024-03-01 10:20:00")),
          Seq((3L, "2024-03-01 12:10:00")),
          Seq((6L, "2024-03-01 13:10:00")),
          // LATE: by now the watermark is ≥ 11:40 under every
          // lag convention (it incorporates batch 2's 12:10)
          Seq((4L, "2024-03-01 10:40:00"),
            (5L, "2024-03-01 15:00:00")))
        StreamRunner.scratch(s, "late") { sc =>
          StreamRunner.stageWaves(sc.src, batches.map(_.toDF("event_id", "ts_s")
            .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"))))
          val agg = StreamRunner.waveStream(s, sc.src,
              StructType.fromDDL("event_id BIGINT, ts TIMESTAMP"))
            .withWatermark("ts", "30 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
            .select(date_format(col("window.start"), "HH:mm").as("win_start"),
              col("n"), col("sum_ids"))
          StreamRunner.runToTable(s, agg, sc.id, "append")
        }
      },
      Some(sql("""SELECT ws AS win_start, CAST(n AS BIGINT) AS n,
                    CAST(sm AS BIGINT) AS sum_ids
                  FROM (VALUES ('10:00', 2, 3), ('12:00', 1, 3),
                               ('13:00', 1, 6)) AS t(ws, n, sm)"""))),

    // transformWithState WITH INITIAL STATE (warm start): the per-user
    // totals are SEEDED from a batch snapshot (even event_ids — the
    // "yesterday" history) through handleInitialState, and only the odd
    // half streams. The final totals must equal the batch aggregate
    // over BOTH halves — restricted to users the stream touches, since
    // emission rides input rows (the oracle applies the same EXISTS).
    Q("stream_tws_initial_state",
      (s, d) => withRocksDBStateStore(s) {
        import s.implicits._
        val snapshot = Engine.events(s, d)
          .filter(col("event_id") % 2 === 0)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
          .select(col("user_id"), col("n"), col("sum_ids"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
          .groupByKey(_._1)
        val ev = StreamRunner.eventsStream(s, d)
          .filter(col("event_id") % 2 === 1)
          .select(col("user_id"), col("event_id"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        val out = ev.groupByKey(_._1)
          .transformWithState(new RunningTotalsWithInit,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(),
            snapshot,
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
              Encoders.scalaLong, Encoders.scalaLong),
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
          .toDF("user_id", "n_events", "sum_ids", "rev")
        StreamRunner.runToTable(s, out, s"twsi_${math.abs(d.hashCode)}", "update")
          .groupBy(col("user_id"))
          .agg(max_by(col("n_events"), col("rev")).as("n_events"),
            max_by(col("sum_ids"), col("rev")).as("sum_ids"))
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(event_id) AS BIGINT) AS sum_ids
                  FROM events e
                  WHERE EXISTS (SELECT 1 FROM events o
                                WHERE o.user_id = e.user_id AND o.event_id % 2 = 1)
                  GROUP BY user_id"""))),

    // ADMISSION CONTROL under an AvailableNow trigger: maxFilesPerTrigger
    // must hold even when the whole backlog is available at start — the
    // 4 staged files must arrive as FOUR micro-batches (ids 0-3), each
    // carrying exactly its file's rows, not one catch-up batch that
    // would blow executor memory on a 100 TB backlog. foreachBatch
    // records (batch_id, rows); the per-batch ledger IS the result.
    Q("stream_avail_now_batches",
      (s, _) => {
        val sq = s; import sq.implicits._
        StreamRunner.scratch(s, "adm") { sc =>
          StreamRunner.stageWaves(sc.src, (0 until 4).map(i =>
            (0 until (i + 1)).map(j => (i.toLong, (i * 10 + j).toLong)).toDF("file_id", "v")))
          val ledger = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          StreamRunner.run(StreamRunner.waveStream(s, sc.src,
              StructType.fromDDL("file_id BIGINT, v BIGINT"))
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
              val agg = batch.agg(count(lit(1)), sum(col("v"))).collect()(0)
              ledger.synchronized {
                ledger += ((id, agg.getLong(0), agg.getLong(1))): Unit
              }
            }, "stream_avail_now_batches", sc.ckpt)
          ledger.toSeq.toDF("batch_id", "n_rows", "sum_v")
        }
      },
      Some(sql("""SELECT CAST(b AS BIGINT) AS batch_id, CAST(n AS BIGINT) AS n_rows,
                    CAST(sv AS BIGINT) AS sum_v
                  FROM (VALUES (0, 1, 0), (1, 2, 21), (2, 3, 63), (3, 4, 126))
                    AS t(b, n, sv)"""))),

    // UPDATE OUTPUT MODE emission contract: each micro-batch emits ONLY
    // the keys whose aggregate changed in that batch (complete re-emits
    // everything, append waits for closure — this is the third mode's
    // pin). Three hand-staged files; the (batch_id, key) emission log
    // is the declared result. At scale this is the changelog topology:
    // update mode feeds exactly-the-deltas to an upsert sink.
    Q("stream_update_mode",
      (s, d) => {
        val sq = s; import sq.implicits._
        val batches = Seq(Seq("A", "A", "B"), Seq("A"), Seq("B", "B", "C"))
        StreamRunner.scratch(s, "updmode") { sc =>
          StreamRunner.stageWaves(sc.src, batches.map(_.toDF("k")))
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
          val agg = StreamRunner.waveStream(s, sc.src,
              StructType.fromDDL("k STRING"))
            .groupBy(col("k")).agg(count(lit(1)).as("n"))
          StreamRunner.run(agg.writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              val rows = b.collect()
              buf.synchronized {
                rows.foreach(r => buf += ((id, r.getString(0), r.getLong(1))))
              }: Unit
            }, "stream_update_mode", sc.ckpt)
          buf.sortBy(r => (r._1, r._2)).toSeq
            .toDF("batch_id", "k", "n")
        }
      },
      Some(sql("""SELECT CAST(b AS BIGINT) AS batch_id, k, CAST(n AS BIGINT) AS n
                  FROM (VALUES (0, 'A', 2), (0, 'B', 1), (1, 'A', 3),
                               (2, 'B', 3), (2, 'C', 1)) AS t(b, k, n)"""))),

    // mapGroupsWithState-family EVENT-TIME TIMEOUT (the legacy arbitrary
    // -state API's expiry path, vs stream_tws_timers' transformWithState
    // timers): per-user session state emits ONLY when the watermark
    // passes its timeout (last event + 60 min). u2 expires once the
    // 12:30 batch's watermark lands, u1 expires in the trailing no-data
    // flush, u3's session is still open at end-of-stream and never
    // emits — the unfinalized tail contract.
    Q("stream_mgws_timeout",
      (s, d) => {
        val sq = s; import sq.implicits._
        val batches = Seq(
          Seq((1L, "2024-03-01 10:00:00"), (2L, "2024-03-01 10:05:00")),
          Seq((1L, "2024-03-01 12:30:00")),
          Seq((3L, "2024-03-01 14:30:00")))
        StreamRunner.scratch(s, "mgwsto") { sc =>
          StreamRunner.stageWaves(sc.src, batches.map(_.toDF("user_id", "ts_s")
            .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"))))
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          val ev = StreamRunner.waveStream(s, sc.src,
              StructType.fromDDL("user_id BIGINT, ts TIMESTAMP"))
            .withWatermark("ts", "30 minutes")
            .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ts_ms"))
            .as(Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP, Encoders.scalaLong))
          val sessions = ev.groupByKey(_._1)
            .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
              org.apache.spark.sql.streaming.OutputMode.Update(),
              org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
              (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
               state: GroupState[(Long, Long, Long)]) =>
                if (state.hasTimedOut) {
                  val (n, mn, mx) = state.get
                  state.remove()
                  Iterator.single((user, n, (mx - mn) / 60000L))
                } else {
                  val ms = rows.map(_._3).toSeq
                  val (pn, pmn, pmx) = state.getOption
                    .getOrElse((0L, Long.MaxValue, Long.MinValue))
                  val mx = math.max(pmx, ms.max)
                  state.update((pn + ms.size, math.min(pmn, ms.min), mx))
                  state.setTimeoutTimestamp(mx + 3600000L) // last event + 60 min
                  Iterator.empty
                }
            }
          StreamRunner.run(sessions.toDF("user_id", "n_events", "span_min")
            .writeStream.outputMode("update")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              val rows = b.collect()
              buf.synchronized {
                rows.foreach(r => buf += ((r.getLong(0), r.getLong(1), r.getLong(2))))
              }: Unit
            }, "stream_mgws_timeout", sc.ckpt)
          buf.sortBy(_._1).toSeq.toDF("user_id", "n_events", "span_min")
        }
      },
      Some(sql("""SELECT CAST(u AS BIGINT) AS user_id, CAST(n AS BIGINT) AS n_events,
                    CAST(sp AS BIGINT) AS span_min
                  FROM (VALUES (1, 2, 150), (2, 1, 0)) AS t(u, n, sp)""")))
  )
}
