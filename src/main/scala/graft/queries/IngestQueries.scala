package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ingest.IngestBatch
import graft.ops.Derive
import graft.streaming.BoundedStream

/** SURVEY §3.1 ingest pipeline + §2.1 source-shape operators as
  * oracle-backed queries: JSON record batches (S1), dict-of-arrays
  * payloads (S2), the validate→rename→cast→tz→dedup transform chain
  * (P2/P3/P5/P7/P8/P15/F7/A8/A9), and the JSON scalar surface
  * (from_json on the events.props column).
  */
object IngestQueries extends Q.Registry {
  import RelationalQueries.enrSql

  private def rawEventsStream(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val raw = BoundedStream.table(s, d, "events.parquet")
    val tsCol =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts")
    (raw, tsCol)
  }

  /** Bounded file-source stream over the events table (the micro-batch
    * analog of the reference's 10-min poll): event_id, station_no,
    * record_time, bikes_available. */
  private[graft] def eventsStream(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val (raw, tsCol) = rawEventsStream(s, d)
    raw.select(
      col("event_id"),
      col("user_id").cast("string").as("station_no"),
      tsCol.as("record_time"),
      col("value").as("bikes_available"))
  }

  /** Second unbounded source for the st4 stream-stream join: every
    * 83rd event's value read as that tick's weather observation — an
    * INDEPENDENT stream over the same file, so the join really
    * coordinates two sources. */
  private[graft] def readingsStream(s: org.apache.spark.sql.SparkSession,
                                    d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val (raw, tsCol) = rawEventsStream(s, d)
    raw.filter(col("event_id") % 83 === 0).select(
      tsCol.as("obs_time"),
      col("value").as("temperature"))
  }

  /** The st13/st14 funnel recovery + rollup over a (user_id, t) anchor
    * emission sink: per-user final anchors are min over non-null
    * emissions (anchors are set-once, so per-trigger emissions are
    * monotone), then a12's one-row funnel rollup — shared so the
    * in-order and watermark-buffered streams price the IDENTICAL
    * restatement against the same oracle. */
  private def funnelAnchorRollup(sink: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val anchors = sink.select(col("user_id"),
        when(col("t")(0) > 0, col("t")(0)).as("t1"),
        when(col("t")(1) > 0, col("t")(1)).as("t2"),
        when(col("t")(2) > 0, col("t")(2)).as("t3"))
      .groupBy("user_id")
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
    val roll = anchors.agg(
      count(lit(1)).as("n_users"),
      count(col("t1")).as("n_click"),
      count(col("t2")).as("n_view_after_click"),
      count(col("t3")).as("n_purchase_after_view"),
      // t2 non-null implies t1 non-null (stage gating), so each lag
      // sums exactly the converted users' exact-long microsecond
      // deltas — a12's deterministic mean-lag arithmetic
      sum(col("t2") - col("t1")).as("lag1"),
      sum(col("t3") - col("t2")).as("lag2"))
    roll.select(col("n_users"), col("n_click"),
      col("n_view_after_click"), col("n_purchase_after_view"),
      Fmt.t6(when(col("n_users") > 0,
        col("n_click").cast("double") / col("n_users"))).as("r_click"),
      Fmt.t6(when(col("n_click") > 0,
        col("n_view_after_click").cast("double") / col("n_click")))
        .as("r_view"),
      Fmt.t6(when(col("n_view_after_click") > 0,
        col("n_purchase_after_view").cast("double") /
          col("n_view_after_click"))).as("r_purchase"),
      Fmt.t6(when(col("n_view_after_click") > 0,
        col("lag1").cast("double") / col("n_view_after_click") / 3.6e9))
        .as("avg_hours_click_to_view"),
      Fmt.t6(when(col("n_purchase_after_view") > 0,
        col("lag2").cast("double") / col("n_purchase_after_view") / 3.6e9))
        .as("avg_hours_view_to_purchase"))
  }

  val all: Seq[Q] = Seq(

    Q("ing1_json_ingest",
      "S1+P2/P3/P5/P7/P8/P15 end-to-end: events re-serialized as the " +
        "reference's JSON snapshot records (sno/sna/srcUpdateTime " +
        "Taipei-naive, deliberately dirty Quantity), parsed back, " +
        "validated, renamed, leniently cast, tz-normalized, prefix-" +
        "stripped. Oracle reproduces the semantics from the raw tables.",
      (s, d) => {
        import s.implicits._
        // Build the JSON batch the reference's API would deliver
        // (etl_job.py:69-71): Taipei wall-clock strings, station dim
        // attrs inline, every 97th Quantity malformed.
        val enr = RelationalQueries.enriched(s, d)
        val records = enr.select(to_json(struct(
          col("station_no").as("sno"),
          concat(lit("Customer#"), lpad(col("station_no"), 9, "0")).as("sna"),
          col("district").as("sarea"),
          col("lat").as("latitude"),
          col("lng").as("longitude"),
          when(col("event_id") % 97 === 0, "N/A")
            .otherwise(col("total_spaces").cast("string")).as("Quantity"),
          col("bikes_available").as("available_rent_bikes"),
          (col("total_spaces") - col("bikes_available")).as("available_return_bikes"),
          date_format(from_utc_timestamp(col("record_time"), "Asia/Taipei"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("srcUpdateTime"),
          col("event_id"))).as("json")).as[String]
        // The tick's parse and check (one aggregate at build). The keys
        // are read straight from the map, as JSON text cast below:
        // `IngestBatch.snapshot`'s line drop is a filter, and the
        // optimizer pushes it below the parse, parsing each record twice.
        val parsed = IngestBatch.parseDeclared(records)
        val checks = IngestBatch.SnapshotCheck
        IngestBatch.requireSnapshot(parsed.agg(checks.head, checks.tail: _*).head(),
          "events snapshot")
        val raw = parsed.select(
          (IngestBatch.RequiredSnapshot :+ "event_id").map(k => col("m").getItem(k).as(k)): _*)
        val renamed = IngestBatch.renameByMap(raw, Map(
          "sno" -> "station_no", "sna" -> "name_tw", "sarea" -> "district",
          "srcUpdateTime" -> "record_time_tpe"))
        renamed.select(
          col("event_id").cast("long").as("event_id"),
          col("station_no"),
          Derive.stripPrefix(col("name_tw"), "Customer#").as("station_code"),
          col("district"),
          IngestBatch.lenientInt(col("Quantity")).as("total_spaces"),
          col("available_rent_bikes").cast("double").as("bikes_available"),
          Derive.taipeiToUtc(to_timestamp(col("record_time_tpe"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS")).as("record_time"))
      },
      Some(enrSql +
        """SELECT event_id, station_no,
          |       lpad(station_no, 9, '0') AS station_code,
          |       district,
          |       CASE WHEN event_id % 97 = 0 THEN NULL ELSE total_spaces END AS total_spaces,
          |       CAST(bikes_available AS DOUBLE) AS bikes_available,
          |       record_time
          |FROM enr""".stripMargin)),

    Q("ing2_dict_of_arrays",
      "S2: weather delivered as one dict-of-arrays JSON payload (the " +
        "Open-Meteo shape, 02:190-206), rebuilt into rows via " +
        "from_json + arrays_zip + explode.",
      (s, d) => {
        val weather = Analog.weather(s, d)
        val payload = weather
          .agg(to_json(struct(
            sort_array(collect_list(struct(col("hour_key"), col("temperature")))).as("rows")))
            .as("json"))
        val schema = StructType(Seq(StructField("rows", ArrayType(StructType(Seq(
          StructField("hour_key", TimestampType),
          StructField("temperature", DoubleType)))))))
        payload
          .select(explode(from_json(col("json"), schema).getField("rows")).as("r"))
          .select(
            col("r.hour_key").as("hour_key"),
            Fmt.trunc(col("r.temperature"), 6).as("temperature"))
      },
      Some(enrSql +
        """SELECT hour_key, floor((temperature) * 1e6 + 1e-6) / 1e6 AS temperature
          |FROM weather""".stripMargin)),

    Q("ing3_props_json_extract",
      "JSON scalar surface (§2.8): from_json over the events.props " +
        "column, typed extraction + aggregation by the embedded key.",
      (s, d) => {
        val schema = StructType(Seq(StructField("k", LongType)))
        Tables.events(s, d)
          .withColumn("k", from_json(col("props"), schema).getField("k"))
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"),
            Fmt.trunc(avg("value"), 6).as("avg_value"))
          .orderBy("k_mod")
      },
      Some(
        """SELECT CAST(CAST(props ->> 'k' AS BIGINT) % 10 AS BIGINT) AS k_mod,
          |       count(*) AS n,
          |       floor((avg(value)) * 1e6 + 1e-6) / 1e6 AS avg_value
          |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin)),

    Q("st1_stream_watermark_dedup",
      "Streaming ingest (2.9) exercised end-to-end as a bounded run: " +
        "file-source micro-batches -> watermarked dedup on the " +
        "warehouse unique key -> memory sink, then per-station dedup " +
        "counts. Oracle is the batch semantics (DISTINCT on the key) - " +
        "the stream/batch equivalence the watermark design promises.",
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit}
        val facts = eventsStream(s, d).select("station_no", "record_time")
        val deduped = graft.streaming.MicroBatchIngest.dedupWithinWatermark(facts)
        BoundedStream.toMemory(s, "append")(_ => deduped)
          .groupBy("station_no").agg(count(lit(1)).as("n_dedup"))
          .orderBy("station_no")
      },
      Some(enrSql +
        """SELECT station_no, count(*) AS n_dedup FROM (
          |  SELECT DISTINCT station_no, record_time FROM status)
          |GROUP BY station_no ORDER BY station_no""".stripMargin)),

    Q("st2_stream_windowed_agg",
      "Streaming watermarked WINDOWED aggregation (2.9): tumbling " +
        "1-hour event-time windows per station over the bounded " +
        "micro-batch run, complete-mode sink. Oracle is the batch " +
        "hourly rollup - the window/batch equivalence.",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val agg = graft.streaming.MicroBatchIngest.hourlyWindowStats(eventsStream(s, d))
        BoundedStream.toMemory(s, "complete")(_ => agg)
          .select(
            col("window.start").as("window_start"),
            col("station_no"),
            col("n"),
            Fmt.trunc(col("avg_bikes"), 6).as("avg_bikes"))
          .orderBy("window_start", "station_no")
      },
      Some(enrSql +
        """SELECT date_trunc('hour', record_time) AS window_start, station_no,
          |       count(*) AS n,
          |       floor((avg(bikes_available)) * 1e6 + 1e-6) / 1e6 AS avg_bikes
          |FROM status GROUP BY 1, 2 ORDER BY window_start, station_no""".stripMargin)),

    Q("st3_stream_stateful_counts",
      "Streaming CUSTOM STATE via flatMapGroupsWithState (2.9): " +
        "cumulative per-station counts carried in GroupState across " +
        "micro-batches (cross-batch accumulation proven in " +
        "MicroBatchIngestSpec); the bounded run's final state equals " +
        "the batch group-by count.",
      (s, d) => {
        import org.apache.spark.sql.functions.max
        val counted = graft.streaming.MicroBatchIngest
          .runningCounts(eventsStream(s, d))
          .toDF("station_no", "n_cum")
        // max over the per-batch emissions = the final running total
        // (robust to the source splitting the run into several batches)
        BoundedStream.toMemory(s, "append")(_ => counted)
          .groupBy("station_no").agg(max("n_cum").as("n_events"))
          .orderBy("station_no")
      },
      Some(enrSql +
        """SELECT station_no, count(*) AS n_events
          |FROM status GROUP BY station_no ORDER BY station_no""".stripMargin)),

    Q("st4_stream_stream_join",
      "Watermarked STREAM-STREAM equi-join (2.9, r7 verdict #6): the " +
        "reference's status-weather hourly merge with BOTH sides " +
        "unbounded streams, joined on their 1-hour event-time window " +
        "(the state-cleanup-eligible shape — join state is bounded by " +
        "the watermark horizon per side). Readings = every 83rd " +
        "event's value as that tick's observation. Each micro-batch " +
        "PARTIALLY aggregates its joined rows (count + sums per hour) " +
        "in foreachBatch and the query re-aggregates the partials — " +
        "the sink holds (hours x batches) rows, never the raw join " +
        "output, whose volume is quadratic-per-hour in event density " +
        "(the memory-sink form materialized every joined row driver-" +
        "side and wedged at sf1). avg = sum/count re-associated; the " +
        "bike sums are integer-exact in a double; avg_temp carries " +
        "the a2/a3/j2/j3 legacy exposure (cross-engine float-sum " +
        "ordering can land one trunc-6 step apart — 5 of 720 rows at " +
        "sf0.1; the sf0.01 driver gate is exactly green). Oracle: the " +
        "batch restatement of the identical hour-bucket inner join.",
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val status = eventsStream(s, d)
        val readings = readingsStream(s, d)
        val joined = graft.streaming.MicroBatchIngest
          .hourlyStreamJoin(status, readings)
          .select(col("hour_window"), col("bikes_available"), col("temperature"))
        // partials/ outlives the returned frame's lazy read: one live
        // stage tree per query (the st7 policy)
        val stage = graft.Artifacts.replace(graft.Artifacts.Jvm, "", "st4_stage")(
          _.tree(java.nio.file.Files.createTempDirectory("graft_st4_")))
        val outDir = stage.resolve("partials").toString
        // LocalRun.StreamStatePartitions state stores per join side; each
        // batch arrives hash-partitioned by the join key, so the partial
        // aggregate groups by that key and needs no shuffle
        BoundedStream.foreachBatch(_ => joined) { (b, _) =>
          b.groupBy("hour_window")
            .agg(count(lit(1)).as("n"),
              sum("bikes_available").as("sum_bikes"),
              sum("temperature").as("sum_temp"))
            .write.mode("append").parquet(outDir)
        }
        s.read.parquet(outDir)
          .groupBy(col("hour_window.start").as("hour_start"))
          .agg(sum("n").as("n_pairs"),
            Fmt.trunc(sum("sum_bikes") / sum("n"), 6).as("avg_bikes"),
            Fmt.trunc(sum("sum_temp") / sum("n"), 6).as("avg_temp"))
          .orderBy("hour_start")
      },
      Some(enrSql +
        """SELECT date_trunc('hour', s.record_time) AS hour_start,
          |       count(*) AS n_pairs,
          |       floor((avg(s.bikes_available)) * 1e6 + 1e-6) / 1e6 AS avg_bikes,
          |       floor((avg(r.temperature)) * 1e6 + 1e-6) / 1e6 AS avg_temp
          |FROM status s JOIN (
          |  SELECT record_time AS obs_time, bikes_available AS temperature
          |  FROM status WHERE event_id % 83 = 0) r
          |  ON date_trunc('hour', s.record_time) = date_trunc('hour', r.obs_time)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("st10_stream_sessionize",
      "STREAMING gap-based sessionization (w7's operator on an " +
        "unbounded stream — r9 verdict ask #3): session_window(ts, " +
        "6h) per user with a 1-hour watermark in APPEND mode, the " +
        "production form where session state is WATERMARK-BOUNDED — " +
        "a session is held in the state store only until the " +
        "watermark passes its end, then emitted once and evicted " +
        "(complete-mode retention would grow with the stream). Three " +
        "staged arrival days make the cross-trigger machinery real: " +
        "the corpus split at its time MIDPOINT (sessions straddling " +
        "the cut MERGE across triggers — day 2's early events extend " +
        "day-1 session state), plus a far-future sentinel row whose " +
        "only job is to advance the watermark past every real " +
        "session's end so append mode flushes them all (the sentinel's " +
        "own session stays unflushed and is filtered). Session split " +
        "at gap >= 6h (session_window's half-open [t, t+gap) windows); " +
        "session_end = last event + gap, Spark's window.end. " +
        "MicroBatchIngestSpec pins a session that closes only after " +
        "the second trigger. Oracle: the batch gap-rule restatement " +
        "with the same >= boundary.",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
        // bounded 1-row collect: the staging cutoff (time midpoint)
        // and the sentinel's far-future timestamp
        val mm = ev.agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val cutUs = lo + (hi - lo) / 2
        val day1 = ev.filter(unix_micros(col("ts")) <= cutUs)
        val day2 = ev.filter(unix_micros(col("ts")) > cutUs)
        val day3 = s.range(1).select(lit(-1L).as("user_id"),
          timestamp_micros(lit(hi + 30L * 24 * 3600 * 1000000L)).as("ts"),
          lit("flush").as("event_type"))
        BoundedStream.toMemory(s, "append") { sc =>
          BoundedStream.arrivals(sc, Seq(day1, day2, day3))
            .withWatermark("ts", "1 hour")
            .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
            .agg(count(lit(1)).as("n_events"),
              sum((col("event_type") === "purchase").cast("long"))
                .as("n_purchases"))
        }.filter(col("user_id") =!= -1L)
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("n_purchases"))
          .orderBy("user_id", "session_start")
      },
      Some(
        """WITH sv AS (
          |  SELECT user_id, ts, event_type,
          |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          |  FROM events),
          |sf AS (
          |  SELECT user_id, ts, event_type,
          |         CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 21600000000
          |              THEN 1 ELSE 0 END AS newf
          |  FROM sv),
          |sx AS (
          |  SELECT user_id, ts, event_type,
          |         sum(newf) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          |  FROM sf)
          |SELECT user_id,
          |       min(ts) AS session_start,
          |       max(ts) + INTERVAL 6 HOUR AS session_end,
          |       count(*) AS n_events,
          |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_purchases
          |FROM sx GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin)),

    Q("st13_stream_funnel",
      "STREAMING first-touch funnel (a12's operator on an unbounded " +
        "stream — the live conversion dashboard shape): per-user " +
        "stage-anchor times held as flatMapGroupsWithState custom " +
        "state (streaming/FunnelStream), ONE fixed 3-long array per " +
        "user no matter how many events or triggers arrive — the " +
        "batch funnel re-scans all history per refresh; the stream " +
        "pays each event once. Two staged arrival days (split at the " +
        "corpus time midpoint, one file per trigger) make the cross-" +
        "trigger state continuation real: a user whose click lands on " +
        "day 1 converts on day 2 only through restored state. Anchors " +
        "are set-once, so per-trigger emissions are monotone and the " +
        "final per-user row is min over non-null emissions (st3's " +
        "recovery move); the rollup then restates a12's one-row shape " +
        "EXACTLY — same oracle SQL, proving stream ≡ batch on the " +
        "full replay.",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
        // bounded 1-row collect: the day split point (time midpoint —
        // the st10 staging pattern; per-user arrival stays time-ordered
        // across triggers, FunnelStream's documented input contract)
        val mm = ev.agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi")).head()
        val cutUs = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val day1 = ev.filter(unix_micros(col("ts")) <= cutUs)
        val day2 = ev.filter(unix_micros(col("ts")) > cutUs)
        funnelAnchorRollup(BoundedStream.toMemory(s, "append") { sc =>
          graft.streaming.FunnelStream
            .stageTimes(BoundedStream.arrivals(sc, Seq(day1, day2)),
              "user_id", "ts", "event_type",
              Seq("click", "view", "purchase"), windowHours = 24)
            .toDF("user_id", "t")
        })
      },
      Some(RelationalQueries.funnel3OracleSql)),

    Q("st14_stream_funnel_late",
      "STREAMING funnel over an OUT-OF-ORDER replay — st13's operator " +
        "with the cross-trigger in-order contract LIFTED (r12 verdict " +
        "ask #4, streaming/FunnelStream.stageTimesBuffered): the two " +
        "arrival days are staged NEWEST FIRST (every day-1 event " +
        "arrives a trigger after the day-2 events it must precede), " +
        "and a watermark spanning the corpus buffers each user's " +
        "events in state until no earlier event can still arrive, " +
        "then folds them in true event-time order through the same " +
        "set-once anchor rule. Two far-future sentinel rows (a " +
        "throwaway user, filtered from the rollup) advance the " +
        "watermark past every real event and trigger the batch in " +
        "which the event-time timeouts flush the remaining buffers — " +
        "the bounded-replay analog of a live stream's continuing " +
        "traffic. Converges to the IDENTICAL one-row a12 rollup as " +
        "st13 and the batch funnel: same oracle SQL over the full " +
        "replay, proving order-independence within the watermark " +
        "horizon. State per user stays bounded: k set-once anchors + " +
        "a buffer capped by the lateness horizon.",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_type"))
        val mm = ev.agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi")).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val cutUs = lo + (hi - lo) / 2
        // lateness horizon: the full corpus span (+1 h margin) — day 1
        // arrives after day 2, so every day-1 event is late by up to
        // the span and must still be inside the watermark
        val delaySec = (hi - lo) / 1000000L + 3600L
        val sent1Us = hi + delaySec * 1000000L + 86400L * 1000000L
        val sent2Us = sent1Us + 3600L * 1000000L
        def sentinel(us: Long) = s.range(1).select(
          lit(-777L).as("user_id"), timestamp_micros(lit(us)).as("ts"),
          lit("noise").as("event_type"))
        val sink = BoundedStream.toMemory(s, "append") { sc =>
          val days = Seq(ev.filter(unix_micros(col("ts")) > cutUs), // day 2 FIRST
            ev.filter(unix_micros(col("ts")) <= cutUs),              // then day 1
            sentinel(sent1Us),  // advances the watermark past hi
            sentinel(sent2Us))  // the trigger whose timeouts flush
          graft.streaming.FunnelStream
            .stageTimesBuffered(BoundedStream.arrivals(sc, days),
              "user_id", "ts", "event_type",
              Seq("click", "view", "purchase"), windowHours = 24,
              delayThreshold = s"$delaySec seconds")
            .toDF("user_id", "t")
        }
        funnelAnchorRollup(sink.filter(col("user_id") >= 0))
      },
      Some(RelationalQueries.funnel3OracleSql)),

    Q("a9_table_counts",
      "A9 count/emptiness checkpoints, explicit: row counts of the " +
        "pipeline's tables as a single frame.",
      (s, d) => {
        val counts = Seq("events", "customer", "supplier", "documents", "embeddings")
          .map(t => Tables.load(s, d, t).agg(count(lit(1)).as("n_rows"))
            .select(lit(t).as("table_name"), col("n_rows")))
        counts.reduce(_ unionAll _).orderBy("table_name")
      },
      Some(
        """SELECT * FROM (
          |  SELECT 'events' AS table_name, count(*) AS n_rows FROM events
          |  UNION ALL SELECT 'customer', count(*) FROM customer
          |  UNION ALL SELECT 'supplier', count(*) FROM supplier
          |  UNION ALL SELECT 'documents', count(*) FROM documents
          |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings)
          |ORDER BY table_name""".stripMargin))
  )
}
