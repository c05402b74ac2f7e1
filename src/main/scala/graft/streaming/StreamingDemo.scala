package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface: the event-time windowed aggregation
  * from q35 re-expressed as a stream (`readStream` → watermark →
  * windowed agg → sink). The reference is pure batch; this is the
  * north-star streaming extension (SURVEY.md §2 ▲).
  *
  * Design notes for the 100 TB / continuous case:
  *   - `withWatermark` bounds the state store: windows older than the
  *     watermark are evicted, so state is O(active windows), not O(history).
  *   - The aggregation is identical to the batch `window()` version —
  *     Spark's unified Dataset API means q35's plan and this one share
  *     the same logical operators, only the source/sink differ.
  *   - `count`/`sum` are partial-aggregated per micro-batch before the
  *     state-store merge (same map-side combine as batch).
  *
  * The parquet directory source replays the driver testdata as one
  * micro-batch; `processAllAvailable` + a memory sink make the demo
  * synchronous and assertable in the test suite (StreamingSpec).
  */
object StreamingDemo {

  /** `events.parquet` schema with `ts` in its on-disk physical form,
    * which differs across testdata generations (TIMESTAMP(NANOS) read as
    * raw longs under the nanosAsLong conf, or plain micros surfacing as
    * TIMESTAMP_NTZ). `readStream` needs the stored type; the probe is one
    * batch footer read.
    */
  def eventsSchema(spark: SparkSession, dir: String): StructType = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** The streaming events source with `ts` normalized to a session-UTC
    * micros TimestampType regardless of the stored form — the streaming
    * twin of `Tables.events`. All streaming demos build on this.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Hourly windowed counts over the streaming events source. Returns
    * the in-memory sink contents after all available data is processed.
    */
  def hourlyCounts(spark: SparkSession, dir: String, queryName: String = "stream_demo"): DataFrame = {
    val stream = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName)
      .select(
        unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket_us", "event_type")
  }
}

/** Custom stateful streaming: per-user sessionization with
  * `flatMapGroupsWithState` — the `KeyValueGroupedDataset` custom-state
  * surface (north star; complements the declarative `session_window` in
  * q37).
  *
  * Semantics match q37 exactly (new session when `ts >= last + gap`;
  * session end = last + gap). Each micro-batch folds its events into the
  * per-user open-session state and EMITS only sessions closed within the
  * batch — the user's trailing session stays in the state store awaiting
  * more events, which is the correct streaming answer (an unclosed
  * session is not yet a fact). StreamingSessionSpec pins: emitted ==
  * batch session_window result minus each user's final session.
  *
  * Scale: state is one small record per active user (start/last/count),
  * evicted on session close; the shuffle is the groupByKey on user_id.
  */
object StatefulSessionizer {
  final case class Ev(user_id: Long, ts_us: Long)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  def sessionize(spark: SparkSession, dir: String,
                 queryName: String = "session_stream", gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L

    val events = StreamingDemo.eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, evs, state) =>
        // batch iterators are unordered — sort this batch's event times
        val times = evs.map(_.ts_us).toArray
        java.util.Arrays.sort(times)
        val closed = Seq.newBuilder[SessionOut]
        var cur = state.getOption
        times.foreach { t =>
          cur = cur match {
            case Some(st) if t - st.lastUs < gapUs =>
              Some(st.copy(lastUs = t, n = st.n + 1))
            case Some(st) =>
              closed += SessionOut(user, st.startUs, st.lastUs + gapUs, st.n)
              Some(OpenSession(t, t, 1))
            case None => Some(OpenSession(t, t, 1))
          }
        }
        cur.foreach(state.update)
        closed.result().iterator
      }

    val q = sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName).orderBy("user_id", "start_us")
  }
}

/** Streaming deduplication with BOUNDED state:
  * `dropDuplicatesWithinWatermark` keeps a key in the state store only
  * until the watermark passes it, so state is O(keys per watermark
  * window) — the streaming twin of q20's exact dedup. Plain
  * `dropDuplicates` on a stream would grow state forever (every key seen
  * since the query started), which is the classic unbounded-state
  * mistake on a continuous 100 TB feed.
  *
  * The demo doubles the source (self-union) so every event_id arrives
  * exactly twice within one micro-batch; the deduped sink must contain
  * each id once (pinned by StreamingSpec against the batch distinct).
  */
object StreamingDedup {

  def dedupedEvents(spark: SparkSession, dir: String,
                    queryName: String = "dedup_stream"): DataFrame = {
    val base = StreamingDemo.eventsStream(spark, dir)
    val doubled = base.union(base)
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName).select("event_id", "ts", "user_id", "event_type")
  }
}

/** Watermarked STREAM-STREAM join: each user's purchases joined to their
  * views within the preceding hour. Both sides are unbounded, so Spark
  * buffers rows in the state store and the join is only possible because
  * (a) both sides carry watermarks and (b) the join condition bounds the
  * event-time distance (`view.ts ∈ [purchase.ts - 1h, purchase.ts]`) —
  * together they tell the engine when a buffered row can never match
  * again and can be evicted. Without the time bound, state grows
  * forever: the classic unbounded stream-stream join mistake. The spec
  * pins the result against the identical batch join.
  */
object StreamStreamJoin {

  def purchasesWithRecentViews(spark: SparkSession, dir: String,
                               queryName: String = "ss_join"): DataFrame = {
    def side(kind: String, alias: String) = StreamingDemo.eventsStream(spark, dir)
      .filter(col("event_type") === kind)
      .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
        col("ts").as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")

    val joined = side("purchase", "p").join(side("view", "v"),
      expr("""p_user = v_user AND
              v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"""))

    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()

    spark.table(queryName)
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"))
      .orderBy("p_id", "v_id")
  }
}
