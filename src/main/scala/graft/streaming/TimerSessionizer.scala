package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** EVENT-TIME TIMERS on `transformWithState` — the half of Spark 4's
  * arbitrary-state API TypedStateCensus does not exercise: sessions
  * close on INACTIVITY, which no input row announces. The processor
  * keeps one open session per user, arms a timer at `end + gap`, and
  * the session is emitted either when a later event overshoots the gap
  * (data-driven close, inside handleInputRows) or when the WATERMARK
  * passes the armed expiry (timer-driven close, handleExpiredTimer —
  * the path that needs no further input at all). The armed expiry rides
  * in its own ValueState so re-arming can delete the stale timer
  * (one live timer per key).
  *
  * Scale shape: state is one (session, expiry) pair per ACTIVE user —
  * bounded by concurrent-user count × gap, never event volume; timers
  * are RocksDB-range-scanned by expiry, so firing is O(expired), not
  * O(keys). Rows within a micro-batch are sorted per key before
  * folding (bounded by a user's per-batch volume); rows older than the
  * watermark were already dropped upstream.
  */
object TimerSessionizer {
  final case class Ev(user_id: Long, ts_us: Long)
  final case class Sess(user_id: Long, start_us: Long, end_us: Long,
                        n_events: Long)

  class SessionProcessor(gapUs: Long) extends StatefulProcessor[Long, Ev, Sess] {
    @transient private var sess: ValueState[Sess] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[Sess](
        "sess", Encoders.product[Sess], TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def rearm(expiryMs: Long): Unit = {
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      getHandle.registerTimer(expiryMs)
      armed.update(expiryMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Sess] = {
      val sorted = rows.toArray.sortBy(_.ts_us)
      var out = List.empty[Sess]
      var cur = if (sess.exists()) sess.get() else null
      sorted.foreach { e =>
        if (cur == null) cur = Sess(key, e.ts_us, e.ts_us, 1L)
        else if (e.ts_us > cur.end_us + gapUs) {
          out ::= cur // data-driven close: the gap is visible in-band
          cur = Sess(key, e.ts_us, e.ts_us, 1L)
        } else cur = Sess(key, math.min(cur.start_us, e.ts_us),
          math.max(cur.end_us, e.ts_us), cur.n_events + 1L)
      }
      if (cur != null) {
        sess.update(cur)
        rearm((cur.end_us + gapUs) / 1000L + 1L)
      }
      out.reverse.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Sess] = {
      // a fired timer is always current: re-arming deleted stale ones
      if (sess.exists()) {
        val s = sess.get()
        sess.clear(); armed.clear()
        Iterator.single(s)
      } else Iterator.empty
    }
  }

  /** Live timer-closed sessionization over a gcol table of events:
    * watermark delay 0 (replayed history — nothing is late), 30-minute
    * inactivity gap. The caller appends a far-future SENTINEL row
    * (user_id < 0) as the last arrival so the final watermark passes
    * every real timer — the standard closing tick; sentinel sessions
    * are filtered from the result.
    */
  def sessions(spark: SparkSession, gcolDir: String,
               queryName: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = spark.readStream.format("graft-columnar").load(gcolDir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
    val out = in.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(1800000000L),
        TimeMode.EventTime(), OutputMode.Append())
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tws_ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName).filter(col("user_id") >= 0L)
  }
}
