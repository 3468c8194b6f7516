package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.pipeline.Exec

/** Gap-based sessionization of the events stream via the typed
  * KeyValueGroupedDataset API — arbitrary per-group logic (the batch
  * sibling of flatMapGroupsWithState; at unbounded scale the same
  * function body moves into the streaming variant with state timeouts).
  * Each user's events are sorted in-executor and split on >30-minute
  * gaps. The oracle re-derives sessions relationally (lag + running
  * sum over a window), proving the imperative and declarative
  * formulations agree row-for-row.
  */
object Sessionize {

  private val GapMicros: Long = 30L * 60 * 1000 * 1000

  final case class Ev(user_id: Long, ts_us: Long, value: Double)
  final case class Session(user_id: Long, sid: Int, session_start_us: Long,
                           n_events: Long, sum_value_cents: Long)

  /** Streaming variants' per-row input (ts duplicated as a TimestampType
    * column for the watermark and as exact micros for the gap logic —
    * java.sql.Timestamp.getTime would truncate to millis). */
  final case class SEv(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, value: Double)
  /** One open session per user, carried across micro-batches. */
  final case class OpenSession(sid: Int, start_us: Long, prev_us: Long,
                               n: Long, cents: Long)

  /** The flatMapGroupsWithState body shared by the gate entry and the
    * restart-recovery spec: one open session per user carried in state,
    * gap-close inside a batch, timeout-flush when the watermark passes
    * end + gap, tombstone (n=0) preserving the per-user sid counter. */
  def stateFn(gapUs: Long): (Long, Iterator[SEv],
      org.apache.spark.sql.streaming.GroupState[OpenSession]) => Iterator[Session] =
    (uid, it, state) =>
      if (state.hasTimedOut) {
        val o = state.get
        state.update(OpenSession(o.sid + 1, 0, 0, 0, 0))
        Iterator.single(Session(uid, o.sid, o.start_us, o.n, o.cents))
      } else {
        val evs = it.toArray.sortBy(e => (e.ts_us, e.value))
        val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
        var cur = state.getOption
        evs.foreach { e =>
          cur match {
            case Some(o) if o.n > 0 && e.ts_us - o.prev_us <= gapUs =>
              cur = Some(o.copy(prev_us = e.ts_us, n = o.n + 1,
                cents = o.cents + math.round(e.value * 100)))
            case Some(o) if o.n > 0 =>
              closed += Session(uid, o.sid, o.start_us, o.n, o.cents)
              cur = Some(OpenSession(o.sid + 1, e.ts_us, e.ts_us, 1,
                math.round(e.value * 100)))
            case tomb =>
              cur = Some(OpenSession(tomb.map(_.sid).getOrElse(0),
                e.ts_us, e.ts_us, 1, math.round(e.value * 100)))
          }
        }
        cur.foreach { o =>
          state.update(o)
          if (o.n > 0)
            state.setTimeoutTimestamp(o.prev_us / 1000 + gapUs / 1000)
        }
        closed.iterator
      }

  /** Streaming session builder over a (user_id, ts_us, value)-sorted
    * event iterator: emits a Session as each one closes, holding O(1)
    * state (current session counters only) — never a whole user. This is
    * what keeps one hot key (bot traffic) from buffering unbounded
    * events in a task at 100 TB; `it.toArray` per group was the prior
    * shape and OOMs exactly there. Pure function so the no-buffering
    * property is spec-testable with a lazy generator (SessionizeSpec). */
  def sessionIterator(rows: Iterator[Ev]): Iterator[Session] = new Iterator[Session] {
    private val buf = scala.collection.mutable.Queue.empty[Session]
    private var inited = false
    private var uid = 0L
    private var sid = 0
    private var start = 0L
    private var n = 0L
    private var cents = 0L
    private var prev = Long.MinValue
    private var finished = false

    private def flush(): Unit = if (n > 0) { buf += Session(uid, sid, start, n, cents); n = 0; cents = 0 }

    private def pump(): Unit = {
      while (buf.isEmpty && rows.hasNext) {
        val e = rows.next()
        if (!inited || e.user_id != uid) {
          flush() // closes the previous user's open session (old uid)
          inited = true; uid = e.user_id; sid = -1; prev = Long.MinValue
        }
        if (prev == Long.MinValue || e.ts_us - prev > GapMicros) {
          flush(); sid += 1; start = e.ts_us
        }
        // exact cents (value has 2 decimals) keep sums engine-exact
        n += 1; cents += math.round(e.value * 100); prev = e.ts_us
      }
      if (buf.isEmpty && !rows.hasNext && !finished) { finished = true; flush() }
    }

    override def hasNext: Boolean = { pump(); buf.nonEmpty }
    override def next(): Session = { pump(); buf.dequeue() }
  }

  val qs: Map[String, Q] = Map(
    "stream_sessionize" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Q.events(s, dir)
          .selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
          .as[Ev]
        // secondary sort: co-locate each user, order events within the
        // partition, then a single streaming pass — the hot-key-safe
        // formulation of groupByKey(...).flatMapGroups(it.toArray)
        val sessions = ev
          .repartition(col("user_id"))
          .sortWithinPartitions(col("user_id"), col("ts_us"), col("value"))
          .as[Ev]
          .mapPartitions(sessionIterator)
        sessions.toDF()
          .select(col("user_id"), col("sid"),
            date_format(timestamp_micros(col("session_start_us")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            col("n_events"),
            (col("sum_value_cents").cast(DecimalType(18, 0)) / 100).cast(DecimalType(18, 2))
              .cast("double").as("sum_value"))
          .orderBy("user_id", "sid")
      },
      Some("""WITH m AS (
          SELECT user_id, ts, value,
            CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value)
                      > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value) IS NULL
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sid
              FROM m)
        SELECT user_id, CAST(sid AS INTEGER) AS sid,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          count(*) AS n_events,
          CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM g GROUP BY user_id, sid ORDER BY user_id, sid""")),

    // The PRODUCTION streaming shape: flatMapGroupsWithState with
    // event-time timeouts. State per user = the one open session; a gap
    // inside a batch closes and emits immediately, the trailing open
    // session is flushed when the WATERMARK passes its end + gap (the
    // EventTimeTimeout), so state is bounded by active users and no
    // session is held forever. Determinism on a bounded input: the
    // events are staged time-split (all of batch k precedes batch k+1,
    // so per-user order is monotone across batches) and two far-future
    // sentinel files advance the watermark and then trigger the timeout
    // sweep. The oracle is the SAME batch SQL as stream_sessionize —
    // the stateful streaming formulation must lose nothing.
    "stream_sessionize_state" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val tbl = "graft_stream_sessionize_state"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())

        // Staging NORMALIZES ts (Q.events) before writing, so the
        // stream's declared schema below is OUR timestamp contract and
        // never drifts with the testdata generator's physical type.
        val staged = Stage.staged(s"graft-sess-state:$dir") { d =>
          val scratch = Stage.tempDir("graft-sess-tmp")
          val raw = Q.events(s, dir)
          val midUs = raw.selectExpr("cast(avg(unix_micros(ts)) as bigint)")
            .collect()(0).getLong(0)
          Stage.parquetFile(raw.where(expr(s"unix_micros(ts) < $midUs")),
            scratch, d, "b00.parquet", 0)
          Stage.parquetFile(raw.where(expr(s"unix_micros(ts) >= $midUs")),
            scratch, d, "b01.parquet", 1)
          Seq(2, 3).foreach { i =>
            val tsUs = (4102444800L + (i - 2) * 86400L) * 1000000L
            Stage.parquetFile(
              Seq((-1L, tsUs, -1L, "sentinel", 0.0, ""))
                .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
                .withColumn("ts", timestamp_micros(col("ts"))),
              scratch, d, f"b$i%02d.parquet", i)
          }
        }

        val gapUs = GapMicros
        val stream = s.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "value")
          .withWatermark("ts", "1 minute")
          .as[SEv]

        // state body = stateFn: watermark-timeout flush, TOMBSTONE (n=0,
        // carrying the next sid) instead of removal — a returning user
        // must continue the per-user session numbering, not restart at
        // 0; that O(1) residue per user ever seen is the
        // information-theoretic floor the batch oracle's running-sum
        // numbering implies. Shared with StatefulStreamingSpec's
        // restart-recovery case.
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val sessions = stream.groupByKey(_.user_id)
            .flatMapGroupsWithState[OpenSession, Session](
              OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn(gapUs))

          val q = sessions.toDF().writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl)
          .where(col("user_id") >= 0) // sentinel rows never sessionize
          .select(col("user_id"), col("sid"),
            date_format(timestamp_micros(col("session_start_us")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            col("n_events"),
            (col("sum_value_cents").cast(DecimalType(18, 0)) / 100).cast(DecimalType(18, 2))
              .cast("double").as("sum_value"))
          .orderBy("user_id", "sid")
      },
      Some("""WITH m AS (
          SELECT user_id, ts, value,
            CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value)
                      > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value) IS NULL
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sid
              FROM m)
        SELECT user_id, CAST(sid AS INTEGER) AS sid,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          count(*) AS n_events,
          CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM g GROUP BY user_id, sid ORDER BY user_id, sid"""))
  )
}
