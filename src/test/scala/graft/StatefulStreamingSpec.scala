package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Custom streaming state via mapGroupsWithState: per-user event counts
  * accumulated across micro-batches (two staged files -> two batches
  * with maxFilesPerTrigger=1). The final state must equal the batch
  * groupBy answer — state survives and composes across triggers.
  */
class StatefulStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  test("state store provider engages per the SPARK_GRAFT_STATE_PROVIDER gate") {
    // positive proof the config-gated A/B actually flips the provider in
    // THIS JVM (env must survive the sbt test fork) — without it, a
    // "green under RocksDB" run could silently be the in-memory default
    val conf = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      assert(conf.contains(SessionConf.RocksDbProvider),
        s"RocksDB requested but provider is $conf")
    else
      assert(!conf.contains(SessionConf.RocksDbProvider),
        s"RocksDB provider set without the env gate: $conf")
  }

  test("SPARK_GRAFT_STREAM_STATE_PARTITIONS: default 4, a malformed value names the knob") {
    import graft.queries.Q
    assert(Q.parseStatePartitions(None) == 4)
    assert(Q.parseStatePartitions(Some("8")) == 8)
    for (bad <- Seq("four", "", "0", "-2", "8 ")) {
      val e = intercept[IllegalArgumentException](Q.parseStatePartitions(Some(bad)))
      assert(e.getMessage.contains(s"SPARK_GRAFT_STREAM_STATE_PARTITIONS=$bad "), e.getMessage)
    }
  }

  test("stream-stream join purges both sides' buffered state at the watermark") {
    // THE scale property of stream_stream_join: with watermarks on both
    // sides and a time-bounded condition, Spark derives a state
    // watermark and REMOVES buffered rows that can no longer match —
    // without it, a 100 TB stream buffers forever. Two micro-batches 10
    // simulated hours apart; the 2 h watermark must evict batch-1 rows
    // during batch 2.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val scratch = graft.queries.Stage.tempDir("ssj-scratch")
    val dir = graft.queries.Stage.tempDir("ssj-input")
    val t0 = 1700000000L // epoch seconds
    def rows(base: Long, idBase: Long) = (0 until 100).map { i =>
      (idBase + i, (base + i) * 1000000L, (i % 10).toLong,
        if (i % 2 == 0) "click" else "view", 1.0, "")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    graft.queries.Stage.parquetFile(rows(t0, 0), scratch, dir, "b1.parquet", 1)
    graft.queries.Stage.parquetFile(rows(t0 + 36000, 1000), scratch, dir, "b2.parquet", 2)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def side(et: String, p: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .where(col("event_type") === et)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        timestamp_micros(col("ts_us")).as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", "2 hours")
    val joined = side("click", "c").join(side("view", "v"),
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES") &&
        col("v_ts") <= col("c_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_state_test").start()
    try {
      q.processAllAvailable()
      val ops = q.recentProgress.flatMap(_.stateOperators)
      assert(ops.exists(_.operatorName.contains("symmetricHashJoin")),
        s"no stream-stream join operator in progress: ${ops.map(_.operatorName).mkString(",")}")
      // batch 1 buffers 100 rows across the two sides (50 clicks + 50
      // views); every one must be evicted once batch 2's event times
      // push the watermark past them
      val removed = ops.map(_.numRowsRemoved).sum
      assert(removed >= 100, s"watermark removed only $removed buffered rows")
      // final retained state is the last batch only, not the stream
      val lastTotal = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(lastTotal <= 120, s"state retained $lastTotal rows — unbounded buffering")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS ssj_state_test")
    }
  }

  test("stream-stream join state survives a query RESTART via checkpoint") {
    // The redeploy contract: click rows buffered before a shutdown must
    // still match view rows that arrive after the restart. Phase 1
    // processes only file 1 (clicks + views at t0) and stops; file 2
    // (clicks + views at t0+5min, inside the 10 min window) appears
    // while the query is DOWN; phase 2 restarts from the same
    // checkpoint. Cross-phase pairs can only come from recovered join
    // state, and the parquet sink must not duplicate phase-1 pairs.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val scratch = graft.queries.Stage.tempDir("ssjr-scratch")
    val inDir = graft.queries.Stage.tempDir("ssjr-input")
    val outDir = graft.queries.Stage.tempDir("ssjr-out")
    val ckpt = graft.queries.Stage.tempDir("ssjr-ckpt")
    val t0 = 1700000000L
    def mk(base: Long, idBase: Long) = (0 until 20).map { i =>
      // clicks (even i) and views (odd i) share users 0-4
      (idBase + i, (base + i % 5) * 1000000L, ((i / 2) % 5).toLong,
        if (i % 2 == 0) "click" else "view", 1.0, "")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    graft.queries.Stage.parquetFile(mk(t0, 0), scratch, inDir, "b1.parquet", 1)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def joined() = {
      def side(et: String, p: String) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .where(col("event_type") === et)
        .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
          timestamp_micros(col("ts_us")).as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "2 hours")
      side("click", "c").join(side("view", "v"),
        col("c_user") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES") &&
          col("v_ts") <= col("c_ts"))
        .select("c_id", "v_id")
    }
    def run(): Unit = {
      val q = joined().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", outDir.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()                                                     // phase 1
    graft.queries.Stage.parquetFile(mk(t0 + 300, 100), scratch, inDir, "b2.parquet", 2)
    run()                                                     // phase 2, same checkpoint
    val got = spark.read.parquet(outDir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val all = mk(t0, 0).unionAll(mk(t0 + 300, 100))
    val c = all.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("cu"),
        col("ts_us").as("cts"))
    val v = all.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("vu"),
        col("ts_us").as("vts"))
    val want = c.join(v, col("cu") === col("vu") &&
        col("vts") >= col("cts") - 600L * 1000000L && col("vts") <= col("cts"))
      .select("c_id", "v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // the proof the state was RECOVERED, not recomputed: some matches
    // straddle the restart (phase-1 click x phase-2 view)
    assert(want.exists { case (cid, vid) => cid >= 100 && vid < 100 },
      "test setup produced no cross-restart pairs")
  }

  test("mapGroupsWithState accumulates across micro-batches") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sf = "/root/testdata/sf0.001"

    // stage the events in two halves so the file source runs two batches
    val src = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_type")
    val staged: Path = Files.createTempDirectory("graft-state")
    src.where(col("user_id") % 2 === 0).coalesce(1)
      .write.parquet(staged.resolve("a").toString)
    src.where(col("user_id") % 2 === 1).coalesce(1)
      .write.parquet(staged.resolve("b").toString)
    val inDir = Files.createTempDirectory("graft-state-in")
    def copyPart(from: Path, name: String): Unit = {
      val part = Files.list(from).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, inDir.resolve(name))
    }
    copyPart(staged.resolve("a"), "batch0.parquet")
    copyPart(staged.resolve("b"), "batch1.parquet")

    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .as[(Long, String)]

    val counted = stream
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (uid, n)
      }

    val name = "graft_state_test"
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val q = counted.toDF("user_id", "n").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()

    // last update per user == total count
    val got = spark.table(name)
      .groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = src.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(spark.table(name).count() >= want.size) // saw per-batch updates
  }

  test("sessionize state survives a query RESTART via checkpoint (exactly-once file sink)") {
    // The production crash/redeploy shape: phase 1 processes early
    // events and stops; phase 2 restarts the SAME checkpoint with new
    // files. A session straddling the restart (events on both sides
    // within the gap) must merge into ONE session — only recovered
    // state can do that — and nothing may duplicate in the file sink.
    import spark.implicits._
    import graft.queries.Sessionize
    import graft.queries.Sessionize.{OpenSession, SEv, Session}
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    val inDir = Files.createTempDirectory("graft-restart-in")
    val outDir = Files.createTempDirectory("graft-restart-out")
    val ckpt = Files.createTempDirectory("graft-restart-ckpt")
    val scratch = Files.createTempDirectory("graft-restart-tmp")

    val gapUs = 30L * 60 * 1000 * 1000
    val t0 = 1700000000000000L // micros
    def stageFile(rows: Seq[(Long, Long, Double)], name: String, order: Int): Unit =
      graft.queries.Stage.parquetFile(
        rows.toDF("user_id", "ts_us", "value"), scratch, inDir, name, order)

    def start() = {
      val stream = spark.readStream
        .schema("user_id LONG, ts_us LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .selectExpr("user_id", "timestamp_micros(ts_us) AS ts", "ts_us", "value")
        .withWatermark("ts", "1 minute")
        .as[SEv]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[OpenSession, Session](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          Sessionize.stateFn(gapUs))
      stream.toDF().writeStream.outputMode("append")
        .format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()
    }

    // phase 1: user 1 starts a session, user 2 completes one
    stageFile(Seq((1L, t0, 1.0), (1L, t0 + 10L * 60 * 1000000, 2.0),
      (2L, t0, 5.0)), "b00.parquet", 0)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2 (after restart): user 1 CONTINUES within the gap, then two
    // far-future sentinels advance the watermark and trigger timeouts
    stageFile(Seq((1L, t0 + 20L * 60 * 1000000, 4.0)), "b01.parquet", 1)
    stageFile(Seq((-1L, 4102444800000000L, 0.0)), "b02.parquet", 2)
    stageFile(Seq((-1L, 4102531200000000L, 0.0)), "b03.parquet", 3)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(outDir.toString)
      .where(col("user_id") >= 0)
      .select("user_id", "sid", "session_start_us", "n_events", "sum_value_cents")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // user 1: ONE merged 3-event session spanning the restart (state
    // recovered); user 2: one single-event session. No duplicates.
    assert(got == Seq(
      (1L, 0, t0, 3L, 700L),
      (2L, 0, t0, 1L, 500L)), s"got $got")
  }
}
