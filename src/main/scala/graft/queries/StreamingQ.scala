package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{CorpusOps, Exec}

/** Structured Streaming surface (beyond the batch-only reference): the
  * same hourly event aggregation as rel_events_hourly, executed as a
  * file-source stream -> windowed aggregation -> memory sink, drained
  * synchronously. The oracle is the batch-equivalent SQL — streaming
  * results must equal the batch answer exactly (complete output mode).
  *
  * Scale shape: the file source at 100 TB paces itself with
  * maxFilesPerTrigger; the windowed agg keeps state per (window,
  * event_type) only, and a production deployment would use append mode
  * + watermark to bound state — complete mode here is what makes the
  * run-to-completion oracle comparison exact.
  */
object StreamingQ {
  import Relational.DEC_SQL

  /** Declared schema of every STAGED event stream below. Staging
    * rewrites events through Q.events (schema-adaptive), so `ts` is
    * always a session-TZ TIMESTAMP here no matter which physical type
    * the testdata generator shipped (int64-nanos or timestamp[us]) —
    * the declared-LongType-over-physical-micros silent-wrong-answer
    * class cannot recur. Sentinel files are written with the same
    * timestamp type so one directory never mixes conventions. */
  private[queries] val stagedEventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Far-future sentinel rows (2100-01-01 + dayOffset), timestamp-typed
    * to match stagedEventsSchema. rows = (event_id, user_id, event_type). */
  private def sentinelDf(s: SparkSession, dayOffset: Int,
      rows: Seq[(Long, Long, String)]): DataFrame = {
    import s.implicits._
    val tsUs = (4102444800L + dayOffset * 86400L) * 1000000L
    rows.map { case (id, uid, et) => (id, tsUs, uid, et, 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
  }

  /** Stage the normalized events table as one parquet file with batch
    * order `order` (mtime-spaced for maxFilesPerTrigger=1). */
  private def stageEvents(s: SparkSession, dir: String,
      scratch: java.nio.file.Path, d: java.nio.file.Path,
      name: String, order: Int): Unit =
    Stage.parquetFile(Q.events(s, dir), scratch, d, name, order)

  val qs: Map[String, Q] = Map(
    "stream_events_hourly" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_events_hourly"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        // the file stream source wants a directory; stage the single
        // parquet file into one (harness detail, not a scale path —
        // a real deployment streams from an arriving-files directory).
        // Memoized per driver: repeated bench/gate runs re-time only the
        // stream, not the copy.
        val staged = Stage.staged(s"graft-stream:$dir") { d =>
          stageEvents(s, dir, Stage.tempDir("graft-stream-norm"), d,
            "events.parquet", 0)
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
                .cast(DoubleType).as("sum_value"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"), col("sum_value"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).orderBy("hour", "event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, count(*) AS n,
        CAST(CAST(sum(CAST(value AS $DEC_SQL)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- sliding (overlapping) windows: each event in TWO windows ----
    // The tumbling entries prove one-window assignment; this one pins
    // the overlap semantics — window('2 hours' slide '1 hour') fans
    // each event into exactly two windows, which the oracle replays as
    // a two-element unnest per event. Same complete-mode shape and
    // 4-partition state sizing as the hourly entry; sums ride exact
    // centi-units so the double fan-out cannot hide a float-order
    // hazard.
    "stream_events_sliding" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_events_sliding"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream:$dir") { d =>
          stageEvents(s, dir, Stage.tempDir("graft-stream-norm"), d,
            "events.parquet", 0)
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(expr("cast(round(value * 100) as bigint)")).as("centi_sum"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
              col("event_type"), col("n"), col("centi_sum"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).orderBy("win_start", "event_type")
      },
      Some("""WITH w AS (SELECT event_type, value,
            unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                    date_trunc('hour', ts)]) AS ws
          FROM events)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
          count(*) AS n,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS centi_sum
        FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // The production-shape variant: append output mode + a 2 h watermark,
    // so state is BOUNDED — a window's state is dropped once the
    // watermark passes its end, which is what makes this runnable against
    // an unbounded 100 TB event stream (the complete-mode entry above is
    // the harness-exact formulation, with unbounded state).
    //
    // Append-mode emission is deliberately late: a window is emitted by
    // the first batch that runs AFTER the watermark (computed at the end
    // of an earlier batch) has passed its end. To drain every real window
    // deterministically, the staged directory carries two far-future
    // sentinel rows in separate files with increasing mtimes
    // (maxFilesPerTrigger=1 => three ordered batches): batch 2's sentinel
    // advances the watermark past every real window, batch 3's sentinel
    // triggers their emission. The sentinels' own windows stay open and
    // are excluded from the result; the oracle is the same batch SQL as
    // the complete-mode entry — append + watermark must lose nothing on
    // a bounded input.
    // Streaming EXACT DEDUP chained into the windowed aggregation —
    // the production shape for deduplicating an unbounded event stream:
    // dropDuplicatesWithinWatermark keys state by event_id and DROPS a
    // key's state once the watermark passes its event time (bounded by
    // in-flight window, not stream length), then the same bounded-state
    // hourly aggregation runs downstream (two chained stateful
    // operators, append mode). Input is staged TWICE (every event
    // arrives in two micro-batches) so the dedup provably removes a
    // 100% duplicate load; the oracle is the plain batch aggregation of
    // the single copy.
    "stream_dedup_exact" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_dedup_exact"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-dedup:$dir") { d =>
          // the same data twice -> every event is a cross-batch duplicate
          val scratch = Stage.tempDir("graft-dedup-norm")
          stageEvents(s, dir, scratch, d, "events_a.parquet", 0)
          java.nio.file.Files.copy(
            d.resolve("events_a.parquet"), d.resolve("events_b.parquet"))
          java.nio.file.Files.setLastModifiedTime(d.resolve("events_b.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
          Seq(1, 2).foreach { i =>
            Stage.parquetFile(
              sentinelDf(s, i - 1, Seq((-i.toLong, 0L, "sentinel"))),
              scratch, d, s"sentinel$i.parquet", i + 1)
          }
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("event_id")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
                .cast(DoubleType).as("sum_value"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"), col("sum_value"))
          val q = stream.writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).where(col("event_type") =!= "sentinel")
          .orderBy("hour", "event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, count(*) AS n,
        CAST(CAST(sum(CAST(value AS $DEC_SQL)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    "stream_events_hourly_append" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_events_hourly_append"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-append:$dir") { d =>
          val scratch = Stage.tempDir("graft-append-norm")
          stageEvents(s, dir, scratch, d, "events.parquet", 0)
          // two sentinel files (2100-01-01, 2100-01-02), mtime-ordered after
          // the data file so the file source schedules them as later batches
          Seq(1, 2).foreach { i =>
            Stage.parquetFile(
              sentinelDf(s, i - 1, Seq((0L, 0L, "sentinel"))),
              scratch, d, s"sentinel$i.parquet", i)
          }
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .withWatermark("ts", "2 hours")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
                .cast(DoubleType).as("sum_value"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"), col("sum_value"))
          val q = stream.writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).where(col("event_type") =!= "sentinel")
          .orderBy("hour", "event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, count(*) AS n,
        CAST(CAST(sum(CAST(value AS $DEC_SQL)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- streaming incremental dedup against a static corpus index ----
    // The streaming sibling of dedup_incremental, and the shape a live
    // ingest pipeline actually runs: documents arrive on a stream and
    // are probed against the PERSISTED corpus index (shingle sets, LSH
    // buckets, content hashes — materialized once, reused every
    // micro-batch). Everything on the stream side is per-row map work:
    // the band keys come from one per-row kernel call (no signature
    // aggregate, so NO streaming state anywhere — no watermark, no
    // state store; stream-static inner joins are stateless), and they
    // collide with the index's batch-computed keys because both sides
    // call the same kernel (CorpusOps.withBands). The delta is staged as two mtime-ordered
    // files so matches provably emit across separate micro-batches; the
    // oracle is the same exhaustive cross-set scan as dedup_incremental
    // — streaming must find exactly the batch answer.
    "stream_dedup_incremental" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val docs = Q.t(s, dir, "documents")
        val tbl = "graft_stream_dedup_incremental"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-incdedup:$dir") { d =>
          val scratch = Stage.tempDir("graft-incdedup-scratch")
          val batch = docs.where(col("doc_id") % 10 === 7)
          Stage.parquetFile(batch.where(col("doc_id") % 20 === 7), scratch, d, "delta_a.parquet", 1)
          Stage.parquetFile(batch.where(col("doc_id") % 20 === 17), scratch, d, "delta_b.parquet", 2)
        }
        val (setsC, bucketsC, hashesC) =
          Dedup.corpusDedupIndex(docs.where(col("doc_id") % 10 =!= 7))
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
        val near = CorpusOps.withBands(CorpusOps.shingleSets(stream))
          .withColumn("bb", explode(col("bands")))
          .select(col("doc_id").as("batch_id"), col("sh"), col("bb"))
          .join(bucketsC.select(col("doc_id").as("corpus_id"), col("bb")), Seq("bb"))
          .join(setsC.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
            Seq("corpus_id"))
          .select(col("batch_id"), col("corpus_id"),
            size(array_intersect(col("sh"), col("sh_c"))).as("inter"),
            (size(col("sh")) + size(col("sh_c"))
              - size(array_intersect(col("sh"), col("sh_c")))).as("uni"))
          .where(col("inter") * 5 >= col("uni") * 4) // J >= 0.8
          .select("batch_id", "corpus_id")
        val exact = stream
          .select(col("doc_id").as("batch_id"), md5(col("text").cast("binary")).as("mh"))
          .join(hashesC.select(col("doc_id").as("corpus_id"), col("mh")), Seq("mh"))
          .select("batch_id", "corpus_id")
        val q = near.union(exact).writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try q.processAllAvailable() finally q.stop()
        // post-drain compaction only (band-collision duplicates collapse)
        s.table(tbl).groupBy("batch_id")
          .agg(min(col("corpus_id")).as("dup_of"))
          .orderBy("batch_id")
      },
      Some(Dedup.IncrementalOracleSql)),

    // ---- stream-stream event-time join ----
    // The remaining stateful-operator family: an inner join of two
    // unbounded streams (clicks x views per user, view within the 10 min
    // before the click), which at 100 TB only works because BOTH sides
    // carry watermarks and the join condition bounds event-time distance
    // — Spark derives a state watermark from the pair and purges each
    // side's buffered rows once no future match is possible. That is the
    // property this entry exercises; the oracle (the same join in batch
    // SQL) proves the streamed answer loses nothing. Drain exactness:
    // both sides read the SAME single staged file, so every row of both
    // sides is present from micro-batch 1 — inner joins emit eagerly and
    // state purge (watermark-driven, end-of-batch) can never outrun an
    // arrival. The memory sink holds raw pairs; the batch-side summary
    // aggregation after the drain is just result compaction.
    // ---- stream-STATIC join (the dimension-enrichment shape) ----
    // The join class the other stream entries don't cover: an unbounded
    // fact stream enriched against a bounded static dimension (here:
    // the distinct signup user set, broadcast — no shuffle on the
    // stream side and NO join state at all, because the static side is
    // complete by definition; this is why stream-static needs no
    // watermark while stream-stream does). The unmatched-row path is
    // exercised through left_outer + coalesce(known, false). Complete
    // output mode keeps the run-to-completion oracle comparison exact;
    // state is bounded by the two-row group cardinality, not the
    // stream. At 100 TB the static side refreshes per restart — the
    // incremental variant (dimension AS a slowly-changing stream) is
    // the stream-stream entries' territory.
    "stream_static_enrich" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_static_enrich"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-static:$dir") { d =>
          val scratch = Stage.tempDir("graft-static-norm")
          stageEvents(s, dir, scratch, d, "events_a.parquet", 0)
          Seq(1, 2).foreach { i =>
            Stage.parquetFile(
              sentinelDf(s, i - 1, Seq((-i.toLong, 0L, "sentinel"))),
              scratch, d, s"sentinel$i.parquet", i + 1)
          }
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val known = Q.events(s, dir).where(col("event_type") === "signup")
            .select(col("user_id")).distinct()
            .withColumn("known", lit(true))
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .where(col("event_type") === "purchase")
            .join(broadcast(known), Seq("user_id"), "left_outer")
            .groupBy(coalesce(col("known"), lit(false)).as("known"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
                .cast(DoubleType).as("sum_value"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).orderBy("known")
      },
      Some(s"""WITH k AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'signup')
        SELECT e.user_id IN (SELECT user_id FROM k) AS known,
          count(*) AS n,
          CAST(CAST(sum(CAST(value AS $DEC_SQL)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events e WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY known""")),

    "stream_stream_join" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_stream_join"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream:$dir") { d =>
          stageEvents(s, dir, Stage.tempDir("graft-stream-norm"), d,
            "events.parquet", 0)
        }
        def side(et: String, p: String) = s.readStream.schema(stagedEventsSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .where(col("event_type") === et)
          .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
            col("ts").as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "2 hours")
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val joined = side("click", "c").join(side("view", "v"),
            col("c_user") === col("v_user") &&
              col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES") &&
              col("v_ts") <= col("c_ts"))
          val q = joined.writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl)
          .groupBy((col("c_user") % 16).as("ubucket"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("c_id") + col("v_id")).as("pair_checksum"))
          .orderBy("ubucket")
      },
      // epoch_us on the oracle side: Spark joins on micro-resolution
      // timestamps, so the oracle must compare at micros too
      Some("""SELECT c.user_id % 16 AS ubucket, count(*) AS n_pairs,
          CAST(sum(c.event_id + v.event_id) AS BIGINT) AS pair_checksum
        FROM events c JOIN events v
          ON c.user_id = v.user_id
          AND c.event_type = 'click' AND v.event_type = 'view'
          AND epoch_us(v.ts) >= epoch_us(c.ts) - 600000000
          AND epoch_us(v.ts) <= epoch_us(c.ts)
        GROUP BY 1 ORDER BY ubucket""")),

    // ---- stream-stream LEFT OUTER join ----
    // The harder join mode: an unmatched click can only be emitted (with
    // a null view side) once the watermark proves no matching view can
    // still arrive — so unlike the inner entry, the drain NEEDS the
    // sentinel protocol. Each sentinel file carries one far-future click
    // AND one far-future view (user_id = -1, matches nothing): both
    // sides' watermark nodes advance (multipleWatermarkPolicy = min
    // takes the LAGGING side), batch 2 pushes the watermark past every
    // real event, batch 3 triggers the null-side emissions. Sentinels
    // filter out of the result by user sign; the oracle is the plain
    // batch LEFT JOIN — streamed outer results must lose nothing and
    // invent nothing.
    "stream_stream_left_join" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_stream_left_join"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-louter:$dir") { d =>
          val scratch = Stage.tempDir("graft-louter-norm")
          stageEvents(s, dir, scratch, d, "events.parquet", 0)
          Seq(1, 2).foreach { i =>
            Stage.parquetFile(
              sentinelDf(s, i - 1,
                Seq((-i.toLong, -1L, "click"), (-i.toLong, -1L, "view"))),
              scratch, d, s"sentinel$i.parquet", i)
          }
        }
        def side(et: String, p: String) = s.readStream.schema(stagedEventsSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .where(col("event_type") === et)
          .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
            col("ts").as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "2 hours")
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val joined = side("click", "c").join(side("view", "v"),
            col("c_user") === col("v_user") &&
              col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES") &&
              col("v_ts") <= col("c_ts"),
            "left_outer")
          val q = joined.writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).where(col("c_user") >= 0)
          .groupBy((col("c_user") % 16).as("ubucket"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("v_id")).as("n_matched"),
            sum(when(col("v_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
            sum(col("c_id") + coalesce(col("v_id"), lit(0L))).as("checksum"))
          .orderBy("ubucket")
      },
      Some("""SELECT c.user_id % 16 AS ubucket, count(*) AS n_rows,
          count(v.event_id) AS n_matched,
          CAST(sum(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
          CAST(sum(c.event_id + coalesce(v.event_id, 0)) AS BIGINT) AS checksum
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id
          AND epoch_us(v.ts) >= epoch_us(c.ts) - 600000000
          AND epoch_us(v.ts) <= epoch_us(c.ts)
        GROUP BY 1 ORDER BY ubucket""")),

    // ---- streaming ingest of a format directory (graft's own source) ----
    // readStream.format("fastq") over an arriving-files directory — the
    // sequencer-drop pipeline front, driven by the DSv2 MICRO_BATCH_READ
    // path (GraftMicroBatchStream: file-set offsets, split planning and
    // record readers shared with the batch scan; compression included —
    // one staged file is gzip). The mid-entry f3 drop proves a RUNNING
    // query discovers late-arriving files in its next micro-batch; the
    // offset/restart contract is spec-proven (StreamingIngestSpec). The
    // staged set is idempotent, so repeated runs (bench warm-up) see the
    // same file set and the memory sink rebuilds the same 6 rows.
    // ---- streaming heavy hitters: corpus-monitor token counts ----
    // The ingest-monitoring shape: as document batches arrive, maintain
    // running token counts and surface the heavy tail. State is
    // VOCAB-bounded (one row per distinct token), not corpus-bounded —
    // the property that lets this run unbounded at crawl scale. Two
    // mtime-ordered staged files prove cross-batch accumulation;
    // complete output mode makes the drained result exactly the batch
    // answer (a production deployment uses update mode + a downstream
    // upsert store and reads hitters from there instead of re-emitting
    // the full vocabulary each trigger).
    // ---- the custom aggregate under streaming state ----
    // bottom_k_by_key (a TypedImperativeAggregate) running inside a
    // complete-mode streaming aggregation: the state store carries the
    // serialized k-pair buffers across micro-batches (serialize/
    // deserialize is the same path the batch shuffle uses), and the
    // deterministic sample over the whole stream must equal the batch
    // answer exactly — which is precisely what makes a bounded-buffer
    // sampler streaming-safe where the row_number-window formulation
    // cannot run on a stream at all (no windows over unbounded input).
    "stream_group_sample" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        val tbl = "graft_stream_group_sample"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-gs:$dir") { d =>
          val scratch = Stage.tempDir("graft-gs-norm")
          val docs = Q.t(s, dir, "documents")
          Stage.parquetFile(docs.where(col("doc_id") % 2 === 0),
            scratch, d, "docs_a.parquet", 0)
          Stage.parquetFile(docs.where(col("doc_id") % 2 === 1),
            scratch, d, "docs_b.parquet", 1)
        }
        val docsSchema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(docsSchema)
            .option("maxFilesPerTrigger", "1").parquet(staged.toString)
            .selectExpr("source", "doc_id",
              "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) AS hk")
            .groupBy("source")
            .agg(expr("bottom_k_by_key(hk, doc_id, 5)").as("ids"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl)
          .select(col("source"), explode(col("ids")).as("doc_id"))
          .orderBy("source", "doc_id")
      },
      Some("""WITH h AS (SELECT source, doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
          FROM documents),
        r AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
          FROM h)
        SELECT source, doc_id FROM r WHERE rn <= 5
        ORDER BY source, doc_id""")),

    "stream_heavy_hitters" -> Q(
      (s, dir) => {
        val tbl = "graft_stream_hh"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-hh:$dir") { d =>
          val scratch = Stage.tempDir("graft-hh-norm")
          val docs = Q.t(s, dir, "documents")
          Stage.parquetFile(docs.where(col("doc_id") % 2 === 0),
            scratch, d, "docs_a.parquet", 0)
          Stage.parquetFile(docs.where(col("doc_id") % 2 === 1),
            scratch, d, "docs_b.parquet", 1)
        }
        val docsSchema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(docsSchema)
            .option("maxFilesPerTrigger", "1").parquet(staged.toString)
            .select(explode(split(col("text"), " ")).as("tok"))
            .where(col("tok") =!= "")
            .groupBy("tok").agg(count(lit(1)).as("n"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).where(col("n") >= 100)
          .orderBy(col("n").desc, col("tok").asc)
      },
      Some("""SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> '' GROUP BY tok HAVING count(*) >= 100
        ORDER BY n DESC, tok""")),

    // ---- streaming pileup depth (the CIGAR walk under micro-batches) ----
    // The Pileup core's stateless prefix (parse_cigar HOF walk +
    // aligned-base Generate) runs unchanged inside a streaming query —
    // the property that matters is that a genomics operator written as
    // relational algebra is automatically incremental. One complete-mode
    // (pos)-keyed count is the only stateful op; the depth histogram is
    // batch post-processing on the sink table (chained aggregations are
    // not a streaming shape). State is position-cardinality (bounded by
    // contig length), not read-cardinality.
    "stream_sam_pileup" -> Q(
      (s, _) => {
        val dir = FormatScans.pileupFixture(s)
        val tbl = "graft_stream_sam_pileup"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val depth = graft.functions.Pileup.baseAlignments(
              s.readStream.format("sam").load(s"$dir/reads"))
            .groupBy("pos").agg(count(lit(1)).as("depth"))
          val q = depth.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl)
          .groupBy("depth").agg(count(lit(1)).as("n_positions"))
          .orderBy("depth")
      },
      Some("""WITH r AS (
          SELECT i AS id, (i * 13) % 900 + 1 AS start,
            CASE WHEN i % 7 = 0 THEN 'del' WHEN i % 11 = 0 THEN 'ins'
                 WHEN i % 5 = 0 THEN 'mm' ELSE 'plain' END AS cls
          FROM range(0, 200) t(i)),
        p AS (
          SELECT CASE WHEN cls = 'del' AND j >= 8 THEN start + j + 2
                 ELSE start + j END AS pos
          FROM r, range(0, 20) s(j)
          WHERE NOT (cls = 'ins' AND j >= 18)),
        d AS (SELECT pos, count(*) AS depth FROM p GROUP BY pos)
        SELECT depth, count(*) AS n_positions FROM d
        GROUP BY depth ORDER BY depth""")),

    "stream_fastq_ingest" -> Q(
      (s, _) => {
        val fixtures = "/root/repo/src/test/resources/fixtures"
        val staged = Stage.staged("graft-fastq-ingest") { d =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq"),
            d.resolve("f1.fastq"))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq.gz"),
            d.resolve("f2.fastq.gz")): Unit
        }
        val tbl = "graft_stream_fastq_ingest"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("fastq").load(staged.toString)
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val f3 = staged.resolve("f3.fastq")
          if (!java.nio.file.Files.exists(f3))
            java.nio.file.Files.copy(
              java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq"), f3): Unit
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl)
          .groupBy("name")
          .agg(count(lit(1)).as("n_copies"),
            sum(length(col("sequence"))).as("seq_len"),
            countDistinct(col("quality_scores")).cast("int").as("n_quals"))
          .orderBy("name")
      },
      Some("""SELECT 'q1' AS name, CAST(3 AS BIGINT) AS n_copies,
          CAST(42 AS BIGINT) AS seq_len, 1 AS n_quals
        UNION ALL SELECT 'q2', 3, 42, 1 ORDER BY name""")),

    // PAF alignments as a micro-batch stream (the minimap2-pipe
    // pattern: aligner appends chunk files, Spark ingests
    // incrementally): 100 alignments in the first batch, 50 arriving
    // LATE in a second file picked up by a later micro-batch, rolled
    // to per-target identity sums — same generating arithmetic on
    // both sides, append-mode correctness across batches.
    // ---- native session windows (session_window, complete mode) ----
    // The OTHER sessionizer: Spark's built-in session_window merges
    // events whose gap is strictly under 30 minutes into one growing
    // window — state the engine manages, vs the
    // mapGroupsWithState/flatMap machinery stream_sessionize owns
    // explicitly. The oracle rebuilds the same sessions RELATIONALLY
    // (gaps-and-islands, new session at gap >= 30min), so the
    // window-merge semantics are cross-checked against an independent
    // formulation, not replayed.
    "stream_session_window" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_session_window"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream:$dir") { d =>
          stageEvents(s, dir, Stage.tempDir("graft-stream-norm"), d,
            "events.parquet", 0)
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_events"),
            sum(col("n_events")).as("total_events"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        f AS (SELECT user_id, tus,
            CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
                 < 30 * 60 * 1000000::BIGINT THEN 0 ELSE 1 END AS new_s
          FROM e),
        g AS (SELECT user_id,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
              ROWS UNBOUNDED PRECEDING) AS sid
          FROM f),
        i AS (SELECT user_id, sid, count(*) AS n_events
          FROM g GROUP BY user_id, sid)
        SELECT user_id, count(*) AS n_sessions,
          CAST(max(n_events) AS BIGINT) AS max_events,
          CAST(sum(n_events) AS BIGINT) AS total_events
        FROM i GROUP BY user_id ORDER BY user_id""")),

    // ---- watermark late-data semantics, pinned ----
    // The dropping rule most streaming bugs hide in: after batch 1
    // (ts up to 10:49:30) the watermark sits at 10:39:30, so batch 2's
    // 30 rows at 10:10 land in an already-closed 5-minute window
    // (end 10:15 <= watermark) and MUST be dropped, while its 20 rows
    // at 10:37 join a still-open window (end 10:40 > watermark) and
    // count. A 12:00 sentinel advances the final watermark to 11:50,
    // flushing every 10:xx window in append mode — the sentinel's own
    // window stays unemitted, also by rule. The oracle states the
    // closed-form surviving counts; any drift in Spark's late-row
    // filter or append-emission rule breaks the hash.
    "stream_late_data" -> Q(
      (s, _) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_late_data"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val base = 1704103200L // 2024-01-01 10:00:00 UTC
        val lateSchema = StructType(Seq(
          StructField("ts", TimestampType), StructField("k", LongType)))
        val scratch = Stage.tempDir("graft-late-scratch")
        val staged = Stage.staged("graft-late-data") { d =>
          Stage.parquetFile(
            s.range(100).selectExpr(
              s"timestamp_seconds($base + id * 30) AS ts", "id AS k"),
            scratch, d, "f1.parquet", 0)
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val q = s.readStream.schema(lateSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "5 minutes"))
            .agg(count(lit(1)).as("n"))
            .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
              col("n"))
            .writeStream.outputMode("append")
            .format("memory").queryName(tbl).start()
          try {
            q.processAllAvailable()
            if (!java.nio.file.Files.exists(staged.resolve("f2.parquet")))
              Stage.parquetFile(
                s.range(51).selectExpr(
                  s"""CASE WHEN id < 30 THEN timestamp_seconds($base + 600)
                       WHEN id < 50 THEN timestamp_seconds($base + 2220)
                       ELSE timestamp_seconds($base + 7200) END AS ts""",
                  "id AS k"),
                scratch, staged, "f2.parquet", 1)
            q.processAllAvailable()
          } finally q.stop()
        }
        s.table(tbl).orderBy("w")
      },
      Some("""SELECT strftime(TIMESTAMP '2024-01-01 10:00:00'
            + w * INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS w,
          CAST(CASE WHEN w = 7 THEN 30 ELSE 10 END AS BIGINT) AS n
        FROM range(0, 10) t(w) ORDER BY w""")),

    // ---- incremental VCF ingest (the callset-watch pipeline) ----
    // readStream over a VCF directory: the first micro-batch drains
    // the staged shard, a second shard lands mid-stream, and the
    // append-mode result must equal ONE batch read of both — files
    // are the streaming unit (each carries its own header), so a
    // variant-call watcher scales by shard arrival rate, not corpus
    // size. Same drain-then-land choreography as the PAF ingest.
    "stream_vcf_ingest" -> Q(
      (s, _) => {
        def vcfText(lo: Int, hi: Int): String =
          "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
            (lo until hi).map { i =>
              s"c${i % 3}\t${i * 10 + 1}\t.\tA\t${if (i % 2 == 0) "G" else "C"}" +
                s"\t${i % 50}\tPASS\t."
            }.mkString("", "\n", "\n")
        val staged = Stage.staged("graft-vcf-ingest") { d =>
          java.nio.file.Files.write(d.resolve("s1.vcf"),
            vcfText(0, 100).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        }
        val tbl = "graft_stream_vcf_ingest"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("vcf").load(staged.toString)
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val late = staged.resolve("s2.vcf")
          if (!java.nio.file.Files.exists(late))
            java.nio.file.Files.write(late,
              vcfText(100, 150).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl)
          .groupBy(col("chrom"))
          .agg(count(lit(1)).as("n"),
            sum(col("pos")).as("sum_pos"),
            sum(col("qual").cast("long")).as("sum_qual"),
            sum(when(expr("alt[0] = 'G'"), 1L).otherwise(0L)).as("n_ti"))
          .orderBy("chrom")
      },
      Some("""WITH g AS (SELECT i, 'c' || CAST(i % 3 AS VARCHAR) AS chrom,
            CAST(i * 10 + 1 AS BIGINT) AS pos, i % 50 AS qual,
            CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS ti
          FROM range(0, 150) t(i))
        SELECT chrom, count(*) AS n,
          CAST(sum(pos) AS BIGINT) AS sum_pos,
          CAST(sum(qual) AS BIGINT) AS sum_qual,
          CAST(sum(ti) AS BIGINT) AS n_ti
        FROM g GROUP BY chrom ORDER BY chrom""")),

    "stream_paf_ingest" -> Q(
      (s, _) => {
        def pafLines(lo: Int, hi: Int): String = (lo until hi).map { i =>
          val blen = 500 + (i % 100); val nm = i % 11
          s"q${i % 10}\t1000\t0\t$blen\t+\tt${i % 5}\t90000\t${i * 7}\t${i * 7 + blen}" +
            s"\t${blen - nm}\t$blen\t${i % 61}"
        }.mkString("", "\n", "\n")
        val staged = Stage.staged("graft-paf-ingest") { d =>
          java.nio.file.Files.write(d.resolve("a1.paf"),
            pafLines(0, 100).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        }
        val tbl = "graft_stream_paf_ingest"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("paf").load(staged.toString)
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val late = staged.resolve("a2.paf")
          if (!java.nio.file.Files.exists(late))
            java.nio.file.Files.write(late,
              pafLines(100, 150).getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl)
          .groupBy(col("target_name"))
          .agg(count(lit(1)).as("n"),
            sum(col("residue_matches")).as("sum_match"),
            sum(col("block_len")).as("sum_block"))
          .orderBy("target_name")
      },
      Some("""WITH g AS (SELECT i, 500 + (i % 100) AS blen, i % 11 AS nm,
            't' || CAST(i % 5 AS VARCHAR) AS target_name
          FROM range(0, 150) t(i))
        SELECT target_name, count(*) AS n,
          CAST(sum(blen - nm) AS BIGINT) AS sum_match,
          CAST(sum(blen) AS BIGINT) AS sum_block
        FROM g GROUP BY target_name ORDER BY target_name""")),

    // ---- streaming sink round trip: stream in AND out of a format ----
    // readStream(fastq dir) -> writeStream format("fastq") -> batch
    // read-back: the outbound half of the streaming surface
    // (STREAMING_WRITE, per-epoch deterministic part names — a replayed
    // epoch rewrites its own files; StreamingWriteSpec covers epochs,
    // compression, and staging invisibility). Output and checkpoint are
    // driver-memoized: re-runs find no new input, add no new epochs,
    // and read back the identical directory — deterministic in-gate.
    "stream_fastq_sink_roundtrip" -> Q(
      (s, _) => {
        val fixtures = "/root/repo/src/test/resources/fixtures"
        val in = Stage.staged("graft-fastq-sink-in") { d =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq"),
            d.resolve("f1.fastq"))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq.gz"),
            d.resolve("f2.fastq.gz")): Unit
        }
        val work = Stage.staged("graft-fastq-sink-work")(_ => ())
        val q = s.readStream.format("fastq").load(in.toString)
          .writeStream.format("fastq")
          .option("path", work.resolve("out").toString)
          .option("checkpointLocation", work.resolve("ck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        graft.sources.GraftIO.read_fastq(s, work.resolve("out").toString)
          .groupBy("name")
          .agg(count(lit(1)).as("n_copies"),
            sum(length(col("sequence"))).as("seq_len"),
            countDistinct(col("quality_scores")).cast("int").as("n_quals"))
          .orderBy("name")
      },
      Some("""SELECT 'q1' AS name, CAST(2 AS BIGINT) AS n_copies,
          CAST(28 AS BIGINT) AS seq_len, 1 AS n_quals
        UNION ALL SELECT 'q2', 2, 28, 1 ORDER BY name""")),

    // ---- continuous crawl curation: streaming WARC -> text pipeline ----
    // The format streaming source is format-generic, so a crawl
    // directory ingests with the same file-set offsets + in-batch split
    // fan-out as fastq; a second shard landing mid-stream is picked up
    // by the next micro-batch. Filter + HtmlOps extraction run inside
    // the micro-batch plan (codegen'd regexp chain, no UDF), so the
    // curation transform rides the stream instead of a second batch
    // pass over landed bytes — at 100 TB/day of crawl that removes a
    // full read-modify-write of the corpus.
    "stream_warc_ingest" -> Q(
      (s, _) => {
        val staged = Stage.staged("graft-warc-stream-in") { d =>
          java.nio.file.Files.write(d.resolve("crawl-000.warc"),
            FormatScans.WarcGen.htmlCorpus(20)): Unit
        }
        val tbl = "graft_stream_warc_ingest"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("warc").load(staged.toString)
          .where(col("http_status") === 200 &&
            col("http_content_type").startsWith("text/html"))
          .select(col("target_uri"),
            graft.functions.HtmlOps.htmlTitle(col("body").cast("string")).as("title"),
            graft.functions.HtmlOps.htmlToText(col("body").cast("string")).as("text"))
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val shard2 = staged.resolve("crawl-001.warc")
          if (!java.nio.file.Files.exists(shard2))
            java.nio.file.Files.write(shard2,
              FormatScans.WarcGen.htmlCorpus(20, start = 21)): Unit
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl).agg(
            count(lit(1)).as("n_pages"),
            countDistinct(col("text")).as("n_texts"),
            sum(size(split(col("text"), " "))).cast("long").as("tok_sum"),
            min(col("text")).as("min_text"),
            max(col("title")).as("max_title"))
      },
      Some("""SELECT CAST(40 AS BIGINT) AS n_pages, CAST(40 AS BIGINT) AS n_texts,
        CAST(360 AS BIGINT) AS tok_sum,
        'Page 1 Page 1 alpha beta & gamma 1' AS min_text,
        'Page 9' AS max_title""")),
    // ---- the quality-trim kernel inside a streaming projection ----
    // The codegen'd quality_trim_length expression runs per
    // micro-batch over the incremental FASTQ ingest (two initial
    // files, one late arrival) — custom kernels compose with
    // Structured Streaming exactly like built-ins because they ARE
    // Catalyst expressions, not driver-side functions. Oracle is the
    // hand-computed trim of the fixture's two reads (Q40 clean ->
    // kept 14; the low-quality read fails its first window -> 0),
    // times three file copies.
    "stream_quality_trim" -> Q(
      (s, _) => {
        graft.functions.GraftFunctions.registerAll(s)
        val fixtures = "/root/repo/src/test/resources/fixtures"
        val staged = Stage.staged("graft-fastq-trim") { d =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq"),
            d.resolve("f1.fastq"))
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq.gz"),
            d.resolve("f2.fastq.gz")): Unit
        }
        val tbl = "graft_stream_quality_trim"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("fastq").load(staged.toString)
          .selectExpr("name",
            "quality_trim_length(quality_scores, 4, 20) AS kept")
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val f3 = staged.resolve("f3.fastq")
          if (!java.nio.file.Files.exists(f3))
            java.nio.file.Files.copy(
              java.nio.file.Paths.get(s"$fixtures/fastq/test.fastq"), f3): Unit
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl)
          .groupBy("name")
          .agg(count(lit(1)).as("n"), sum(col("kept")).as("kept_sum"))
          .orderBy("name")
      },
      Some("""SELECT 'q1' AS name, CAST(3 AS BIGINT) AS n, CAST(42 AS BIGINT) AS kept_sum
        UNION ALL SELECT 'q2', 3, 0 ORDER BY name""")),

    // ---- streaming barcode demultiplex (stream-static broadcast) ----
    // The online form of fmt_fastq_demux: reads arrive as FASTQ
    // micro-batches (the sequencer-output tail pattern), each batch
    // EQUI-joins the BROADCAST whitelist's pre-enumerated Hamming≤1
    // variant keys (the same enumerate-19-variants shape as the batch
    // entry — the reads side stays a hash probe at any whitelist
    // size) — a stream-static join that keeps ZERO streaming state
    // (no watermark, no store: the whitelist is a static dimension) —
    // and the memory sink's per-read assignments roll up at the end.
    // Same generating arithmetic as the batch entry, 300 reads in
    // batch one + 100 arriving later.
    "stream_fastq_demux" -> Q(
      (s, _) => {
        val gen: Int => org.apache.spark.sql.DataFrame = n =>
          s.range(n).selectExpr(
            "concat('r', id) AS name", "cast(null as string) AS description",
            """concat(array_join(transform(sequence(1, 6), i -> CASE
                 WHEN (id % 12 = 0 AND i = 1 + id % 6)
                   OR (id % 12 = 1 AND (i = 1 + id % 6 OR i = 1 + (id + 3) % 6))
                 THEN translate(element_at(array('A','C','G','T'), cast(id % 4 as int) + 1),
                                'ACGT', 'CGTA')
                 ELSE element_at(array('A','C','G','T'), cast(id % 4 as int) + 1)
               END), ''), repeat('ACGT', 3)) AS sequence""",
            "repeat('I', 18) AS quality_scores")
        // the stream dir holds FILES only (file sources don't descend
        // into write-output subdirectories): render through our FASTQ
        // writer in a scratch dir, then move the part file up
        def stageBatch(target: java.nio.file.Path, n: Int): Unit = {
          val w = Stage.tempDir("stream-demux-w")
          gen(n).coalesce(1).write.mode("overwrite").format("fastq")
            .save(w.toString)
          val part = java.nio.file.Files.list(w).filter(_.getFileName.toString
            .endsWith(".fastq")).findFirst().get()
          java.nio.file.Files.copy(part, target): Unit
        }
        val staged = Stage.staged("graft-stream-demux") { d =>
          stageBatch(d.resolve("b1.fastq"), 300)
        }
        val wl = s.createDataFrame(Seq(
            Tuple1("AAAAAA"), Tuple1("CCCCCC"), Tuple1("GGGGGG"), Tuple1("TTTTTT")))
          .toDF("wl_bc")
        val variants = wl.selectExpr("wl_bc",
            """explode(concat(
                 array(wl_bc),
                 flatten(transform(sequence(1, 6), i ->
                   transform(filter(array('A','C','G','T'),
                       c -> c != substring(wl_bc, i, 1)),
                     c -> concat(substring(wl_bc, 1, i - 1), c,
                       substring(wl_bc, i + 1))))))) AS v""")
        val tbl = "graft_stream_fastq_demux"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val q = s.readStream.format("fastq").load(staged.toString)
          .selectExpr("name", "substring(sequence, 1, 6) AS bc6")
          .join(broadcast(variants), col("bc6") === col("v"), "left")
          .selectExpr("name", "coalesce(wl_bc, 'UNASSIGNED') AS barcode")
          .writeStream.outputMode("append")
          .format("memory").queryName(tbl).start()
        try {
          q.processAllAvailable()
          val b2 = staged.resolve("b2.fastq")
          if (!java.nio.file.Files.exists(b2)) stageBatch(b2, 100)
          q.processAllAvailable()
        } finally q.stop()
        s.table(tbl).groupBy("barcode")
          .agg(count(lit(1)).as("n_reads"))
          .orderBy("barcode")
      },
      Some("""WITH r AS (
          SELECT i, i % 12 AS m,
            list_extract(['AAAAAA','CCCCCC','GGGGGG','TTTTTT'],
                         CAST(i % 4 AS INTEGER) + 1) AS bc
          FROM range(0, 300) t(i)
          UNION ALL
          SELECT i, i % 12 AS m,
            list_extract(['AAAAAA','CCCCCC','GGGGGG','TTTTTT'],
                         CAST(i % 4 AS INTEGER) + 1) AS bc
          FROM range(0, 100) t(i))
        SELECT CASE WHEN m = 1 THEN 'UNASSIGNED' ELSE bc END AS barcode,
          count(*) AS n_reads
        FROM r GROUP BY barcode ORDER BY barcode""")),

    // ---- streaming CDC latest-state (last write wins across batches) ----
    // The streaming half of rel_cdc_latest: the event log arrives in
    // two mtime-ordered micro-batches split at the corpus ts midpoint
    // (so half the keys are UPSERTED by the second batch — the
    // cross-batch override is what's under test), the state is one
    // max(struct(ts, event_id, ...)) row per user maintained by the
    // streaming aggregate, and a final 'error' event tombstones the
    // key at read-out. Complete mode + memory sink is the gate
    // harness; a deployment runs update mode into a keyed sink
    // (foreachBatch MERGE), where the state store — RocksDB at 100 TB
    // state, provider parity proven in BENCH_NOTES — holds exactly
    // one candidate row per key, not the key's history.
    "stream_cdc_latest" -> Q(
      (s, dir) => {
        s.conf.set("spark.sql.session.timeZone", "UTC")
        val tbl = "graft_stream_cdc_latest"
        s.streams.active.filter(_.name == tbl).foreach(_.stop())
        val staged = Stage.staged(s"graft-stream-cdc:$dir") { d =>
          val scratch = Stage.tempDir("graft-cdc-norm")
          val ev = Q.events(s, dir)
          // 1-row staging midpoint scan (the Sessionize.scala:173
          // pattern — harness staging, not a per-row path)
          val mid = ev.agg(((min(expr("unix_micros(ts)")) +
            max(expr("unix_micros(ts)"))) / 2).cast("long").as("m"))
            .collect()(0).getLong(0)
          Stage.parquetFile(ev.where(expr(s"unix_micros(ts) < ${mid}L")),
            scratch, d, "events_a.parquet", 0)
          Stage.parquetFile(ev.where(expr(s"unix_micros(ts) >= ${mid}L")),
            scratch, d, "events_b.parquet", 1)
        }
        Exec.withShufflePartitions(s, Q.statePartitions) {
          val stream = s.readStream.schema(stagedEventsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)
            .selectExpr("user_id",
              """struct(unix_micros(ts) AS tsm, event_id,
                   event_type, CAST(round(value * 1000000) AS BIGINT) AS vm)
                 AS rec""")
            .groupBy("user_id")
            .agg(max(col("rec")).as("last"))
          val q = stream.writeStream.outputMode("complete")
            .format("memory").queryName(tbl).start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(tbl).where(col("last.event_type") =!= "error")
          .groupBy(col("last.event_type").as("last_event_type"))
          .agg(count(lit(1)).as("n_live_users"),
            sum(col("last.vm")).as("value_micro_sum"),
            max(col("last.tsm")).as("max_ts_micros"))
          .orderBy("last_event_type")
      },
      Some("""WITH ranked AS (SELECT user_id, event_type,
            CAST(round(value * 1000000) AS BIGINT) AS vm,
            epoch_us(ts) AS tsm,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts) DESC, event_id DESC)
              AS rn
          FROM events),
        last AS (SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error')
        SELECT event_type AS last_event_type, count(*) AS n_live_users,
          CAST(sum(vm) AS BIGINT) AS value_micro_sum,
          CAST(max(tsm) AS BIGINT) AS max_ts_micros
        FROM last GROUP BY event_type ORDER BY last_event_type"""))
  )
}
