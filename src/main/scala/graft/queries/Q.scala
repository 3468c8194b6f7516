package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One oracle-checkable query: the Spark plan plus (when SQL-expressible)
  * the equivalent ANSI SQL the driver runs through DuckDB on the same
  * parquet tables. Column names/aliases MUST match between the two —
  * the driver sorts columns by name before hashing values.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Q {
  /** `spark.read.parquet` over one driver-generated testdata table.
    *
    * Timestamp-derived results (date_format, date_trunc,
    * string-vs-timestamp filters) assume `spark.sql.session.timeZone =
    * UTC`, pinned at SparkSession BUILD by every entry point (Verify,
    * Bench, SparkTestSession) — not here: a library function must not
    * silently rewrite its caller's session. Entries that manage their
    * own streaming sessions still pin explicitly where they also set
    * other session state. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table with `ts` normalized to a session-TZ TIMESTAMP,
    * whatever physical type the (driver-owned, regenerable) testdata
    * ships. Two generations have existed: parquet TIMESTAMP(NANOS)
    * (unreadable by the vectorized reader unless surfaced as epoch-nano
    * LongType via nanosAsLong) and timestamp[us] (surfaced as
    * TIMESTAMP_NTZ under schema inference). Every events consumer goes
    * through here so a third drift breaks ONE function — loudly. The
    * NTZ->TIMESTAMP cast reinterprets wall-clock in the session zone;
    * entry points pin spark.sql.session.timeZone=UTC, so epoch micros
    * equal DuckDB's epoch_us on the same naive values. */
  def events(s: SparkSession, dir: String): DataFrame = {
    // harmless when ts is not TIMESTAMP(NANOS); required before schema
    // resolution when it is
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normTs(t(s, dir, "events"), "ts")
  }

  /** The per-dtype normalization rule, exposed for the schema-drift
    * tripwire spec: Long = legacy epoch-nanos (integer `div` — the
    * values are ~1.7e18, past double's exact range, so Column./ would
    * corrupt them), NTZ = wall-clock micros, TIMESTAMP = already
    * normalized. Anything else is a NEW drift and must fail analysis
    * here, not return silently wrong rows. */
  def normTs(df: DataFrame, name: String): DataFrame =
    df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"`$name` div 1000")))
      case _: TimestampNTZType =>
        df.withColumn(name, col(name).cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.$name arrived as $other — testdata schema drifted again; " +
          "extend Q.normTs with the new physical type")
    }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the caller's value after. Stateful streaming queries
    * create one state store per shuffle partition per stateful operator
    * (x2 for join sides), and EVERY micro-batch pays a task + store
    * load/commit round over all of them — so for a stream the partition
    * count must track state volume, not the session's batch default.
    * The in-gate streams hold at most a few hundred thousand state
    * rows; 4 partitions strips pure store-commit overhead while leaving
    * real work parallel (A/B at sf0.1: 32 -> 8 -> 4 partitions took the
    * five stateful entries 29.1 -> 14.3 -> 12.8 s, BENCH_NOTES). A production deployment sizes this from target
    * state bytes per partition BEFORE first start — state partitioning
    * is locked into the checkpoint, so it must be picked for the
    * steady-state load, not the first micro-batch's. */
  /** State-store partition count for the stateful streaming entries —
    * the default 4 is the round-10 A/B result for gate-scale state
    * (see [[withShufflePartitions]]'s scaladoc), parameterized so
    * larger state tiers can re-derive the right value WITHOUT a code
    * edit (r13 verdict item 8: A/B at a 10x state tier). A production
    * deployment sizes this from target state bytes per partition
    * BEFORE the stream's first start — the partitioning is locked into
    * the checkpoint. Env, not a Spark conf: it must be fixed before
    * any session exists, exactly like SPARK_GRAFT_CPUS. Lazy, so a
    * malformed value fails on first use with the knob's name instead of
    * as an ExceptionInInitializerError of Q. */
  lazy val statePartitions: Int =
    parseStatePartitions(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS"))

  def parseStatePartitions(raw: Option[String]): Int = raw match {
    case None => 4
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_STATE_PARTITIONS=$v — expected a positive integer"))
  }

  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Widen a NARROW scan before a heavy map stage. The driver's
    * testdata ships each table as one small single-row-group parquet
    * file, so every scan is one partition — fine for the projection
    * feeding an aggregate, but a pipeline whose scan stage carries
    * real per-row work (shingle explode + 32-permutation hashing,
    * codecs) runs that work on ONE core. `maxPartitionBytes` cannot
    * split below a row group, so the fix is an explicit key-hash
    * repartition right after the read (guide §2.5: unsplittable input
    * → repartition immediately). Guarded: a corpus that already scans
    * at >= half the session's shuffle parallelism (every real multi-
    * file deployment) passes through untouched, so at 100 TB this is
    * a no-op, not an extra corpus shuffle. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // the `df.rdd` probe plans the pipeline once and builds a throwaway
    // lineage: it runs only where the plan is not a plain file scan
    val parts = scanPartitions(df).getOrElse(df.rdd.getNumPartitions)
    if (parts * 2 >= target) df else df.repartition(target, col(key))
  }

  /** The partition count of a plain file scan (under projections and
    * filters), from Spark's own split and packing of the listed files
    * (as FileSourceScanExec does it); None for any other plan. */
  private def scanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    def relation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case l: LogicalRelation => Some(l.relation).collect {
        case r: HadoopFsRelation if r.partitionSchema.isEmpty && r.bucketSpec.isEmpty => r }
      case _: Project | _: Filter | _: SubqueryAlias => relation(p.children.head)
      case _ => None
    }
    val s = df.sparkSession
    relation(df.queryExecution.analyzed).map { r =>
      val dirs = r.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(s, dirs)
      val splits = dirs.flatMap(d => d.files.flatMap(f => PartitionedFileUtil.splitFiles(
        f, f.getPath, r.fileFormat.isSplitable(s, r.options, f.getPath), maxSplit, d.values)))
      FilePartition.getFilePartitions(s, splits.sortBy(-_.length), maxSplit).length
    }
  }

  /** Materialize-once + lineage-truncation barrier. Reliable checkpoint
    * when the session has a checkpoint dir configured (survives executor
    * loss / dynamic-allocation decommission — the fault-tolerance
    * contract a 100 TB run wants), localCheckpoint otherwise (gate and
    * bench: executor-local blocks, no DFS round-trip; an executor loss
    * costs a job retry, acceptable in a single-machine harness). */
  def barrier(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
