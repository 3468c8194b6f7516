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

  /** State-store partition count for the stateful streaming entries.
    * Every stateful operator keeps one state store per shuffle
    * partition (x2 for join sides), and EVERY micro-batch pays a task +
    * store load/commit round over all of them, so for a stream the
    * count tracks state volume, not the session's batch default. The
    * default 4 is the round-10 A/B for gate-scale state (32 -> 8 -> 4
    * partitions took the five stateful entries 29.1 -> 14.3 -> 12.8 s
    * at sf0.1, BENCH_NOTES); the env knob lets larger state tiers
    * re-derive it WITHOUT a code edit (r13 verdict item 8). A
    * production deployment sizes it from target state bytes per
    * partition BEFORE the stream's first start — the partitioning is
    * locked into the checkpoint. Env, not a Spark conf: it must be
    * fixed before any session exists, exactly like SPARK_GRAFT_CPUS.
    * Lazy, so a malformed value fails on first use with the knob's
    * name instead of as an ExceptionInInitializerError of Q. */
  lazy val statePartitions: Int =
    parseStatePartitions(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS"))

  def parseStatePartitions(raw: Option[String]): Int = raw match {
    case None => 4
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_STATE_PARTITIONS=$v — expected a positive integer"))
  }
}
