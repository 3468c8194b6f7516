package graft.sources.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session Hadoop configuration as executors see it. Every graft
  * scan, write and point-read task needs it (spark.hadoop.* carries s3a
  * credentials, endpoints, timeouts), but serialized it is ~1k entries
  * and ~115 KB: shipped inside each task payload it is decoded again by
  * every task, which costs more than reading an indexed region chunk.
  * Broadcast instead, the way Spark's own file sources do
  * (`ParquetFileFormat.buildReaderWithPartitionValues`): each executor
  * fetches and decodes it once, and tasks read `bconf.value.value`.
  * Driver-only code keeps a plain Configuration.
  *
  * Building a broadcast costs the driver ~13 ms, more than a small
  * region query reads, so one broadcast serves every scan and write of a
  * session while the conf's contents stay the same: each call builds a
  * fresh `newHadoopConf()` (~0.2 ms) and compares every key and value
  * with the conf the cached broadcast was built from. Any difference — a
  * `spark.hadoop.*` key, an edit of `sparkContext.hadoopConfiguration`,
  * the session's SQL conf overlay — ships a new broadcast, and a cached
  * one only ever serves the live SparkContext that made it. Executors
  * share the shipped conf, so it is read-only. */
object GraftConf {

  private val shipped = new LastBy[SparkContext, java.util.Map[String, String],
    Broadcast[SerializableConfiguration]](sc => !sc.isStopped)

  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    shipped(spark.sparkContext, entriesOf(conf))(
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)))
  }

  /** Every key with its raw (unexpanded) value. */
  private def entriesOf(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue))
    m
  }
}

/** The last value built for an owner, returned again while that same
  * owner (by identity) is live and the key is equal; anything else
  * builds and keeps a new value. */
private[graft] final class LastBy[O <: AnyRef, K, V](live: O => Boolean) {
  private var last: Option[(O, K, V)] = None

  def apply(owner: O, key: K)(build: => V): V = synchronized {
    last match {
      case Some((o, k, v)) if (o eq owner) && live(owner) && k == key => v
      case _ =>
        val v = build
        last = Some((owner, key, v))
        v
    }
  }
}
