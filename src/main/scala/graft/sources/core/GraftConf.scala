package graft.sources.core

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
  * Driver-only code keeps a plain Configuration. */
object GraftConf {
  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
}
