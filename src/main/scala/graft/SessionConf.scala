package graft

import org.apache.spark.sql.SparkSession

/** The one place graft sessions are configured: the gate mains (Bench,
  * Verify) and the test session all start from [[builder]].
  *
  * `SPARK_GRAFT_STATE_PROVIDER=rocksdb` flips every stateful streaming
  * query in the process onto Spark's RocksDB state store provider —
  * the scale-safe choice at 100 TB state, where the default in-memory
  * (HDFS-backed) provider keeps the whole state map on the executor
  * heap and a skewed key set OOMs the executor. RocksDB keeps state
  * off-heap with changelog/snapshot files under the checkpoint dir;
  * the trade is per-batch store-load latency, which the A/B in
  * BENCH_NOTES measures. Default (unset or `memory`) stays in-memory:
  * the gate's micro-batches are state-tiny and the in-memory provider
  * avoids a per-entry RocksDB open/close round.
  */
object SessionConf {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The base every graft session shares: `local[cpus]`, the shuffle
    * partition count, UTC session time, no UI, a throwaway warehouse dir
    * (keeps run artifacts such as bucketed-join tables out of the
    * working directory) and the config-gated state store provider.
    * Callers add only what differs: app name, extensions, knobs. */
  def builder(cpus: String, shufflePartitions: String): SparkSession.Builder =
    withStateProvider(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  /** Applies the config-gated state store provider to a session builder. */
  private def withStateProvider(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER") match {
      case Some("rocksdb") =>
        b.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      case Some("memory") | None => b
      case Some(other) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_PROVIDER=$other — expected 'rocksdb' or 'memory'")
    }
}
