package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col

/** Execution helpers the library operators share (and the gate
  * registry calls): scoped shuffle sizing, scan widening and the
  * materialize-once barrier. */
private[graft] object Exec {

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the caller's value after. The session-conf mutation is
    * single-query-at-a-time; concurrent planners on one session would
    * race. Stateful streams size it from state volume, not the batch
    * default: state partitioning is locked into the checkpoint, so it
    * is picked for the steady-state load before the first start. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Shuffle partitions for an iterative loop over an edge list of
    * `edges` rows (connected components, PageRank, label propagation,
    * k-core). Each round pays (scheduling floor × partition count)
    * across its shuffles, so a global knob tuned for the corpus-sized
    * operators inverts here — the round-10 sf10 A/B showed 128
    * partitions halving dedup_minhash_lsh (94.9 → 48.6 s) while nearly
    * tripling the CC loop (57.7 → 155.1 s). An edge is ~16 B of longs,
    * so ~250k edges per partition keeps every partition comfortably in
    * executor memory while bounding the per-round task count; the cap
    * lets a genuinely huge edge set still fan out. */
  def loopPartitions(edges: Long): Int =
    math.max(4L, math.min(edges / 250000L + 1L, 4096L)).toInt

  /** Widen a NARROW scan before a heavy map stage. The driver's
    * testdata ships each table as one small single-row-group parquet
    * file, so every scan is one partition — fine for the projection
    * feeding an aggregate, but a pipeline whose scan stage carries
    * real per-row work (shingling + 32-permutation hashing,
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

  /** [[barrier]] that also returns `metric`, a long-valued aggregate
    * over the materialized rows (a row count, a label sum), read
    * through an `Observation` on the barrier's own job: no second
    * action over the checkpointed blocks. Both checkpoint kinds run
    * their plan exactly once, so each row is observed once. */
  def observedBarrier(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = barrier(df.observe(obs, metric.as("m")))
    (out, obs.get("m").asInstanceOf[Long])
  }
}
