package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftIO, VcfFormat}
import graft.sources.core.{GraftInputPartition, GraftTable}

/** Task payloads carry no Hadoop configuration: the session conf
  * (~1k entries, ~115 KB serialized) reaches executors as ONE broadcast
  * per session conf content, shared by every scan and write until the
  * conf changes (GraftConf), not inside every serialized reader or
  * writer factory, where each task would decode it again. The factories
  * are serialized with the same closure serializer Spark ships tasks
  * with; HadoopConfPropagationSpec proves the broadcast conf still
  * carries session keys. A packed index-chunk partition carries its
  * chunk list, which stays small next to the conf. */
class TaskPayloadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val MaxBytes = 16 * 1024

  private def serializedSize(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit()

  test("region scan's reader factory ships no Hadoop conf") {
    val df = GraftIO.vcf_query(spark, "src/test/resources/fixtures/vcf/indexed.vcf.gz",
      "1:100000-500000")
    assert(df.count() > 0)
    val factory = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.readerFactory
    val n = serializedSize(factory)
    assert(n < MaxBytes, s"reader factory serializes to $n bytes")
  }

  test("a packed 1000-region partition serializes under a fixed bound") {
    // one disjoint chunk per region, ~100 KB apart: the most a 1000-region
    // panel's merged chunks can pack into one partition
    val chunks = (0 until 1000).map(i => ((i * 100000L) << 16, ((i * 100000L + 5000) << 16) | 7))
    val p = GraftInputPartition("file:/data/cohort/chr1.vcf.gz", chunks.head._1, chunks.last._2,
      100000L * 1000, bgzfChunk = true, chunks = chunks)
    val n = serializedSize(p)
    assert(n < 48 * 1024, s"packed partition serializes to $n bytes")
  }

  test("bgzf+tabix VCF write's writer factory ships no Hadoop conf") {
    val vcfSchema = GraftIO.read_vcf_file_records(spark,
      "src/test/resources/fixtures/vcf/test.vcf").schema
    val dir = java.nio.file.Files.createTempDirectory("graft-payload").resolve("o").toString
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("compression", "bgzf", "index", "tabix"))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "t"
      override def schema(): org.apache.spark.sql.types.StructType = vcfSchema
      override def options(): CaseInsensitiveStringMap = opts
    }
    val factory = GraftTable(VcfFormat, vcfSchema, Map("path" -> dir))
      .newWriteBuilder(info).build().toBatch.createBatchWriterFactory(null)
    val n = serializedSize(factory)
    assert(n < MaxBytes, s"writer factory serializes to $n bytes")
  }
}
