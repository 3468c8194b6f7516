package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import graft.sources.core.Regions

/** Pushed-filter -> index-chunk pruning: a declarative
  * `WHERE chrom = '1' AND pos BETWEEN a AND b` must hit the tabix/CSI/
  * BAI index with NO region option — the genomic analog of parquet
  * partition pruning. Row results must equal the unpruned scan+filter
  * (the index and the scan's row test only drop rows the filters
  * reject; Spark re-applies the filters), and the plan must actually
  * carry chunk partitions. */
class FilterIndexPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val F = "/root/repo/src/test/resources/fixtures"

  private def chunkParts(df: DataFrame): Seq[graft.sources.core.GraftInputPartition] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.core.GraftInputPartition])
  }

  test("Regions.fromFilters: bounds math, In, contradictions, no-contig, hostile names") {
    import org.apache.spark.sql.sources._
    val (none, all) = (Long.MinValue, Long.MaxValue)
    // no position bound below: Long.MinValue, not base 1
    assert(Regions.fromFilters(Seq(EqualTo("chrom", "1")), "chrom", "pos")
      .contains(Seq(("1", none, all))))
    assert(Regions.fromFilters(Seq(
      EqualTo("chrom", "1"), GreaterThan("pos", 100L), LessThanOrEqual("pos", 200L)),
      "chrom", "pos").contains(Seq(("1", 101L, 200L))))
    assert(Regions.fromFilters(Seq(
      In("chrom", Array("2", "1")), GreaterThanOrEqual("pos", 5L)),
      "chrom", "pos").get.toSet == Set(("1", 5L, all), ("2", 5L, all)))
    assert(Regions.fromFilters(Seq(EqualTo("chrom", "1"), EqualTo("pos", 7L)),
      "chrom", "pos").contains(Seq(("1", 7L, 7L))))
    assert(Regions.fromFilters(Seq(EqualNullSafe("chrom", "1")), "chrom", "pos")
      .contains(Seq(("1", none, all))))
    // contradictions: PROVABLY empty (Some(Nil)), not a full scan
    assert(Regions.fromFilters(Seq(EqualTo("chrom", "1"), In("chrom", Array("2"))),
      "chrom", "pos").contains(Nil))
    assert(Regions.fromFilters(Seq(
      EqualTo("chrom", "1"), GreaterThan("pos", 200L), LessThan("pos", 100L)),
      "chrom", "pos").contains(Nil))
    // no contig constraint -> cannot prune (None = full scan)
    assert(Regions.fromFilters(Seq(GreaterThan("pos", 100L)), "chrom", "pos").isEmpty)
    // a contig name holding ':' (GRCh38 HLA contigs) is carried whole:
    // regions are values, not strings for the region grammar to split
    assert(Regions.fromFilters(Seq(
      EqualTo("chrom", "HLA-A*01:01:01:01"), EqualTo("pos", 100L)),
      "chrom", "pos").contains(Seq(("HLA-A*01:01:01:01", 100L, 100L))))
    // bounds below base 1 are kept as given, not clamped: a VCF record
    // at POS 0 passes both of these filters
    assert(Regions.fromFilters(Seq(EqualTo("chrom", "1"), GreaterThan("pos", -2L)),
      "chrom", "pos").contains(Seq(("1", -1L, all))))
    assert(Regions.fromFilters(Seq(EqualTo("chrom", "1"), LessThanOrEqual("pos", 0L)),
      "chrom", "pos").contains(Seq(("1", none, 0L))))
    // filters on other columns are ignored, not misread
    assert(Regions.fromFilters(Seq(EqualTo("ref", "A"), EqualTo("chrom", "1")),
      "chrom", "pos").contains(Seq(("1", none, all))))
  }

  test("contradictory filters plan ZERO partitions (provable without the index)") {
    val path = s"$F/vcf/indexed.vcf.gz"
    val df = GraftIO.read_vcf_file_records(spark, path)
      .where(col("chrom") === "1" && col("chrom") === "2")
      .selectExpr("chrom")
    assert(df.count() == 0)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val parts = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .headOption.map(_.scan.toBatch.planInputPartitions().length)
    // Catalyst may constant-fold the contradiction away entirely (no
    // scan node) — either shape is a win; if the scan survives, it must
    // carry zero partitions
    assert(parts.forall(_ == 0), s"expected 0 partitions, got $parts")
  }

  test("VCF: WHERE chrom/pos plans index chunks with no region option; rows exact") {
    val path = s"$F/vcf/indexed.vcf.gz"
    val filtered = GraftIO.read_vcf_file_records(spark, path)
      .where(col("chrom") === "1" && col("pos") >= 100000L && col("pos") <= 500000L)
      .selectExpr("chrom", "pos", "ref")
    val parts = chunkParts(filtered)
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk),
      s"expected index-chunk partitions from pushed filters, got ${parts.take(3)}")
    val want = GraftIO.vcf_query(spark, path, "1:100000-500000")
      .selectExpr("chrom", "pos", "ref").collect().map(_.toString).sorted.toSeq
    val got = filtered.collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // no chrom constraint -> full scan (pos alone cannot address the index)
    val noChrom = GraftIO.read_vcf_file_records(spark, path)
      .where(col("pos") <= 500000L).selectExpr("chrom")
    assert(!chunkParts(noChrom).exists(_.bgzfChunk))
  }

  test("VCF: IN-list of contigs prunes to a multi-region chunk set") {
    val path = s"$F/vcf/indexed.vcf.gz"
    val filtered = GraftIO.read_vcf_file_records(spark, path)
      .where(col("chrom").isin("1", "19") && col("pos") < 300000L)
      .selectExpr("chrom", "pos")
    val parts = chunkParts(filtered)
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk))
    val want = GraftIO.read_vcf_file_records(spark, path)
      .where(col("pos") < 300000L && (col("chrom") === "1" || col("chrom") === "19"))
      .selectExpr("chrom", "pos").collect().map(_.toString).sorted.toSeq
    assert(filtered.collect().map(_.toString).sorted.toSeq == want && want.nonEmpty)
  }

  test("GFF: seqname/start filters prune through a written .tbi; rows exact") {
    // one contig holds ':' (GRCh38 HLA naming), which no region option
    // can address; WHERE prunes it through the index all the same
    val hla = "HLA-A*01:01:01:01"
    val dir = java.nio.file.Files.createTempDirectory("graft-gff-where").toString
    spark.range(600).selectExpr(
      s"if(id % 2 = 0, '$hla', 'chr1') AS seqname", "'synth' AS source", "'feature' AS type",
      "id * 1000 + 1 AS start", "id * 1000 + 1500 AS end", "cast(1.0 as float) AS score",
      "'+' AS strand", "cast(null as string) AS phase",
      "map('rid', array(cast(id as string))) AS attributes")
      .repartition(1).sortWithinPartitions("seqname", "start")
      .write.mode("overwrite").option("compression", "bgzf").option("index", "tabix")
      .format("gff").save(dir)
    for (contig <- Seq("chr1", hla)) {
      val filtered = GraftIO.read_gff(spark, dir)
        .where(col("seqname") === contig && col("start").between(100000L, 200000L))
        .selectExpr("seqname", "start", "end")
      val parts = chunkParts(filtered)
      assert(parts.nonEmpty && parts.forall(_.bgzfChunk),
        s"$contig: expected .tbi chunk partitions, got ${parts.take(3)}")
      val want = GraftIO.read_gff(spark, dir).selectExpr("seqname", "start", "end").collect()
        .filter(r => r.getString(0) == contig && r.getLong(1) >= 100000L && r.getLong(1) <= 200000L)
        .map(_.toString).sorted.toSeq
      assert(filtered.collect().map(_.toString).sorted.toSeq == want && want.size == 50, contig)
    }
  }

  test("BAM: reference/start filters prune through the .bai") {
    val path = s"$F/bam/indexed.bam"
    val refs = GraftIO.read_bam_file_records(spark, path)
      .select("reference").distinct().collect().map(_.getString(0)).sorted
    val filtered = GraftIO.read_bam_file_records(spark, path)
      .where(col("reference") === refs.head && col("start") <= 50000L)
      .selectExpr("name", "start")
    val parts = chunkParts(filtered)
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk),
      s"expected .bai chunk partitions, got ${parts.take(3)}")
    val want = GraftIO.read_bam_file_records(spark, path)
      .selectExpr("name", "start", "reference")
      .collect().filter(r => r.getString(2) == refs.head && r.getLong(1) <= 50000L)
      .map(r => (r.getString(0), r.getLong(1)).toString).sorted.toSeq
    val got = filtered.collect().map(r => (r.getString(0), r.getLong(1)).toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }
}
