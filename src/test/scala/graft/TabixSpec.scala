package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import graft.sources.core.GraftInputPartition

/** Tabix-indexed region pruning: the fast path must (a) return exactly
  * the rows the full-scan+filter baseline returns, and (b) plan only
  * index-chunk partitions instead of reading the whole file. */
class TabixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val P = "src/test/resources/fixtures/vcf/indexed.vcf.gz"

  private def partitions(df: org.apache.spark.sql.DataFrame): Seq[GraftInputPartition] = {
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[GraftInputPartition])
  }

  private def baseline(region: String): Seq[String] = {
    val (chr, lo, hi) = graft.sources.core.Regions.parse(region)
    GraftIO.read_vcf_file_records(spark, P)
      .where(s"chrom = '$chr' AND pos >= $lo AND pos <= $hi")
      .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
  }

  test("indexed query == scan+filter baseline across region shapes") {
    for (region <- Seq("1", "2", "1:100000-500000", "2:1-2000", "1:1596930-1596930", "1:9999999-19999999")) {
      val got = GraftIO.vcf_query(spark, P, region)
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      assert(got == baseline(region), region)
    }
    assert(GraftIO.vcf_query(spark, P, "chrX").count() == 0)
  }

  test("region query WITHOUT an index parallelizes over BGZF splits, same results") {
    // un-indexed bgzipped VCF larger than maxPartitionBytes: the region
    // fallback is a parallel block-split scan + filter, not one task
    val header = "##fileformat=VCFv4.2\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    val body = (1 to 400).map(i => s"chr${i % 2}\t${i * 5}\t.\tA\tG\t1.0\tPASS\tDP=$i")
      .mkString("", "\n", "\n")
    val d = java.nio.file.Files.createTempDirectory("graft-noidx")
    val p = d.resolve("noidx.vcf.gz")
    val out = new graft.sources.core.BgzfOutputStream(java.nio.file.Files.newOutputStream(p))
    (header + body).split("\n").foreach { l =>
      out.write((l + "\n").getBytes("UTF-8")); out.flush()
    }
    out.close()
    val k = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(k)
    spark.conf.set(k, "700")
    try {
      val df = GraftIO.vcf_query(spark, p.toString, "chr1:500-1500")
      assert(df.rdd.getNumPartitions > 5, "expected block-split fallback scan")
      val got = df.selectExpr("pos").collect().map(_.getLong(0)).sorted
      // chr1 rows are odd i (i*5 odd-indexed): pos in [500,1500] with pos=5i, i odd
      val want = (1 to 400).filter(i => i % 2 == 1 && i * 5 >= 500 && i * 5 <= 1500)
        .map(_ * 5L).toArray
      assert(got.toSeq == want.toSeq)
    } finally spark.conf.set(k, old)
  }

  test("BAI-indexed bam_query == scan+filter baseline") {
    val bam = "src/test/resources/fixtures/bam/indexed.bam"
    for (region <- Seq("ref1", "chr1", "chr1:1000000-9000000", "ref1:1-5000", "chr1:39999999-40000000")) {
      val got = GraftIO.bam_query(spark, bam, region)
        .selectExpr("name", "start", "end").collect().map(_.toString).sorted.toSeq
      val (chr, lo, hi) = graft.sources.core.Regions.parse(region)
      val base = GraftIO.read_bam_file_records(spark, bam)
        .where(s"reference = '$chr' AND start <= ${hi}L AND coalesce(end, start) >= ${lo}L")
        .selectExpr("name", "start", "end").collect().map(_.toString).sorted.toSeq
      assert(got == base, region)
    }
    val parts = partitions(GraftIO.bam_query(spark, bam, "chr1:1000000-9000000"))
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk))
  }

  test("CSI-indexed bcf_query == scan+filter baseline") {
    val bcf = "src/test/resources/fixtures/vcf/indexed.bcf"
    for (region <- Seq("1", "2", "1:2000000-20000000", "2:1-5000")) {
      val got = GraftIO.bcf_query(spark, bcf, region)
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      val (chr, lo, hi) = graft.sources.core.Regions.parse(region)
      val base = GraftIO.read_bcf_file_records(spark, bcf)
        .where(s"chrom = '$chr' AND pos >= ${lo}L AND pos <= ${hi}L")
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      assert(got == base, region)
    }
    val parts = partitions(GraftIO.bcf_query(spark, bcf, "1:2000000-20000000"))
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk))
  }

  test("narrow region plans few chunk partitions; whole contig plans many") {
    val narrow = partitions(GraftIO.vcf_query(spark, P, "1:100000-110000"))
    assert(narrow.nonEmpty && narrow.forall(_.bgzfChunk))
    val whole = partitions(GraftIO.vcf_query(spark, P, "1"))
    assert(narrow.map(p => p.end - p.start).sum < whole.map(p => p.end - p.start).sum,
      s"narrow=${narrow.length} whole=${whole.length}")
    // unindexed sibling file keeps the fallback single-partition plan
    val fallback = partitions(GraftIO.vcf_query(spark, "src/test/resources/fixtures/vcf/test.vcf.gz", "1"))
    assert(fallback.forall(!_.bgzfChunk))
  }

  test("max_off: the chunks right of a region's end are dropped (written GFF + tabix)") {
    // chr1 window k (16 kb leaf bins): a 10 bp feature at k*16384+101 and
    // a 20 kb one at k*16384+201 (two leaves: a level-4 bin, or a
    // higher one where it crosses a 128 kb or 1 Mb boundary). The long
    // features interleave with the short ones in file order, so each is
    // its own chunk of the upper bins the region's bin list includes.
    val df = spark.range(64).selectExpr("id AS k").selectExpr(
      "explode(array(k * 16384 + 101, k * 16384 + 201)) AS start")
      .selectExpr("'chr1' AS seqname", "'synth' AS source", "'feature' AS type", "start",
        "start + IF(start % 16384 = 101, 9, 19999) AS end", "cast(1.0 as float) AS score",
        "'+' AS strand", "cast(null as string) AS phase",
        "map('s', array(cast(start as string))) AS attributes")
    val dir = java.nio.file.Files.createTempDirectory("graft-maxoff").toString
    df.repartition(1).sortWithinPartitions("start").write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix").format("gff").save(dir)
    val data = new java.io.File(dir).listFiles.map(_.getPath).find(_.endsWith(".gff.gz")).get
    val idx = graft.sources.TabixIndex.load(data, spark.sessionState.newHadoopConf()).get
    // window 9's short feature: its leaf, the long features of windows
    // 8 and 9 (the linear index starts at window 8's), one chunk merged;
    // without the right-side clip also windows 10-14's long features
    // (level-4 bin), 15, 23, ..., 55 (level 3) and 63 (level 2): 13
    val lo = 9 * 16384 + 101
    val chunks = idx.queryByName("chr1", lo - 1, lo + 9)
    assert(chunks.size == 1, chunks)
    val got = GraftIO.read_gff(spark, data, Map("region" -> s"chr1:$lo-${lo + 9}"))
      .selectExpr("start").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(8 * 16384 + 201L, lo.toLong))
  }

  test("max_off: clamps a chunk that straddles it; walks up from a first child") {
    import graft.sources.BinnedIndex.{Chunk, Index, RefIndex}
    // leaves 4681 (window 0) .. 4688 (window 7) share parent 585; 4689
    // is the first child of 586
    val ref = RefIndex(Map(
      4681 -> Seq(Chunk(100, 200)), 4682 -> Seq(Chunk(300, 400)), 4688 -> Seq(Chunk(550, 560)),
      585 -> Seq(Chunk(150, 350), Chunk(400, 500), Chunk(650, 660)),
      586 -> Seq(Chunk(600, 700))), Array.fill(8)(100L))
    val idx = Index(IndexedSeq("c"), IndexedSeq(ref))
    // max_off = 300 (leaf 4682): [150,350) clamps to [150,300), later chunks go
    assert(idx.queryByRid(0, 0, 16384) == Seq(Chunk(100, 300)))
    // window 7: the next leaf 4689 is a first child, so its parent 586
    // gives max_off = 600
    assert(idx.queryByRid(0, 7 * 16384, 8 * 16384) ==
      Seq(Chunk(150, 350), Chunk(400, 500), Chunk(550, 560)))
  }
}
