package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import graft.sources.core.TabixIndexBuilder

/** Write-side tabix: the sidecar .tbi a GFF bgzf write emits must make
  * region reads (a) exact — identical rows to the full-scan + overlap
  * filter — and (b) pruned — the planned chunk span strictly smaller
  * than the file for a small region. The read path used to check (a)
  * is the same one proven against an htslib-generated .tbi fixture in
  * TabixSpec, which is what closes the interop chain.
  */
class TabixWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  /** 2000 deterministic features over 3 contigs spanning many 16 kb
    * windows and bin levels (lengths 1..~66k cross leaf-bin bounds). */
  private def synthetic(): DataFrame = {
    spark.range(2000).select(
      concat(lit("chr"), (col("id") % 3).cast("string")).as("seqname"),
      lit("synth").as("source"),
      lit("feature").as("type"),
      (pmod(col("id") * 2654435761L, lit(4000000L)) + 1).as("start"),
      (pmod(col("id") * 2654435761L, lit(4000000L)) + 2
        + pmod(col("id") * 40503L, lit(66000L))).as("end"),
      (col("id") % 10).cast("float").as("score"),
      lit("+").as("strand"),
      lit(null).cast("string").as("phase"),
      map(lit("rid"), array(col("id").cast("string"))).as("attributes"))
  }

  private def writeIndexed(df: DataFrame, dir: String): String = {
    df.repartition(1).sortWithinPartitions("seqname", "start")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("gff").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".gff.gz")), files.toSeq)
    assert(files.exists(_.endsWith(".gff.gz.tbi")), files.toSeq)
    dir + "/" + files.find(_.endsWith(".gff.gz")).get
  }

  test("region read over our own .tbi == full scan + overlap filter, and prunes I/O") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbiw").toString
    val dataFile = writeIndexed(synthetic(), dir)
    val full = GraftIO.read_gff(spark, dataFile)
    assert(full.count() == 2000)

    val regions = Seq(
      "chr0:1-20000", "chr1:100000-180000", "chr2:3900000-4100000",
      "chr0:2000000-2016384", "chr1:1-536870911", "chr2:777777-777777",
      "chr1", "chrNOPE:1-100")
    for (region <- regions) {
      val (chr, lo, hi) = graft.sources.core.Regions.parse(region)
      val want = full
        .where(col("seqname") === chr && col("start") <= hi && col("end") >= lo)
        .selectExpr("seqname", "start", "end", "attributes['rid'][0] AS rid")
        .collect().map(_.toString).sorted.toSeq
      val got = GraftIO.read_gff(spark, dataFile, Map("region" -> region))
        .selectExpr("seqname", "start", "end", "attributes['rid'][0] AS rid")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, region)
    }

    // pruning evidence: a 20 kb region must plan a chunk set that spans
    // less compressed territory than the whole file
    val idx = graft.sources.TabixIndex.load(dataFile,
      spark.sessionState.newHadoopConf()).get
    val fileLen = new java.io.File(dataFile).length()
    val chunks = idx.queryByName("chr0", 0L, 20000L)
    assert(chunks.nonEmpty)
    val span = chunks.map(c => (c.end >> 16) - (c.beg >> 16)).sum
    assert(span < fileLen / 4,
      s"chunk span $span vs file $fileLen — index is not pruning")
    // names round-tripped in first-seen (= sorted) order
    assert(idx.names == IndexedSeq("chr0", "chr1", "chr2"))
  }

  test("the full write -> indexed-read path answers through chunk partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbiw2").toString
    val dataFile = writeIndexed(synthetic(), dir)
    val df = GraftIO.read_gff(spark, dataFile, Map("region" -> "chr1:50000-90000"))
    df.collect()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val parts = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.core.GraftInputPartition])
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk),
      s"expected index-chunk partitions, got $parts")
  }

  test("unsorted input fails the write instead of emitting a lying index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbiw3").toString
    val err = intercept[Exception] {
      synthetic().repartition(1) // no sort
        .write.mode("overwrite")
        .option("compression", "bgzf").option("index", "tabix")
        .format("gff").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(err).exists(m => m != null && m.contains("not sorted")))
  }

  test("index=tabix demands bgzf framing and genomic coordinates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbiw4").toString
    val gzErr = intercept[Exception] {
      synthetic().write.mode("overwrite")
        .option("compression", "gzip").option("index", "tabix")
        .format("gff").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(gzErr).exists(m => m != null && m.contains("requires compression=bgzf")))
    val faErr = intercept[Exception] {
      spark.range(1).selectExpr("'a' AS id", "cast(null as string) AS description",
          "'ACGT' AS sequence")
        .write.mode("overwrite")
        .option("compression", "bgzf").option("index", "tabix")
        .format("fasta").save(dir)
    }
    assert(chain(faErr).exists(m => m != null && m.contains("no genomic coordinates")))
  }

  test("CSI sidecar: name-addressed queries resolve via aux; deep scheme passes the 512 Mbp wall") {
    // positions beyond 2^29: classic tabix MUST refuse, CSI depth=6 indexes
    val dir = java.nio.file.Files.createTempDirectory("graft-csiw").toString
    val deep = spark.range(500).selectExpr(
      "'chrBig' AS seqname", "'synth' AS source", "'feature' AS type",
      "536870912L + id * 10000 AS start", "536870912L + id * 10000 + 500 AS end",
      "cast(1.0 as float) AS score", "'+' AS strand",
      "cast(null as string) AS phase",
      "map('rid', array(cast(id as string))) AS attributes")
    val tbiErr = intercept[Exception] {
      deep.repartition(1).sortWithinPartitions("seqname", "start")
        .write.mode("overwrite")
        .option("compression", "bgzf").option("index", "tabix")
        .format("gff").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(tbiErr).exists(m => m != null && m.contains("exceeds")))

    deep.repartition(1).sortWithinPartitions("seqname", "start")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "csi")
      .option("index.depth", "6")
      .format("gff").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".gff.gz.csi")), files.toSeq)
    val dataFile = dir + "/" + files.find(_.endsWith(".gff.gz")).get
    // the reader resolves the contig NAME through the aux block
    val idx = graft.sources.CsiIndex.load(dataFile,
      spark.sessionState.newHadoopConf()).get
    assert(idx.names == IndexedSeq("chrBig") && idx.depth == 6)
    val full = GraftIO.read_gff(spark, dataFile)
    val lo = 536870912L + 100 * 10000
    val hi = lo + 55000
    val want = full.where(col("start") <= hi && col("end") >= lo)
      .selectExpr("start", "end").collect().map(_.toString).sorted.toSeq
    val got = GraftIO.read_gff(spark, dataFile,
        Map("region" -> s"chrBig:$lo-$hi"))
      .selectExpr("start", "end").collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // and the query planned index-chunk partitions, not a full scan
    val chunks = idx.queryByName("chrBig", lo - 1, hi)
    assert(chunks.nonEmpty &&
      chunks.map(c => (c.end >> 16) - (c.beg >> 16)).sum <
        new java.io.File(dataFile).length() / 2)
  }

  test("reg2bin agrees with the reader's reg2bins containment") {
    // every interval must appear in its own bin's reg2bins set — the
    // writer/reader bin contract that makes queries complete
    val idx = graft.sources.BinnedIndex.Index(IndexedSeq("c"), IndexedSeq.empty)
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val beg = rnd.nextInt(1 << 29 - 1).toLong
      val end = math.min((1L << 29), beg + 1 + rnd.nextInt(1 << 20))
      val bin = TabixIndexBuilder.reg2bin(beg, end)
      assert(idx.reg2bins(beg, end).contains(bin), s"[$beg,$end) -> $bin")
    }
  }
}
