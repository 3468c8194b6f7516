package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO

/** VCF writing: `parse ∘ write = id` at the record level (values, not
  * bytes — the header is reconstructed from the Spark schema), sample
  * columns and typed genotypes survive the round trip, and a
  * bgzf+tabix write is region-queryable through its own sidecar. */
class VcfWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val F = "src/test/resources/fixtures/vcf"

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq

  test("plain VCF round trip preserves every record value") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw").toString
    val orig = GraftIO.read_vcf_file_records(spark, s"$F/test.vcf")
    orig.write.mode("overwrite").format("vcf").save(dir)
    val back = GraftIO.read_vcf_file_records(spark, dir)
    val cols = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter",
      "info.indel", "info.dp", "info.af")
    assert(rows(back, cols: _*) == rows(orig, cols: _*))
    assert(back.count() == 5)
  }

  test("sample columns and typed genotypes survive the round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw2").toString
    val orig = GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
    orig.write.mode("overwrite").format("vcf").save(dir)
    val back = GraftIO.read_vcf_file_records(spark, dir)
    val cols = Seq("chrom", "pos", "ref", "format", "genotypes",
      "genotypes_typed[0].gt", "genotypes_typed[1].gq")
    assert(rows(back, cols: _*) == rows(orig, cols: _*))
    // the reconstructed header re-declares FORMAT fields: the typed
    // schema must exist on read-back, derived from genotypes_typed
    assert(back.schema.fieldNames.contains("genotypes_typed"))
  }

  test("bgzf + tabix VCF write is region-queryable through its own sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw3").toString
    GraftIO.read_vcf_file_records(spark, s"$F/indexed.vcf.gz")
      .repartition(1).sortWithinPartitions("chrom", "pos")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("vcf").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".vcf.gz.tbi")), files.toSeq)
    val dataFile = dir + "/" + files.find(_.endsWith(".vcf.gz")).get
    val full = GraftIO.read_vcf_file_records(spark, dataFile)
    for (region <- Seq("1:100000-500000", "2:1-2000", "1", "1:1596930-1596930")) {
      val (chr, lo, hi) = graft.sources.core.Regions.parse(region)
      val want = rows(full.where(s"chrom = '$chr' AND pos >= $lo AND pos <= $hi"),
        "chrom", "pos", "ref", "info.dp")
      val got = rows(GraftIO.vcf_query(spark, dataFile, region),
        "chrom", "pos", "ref", "info.dp")
      assert(got == want, region)
    }
  }

  test("a POS 0 record is indexed at base 1: bgzf + tabix write, WHERE through the index") {
    val src = java.nio.file.Files.createTempDirectory("graft-vcfpos0")
    val vcf = java.nio.file.Files.writeString(src.resolve("t.vcf"),
      "##fileformat=VCFv4.2\n##contig=<ID=1>\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "1\t0\ttel\tN\t.\t.\t.\t.\n1\t5\ta\tA\tG\t.\t.\t.\n" +
        "1\t50\tb\tC\tT\t.\t.\t.\n").toString
    val dir = src.resolve("out").toString
    GraftIO.read_vcf_file_records(spark, vcf).repartition(1)
      .write.mode("overwrite").option("compression", "bgzf").option("index", "tabix")
      .format("vcf").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
    assert(files.exists(_.endsWith(".vcf.gz.tbi")), files.toSeq)
    val indexed = spark.read.format("vcf").load(dir).where("chrom = '1' AND pos <= 5")
    val plain = spark.read.format("vcf").load(vcf).where("concat(chrom, '') = '1' AND pos + 0 <= 5")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val parts = indexed.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).map(_.asInstanceOf[graft.sources.core.GraftInputPartition])
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk), "the WHERE must read through the .tbi")
    assert(rows(indexed, "id", "pos") == rows(plain, "id", "pos"))
    assert(rows(indexed, "id") == Seq("[a]", "[tel]"))
  }

  /** A csi write with `opt` set to `v` into a target holding a file:
    * the bad value fails on the driver, before an overwrite truncates
    * the target. */
  private def badCsiOption(opt: String, v: String): IllegalArgumentException = {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfbad")
    val keep = java.nio.file.Files.writeString(dir.resolve("keep.txt"), "x")
    val e = intercept[IllegalArgumentException] {
      GraftIO.read_vcf_file_records(spark, s"$F/test.vcf").write.mode("overwrite")
        .option("compression", "bgzf").option("index", "csi").option(opt, v)
        .format("vcf").save(dir.toString)
    }
    assert(java.nio.file.Files.exists(keep), s"$opt=$v truncated the target")
    e
  }

  test("index.minshift must be an integer: the error names option and value") {
    val e = badCsiOption("index.minshift", "fourteen")
    assert(e.getMessage.contains("index.minshift") && e.getMessage.contains("'fourteen'"), e.getMessage)
  }

  test("index.depth must be an integer: the error names option and value") {
    val e = badCsiOption("index.depth", "6x")
    assert(e.getMessage.contains("index.depth") && e.getMessage.contains("'6x'"), e.getMessage)
  }

  test("ragged genotype arrays fail the write loudly, not as a corrupt file") {
    // dropping one sample from one record would render a row whose
    // sample-column count disagrees with the header's #CHROM line — a
    // file htslib rejects; the writer must refuse at write time
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw5").toString
    val orig = GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
    val ragged = orig.withColumn("genotypes",
      when(col("pos") === orig.selectExpr("max(pos)").first().getLong(0),
        expr("slice(genotypes, 1, size(genotypes) - 1)"))
        .otherwise(col("genotypes")))
    val e = intercept[org.apache.spark.SparkException] {
      ragged.repartition(1).write.mode("overwrite").format("vcf").save(dir)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("disagrees with")), messages(e).mkString("|"))
  }

  test("an empty write still produces a parseable headered file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw4").toString
    val orig = GraftIO.read_vcf_file_records(spark, s"$F/test.vcf")
    orig.where("pos < 0").write.mode("overwrite").format("vcf").save(dir)
    val back = GraftIO.read_vcf_file_records(spark, dir)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.take(8).toSeq ==
      Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info"))
  }

  test("tasks without rows commit no part file, partition 0 always does; reads back through the .tbi") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfw5").toString
    val orig = GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
    val recs = orig.collect().sortBy(_.getAs[Long]("pos")).toSeq
    // 4 write tasks; every record sits in partition 2
    val rdd = spark.sparkContext.parallelize(0 until 4, 4)
      .mapPartitionsWithIndex((i, _) => if (i == 2) recs.iterator else Iterator.empty)
    spark.createDataFrame(rdd, orig.schema).write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("vcf").save(dir)
    def names(ext: String) = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.endsWith(ext)).map(_.take("part-00000".length)).sorted.toSeq
    assert(names(".vcf.gz") == Seq("part-00000", "part-00002"))
    assert(names(".vcf.gz.tbi") == Seq("part-00000", "part-00002"))
    // part-00000 is header-only, so it declares no samples; the
    // directory's schema still carries them (from part-00002)
    val cols = Seq("chrom", "pos", "ref", "format", "genotypes")
    val back = GraftIO.read_vcf_file_records(spark, dir)
    assert(back.schema == orig.schema)
    assert(rows(back, cols: _*) == rows(orig, cols: _*))
    // and through the .tbi sidecars
    assert(rows(GraftIO.vcf_query(spark, dir, "1"), cols: _*) == rows(orig, cols: _*))
    // an empty overwrite still leaves one readable, header-only part
    orig.where("pos < 0").repartition(4).write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("vcf").save(dir)
    assert(names(".vcf.gz") == Seq("part-00000"))
    val empty = GraftIO.read_vcf_file_records(spark, dir)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.take(8).toSeq ==
      Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info"))
  }

  test("'.' is the missing Integer/Float INFO value, as a scalar and as a list element") {
    val src = java.nio.file.Files.createTempDirectory("graft-vcfmiss")
    java.nio.file.Files.write(src.resolve("m.vcf"), ("##fileformat=VCFv4.2\n" +
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"\">\n" +
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"\">\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
      "1\t10\t.\tA\tC,G\t.\t.\tAC=1,.;AF=0.5,.;DP=.\n").getBytes("UTF-8"))
    def values(df: DataFrame) = df.selectExpr("info.ac", "info.af", "info.dp").collect()
      .map(r => (r.getSeq[Any](0), r.getSeq[Any](1), r.get(2))).toSeq
    val orig = GraftIO.read_vcf_file_records(spark, src.resolve("m.vcf").toString)
    assert(values(orig) == Seq((Seq(1, null), Seq(0.5f, null), null)))
    val dir = src.resolve("out").toString
    orig.write.mode("overwrite").format("vcf").save(dir)
    val text = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".vcf"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(text.contains("\tAC=1,.;AF=0.5,.\n"), text)
    assert(values(GraftIO.read_vcf_file_records(spark, dir)) == values(orig))
  }
}
