package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Formats

/** Exact part-file bytes of every text writer, header included: the
  * round-trip specs compare values after a read-back, these pin the
  * rendering itself (placeholders for nulls, number spellings, UTF-8
  * passthrough, GFF percent-encoding, BED's trailing-column trim, the
  * VCF header with and without samples). One partition, one part file. */
class GoldenBytesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def schemaOf(format: String): StructType =
    Formats.byName(format).schema(Nil, spark.sessionState.newHadoopConf(), Map.empty)

  /** The single part file of `format` written from `rows`, as bytes. */
  private def written(format: String, schema: StructType, rows: Seq[Row],
                      options: Map[String, String] = Map.empty): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-golden").resolve("out")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .repartition(1).write.mode("overwrite").options(options).format(format).save(dir.toString)
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(","))
    Files.readAllBytes(parts.head)
  }

  private def check(format: String, rows: Seq[Row], want: String,
                    schema: StructType = null): Unit = {
    val got = written(format, Option(schema).getOrElse(schemaOf(format)), rows)
    assert(new String(got, UTF_8) == want)
    assert(got.sameElements(want.getBytes(UTF_8)))
  }

  test("fasta") {
    check("fasta", Seq(Row("r1", null, "ACGT"), Row("résumé_名", "désc ü", "NNAC")),
      ">r1\nACGT\n>résumé_名 désc ü\nNNAC\n")
  }

  test("fastq") {
    check("fastq", Seq(Row("q1", null, "ACGT", "IIII"), Row("q2é", "d x", "AC", "!#")),
      "@q1\nACGT\n+\nIIII\n@q2é d x\nAC\n+\n!#\n")
  }

  test("sam: placeholders for every null") {
    check("sam", Seq(
      Row("read1", 0, "chr1", 100L, 103L, "60", "4M", "chr1", "ACGT", "IIII"),
      Row(null, 4, null, null, null, null, null, null, null, null),
      Row("rü", 16, "chr2", 7L, 8L, "0", "2M", null, "AC", "!!")),
      "@HD\tVN:1.6\tSO:unknown\n" +
        "read1\t0\tchr1\t100\t60\t4M\tchr1\t0\t0\tACGT\tIIII\n" +
        "*\t4\t*\t0\t255\t*\t*\t0\t0\t*\t*\n" +
        "rü\t16\tchr2\t7\t0\t2M\t*\t0\t0\tAC\t!!\n")
  }

  test("gff: percent-encoded attributes, exponent score, nulls") {
    check("gff", Seq(
      Row("chr1", "src", "gene", 1L, 100L, 1.0e10f, "+", "0",
        Map("ID" -> Seq("g1"), "k=y" -> Seq("a;b=c,d%e&f\tg", "名"))),
      Row(null, null, null, 5L, 6L, null, null, null, null),
      Row("chrü", "s", "exon", 2L, 3L, 0.5f, "-", ".", Map.empty[String, Seq[String]])),
      "chr1\tsrc\tgene\t1\t100\t1.0E10\t+\t0\tID=g1;k%3Dy=a%3Bb%3Dc%2Cd%25e%26f%09g,名\n" +
        ".\t.\t.\t5\t6\t.\t.\t.\t.\n" +
        "chrü\ts\texon\t2\t3\t0.5\t-\t.\t\n")
  }

  test("gtf: repeated keys, empty attributes, nulls") {
    check("gtf", Seq(
      Row("chr1", "src", "exon", 1L, 10L, 1.0e-5f, "-", "2",
        Map("gene_id" -> Seq("g1"), "tag" -> Seq("a", "名"))),
      Row(null, null, null, 5L, 6L, null, null, null, null),
      Row("chr2", "s", "cds", 2L, 3L, 7.0f, "+", ".", Map.empty[String, Seq[String]])),
      "chr1\tsrc\texon\t1\t10\t1.0E-5\t-\t2\tgene_id \"g1\"; tag \"a\"; tag \"名\";\n" +
        ".\t.\t.\t5\t6\t.\t.\t.\t.\n" +
        "chr2\ts\tcds\t2\t3\t7.0\t+\t.\t.\n")
  }

  test("bed: trailing null columns dropped, interior nulls as placeholders") {
    check("bed", Seq(
      Row("chr1", 11L, 20L, null, null, null, null, null, null, null, null, null),
      Row("chr2", 1L, 5L, "n1", null, "+", null, null, null, null, null, null),
      Row("chrü", 1L, 9L, null, 5L, null, 2L, 8L, null, 2L, "3,4", "0,5"),
      Row("chr3", 3L, 4L, "名", 0L, null, null, null, "255,0,0", null, null, null)),
      "chr1\t10\t20\n" +
        "chr2\t0\t5\tn1\t0\t+\n" +
        "chrü\t0\t9\t.\t5\t.\t1\t8\t0\t2\t3,4\t0,5\n" +
        "chr3\t2\t4\t名\t0\t.\t.\t.\t255,0,0\n")
  }

  test("bedpe: null mates, extras") {
    check("bedpe", Seq(
      Row("chr1", 101L, 200L, "chr2", 301L, 400L, "p1", "5", "+", "-", Seq("x", "ü")),
      Row(null, null, null, null, null, null, null, null, null, null, null),
      Row("chr1", 1L, 2L, null, null, null, "p2", null, "+", null, Seq.empty[String])),
      "chr1\t100\t200\tchr2\t300\t400\tp1\t5\t+\t-\tx\tü\n" +
        ".\t-1\t-1\t.\t-1\t-1\t.\t.\t.\t.\n" +
        "chr1\t0\t2\t.\t-1\t-1\tp2\t.\t+\t.\n")
  }

  test("bedgraph") {
    check("bedgraph", Seq(Row("chr1", 1L, 10L, 0.5), Row("chrü", 11L, 20L, 1.0e-7)),
      "chr1\t0\t10\t0.5\nchrü\t10\t20\t1.0E-7\n")
  }

  test("blast6") {
    check("blast6", Seq(
      Row("q1", "s1", 99.5, 100L, 1L, 0L, 1L, 100L, 200L, 101L, 1.0e-30, 180.0),
      Row("qü", "s2", 100.0, 5L, 0L, 0L, 5L, 1L, 9L, 5L, 0.0, 1.5e7)),
      "q1\ts1\t99.5\t100\t1\t0\t1\t100\t200\t101\t1.0E-30\t180.0\n" +
        "qü\ts2\t100.0\t5\t0\t0\t5\t1\t9\t5\t0.0\t1.5E7\n")
  }

  private val infoSchema = StructType(Seq(
    StructField("dp", IntegerType), StructField("af", ArrayType(FloatType)),
    StructField("db", BooleanType), StructField("name", StringType),
    StructField("ac", ArrayType(IntegerType)), StructField("tags", ArrayType(StringType)),
    StructField("fl", FloatType)))
  private val vcfBase = Seq(
    StructField("chrom", StringType), StructField("pos", LongType),
    StructField("id", StringType), StructField("ref", StringType),
    StructField("alt", ArrayType(StringType)), StructField("qual", FloatType),
    StructField("filter", StringType), StructField("info", infoSchema))
  private val infoHeader =
    "##fileformat=VCFv4.2\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"\">\n" +
      "##INFO=<ID=AF,Number=.,Type=Float,Description=\"\">\n" +
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"\">\n" +
      "##INFO=<ID=NAME,Number=1,Type=String,Description=\"\">\n" +
      "##INFO=<ID=AC,Number=.,Type=Integer,Description=\"\">\n" +
      "##INFO=<ID=TAGS,Number=.,Type=String,Description=\"\">\n" +
      "##INFO=<ID=FL,Number=1,Type=Float,Description=\"\">\n"
  private val fullInfo = Row(10, Seq(0.5f, 1.0e-7f), true, "naïve 名", Seq(1, 2), Seq("x", "y"), 2.5f)
  private val nullInfo = Row(null, null, false, null, null, null, null)
  private val fullInfoText = "DP=10;AF=0.5,1.0E-7;DB;NAME=naïve 名;AC=1,2;TAGS=x,y;FL=2.5"

  test("vcf with samples: FORMAT header from genotypes_typed, null and empty alt") {
    val typed = StructField("genotypes_typed", ArrayType(StructType(Seq(
      StructField("gt", StringType), StructField("dp", IntegerType)))))
    val schema = StructType(vcfBase ++ Seq(StructField("format", StringType),
      StructField("genotypes", ArrayType(StringType)), typed))
    check("vcf", Seq(
      Row("chr1", 100L, "rs1", "A", Seq("G", "T"), 1.0e-5f, "PASS", fullInfo,
        "GT:DP", Seq("0|1:3", "1/1:4"), null),
      Row("chr1", 200L, null, "C", Seq.empty[String], null, null, nullInfo,
        null, Seq("./.", "0/0"), null),
      Row("chrü", 5L, "id1", "ACGT", null, -0.0f, "q10;s50",
        Row(-3, null, null, "", null, null, 0.0f), "GT", Seq("0", "1"), null)),
      infoHeader +
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"\">\n" +
        "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"\">\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\n" +
        s"chr1\t100\trs1\tA\tG,T\t1.0E-5\tPASS\t$fullInfoText\tGT:DP\t0|1:3\t1/1:4\n" +
        "chr1\t200\t.\tC\t.\t.\t.\t.\t.\t./.\t0/0\n" +
        "chrü\t5\tid1\tACGT\t.\t-0.0\tq10;s50\tDP=-3;NAME=;FL=0.0\tGT\t0\t1\n",
      schema)
  }

  test("vcf without samples") {
    check("vcf", Seq(
      Row("chr1", 100L, "rs1", "A", Seq("G"), 30.0f, "PASS", fullInfo),
      Row("chr2", 1L, null, "N", Seq.empty[String], null, null, nullInfo)),
      infoHeader +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        s"chr1\t100\trs1\tA\tG\t30.0\tPASS\t$fullInfoText\n" +
        "chr2\t1\t.\tN\t.\t.\t.\t.\n",
      StructType(vcfBase))
  }

  test("bcf: header text and record bytes") {
    val schema = StructType(vcfBase ++ Seq(StructField("format", StringType),
      StructField("genotypes", ArrayType(StringType))))
    val bgzf = written("bcf", schema, Seq(
      Row("chr1", 100L, "rs1", "A", Seq("G", "T"), 1.0e-5f, "PASS", fullInfo,
        "GT", Seq("0|1", "1/1")),
      Row("chr2", 7L, null, "C", Seq.empty[String], null, null, nullInfo,
        null, Seq("./.", "0/0"))),
      Map("contigs" -> "chr1:1000,chr2", "filters" -> "q10"))
    val raw = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bgzf))
      .readAllBytes()
    val lText = java.nio.ByteBuffer.wrap(raw, 5, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(new String(raw, 0, 5, UTF_8) == "BCF\u0002\u0002")
    assert(new String(raw, 9, lText, UTF_8) ==
      "##fileformat=VCFv4.2\n" +
        "##FILTER=<ID=q10,Description=\"\">\n" +
        infoHeader.stripPrefix("##fileformat=VCFv4.2\n") +
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"\">\n" +
        "##contig=<ID=chr1,length=1000>\n##contig=<ID=chr2>\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\n\u0000")
    val records = raw.drop(9 + lText).map(b => f"${b & 0xff}%02x").mkString
    assert(records == GoldenBytesSpec.BcfRecords)
  }
}

object GoldenBytesSpec {
  /** Decompressed bytes after the BCF header of the two-record file above. */
  val BcfRecords: String =
    "5500000007000000000000006300000001000000acc5273707000300020000013772733117411747" +
    "175411001102110a1103250000003f95bfd6331104001105a76e61c3af766520e5908d1106210102" +
    "110737782c7911081500002040110921020504041d00000000000000010000000600000001000000" +
    "0100807f0000010002000000172e174301"
}
