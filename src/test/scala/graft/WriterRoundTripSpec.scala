package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO

/** parse ∘ write = id for the writable formats (reference §2.B COPY
  * semantics), including compression, with ScalaCheck-generated records
  * (sampled with fixed seeds; scalatestplus bridge isn't on the
  * classpath). */
class WriterRoundTripSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def tmp(): String =
    Files.createTempDirectory("graft-write").resolve("out").toString

  private val seqGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf('A', 'C', 'G', 'T')).map(_.mkString)
  private val idGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))

  test("fasta round-trip (plain + gzip + zstd), generated records") {
    val recGen = for {
      id <- idGen
      desc <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(20)))
      seq <- seqGen
    } yield (id, desc, seq)
    for (seed <- 1L to 5L) {
      val recs0 = Gen.nonEmptyListOf(recGen)
        .apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(List(("x", None, "ACGT")))
      // unique ids so orderBy comparison is stable
      val recs = recs0.zipWithIndex.map { case ((i, d, q), n) => (s"$i$n", d, q) }
      val schema = StructType(Seq(
        StructField("id", StringType), StructField("description", StringType),
        StructField("sequence", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(recs.map(r => Row(r._1, r._2.orNull, r._3)), 2), schema)
      for (codec <- Seq("none", "gzip", "zstd")) {
        val dir = tmp()
        df.write.mode("overwrite").option("compression", codec).format("fasta").save(dir)
        val back = GraftIO.read_fasta(spark, dir,
            options = if (codec == "none") Map.empty else Map("compression" -> codec))
          .orderBy("id").collect().map(r => (r.getString(0), Option(r.getString(1)), r.getString(2)))
        assert(back.toSeq == recs.sortBy(_._1), codec)
      }
    }
  }

  test("fastq round-trip via fixture") {
    val src = GraftIO.read_fastq(spark, "src/test/resources/fixtures/fastq/test.fastq")
    val dir = tmp()
    src.write.mode("overwrite").format("fastq").save(dir)
    val back = GraftIO.read_fastq(spark, dir)
    assert(back.orderBy("name").collect().toSeq == src.orderBy("name").collect().toSeq)
  }

  test("overwrite with an empty frame leaves a readable 0-row target") {
    val src = GraftIO.read_fasta(spark, "src/test/resources/fixtures/fasta/test.fasta")
    val dir = tmp()
    src.write.mode("overwrite").format("fasta").save(dir)
    assert(GraftIO.read_fasta(spark, dir).count() == 2)
    // overwrite truncates; an empty result must still commit part files
    src.where(org.apache.spark.sql.functions.lit(false))
      .write.mode("overwrite").format("fasta").save(dir)
    assert(GraftIO.read_fasta(spark, dir).count() == 0)
  }

  test("partitioned overwrite with an empty frame leaves a readable 0-row target") {
    // the partitioned path opens streams lazily (no rows -> no files);
    // commit must still create the root directory, matching the
    // non-partitioned path's zero-row guarantee
    val src = GraftIO.read_gff(spark, "src/test/resources/fixtures/gff/test.gff")
    val dir = tmp()
    src.write.mode("overwrite").option("partitionBy", "seqname").format("gff").save(dir)
    assert(GraftIO.read_gff(spark, dir).count() == 2)
    src.where(org.apache.spark.sql.functions.lit(false))
      .write.mode("overwrite").option("partitionBy", "seqname").format("gff").save(dir)
    assert(GraftIO.read_gff(spark, dir).count() == 0)
  }

  test("multi-byte partition values escape per UTF-8 byte (Hive convention)") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("description", StringType),
      StructField("sequence", StringType)))
    // '→' (U+2192) is not a letter: must escape as its UTF-8 bytes
    // %E2%86%92, never the code-point form %2192
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a", "x→y", "ACGT")), 1), schema)
    val dir = tmp()
    df.write.mode("overwrite").option("partitionBy", "description")
      .format("fasta").save(dir)
    val names = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(names.toSeq == Seq("description=x%E2%86%92y"), names.mkString(","))
    assert(GraftIO.read_fasta(spark, dir).count() == 1)
  }

  test("render_text: COPY TO STDOUT analog renders records as format text") {
    val src = GraftIO.read_fasta(spark, "src/test/resources/fixtures/fasta/test.fasta")
    val out = GraftIO.render_text(src, "fasta").collect().sorted
    assert(out.toSeq == Seq(">r1 first record\nATCGATCGGGCC", ">r2\nTTTTACGT"))
    val gff = GraftIO.read_gff(spark, "src/test/resources/fixtures/gff/test.gff")
    val gffOut = GraftIO.render_text(gff, "gff").collect()
    assert(gffOut.length == 2 && gffOut.forall(_.split("\t").length == 9))
  }

  test("render_text rejects a binary format when called, naming it") {
    val bam = GraftIO.read_bam_file_records(spark, "src/test/resources/fixtures/bam/test.bam")
    val bcf = GraftIO.read_bcf_file_records(spark, "src/test/resources/fixtures/vcf/test.bcf")
    Seq("bam" -> bam, "bcf" -> bcf).foreach { case (f, df) =>
      val e = intercept[IllegalArgumentException](GraftIO.render_text(df, f))
      assert(e.getMessage.contains(s"'$f'"), e.getMessage)
    }
  }

  test("a null string field with no placeholder fails the write, naming the format") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("description", StringType),
      StructField("sequence", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, null, "AC")), 1), schema)
    val dir = tmp()
    val e = intercept[Exception](df.write.mode("overwrite").format("fasta").save(dir))
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: IllegalArgumentException => c }
    assert(cause.exists(_.getMessage.contains("fasta")), e)
    // nothing committed: no part file holds the text `null`
    val parts = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    assert(parts.isEmpty, parts)
  }

  test("bgzf writer: spec-conformant blocks, EOF marker, round-trips; >64KiB spans blocks") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("description", StringType),
      StructField("sequence", StringType)))
    // one sequence > the 64 KiB BGZF payload bound forces multi-block
    val big = "ACGT" * 40000 // 160 KB
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("big", null, big), Row("small", "d", "TTAA")), 1), schema)
    val dir = tmp()
    df.write.mode("overwrite").option("compression", "bgzf").format("fasta").save(dir)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".fasta.gz")).get
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    // ends with the 28-byte EOF sentinel
    assert(bytes.takeRight(28).sameElements(
      graft.sources.core.BgzfOutputStream.EofMarker))
    // every block parses through the repo's own BGZF block reader, and
    // the payload re-assembles to the rendered file
    val in = new java.io.ByteArrayInputStream(bytes)
    val outBuf = new java.io.ByteArrayOutputStream()
    var blocks = 0
    var blk = graft.sources.core.Bgzf.readBlock(in)
    while (blk != null) {
      outBuf.write(blk._2)
      blocks += 1
      blk = graft.sources.core.Bgzf.readBlock(in)
    }
    assert(blocks >= 3, s"expected multi-block output + EOF, got $blocks") // 2+ data blocks, 1 empty EOF
    assert(outBuf.toString("UTF-8").contains("small"))
    // and the normal gzip read path round-trips it
    val back = GraftIO.read_fasta(spark, dir).orderBy("id").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("big", "small"))
    assert(back(0).getString(2) == big)
  }

  test("partitioned write: hive-style 2-key tree, content round-trips") {
    val src = GraftIO.read_gff(spark, "src/test/resources/fixtures/gff/test.gff")
    val dir = tmp()
    src.write.mode("overwrite").option("partitionBy", "seqname,type")
      .format("gff").save(dir)
    // layout: <dir>/seqname=sq0/type=gene/part-*.gff etc.
    val root = new java.io.File(dir)
    val trees = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(trees.toSeq == Seq("seqname=sq0", "seqname=sq1"))
    val leaf = new java.io.File(root, "seqname=sq0/type=gene")
    assert(leaf.isDirectory && leaf.listFiles().exists(_.getName.endsWith(".gff")))
    // partition columns stay in-record: read-back over the tree equals src
    val back = GraftIO.read_gff(spark, dir)
    assert(back.orderBy("seqname").collect().toSeq == src.orderBy("seqname").collect().toSeq)
  }

  test("partitioned write: null key lands in __HIVE_DEFAULT_PARTITION__ and escapes work") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("description", StringType),
      StructField("sequence", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a/1", null, "ACGT"),      // '/' must be %-escaped in the dir name
        Row("b", "desc", "GGCC")), 1), schema)
    val dir = tmp()
    df.write.mode("overwrite").option("partitionBy", "description")
      .format("fasta").save(dir)
    val names = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(names.toSeq == Seq("description=__HIVE_DEFAULT_PARTITION__", "description=desc"))
    val back = GraftIO.read_fasta(spark, dir).orderBy("id").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a/1", "b"))
  }

  test("gff round-trip via fixture (attributes map re-rendered)") {
    val src = GraftIO.read_gff(spark, "src/test/resources/fixtures/gff/test.gff")
    val dir = tmp()
    src.write.mode("overwrite").format("gff").save(dir)
    val back = GraftIO.read_gff(spark, dir)
    assert(back.orderBy("seqname").collect().toSeq == src.orderBy("seqname").collect().toSeq)
  }

  test("gtf round-trip: quoted attributes, repeated keys regroup into arrays") {
    val src = GraftIO.read_gtf(spark, "src/test/resources/fixtures/gtf/test.gtf")
    val dir = tmp()
    src.write.mode("overwrite").format("gtf").save(dir)
    val back = GraftIO.read_gtf(spark, dir)
    assert(back.orderBy("start").collect().toSeq ==
      src.orderBy("start").collect().toSeq)
  }

  test("sam round-trip: placeholders map back to NULL, end re-derives from CIGAR") {
    val src = GraftIO.read_sam_file_records(spark, "src/test/resources/fixtures/sam/example.sam")
    val dir = tmp()
    src.write.mode("overwrite").format("sam").save(dir)
    val back = GraftIO.read_sam_file_records(spark, dir)
    assert(back.orderBy("name").collect().toSeq ==
      src.orderBy("name").collect().toSeq)
    // the written file carries a minimal @HD header
    val first = scala.io.Source.fromFile(
      new java.io.File(dir).listFiles.find(_.getName.endsWith(".sam")).get)
      .getLines().next()
    assert(first.startsWith("@HD\t"), first)
  }

  test("bed round-trip: 12-col and 3-col fixtures, trailing columns omitted") {
    for (fx <- Seq("test12.bed", "test3.bed")) {
      val src = GraftIO.read_bed_file(spark, s"src/test/resources/fixtures/bed/$fx")
      val dir = tmp()
      src.write.mode("overwrite").format("bed").save(dir)
      val back = GraftIO.read_bed_file(spark, dir)
      assert(back.orderBy("reference_sequence_name", "start").collect().toSeq ==
        src.orderBy("reference_sequence_name", "start").collect().toSeq, fx)
    }
    // a 3-col record must render as exactly 3 fields (no padded nulls)
    val dir = tmp()
    GraftIO.read_bed_file(spark, "src/test/resources/fixtures/bed/test3.bed")
      .write.mode("overwrite").format("bed").save(dir)
    val line = scala.io.Source.fromFile(
      new java.io.File(dir).listFiles.find(_.getName.endsWith(".bed")).get)
      .getLines().next()
    assert(line.split("\t").length == 3, line)
  }
}
