package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Edge-of-format hardening: CRLF, missing trailing newline, empty
  * files, missing paths, and pushed predicates keeping Spark's own
  * comparison semantics. */
class RobustnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft-robust")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("CRLF line endings parse identically to LF") {
    val lf = tmpFile("a.gff", "sq0\tg\tgene\t1\t5\t.\t+\t.\tgene_id=x\n")
    val crlf = tmpFile("b.gff", "sq0\tg\tgene\t1\t5\t.\t+\t.\tgene_id=x\r\n")
    assert(GraftIO.read_gff(spark, lf).collect().toSeq ==
      GraftIO.read_gff(spark, crlf).collect().toSeq)
  }

  test("missing trailing newline keeps the final record") {
    val p = tmpFile("c.fasta", ">only record\nACGT") // no trailing \n
    val rows = GraftIO.read_fasta(spark, p).collect()
    assert(rows.length == 1 && rows(0).getString(2) == "ACGT")
  }

  test("multi-byte UTF-8 survives line parsing") {
    val p = tmpFile("u.gff",
      "sq0\tgraft\tgene\t1\t5\t.\t+\t.\tgene_name=über_café;note=測試\n")
    val got = GraftIO.read_gff(spark, p)
      .selectExpr("attributes['gene_name'][0]", "attributes['note'][0]").collect()(0)
    assert(got.getString(0) == "über_café")
    assert(got.getString(1) == "測試")
  }

  test("empty file yields zero rows, not an error") {
    val p = tmpFile("d.bed", "")
    assert(GraftIO.read_bed_file(spark, p).count() == 0)
  }

  test("missing path fails with a clear error (reference parity)") {
    val e = intercept[Exception] {
      GraftIO.read_fasta(spark, "/nonexistent/nope.fasta").count()
    }
    assert(e.getMessage != null)
  }

  test("a pushed predicate returns the rows of its unpushed twin") {
    // -0 equals 0 for Spark's float comparison, and UTF8String orders by
    // code point: U+FFFD sorts below U+1F600 although its UTF-16 unit
    // sorts above the surrogate pair's
    val p = tmpFile("q.vcf", "##fileformat=VCFv4.2\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
      "1\t1\t\uFFFD\tA\tT\t-0\t.\t.\n" +
      "1\t2\ta\tA\tT\t1\t.\t.\n" +
      "1\t3\tb\tA\tT\t60\t.\t.\n")
    val df = GraftIO.read_vcf_file_records(spark, p)
    for ((pushed, unpushed, n) <- Seq(
        ("qual >= 0", "qual + 0 >= 0", 3),
        ("qual = 0", "qual + 0 = 0", 1),
        ("id < '\uD83D\uDE00'", "concat(id, '') < '\uD83D\uDE00'", 3))) {
      assert(df.where(unpushed).count() == n, unpushed)
      assert(df.where(pushed).count() == n, pushed)
    }
  }

  test("truncated BGZF deflate payload fails cleanly, never hangs") {
    // a block whose header promises more uncompressed bytes than its
    // (truncated) deflate stream can produce: inflate() returns 0 with
    // needsInput — the reader must throw, not spin the task forever
    val payload = ("ACGT" * 300).getBytes("UTF-8")
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(payload); defl.finish()
    val cbuf = new Array[Byte](payload.length * 2)
    val clen = defl.deflate(cbuf)
    defl.end()
    val cut = clen / 2 // truncated deflate stream
    val bsize = 12 + 6 + cut + 8
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0, 0xff.toByte))
    bos.write(Array[Byte](6, 0, 66, 67, 2, 0)) // XLEN=6, BC subfield
    bos.write((bsize - 1) & 0xff); bos.write(((bsize - 1) >> 8) & 0xff)
    bos.write(cbuf, 0, cut)
    bos.write(new Array[Byte](4)) // crc (unchecked)
    val isz = payload.length
    bos.write(Array[Byte](isz.toByte, (isz >> 8).toByte, (isz >> 16).toByte, (isz >> 24).toByte))
    // ZipException, not EOFException: BAM/BCF decoders treat EOFException
    // as the clean end-of-records signal and would absorb corruption
    val e = intercept[java.util.zip.ZipException] {
      graft.sources.core.Bgzf.readBlock(new java.io.ByteArrayInputStream(bos.toByteArray))
    }
    assert(e.getMessage.contains("truncated BGZF block"))
  }

  test("mid-file BGZF truncation fails the BAM scan, never silently truncates") {
    // a valid BAM cut mid-block: the decoder's record-boundary
    // EOFException handler must NOT absorb the ZipException from the
    // corrupt block — fewer rows with rc=0 is the worst failure mode a
    // 100 GB scan can have
    val src = java.nio.file.Paths.get("src/test/resources/fixtures/bam/test.bam")
    val bytes = java.nio.file.Files.readAllBytes(src)
    val d = Files.createTempDirectory("graft-trunc")
    val cutAt = bytes.length / 2
    val p = d.resolve("cut.bam")
    java.nio.file.Files.write(p, java.util.Arrays.copyOfRange(bytes, 0, cutAt))
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.GraftIO.read_bam_file_records(spark, p.toString).count()
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(e).exists {
      case _: java.util.zip.ZipException => true
      case _: java.io.EOFException => true // truncated header path
      case _ => false
    }, s"expected a truncation failure, got: ${causes(e).map(_.getClass.getName)}")
  }

  // ---- events.ts schema-drift tripwire ----
  // The driver owns /root/testdata and has regenerated it mid-round,
  // switching events.ts between parquet TIMESTAMP(NANOS) (surfaced as
  // epoch-nano LongType under nanosAsLong) and timestamp[us] (surfaced
  // as TIMESTAMP_NTZ). Q.normTs is the single choke point every events
  // consumer routes through; these cases pin the branch taken per
  // physical dtype so a regeneration flips ONE spec red instead of
  // silently wrecking 17 registry entries (round 6's failure mode).
  test("Q.normTs: all historical events.ts physical types normalize identically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val us = Seq(1700000000000000L, 1700003600123456L, 1700007199999999L)
    val base = us.toDF("us")

    // generation 1: epoch-nano LongType (what nanosAsLong surfaces)
    val asNanosLong = base.select((col("us") * 1000L).as("ts"))
    // generation 2: timestamp[us] naive -> TIMESTAMP_NTZ
    val asNtz = base.select(
      timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    // already-normalized instant TIMESTAMP (our own staged files)
    val asTs = base.select(timestamp_micros(col("us")).as("ts"))

    val d = Files.createTempDirectory("graft-tsdrift")
    val got = Seq("nanos" -> asNanosLong, "ntz" -> asNtz, "ts" -> asTs)
      .map { case (name, df) =>
        val p = d.resolve(name).toString
        df.write.parquet(p)
        val rt = graft.queries.Q.normTs(spark.read.parquet(p), "ts")
        assert(rt.schema("ts").dataType == TimestampType,
          s"$name: normalized dtype was ${rt.schema("ts").dataType}")
        name -> rt.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq
      }.toMap
    assert(got("nanos") == us && got("ntz") == us && got("ts") == us,
      s"normalization disagreed across physical types: $got")
  }

  test("Q.normTs: randomized micros agree across physical types (property)") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // epoch micros across the realistic range (1970..2100); nanos
    // representation must stay within Long, i.e. micros < ~9.2e15
    val gen = Gen.listOfN(200, Gen.chooseNum(0L, 4102444800000000L))
    val us = gen(Gen.Parameters.default, Seed(7L)).get.distinct
    val base = us.toDF("us")
    val variants = Seq(
      base.select((col("us") * 1000L).as("ts")),
      base.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")),
      base.select(timestamp_micros(col("us")).as("ts")))
    val d = Files.createTempDirectory("graft-tsprop")
    val got = variants.zipWithIndex.map { case (df, i) =>
      val p = d.resolve(s"v$i").toString
      df.write.parquet(p)
      graft.queries.Q.normTs(spark.read.parquet(p), "ts")
        .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(got(0) == us.sorted && got(1) == got(0) && got(2) == got(0),
      "randomized micros diverged across physical ts types")
  }

  test("Q.normTs: an unrecognized ts dtype fails loudly, not silently wrong") {
    import spark.implicits._
    val df = Seq("2023-11-14 22:13:20").toDF("ts")
    val e = intercept[IllegalStateException] {
      graft.queries.Q.normTs(df, "ts")
    }
    assert(e.getMessage.contains("drifted"))
  }

  test("streaming entry survives a LEGACY long-nanos events regeneration end-to-end") {
    // If the driver flips testdata back to int64-nanos, the staged
    // normalization (Q.events inside StreamingQ staging) must absorb it:
    // run the real registry entry against a synthetic legacy-schema dir
    // and check it against the batch aggregation of the normalized frame.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val d = Files.createTempDirectory("graft-legacy-events")
    graft.queries.Q.events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "unix_micros(ts) * 1000 AS ts", "user_id",
        "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("stage").toString)
    val part = Files.list(d.resolve("stage"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, d.resolve("events.parquet"))

    val got = graft.SparkEntry.queries("stream_events_hourly")(spark, d.toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = graft.queries.Q.events(spark, d.toString)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
          .cast(DoubleType).as("sum_value"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      s"legacy-nanos streaming run diverged (${got.length} vs ${want.length} rows)")
  }

  test("Q.events reads the live testdata and yields TIMESTAMP ts") {
    val df = graft.queries.Q.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    // sanity: the data is modern epoch, not collapsed to ~1970 (the
    // micros-read-as-nanos silent failure divides everything by 1000)
    val (lo, hi) = df.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))")
      .collect()(0) match { case r => (r.getLong(0), r.getLong(1)) }
    assert(lo > 946684800000000L, s"min ts $lo predates 2000 — units are wrong")
    assert(hi < 4102444800000000L, s"max ts $hi is past 2100 — units are wrong")
  }

  test("tiny maxSplitBytes against a large file rejects, not 2^31 partitions") {
    val d = Files.createTempDirectory("graft-manysplit")
    val p = d.resolve("big.fasta")
    val sb = new StringBuilder()
    var i = 0
    while (sb.length < (5 << 20)) { sb.append(s">r$i\n").append("ACGT" * 16).append('\n'); i += 1 }
    Files.writeString(p, sb.toString)
    val e = intercept[IllegalArgumentException] {
      GraftIO.read_fasta(spark, p.toString, Map("maxSplitBytes" -> "1"))
        .rdd.getNumPartitions
    }
    assert(e.getMessage.contains("partitions"))
  }

  // ---- malformed text records fail naming the file and line position ----

  /** A format's rows read straight from a one-split scan of `content`. */
  private def scan(fmt: graft.sources.core.GraftFormat, name: String,
                   content: Array[Byte]): (String, Seq[Seq[Any]]) = {
    import graft.sources.core.GraftSplit
    val p = Files.createTempDirectory("graft-malformed").resolve(name)
    Files.write(p, content)
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = fmt.schema(Seq(new org.apache.hadoop.fs.Path(p.toString)), conf, Map.empty)
    val in = Files.newInputStream(p)
    try (p.toString, fmt.read(GraftSplit(p.toString, 0, Long.MaxValue, content.length, conf = conf),
      schema, in, Map.empty).map(_.toSeq).toList)
    finally in.close()
  }

  private def malformed(fmt: graft.sources.core.GraftFormat, name: String, content: String,
                        offset: Long): String = {
    val e = intercept[IllegalArgumentException](scan(fmt, name, content.getBytes("UTF-8")))
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"byte offset $offset"),
      s"error does not name the file and line: ${e.getMessage}")
    e.getMessage
  }

  private val fq = "@a\nAC\n+\nII\n" // 11 bytes

  test("fastq: a record without its '+' line mid-file fails, not a silent end of scan") {
    malformed(graft.sources.FastqFormat, "mid.fastq", fq + "@b\nAC\nII\n" + fq + fq, 11)
  }

  test("fastq: a final record of header and sequence only fails, not a silent drop") {
    malformed(graft.sources.FastqFormat, "tail2.fastq", fq + "@b\nAC\n", 11)
  }

  test("fastq: a final record missing only its quality line fails with a named error") {
    malformed(graft.sources.FastqFormat, "tail3.fastq", fq + "@b\nAC\n+\n", 11)
  }

  private val vcfHead = "##fileformat=VCFv4.2\n" +
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
  private val vcfOk = "1\t5\t.\tA\tG\t9\tPASS\tDP=3\n"
  private val vcfAt = (vcfHead + vcfOk).length.toLong

  test("vcf: a record with too few columns names the file and position") {
    assert(malformed(graft.sources.VcfFormat, "cols.vcf",
      vcfHead + vcfOk + "1\t6\t.\tA\n", vcfAt).contains("has 4 columns"))
  }

  test("vcf: a bad pos names the file and position") {
    malformed(graft.sources.VcfFormat, "pos.vcf", vcfHead + vcfOk + "1\t6x\t.\tA\tG\t9\tPASS\tDP=3\n", vcfAt)
  }

  test("vcf: a bad Integer INFO value names the file and position") {
    malformed(graft.sources.VcfFormat, "int.vcf", vcfHead + vcfOk + "1\t6\t.\tA\tG\t9\tPASS\tDP=x\n", vcfAt)
  }

  test("vcf: a bad Float qual names the file and position") {
    malformed(graft.sources.VcfFormat, "float.vcf", vcfHead + vcfOk + "1\t6\t.\tA\tG\tq9\tPASS\tDP=3\n", vcfAt)
  }

  test("vcf: INFO keys over a wide header match case-insensitively, last duplicate wins") {
    // 200 declared fields (annotation-style headers) plus one non-ASCII ID
    val ids = (0 until 200).map(i => s"K$i") :+ "\u00c4q"
    val head = "##fileformat=VCFv4.2\n" +
      ids.map(id => s"##INFO=<ID=$id,Number=1,Type=Integer,Description=\"d\">\n").mkString +
      "##INFO=<ID=FL,Number=0,Type=Flag,Description=\"f\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    val rnd = new scala.util.Random(7)
    val recs = (1 to 20).map { r =>
      val segs = Seq.fill(30) {
        val id = ids(rnd.nextInt(ids.length))
        val key = if (rnd.nextBoolean()) id.toLowerCase else id.toUpperCase
        (key, rnd.nextInt(1000))
      }
      val flag = if (r % 3 == 0) Seq("fl") else Nil
      (segs, flag)
    }
    val body = recs.zipWithIndex.map { case ((segs, flag), i) =>
      s"1\t${i + 1}\t.\tA\tG\t.\t.\t" + (segs.map { case (k, v) => s"$k=$v" } ++ flag :+ "zz=1").mkString(";") + "\n"
    }.mkString
    val (_, rows) = scan(graft.sources.VcfFormat, "wide.vcf", (head + body).getBytes("UTF-8"))
    val names = ids.map(_.toLowerCase) :+ "fl"
    rows.zip(recs).foreach { case (row, (segs, flag)) =>
      val want = segs.map { case (k, v) => k.toLowerCase -> v }.toMap
      val info = row(7).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val got = names.indices.map(f => if (info.isNullAt(f)) null else info.get(f, if (f == ids.length) BooleanType else IntegerType))
      assert(got == names.map(n => if (n == "fl") (if (flag.nonEmpty) true else null) else want.get(n).map(Int.box).orNull))
    }
  }

  test("text fields pass invalid UTF-8 through as raw bytes; valid UTF-8 is unchanged") {
    val bad = Array(0xff, 0xfe).map(_.toByte)
    val content = "@r1 d\u00e9".getBytes("UTF-8") ++ bad ++ "\nAC\n+\nII\n".getBytes("UTF-8")
    val (_, rows) = scan(graft.sources.FastqFormat, "raw.fastq", content)
    assert(rows.map(_.map(v => if (v == null) null else v.toString)) == Seq(
      Seq("r1", new String("d\u00e9".getBytes("UTF-8") ++ bad, "UTF-8"), "AC", "II")))
    assert(rows.head(1).asInstanceOf[UTF8String].getBytes.toSeq ==
      ("d\u00e9".getBytes("UTF-8") ++ bad).toSeq, "description bytes were re-encoded")
  }
}
