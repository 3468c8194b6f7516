package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO

/** Byte-range split correctness: reading a file as many small splits must
  * produce exactly the rows of a single-split read — no loss, no
  * duplication at boundaries. This is the property that lets one large
  * file fan out across a cluster (one task per ~128 MB) at 100 TB.
  */
class SplitReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def withMaxSplit[T](bytes: Long)(f: => T): T = {
    val k = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(k)
    spark.conf.set(k, bytes.toString)
    try f finally spark.conf.set(k, old)
  }

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft-split")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("gff: 64-byte splits == single split") {
    val content = (1 to 500).map { i =>
      s"sq${i % 7}\tgraft\tgene\t$i\t${i + 10}\t.\t+\t.\tgene_id=g$i"
    }.mkString("", "\n", "\n")
    val path = tmpFile("big.gff", content)
    val whole = GraftIO.read_gff(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(64) {
      val df = GraftIO.read_gff(spark, path)
      assert(df.rdd.getNumPartitions > 5, "expected many input partitions")
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 500)
  }

  test("fasta: splits sync to '>' record starts") {
    val content = (1 to 200).map { i =>
      s">rec$i desc$i\n${"ACGT" * (i % 5 + 1)}\nGG\n"
    }.mkString
    val path = tmpFile("big.fasta", content)
    val whole = GraftIO.read_fasta(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(64) {
      val df = GraftIO.read_fasta(spark, path)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 200)
  }

  test("fastq: splits resync on the @/+ structural pattern, incl. '@' quality lines") {
    val content = (1 to 300).map { i =>
      // quality line deliberately starts with '@' every third record
      val q = if (i % 3 == 0) "@" + "I" * 9 else "I" * 10
      s"@read$i desc$i\nACGTACGTAC\n+\n$q\n"
    }.mkString
    val path = tmpFile("big.fastq", content)
    val whole = GraftIO.read_fastq(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(64) {
      val df = GraftIO.read_fastq(spark, path)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 300)
  }

  test("directory of N files plans N partitions (compressed, unsplittable)") {
    val d = Files.createTempDirectory("graft-manyfiles")
    (1 to 6).foreach { i =>
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(d.resolve(s"f$i.fasta.gz")))
      out.write(s">r$i\nACGT\n".getBytes)
      out.close()
    }
    val df = GraftIO.read_fasta(spark, d.toString)
    assert(df.rdd.getNumPartitions == 6)
    assert(df.count() == 6)
  }

  // ---- BGZF block splits: one large .vcf.gz/.bam parallelizes across ----
  // ---- tasks that sync to block headers (VERDICT r3 ask #1)         ----

  /** Write `bytes` as BGZF, cutting a block after every `slice` bytes —
    * small multi-block files whose record/block alignment we control. */
  private def bgzfWrite(path: java.nio.file.Path, bytes: Array[Byte], slice: Int): Unit = {
    val out = new graft.sources.core.BgzfOutputStream(Files.newOutputStream(path))
    var i = 0
    while (i < bytes.length) {
      val n = math.min(slice, bytes.length - i)
      out.write(bytes, i, n)
      out.flush() // force a block boundary here
      i += n
    }
    out.close()
  }

  private def vcfText: String = {
    val header = "##fileformat=VCFv4.2\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    header + (1 to 400).map { i =>
      s"chr${i % 3}\t${i * 10}\tid$i\tA\tG\t${i % 50}.0\tPASS\tDP=$i"
    }.mkString("", "\n", "\n")
  }

  test("vcf.gz (BGZF): block splits == single split, lines straddling blocks") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.vcf.gz")
    bgzfWrite(p, vcfText.getBytes("UTF-8"), slice = 97) // lines cross blocks
    val whole = GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(512) {
      val df = GraftIO.read_vcf_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5, "expected many BGZF split partitions")
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 400)
  }

  test("vcf.gz (BGZF): every line starting exactly at a block boundary") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("aligned.vcf.gz")
    // one line per block: the anchor protocol's hardest case (a split's
    // first line is complete, not partial — owned by the PREVIOUS task)
    val out = new graft.sources.core.BgzfOutputStream(Files.newOutputStream(p))
    vcfText.split("\n").foreach { l => out.write((l + "\n").getBytes("UTF-8")); out.flush() }
    out.close()
    val whole = GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(700) {
      val df = GraftIO.read_vcf_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 400)
  }

  test("plain .vcf: byte-range splits == single split") {
    val path = tmpFile("big.vcf", vcfText)
    val whole = GraftIO.read_vcf_file_records(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(256) {
      val df = GraftIO.read_vcf_file_records(spark, path)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 400)
  }

  test("fasta.gz (BGZF): block splits sync '>' records across blocks") {
    val content = (1 to 200).map { i =>
      s">rec$i desc$i\n${"ACGT" * (i % 5 + 1)}\nGG\n"
    }.mkString
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.fasta.gz")
    bgzfWrite(p, content.getBytes("UTF-8"), slice = 61)
    val whole = GraftIO.read_fasta(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(300) {
      val df = GraftIO.read_fasta(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 200)
  }

  test("fastq.gz (BGZF): structural @/+ resync over block splits") {
    val content = (1 to 300).map { i =>
      val q = if (i % 3 == 0) "@" + "I" * 9 else "I" * 10 // '@' quality lines
      s"@read$i desc$i\nACGTACGTAC\n+\n$q\n"
    }.mkString
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.fastq.gz")
    bgzfWrite(p, content.getBytes("UTF-8"), slice = 53)
    val whole = GraftIO.read_fastq(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(400) {
      val df = GraftIO.read_fastq(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 300)
  }

  /** Minimal BAM encoder for fixtures (header + records, uncompressed
    * payload; BGZF framing added by bgzfWrite). */
  private def bamBytes(n: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    def u16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    bos.write("BAM".getBytes); bos.write(1)
    val text = "@HD\tVN:1.6\n"
    i32(text.length); bos.write(text.getBytes)
    i32(1) // n_ref
    i32(5); bos.write("ref1".getBytes); bos.write(0); i32(100000000)
    (1 to n).foreach { i =>
      val name = "r%04d".format(i) // fixed width -> fixed record length
      val nameZ = name.getBytes.length + 1
      val lSeq = 10
      val blockSize = 32 + nameZ + 4 * 1 + (lSeq + 1) / 2 + lSeq
      i32(blockSize)
      i32(0)       // refID
      i32(i * 7)   // pos (0-based)
      bos.write(nameZ); bos.write(60) // l_read_name, mapq
      u16(0)       // bin
      u16(1)       // n_cigar
      u16(if (i % 4 == 0) 16 else 0) // flag
      i32(lSeq)
      i32(-1); i32(-1); i32(0) // next_refID, next_pos, tlen
      bos.write(name.getBytes); bos.write(0)
      i32((lSeq << 4) | 0) // 10M
      // ACGTACGTAC -> nibbles 1,2,4,8 repeating
      bos.write(0x12); bos.write(0x48); bos.write(0x12); bos.write(0x48); bos.write(0x12)
      (0 until lSeq).foreach(_ => bos.write(30 + (i % 10)))
    }
    bos.toByteArray
  }

  test("bam (BGZF): splits guess record boundaries, records straddle blocks") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.bam")
    bgzfWrite(p, bamBytes(400), slice = 113) // ~60 B records cross 113 B blocks
    val whole = GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(800) {
      val df = GraftIO.read_bam_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5, "expected many BGZF split partitions")
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 400)
  }

  test("bam (BGZF): every record starting exactly at a block boundary") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("aligned.bam")
    val bytes = bamBytes(300)
    // block-align each record: header in its own block, then one record
    // per block — exercises the anchor-skip rule at every boundary
    val out = new graft.sources.core.BgzfOutputStream(Files.newOutputStream(p))
    val headerLen = bytes.length - {
      // records are the tail; recompute their total from the encoder
      val one = bamBytes(1); val zero = bamBytes(0)
      300 * (one.length - zero.length)
    }
    out.write(bytes, 0, headerLen); out.flush()
    var off = headerLen
    val recLen = (bytes.length - headerLen) / 300
    while (off < bytes.length) {
      val n = math.min(recLen, bytes.length - off)
      out.write(bytes, off, n); out.flush()
      off += n
    }
    out.close()
    val whole = GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(500) {
      val df = GraftIO.read_bam_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 300)
  }

  test("bam (BGZF): splits smaller than one block (interior splits own nothing)") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("bigblock.bam")
    bgzfWrite(p, bamBytes(200), slice = 4000) // few large blocks
    val whole = GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(300) { // many splits land inside one block
      GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 200)
  }

  /** Minimal BCF2 encoder (header + records with typed encoding, two
    * samples, GT:GQ) — the byte layout tools/make_samples_bcf.py uses,
    * scaled to many records for split testing. */
  private def bcfBytes(n: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    val header = ("##fileformat=VCFv4.2\n" +
      "##FILTER=<ID=PASS,Description=\"p\">\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"g\">\n" +
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"q\">\n" +
      "##contig=<ID=1>\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\n\u0000")
      .getBytes("UTF-8")
    bos.write("BCF".getBytes); bos.write(2); bos.write(2)
    i32(header.length); bos.write(header)
    def rec(i: Int): (Array[Byte], Array[Byte]) = {
      val sh = new java.io.ByteArrayOutputStream()
      def s32(v: Int): Unit = {
        sh.write(v & 0xff); sh.write((v >> 8) & 0xff)
        sh.write((v >> 16) & 0xff); sh.write((v >> 24) & 0xff)
      }
      s32(0); s32(i * 10 - 1); s32(1)                  // rid, pos0, rlen
      s32(java.lang.Float.floatToIntBits((i % 50).toFloat)) // qual
      s32((2 << 16) | 1)                               // n_allele=2, n_info=1
      s32((2 << 24) | 2)                               // n_fmt=2, n_sample=2
      sh.write(0x07)                                   // ID missing
      sh.write(0x17); sh.write('A'); sh.write(0x17); sh.write('G') // alleles
      sh.write(0x11); sh.write(0x00)                   // FILTER [PASS]
      sh.write(0x11); sh.write(1); sh.write(0x11); sh.write(i % 100) // INFO DP
      val ind = new java.io.ByteArrayOutputStream()
      ind.write(0x11); ind.write(2)                    // FORMAT key GT
      ind.write(0x21)                                  // int8 x2 (diploid)
      ind.write(2); ind.write(if (i % 2 == 0) 4 else 2) // 0/1 or 0/0
      ind.write(4); ind.write(4)
      ind.write(0x11); ind.write(3)                    // FORMAT key GQ
      ind.write(0x11)                                  // int8 x1
      ind.write(i % 90 + 1); ind.write((i * 7) % 90 + 1)
      (sh.toByteArray, ind.toByteArray)
    }
    (1 to n).foreach { i =>
      val (sh, ind) = rec(i)
      i32(sh.length); i32(ind.length); bos.write(sh); bos.write(ind)
    }
    bos.toByteArray
  }

  test("bcf (BGZF): splits guess record boundaries, records straddle blocks") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.bcf")
    bgzfWrite(p, bcfBytes(400), slice = 73) // ~45 B records cross 73 B blocks
    val whole = GraftIO.read_bcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(600) {
      val df = GraftIO.read_bcf_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5, "expected many BGZF split partitions")
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 400)
  }

  test("bcf (BGZF): every record starting exactly at a block boundary") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("aligned.bcf")
    val bytes = bcfBytes(300)
    val headerLen = bcfBytes(0).length
    val recLen = (bytes.length - headerLen) / 300
    val out = new graft.sources.core.BgzfOutputStream(Files.newOutputStream(p))
    out.write(bytes, 0, headerLen); out.flush()
    var off = headerLen
    while (off < bytes.length) {
      val k = math.min(recLen, bytes.length - off)
      out.write(bytes, off, k); out.flush()
      off += k
    }
    out.close()
    val whole = GraftIO.read_bcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(400) {
      val df = GraftIO.read_bcf_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 300)
  }

  test("concatenated BGZF (EOF markers mid-file) splits without loss or double-reads") {
    // `cat a.vcf.gz b.vcf.gz` leaves an empty EOF-marker block mid-file;
    // the decoder skips it, and split ownership must attribute bytes to
    // the REAL block after the marker, not the marker's offset — the
    // stale-voff shape that double-reads when a boundary lands between
    val all = vcfText.split("\n")
    val (head, tail) = all.splitAt(200 + 3) // header lines + 200 records
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("concat.vcf.gz")
    val bos = new java.io.ByteArrayOutputStream()
    for (part <- Seq(head, tail)) {
      val out = new graft.sources.core.BgzfOutputStream(bos)
      part.foreach { l => out.write((l + "\n").getBytes("UTF-8")); out.flush() }
      out.close() // writes the EOF marker -> marker sits mid-file after part 1
    }
    Files.write(p, bos.toByteArray)
    val whole = GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    assert(whole.length == 400)
    for (maxSplit <- Seq(333L, 700L, 1024L)) {
      val split = withMaxSplit(maxSplit) {
        val df = GraftIO.read_vcf_file_records(spark, p.toString)
        assert(df.rdd.getNumPartitions > 3)
        df.collect().map(_.toString).sorted
      }
      assert(split.toSeq == whole.toSeq, s"maxSplit=$maxSplit")
    }
  }

  test("maxSplitBytes read option splits without touching the session conf") {
    // the per-relation form survives downstream re-planning (a
    // set-then-restored session conf does not — the gate entry
    // fmt_bgzf_split_scan depends on this)
    val d = Files.createTempDirectory("graft-opt")
    val p = d.resolve("opt.vcf.gz")
    bgzfWrite(p, vcfText.getBytes("UTF-8"), slice = 97)
    val whole = GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted
    val df = GraftIO.read_vcf_file_records(spark, p.toString, Map("maxSplitBytes" -> "512"))
    assert(df.rdd.getNumPartitions > 5, "read option did not reach the split planner")
    assert(df.collect().map(_.toString).sorted.toSeq == whole.toSeq)
    // session conf untouched
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") != "512")
    // DSv2 options are conventionally case-insensitive
    assert(GraftIO.read_vcf_file_records(spark, p.toString,
      Map("MAXSPLITBYTES" -> "512")).rdd.getNumPartitions > 5)
    // invalid values fail fast, not as silent empty/huge plans
    val err = intercept[IllegalArgumentException] {
      GraftIO.read_vcf_file_records(spark, p.toString,
        Map("maxSplitBytes" -> "-1")).rdd.getNumPartitions
    }
    assert(err.getMessage.contains("positive"))
  }

  test("plain gzip (non-BGZF) larger than maxSplit stays ONE partition") {
    // a plain gzip stream cannot be entered mid-way: splitting it would
    // corrupt records, so the isBgzf probe must gate the split planner
    val d = Files.createTempDirectory("graft-plaingz")
    val p = d.resolve("big.vcf.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    out.write(vcfText.getBytes("UTF-8"))
    out.close()
    val rows = withMaxSplit(512) {
      val df = GraftIO.read_vcf_file_records(spark, p.toString)
      assert(df.rdd.getNumPartitions == 1,
        "plain gzip must not be byte-range split")
      df.count()
    }
    assert(rows == 400)
  }

  private def genbankText(n: Int): String =
    (1 to n).map { i =>
      f"""LOCUS       REC$i%04d                 24 bp    DNA     linear SYN 01-JAN-2026
         |DEFINITION  synthetic record $i%d for split testing.
         |ACCESSION   REC$i%04d
         |FEATURES             Location/Qualifiers
         |     source          1..24
         |                     /organism="synthetic construct"
         |ORIGIN
         |        1 gttaacgtac gtacgtacgt acgt
         |//
         |""".stripMargin
    }.mkString

  test("genbank: byte-range splits sync to LOCUS record heads") {
    val path = tmpFile("big.gb", genbankText(150))
    val whole = GraftIO.read_genbank(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(256) {
      val df = GraftIO.read_genbank(spark, path)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 150)
  }

  test("genbank.gz (BGZF): block splits sync multi-line records") {
    val d = Files.createTempDirectory("graft-bgzf")
    val p = d.resolve("big.gb.gz")
    bgzfWrite(p, genbankText(150).getBytes("UTF-8"), slice = 89)
    val whole = GraftIO.read_genbank(spark, p.toString).collect().map(_.toString).sorted
    val split = withMaxSplit(700) {
      val df = GraftIO.read_genbank(spark, p.toString)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 150)
  }

  test("split fuzz: random block/split geometry agrees with single-task reads (seed 42)") {
    // sweeps the (block size, split size) plane the hand-picked cases
    // can't cover: tiny blocks, blocks >> splits, co-prime sizes
    val rnd = new scala.util.Random(42)
    val d = Files.createTempDirectory("graft-fuzz")
    val vcfWhole = {
      val p = d.resolve("w.vcf.gz")
      bgzfWrite(p, vcfText.getBytes("UTF-8"), slice = 10000)
      GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
    }
    for (trial <- 1 to 4) {
      val slice = 40 + rnd.nextInt(500)
      val maxSplit = 150 + rnd.nextInt(2500)
      val p = d.resolve(s"vcf$trial.vcf.gz")
      bgzfWrite(p, vcfText.getBytes("UTF-8"), slice)
      val split = withMaxSplit(maxSplit) {
        GraftIO.read_vcf_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
      }
      assert(split == vcfWhole, s"vcf trial $trial slice=$slice maxSplit=$maxSplit")
    }
    val bamWhole = {
      val p = d.resolve("w.bam")
      bgzfWrite(p, bamBytes(300), slice = 10000)
      GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
    }
    for (trial <- 1 to 4) {
      val slice = 30 + rnd.nextInt(400)
      val maxSplit = 150 + rnd.nextInt(2000)
      val p = d.resolve(s"bam$trial.bam")
      bgzfWrite(p, bamBytes(300), slice)
      val split = withMaxSplit(maxSplit) {
        GraftIO.read_bam_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
      }
      assert(split == bamWhole, s"bam trial $trial slice=$slice maxSplit=$maxSplit")
    }
    val bcfWhole = {
      val p = d.resolve("w.bcf")
      bgzfWrite(p, bcfBytes(300), slice = 10000)
      GraftIO.read_bcf_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
    }
    for (trial <- 1 to 3) {
      val slice = 30 + rnd.nextInt(300)
      val maxSplit = 150 + rnd.nextInt(1500)
      val p = d.resolve(s"bcf$trial.bcf")
      bgzfWrite(p, bcfBytes(300), slice)
      val split = withMaxSplit(maxSplit) {
        GraftIO.read_bcf_file_records(spark, p.toString).collect().map(_.toString).sorted.toSeq
      }
      assert(split == bcfWhole, s"bcf trial $trial slice=$slice maxSplit=$maxSplit")
    }
    val gbWhole = {
      val p = d.resolve("w.gb.gz")
      bgzfWrite(p, genbankText(100).getBytes("UTF-8"), slice = 10000)
      GraftIO.read_genbank(spark, p.toString).collect().map(_.toString).sorted.toSeq
    }
    for (trial <- 1 to 3) {
      val slice = 40 + rnd.nextInt(300)
      val maxSplit = 150 + rnd.nextInt(1500)
      val p = d.resolve(s"gb$trial.gb.gz")
      bgzfWrite(p, genbankText(100).getBytes("UTF-8"), slice)
      val split = withMaxSplit(maxSplit) {
        GraftIO.read_genbank(spark, p.toString).collect().map(_.toString).sorted.toSeq
      }
      assert(split == gbWhole, s"genbank trial $trial slice=$slice maxSplit=$maxSplit")
    }
  }

  /** A synthetic mzML with n spectra + n/4 chromatograms, zlib'd and
    * plain base64 payloads, comments and CDATA decoys — the shapes the
    * XmlRecordSlicer split protocol must survive. */
  private def mzmlText(n: Int): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    sb.append("<mzML xmlns=\"http://psi.hupo.org/ms/mzml\" version=\"1.1.0\">\n")
    sb.append("  <!-- synthetic fixture - dashes - and <angle> text -->\n")
    sb.append("  <run id=\"r0\"><spectrumList count=\"").append(n).append("\">\n")
    def b64doubles(vs: Array[Double]): String = {
      val bb = java.nio.ByteBuffer.allocate(vs.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    for (i <- 1 to n) {
      val mz = Array.tabulate(3 + i % 5)(j => 100.0 * j + i)
      val inten = Array.tabulate(3 + i % 5)(j => i * 1.0 + j)
      sb.append(s"""    <spectrum index="${i - 1}" id="scan=$i" defaultArrayLength="${mz.length}">\n""")
      if (i % 7 == 0) sb.append("      <!-- noise </spectrum> decoy -->\n")
      sb.append("      <binaryDataArrayList count=\"2\">\n")
      sb.append("        <binaryDataArray><cvParam accession=\"MS:1000523\"/><cvParam accession=\"MS:1000514\"/>")
      sb.append("<binary>").append(b64doubles(mz)).append("</binary></binaryDataArray>\n")
      sb.append("        <binaryDataArray><cvParam accession=\"MS:1000523\"/><cvParam accession=\"MS:1000515\"/>")
      sb.append("<binary>").append(b64doubles(inten)).append("</binary></binaryDataArray>\n")
      sb.append("      </binaryDataArrayList>\n")
      if (i % 11 == 0) sb.append("      <userParam value=\"a&gt;b\"><![CDATA[ fake </spectrum> close ]]></userParam>\n")
      sb.append("    </spectrum>\n")
      if (i % 4 == 0) {
        val wl = Array.tabulate(4)(j => 7.0 * j + i)
        sb.append(s"""    <chromatogram index="${i / 4 - 1}" id="chrom=${i / 4}">""")
        sb.append("<binaryDataArray><cvParam accession=\"MS:1000523\"/><cvParam accession=\"MS:1000617\"/>")
        sb.append("<binary>").append(b64doubles(wl)).append("</binary></binaryDataArray>")
        sb.append("</chromatogram>\n")
      }
    }
    sb.append("  </spectrumList></run>\n</mzML>\n")
    sb.toString
  }

  test("mzml: byte-range splits sync to spectrum/chromatogram starts") {
    val path = tmpFile("big.mzML", mzmlText(80))
    val whole = GraftIO.read_mzml(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(700) {
      val df = GraftIO.read_mzml(spark, path)
      assert(df.rdd.getNumPartitions > 5, "expected many input partitions")
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 80 + 20)
    // decoded payloads survive the split path, not just row counts
    val row = GraftIO.read_mzml(spark, path, Map("maxSplitBytes" -> "700"))
      .where("id = 'scan=3'").selectExpr("mz.mz", "intensity.intensity").head()
    assert(row.getSeq[Double](0) == Seq(3.0, 103.0, 203.0, 303.0, 403.0, 503.0))
    assert(row.getSeq[Double](1) == Seq(3.0, 4.0, 5.0, 6.0, 7.0, 8.0))
  }

  test("mzml: every split size from tiny to whole-file agrees") {
    val text = mzmlText(12)
    val path = tmpFile("sweep.mzML", text)
    val whole = GraftIO.read_mzml(spark, path).collect().map(_.toString).sorted.toSeq
    for (maxSplit <- Seq(97L, 256L, 1024L, 4096L, text.length.toLong)) {
      val split = withMaxSplit(maxSplit)(
        GraftIO.read_mzml(spark, path).collect().map(_.toString).sorted.toSeq)
      assert(split == whole, s"maxSplit=$maxSplit")
    }
    assert(whole.length == 12 + 3)
  }

  test("sam: ranged splits skip header lines only at file start") {
    val header = "@HD\tVN:1.6\n@SQ\tSN:ref1\tLN:100000\n"
    val body = (1 to 300).map { i =>
      s"r$i\t0\tref1\t$i\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII"
    }.mkString("", "\n", "\n")
    val path = tmpFile("big.sam", header + body)
    val whole = GraftIO.read_sam_file_records(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(64)(GraftIO.read_sam_file_records(spark, path).collect().map(_.toString).sorted)
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 300)
  }

  test("chain: ranged splits sync on chain headers, block walks cross the boundary") {
    // 120 chains, 3 blocks each; every chain's block walk must stay
    // with the split that owns its header line
    val content = (0 until 120).map { i =>
      val t0 = i * 1000
      s"""chain ${100 + i} chr${i % 4} 1000000 + $t0 ${t0 + 70} q${i % 4} 500000 ${if (i % 2 == 0) "+" else "-"} ${t0 / 2} ${t0 / 2 + 55} $i
         |20 10 5
         |10 20 10
         |10
         |""".stripMargin
    }.mkString("\n")
    val path = tmpFile("big.chain", content)
    val whole = GraftIO.read_chain_file(spark, path).collect().map(_.toString).sorted
    val split = withMaxSplit(64) {
      val df = GraftIO.read_chain_file(spark, path)
      assert(df.rdd.getNumPartitions > 5)
      df.collect().map(_.toString).sorted
    }
    assert(split.toSeq == whole.toSeq)
    assert(whole.length == 120 * 3)
  }

  test("bounded BgzfBlockStream: every [startVoff, endVoff) reads exactly that slice of the inflated file") {
    // the index-chunk contract: seek to startVoff's block, skip its
    // intra offset, stop before the first byte at or past endVoff, skip
    // empty/EOF-marker blocks; checked against Bgzf.inflateAll
    import graft.sources.core.{Bgzf, BgzfBlockStream, GraftFiles}
    val F = "src/test/resources/fixtures"
    val conf = new org.apache.hadoop.conf.Configuration()
    val vcf = Files.readAllBytes(Paths.get(s"$F/vcf/indexed.vcf.gz"))
    // two copies back to back: the first copy's EOF marker sits mid-file
    val concat = Files.createTempDirectory("graft-voff").resolve("concat.vcf.gz")
    Files.write(concat, vcf ++ vcf)
    val rnd = new scala.util.Random(17)
    for (path <- Seq(s"$F/vcf/indexed.vcf.gz", s"$F/bam/indexed.bam", concat.toString)) {
      val bytes = Files.readAllBytes(Paths.get(path))
      val all = Bgzf.inflateAll(bytes)
      // (coff, isize, uncompressed start) per block, EOF markers included
      val blocks = {
        val in = new java.io.ByteArrayInputStream(bytes)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
        var coff = 0L
        var u = 0L
        var b = Bgzf.readBlock(in)
        while (b != null) {
          out += ((coff, b._2.length, u))
          coff += b._1; u += b._2.length
          b = Bgzf.readBlock(in)
        }
        out.toIndexedSeq
      }
      val fileEnd = bytes.length.toLong << 16
      val uOf: Map[Long, Long] = blocks.map(b => b._1 -> b._3).toMap
      def u(voff: Long): Long =
        if (voff >= fileEnd) all.length else uOf(voff >>> 16) + (voff & 0xffff)
      def randomVoff(): Long = {
        val k = rnd.nextInt(blocks.length + 1)
        if (k == blocks.length) fileEnd
        else (blocks(k)._1 << 16) | rnd.nextInt(blocks(k)._2 + 1).toLong
      }
      def slice(s: Long, e: Long): Seq[Byte] = all.slice(u(s).toInt, u(e).toInt).toSeq
      def readBulk(bs: BgzfBlockStream): Seq[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 + rnd.nextInt(300))
        var n = bs.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = bs.read(buf) }
        bs.close()
        out.toByteArray.toSeq
      }
      def readBytes(bs: BgzfBlockStream): Seq[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        var c = bs.read()
        while (c >= 0) { out.write(c); c = bs.read() }
        bs.close()
        out.toByteArray.toSeq
      }
      def open(s: Long, e: Long) = Bgzf.openChunk(GraftFiles.open(path, conf), s, e)
      val last = blocks.filter(_._2 > 0).last
      val m = blocks.indexWhere(_._2 == 0) // first EOF marker
      val afterMarker = if (m + 1 < blocks.length) (blocks(m + 1)._1 << 16) | 4L else fileEnd
      val named = Seq(
        "whole file" -> (0L, Long.MaxValue),
        "intra-block start" -> ((blocks(3)._1 << 16) | 5L, fileEnd),
        "end on a block boundary" -> ((blocks(1)._1 << 16) | 2L, blocks(4)._1 << 16),
        "end inside the last block" -> (blocks(2)._1 << 16, (last._1 << 16) | (last._2 / 2).toLong),
        "across the EOF marker" -> ((blocks(m - 1)._1 << 16) | 1L, afterMarker),
        "empty: start == end" -> ((blocks(2)._1 << 16) | 7L, (blocks(2)._1 << 16) | 7L))
      val random = (1 to 150).map { i =>
        val (a, b) = (randomVoff(), randomVoff())
        s"random $i" -> (math.min(a, b), math.max(a, b))
      }
      for ((name, (s, e)) <- named ++ random) {
        val want = slice(s, e)
        assert(readBulk(open(s, e)) == want, s"$path $name [$s, $e) bulk read")
        assert(readBytes(open(s, e)) == want, s"$path $name [$s, $e) byte read")
        // an end voff on a block boundary names a block the chunk does
        // not cover: garbage there must never be touched
        if ((e & 0xffff) == 0 && (e >>> 16) < bytes.length && (s >>> 16) < (e >>> 16)) {
          val in = new java.io.ByteArrayInputStream(
            bytes.slice((s >>> 16).toInt, (e >>> 16).toInt) ++ Array.fill[Byte](64)(0x5a))
          assert(readBulk(new BgzfBlockStream(in, s, () => (), e)) == want,
            s"$path $name [$s, $e) read past its end block boundary")
        }
      }
    }
  }

  test("line cursor == a per-byte model of the old readers over plain and BGZF splits and chunks") {
    import java.io.{ByteArrayInputStream, InputStream}
    import scala.collection.mutable.ArrayBuffer
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.core.{Bgzf, BgzfBlockStream, BgzfOutputStream, GraftFiles, LineReader}
    type Lines = Seq[(Long, Seq[Byte])]

    // the old readers, byte by byte: '\n' ends a line, every '\r' is
    // dropped, EOF ends the last line; a split not at 0 discards its first
    // line and a line is owned while its position is <= end
    def modelPlain(b: Array[Byte], start: Int, end: Long): Lines = {
      var p = start
      def line(): Option[Seq[Byte]] =
        if (p >= b.length) None
        else {
          val out = ArrayBuffer.empty[Byte]
          while (p < b.length && b(p) != '\n') { if (b(p) != '\r') out += b(p); p += 1 }
          p += 1
          Some(out.toSeq)
        }
      if (start != 0) line()
      val res = ArrayBuffer.empty[(Long, Seq[Byte])]
      var more = true
      while (more && p <= end) {
        val at = p.toLong
        line() match { case Some(l) => res += ((at, l)); case None => more = false }
      }
      res.toSeq
    }
    // over (voff, byte) pairs: a line's position is the voff of the byte
    // consumed before it (0 for the first)
    def modelVoff(bs: BgzfBlockStream, start: Long, end: Long): Lines = {
      val bytes = ArrayBuffer.empty[(Long, Byte)]
      var c = bs.read()
      while (c >= 0) { bytes += ((bs.lastByteVoff, c.toByte)); c = bs.read() }
      bs.close()
      var p = 0
      var last = -1L
      def anchor = math.max(last, 0L)
      def line(): Option[(Long, Seq[Byte])] =
        if (p >= bytes.length) None
        else {
          val a = anchor
          val out = ArrayBuffer.empty[Byte]
          var eol = false
          while (!eol && p < bytes.length) {
            val (v, x) = bytes(p)
            last = v; p += 1
            if (x == '\n') eol = true else if (x != '\r') out += x
          }
          Some((a, out.toSeq))
        }
      if (start != 0) line()
      val res = ArrayBuffer.empty[(Long, Seq[Byte])]
      var more = true
      while (more && anchor <= end) line() match { case Some(l) => res += l; case None => more = false }
      res.toSeq
    }
    def cursor(in: InputStream, start: Long, end: Long): Lines = {
      val c = new LineReader(in, start, end)
      val res = ArrayBuffer.empty[(Long, Seq[Byte])]
      while (c.advance())
        res += ((c.pos, java.util.Arrays.copyOfRange(c.buf, c.off, c.off + c.len).toSeq))
      in.close()
      res.toSeq
    }
    // refills of random size: multi-byte characters and CRLF pairs get cut
    final class Trickle(b: Array[Byte], from: Int, rnd: scala.util.Random) extends InputStream {
      private var p = from
      override def read(): Int = if (p >= b.length) -1 else { p += 1; b(p - 1) & 0xff }
      override def read(out: Array[Byte], off: Int, len: Int): Int =
        if (p >= b.length) -1
        else {
          val n = math.min(math.min(len, b.length - p), 1 + rnd.nextInt(if (rnd.nextBoolean()) 8 else 40000))
          System.arraycopy(b, p, out, off, n)
          p += n
          n
        }
    }
    def cuts(rnd: scala.util.Random, len: Int): Seq[Int] =
      (0 +: Seq.fill(rnd.nextInt(6))(rnd.nextInt(len + 1)) :+ len).distinct.sorted

    val piece = Gen.oneOf("a", "ACGT", "\t", "\r", "\u00e9", "\u6e2c", "\ud834\udd1e", "#", " ")
    val lineGen = Gen.frequency(1 -> Gen.const(""),
      6 -> Gen.choose(0, 30).flatMap(Gen.listOfN(_, piece)).map(_.mkString))
    val fileGen = for {
      lines <- Gen.choose(0, 40).flatMap(Gen.listOfN(_, lineGen))
      long <- Gen.prob(0.3) // > 64 KiB: spans refills and grows the buffer
      at <- Gen.choose(0, lines.length)
      crlf <- Gen.prob(0.3)
      trailing <- Gen.prob(0.7)
    } yield {
      val ls = if (long) lines.patch(at, Seq("L" * 70000 + "\u00e9"), 0) else lines
      val eol = if (crlf) "\r\n" else "\n"
      (ls.mkString(eol) + (if (trailing && ls.nonEmpty) eol else "")).getBytes("UTF-8")
    }
    val dir = Files.createTempDirectory("graft-cursor")
    val conf = new org.apache.hadoop.conf.Configuration()
    for (i <- 1 to 40) {
      val text = fileGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val rnd = new scala.util.Random(i)
      val ctx = s"case $i (${text.length} bytes)"

      // plain: random [start, end) byte splits
      val whole = cursor(new Trickle(text, 0, rnd), 0, Long.MaxValue)
      assert(whole == modelPlain(text, 0, Long.MaxValue), s"$ctx plain whole file")
      val plainCuts = cuts(rnd, text.length)
      val plainSplits = plainCuts.zip(plainCuts.tail).map { case (s, e) =>
        val got = cursor(new Trickle(text, s, rnd), s, e)
        assert(got == modelPlain(text, s, e), s"$ctx plain split [$s, $e)")
        got
      }
      assert(plainSplits.flatten == whole, s"$ctx plain splits union")

      // BGZF: random block cuts (one or two concatenated streams, so an
      // EOF marker may sit mid-file), random compressed-range splits
      val bout = new java.io.ByteArrayOutputStream()
      val halves =
        if (rnd.nextBoolean()) Seq(text)
        else { val (x, y) = text.splitAt(rnd.nextInt(text.length + 1)); Seq(x, y) }
      halves.foreach { h =>
        val out = new BgzfOutputStream(bout)
        var k = 0
        while (k < h.length) {
          val n = math.min(h.length - k, 1 + rnd.nextInt(300))
          out.write(h, k, n); out.flush(); k += n
        }
        out.close()
      }
      val gz = bout.toByteArray
      val blocks = {
        val in = new ByteArrayInputStream(gz)
        val coffs = ArrayBuffer.empty[(Long, Int)]
        var coff = 0L
        var b = Bgzf.readBlock(in)
        while (b != null) { coffs += ((coff, b._2.length)); coff += b._1; b = Bgzf.readBlock(in) }
        coffs.toIndexedSeq
      }
      def from(coff: Long) =
        new BgzfBlockStream(new ByteArrayInputStream(gz, coff.toInt, gz.length - coff.toInt), coff << 16, () => ())
      val bgzfWhole = cursor(from(0), 0, Long.MaxValue)
      assert(bgzfWhole == modelVoff(from(0), 0, Long.MaxValue), s"$ctx BGZF whole file")
      assert(bgzfWhole.map(_._2) == whole.map(_._2), s"$ctx BGZF whole file bytes")
      val gzCuts = cuts(rnd, gz.length)
      val gzSplits = gzCuts.zip(gzCuts.tail).map { case (s, e) =>
        val (vs, ve) = (if (s == 0) 0L else s.toLong << 16, (e.toLong << 16) - 1)
        blocks.find(b => b._1 >= s && b._1 < e) match {
          case None => Seq.empty
          case Some((coff, _)) =>
            val got = cursor(from(coff), vs, ve)
            assert(got == modelVoff(from(coff), vs, ve), s"$ctx BGZF split [$s, $e)")
            got
        }
      }
      assert(gzSplits.flatten == bgzfWhole, s"$ctx BGZF splits union")

      // index chunks: random [startVoff, endVoff) through Bgzf.openChunk
      val path = dir.resolve(s"c$i.gz")
      Files.write(path, gz)
      def voff(): Long = {
        val k = rnd.nextInt(blocks.length + 1)
        if (k == blocks.length) gz.length.toLong << 16
        else (blocks(k)._1 << 16) | rnd.nextInt(blocks(k)._2 + 1).toLong
      }
      for (_ <- 1 to 5) {
        val (a, b) = (voff(), voff())
        val (s, e) = (math.min(a, b), math.max(a, b))
        def open() = Bgzf.openChunk(GraftFiles.open(path.toString, conf), s, e)
        assert(cursor(open(), 0, Long.MaxValue) == modelVoff(open(), 0, Long.MaxValue),
          s"$ctx chunk [$s, $e)")
      }
    }
  }
}
