package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import graft.sources.core.Regions

/** Batched multi-region index queries — the gene-panel form of the
  * reference's single-region `X_query` (vcf_query_reader.rs takes one
  * region per call; real users pass thousands). Checks, in order of
  * load-bearing-ness:
  *   1. union semantics: multi-region == union of single-region reads,
  *      each matching record exactly once even under overlapping regions;
  *   2. scale shape: a file's index chunks are packed into at most one
  *      partition per core (a 1k-region panel over a written bgzf+tabix
  *      tree, 20-region panels over the BAM/VCF/BCF fixtures), each chunk
  *      read exactly once and rows in file order, checked row-for-row
  *      against scan+filter;
  *   3. the Matcher/merge primitives that make the row test O(log R).
  */
class MultiRegionQuerySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val F = "/root/repo/src/test/resources/fixtures"

  // ---- primitives ----

  test("Regions: option parsing, list splitting, delimiter rules") {
    assert(Regions.parse("chr1") == (("chr1", 1L, Long.MaxValue)))
    assert(Regions.parse("chr1:1,000-2,000") == (("chr1", 1000L, 2000L)))
    assert(Regions.parse("chr1:500-") == (("chr1", 500L, Long.MaxValue)))
    assert(Regions.split("1:1-5;2:10-20 3") == Seq("1:1-5", "2:10-20", "3"))
    assert(Regions.fromOptions(Map("region" -> "1:1-5", "regions" -> "2;3")) ==
      Seq("1:1-5", "2", "3"))
    assert(Regions.fromOptions(Map("path" -> "x")) == Seq.empty)
    // malformed positions fail with the grammar, not a bare NumberFormatException
    val e = intercept[IllegalArgumentException] { Regions.parse("chr1:abc-def") }
    assert(e.getMessage.contains("grammar"))
  }

  test("Regions.Matcher: merged intervals, point and overlap semantics") {
    val m = Regions.matcher(Seq(
      ("1", 10L, 20L), ("1", 15L, 30L), ("1", 31L, 40L), // overlap + adjacent -> [10,40]
      ("1", 100L, 200L), ("2", 5L, 5L)))
    assert(m.containsPoint("1", 10) && m.containsPoint("1", 40) && m.containsPoint("1", 25))
    assert(!m.containsPoint("1", 41) && !m.containsPoint("1", 99) && !m.containsPoint("1", 9))
    assert(m.containsPoint("1", 150) && m.containsPoint("2", 5) && !m.containsPoint("3", 5))
    assert(m.overlaps("1", 41, 99) == false) // gap between merged runs
    assert(m.overlaps("1", 1, 10) && m.overlaps("1", 40, 50) && m.overlaps("1", 35, 120))
    assert(!m.overlaps("2", 6, 100) && m.overlaps("2", 1, 5))
    // open-ended region: hi = Long.MaxValue must not overflow the merge
    val open = Regions.matcher(Seq(("1", 100L, Long.MaxValue), ("1", 50L, 60L)))
    assert(open.containsPoint("1", 1000000000L) && !open.containsPoint("1", 70))
  }

  test("Regions.mergeChunks: overlap merge + compressed-gap coalescing") {
    val a = (10L << 16) | 5L
    val b = (12L << 16) | 0L   // 2 bytes compressed after a's block -> coalesce
    val c = (800000L << 16) | 1L // far away -> separate
    val merged = Regions.mergeChunks(Seq((c, c + 100), (a, b), (b - 3, b + 7)))
    assert(merged == Seq((a, b + 7), (c, c + 100)))
    // chunks more than coalesceBytes apart stay separate
    val far = Regions.mergeChunks(Seq((0L, 1L << 16), ((3L << 16 << 16), (4L << 16 << 16))),
      coalesceBytes = 1 << 10)
    assert(far.size == 2)
  }

  private def scanOf(df: DataFrame): graft.sources.core.GraftScan = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.asInstanceOf[graft.sources.core.GraftScan]
  }

  // ---- the scan's one region row test ----

  test("region reads == full read filtered by the declared coordinates, all nine formats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-coords")
    def file(name: String, body: String): String =
      java.nio.file.Files.writeString(dir.resolve(name), body).toString
    // (format, path, regions, rows expected): each spec mixes hits and
    // misses; PAF's 0-based target_start 2000 is base 2001 (outside
    // t1:2000-2000), and BED's '.' end matches as the point at start
    val cases = Seq(
      ("vcf", s"$F/vcf/test.vcf", "1:200-999;2:700-", 3),
      ("bcf", s"$F/vcf/test.bcf", "1:200-999", 2),
      ("bam", s"$F/bam/test.bam", "ref1:5-24", 1),
      ("paf", s"$F/paf/test.paf", "t1:2000-2000;t2:660-660", 1),
      ("wig", s"$F/wig/test.wig", "chr1:105-110;chr2:301-", 4),
      ("bedgraph", file("t.bedgraph", "chr1\t0\t10\t1.5\nchr1\t10\t20\t2\nchr2\t5\t6\t3\n"),
        "chr1:11-11;chr2:6-", 2),
      ("gff", s"$F/gff/test.gff", "sq1:14-20", 1),
      ("gtf", s"$F/gtf/test.gtf", "chr1:12228-12613", 1),
      ("bed", file("t.bed", "chr1\t99\t.\tpt\nchr1\t100\t200\tiv\nchr2\t5\t6\tx\n"),
        "chr1:100-100", 1),
      // indexed fixtures: the region and the WHERE read index chunks
      ("vcf", s"$F/vcf/indexed.vcf.gz", "1:100000-500000", 38),
      ("bcf", s"$F/vcf/indexed.bcf", "1:2000000-20000000", 83),
      ("bam", s"$F/bam/indexed.bam", "chr1:1000000-9000000", 59))
    for ((fmt, path, spec, n) <- cases) {
      val c = graft.sources.Formats.byName(fmt).coordinates.get
      val shift = if (c.zeroBasedStart) 1L else 0L
      val m = Regions.matcher(Regions.split(spec).map(Regions.parse))
      val full = spark.read.format(fmt).load(path).selectExpr(c.contig, c.start, c.end).collect()
      val hits = full.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && {
        val lo = r.getLong(1) + shift
        m.overlaps(r.getString(0), lo, if (r.isNullAt(2)) lo else r.getLong(2))
      })
      val want = hits.map(_.toString).sorted.toSeq
      assert(want.size == n && full.length > n, s"$fmt: ${want.size} of ${full.length}")
      val opt = if (spec.contains(';')) "regions" else "region"
      val region = spark.read.format(fmt).option(opt, spec).load(path)
      val got = region.selectExpr(c.contig, c.start, c.end).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"$fmt $opt=$spec")
      // the same regions inferred from a WHERE give the same row test:
      // it returns the rows of its unpushable twin, whose scan has no
      // regions and reads everything
      val (ctg, a) = (hits.head.getString(0), hits.head.getLong(1))
      val cond = s"${c.contig} = '$ctg' AND ${c.start} BETWEEN $a AND ${a + 100}"
      val where = spark.read.format(fmt).load(path).where(cond)
      val twin = spark.read.format(fmt).load(path)
        .where(s"concat(${c.contig}, '') = '$ctg' AND ${c.start} + 0 BETWEEN $a AND ${a + 100}")
      val whereRows = where.collect().map(_.toString).sorted.toSeq
      assert(whereRows.nonEmpty && whereRows == twin.collect().map(_.toString).sorted.toSeq,
        s"$fmt WHERE $cond")
      assert(scanOf(where).regions.nonEmpty && scanOf(twin).regions.isEmpty, fmt)
      if (Seq(".tbi", ".csi", ".bai").exists(e => new java.io.File(path + e).exists))
        for (df <- Seq(region, where))
          assert(scanPartitions(df).nonEmpty && scanPartitions(df).forall(_.bgzfChunk), s"$fmt $path")
    }
  }

  test("a read with no reference span is returned at its base by bam_query and by WHERE") {
    // CIGAR 10S consumes no reference, so the read's end is start - 1;
    // htslib counts it as the one base at start (bam_endpos), and so
    // does the row test
    val dir = java.nio.file.Files.createTempDirectory("graft-zero-span").toString
    spark.range(3).selectExpr(
      "concat('r', id) AS name", "0 AS flag", "'c1' AS reference",
      "100 + id * 10 AS start", "109 + id * 10 AS end",
      "'30' AS mapping_quality", "if(id = 1, '10S', '10M') AS cigar",
      "cast(null as string) AS mate_reference",
      "'ACGTACGTAC' AS sequence", "repeat('I', 10) AS quality_score")
      .coalesce(1).write.mode("overwrite").option("refs", "c1:1000").format("bam").save(dir)
    val r1 = GraftIO.read_bam_file_records(spark, dir).where("name = 'r1'")
      .selectExpr("start", "end").collect().head
    assert(r1.getLong(1) == r1.getLong(0) - 1, r1)
    def names(df: DataFrame): Seq[String] = df.select("name").collect().map(_.getString(0)).toSeq
    assert(names(GraftIO.bam_query(spark, dir, "c1:110-110")) == Seq("r1"))
    assert(names(GraftIO.read_bam_file_records(spark, dir)
      .where("reference = 'c1' AND start BETWEEN 110 AND 110")) == Seq("r1"))
  }

  test("a WHERE's row test keeps a placed read with no position and a VCF record at POS 0") {
    // both are valid records that no 1-based region holds: a read with a
    // reference but POS 0 in SAM terms reads with a null start, and a
    // VCF telomere record sits at POS 0. The filters below accept them,
    // so the regions inferred from those filters must too
    val dir = java.nio.file.Files.createTempDirectory("graft-unplaced")
    val bam = dir.resolve("bam").toString
    spark.range(3).selectExpr(
      "concat('r', id) AS name", "if(id = 0, 4, 0) AS flag",
      "if(id = 2, 'c2', 'c1') AS reference",
      "if(id = 0, cast(null as bigint), 100 + id) AS start", "cast(null as bigint) AS end",
      "'30' AS mapping_quality", "if(id = 0, cast(null as string), '10M') AS cigar",
      "cast(null as string) AS mate_reference",
      "'ACGTACGTAC' AS sequence", "repeat('I', 10) AS quality_score")
      .coalesce(1).write.mode("overwrite").option("refs", "c1:1000,c2:1000").format("bam").save(bam)
    val vcf = java.nio.file.Files.writeString(dir.resolve("t.vcf"),
      "##fileformat=VCFv4.2\n##contig=<ID=1>\n##contig=<ID=2>\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "1\t0\ttel\tN\t.\t.\t.\t.\n1\t5\ta\tA\tG\t.\t.\t.\n" +
        "1\t50\tb\tC\tT\t.\t.\t.\n2\t0\tc\tN\t.\t.\t.\t.\n").toString
    val cases = Seq(
      ("bam", bam, "reference", "start", Seq(
        "reference = 'c1'" -> 2, "reference = 'c1' AND start IS NULL" -> 1,
        "reference = 'c1' AND start < 500" -> 1)),
      ("vcf", vcf, "chrom", "pos", Seq(
        "chrom = '1'" -> 3, "chrom = '1' AND pos < 10" -> 2,
        "chrom = '1' AND pos BETWEEN -5 AND 0" -> 1, "chrom = '1' AND pos >= 0" -> 3)))
    for ((fmt, path, ctg, pos, wheres) <- cases; (cond, n) <- wheres) {
      val where = spark.read.format(fmt).load(path).where(cond)
      val twin = spark.read.format(fmt).load(path).where(
        cond.replace(s"$ctg =", s"concat($ctg, '') =").replace(s"$pos ", s"($pos + 0) "))
      val rows = where.collect().map(_.toString).sorted.toSeq
      assert(scanOf(where).regions.nonEmpty && scanOf(twin).regions.isEmpty, s"$fmt $cond")
      assert(rows.size == n && rows == twin.collect().map(_.toString).sorted.toSeq,
        s"$fmt WHERE $cond: $rows")
    }
  }

  test("a region option on a format without coordinates fails naming option and format") {
    for ((fmt, path, opt) <- Seq(("fastq", s"$F/fastq/test.fastq", "region"),
                                 ("sam", s"$F/sam/example.sam", "regions"))) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format(fmt).option(opt, "chr9:1-2").load(path).count()
      }
      assert(e.getMessage.contains(s"'$opt'") && e.getMessage.contains(s"'$fmt'"), e.getMessage)
    }
  }

  // ---- chunk packing ----

  private def scanPartitions(df: DataFrame): Seq[graft.sources.core.GraftInputPartition] =
    scanOf(df).planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.core.GraftInputPartition])

  /** The packed plan of `regions` over one indexed file: at most one
    * partition per core, each chunk of the unpacked (one partition per
    * chunk) plan in exactly one partition and in offset order, and the
    * collected rows equal to the full scan filtered by the regions, in
    * file order. */
  private def checkPacked(fmt: String, path: String, regions: Seq[String]): Unit = {
    val format = graft.sources.Formats.byName(fmt)
    val c = format.coordinates.get
    val cols = Seq(c.contig, c.start, c.end)
    val df = spark.read.format(fmt).option("regions", regions.mkString(";")).load(path)
    val parts = scanPartitions(df)
    val unpacked = format.regionChunks(path, regions.map(Regions.parse),
      spark.sessionState.newHadoopConf()).get
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk), s"$fmt: ${parts.take(3)}")
    assert(parts.size <= spark.sparkContext.defaultParallelism, s"$fmt: ${parts.size} partitions")
    assert(parts.flatMap(_.chunkRanges) == unpacked, fmt)
    assert(parts.forall(p => p.start == p.chunks.head._1 && p.end == p.chunks.last._2), fmt)
    val shift = if (c.zeroBasedStart) 1L else 0L
    val m = Regions.matcher(regions.map(Regions.parse))
    val want = spark.read.format(fmt).load(path).selectExpr(cols: _*).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && {
        val lo = r.getLong(1) + shift
        m.overlaps(r.getString(0), lo, if (r.isNullAt(2)) lo else r.getLong(2))
      }).map(_.toString).toSeq
    val got = df.selectExpr(cols: _*).collect().map(_.toString).toSeq
    assert(want.nonEmpty && got == want, s"$fmt: ${got.size} rows, want ${want.size}")
  }

  test("20-region panels over the BAM, VCF and BCF fixtures: packed, each chunk once, file order") {
    for ((fmt, path) <- Seq(("bam", s"$F/bam/indexed.bam"), ("vcf", s"$F/vcf/indexed.vcf.gz"),
                            ("bcf", s"$F/vcf/indexed.bcf"))) {
      // regions around seeded records of the file, 10 bp to 200 kb wide
      val c = graft.sources.Formats.byName(fmt).coordinates.get
      val rows = spark.read.format(fmt).load(path).selectExpr(c.contig, c.start)
        .where(s"${c.contig} IS NOT NULL").collect()
      val rnd = new scala.util.Random(11)
      val regions = (1 to 20).map { _ =>
        val r = rows(rnd.nextInt(rows.length))
        val lo = math.max(1L, r.getLong(1) - rnd.nextInt(1000))
        s"${r.getString(0)}:$lo-${lo + math.pow(10, 1 + 4.3 * rnd.nextDouble()).toLong}"
      }
      checkPacked(fmt, path, regions)
    }
  }

  test("a scan plans its partitions once: the query's scan execs read that one plan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    for ((fmt, path) <- Seq(("bam", s"$F/bam/indexed.bam"), ("vcf", s"$F/vcf/indexed.vcf.gz"),
                            ("bcf", s"$F/vcf/indexed.bcf"))) {
      val c = graft.sources.Formats.byName(fmt).coordinates.get
      val contig = spark.read.format(fmt).load(path).where(s"${c.contig} IS NOT NULL")
        .selectExpr(c.contig).head().getString(0)
      val df = spark.read.format(fmt).option("region", s"$contig:1-2000000").load(path)
      assert(df.collect().nonEmpty, fmt)
      val exec = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
      val batch = exec.scan.toBatch
      val planned = batch.planInputPartitions()
      // every call hands back the first plan; a re-plan would reload
      // each file's index and make new partitions
      assert(planned eq batch.planInputPartitions(), fmt)
      assert(exec.inputPartitions.nonEmpty && exec.inputPartitions.zip(planned).forall {
        case (a, b) => a eq b }, fmt)
    }
  }

  test("a packed partition reads its chunks in turn: rows == its chunks read one partition each") {
    import graft.sources.core.{GraftConf, GraftInputPartition, GraftReaderFactory}
    import graft.sources.{BaiIndex, CsiIndex, TabixIndex}
    val conf = spark.sessionState.newHadoopConf()
    for ((fmt, path, idx) <- Seq(
        ("bam", s"$F/bam/indexed.bam", BaiIndex.load(s"$F/bam/indexed.bam", conf).get),
        ("vcf", s"$F/vcf/indexed.vcf.gz", TabixIndex.load(s"$F/vcf/indexed.vcf.gz", conf).get),
        ("bcf", s"$F/vcf/indexed.bcf", CsiIndex.load(s"$F/vcf/indexed.bcf", conf).get))) {
      // every other leaf-bin chunk of the file: disjoint, record-bounded,
      // with gaps between them, across both contigs
      val leaves = idx.refs.flatMap(_.bins.filter(_._1 >= 4681).values.flatten)
        .map(c => (c.beg, c.end)).sortBy(_._1)
      val chunks = leaves.zipWithIndex.collect { case (c, i) if i % 2 == 0 => c }
      assert(chunks.size > 20, s"$fmt: ${chunks.size} chunks")
      val full = spark.read.format(fmt).load(path).schema
      val c = graft.sources.Formats.byName(fmt).coordinates.get
      val required = org.apache.spark.sql.types.StructType(Seq(c.contig, c.start).map(full(_)))
      val factory = GraftReaderFactory(graft.sources.Formats.byName(fmt), full, required,
        Map("path" -> path), None, GraftConf.broadcast(spark))
      def read(p: GraftInputPartition): Seq[String] = {
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().toSeq(required).mkString(":")).toList
        finally r.close()
      }
      val len = new java.io.File(path).length
      val packed = read(GraftInputPartition(path, chunks.head._1, chunks.last._2, len,
        bgzfChunk = true, chunks = chunks))
      val one = chunks.flatMap(c => read(GraftInputPartition(path, c._1, c._2, len, bgzfChunk = true)))
      assert(packed.nonEmpty && packed == one, s"$fmt: ${packed.size} vs ${one.size} rows")
    }
  }

  // ---- fixture-level union semantics ----

  test("vcf_query with a region list == union of single-region queries, no duplicates") {
    val path = s"$F/vcf/indexed.vcf.gz"
    val regions = Seq("1:100000-500000", "1:400000-800000", "2:1-2000000", "19")
    val single = regions.map(r => GraftIO.vcf_query(spark, path, r)
      .selectExpr("chrom", "pos", "ref").collect().map(_.toString).toSet)
    val want = single.reduce(_ union _)
    val gotRows = GraftIO.vcf_query(spark, path, regions)
      .selectExpr("chrom", "pos", "ref").collect().map(_.toString).toSeq
    assert(gotRows.toSet == want)
    assert(gotRows.size == want.size, "overlapping regions must not duplicate records")
  }

  test("bcf_query and bam_query region lists match their single-region unions") {
    val bcf = s"$F/vcf/indexed.bcf"
    val bcfRegions = Seq("1:2000000-20000000", "2:1-5000000")
    val bcfWant = bcfRegions.map(r => GraftIO.bcf_query(spark, bcf, r)
      .selectExpr("chrom", "pos").collect().map(_.toString).toSet).reduce(_ union _)
    val bcfGot = GraftIO.bcf_query(spark, bcf, bcfRegions)
      .selectExpr("chrom", "pos").collect().map(_.toString)
    assert(bcfGot.toSet == bcfWant && bcfGot.length == bcfWant.size)

    val bam = s"$F/bam/indexed.bam"
    val refs = GraftIO.read_bam_file_records(spark, bam)
      .select("reference").distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(refs.nonEmpty)
    val bamRegions = refs.take(2).map(r => s"$r:1-100000") :+ s"${refs.head}:50000-2000000"
    val bamWant = bamRegions.map(r => GraftIO.bam_query(spark, bam, r)
      .selectExpr("name", "start").collect().map(_.toString).toSet).reduce(_ union _)
    val bamGot = GraftIO.bam_query(spark, bam, bamRegions)
      .selectExpr("name", "start").collect().map(_.toString)
    assert(bamGot.toSet == bamWant && bamGot.length == bamWant.size)
  }

  test("SQL TVF vcf_query takes extra region arguments") {
    graft.sources.GraftTableFunctions.registerAll(spark)
    val one = spark.sql(
      s"SELECT chrom, pos FROM vcf_query('$F/vcf/indexed.vcf.gz', '1:100000-500000')")
      .collect().map(_.toString).toSet
    val two = spark.sql(
      s"SELECT chrom, pos FROM vcf_query('$F/vcf/indexed.vcf.gz', '1:100000-500000', '2:1-2000000')")
      .collect().map(_.toString).toSet
    assert(one.subsetOf(two) && two.size > one.size)
  }

  test("BED gains region queries: write bgzf+tabix, single and multi regions == scan+filter") {
    val df = spark.range(3000).selectExpr(
      "concat('chr', id % 3) AS reference_sequence_name",
      "(id * 2654435761L) % 3000000 + 1 AS start",
      "(id * 2654435761L) % 3000000 + 1 + (id * 40503) % 40000 AS end",
      "concat('f', id) AS name", "cast(id % 100 + 1 as long) AS score",
      "'+' AS strand", "cast(null as long) AS thick_start",
      "cast(null as long) AS thick_end", "cast(null as string) AS color",
      "cast(null as long) AS block_count", "cast(null as string) AS block_sizes",
      "cast(null as string) AS block_starts")
    val dir = java.nio.file.Files.createTempDirectory("graft-bedq").toString
    df.repartition(1).sortWithinPartitions("reference_sequence_name", "start")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("bed").save(dir)
    val dataFile = dir + "/" + new java.io.File(dir).listFiles
      .map(_.getName).find(_.endsWith(".bed.gz")).get
    val full = GraftIO.read_bed_file(spark, dataFile)
      .selectExpr("reference_sequence_name AS c", "start", "end", "name").collect()
    assert(full.length == 3000)
    val regions = Seq("chr0:1-50000", "chr1:1000000-1200000", "chr2", "chrX:1-9")
    val matcher = Regions.matcher(regions.map(Regions.parse))
    val want = full.filter(r => matcher.overlaps(r.getString(0), r.getLong(1), r.getLong(2)))
      .map(_.toString).sorted.toSeq
    val got = GraftIO.read_bed_file(spark, dataFile,
        Map("regions" -> regions.mkString(";")))
      .selectExpr("reference_sequence_name AS c", "start", "end", "name")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && want.nonEmpty)
    // index actually pruned: chunk partitions planned for a small region
    val one = GraftIO.read_bed_file(spark, dataFile, Map("region" -> "chr0:1-50000"))
    one.collect()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val parts = one.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.core.GraftInputPartition])
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk), parts.take(3).toString)
    // SQL TVF surface
    graft.sources.GraftTableFunctions.registerAll(spark)
    val tvf = spark.sql(
      s"SELECT count(*) AS n FROM bed_query('$dataFile', 'chr0:1-50000', 'chr2')")
      .collect().head.getLong(0)
    val direct = GraftIO.read_bed_file(spark, dataFile,
      Map("regions" -> "chr0:1-50000;chr2")).count()
    assert(tvf == direct && tvf > 0)
  }

  test("multi-part indexed tree: per-file .tbi, regions prune across every part") {
    // a partitioned write (2 part files, each sorted, each with its own
    // sidecar) is what a real ingestion job produces; region queries
    // must prune per file and union across the tree
    val df = spark.range(2000).selectExpr(
      "concat('chr', id % 4) AS seqname", "'synth' AS source", "'feature' AS type",
      "(id * 2654435761L) % 2000000 + 1 AS start",
      "(id * 2654435761L) % 2000000 + 2 + (id * 40503) % 30000 AS end",
      "cast(1.0 as float) AS score", "'+' AS strand",
      "cast(null as string) AS phase",
      "map('rid', array(cast(id as string))) AS attributes")
    val dir = java.nio.file.Files.createTempDirectory("graft-multipart").toString
    df.repartition(2, col("seqname")).sortWithinPartitions("seqname", "start")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("gff").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName)
    val dataFiles = files.filter(_.endsWith(".gff.gz"))
    assert(dataFiles.length == 2, files.toSeq)
    assert(files.count(_.endsWith(".tbi")) == 2, files.toSeq)
    val regions = "chr0:1-300000;chr1:500000-800000;chr3:1900000-2000000"
    val matcher = Regions.matcher(Regions.split(regions).map(Regions.parse))
    val full = GraftIO.read_gff(spark, dir)
      .selectExpr("seqname", "start", "end").collect()
    assert(full.length == 2000)
    val want = full.filter(r => matcher.overlaps(r.getString(0), r.getLong(1), r.getLong(2)))
      .map(_.toString).sorted.toSeq
    val multi = GraftIO.read_gff(spark, dir, Map("regions" -> regions))
    val got = multi.selectExpr("seqname", "start", "end")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && want.nonEmpty)
    // both part files contribute chunk partitions (regions hit contigs
    // in each part via the hash layout)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val sel = multi.selectExpr("seqname")
    sel.collect()
    val parts = sel.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.core.GraftInputPartition])
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk), parts.take(3).toString)
  }

  // ---- the 1k-region panel over a written, indexed tree ----

  test("1000-region panel over a written bgzf+tabix GFF: exact vs scan+filter, coalesced partitions") {
    // write a sorted+bgzf+tabix tree through our own writer (the
    // write->index->multi-region-read composition the single-region
    // tests never exercised at depth)
    val df = spark.range(4000).select(
      concat(lit("chr"), (col("id") % 4).cast("string")).as("seqname"),
      lit("synth").as("source"),
      lit("feature").as("type"),
      (pmod(col("id") * 2654435761L, lit(8000000L)) + 1).as("start"),
      (pmod(col("id") * 2654435761L, lit(8000000L)) + 2
        + pmod(col("id") * 40503L, lit(50000L))).as("end"),
      (col("id") % 10).cast("float").as("score"),
      lit("+").as("strand"),
      lit(null).cast("string").as("phase"),
      map(lit("rid"), array(col("id").cast("string"))).as("attributes"))
    val dir = java.nio.file.Files.createTempDirectory("graft-multiregion").toString
    df.repartition(1).sortWithinPartitions("seqname", "start")
      .write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix")
      .format("gff").save(dir)
    val dataFile = dir + "/" + new java.io.File(dir).listFiles
      .map(_.getName).find(_.endsWith(".gff.gz")).get

    val rnd = new scala.util.Random(42)
    val regions = (1 to 1000).map { _ =>
      val chr = s"chr${rnd.nextInt(5)}" // chr4 never exists: must be silently empty
      val lo = 1 + rnd.nextInt(8000000)
      val hi = lo + rnd.nextInt(60000)
      s"$chr:$lo-$hi"
    }
    val matcher = Regions.matcher(regions.map(Regions.parse))

    val full = GraftIO.read_gff(spark, dataFile)
      .selectExpr("seqname", "start", "end", "attributes['rid'][0] AS rid")
      .collect()
    val want = full.filter(r =>
        matcher.overlaps(r.getString(0), r.getLong(1), r.getLong(2)))
      .map(_.toString).sorted.toSeq

    val multi = GraftIO.read_gff(spark, dataFile,
      Map("regions" -> regions.mkString(";")))
    val got = multi.selectExpr("seqname", "start", "end", "attributes['rid'][0] AS rid")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    assert(want.size > 100, s"panel matched only ${want.size} rows — fixture too sparse to prove anything")

    // scale gate: index-chunk reads, packed into at most one partition
    // per core, each chunk once, rows in file order
    checkPacked("gff", dataFile, regions)
  }

  test("20 far-apart regions over a written 2 MB GFF: 20 index chunks, packed per core") {
    // high-entropy attributes keep the file ~2.5 MB compressed, so the
    // regions, 2 Mb apart, sit more than the 64 KB coalescing gap apart
    // and stay 20 chunks; one partition each would be 20 tasks
    val df = spark.range(40000).selectExpr("'chr1' AS seqname", "'synth' AS source",
      "'feature' AS type", "id * 1000 + 1 AS start", "id * 1000 + 500 AS end",
      "cast(1.0 as float) AS score", "'+' AS strand", "cast(null as string) AS phase",
      "map('h', array(sha2(cast(id as string), 256))) AS attributes")
    val dir = java.nio.file.Files.createTempDirectory("graft-packed").toString
    df.repartition(1).sortWithinPartitions("start").write.mode("overwrite")
      .option("compression", "bgzf").option("index", "tabix").format("gff").save(dir)
    val dataFile = new java.io.File(dir).listFiles.map(_.getPath).find(_.endsWith(".gff.gz")).get
    val regions = (0 until 20).map(i => s"chr1:${i * 2000000L + 7000}-${i * 2000000L + 8000}")
    val unpacked = graft.sources.GffFormat.regionChunks(dataFile, regions.map(Regions.parse),
      spark.sessionState.newHadoopConf()).get
    assert(unpacked.size == 20, unpacked.size)
    checkPacked("gff", dataFile, regions)
    assert(scanPartitions(GraftIO.read_gff(spark, dataFile, Map("regions" -> regions.mkString(";"))))
      .exists(_.chunks.size > 1))
  }
}
