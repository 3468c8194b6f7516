package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftIO

/** The binary BCF writer: parse ∘ write = id against the VCF-shaped
  * schema, through the real BGZF container with the reconstructed text
  * header (dictionary order = the reader's LinkedHashSet traversal),
  * covering sample-less and genotyped records, typed INFO shapes
  * (Flag/Integer/Float-array), non-PASS filters, multi-part writes,
  * and the block-split read path over our own output. */
class BcfWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val F = "src/test/resources/fixtures/vcf"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("test.vcf (site-only, Flag/Int/FloatArray INFO, q10 filter) round-trips") {
    val dir = queries.Stage.tempDir("bcf_wrt").toString
    val src = GraftIO.read_vcf_file_records(spark, s"$F/test.vcf")
    src.write.mode("overwrite")
      .option("contigs", "1,2").option("filters", "q10")
      .format("bcf").save(dir)
    val back = GraftIO.read_bcf_file_records(spark, dir)
    assert(rowsOf(back) === rowsOf(src))
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bcf"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".bcf")),
      "codec suffix must be suppressed")
  }

  test("samples.vcf (GT:GQ genotypes) round-trips including typed genotypes") {
    val dir = queries.Stage.tempDir("bcf_wrt_s").toString
    val src = GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
    src.write.mode("overwrite").option("contigs", "1").format("bcf").save(dir)
    val back = GraftIO.read_bcf_file_records(spark, dir)
    assert(back.schema.fieldNames.toSeq === src.schema.fieldNames.toSeq)
    assert(rowsOf(back) === rowsOf(src))
    // the typed surface re-derives identically from the re-rendered strings
    assert(rowsOf(back.selectExpr("pos", "genotypes_typed.gt", "genotypes_typed.gq"))
      === rowsOf(src.selectExpr("pos", "genotypes_typed.gt", "genotypes_typed.gq")))
  }

  test("our BCF output matches the bcftools-made BCF of the same VCF") {
    val dir = queries.Stage.tempDir("bcf_parity").toString
    GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
      .write.mode("overwrite").option("contigs", "1").format("bcf").save(dir)
    val ours = GraftIO.read_bcf_file_records(spark, dir)
    val theirs = GraftIO.read_bcf_file_records(spark, s"$F/samples.bcf")
    assert(rowsOf(ours) === rowsOf(theirs))
  }

  test("phased and missing GT alleles survive the packed int encoding") {
    val dir = queries.Stage.tempDir("bcf_gt").toString
    spark.sql("""SELECT * FROM VALUES
        ('1', 10L, cast(null as string), 'A', array('T'), 9.0f, 'PASS',
         named_struct('dp', 7), 'GT:GQ', array('0|1:50', '.:.', '1/1:7')),
        ('1', 20L, cast(null as string), 'C', array('G'), 8.5f, 'PASS',
         named_struct('dp', 3), 'GT:GQ', array('0/0:12', '0|0:99', './.:4'))
      AS t(chrom, pos, id, ref, alt, qual, filter, info, format, genotypes)""")
      .write.mode("overwrite").option("contigs", "1")
      .option("formats", "GQ:Integer") // plain df: no genotypes_typed struct to infer from
      .format("bcf").save(dir)
    val back = GraftIO.read_bcf_file_records(spark, dir)
      .selectExpr("pos", "format", "genotypes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).mkString(",")))
      .sortBy(_._1)
    assert(back(0) === ((10L, "GT:GQ", "0|1:50,.:.,1/1:7")))
    assert(back(1) === ((20L, "GT:GQ", "0/0:12,0|0:99,./.:4")))
  }

  test("multi-part write + BGZF byte-range split over our own output") {
    val dir = queries.Stage.tempDir("bcf_split").toString
    val src = spark.range(3000).selectExpr(
      "'1' AS chrom", "id + 1 AS pos",
      "CASE WHEN id % 7 = 0 THEN concat('rs', id) ELSE cast(null as string) END AS id",
      // md5-derived alleles keep the BGZF stream incompressible enough
      // to span several byte-range splits
      "translate(substr(md5(cast(id as string)), 1, 12), '0123456789abcdef', 'ACGTACGTACGTACGT') AS ref",
      "array(substr('ACGT', cast(id % 4 as int) + 1, 1)) AS alt",
      "cast(cast(id % 100 as float) / 2 as float) AS qual",
      "CASE WHEN id % 11 = 0 THEN 'q10' ELSE 'PASS' END AS filter",
      "named_struct('dp', cast(id % 250 as int), 'af', cast(cast(id % 10 as float) / 10 as float)) AS info")
    src.repartition(2).write.mode("overwrite")
      .option("contigs", "1:100000").option("filters", "q10")
      .format("bcf").save(dir)
    val whole = GraftIO.read_bcf_file_records(spark, dir)
    assert(rowsOf(whole) === rowsOf(src))
    val split = GraftIO.read_bcf_file_records(spark, dir,
      Map("maxSplitBytes" -> "8000"))
    assert(split.rdd.getNumPartitions > 2,
      s"expected a fan-out, got ${split.rdd.getNumPartitions} partitions")
    assert(rowsOf(split) === rowsOf(whole))
  }

  test("index=csi on write: region query over our own BCF output prunes via the sidecar") {
    val dir = queries.Stage.tempDir("bcf_csi").toString
    val src = spark.range(5000).selectExpr(
        // two contigs, written sorted: all of c1 then all of c2
        "CASE WHEN id < 2500 THEN 'c1' ELSE 'c2' END AS chrom",
        "(id % 2500) * 40 + 1 AS pos",
        "cast(null as string) AS id", "'AC' AS ref", "array('A') AS alt",
        "cast(id % 30 as float) AS qual", "'PASS' AS filter",
        "named_struct('dp', cast(id % 100 as int)) AS info")
      // range-partition: one part is c1-only, the other c2-only — the
      // c2 part's csi numbers c2 as rid 0 while the embedded header
      // says rid 1, which is exactly the renumbering the
      // name-addressed query must survive
      .repartitionByRange(2, org.apache.spark.sql.functions.col("chrom"),
        org.apache.spark.sql.functions.col("pos"))
      .sortWithinPartitions("chrom", "pos")
    src.write.mode("overwrite")
      .option("contigs", "c1:200000,c2:200000").option("index", "csi")
      .format("bcf").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".bcf.csi")), files.toSeq)
    val all = GraftIO.read_bcf_file_records(spark, dir)
    // c2-only query: exercises the name-addressed path (per-part csi
    // numbering vs the header's contig dictionary)
    val q = GraftIO.bcf_query(spark, dir, "c2:50000-60000")
    val expect = all.where("chrom = 'c2' AND pos BETWEEN 50000 AND 60000")
    assert(rowsOf(q) === rowsOf(expect))
    assert(q.count() === expect.count() && q.count() > 0)
  }

  test("property: 300 random batched regions over a multi-part indexed write == scan + filter") {
    val dir = queries.Stage.tempDir("bcf_prop").toString
    spark.range(8000).selectExpr(
        "CASE WHEN id < 3000 THEN 'c1' WHEN id < 6000 THEN 'c2' ELSE 'c3' END AS chrom",
        "(id % 3000) * 17 + 1 AS pos",
        "cast(null as string) AS id", "'ACG' AS ref", "array('A') AS alt",
        "cast(id % 40 as float) AS qual", "'PASS' AS filter",
        "named_struct('dp', cast(id % 100 as int)) AS info")
      .repartitionByRange(3, org.apache.spark.sql.functions.col("chrom"),
        org.apache.spark.sql.functions.col("pos"))
      .sortWithinPartitions("chrom", "pos")
      .write.mode("overwrite")
      .option("contigs", "c1:60000,c2:60000,c3:60000").option("index", "csi")
      .format("bcf").save(dir)
    val all = GraftIO.read_bcf_file_records(spark, dir)
    // deterministic pseudo-random region soup: overlapping, nested,
    // cross-contig, empty-result regions all occur
    val rng = new scala.util.Random(8)
    val regions = (1 to 300).map { _ =>
      val chr = Seq("c1", "c2", "c3", "cX")(rng.nextInt(4))
      val lo = rng.nextInt(52000) + 1
      val span = rng.nextInt(900)
      s"$chr:$lo-${lo + span}"
    }
    val q = GraftIO.bcf_query(spark, dir, regions)
    val parsed = regions.map { r =>
      val Array(c, se) = r.split(":"); val Array(s0, e0) = se.split("-")
      (c, s0.toLong, e0.toLong)
    }
    val expect = all.where(
      parsed.map { case (c, s0, e0) =>
        s"(chrom = '$c' AND pos BETWEEN $s0 AND $e0)" }.mkString(" OR "))
    assert(rowsOf(q) === rowsOf(expect))
    assert(q.count() > 0, "region soup unexpectedly empty — regenerate the fixture")
  }

  test("missing contigs option and undeclared contig/filter fail loudly") {
    val dir = queries.Stage.tempDir("bcf_err").toString
    val one = spark.sql("""SELECT '9' AS chrom, 5L AS pos,
      cast(null as string) AS id, 'A' AS ref, array('G') AS alt,
      1.0f AS qual, 's50' AS filter, named_struct('dp', 1) AS info""")
    val e1 = intercept[Exception] {
      one.write.mode("overwrite").format("bcf").save(s"$dir/a")
    }
    assert(e1.getMessage != null)
    val e2 = intercept[Exception] { // chrom 9 not declared
      one.write.mode("overwrite").option("contigs", "1")
        .format("bcf").save(s"$dir/b")
    }
    assert(e2.getMessage != null)
    val e3 = intercept[Exception] { // filter s50 not declared
      one.write.mode("overwrite").option("contigs", "9")
        .format("bcf").save(s"$dir/c")
    }
    assert(e3.getMessage != null)
  }

  test("records disagreeing with option(\"samples\") or the first record fail loudly") {
    // a ragged genotypes array would write records whose n_sample
    // disagrees with the header — htslib/bcftools reject such a BCF,
    // and the in-house reader's per-record tolerance must not mask it
    val dir = queries.Stage.tempDir("bcf_ragged").toString
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val src = GraftIO.read_vcf_file_records(spark, s"$F/samples.vcf")
    // explicit declaration: every record checked against option("samples")
    val e1 = intercept[Exception] {
      src.write.mode("overwrite").option("contigs", "1").option("samples", "7")
        .format("bcf").save(s"$dir/a")
    }
    assert(messages(e1).exists(_.contains("option(\"samples\")")), messages(e1).mkString("|"))
    // implicit: later records held to the first record's count
    val maxPos = src.selectExpr("max(pos)").first().getLong(0)
    val ragged = src.withColumn("genotypes",
      org.apache.spark.sql.functions.when(col("pos") === maxPos,
        org.apache.spark.sql.functions.expr("slice(genotypes, 1, size(genotypes) - 1)"))
        .otherwise(col("genotypes")))
    val e2 = intercept[Exception] {
      ragged.repartition(1).write.mode("overwrite").option("contigs", "1")
        .format("bcf").save(s"$dir/b")
    }
    assert(messages(e2).exists(_.contains("disagrees with")), messages(e2).mkString("|"))
    // and the declared count must be consistent with what records carry
    val ok = queries.Stage.tempDir("bcf_ragged_ok").toString
    src.write.mode("overwrite").option("contigs", "1").option("samples", "2")
      .format("bcf").save(ok)
    assert(GraftIO.read_bcf_file_records(spark, ok).count() == src.count())
  }

  test("missing INFO vector elements round-trip as null, not 0, at every width") {
    val dir = queries.Stage.tempDir("bcf_miss").toString
    val src = spark.sql("""SELECT '1' AS chrom, 10L AS pos, cast(null AS string) AS id,
        'A' AS ref, array('C', 'G') AS alt, cast(null AS float) AS qual,
        cast(null AS string) AS filter,
        named_struct('ac', array(1, cast(null AS int)), 'mid', array(cast(null AS int), 1000),
          'big', array(100000, cast(null AS int)),
          'af', array(cast(0.5 AS float), cast(null AS float))) AS info""")
    src.write.mode("overwrite").option("contigs", "1").format("bcf").save(dir)
    val back = GraftIO.read_bcf_file_records(spark, dir)
      .selectExpr("info.ac", "info.mid", "info.big", "info.af").collect()
      .map(r => (0 until 4).map(r.getSeq[Any])).toSeq
    assert(back == Seq(Seq(Seq(1, null), Seq(null, 1000), Seq(100000, null), Seq(0.5f, null))))
  }
}
