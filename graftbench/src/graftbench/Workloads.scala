package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.CorpusOps

/** What a timed op sees: the session, and the tracer when tracing. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  def collect(df: DataFrame): Array[Row] = {
    tracer.foreach(_.prepare(df))
    df.collect()
  }
  def first(df: DataFrame): Row = collect(df).head
  def one(sql: String): Row = first(spark.sql(sql))
}

/** One call into the library. `run` is timed; `before` (clearing a write
  * target) and `check` (comparison with generator truth) are not.
  * `closes` marks the last op of a request. */
final case class Op(name: String, items: Long, run: Ctx => Any,
                    check: Any => Option[String], before: () => Unit = () => (),
                    closes: Boolean = true)

trait Workload {
  def name: String
  /** What throughput_per_s counts. */
  def item: String
  /** Builds inputs outside any timed region; returns input bytes by file. */
  def prepare(spark: SparkSession): Map[String, Long]
  /** The ops of cycle `i`; every measured run is whole cycles. */
  def cycle(i: Int): Seq[Op]
  def warmCycles: Int = 1
  /** Ops run before timing to warm the JIT, codegen and page cache. */
  def warmOps(i: Int): Seq[Op] = cycle(i)
  /** Direct, single-threaded calls into layer functions (traced run). */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  /** `warm` is a smaller input set of the same shape: its ops take the
    * same code paths as the measured ones at a fraction of the cost. */
  def apply(name: String, main: Inputs, warm: Inputs, seed: Long): Workload = name match {
    case "genomic_io" => new GenomicIo(main, warm)
    case "region_panel" => new RegionPanel(main, seed)
    case "corpus_dedup" => new CorpusDedup(main, warm)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def longs(r: Row): Seq[Long] =
    r.toSeq.map { case n: java.lang.Number => n.longValue; case _ => Long.MinValue }

  def expect(what: String, want: Seq[Long]): Any => Option[String] = got => {
    val g = longs(got.asInstanceOf[Row])
    if (g == want) None else Some(s"$what: got ${g.mkString(",")} want ${want.mkString(",")}")
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

import Workloads._

/** The genomic read and write paths. Reads: full scans of a cohort
  * .vcf.gz, a BAM and a bgzipped FASTQ; projected VCF and BAM scans
  * (their parsers skip unprojected columns; FASTQ's does not, so its
  * full scan is its projected one); the flag, quality and GC functions;
  * a filter-pushed VCF scan (pushed-filter evaluation is one code path
  * for every format). Write: the cohort, staged as parquet, written back
  * as bgzf VCF + tabix. Its output is deleted before each write, outside
  * the timed region; nothing is fsynced. */
final class GenomicIo(main: Inputs, warm: Inputs) extends Workload {
  val name = "genomic_io"
  val item = "records"
  private var spark: SparkSession = _

  def prepare(s: SparkSession): Map[String, Long] = {
    spark = s
    Seq(main, warm).foreach { in =>
      in.parallel(() => in.vcf, () => in.bam, () => in.fastq)
      in.staged(s)
    }
    Map("vcf" -> main.bytes(main.vcfPath), "bam" -> main.bytes(main.bamPath),
      "fastq" -> main.bytes(main.fastqPath), "cohort_parquet" -> main.bytes(main.cohortParquet))
  }

  /** Reads the written files back: every VCF part has its .tbi, and the
    * record sums match the generator's. */
  private def vcfCheck(in: Inputs, out: String)(got: Any): Option[String] = {
    val parts = new File(out).listFiles().map(_.getName).filter(_.endsWith(".vcf.gz"))
    val unindexed = parts.filterNot(p => new File(out, p + ".tbi").exists())
    if (parts.isEmpty || unindexed.nonEmpty) return Some(s"write_vcf: parts without .tbi: ${unindexed.mkString(",")}")
    val v = in.vcf
    expect("write_vcf", Seq(v.full(0), v.full(1), v.full(14)))(spark.sql(
      s"SELECT count(*), sum(pos), sum(aggregate(genotypes_typed, 0L, (a, g) -> a + coalesce(g.gq, 0))) " +
        s"FROM read_vcf_file_records('$out')").head)
  }

  private def write(in: Inputs): Op = {
    val out = new File(in.outDir, s"cohort_vcf_${in.dir.getName}").getAbsolutePath
    Op("write_vcf", in.vcfRecords, c => c.spark.read.parquet(in.cohortParquet).write
      .format("vcf").option("compression", "bgzf").option("index", "tabix")
      .mode("overwrite").save(out), vcfCheck(in, out), () => rmrf(new File(out)))
  }

  private val GcSum = "sum(cast(round(cast(gc_content(sequence) as double) * length(sequence)) as bigint))"
  private def phred(col: String) = s"sum(aggregate(quality_score_string_to_list($col), 0L, (a, q) -> a + q))"

  private def op(name: String, n: Long, sql: String, want: Seq[Long]) =
    Op(name, n, _.one(sql), expect(name, want))

  private def ops(in: Inputs): Seq[Op] = {
    val vcf = s"read_vcf_file_records('${in.vcfPath}')"
    val bam = s"read_bam_file_records('${in.bamPath}')"
    val fq = s"read_fastq('${in.fastqPath}')"
    val (v, b, f) = (in.vcf, in.bam, in.fastq)
    Seq(
      op("vcf_full", in.vcfRecords, "SELECT count(*), sum(pos), count(id), sum(length(ref)), " +
        "sum(size(alt)), sum(cast(qual as bigint)), count(qual), count_if(filter = 'PASS'), " +
        "count(filter), sum(info.dp), count_if(info.db), sum(size(info.af)), sum(length(format)), " +
        "sum(aggregate(genotypes, 0L, (a, g) -> a + length(g))), " +
        "sum(aggregate(genotypes_typed, 0L, (a, g) -> a + coalesce(g.gq, 0))), " +
        s"sum(aggregate(genotypes_typed, 0L, (a, g) -> a + coalesce(g.dp, 0))) FROM $vcf", v.full),
      op("vcf_projected", in.vcfRecords,
        s"SELECT count(*), sum(pos), sum(length(ref)), sum(size(alt)) FROM $vcf", v.proj),
      op("vcf_filtered", in.vcfRecords, s"SELECT count(*), sum(pos) FROM $vcf WHERE qual >= 50", v.filt),
      op("bam_full", in.reads, "SELECT count(*), sum(flag), sum(start), sum(`end`), " +
        "sum(cast(mapping_quality as int)), count(mapping_quality), sum(length(cigar)), " +
        "count(mate_reference), sum(length(sequence)), sum(length(quality_score)), " +
        s"sum(length(name)) FROM $bam", b.full),
      op("bam_functions", in.reads, "SELECT count(*), count_if(is_reverse_complemented(flag)), " +
        "count_if(is_duplicate(flag)), count_if(is_segmented(flag)), count_if(is_first_segment(flag)), " +
        "count_if(is_secondary(flag)), count_if(is_quality_control_failed(flag)), " +
        s"${phred("quality_score")}, $GcSum FROM $bam", b.fn),
      op("bam_projected", in.reads, "SELECT count(*), sum(flag), sum(length(sequence)), " +
        s"sum(length(quality_score)) FROM $bam", b.proj),
      op("fastq_full", in.fastqReads, "SELECT count(*), sum(length(name)), count(description), " +
        s"sum(length(sequence)), sum(length(quality_scores)) FROM $fq", f.full),
      op("fastq_functions", in.fastqReads,
        s"SELECT count(*), $GcSum, ${phred("quality_scores")} FROM $fq", f.fn),
      write(in))
  }

  def cycle(i: Int): Seq[Op] = ops(main)
  override def warmOps(i: Int): Seq[Op] = ops(warm)
  override def probes(spark: SparkSession): Map[String, Double] =
    Probes.scan(spark, main) ++ Probes.write(spark, main)
}

/** A seeded stream of indexed region reads: single-region vcf/bcf/bam
  * queries with log-uniform widths, gene-panel lists, and WHERE
  * chrom/pos pruning through the index. Each op is one query. A cycle
  * has seven kinds, so the median falls inside one kind's latencies
  * rather than on the edge between two. */
final class RegionPanel(in: Inputs, seed: Long) extends Workload {
  val name = "region_panel"
  val item = "queries"
  override def warmCycles = 8
  private lazy val v: VcfTruth = in.vcf
  private lazy val b: BamTruth = in.bam
  val PanelSize = 20

  def prepare(spark: SparkSession): Map[String, Long] = {
    in.parallel(() => in.vcf, () => in.bam)
    in.bcf(spark)
    Map("vcf" -> in.bytes(in.vcfPath), "bam" -> in.bytes(in.bamPath), "bcf" -> in.bytes(in.bcfDir))
  }

  /** (contig, lo, hi) with width 10^(minExp + spanExp * u). For each
    * query slot, u walks a golden-ratio sequence from a seeded start, so
    * every run covers the width range evenly (log-uniform) and runs differ
    * in placement. */
  private val u0 = new SplittableRandom(seed).nextDouble()
  def region(r: SplittableRandom, slot: Int, n: Int, minExp: Double, spanExp: Double): (Int, Long, Long) = {
    val u = (u0 + slot * 0.1357 + n * 0.6180339887498949) % 1.0
    val w = math.pow(10, minExp + spanExp * u).toLong
    val lo = 1 + (r.nextDouble() * (Sizes.ContigLen - w)).toLong
    (r.nextInt(Sizes.Contigs.length), lo, lo + w - 1)
  }
  private def spec(x: (Int, Long, Long)) = s"${Sizes.Contigs(x._1)}:${x._2}-${x._3}"

  private def vcfRows(want: Seq[(String, Long)]): Any => Option[String] = got => {
    val rows = got.asInstanceOf[Array[Row]]
    val g = rows.map(r => (r.getAs[String]("chrom"), r.getAs[Long]("pos"))).sorted.toSeq
    if (g == want) None else Some(s"region rows: got ${g.length} want ${want.length}")
  }
  private def vcfWant(rs: Seq[(Int, Long, Long)]): Seq[(String, Long)] =
    rs.flatMap(x => v.positions(x._1, x._2, x._3).map(p => (Sizes.Contigs(x._1), p))).distinct.sorted
  private def bamRows(rs: Seq[(Int, Long, Long)]): Any => Option[String] = got => {
    val g = got.asInstanceOf[Array[Row]].map(_.getAs[String]("name").substring(1).toInt).sorted.toSeq
    val want = rs.flatMap(x => b.overlapping(x._1, x._2, x._3)).distinct.sorted
    if (g == want) None else Some(s"bam region reads: got ${g.length} want ${want.length}")
  }

  /** The regions of cycle `i`: single regions 10^2..10^6 bp wide, gene
    * panels of 20 regions 10^2.5..10^4 bp wide. */
  def regions(i: Int): Seq[Seq[(Int, Long, Long)]] = {
    val r = new SplittableRandom(seed * 7919L + i)
    def single(slot: Int) = Seq(region(r, slot, i, 2, 4))
    def panel(slot: Int) = (0 until PanelSize).map(j => region(r, slot, i * PanelSize + j, 2.5, 1.5))
    Seq(single(0), single(1), single(2), panel(3), panel(4), panel(5), single(6))
  }

  def cycle(i: Int): Seq[Op] = {
    val Seq(a, bc, bm, vp, bp, cp, wh) = regions(i)
    def q(fn: String, path: String, rs: Seq[(Int, Long, Long)]) =
      s"SELECT * FROM $fn('$path', ${rs.map(x => s"'${spec(x)}'").mkString(", ")})"
    val (wc, wlo, whi) = wh.head
    Seq(
      Op("vcf_query", 1, c => c.collect(c.spark.sql(q("vcf_query", in.vcfPath, a))), vcfRows(vcfWant(a))),
      Op("bcf_query", 1, c => c.collect(c.spark.sql(q("bcf_query", in.bcfDir, bc))), vcfRows(vcfWant(bc))),
      Op("bam_query", 1, c => c.collect(c.spark.sql(q("bam_query", in.bamPath, bm))), bamRows(bm)),
      Op("vcf_panel", 1, c => c.collect(c.spark.sql(q("vcf_query", in.vcfPath, vp))), vcfRows(vcfWant(vp))),
      Op("bam_panel", 1, c => c.collect(c.spark.sql(q("bam_query", in.bamPath, bp))), bamRows(bp)),
      Op("bcf_panel", 1, c => c.collect(c.spark.sql(q("bcf_query", in.bcfDir, cp))), vcfRows(vcfWant(cp))),
      Op("vcf_where", 1, c => c.collect(c.spark.sql(s"SELECT * FROM read_vcf_file_records('${in.vcfPath}') " +
        s"WHERE chrom = '${Sizes.Contigs(wc)}' AND pos BETWEEN $wlo AND $whi")), vcfRows(vcfWant(wh))))
  }

  override def probes(spark: SparkSession): Map[String, Double] =
    Probes.index(spark, in, (0 until 50).flatMap(regions).flatten)
}

/** nearDupPairs -> connectedComponents -> canonicalPerCluster ->
  * semanticDedup over a corpus with planted near-duplicate clusters and
  * planted embedding duplicates. One request is the whole pipeline. */
final class CorpusDedup(main: Inputs, warm: Inputs) extends Workload {
  val name = "corpus_dedup"
  val item = "docs"
  private var pairs: DataFrame = _
  private val truths = scala.collection.mutable.Map.empty[Inputs, CorpusTruth]
  /** Output counts of the last request, recorded where the work happens. */
  var counters = Map.empty[String, Double]

  def prepare(spark: SparkSession): Map[String, Long] = {
    Seq(main, warm).foreach(in => truths(in) = in.corpus(spark))
    Map("docs_parquet" -> main.bytes(main.docsParquet), "vecs_parquet" -> main.bytes(main.vecsParquet))
  }

  private def ops(in: Inputs): Seq[Op] = {
    val t = truths(in)
    def docs(c: Ctx) = c.spark.read.parquet(in.docsParquet)
    Seq(
      Op("near_dup", in.docs, { c =>
        pairs = CorpusOps.nearDupPairs(docs(c), "doc_id", "text").select("id_a", "id_b").localCheckpoint()
        pairs
      }, { got =>
        val g = got.asInstanceOf[DataFrame].collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        counters += "dedup.verified_pairs" -> g.length.toDouble
        if (g == t.pairs) None else Some(s"near_dup pairs: got ${g.length} want ${t.pairs.length}")
      }, closes = false),
      Op("components", 0, c => c.first(CorpusOps.connectedComponents(pairs)
        .selectExpr("count(*)", "count(DISTINCT label)", "sum(label)")), { got =>
        counters += "dedup.components" -> longs(got.asInstanceOf[Row])(1).toDouble
        expect("components", t.cc)(got)
      }, closes = false),
      Op("canonical", 0, c => c.first(CorpusOps.canonicalPerCluster(docs(c), pairs, "quality", "doc_id")
        .selectExpr("count(*)", "sum(doc_id)")), expect("canonical", t.kept), closes = false),
      Op("semantic", 0, c => c.first(CorpusOps.semanticDedup(c.spark.read.parquet(in.vecsParquet),
        "vec_id", "embedding", Sizes.Cells, 0.9).selectExpr("count(*)", "sum(vec_id)")),
        expect("semantic", t.semantic)))
  }

  def cycle(i: Int): Seq[Op] = ops(main)
  override def warmOps(i: Int): Seq[Op] = ops(warm)
}
