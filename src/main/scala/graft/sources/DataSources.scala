package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.core._

/** All registered formats. */
object Formats {
  def all: Seq[GraftFormat] =
    Seq(FastaFormat, FastqFormat, GffFormat, GtfFormat, BedFormat, SamFormat,
      HmmDomTabFormat, VcfFormat, GenBankFormat, MzmlFormat, BamFormat, BcfFormat,
      WarcFormat, ChainFormat, WigFormat, PafFormat, GfaFormat, StockholmFormat,
      MafFormat, EmblFormat, PhylipFormat, BedpeFormat, Blast6Format,
      BedGraphFormat, PdbFormat, FamFormat)

  def byName(name: String): GraftFormat =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown graft format '$name'"))

  /** Bare-path dispatch set: the reference's replacement scan handles
    * FASTA/FASTQ/GFF/SAM/BAM/VCF/BCF/GenBank/HMM/mzML but NOT BED or GTF
    * (arrow_table_function/module.cpp:336-379) — replicated exactly;
    * WARC (beyond the reference, `.warc` only) joins the dispatchable
    * set since its extension collides with nothing upstream. */
  def autoDispatch: Seq[GraftFormat] = all.filterNot(f => f.name == "bed" || f.name == "gtf")

  def forPath(path: String, options: Map[String, String]): GraftFormat = {
    val (_, stripped) = Compression.of(path, options)
    val ext = stripped.substring(stripped.lastIndexOf('.') + 1).toLowerCase
    autoDispatch.find(_.extensions.contains(ext)).getOrElse(
      throw new IllegalArgumentException(
        s"cannot infer a graft format from '$path' (extension '$ext')"))
  }
}

// One DataSourceRegister per format => spark.read.format("fasta") etc.
class FastaDataSource extends GraftDataSource(FastaFormat)
class FastqDataSource extends GraftDataSource(FastqFormat)
class GffDataSource extends GraftDataSource(GffFormat)
class GtfDataSource extends GraftDataSource(GtfFormat)
class BedDataSource extends GraftDataSource(BedFormat)
class SamDataSource extends GraftDataSource(SamFormat)
class HmmDomTabDataSource extends GraftDataSource(HmmDomTabFormat)
class VcfDataSource extends GraftDataSource(VcfFormat)
class GenBankDataSource extends GraftDataSource(GenBankFormat)
class MzmlDataSource extends GraftDataSource(MzmlFormat)
class BamDataSource extends GraftDataSource(BamFormat)
class BcfDataSource extends GraftDataSource(BcfFormat)
class WarcDataSource extends GraftDataSource(WarcFormat)
class ChainDataSource extends GraftDataSource(ChainFormat)
class WigDataSource extends GraftDataSource(WigFormat)
class PafDataSource extends GraftDataSource(PafFormat)
class GfaDataSource extends GraftDataSource(GfaFormat)
class StockholmDataSource extends GraftDataSource(StockholmFormat)
class MafDataSource extends GraftDataSource(MafFormat)
class EmblDataSource extends GraftDataSource(EmblFormat)
class PhylipDataSource extends GraftDataSource(PhylipFormat)
class BedpeDataSource extends GraftDataSource(BedpeFormat)
class Blast6DataSource extends GraftDataSource(Blast6Format)
class BedGraphDataSource extends GraftDataSource(BedGraphFormat)
class PdbDataSource extends GraftDataSource(PdbFormat)
class FamDataSource extends GraftDataSource(FamFormat)

/** The bare-path provider: `spark.read.format("exon").load(path)`
  * dispatches on the file extension (compression suffix stripped), the
  * Spark analog of the reference's replacement scan (SURVEY.md §3.2). */
class ExonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "exon"
  override def supportsExternalMetadata(): Boolean = true

  private def delegate(options: CaseInsensitiveStringMap): GraftDataSource = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("format 'exon' requires a path"))
    val fmt = Formats.forPath(path, options.asCaseSensitiveMap().asScala.toMap)
    new GraftDataSource(fmt) {}
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    delegate(options).inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("format 'exon' requires a path"))
    GraftTable(Formats.forPath(path, props), schema, props)
  }
}

/** Scala convenience API mirroring the reference's table functions. */
object GraftIO {
  private def rd(spark: SparkSession, fmt: String, path: String,
                 options: Map[String, String]): DataFrame =
    spark.read.format(fmt).options(options).load(path)

  def read_fasta(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "fasta", path, options)
  def read_fastq(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "fastq", path, options)
  def read_gff(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "gff", path, options)
  def read_gtf(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "gtf", path, options)
  def read_bed_file(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "bed", path, options)
  def read_sam_file_records(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "sam", path, options)
  def read_hmm_dom_tbl_out(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "hmmdomtab", path, options)
  def read_vcf_file_records(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "vcf", path, options)
  def read_genbank(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "genbank", path, options)
  /** EMBL/ENA flat files (GenBank-schema-compatible; beyond the reference). */
  def read_embl(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "embl", path, options)
  def read_chain_file(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "chain", path, options)
  def read_mzml(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "mzml", path, options)
  def read_bam_file_records(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "bam", path, options)
  def read_bcf_file_records(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "bcf", path, options)
  def bcf_query(s: SparkSession, path: String, region: String): DataFrame = rd(s, "bcf", path, Map("region" -> region))
  /** Indexed-region query analogs: .tbi/.csi/.bai-driven chunk pruning
    * when the index exists, full scan + region filter otherwise. The
    * Seq overloads take a batched region LIST (a gene panel) — results
    * are the UNION of the regions, each matching record once; the index
    * is loaded once and the pruned chunks are coalesced into a minimal
    * partition set (see [[core.Regions]]). */
  def vcf_query(s: SparkSession, path: String, region: String): DataFrame = rd(s, "vcf", path, Map("region" -> region))
  def bam_query(s: SparkSession, path: String, region: String): DataFrame = rd(s, "bam", path, Map("region" -> region))
  def vcf_query(s: SparkSession, path: String, regions: Seq[String]): DataFrame = rd(s, "vcf", path, Map("regions" -> regionSpec(regions)))
  def bam_query(s: SparkSession, path: String, regions: Seq[String]): DataFrame = rd(s, "bam", path, Map("regions" -> regionSpec(regions)))
  def bcf_query(s: SparkSession, path: String, regions: Seq[String]): DataFrame = rd(s, "bcf", path, Map("regions" -> regionSpec(regions)))

  /** Validated ';' join for a region batch — shared with the SQL TVFs
    * so both surfaces reject list delimiters inside a region up front
    * instead of silently re-splitting it. */
  private[sources] def regionSpec(regions: Seq[String]): String = {
    require(regions.nonEmpty, "region-batch query: no regions given")
    regions.foreach(r => require(!r.exists(c => c == ';' || c.isWhitespace),
      s"region '$r' contains a list delimiter"))
    regions.mkString(";")
  }
  /** WARC web-archive records (beyond the reference; LLM-corpus ingest). */
  def read_warc(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "warc", path, options)
  /** UCSC wiggle coverage tracks (beyond the reference). */
  def read_wig(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "wig", path, options)
  /** minimap2 PAF pairwise alignments (beyond the reference). */
  def read_paf(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "paf", path, options)
  /** GFA 1.0 assembly graphs (beyond the reference). */
  def read_gfa(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "gfa", path, options)
  /** MAF multiple-genome alignment blocks (beyond the reference). */
  def read_maf(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "maf", path, options)
  /** Stockholm multiple sequence alignments (beyond the reference). */
  def read_stockholm(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "stockholm", path, options)
  /** PHYLIP multiple sequence alignments (beyond the reference);
    * `layout` option selects interleaved (default) or sequential. */
  def read_phylip(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "phylip", path, options)
  def read_pdb(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "pdb", path, options)
  def read_fam(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "fam", path, options)
  /** BEDPE paired intervals (beyond the reference; SV callsets). */
  def read_bedpe(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "bedpe", path, options)
  /** BLAST -outfmt 6/7 tabular hits (beyond the reference). */
  def read_blast6(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "blast6", path, options)
  /** UCSC bedGraph coverage tracks (beyond the reference). */
  def read_bedgraph(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "bedgraph", path, options)

  /** Random-access FASTA subsequence fetch — samtools-faidx semantics
    * over a `.fai` sidecar ([[Faidx]]; built on first use when
    * missing). Regions are 'name' or 'name:lo-hi' (1-based inclusive,
    * clamped); unknown names yield no row (provably empty, the
    * indexed-query convention here). Fetches run EXECUTOR-side, one
    * task batch per region partition, each reading only its region's
    * byte span — so a million loci against a 3 GB reference is a
    * distributed point-read workload, not a million file scans. */
  def fasta_query(s: SparkSession, path: String, regions: Seq[String]): DataFrame =
    fetchRegions[Faidx.Entry](s, "fasta_query", regions)(
      conf => Faidx.load(path, conf).getOrElse(Faidx.build(path, conf)).map(e => e.name -> e),
      _.length, (conf, e, lo, hi) => Faidx.fetch(path, conf, e, lo, hi))

  /** The region-fetch body [[fasta_query]] and [[twobit_query]] share:
    * the named entries broadcast, the regions spread over at most 32
    * tasks, and each region clamped to [1, entry length] before its
    * fetch. */
  private def fetchRegions[E](s: SparkSession, op: String,
      regions: Seq[String])(index: Configuration => Seq[(String, E)], length: E => Long,
      fetch: (Configuration, E, Long, Long) => String): DataFrame = {
    require(regions.nonEmpty, s"$op: no regions given")
    val bconf = GraftConf.broadcast(s)
    val byName = s.sparkContext.broadcast(index(bconf.value.value).toMap)
    import s.implicits._
    s.createDataset(regions)
      .repartition(math.min(regions.size, 32))
      .flatMap { r =>
        val (name, lo, hi) = Regions.parse(r)
        byName.value.get(name).map { e =>
          val lo2 = math.max(lo, 1L)
          val hi2 = math.min(hi, length(e))
          (name, lo2, hi2, fetch(bconf.value.value, e, lo2, hi2))
        }
      }
      .toDF("name", "start", "end", "sequence")
  }

  /** UCSC .2bit packed-genome scan: one row per sequence, parallelized
    * BY SEQUENCE — the driver loads only the block-table index
    * ([[TwoBit.index]]), and each task point-reads its own sequence's
    * packed bytes. `mask=false` returns everything uppercase. */
  def read_twobit(s: SparkSession, path: String, mask: Boolean = true): DataFrame = {
    val bconf = GraftConf.broadcast(s)
    val entries = TwoBit.index(path, bconf.value.value)
    import s.implicits._
    s.createDataset(entries.map(_.name))
      .repartition(math.min(math.max(entries.size, 1), 32))
      .map { name =>
        val e = entries.find(_.name == name).get
        (name, e.dnaSize, TwoBit.fetch(path, bconf.value.value, e, 1L, e.dnaSize, mask))
      }
      .toDF("name", "length", "sequence")
  }

  /** Random-access .2bit subsequence fetch — the twoBitToFa analog of
    * [[GraftIO.fasta_query]]: same region grammar ('name' or
    * 'name:lo-hi', 1-based inclusive, clamped; unknown names yield no
    * row), same distributed point-read shape (the index broadcasts,
    * each task seeks only its regions' byte spans). */
  def twobit_query(s: SparkSession, path: String, regions: Seq[String],
                   mask: Boolean = true): DataFrame =
    fetchRegions[TwoBit.Entry](s, "twobit_query", regions)(
      conf => TwoBit.index(path, conf).map(e => e.name -> e),
      _.dnaSize, (conf, e, lo, hi) => TwoBit.fetch(path, conf, e, lo, hi, mask))

  /** Bare-path auto-dispatch (replacement scan analog). */
  def read_auto(s: SparkSession, path: String, options: Map[String, String] = Map.empty): DataFrame = rd(s, "exon", path, options)

  /** COPY ... TO STDOUT analog (the reference's commented
    * test_fasta_copy.test stdout cases): each row's byte rendering
    * decoded as UTF-8, one element per record, trailing record
    * terminator stripped. Binary formats (those with a forced codec)
    * are refused here, not at the first collect. Distributed — the
    * caller decides whether to collect/show (the stdout part) or write
    * elsewhere. */
  def render_text(df: DataFrame, format: String): org.apache.spark.sql.Dataset[String] = {
    val fmt = Formats.byName(format).formatter.getOrElse(
      throw new UnsupportedOperationException(s"format '$format' has no text rendering"))
    require(fmt.writeForcedCodec.isEmpty, s"format '$format' is binary; render_text needs a text format")
    val schema = df.schema
    val rendered = df.queryExecution.toRdd.mapPartitions(_.map(row =>
      new String(fmt.formatBytes(row, schema, Map.empty), "UTF-8").stripLineEnd))
    df.sparkSession.createDataset(rendered)(org.apache.spark.sql.Encoders.STRING)
  }
}
