package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType

import graft.sources.{BaiIndex, BamFormat, BamFormatter, CsiIndex, FastqFormat, SamFormat,
  TabixIndex, VcfFormat, VcfFormatter}
import graft.sources.core.{Bgzf, BgzfOutputStream, GraftFormat, GraftSplit, TabixIndexBuilder}

/** Single-threaded calls into one layer's public functions, timed from
  * here, so a layer's rate is measured without Spark around it. Used by
  * the traced run only. */
object Probes {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def inflate(path: String): (Array[Byte], Double) = {
    val raw = Files.readAllBytes(new File(path).toPath)
    val t0 = System.nanoTime()
    val plain = Bgzf.inflateAll(raw)
    (plain, secs(t0))
  }

  private def rows(fmt: GraftFormat, path: String, schema: StructType, plain: Array[Byte],
                   spark: SparkSession): Iterator[Array[Any]] = {
    val conf = spark.sessionState.newHadoopConf()
    fmt.read(GraftSplit(path, 0, Long.MaxValue, new File(path).length, conf = conf), schema,
      new ByteArrayInputStream(plain), Map.empty)
  }

  private def vcfSchema(spark: SparkSession, path: String): StructType =
    VcfFormat.schema(Seq(new Path(path)), spark.sessionState.newHadoopConf(), Map.empty)

  /** Records per second of a full parse over already-inflated bytes. */
  private def parseRate(it: => Iterator[Array[Any]]): Double = {
    val t0 = System.nanoTime()
    var n = 0L
    val i = it
    while (i.hasNext) { i.next(); n += 1 }
    n / secs(t0)
  }

  def scan(spark: SparkSession, in: Inputs): Map[String, Double] = {
    var mb, s = 0.0
    def inflated(path: String): Array[Byte] = {
      val (plain, t) = inflate(path)
      mb += plain.length / 1e6; s += t
      plain
    }
    val vcf = parseRate(rows(VcfFormat, in.vcfPath, vcfSchema(spark, in.vcfPath), inflated(in.vcfPath), spark))
    val bam = parseRate(rows(BamFormat, in.bamPath, SamFormat.recordSchema, inflated(in.bamPath), spark))
    val fq = parseRate(rows(FastqFormat, in.fastqPath, FastqFormat.schema(Nil, null, Map.empty),
      inflated(in.fastqPath), spark))
    Map("core.inflate_mb_per_s" -> mb / s, "vcf.parse_rec_per_s" -> vcf,
      "bam.decode_rec_per_s" -> bam, "fastq.parse_rec_per_s" -> fq)
  }

  /** The writer's per-record path taken apart: format each VCF row, push
    * its bytes through BGZF deflate, add it to a tabix builder; then
    * encode each BAM row. Parsing is outside every timed span. */
  def write(spark: SparkSession, in: Inputs): Map[String, Double] = {
    val schema = vcfSchema(spark, in.vcfPath)
    var fmtNs, deflateNs, indexNs = 0L
    var n, bytes = 0L
    val out = new BgzfOutputStream(NullSink)
    val idx = new TabixIndexBuilder()
    rows(VcfFormat, in.vcfPath, schema, inflate(in.vcfPath)._1, spark).foreach { vals =>
      val row = new GenericInternalRow(vals)
      val t0 = System.nanoTime()
      val b = VcfFormatter.formatBytes(row, schema, Map.empty)
      val t1 = System.nanoTime()
      val vb = out.virtualOffset
      out.write(b)
      val ve = out.virtualOffset
      val t2 = System.nanoTime()
      val (chr, beg, end) = VcfFormatter.coordsOf(row, schema)
      idx.add(chr, beg, end, vb, ve)
      val t3 = System.nanoTime()
      fmtNs += t1 - t0; deflateNs += t2 - t1; indexNs += t3 - t2
      n += 1; bytes += b.length
    }
    var t = System.nanoTime()
    out.close()
    deflateNs += System.nanoTime() - t
    t = System.nanoTime()
    idx.finish(new ByteArrayOutputStream())
    indexNs += System.nanoTime() - t

    val refs = Map("refs" -> in.contigSpec)
    var encNs, m = 0L
    rows(BamFormat, in.bamPath, SamFormat.recordSchema, inflate(in.bamPath)._1, spark).foreach { vals =>
      val row = new GenericInternalRow(vals)
      val t0 = System.nanoTime()
      BamFormatter.formatBytes(row, SamFormat.recordSchema, refs)
      encNs += System.nanoTime() - t0
      m += 1
    }
    Map("vcf.format_rec_per_s" -> n / (fmtNs / 1e9), "core.deflate_mb_per_s" -> bytes / 1e6 / (deflateNs / 1e9),
      "index.build_ms" -> indexNs / 1e6, "bam.encode_rec_per_s" -> m / (encNs / 1e9))
  }

  /** Index load time per sidecar, and per-region probe time and chunk
    * count over the workload's own region stream. */
  def index(spark: SparkSession, in: Inputs, regions: Seq[(Int, Long, Long)]): Map[String, Double] = {
    val conf = spark.sessionState.newHadoopConf()
    val bcfParts = new File(in.bcfDir).listFiles().map(_.getAbsolutePath).filter(_.endsWith(".bcf")).toSeq
    val loads = 5
    val t0 = System.nanoTime()
    var tbi, bai: graft.sources.BinnedIndex.Index = null
    var csi: Seq[graft.sources.BinnedIndex.Index] = Nil
    (1 to loads).foreach { _ =>
      tbi = TabixIndex.load(in.vcfPath, conf).get
      bai = BaiIndex.load(in.bamPath, conf).get
      csi = bcfParts.map(CsiIndex.load(_, conf).get)
    }
    val loadMs = (System.nanoTime() - t0) / 1e6 / ((2 + bcfParts.length) * loads)
    var probeNs, chunks, probes = 0L
    regions.foreach { case (c, lo, hi) =>
      val t = System.nanoTime()
      val k = tbi.queryByName(Sizes.Contigs(c), lo - 1, hi).length +
        bai.queryByRid(c, lo - 1, hi).length + csi.map { x =>
          // per-part CSIs written by graft name their references in aux
          if (x.names.nonEmpty) x.queryByName(Sizes.Contigs(c), lo - 1, hi).length
          else x.queryByRid(c, lo - 1, hi).length
        }.sum
      probeNs += System.nanoTime() - t
      chunks += k; probes += 2 + csi.length
    }
    Map("index.load_ms" -> loadMs, "index.probe_us" -> probeNs / 1e3 / probes,
      "index.chunks_per_region" -> chunks.toDouble / probes)
  }
}
