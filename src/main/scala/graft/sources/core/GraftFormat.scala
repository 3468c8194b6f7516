package graft.sources.core

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.types.StructType

/** One genomic file format (SURVEY.md §2.A). A format contributes its
  * schema (static for most; VCF infers from the file header) and a
  * full-schema record iterator over one split of one file.
  *
  * The Spark analog of the reference's single generic Arrow-stream scan
  * (exon/src/exon/arrow_table_function/module.cpp): here the "bind" is
  * TableProvider.inferSchema, the "scan" is a DSv2 Batch whose
  * InputPartitions are files (or byte ranges of splittable files), and
  * the parser runs inside executors.
  */
trait GraftFormat extends Serializable {
  def name: String

  /** Extensions (without compression suffix) this format claims, for the
    * bare-path auto-dispatch provider. */
  def extensions: Seq[String]

  /** Whether uncompressed files can be read by byte range. Line-oriented
    * formats sync to the next newline (Hadoop LineRecordReader protocol);
    * FASTA additionally syncs to the next '>' header. At 100 TB this is
    * the difference between one task per file and one task per 128 MB.
    */
  def splittable: Boolean = false

  /** Whether BGZF-compressed files of this format can be read by
    * compressed byte range (tasks sync to the next BGZF block header;
    * line formats then apply the anchor-voff line protocol, BAM uses a
    * record-start guesser). Defaults to the text splittability — BGZF is
    * block-addressable by design, so a bgzipped file of a splittable
    * format stays splittable. Without this, one large .bam / .vcf.gz is
    * a single task: the first wall a 100 TB user hits. */
  def bgzfSplittable: Boolean = splittable

  /** Codec forced by the format itself regardless of extension (BAM is
    * always BGZF = concatenated gzip members). */
  def forcedCodec: Option[String] = None

  /** Writer support (None = read-only format). */
  def formatter: Option[RecordFormatter] = None

  /** Index-driven fast path: when a scan's regions (a region option,
    * a batched region LIST — see [[Regions]] — or regions inferred from
    * pushed filters) can be served from a sibling index file
    * (.tbi/.bai/.csi), return the merged BGZF virtual-offset chunks to
    * scan; None = full scan. Implementations load the index and any
    * header dictionary ONCE and probe it per region
    * ([[graft.sources.BinnedIndex.Index.chunksFor]]) — a thousand-region
    * panel must not mean a thousand index loads. The scan's region row
    * test (see [[Coordinates]]) reads the same regions and is applied
    * to chunk rows too, so an index can only prune I/O, never change
    * results. */
  def regionChunks(path: String, regions: Seq[Regions.Region],
                   conf: org.apache.hadoop.conf.Configuration): Option[Seq[(Long, Long)]] = None

  /** The columns that place a record on the genome, or None for a
    * format whose records have no position (FASTQ, SAM text, ...). One
    * declaration serves both sources of a scan's regions: the
    * `region`/`regions` options and regions inferred from pushed
    * filters (see [[Coordinates]]). */
  def coordinates: Option[Coordinates] = None

  /** Schema; `paths` lets header-driven formats (VCF) peek at a file. */
  def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType

  /** Parse one (decompressed for non-splittable; raw-seekable for
    * splittable) split into full-schema rows of Catalyst values
    * (UTF8String / primitives / ArrayData / MapData). */
  def read(split: GraftSplit, schema: StructType, stream: InputStream,
           options: Map[String, String]): Iterator[Array[Any]]
}

/** Where a format's records sit on the genome: the contig, start and
  * end columns of its full schema, 1-based inclusive unless
  * `zeroBasedStart` (PAF keeps its on-disk 0-based half-open target
  * span; a 0-based start s is the 1-based s + 1, and a half-open end is
  * already the inclusive last base). Point formats (VCF, BCF) name
  * `pos` as both start and end.
  *
  * Row test ([[matches]]): the record overlaps a region. A null contig
  * never matches, a null start only a region bounding no position
  * ([[Regions.Matcher.holdsUnplaced]]); a null end, or an end before the
  * start (a BAM read whose CIGAR consumes no reference, such as `10S`),
  * matches as the point at start — the one base htslib's `bam_endpos`
  * gives such a record.
  *
  * Filter inference: `WHERE contig = '1' AND start BETWEEN a AND b`
  * gives the scan the regions a `region` option would — declarative
  * predicates become index pruning the way parquet predicates become
  * partition pruning, and the same regions become the scan's row test
  * (see [[Regions.fromFilters]]). Soundness for every format, point- or
  * interval-anchored: a record whose START lies in [lo, hi] OVERLAPS
  * [lo, hi] (its end is at or after its start, or reads as the point at
  * start), and the binning index returns every record overlapping the
  * query region — so neither the pruned chunk set nor the row test
  * drops a row the filters accept, and Spark re-applies the filters
  * above the scan. Filters on the end column are ignored (less pruning,
  * never less data). */
final case class Coordinates(contig: String, start: String, end: String,
                             zeroBasedStart: Boolean = false) {

  /** Row test over full-schema rows of `schema` for one scan's regions. */
  def matches(schema: StructType, regions: Regions.Matcher): Array[Any] => Boolean = {
    val (c, s, e) = (schema.fieldIndex(contig), schema.fieldIndex(start), schema.fieldIndex(end))
    val shift = if (zeroBasedStart) 1L else 0L
    vals => vals(c) != null && {
      val chr = vals(c).toString
      if (vals(s) == null) regions.holdsUnplaced(chr)
      else {
        val lo = vals(s).asInstanceOf[Long] + shift
        regions.overlaps(chr, lo,
          if (vals(e) == null) lo else math.max(vals(e).asInstanceOf[Long], lo))
      }
    }
  }

  /** Regions implied by pushed filters. */
  def regionsFrom(filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Seq[Regions.Region]] =
    Regions.fromFilters(filters, contig, start, if (zeroBasedStart) 1L else 0L)
}

/** One unit of parallel work: a file, a byte range of one, or a group
  * of index-resolved BGZF chunks (`bgzfChunk`: one decompressed stream
  * over the chunks in file order, starting at a record boundary; binary
  * formats that need their file header re-read it separately, once per
  * partition — see BamFormat). `conf` is the executor's
  * view of the session Hadoop configuration (broadcast with the scan
  * factory), so header re-reads hit the same filesystem/credentials as
  * the main stream — a bare `new Configuration()` would drop
  * spark.hadoop.* settings on a real cluster. Constructed executor-side;
  * never serialized. */
final case class GraftSplit(path: String, start: Long, end: Long, fileLen: Long,
                            bgzfChunk: Boolean = false,
                            bgzfSplit: Boolean = false,
                            conf: Configuration = new Configuration(),
                            neededCols: Option[Set[String]] = None) {
  /** Runtime column-needs from Catalyst's pruning (projection and
    * post-scan filter columns, plus the declared coordinates when the
    * scan has regions). Parsers still emit full-schema rows — ordinals
    * must not shift — but may SKIP THE WORK of materializing expensive
    * unneeded columns (VCF info struct / genotype strings, BAM
    * sequence/quality decode): declared pruning in ReadSchema is only
    * half the win when parse CPU dominates a 100 TB scan. None = all. */
  def needs(col: String): Boolean = neededCols.forall(_.contains(col))
}

object Compression {
  /** (codec, pathWithoutCompressionSuffix); codec from the final
    * extension unless forced via the `compression` option — mirrors the
    * reference's auto-detect + named-parameter override
    * (rust/src/arrow_reader.rs:60-91). */
  def of(path: String, options: Map[String, String]): (String, String) = {
    val forced = options.get("compression").map(_.toLowerCase)
    val lower = path.toLowerCase
    val (auto, stripped) =
      if (lower.endsWith(".gz")) ("gzip", path.dropRight(3))
      else if (lower.endsWith(".gzip")) ("gzip", path.dropRight(5))
      else if (lower.endsWith(".zst")) ("zstd", path.dropRight(4))
      else if (lower.endsWith(".zstd")) ("zstd", path.dropRight(5))
      else ("none", path)
    forced match {
      case Some("auto") | None => (auto, stripped)
      case Some(c)             => (c, stripped)
    }
  }

  def wrap(in: InputStream, codec: String): InputStream = codec match {
    case "none" => in
    case "gzip" | "bgzf" =>
      // Multi-member aware (BGZF = concatenated gzip members).
      new MultiMemberGzipInputStream(in)
    case "zstd" => new com.github.luben.zstd.ZstdInputStream(in)
    case other  => throw new IllegalArgumentException(s"unknown compression '$other'")
  }
}

/** java.util.zip.GZIPInputStream stops at the first member boundary for
  * some stream shapes; this wrapper keeps reading members until true EOF,
  * which BGZF (BAM/bgzipped VCF) requires.
  *
  * Leftover recovery: when the JDK gives up on member concatenation
  * (inflater remaining <= 26 and available() == 0), up to 18 read-ahead
  * bytes of the NEXT member are still sitting in the inflater's buffer
  * after the 8-byte trailer. Losing them makes the next member's header
  * unreadable, so they are pushed back onto the source before the next
  * GZIPInputStream is constructed. */
final class MultiMemberGzipInputStream(raw: InputStream) extends InputStream {
  // pushback capacity = the inflater buffer size: on truncated/garbage
  // trailing data the JDK's own concatenation attempt can leave up to a
  // full buffer (not just 26 bytes) unconsumed, and an undersized
  // pushback would turn that into an opaque "Push back buffer is full"
  private val pushback = new java.io.PushbackInputStream(
    new java.io.BufferedInputStream(raw, 1 << 16), 1 << 16)

  /** Exposes the inflater's unconsumed bytes at member end. readTrailer
    * consumes the 8-byte trailer logically but does not advance the
    * inflater, so bytes past the first 8 belong to the next member. */
  private final class MemberStream extends java.util.zip.GZIPInputStream(pushback, 1 << 16) {
    def leftoverAfterTrailer: Array[Byte] = {
      val n = inf.getRemaining
      if (n <= 8) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(buf, len - n + 8, len)
    }
  }

  private var gz = new MemberStream
  private var eof = false

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (eof) return -1
    var n = gz.read(b, off, len)
    while (n < 0 && !eof) {
      // member finished; recover read-ahead, then check for another member
      val left = gz.leftoverAfterTrailer
      if (left.nonEmpty) pushback.unread(left)
      val probe = pushback.read()
      if (probe < 0) eof = true
      else {
        pushback.unread(probe)
        gz = new MemberStream
        n = gz.read(b, off, len)
      }
    }
    if (eof) -1 else n
  }

  override def close(): Unit = { gz.close(); raw.close() }
}

object GraftFiles {
  /** Path specs from DSv2 options: `path` (single) and/or `paths`
    * (DataFrameReader.load(paths: _*) encodes a JSON string array with
    * Jackson; decode it with Jackson too, so commas, quotes and
    * backslashes inside a path survive). */
  def pathSpecs(options: Map[String, String]): Seq[String] = {
    val single = options.get("path").toSeq
    val multi = options.get("paths").toSeq.flatMap { json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq.filter(_.nonEmpty)
    }
    single ++ multi
  }

  /** Index sidecars (.tbi/.csi/.bai/...) live next to the data they
    * index — including ones this library's own writers emit — and are
    * never themselves records. */
  private def isIndexSidecar(name: String): Boolean = {
    val l = name.toLowerCase
    l.endsWith(".tbi") || l.endsWith(".csi") || l.endsWith(".bai") ||
      l.endsWith(".crai") || l.endsWith(".fai") || l.endsWith(".gzi")
  }

  /** Expand a path/glob/directory into concrete files (mirrors the
    * reference's directory-scan support, test_fasta_scan.test "Test
    * glob"). Runs on the driver at plan time.
    *
    * Directories are walked with `listStatus`, never descending into a
    * hidden (`.`/`_`) entry: files inside `_temporary/<id>/` (the
    * writers' staging namespace) have plain names, and a scan racing an
    * in-flight write must never read them as data. `listStatus` rather
    * than `listFiles`: the latter builds a LocatedFileStatus per file,
    * which loads its permissions — on a local filesystem without native
    * Hadoop, one forked shell command per file, on every listing of a
    * part directory. Spark's own leaf-file listing (`HadoopFSUtils`)
    * walks the same way. */
  def resolve(pathSpec: String, conf: Configuration): Seq[FileStatus] = {
    val path = new Path(pathSpec)
    val fs = path.getFileSystem(conf)
    val globbed = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
    if (globbed.isEmpty)
      throw new java.io.FileNotFoundException(s"no files match '$pathSpec'")
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (isIndexSidecar(n)) Nil
        else Seq(st)
      }
    globbed.flatMap { st =>
      if (st.isDirectory) walk(st.getPath).sortBy(_.getPath.toString) else Seq(st)
    }
  }

  def open(path: String, conf: Configuration): FSDataStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    new FSDataStream(fs.open(p))
  }
}

/** Thin wrapper so parsers can seek before reading a ranged split. */
final class FSDataStream(val in: org.apache.hadoop.fs.FSDataInputStream) {
  def seek(pos: Long): Unit = in.seek(pos)
  def stream: InputStream = in
}
