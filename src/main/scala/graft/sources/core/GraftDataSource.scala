package graft.sources.core

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DSv2 TableProvider for one GraftFormat. Mirrors the reference's
  * generic table function (bind = inferSchema, init = planInputPartitions,
  * scan = PartitionReader) with Catalyst handling projection pushdown.
  */
abstract class GraftDataSource(format: GraftFormat)
    extends TableProvider with DataSourceRegister {

  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true

  private def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val all = GraftFiles.pathSpecs(options.asCaseSensitiveMap().asScala.toMap)
    require(all.nonEmpty, s"format '${format.name}' requires a path")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = pathsOf(options).flatMap(GraftFiles.resolve(_, conf)).map(_.getPath)
    format.schema(files, conf, options.asCaseSensitiveMap().asScala.toMap)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftTable(format, schema, properties.asScala.toMap)
}

final case class GraftTable(format: GraftFormat, tableSchema: StructType,
                            options: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"${format.name}(${options.getOrElse("path", options.getOrElse("paths", "?"))})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (format.formatter.isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    GraftScanBuilder(format, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val fmt = format.formatter.getOrElse(
      throw new UnsupportedOperationException(s"format '${format.name}' is read-only"))
    val path = options.getOrElse("path",
      throw new IllegalArgumentException("write requires a path"))
    val writeOpts = options ++ Seq("compression", "partitionby", "index", "index.minshift",
      "index.depth").flatMap(k => Option(info.options().get(k)).map(k -> _))
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val spark = SparkSession.active
          // parses the write's settings: a bad option fails before the
          // target is truncated
          val write = GraftBatchWrite(fmt, info.schema(), path, writeOpts, GraftConf.broadcast(spark))
          val hconf = spark.sessionState.newHadoopConf()
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(hconf)
          if (doTruncate) {
            if (fs.exists(p)) fs.delete(p, true)
          } else if (fs.exists(p) && fs.listStatus(p).exists(st =>
              !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))) {
            // the reference's COPY semantics: refuse to add to an existing
            // non-empty target unless FORCE is given (test_fasta_copy.test)
            require(options.get("force").exists(_.equalsIgnoreCase("true")),
              s"target '$path' already contains data; pass option force=true " +
                "to append, or use mode(\"overwrite\") to replace (COPY ... FORCE semantics)")
          }
          write
        }

        /** writeStream into a format directory: per-epoch appends with
          * deterministic (epoch, partition) file names — see
          * [[GraftStreamingWrite]]. No COPY-force gate here: a streaming
          * sink's target accretes across epochs and restarts by design. */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          // complete/update modes arrive as truncate-per-epoch, which a
          // format directory cannot express — append only
          require(!doTruncate,
            "streaming writes into format directories support append output mode only")
          GraftStreamingWrite(fmt, info.schema(), path, writeOpts,
            GraftConf.broadcast(SparkSession.active))
        }
      }
    }
  }
}

final case class GraftScanBuilder(format: GraftFormat, full: StructType,
                                  options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  /** Prune at the TOP level only: Catalyst may hand us a nested-pruned
    * schema (e.g. info struct narrowed to one field), but the parsers
    * emit full nested values — honoring a narrowed struct would shift
    * ordinals and silently misread sibling fields. Declaring the full
    * nested field in readSchema() makes Spark project the narrow view
    * above the scan instead. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f => full(full.fieldIndex(f.name))))

  /** Keep every filter for region inference ([[build]]) and hand all
    * of them back: Spark's Filter above the scan evaluates them (the
    * reference's division of labor — DataFusion applies pushed
    * predicates above its scan too). The scan's only row test of its own
    * is region membership. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Resolve the scan's regions once: the `region`/`regions` options
    * if set, else what the format's coordinates infer from the pushed
    * filters. None = no regions (full scan, no row test); Some(Nil) =
    * provably empty. Index pruning and the reader's row test both read
    * this one value. */
  override def build(): Scan = {
    val regionOpt = options.keys.find(k => k.equalsIgnoreCase("region") || k.equalsIgnoreCase("regions"))
    if (regionOpt.isDefined && format.coordinates.isEmpty)
      throw new IllegalArgumentException(s"option '${regionOpt.get}' needs genomic " +
        s"coordinates; format '${format.name}' has none")
    val explicit = Regions.fromOptions(options)
    val regions =
      if (explicit.nonEmpty) Some(explicit.map(Regions.parse))
      else format.coordinates.flatMap(_.regionsFrom(pushed.toSeq))
    GraftScan(format, full, required, options, regions)
  }
}

final case class GraftScan(format: GraftFormat, full: StructType, required: StructType,
                           options: Map[String, String], regions: Option[Seq[Regions.Region]])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Driver-side Hadoop conf and this scan's files, listed ONCE and
    * shared by statistics and partition planning (the optimizer asks
    * for statistics more than once per query). */
  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()
  private lazy val files = GraftFiles.pathSpecs(options).flatMap(GraftFiles.resolve(_, conf))

  /** The session's broadcast conf, shared by every reader factory this
    * scan creates and reused across scans while the conf is unchanged
    * (see [[GraftConf]]). */
  private lazy val bconf = GraftConf.broadcast(SparkSession.active)

  /** Size + sampled-cardinality estimates (the analog of the
    * reference's ArrowScanCardinality hint) so Catalyst can pick
    * broadcast sides and join orders when a genomic table joins a
    * small one. numRows comes from [[RowStats]] (parse ~1000 records,
    * extrapolate by bytes, session-cached); disable with option
    * stats.sample=false when even the bounded driver read is unwanted
    * (e.g. high-latency object stores). */
  override def estimateStatistics(): Statistics = stats
  private lazy val stats: Statistics = new Statistics {
    private val (bytes: Long, rows: java.util.OptionalLong) =
      try {
        val session = SparkSession.active
        val raw = files.map(_.getLen).sum
        // compressed files underreport their in-memory row size; scale
        // by Spark's own fileCompressionFactor knob so a ~30 MB-of-rows
        // bgzf file is not mistaken for a 9 MB broadcast candidate
        val codec = format.forcedCodec.getOrElse(
          Compression.of(GraftFiles.pathSpecs(options).headOption.getOrElse(""), options)._1)
        val factor =
          if (codec == "none") 1.0
          else math.max(1.0, session.sessionState.conf.fileCompressionFactor)
        val sample = !options.exists { case (k, v) =>
          k.equalsIgnoreCase("stats.sample") && v.equalsIgnoreCase("false") }
        val est =
          if (sample) RowStats.estimateRows(format, files, conf, options, full)
          else java.util.OptionalLong.empty()
        (math.min(Long.MaxValue / 2, (raw * factor).toLong), est)
      } catch { case _: Exception => (Long.MaxValue, java.util.OptionalLong.empty()) }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = rows
  }
  override def description(): String =
    s"GraftScan(${format.name}, cols=[${required.fieldNames.mkString(",")}]" +
      regions.fold("")(rs => s", regions=${rs.size}") + ")"

  /** Planned once per scan, as `files` is listed once: Spark asks for
    * the partitions more than once per query (the scan exec, then a
    * copy of it), and each plan loads every file's index. */
  override def planInputPartitions(): Array[InputPartition] = partitions
  private lazy val partitions: Array[InputPartition] =
    GraftPlanning.partitionsFor(format, files, GraftPlanning.maxSplitOf(options),
      options, conf, regions).toArray

  /** Micro-batch streaming over an arriving-files directory: the same
    * formats, split planning, projection, regions, and reader as
    * the batch path, driven by a file-set offset (see
    * [[GraftMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftMicroBatchStream(format, full, required, options, regions,
      GraftConf.broadcast(SparkSession.active))

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(format, full, required, options, regions.map(Regions.matcher), bconf)
}

/** Input-partition planning shared by the batch scan and the
  * micro-batch stream: one partition per file, per ~maxSplit byte range
  * (splittable formats), per BGZF block range, or per group of a file's
  * index-pruned chunks (see [[packChunks]]). */
private[core] object GraftPlanning {

  /** Per-read override of the split size: a read option travels WITH
    * the relation (the session conf is read at plan time of every
    * downstream action, so a set-then-restore around a returned
    * DataFrame silently re-plans under the restored value). */
  def maxSplitOf(options: Map[String, String]): Long = {
    val maxSplit = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxsplitbytes") => v.toLong
    }.getOrElse(SparkSession.active.sessionState.conf.filesMaxPartitionBytes)
    require(maxSplit > 0, s"maxSplitBytes must be positive, got $maxSplit")
    maxSplit
  }

  /** A scan's partitions for its resolved `regions` (see
    * [[GraftScanBuilder.build]]). With regions, each file is read
    * through its index when the format has one (tabix, BAI, CSI —
    * SURVEY.md §3.3): one merged chunk set for all the regions, packed
    * into about one partition per core of the scan's chunk bytes.
    * Provably empty regions plan no partition; a file without an index
    * is read in full ([[fileSplits]]). */
  def partitionsFor(format: GraftFormat, files: Seq[org.apache.hadoop.fs.FileStatus],
                    maxSplit: Long, options: Map[String, String],
                    conf: Configuration,
                    regions: Option[Seq[Regions.Region]]): Seq[GraftInputPartition] = {
    val indexed = files.map(st => st -> regions.flatMap {
      case Nil => Some(Nil)
      case rs => format.regionChunks(st.getPath.toString, rs, conf)
    })
    lazy val target = {
      val total = indexed.flatMap(_._2).flatten.map(chunkBytes).sum
      val spark = SparkSession.active
      val cores = spark.sessionState.conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism)
      (total + cores - 1) / cores
    }
    indexed.flatMap {
      case (st, Some(chunks)) =>
        packChunks(chunks, target, maxSplit).map(g =>
          GraftInputPartition(st.getPath.toString, g.head._1, g.last._2, st.getLen,
            bgzfChunk = true, chunks = g))
      case (st, None) => fileSplits(format, st, maxSplit, options, conf)
    }
  }

  /** Compressed bytes an index chunk spans (at least 1: a chunk inside
    * one block still reads it). */
  private def chunkBytes(c: (Long, Long)): Long = math.max((c._2 >>> 16) - (c._1 >>> 16), 1L)

  /** A file's sorted, merged chunks in contiguous groups, in offset
    * order: a group closes once it holds `target` bytes, and before a
    * chunk would take it past `maxSplit` (a single chunk larger than
    * `maxSplit` stays whole). A group is one task that opens the file
    * once and reads its chunks in turn — htslib reads a query's chunks
    * through one open file the same way (`hts_itr_next`) — instead of a
    * task, a file open and a header read per chunk. Closing at `target`
    * keeps a file within ceil(its bytes / target) groups. */
  private def packChunks(chunks: Seq[(Long, Long)], target: Long,
                       maxSplit: Long): Seq[Seq[(Long, Long)]] = {
    val groups = Seq.newBuilder[Seq[(Long, Long)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var bytes = 0L
    def close(): Unit = if (cur.nonEmpty) { groups += cur.toList; cur.clear(); bytes = 0 }
    chunks.foreach { c =>
      val n = chunkBytes(c)
      if (bytes + n > maxSplit) close()
      cur += c
      bytes += n
      if (bytes >= target) close()
    }
    close()
    groups.result()
  }

  private def fileSplits(format: GraftFormat, st: org.apache.hadoop.fs.FileStatus,
                         maxSplit: Long, options: Map[String, String],
                         conf: Configuration): Seq[GraftInputPartition] = {
    val path = st.getPath.toString
    val len = st.getLen
    val codec = format.forcedCodec.getOrElse(Compression.of(path, options)._1)
    if (format.splittable && codec == "none" && len > maxSplit) {
      // One partition per ~maxSplit bytes; parser syncs to record start.
      val n = splitCount(path, len, maxSplit)
      (0 until n).map { i =>
        val s = i.toLong * maxSplit
        GraftInputPartition(path, s, math.min(s + maxSplit, len), len)
      }
    } else if (format.bgzfSplittable && (codec == "gzip" || codec == "bgzf") &&
        len > maxSplit && Bgzf.isBgzf(path, len, st.getModificationTime, conf)) {
      // BGZF is block-addressable: one partition per ~maxSplit
      // COMPRESSED bytes; executors sync to the next block header
      // and apply the anchor-voff ownership protocol. This is what
      // keeps a single 100 GB .bam/.vcf.gz from serializing a
      // cluster into one task.
      val n = splitCount(path, len, maxSplit)
      (0 until n).map { i =>
        val s = i.toLong * maxSplit
        GraftInputPartition(path, s, math.min(s + maxSplit, len), len,
          bgzfSplit = true)
      }
    } else {
      Seq(GraftInputPartition(path, 0, Long.MaxValue, len))
    }
  }

  /** A tiny maxSplitBytes against a huge file must reject the
    * configuration, not saturate `.toInt` at Int.MaxValue and try to
    * materialize ~2^31 partition objects on the driver. 4M partitions
    * per file is already far beyond any sane plan. */
  private def splitCount(path: String, len: Long, maxSplit: Long): Int = {
    val n = (len + maxSplit - 1) / maxSplit
    require(n <= (1L << 22),
      s"maxSplitBytes=$maxSplit yields $n partitions for $path " +
        s"($len bytes); raise maxSplitBytes")
    n.toInt
  }
}

/** One task's input. An index-chunk partition (`bgzfChunk`) reads the
  * BGZF virtual-offset ranges in `chunks`, sorted and disjoint, and
  * `start`/`end` are the first chunk's start and the last chunk's end;
  * with `chunks` empty it reads the one chunk [start, end). */
final case class GraftInputPartition(path: String, start: Long, end: Long,
                                     fileLen: Long, bgzfChunk: Boolean = false,
                                     bgzfSplit: Boolean = false,
                                     chunks: Seq[(Long, Long)] = Nil)
    extends InputPartition {
  def chunkRanges: Seq[(Long, Long)] = if (chunks.isEmpty) Seq((start, end)) else chunks
}

/** Reads a scan's partitions. `inRegion` is the membership test of the
  * scan's resolved regions (built once on the driver), None when the
  * scan has none. */
final case class GraftReaderFactory(format: GraftFormat, full: StructType,
                                    required: StructType, options: Map[String, String],
                                    inRegion: Option[Regions.Matcher],
                                    bconf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  /** The open path: (full-schema value iterator, close), filtered by
    * region membership when the scan has regions; `createReader`
    * projects it to the required columns. */
  private def openIterator(p: GraftInputPartition): (Iterator[Array[Any]], () => Unit) = {
    // session Hadoop conf broadcast from the driver: spark.hadoop.* (s3a
    // credentials, endpoints, ...) must reach executor-side FS access
    val conf = bconf.value.value
    // the scan's one row test, from the format's declared coordinates
    // (a scan has regions only when its format declares them); every
    // other predicate is left to Spark's Filter above the scan
    val test = inRegion.map(m => (format.coordinates.get, m))
    // projection (Spark adds the post-scan filters' columns) plus the
    // coordinates the region test reads: parsers may skip the work of
    // materializing any other top-level column
    val needed = Some(required.fieldNames.toSet ++
      test.toSeq.flatMap { case (c, _) => Seq(c.contig, c.start, c.end) })
    def rows(split: GraftSplit, stream: java.io.InputStream): Iterator[Array[Any]] = {
      val it = format.read(split, full, stream, options)
      test.fold(it) { case (c, m) => it.filter(c.matches(full, m)) }
    }
    val raw = GraftFiles.open(p.path, conf)
    val codec = format.forcedCodec.getOrElse(Compression.of(p.path, options)._1)
    val ranged = !p.bgzfChunk && !p.bgzfSplit && (p.start != 0 || p.end != Long.MaxValue)
    if (ranged) {
      require(codec == "none", "ranged split over compressed input")
      raw.seek(p.start) // LineReader expects the stream positioned at split start
    }
    if (p.bgzfSplit) {
      // executor-side sync + open in one read: first BGZF block header
      // in [start, end); a range interior to one block owns nothing
      // (the block belongs to the split containing its start)
      Bgzf.openSynced(raw, p.start, p.end, p.fileLen) match {
        case None =>
          raw.in.close()
          return (Iterator.empty, () => ())
        case Some(stream) =>
          // split bounds in voff coordinates: [S<<16, (E<<16)-1] — an
          // anchor voff is <= (E<<16)-1 iff its block starts before E
          val split = GraftSplit(p.path,
            if (p.start == 0) 0L else p.start << 16, (p.end << 16) - 1,
            p.fileLen, bgzfSplit = true, conf = conf, neededCols = needed)
          return (rows(split, stream), () => stream.close())
      }
    }
    val stream =
      if (p.bgzfChunk) Bgzf.openChunks(raw, p.chunkRanges) // index chunks, each bounded at its end voff
      else if (ranged) raw.stream
      else Compression.wrap(raw.stream, codec)
    val split = GraftSplit(p.path, if (ranged) p.start else 0,
      if (ranged) p.end else Long.MaxValue, p.fileLen, bgzfChunk = p.bgzfChunk,
      conf = conf, neededCols = needed)
    (rows(split, stream), () => stream.close())
  }

  /** One row per partition, refilled per record: Spark plans a
    * projection to UnsafeRow above every row-based DSv2 scan, so no
    * consumer holds a returned row across `next()`. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (fullIter, closeFn) = openIterator(partition.asInstanceOf[GraftInputPartition])
    val fieldIdx = required.fieldNames.map(full.fieldIndex)
    val row = new GenericInternalRow(fieldIdx.length)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = fullIter.hasNext && {
        val vals = fullIter.next()
        var i = 0
        while (i < fieldIdx.length) { row.update(i, vals(fieldIdx(i))); i += 1 }
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = closeFn()
    }
  }
}
