package graft.sources.core

import java.io.{BufferedOutputStream, OutputStream}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Per-format record rendering for writers (SURVEY.md §2.B — the
  * reference's commented-out COPY TO 'f.fasta' semantics: per-format
  * rendering, optional gzip/zstd compression). One contract, in bytes:
  * text formats render UTF-8 (through [[TextBytes]], string fields
  * copied as their bytes), binary formats (BAM, BCF) their record
  * encoding. `options` carries write-time parameters a binary format
  * needs (BAM's reference dictionary, BCF's contigs). */
trait RecordFormatter extends Serializable {
  def fileExtension: String

  /** A record buffer whose null-field error names this format. */
  protected def text: TextBytes = new TextBytes(fileExtension)

  /** Render one full-schema row, INCLUDING the record terminator. */
  def formatBytes(row: InternalRow, schema: StructType,
                  options: Map[String, String]): Array[Byte]

  /** Header each part file starts with (None = headerless format).
    * Called once per output file with the FIRST record (None when the
    * file commits empty) — formats whose header depends on record shape
    * (VCF's #CHROM sample list) need the row; the writer emits it
    * before the first record's bytes so index virtual offsets stay
    * correct. */
  def fileHeaderBytes(firstRow: Option[InternalRow], schema: StructType,
                      options: Map[String, String]): Option[Array[Byte]] = None

  /** A codec the format REQUIRES on the write side (BAM and BCF are
    * BGZF by definition); overrides any `compression` option, and the
    * file name carries no codec suffix (a .bam IS bgzf —
    * "part-*.bam.gz" would be wrong). */
  def writeForcedCodec: Option[String] = None

  /** Per-file record invariant: a (label, value) every record in a part
    * file must share with the file's FIRST record (which also shaped the
    * header). The writer captures it at header time and fails loudly on
    * the first divergent record — e.g. BCF/VCF sample count: a ragged
    * genotypes array would otherwise write records whose n_sample
    * disagrees with the header's #CHROM columns, a file htslib rejects,
    * while the in-house reader (which tolerates per-record n_sample)
    * would round-trip it silently. */
  def recordInvariant(row: InternalRow, schema: StructType,
                      options: Map[String, String]): Option[(String, Long)] = None
}

/** Growable byte buffer a text formatter renders one record into:
  * strings copy as their UTF-8 bytes, numbers as their Java text forms,
  * chars as one byte (ASCII only). A null string the format has no
  * placeholder for fails, naming the format of `ext`: written as the
  * text `null` it would read back as a real value. */
final class TextBytes(ext: String) {
  private var buf = new Array[Byte](256)
  private var n = 0

  private def room(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))

  def add(u: UTF8String): TextBytes = {
    if (u == null) throw new IllegalArgumentException(
      s"${ext.stripPrefix(".")}: a null string field has no placeholder in this format")
    room(u.numBytes)
    u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + n)
    n += u.numBytes
    this
  }
  def add(s: String): TextBytes = add(UTF8String.fromString(s))
  def add(c: Char): TextBytes = { room(1); buf(n) = c.toByte; n += 1; this }
  def add(v: Long): TextBytes = add(java.lang.Long.toString(v))
  def add(v: Float): TextBytes = add(java.lang.Float.toString(v))
  def add(v: Double): TextBytes = add(java.lang.Double.toString(v))

  /** String column `i` of `row`, or `nul` when it is null. */
  def str(row: InternalRow, i: Int, nul: String = "."): TextBytes =
    if (row.isNullAt(i)) add(nul) else add(row.getUTF8String(i))

  def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
}

/** A formatter whose records carry genomic coordinates, making its
  * output indexable: the writer samples BGZF virtual offsets around
  * each rendered record and feeds (name, beg0, end0, voffs) to a
  * [[TabixIndexBuilder]] when `option("index", "tabix")` is set. */
trait GenomicRecordFormatter extends RecordFormatter {
  /** (reference name, 0-based begin, 0-based-exclusive end) of a row. */
  def coordsOf(row: InternalRow, schema: StructType): (String, Long, Long)
  /** Tabix header coordinate configuration for external (htslib)
    * readers: (preset flags, col_seq, col_beg, col_end, meta char). */
  def tabixConfig: (Int, Int, Int, Int, Char)
}

/** A write's codec and sidecar index, parsed once on the driver when
  * its batch or streaming write is built, so a bad value fails there,
  * naming the option, before any task starts or any target is
  * truncated; every writer task reads these values. `codec`: the
  * format's forced codec, else the `compression` option (None =
  * plain). `index`: tabix | csi | gzi. `csiMinShift` and `csiDepth`:
  * the CSI binning scheme (`index.minshift`, `index.depth`; tabix
  * fixes 14/5). */
final case class WriteSettings(codec: Option[String], index: Option[String],
                               csiMinShift: Int, csiDepth: Int)

object WriteSettings {
  def parse(formatter: RecordFormatter, options: Map[String, String]): WriteSettings = {
    val codec = formatter.writeForcedCodec
      .orElse(options.get("compression").map(_.toLowerCase)).filter(_ != "none")
    codec.foreach { c =>
      require(Set("gzip", "bgzf", "zstd")(c), s"unknown compression '$c'")
    }
    // Sidecar indexes demand BGZF framing (virtual offsets only exist
    // there); tabix and csi also a formatter that can say where each
    // record lives on the genome.
    val index = options.get("index").map(_.toLowerCase).filter(_ != "none") match {
      case None => None
      case Some(k @ ("tabix" | "csi")) =>
        require(codec.contains("bgzf"),
          s"index=$k requires compression=bgzf (virtual offsets are BGZF coordinates)")
        require(formatter.isInstanceOf[GenomicRecordFormatter],
          s"index=$k: ${formatter.getClass.getSimpleName} has no genomic coordinates")
        Some(k)
      case Some("gzi") =>
        // block-offset sidecar (bgzip -i): coordinate-free, works for
        // ANY format — it indexes the compression, not the records
        require(codec.contains("bgzf"),
          "index=gzi requires compression=bgzf (it indexes BGZF blocks)")
        Some("gzi")
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown index kind '$other' (want: tabix | csi | gzi)")
    }
    // a larger CSI depth addresses contigs past the classic 512 Mbp limit
    def int(key: String, default: Int): Int = options.get(key).fold(default) { v =>
      v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"option $key='$v': want an integer"))
    }
    WriteSettings(codec, index, int("index.minshift", 14), int("index.depth", 5))
  }
}

/** Commit message: where the task attempt staged its bytes and where
  * each file belongs once the job commits (one entry per partition
  * directory the task wrote into). */
final case class GraftWriteCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

/** What a batch and a streaming write share: the per-job staging
  * namespace `_temporary/<writeId>` — two concurrent jobs appending to
  * the same target (force=true) sweep only their own staged files on
  * commit/abort; a shared `_temporary` would let one job delete the
  * other's in-flight staging mid-write — and the job-side rename that
  * moves each task's staged files into place. */
sealed trait GraftStagedWrite {
  def path: String
  def bconf: Broadcast[SerializableConfiguration]

  protected val writeId: String = UUID.randomUUID().toString.take(12)
  protected def tempRoot = new Path(path, "_temporary")
  protected def stagingRoot = new Path(tempRoot, writeId)
  protected lazy val fs: FileSystem = new Path(path).getFileSystem(bconf.value.value)

  /** Rename every staged file of `messages` into place; `replace`
    * deletes an existing destination first. */
  protected def renameStaged(messages: Array[WriterCommitMessage], replace: Boolean): Unit =
    messages.foreach {
      case GraftWriteCommit(files) => files.foreach { case (temp, dest) =>
        val d = new Path(dest)
        val parent = d.getParent
        if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
        if (replace && fs.exists(d)) fs.delete(d, false)
        if (!fs.rename(new Path(temp), d))
          throw new java.io.IOException(s"commit failed renaming $temp -> $dest")
      }
      case _ =>
    }

  /** Remove `dir` once it is empty (the non-recursive delete fails
    * harmlessly while another job still stages under it). */
  protected def dropIfEmpty(dir: Path): Unit =
    try if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false): Unit
    catch { case _: Exception => }
}

/** DSv2 BatchWrite: one part file per task partition that holds rows
  * (and always one for partition 0), optional
  * compression via the `compression` option ("gzip" | "bgzf" | "zstd",
  * [[WriteSettings]]).
  * Distributed by construction — each executor streams its partition to
  * its own part file; nothing funnels through the driver.
  *
  * Task-commit protocol: writers stream to `_temporary/<uuid>` staging
  * files and only `commit(messages)` renames them into place, so a
  * failed, retried, or speculatively-executed task can never leave a
  * half-written part file that readers would mistake for data. `abort`
  * removes the staging directory wholesale. (Rename is atomic on
  * HDFS-like filesystems; on object stores it degrades to copy — the
  * same trade-off Spark's FileOutputCommitter v1 makes.)
  */
final case class GraftBatchWrite(formatter: RecordFormatter, schema: StructType,
                                 path: String, options: Map[String, String],
                                 bconf: Broadcast[SerializableConfiguration])
    extends BatchWrite with GraftStagedWrite {

  private val settings = WriteSettings.parse(formatter, options)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(formatter, schema, path, options, settings, bconf, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    renameStaged(messages, replace = false)
    // a partitioned write opens its streams lazily, so an empty frame
    // commits zero files — the target must still exist and read as 0 rows
    fs.mkdirs(new Path(path))
    abort(messages)
  }

  /** Drop this job's staging and, once no job's remains, `_temporary`. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    if (fs.exists(stagingRoot)) fs.delete(stagingRoot, true)
    dropIfEmpty(tempRoot)
  }
}

/** DSv2 StreamingWrite: writeStream straight into a format directory
  * (`events.writeStream.format("fastq").option("path", dir)`) — the
  * outbound half of the streaming surface, sharing the batch writer's
  * staged-rename task commit wholesale. Per-epoch exactly-once WITHOUT
  * a sink metadata log: destination names are a deterministic function
  * of (epoch, partition), so a failure-replayed epoch renames over its
  * own previous files instead of duplicating rows — readers are plain
  * directory scans, exactly what the batch sources expect. Append
  * output mode only (a format directory has no truncate-per-trigger
  * semantics).
  */
final case class GraftStreamingWrite(formatter: RecordFormatter, schema: StructType,
                                     path: String, options: Map[String, String],
                                     bconf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite with GraftStagedWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val settings = WriteSettings.parse(formatter, options)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        GraftWriterFactory(formatter, schema, path, options, settings, bconf, writeId,
          epoch = Some(epochId)).createWriter(partitionId, taskId)
    }

  /** Epoch replay: the deterministic destination may exist from the
    * failed attempt — replace it, never duplicate it. Then drop this
    * query's (now empty) staging namespace so a stream running for
    * months doesn't park a zombie _temporary/<writeId> in the target
    * (next epoch's writers recreate it; create() makes parents). */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    renameStaged(messages, replace = true)
    dropIfEmpty(stagingRoot)
    dropIfEmpty(tempRoot)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (fs.exists(stagingRoot)) fs.delete(stagingRoot, true)
}

final case class GraftWriterFactory(formatter: RecordFormatter, schema: StructType,
                                    path: String, options: Map[String, String],
                                    settings: WriteSettings,
                                    bconf: Broadcast[SerializableConfiguration],
                                    writeId: String,
                                    epoch: Option[Long] = None)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val WriteSettings(codec, indexKind, csiMinShift, csiDepth) = settings
    val ext = formatter.fileExtension + (codec match {
      case _ if formatter.writeForcedCodec.isDefined => ""
      case Some("gzip") | Some("bgzf") => ".gz" // bgzf IS gzip on the wire
      case Some("zstd")                => ".zst"
      case _                           => ""
    })
    // Hive-style layout keys from the `partitionBy` option. Partition
    // columns stay IN the rendered records (the formats' schemas are
    // fixed, and parse . write = id must hold on read-back); the
    // directory tree exists for path pruning and per-key lifecycle at
    // 100 TB. Callers should repartition by the same keys first so each
    // task holds few open files — the same contract as Spark's own
    // dynamic partition writes.
    val partCols: Seq[Int] =
      options.get("partitionby").orElse(options.get("partitionBy")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(schema.fieldIndex)
    val fs = new Path(path).getFileSystem(bconf.value.value)

    // escape the UTF-8 BYTES of a non-safe char, one %XX per byte
    // (Hive's ESCAPE_CHAR convention) — escaping the code point would
    // emit variable-width sequences like %4E2D that partition-path
    // parsers mis-decode
    def hiveEscape(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        // iterate by code point: escaping a surrogate half in isolation
        // would mangle supplementary chars (emoji) into '?' bytes
        val cp = s.codePointAt(i)
        val w = Character.charCount(cp)
        if (Character.isLetterOrDigit(cp) || cp == '.' || cp == '-' || cp == '_')
          sb.append(s, i, i + w)
        else s.substring(i, i + w).getBytes("UTF-8")
          .foreach(b => sb.append(f"%%${b & 0xff}%02X"))
        i += w
      }
      sb.toString
    }

    def keyOf(record: InternalRow): String =
      partCols.map { i =>
        val f = schema(i)
        val v = if (record.isNullAt(i)) null else record.get(i, f.dataType)
        s"${f.name}=${if (v == null) "__HIVE_DEFAULT_PARTITION__" else hiveEscape(v.toString)}"
      }.mkString("/")

    final case class Sink(out: OutputStream, temp: Path, dest: Path,
                          bgzf: Option[BgzfOutputStream],
                          idx: Option[TabixIndexBuilder]) {
      var headerWritten = false
      /** Captured from the first record; later records must match. */
      var invariant: Option[(String, Long)] = None
    }

    def openStream(key: String): Sink = {
      // taskId in the staging name keeps concurrent attempts of the same
      // partition (speculation, retry) from clobbering each other; only
      // the attempt whose message reaches commit() gets renamed into place.
      // Streaming epochs use DETERMINISTIC destination names (no uuid):
      // a replayed epoch rewrites the same files instead of duplicating
      // them — the idempotence that stands in for a sink metadata log.
      val fileName = epoch match {
        case Some(e) => f"part-$e%05d-$partitionId%05d$ext"
        case None => f"part-$partitionId%05d-${UUID.randomUUID().toString.take(8)}$ext"
      }
      val destDir = if (key.isEmpty) new Path(path) else new Path(path, key)
      val temp = new Path(new Path(new Path(path, "_temporary"), writeId),
        s"$taskId-${if (key.isEmpty) "" else key.replace('/', '%') + "-"}$fileName")
      val dest = new Path(destDir, fileName)
      val rawOut: OutputStream = fs.create(temp, true)
      val out: OutputStream = codec match {
        case Some("gzip") => new java.util.zip.GZIPOutputStream(rawOut, 1 << 16)
        case Some("bgzf") => new BgzfOutputStream(new BufferedOutputStream(rawOut, 1 << 16))
        case Some(_)      => new com.github.luben.zstd.ZstdOutputStream(rawOut) // zstd
        case None         => new BufferedOutputStream(rawOut, 1 << 16)
      }
      Sink(out, temp, dest,
        bgzf = out match { case b: BgzfOutputStream => Some(b); case _ => None },
        idx = indexKind.collect {
          case "csi"   => new TabixIndexBuilder(csiMinShift, csiDepth)
          case "tabix" => new TabixIndexBuilder()
        })
    }

    def writeRecord(s: Sink, record: InternalRow): Unit = {
      if (!s.headerWritten) {
        s.headerWritten = true
        formatter.fileHeaderBytes(Some(record), schema, options)
          .foreach(s.out.write)
        s.invariant = formatter.recordInvariant(record, schema, options)
      } else s.invariant.foreach { case (label, want) =>
        val got = formatter.recordInvariant(record, schema, options)
        require(got.exists(_._2 == want),
          s"record $label ${got.map(_._2).getOrElse("<none>")} disagrees with " +
            s"this file's header ($label $want from its first record) — the " +
            "output would be rejected by external readers; fix the ragged column " +
            "or write homogeneous partitions")
      }
      s.idx match {
        case Some(builder) =>
          val gf = formatter.asInstanceOf[GenomicRecordFormatter]
          val (name, beg0, end0) = gf.coordsOf(record, schema)
          val voffBeg = s.bgzf.get.virtualOffset
          s.out.write(formatter.formatBytes(record, schema, options))
          builder.add(name, beg0, end0, voffBeg, s.bgzf.get.virtualOffset)
        case None =>
          s.out.write(formatter.formatBytes(record, schema, options))
      }
    }

    /** Close the data stream; if indexing, serialize the sidecar .tbi
      * next to the staged file. Returns (temp, dest) rename pairs. */
    def closeSink(s: Sink): Seq[(String, String)] = {
      if (!s.headerWritten) {
        s.headerWritten = true
        // a zero-record part still carries the format's header, so it
        // reads back as an empty—not malformed—file
        formatter.fileHeaderBytes(None, schema, options)
          .foreach(s.out.write)
      }
      s.out.close()
      s.idx match {
        case Some(builder) =>
          val gf = formatter.asInstanceOf[GenomicRecordFormatter]
          val (preset, cSeq, cBeg, cEnd, meta) = gf.tabixConfig
          val ext = if (indexKind.contains("csi")) ".csi" else ".tbi"
          val idxTemp = s.temp.suffix(ext)
          val idxOut = fs.create(idxTemp, true)
          if (indexKind.contains("csi"))
            builder.finishCsi(idxOut, preset, cSeq, cBeg, cEnd, meta)
          else builder.finish(idxOut, preset, cSeq, cBeg, cEnd, meta)
          Seq((s.temp.toString, s.dest.toString),
            (idxTemp.toString, s.dest.suffix(ext).toString))
        case None if indexKind.contains("gzi") =>
          // entries exist after close(); the final one points at the
          // EOF sentinel, which htslib's layout omits
          val entries = s.bgzf.get.gziEntries.dropRight(1)
          val gziTemp = s.temp.suffix(".gzi")
          Gzi.save(entries, fs.create(gziTemp, true))
          Seq((s.temp.toString, s.dest.toString),
            (gziTemp.toString, s.dest.suffix(".gzi").toString))
        case None => Seq((s.temp.toString, s.dest.toString))
      }
    }

    // abort usually runs AFTER an I/O failure: close/delete of one key's
    // stream must not stop cleanup of the others or mask the root cause
    def quietClean(s: Sink): Unit = {
      try s.out.close() catch { case _: Exception => }
      try if (fs.exists(s.temp)) fs.delete(s.temp, false) catch { case _: Exception => }
      Seq(".tbi", ".csi", ".gzi").foreach { ext =>
        try {
          val t = s.temp.suffix(ext)
          if (fs.exists(t)) fs.delete(t, false)
        } catch { case _: Exception => }
      }
    }

    new DataWriter[InternalRow] {
      private val streams = scala.collection.mutable.LinkedHashMap.empty[String, Sink]
      // streams open on their first record, so a task without rows
      // commits no file — except partition 0 without partitionBy, which
      // opens its stream now: Spark runs partition 0 even for an empty
      // input, and an overwrite with an empty frame must leave a
      // readable (0-row) target, not a missing directory
      if (partCols.isEmpty && partitionId == 0) streams("") = openStream("")
      override def write(record: InternalRow): Unit = {
        val k = keyOf(record)
        writeRecord(streams.getOrElseUpdate(k, openStream(k)), record)
      }
      override def commit(): WriterCommitMessage =
        GraftWriteCommit(streams.values.flatMap(closeSink).toSeq)
      override def abort(): Unit = streams.values.foreach(quietClean)
      override def close(): Unit = ()
    }
  }
}
