package graft.sources.core

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming offset for an arriving-files directory: the set of files
  * (path -> length) included up to this point in the stream. A
  * micro-batch processes exactly `end.files -- start.files`, so every
  * file is read once, regardless of how listings interleave with
  * triggers — and a restart from a checkpointed offset resumes with
  * only the files that arrived since (StreamingIngestSpec proves both).
  *
  * The offset grows with the directory's file count (the same contract
  * as Spark's own FileStreamSource seen-files log); compact at the
  * source by pointing the stream at date-bucketed subdirectories.
  */
final case class GraftStreamOffset(files: Map[String, Long]) extends Offset {
  /** Sorted, escaped — a deterministic JSON string for the offset log. */
  override def json(): String =
    files.toSeq.sortBy(_._1).map { case (p, l) =>
      "\"" + GraftStreamOffset.esc(p) + "\":" + l
    }.mkString("{", ",", "}")
}

object GraftStreamOffset {
  private[core] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Jackson (Spark's bundled JSON mapper) rather than a hand-rolled
    * parser: offsets round-trip through the checkpoint offset log and
    * must survive any legal path bytes. */
  def fromJson(json: String): GraftStreamOffset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, Number]])
    GraftStreamOffset(m.asScala.map { case (k, v) => (k, v.longValue) }.toMap)
  }
}

/** Micro-batch ingest of graft formats from an arriving-files directory
  * (`spark.readStream.format("fastq").load(dir)`) — the streaming front
  * of a sequencer-drop / crawler-drop pipeline, a capability the batch-
  * only reference has no analog for. Batch and stream share EVERYTHING
  * below the offset logic: split planning ([[GraftPlanning]] — large
  * uncompressed/BGZF files still fan out into byte-range partitions
  * inside a micro-batch), compression handling, projection, the scan's
  * resolved regions, and the [[GraftReaderFactory]] record readers.
  *
  * Contract: files are immutable once they appear (the standard file-
  * stream assumption). A file observed to GROW between offsets fails
  * the query loudly — silently re-reading or skipping the grown tail
  * would both be wrong.
  */
final case class GraftMicroBatchStream(format: GraftFormat, full: StructType,
                                       required: StructType,
                                       options: Map[String, String],
                                       regions: Option[Seq[Regions.Region]],
                                       bconf: Broadcast[SerializableConfiguration])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def listNow(): Map[String, Long] =
    GraftFiles.pathSpecs(options)
      .flatMap(GraftFiles.resolve(_, bconf.value.value))
      .map(st => st.getPath.toString -> st.getLen).toMap

  override def initialOffset(): Offset = GraftStreamOffset(Map.empty)

  /** Admission control: `maxFilesPerTrigger` / `maxBytesPerTrigger`
    * pace a backlogged directory into bounded micro-batches instead of
    * one giant batch — at scale, the knobs that keep a week of arrived
    * files from becoming a single cluster-saturating trigger. Files
    * admit in sorted-path order, so pacing is deterministic. */
  override def getDefaultReadLimit: ReadLimit = {
    def opt(name: String): Option[Long] = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) =>
        val n = v.toLong
        require(n > 0, s"$name must be positive, got $n")
        n
    }
    val limits = opt("maxfilespertrigger").map(n => ReadLimit.maxFiles(n.toInt)).toSeq ++
      opt("maxbytespertrigger").map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Prefix of `fresh` (sorted) a read limit admits. Byte pacing always
    * admits the first file even when it alone exceeds the cap — the
    * progress guarantee; a composite applies each member limit (all are
    * prefix rules, so intersection = sequential application). */
  private def admit(fresh: Seq[String], sizes: Map[String, Long],
                    limit: ReadLimit): Seq[String] = limit match {
    case m: ReadMaxFiles => fresh.take(m.maxFiles())
    case b: ReadMaxBytes =>
      val out = Seq.newBuilder[String]
      var total = 0L
      var n = 0
      var done = false
      fresh.foreach { p =>
        if (!done) {
          val len = sizes(p)
          if (n == 0 || total + len <= b.maxBytes()) { out += p; total += len; n += 1 }
          else done = true
        }
      }
      out.result()
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(fresh)((acc, l) => admit(acc, sizes, l))
    case _ => fresh
  }

  /** Trigger.AvailableNow: bound the run to the files present when the
    * query started, then drain them under the read limit — without this
    * snapshot a steadily-arriving directory would keep an "available
    * now" run alive indefinitely. */
  @volatile private var availableNowSnapshot: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listNow())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftStreamOffset].files
    val now = availableNowSnapshot.getOrElse(listNow())
    // the immutability contract must be checked HERE: a paced offset
    // copies `from`'s recorded lengths forward, so a grown file would
    // otherwise sail through planInputPartitions' start-vs-end compare
    val grown = from.collect {
      case (p, l) if now.get(p).exists(_ != l) => s"$p ($l -> ${now(p)} bytes)"
    }
    require(grown.isEmpty,
      s"streaming input files must be immutable once they appear; " +
        s"grown/rewritten: ${grown.mkString(", ")}")
    val fresh = (now.keySet -- from.keySet).toSeq.sorted
    val admitted = admit(fresh, now, limit)
    GraftStreamOffset(from ++ admitted.map(p => p -> now(p)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source")

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftStreamOffset].files
    val to = end.asInstanceOf[GraftStreamOffset].files
    val grown = from.collect {
      case (p, l) if to.get(p).exists(_ != l) => s"$p ($l -> ${to(p)} bytes)"
    }
    require(grown.isEmpty,
      s"streaming input files must be immutable once they appear; " +
        s"grown/rewritten: ${grown.mkString(", ")}")
    val conf = bconf.value.value
    val maxSplit = GraftPlanning.maxSplitOf(options)
    val arrived = (to.keySet -- from.keySet).toSeq.sorted.flatMap { path =>
      val statuses = GraftFiles.resolve(path, conf)
      require(statuses.nonEmpty,
        s"streaming input file vanished before its batch was planned: $path")
      statuses
    }
    // same index pruning as the batch path: each arriving file reads
    // only its matching chunks
    GraftPlanning.partitionsFor(format, arrived, maxSplit, options, conf, regions).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(format, full, required, options, regions.map(Regions.matcher), bconf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
