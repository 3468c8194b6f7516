package graft.sources.core

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.types.StructType

/** Sampled row-count estimation for format scans — the numRows half of
  * `SupportsReportStatistics` (sizeInBytes ships separately from file
  * lengths). Text genomic formats have no footer metadata to read a
  * count from (unlike parquet), so the estimate parses the first ~1000
  * records of the FIRST file while counting COMPRESSED bytes consumed
  * and extrapolates by total byte size. That gives Catalyst a
  * cardinality for join sizing over fmt sources — the analog of the
  * reference's ArrowScanCardinality hint — at the cost of one bounded
  * driver-side read per (file, mtime), cached for the session.
  *
  * The byte counter sits UNDER the decompressor, so read-ahead
  * buffering over-counts consumed bytes slightly → rows are
  * under-estimated → conservative for broadcast decisions (a table is
  * never declared smaller than the sample suggests). Files shorter
  * than the sample are counted exactly.
  */
private[core] object RowStats {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, OptionalLong]()

  private final class CountingStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count: Long = 0
    override def read(): Int = {
      val b = super.read(); if (b >= 0) count += 1; b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(buf, off, len); if (n > 0) count += n; n
    }
    override def skip(n: Long): Long = {
      val s = super.skip(n); count += s; s
    }
  }

  def estimateRows(format: GraftFormat, files: Seq[FileStatus],
                   conf: Configuration, options: Map[String, String],
                   schema: StructType, sampleRows: Int = 1000): OptionalLong = {
    if (files.isEmpty) return OptionalLong.of(0L)
    val head = files.head
    val codec = format.forcedCodec.getOrElse(
      Compression.of(head.getPath.toString, options)._1)
    val totalBytes = files.map(_.getLen).sum
    val key = s"${format.name}|$codec|${head.getPath}|${head.getLen}|" +
      s"${head.getModificationTime}|${files.length}|$totalBytes"
    val hit = cache.get(key)
    if (hit != null) return hit
    val computed =
      try {
        val raw = GraftFiles.open(head.getPath.toString, conf)
        val counting = new CountingStream(raw.stream)
        try {
          val stream = Compression.wrap(counting, codec)
          // neededCols = none of them: parsers keep full row SHAPE but
          // skip expensive per-column work — the estimate needs record
          // framing, not values
          val split = GraftSplit(head.getPath.toString, 0, Long.MaxValue,
            head.getLen, conf = conf, neededCols = Some(Set.empty))
          val it = format.read(split, schema, stream, options)
          var n = 0L
          // bound BOTH rows and compressed bytes so a huge-record file
          // cannot turn planning into a scan
          while (n < sampleRows && counting.count < (4L << 20) && it.hasNext) {
            it.next(); n += 1
          }
          val exhausted = !it.hasNext
          if (n == 0) OptionalLong.of(0L)
          else if (exhausted && files.length == 1) OptionalLong.of(n)
          else {
            val bytesPerRow = math.max(1.0, counting.count.toDouble / n)
            OptionalLong.of(math.max(n, (totalBytes / bytesPerRow).toLong))
          }
        } finally raw.in.close()
      } catch { case _: Exception => OptionalLong.empty() }
    cache.put(key, computed)
    computed
  }
}
