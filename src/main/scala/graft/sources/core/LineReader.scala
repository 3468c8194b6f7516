package graft.sources.core

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Line cursor over one split, implementing the Hadoop LineRecordReader
  * split protocol:
  *
  *  - a split [start, end) with start != 0 discards the first (possibly
  *    partial) line it sees;
  *  - lines whose position is <= end are produced (the straddling line
  *    at the boundary belongs to the earlier split; the later split
  *    discards it as its first line).
  *
  * This is what makes line formats readable with one task per ~128 MB
  * instead of one per file — the property that keeps a single 1 TB file
  * from serializing a cluster.
  *
  * Positions. Over a plain stream (positioned at `splitStart`) a line's
  * position is the raw byte offset of its first byte. Over a BGZF
  * [[VoffStream]] it is the line's anchor: the voff of the byte
  * immediately BEFORE its first byte (its predecessor's terminating
  * newline; 0 for the stream's first line), and `splitStart`/`splitEnd`
  * are voffs — (S<<16) and (E<<16)-1 for a compressed byte range [S, E),
  * so `anchor <= (E<<16)-1` iff the anchor's block starts before E.
  * Ownership by anchor is what makes block-boundary splits airtight: a
  * task that syncs mid-file cannot tell whether its first block begins
  * mid-line or exactly at a line start, so it always discards its first
  * line; anchoring a boundary-starting line to the PREVIOUS block routes
  * it to the earlier task, which reads past its own end until anchors
  * leave its range. Both positions are taken when a line's terminator is
  * consumed, so they stay exact across refills, block boundaries and
  * buffer compaction.
  *
  * Lines. The current line is `buf(off until off + len)`, valid until
  * the next [[advance]]; the scan finds each `\n` in bulk over one
  * buffer, compacting a line that runs off the end to the buffer front
  * (and growing the buffer for a line longer than it). Every `\r` is
  * dropped, not only a trailing one; a missing final newline is
  * tolerated. Bytes pass through undecoded: invalid UTF-8 reaches a
  * byte-native parser as-is (as in Spark's own text source), while the
  * [[string]] view decodes it with U+FFFD replacement.
  */
final class LineReader(in: InputStream, splitStart: Long, splitEnd: Long) {
  private val bgzf: VoffStream = in match { case bs: VoffStream => bs; case _ => null }
  var buf = new Array[Byte](1 << 16)
  var off, len = 0
  /** Position of the current line (byte offset or anchor voff). */
  var pos = 0L

  /** valid bytes in buf / next unscanned byte */
  private var lim, scan = 0
  /** buf index and position of the latest chunk's first byte: a chunk
    * read never crosses a BGZF block boundary, so positions within it
    * are exact arithmetic */
  private var chunkAt = 0
  private var chunkPos = 0L
  /** plain streams: offset of the next unread byte */
  private var streamPos = splitStart
  /** position the next line takes */
  private var anchor = if (bgzf == null) splitStart else 0L
  private var eof, done = false

  if (splitStart != 0) readLine() // discard the first (possibly partial) line

  /** Move to the next line owned by the split; false at its end. */
  def advance(): Boolean = {
    if (!done && (anchor > splitEnd || !readLine())) done = true
    !done
  }

  /** The current line decoded as UTF-8. */
  def string: String = new String(buf, off, len, UTF_8)

  /** A line position named for error messages. */
  def where(p: Long): String = if (bgzf == null) s"byte offset $p" else s"voff $p"

  /** `(position, string)` per line, for the line formats that parse text. */
  def lines: Iterator[(Long, String)] =
    Iterator.continually(advance()).takeWhile(identity).map(_ => (pos, string))

  /** Read more bytes after `lim`, first moving the bytes from `keep` on
    * to the buffer front; false at EOF. */
  private def fill(keep: Int): Boolean = {
    if (keep > 0) {
      System.arraycopy(buf, keep, buf, 0, lim - keep)
      lim -= keep; scan -= keep; chunkAt -= keep
    }
    if (eof) return false
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val n = in.read(buf, lim, buf.length - lim)
    if (n <= 0) { eof = true; return false }
    chunkAt = lim
    // the chunk's voff from the voff of its LAST byte: exact even when
    // empty/EOF-marker blocks sit between data blocks
    chunkPos = if (bgzf == null) streamPos else bgzf.lastByteVoff - (n - 1)
    streamPos += n
    lim += n
    true
  }

  /** Consume one line into (off, len, pos); false at EOF. */
  private def readLine(): Boolean = {
    if (scan >= lim && !fill(scan)) return false
    var start = scan
    var i = scan
    var cr = false
    var found = false
    while (!found) {
      while (i < lim && buf(i) != '\n') { if (buf(i) == '\r') cr = true; i += 1 }
      if (i < lim) found = true
      else {
        val keep = start
        scan = i
        if (!fill(keep)) found = true // EOF terminates the final line
        start -= keep; i = scan
      }
    }
    // i is the terminator (or lim at EOF); its byte is the last consumed
    val last = if (i < lim) i else i - 1
    val lastPos = chunkPos + (last - chunkAt)
    pos = anchor
    anchor = if (bgzf == null) lastPos + 1 else lastPos
    scan = math.min(i + 1, lim)
    off = start
    len = i - start
    if (cr) {
      var w = start
      var r = start
      while (r < i) { if (buf(r) != '\r') { buf(w) = buf(r); w += 1 }; r += 1 }
      len = w - start
    }
    true
  }
}
