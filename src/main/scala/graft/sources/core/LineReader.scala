package graft.sources.core

import java.io.InputStream

/** Byte-offset-tracking line iterator implementing the Hadoop
  * LineRecordReader split protocol:
  *
  *  - a split [start, end) with start != 0 discards the first (possibly
  *    partial) line it sees;
  *  - lines whose start offset is <= end are produced (the straddling
  *    line at the boundary belongs to the earlier split; the later split
  *    discards it as its first line).
  *
  * This is what makes uncompressed line formats (GFF/GTF/BED/SAM/HMM)
  * readable with one task per ~128 MB instead of one per file — the
  * property that keeps a single 1 TB file from serializing a cluster.
  *
  * Offsets are in the raw (uncompressed) byte stream. Handles \n and
  * \r\n; tolerates a missing trailing newline.
  */
final class LineReader(in: InputStream, splitStart: Long, splitEnd: Long)
    extends Iterator[(Long, String)] {

  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  /** Absolute offset of buf(bufPos). */
  private var pos: Long = splitStart
  private var nextLine: (Long, String) = _
  private var done = false
  /** per-line byte accumulator, decoded as UTF-8 once per line (a
    * per-byte toChar would mangle multi-byte sequences); declared before
    * the constructor statements below that already read lines. */
  private val lineBuf = new java.io.ByteArrayOutputStream(120)

  if (splitStart != 0) readLine() // discard partial first line
  advance()

  private def fill(): Boolean = {
    bufLen = in.read(buf)
    bufPos = 0
    bufLen > 0
  }

  /** Read one line starting at `pos`; null at EOF. */
  private def readLine(): String = {
    if (bufPos >= bufLen && !fill()) return null
    lineBuf.reset()
    var found = false
    while (!found) {
      if (bufPos >= bufLen && !fill()) {
        found = true // EOF terminates the final line
      } else {
        val b = buf(bufPos)
        bufPos += 1
        pos += 1
        if (b == '\n') found = true
        else if (b != '\r') lineBuf.write(b)
      }
    }
    lineBuf.toString("UTF-8")
  }

  private def advance(): Unit = {
    if (pos > splitEnd) { done = true; nextLine = null; return }
    val lineStart = pos
    val line = readLine()
    if (line == null) { done = true; nextLine = null }
    else nextLine = (lineStart, line)
  }

  override def hasNext: Boolean = !done
  override def next(): (Long, String) = {
    val r = nextLine
    advance()
    r
  }
}

/** LineReader's protocol over a BGZF-compressed split, with positions in
  * virtual-offset (compressed-file) coordinates.
  *
  * Reported position of a line = the voff of the byte immediately BEFORE
  * its first byte (its predecessor line's terminating newline) — the
  * "anchor". Ownership by anchor is what makes block-boundary splits
  * airtight: a task that syncs mid-file cannot tell whether its first
  * block begins mid-line or exactly at a line start, so it must always
  * discard its first line; anchoring a boundary-starting line to the
  * PREVIOUS block (where its predecessor's newline lives) routes it to
  * the earlier task, which reads past its own end until anchors leave its
  * range — exactly the Hadoop LineRecordReader contract, so all existing
  * format sync logic (FASTA '>'-headers, FASTQ structural sync) works
  * unchanged against these positions.
  *
  * splitStart/splitEnd are voffs: (S<<16) and (E<<16)-1 for a compressed
  * byte range [S, E) — `anchor <= (E<<16)-1` iff the anchor's block
  * starts before E. */
final class VoffLineReader(bs: BgzfBlockStream, splitStart: Long, splitEnd: Long)
    extends Iterator[(Long, String)] {

  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  /** voff of buf(0) for the current chunk; chunk refills never cross a
    * BGZF block boundary, so voff arithmetic within a chunk is exact. */
  private var bufVoff = 0L
  /** voff of the last consumed byte; -1 before any byte. */
  private var lastVoff: Long = -1L
  private var nextLine: (Long, String) = _
  private var done = false
  private val lineBuf = new java.io.ByteArrayOutputStream(120)

  if (splitStart != 0) readLine() // discard first (possibly partial) line
  advance()

  private def fill(): Boolean = {
    bufLen = bs.read(buf)
    bufPos = 0
    // voff of buf(0) from the voff of the LAST byte read: accurate even
    // when empty/EOF-marker blocks sit between data blocks (concatenated
    // BGZF files) — a voff taken before the read would name the marker
    // while the bytes come from the block after it, shifting ownership
    if (bufLen > 0) bufVoff = bs.lastByteVoff - (bufLen - 1)
    bufLen > 0
  }

  /** Read one line; returns its anchor voff, or -1 at EOF. */
  private def readLine(): Long = {
    if (bufPos >= bufLen && !fill()) return -1
    val anchor = if (lastVoff < 0) 0L else lastVoff
    lineBuf.reset()
    var found = false
    while (!found) {
      if (bufPos >= bufLen && !fill()) {
        found = true // EOF terminates the final line
      } else {
        val b = buf(bufPos)
        lastVoff = bufVoff + bufPos
        bufPos += 1
        if (b == '\n') found = true
        else if (b != '\r') lineBuf.write(b)
      }
    }
    anchor
  }

  private def advance(): Unit = {
    if ((if (lastVoff < 0) 0L else lastVoff) > splitEnd) { done = true; nextLine = null; return }
    val anchor = readLine()
    if (anchor < 0) { done = true; nextLine = null }
    else nextLine = (anchor, lineBuf.toString("UTF-8"))
  }

  override def hasNext: Boolean = !done
  override def next(): (Long, String) = {
    val r = nextLine
    advance()
    r
  }
}
