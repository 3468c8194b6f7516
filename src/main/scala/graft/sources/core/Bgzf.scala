package graft.sources.core

import java.io.InputStream
import java.util.zip.Inflater

/** BGZF: concatenated gzip members, each with a BSIZE extra field giving
  * the compressed block length, enabling random access via virtual file
  * offsets voff = (compressedBlockOffset << 16) | offsetInUncompressedBlock
  * (the htslib/tabix addressing scheme).
  */
object Bgzf {

  /** Reads one BGZF block at the stream's current position.
    * Returns (compressedLength, uncompressedBytes) or null at EOF.
    *
    * Truncation/corruption mid-block throws ZipException, deliberately
    * NOT EOFException: the BAM/BCF record decoders treat EOFException
    * from their DataInputStream as the clean end-of-records signal, so
    * an EOFException from here would be absorbed as a normal stream end
    * and a corrupt 100 GB input would silently yield partial results
    * instead of a failed task. */
  def readBlock(in: InputStream): (Int, Array[Byte]) = {
    val header = new Array[Byte](12)
    var got = 0
    while (got < 12) {
      val n = in.read(header, got, 12 - got)
      if (n < 0) {
        if (got == 0) return null
        throw new java.util.zip.ZipException("truncated BGZF header")
      }
      got += n
    }
    require((header(0) & 0xff) == 0x1f && (header(1) & 0xff) == 0x8b, "not a gzip member")
    val xlen = (header(10) & 0xff) | ((header(11) & 0xff) << 8)
    val extra = readFully(in, xlen)
    // find BSIZE subfield (SI1=66, SI2=67)
    var bsize = -1
    var i = 0
    while (i + 4 <= xlen) {
      val si1 = extra(i) & 0xff
      val si2 = extra(i + 1) & 0xff
      val slen = (extra(i + 2) & 0xff) | ((extra(i + 3) & 0xff) << 8)
      if (si1 == 66 && si2 == 67 && slen == 2)
        bsize = ((extra(i + 4) & 0xff) | ((extra(i + 5) & 0xff) << 8)) + 1
      i += 4 + slen
    }
    require(bsize > 0, "gzip member without BGZF BSIZE field")
    val cdataLen = bsize - 12 - xlen - 8
    val cdata = readFully(in, cdataLen)
    val trailer = readFully(in, 8)
    val isize = (trailer(4) & 0xff) | ((trailer(5) & 0xff) << 8) |
      ((trailer(6) & 0xff) << 16) | ((trailer(7) & 0xff) << 24)
    val out = new Array[Byte](isize)
    if (isize > 0) {
      val inf = new Inflater(true)
      inf.setInput(cdata)
      var off = 0
      var stalled = false
      while (off < isize && !inf.finished() && !stalled) {
        val n = inf.inflate(out, off, isize - off)
        // a truncated deflate payload makes inflate() return 0 with all
        // input consumed but the stream unfinished — fail the task
        // instead of spinning
        if (n == 0 && inf.needsInput()) stalled = true else off += n
      }
      inf.end()
      if (stalled || off != isize)
        throw new java.util.zip.ZipException(
          s"truncated BGZF block: inflated $off of $isize bytes")
    }
    (bsize, out)
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r = in.read(buf, got, n - got)
      if (r < 0) throw new java.util.zip.ZipException("truncated BGZF block")
      got += r
    }
    buf
  }

  /** Fully decompress a BGZF byte array (for small payloads like .tbi). */
  def inflateAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.io.ByteArrayInputStream(bytes)
    val out = new java.io.ByteArrayOutputStream()
    var block = readBlock(in)
    while (block != null) {
      out.write(block._2)
      block = readBlock(in)
    }
    out.toByteArray
  }

  /** Parse a BGZF block header at buf(off): returns BSIZE (total
    * compressed block length) or -1 if not a valid header. Checks the
    * gzip magic, FEXTRA flag, and walks the extra subfields for BC/BSIZE
    * — the triple that distinguishes BGZF from both plain gzip and
    * arbitrary payload bytes. */
  def headerBsize(buf: Array[Byte], off: Int, len: Int): Int = {
    if (off + 14 > len) return -1
    if ((buf(off) & 0xff) != 0x1f || (buf(off + 1) & 0xff) != 0x8b ||
        buf(off + 2) != 8 || (buf(off + 3) & 4) == 0) return -1
    val xlen = (buf(off + 10) & 0xff) | ((buf(off + 11) & 0xff) << 8)
    if (off + 12 + xlen > len) return -1
    var i = off + 12
    val end = off + 12 + xlen
    while (i + 4 <= end) {
      val si1 = buf(i) & 0xff
      val si2 = buf(i + 1) & 0xff
      val slen = (buf(i + 2) & 0xff) | ((buf(i + 3) & 0xff) << 8)
      if (si1 == 66 && si2 == 67 && slen == 2 && i + 6 <= end)
        return ((buf(i + 4) & 0xff) | ((buf(i + 5) & 0xff) << 8)) + 1
      i += 4 + slen
    }
    -1
  }

  /** Driver-side probe: does this file start with a BGZF block? Reads at
    * most 4 KB once per (path, length, mtime) — cached, since
    * planInputPartitions runs per action and a large table would
    * otherwise pay one serial remote open per file per plan. The mtime
    * in the key catches a file overwritten in place at the same byte
    * length; the size cap keeps a long-lived driver over a huge catalog
    * from growing the map without bound (the probe is cheap, eviction
    * just re-probes). The property licenses byte-range splitting of a
    * compressed file (plain gzip streams cannot be entered mid-way,
    * BGZF blocks can). */
  private val bgzfProbeCacheCap = 65536
  private val bgzfProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def isBgzf(path: String, fileLen: Long, mtime: Long,
             conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val key = s"$path:$fileLen:$mtime"
    val cached = bgzfProbeCache.get(key)
    if (cached != null) return cached
    // transient I/O errors are NOT cached: a single hiccup must not
    // permanently disable splitting for the driver's lifetime
    val probed: Option[Boolean] =
      try {
        val raw = GraftFiles.open(path, conf)
        try {
          val buf = new Array[Byte](4096)
          var got = 0
          var n = 0
          while (got < buf.length && n >= 0) {
            n = raw.stream.read(buf, got, buf.length - got)
            if (n > 0) got += n
          }
          Some(headerBsize(buf, 0, got) > 0)
        } finally raw.in.close()
      } catch { case _: Exception => None }
    probed match {
      case Some(v) =>
        if (bgzfProbeCache.size >= bgzfProbeCacheCap) bgzfProbeCache.clear()
        bgzfProbeCache.put(key, v); v
      case None    => false
    }
  }

  /** Executor-side sync + open in ONE read: finds the first BGZF block
    * boundary at or after `from` (bounded by `until`, exclusive) and
    * returns a decompressing stream positioned there, serving the rest
    * of the probe window before touching the source again — one ranged
    * read per task, not two. A candidate offset is accepted only when
    * its header parses AND the next block header (or exact file end)
    * sits BSIZE bytes later — a forged 18-byte chained pair inside
    * deflate payload is vanishingly unlikely. None when no boundary
    * starts in [from, until) (the range is interior to one block; that
    * block's owner is the earlier split). */
  def openSynced(raw: FSDataStream, from: Long, until: Long,
                 fileLen: Long): Option[BgzfBlockStream] = {
    if (from == 0) {
      raw.seek(0)
      return Some(new BgzfBlockStream(raw.stream, 0, () => raw.in.close()))
    }
    // any interior offset is within 64 KiB of the next boundary (BSIZE is
    // 16-bit); window = scan range + one max block + header slack
    val scanLimit = math.min(until, math.min(from + 0x10000L + 1, fileLen))
    if (scanLimit <= from) return None
    val winLen = (math.min(fileLen, from + 2L * 0x10000 + 4096) - from).toInt
    val win = new Array[Byte](winLen)
    raw.seek(from)
    var got = 0
    var n = 0
    while (got < winLen && n >= 0) {
      n = raw.stream.read(win, got, winLen - got)
      if (n > 0) got += n
    }
    var k = 0
    val kMax = (scanLimit - from).toInt
    while (k < kMax) {
      val bsize = headerBsize(win, k, got)
      if (bsize > 0) {
        val nxt = k + bsize
        val chained = (from + nxt == fileLen) ||
          (from + nxt < fileLen && headerBsize(win, nxt, got) > 0)
        if (chained) {
          // window tail first, then the source (already positioned at
          // from + got by the sequential reads above)
          val in = new java.io.SequenceInputStream(
            new java.io.ByteArrayInputStream(win, k, got - k), raw.stream)
          return Some(new BgzfBlockStream(in, (from + k) << 16, () => raw.in.close()))
        }
      }
      k += 1
    }
    None
  }

  /** Executor-side open of an index chunk [startVoff, endVoff): seeks to
    * the chunk's first block and bounds the stream at endVoff, so a task
    * reads ONLY the blocks its chunk covers — the I/O shape that makes
    * indexed region queries sublinear at 100 TB. */
  def openChunk(raw: FSDataStream, startVoff: Long, endVoff: Long): BgzfBlockStream = {
    raw.seek(startVoff >>> 16)
    new BgzfBlockStream(raw.stream, startVoff, () => raw.in.close(), endVoff)
  }

  /** Executor-side open of a partition's index chunks: one stream over
    * the one open file that seeks to and inflates each chunk in turn.
    * Chunks are sorted and their bounds are record boundaries, so the
    * concatenation is a valid record stream in file order. */
  def openChunks(raw: FSDataStream, chunks: Seq[(Long, Long)]): BgzfChunkStream =
    new BgzfChunkStream(raw, chunks)
}

/** A decompressed BGZF stream that names the virtual offset of the last
  * byte it returned (-1 before the first read); bulk reads never cross a
  * block boundary. */
trait VoffStream {
  def lastByteVoff: Long
}

/** [[Bgzf.openChunks]]: the chunks' bounded streams one after another
  * over one open file, each opened when the one before it ends. */
final class BgzfChunkStream(raw: FSDataStream, chunks: Seq[(Long, Long)])
    extends InputStream with VoffStream {
  private val rest = chunks.iterator
  private var cur: BgzfBlockStream = _

  def lastByteVoff: Long = if (cur == null) -1L else cur.lastByteVoff

  private def nextChunk(): Boolean = rest.hasNext && {
    val (s, e) = rest.next()
    cur = Bgzf.openChunk(raw, s, e) // closed with the file, below
    true
  }

  override def read(): Int = {
    var b = if (cur == null) -1 else cur.read()
    while (b < 0 && nextChunk()) b = cur.read()
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    var n = if (cur == null) -1 else cur.read(b, off, len)
    while (n < 0 && nextChunk()) n = cur.read(b, off, len)
    n
  }

  override def close(): Unit = raw.in.close()
}

/** Decompressed stream over consecutive BGZF blocks from `startVoff` to
  * `endVoff` (exclusive; unbounded by default, i.e. to file EOF),
  * exposing virtual-offset positions (coff<<16|intra, the tabix
  * addressing scheme). Bulk reads never cross a block boundary, so
  * callers can attribute every returned byte to its block — the
  * bookkeeping that lets split ownership be decided in compressed-file
  * coordinates. This is the executor-side engine of index-free parallel
  * scans over bgzipped files (the reference's single-producer Arrow
  * stream, exon arrow_table_function/module.cpp:36, is the serial design
  * this replaces) and of index-chunk reads, where the end bound keeps a
  * task from decompressing any block its chunk does not cover. */
final class BgzfBlockStream(in: InputStream, startVoff: Long,
                            closeUnderlying: () => Unit,
                            endVoff: Long = Long.MaxValue) extends InputStream with VoffStream {
  private var blockCoff: Long = startVoff >>> 16
  private var nextCoff: Long = blockCoff
  private var block: Array[Byte] = _
  /** bytes of `block` before endVoff (the whole block unless the end
    * bound falls inside it) */
  private var limit = 0
  private var pos = 0
  private var eof = false
  /** voff of the last byte returned; -1 before the first read. */
  var lastByteVoff: Long = -1L

  // `in` must already be positioned at the block boundary
  // `startVoff >>> 16` (Bgzf.openSynced / Bgzf.openChunk arrange this)
  loadBlock()
  // an index chunk may begin mid-block
  if (!eof && blockCoff == (startVoff >>> 16))
    pos = math.min((startVoff & 0xffff).toInt, limit)

  private def loadBlock(): Unit = {
    blockCoff = nextCoff
    // every byte of a block starting at or past the end bound is out of
    // range: stop without reading it (an end voff with intra offset 0
    // names the first block NOT covered)
    if ((blockCoff << 16) >= endVoff) { eof = true; block = null; return }
    Bgzf.readBlock(in) match {
      case null => eof = true; block = null
      case (clen, data) =>
        nextCoff = blockCoff + clen
        block = data
        limit =
          if (blockCoff == (endVoff >>> 16)) math.min(data.length, (endVoff & 0xffff).toInt)
          else data.length
        pos = 0
        if (data.length == 0) loadBlock() // skip EOF-marker/empty blocks
    }
  }

  override def read(): Int = {
    if (eof) return -1
    if (pos >= limit) { loadBlock(); if (eof) return -1 }
    val b = block(pos) & 0xff
    lastByteVoff = (blockCoff << 16) | pos.toLong
    pos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0 // InputStream contract; must not touch state
    if (eof) return -1
    if (pos >= limit) { loadBlock(); if (eof) return -1 }
    val n = math.min(len, limit - pos)
    System.arraycopy(block, pos, b, off, n)
    pos += n
    lastByteVoff = (blockCoff << 16) | (pos - 1).toLong
    n
  }

  override def close(): Unit = closeUnderlying()
}

/** Buffered random-access window over a BgzfBlockStream's decompressed
  * bytes with per-byte voff attribution and front-trimming — the bounded
  * working set a BAM split reader needs to guess a record boundary and
  * then parse records that straddle blocks. Memory is O(largest record +
  * one block), not O(split). */
final class BgzfWindow(bs: BgzfBlockStream) {
  import BgzfWindow.Chunk
  private val chunks = new java.util.ArrayDeque[Chunk]()
  private var endAbs = 0L
  private var eofSeen = false
  private var hint: Chunk = _ // last chunk hit — sequential access is O(1)

  /** Buffer until absolute offset `upTo` (exclusive) is available;
    * false when EOF intervenes first. */
  def ensure(upTo: Long): Boolean = {
    while (endAbs < upTo && !eofSeen) {
      val buf = new Array[Byte](1 << 16)
      val n = bs.read(buf) // block-bounded: one chunk = one voff run
      if (n < 0) eofSeen = true
      else {
        // chunk voff from the last byte read — exact even across
        // skipped empty/EOF-marker blocks (concatenated BGZF)
        chunks.addLast(Chunk(endAbs, bs.lastByteVoff - (n - 1),
          if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)))
        endAbs += n
      }
    }
    endAbs >= upTo
  }

  def end: Long = endAbs
  def atEof: Boolean = eofSeen

  /** Drop buffered chunks wholly before `abs`. */
  def trimBefore(abs: Long): Unit = {
    while (!chunks.isEmpty && {
      val c = chunks.peekFirst
      c.startAbs + c.bytes.length <= abs
    }) {
      val dropped = chunks.removeFirst()
      if (hint eq dropped) hint = null
    }
  }

  private def chunkOf(abs: Long): Chunk = {
    val h = hint
    if (h != null && abs >= h.startAbs && abs < h.startAbs + h.bytes.length) return h
    val it = chunks.iterator()
    while (it.hasNext) {
      val c = it.next()
      if (abs >= c.startAbs && abs < c.startAbs + c.bytes.length) { hint = c; return c }
    }
    throw new IllegalStateException(s"window offset $abs not buffered")
  }

  def u8(abs: Long): Int = {
    val c = chunkOf(abs)
    c.bytes((abs - c.startAbs).toInt) & 0xff
  }
  def u16(abs: Long): Int = u8(abs) | (u8(abs + 1) << 8)
  def i32(abs: Long): Int =
    u8(abs) | (u8(abs + 1) << 8) | (u8(abs + 2) << 16) | (u8(abs + 3) << 24)

  /** voff of the byte at absolute offset `abs` (same-block arithmetic —
    * chunks never span blocks). */
  def voffAt(abs: Long): Long = {
    val c = chunkOf(abs)
    c.voff + (abs - c.startAbs)
  }

  def copy(abs: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var done = 0
    while (done < len) {
      val c = chunkOf(abs + done)
      val o = (abs + done - c.startAbs).toInt
      val n = math.min(len - done, c.bytes.length - o)
      System.arraycopy(c.bytes, o, out, done, n)
      done += n
    }
    out
  }
}

object BgzfWindow {
  private final case class Chunk(startAbs: Long, voff: Long, bytes: Array[Byte])
}

/** Shared machinery for byte-range splits of BGZF-framed RECORD formats
  * (BAM, BCF). One copy of the correctness-critical protocol — record
  * guessing with trim-as-you-scan, the skip of records anchored before
  * the range, the anchor-ownership stop — parameterized by the format's
  * framing: minimum record size, length-prefix width, a prologue
  * plausibility check, the record length at a cursor, and the decoder.
  *
  * Ownership: a record belongs to the split whose compressed range
  * contains the start of the block holding the byte BEFORE it (its
  * predecessor's last byte) — records beginning exactly at a block
  * boundary route to the earlier split, which reads past its end until
  * anchors leave its range.
  */
object BgzfRecordSplit {

  /** Guessing scan bound. Window memory stays bounded (trimmed as the
    * scan advances); records larger than this cannot be synced past. */
  val MaxGuessScan: Long = 64L << 20

  /** Chain-validation lookahead bound: a candidate whose implied record
    * is larger than this is accepted on prologue checks alone rather
    * than buffering hundreds of MB to find the next prologue (the same
    * trade the htslib-family guessers make for long-read data). */
  val MaxChainLookahead: Long = 8L << 20

  def guess(win: BgzfWindow, minRecordBytes: Int,
            plausible: (BgzfWindow, Long) => Boolean): Long = {
    var k = 0L
    while (k < MaxGuessScan) {
      if (!win.ensure(k + minRecordBytes)) return -1 // no record fits before EOF
      if (plausible(win, k)) return k
      k += 1
      // bound memory on long scans — keep k-1: the caller's first
      // anchorOf(cursor) reads the byte before the found record
      if ((k & 0xffff) == 0) win.trimBefore(k - 1)
    }
    throw new IllegalStateException(
      s"no record boundary within $MaxGuessScan bytes of a BGZF split point — " +
        "a file with records this large needs an indexed read or a " +
        "maxSplitBytes read option of at least the file size")
  }

  def iterator(split: GraftSplit, bs: BgzfBlockStream,
               minRecordBytes: Int, prefixBytes: Int,
               plausible: (BgzfWindow, Long) => Boolean,
               recordLen: (BgzfWindow, Long) => Long,
               decode: (BgzfWindow, Long, Long) => Array[Any]): Iterator[Array[Any]] = {
    val startCoff = split.start >>> 16
    val endCoff = (split.end + 1) >>> 16
    // at file start the caller has already consumed the format header
    // from the stream, so window offset 0 is the first record and its
    // anchor is the header's last byte
    val initialAnchor = if (split.start == 0) bs.lastByteVoff else -1L
    val win = new BgzfWindow(bs)
    def anchorOf(c: Long): Long = if (c == 0) initialAnchor else win.voffAt(c - 1)

    var cursor = 0L
    if (split.start != 0) {
      cursor = guess(win, minRecordBytes, plausible)
      if (cursor < 0) return Iterator.empty
      // skip records anchored in a block before our range (the previous
      // split reads past its end and owns them)
      var skipping = true
      while (skipping && win.ensure(cursor + prefixBytes)) {
        val a = anchorOf(cursor)
        if (a < 0 || (a >>> 16) < startCoff) {
          val len = recordLen(win, cursor)
          if (!win.ensure(cursor + len)) return Iterator.empty
          cursor += len
          win.trimBefore(cursor - 1)
        } else skipping = false
      }
    }

    new Iterator[Array[Any]] {
      private var nextRow: Array[Any] = _
      private var done = false
      advance()

      private def advance(): Unit = {
        nextRow = null
        if (done) return
        if (!win.ensure(cursor + prefixBytes)) {
          if (win.end != cursor)
            throw new java.io.EOFException("truncated record at BGZF stream end")
          done = true
        } else {
          val a = anchorOf(cursor)
          if (a >= 0 && (a >>> 16) >= endCoff) { done = true }
          else {
            val len = recordLen(win, cursor)
            if (!win.ensure(cursor + len))
              throw new java.io.EOFException("truncated record body at BGZF stream end")
            val rec = decode(win, cursor, len)
            cursor += len
            win.trimBefore(cursor - 1)
            nextRow = rec
          }
        }
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): Array[Any] = {
        val r = nextRow
        advance()
        r
      }
    }
  }
}

/** BGZF writer: payload chunked into <=64 KiB blocks, each a gzip member
  * carrying the BC/BSIZE extra subfield, closed with the spec's 28-byte
  * EOF marker — output is readable by htslib/bgzip/tabix tooling and by
  * any plain multi-member gzip reader. One instance per part file
  * (executor-local); blocks are the compression unit, so a future
  * indexer can address them by virtual offset. Blocks deflate at zlib
  * level 4, the knee of the size/speed table measured with this writer
  * (BENCH_NOTES): ~2.8x level 6's deflate rate for ~8.5% more bytes,
  * and no slower than level 3 while smaller than it.
  */
final class BgzfOutputStream(out: java.io.OutputStream) extends java.io.OutputStream {
  private val MaxPayload = 0xff00 // htslib's block payload bound
  private val buf = new Array[Byte](MaxPayload)
  private var n = 0
  private val deflater = new java.util.zip.Deflater(4, true) // raw deflate
  private val comp = new Array[Byte](MaxPayload + 1024)
  private var closed = false
  private var compressedWritten = 0L
  private var uncompressedWritten = 0L
  // (compressed, uncompressed) offset of each block AFTER the first —
  // exactly the .gzi (bgzip -i) table; one entry per 64 KB block, so a
  // 100 GB stream's table is a few MB
  private val blockTable = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** The .gzi entries accumulated so far (valid after close). */
  def gziEntries: Seq[(Long, Long)] = blockTable.toSeq

  /** BGZF virtual offset of the NEXT byte to be written:
    * compressed-offset-of-current-block << 16 | offset-within-block.
    * This is the coordinate the binning indexes (.tbi/.csi) address, so
    * an index builder samples it immediately before/after rendering a
    * record. Only valid before `close()` (the final flush changes the
    * block layout after it). */
  def virtualOffset: Long = (compressedWritten << 16) | n.toLong

  override def write(b: Int): Unit = {
    buf(n) = b.toByte; n += 1
    if (n == MaxPayload) flushBlock()
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off; var l = len
    while (l > 0) {
      val c = math.min(l, MaxPayload - n)
      System.arraycopy(b, o, buf, n, c)
      n += c; o += c; l -= c
      if (n == MaxPayload) flushBlock()
    }
  }

  private def flushBlock(): Unit = if (n > 0) {
    deflater.reset()
    deflater.setInput(buf, 0, n)
    deflater.finish()
    var clen = 0
    while (!deflater.finished()) clen += deflater.deflate(comp, clen, comp.length - clen)
    val crc = new java.util.zip.CRC32()
    crc.update(buf, 0, n)
    val bsize = 18 + clen + 8
    require(bsize - 1 <= 0xffff, s"BGZF block overflow ($bsize)")
    val h = java.nio.ByteBuffer.allocate(18).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    h.put(0x1f.toByte).put(0x8b.toByte).put(8.toByte).put(4.toByte) // magic, deflate, FEXTRA
    h.putInt(0).put(0.toByte).put(0xff.toByte)                      // mtime, XFL, OS=unknown
    h.putShort(6.toShort)                                           // XLEN
    h.put('B'.toByte).put('C'.toByte).putShort(2.toShort)           // BC subfield, SLEN
    h.putShort((bsize - 1).toShort)                                 // BSIZE
    out.write(h.array())
    out.write(comp, 0, clen)
    val t = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t.putInt(crc.getValue.toInt).putInt(n)
    out.write(t.array())
    compressedWritten += bsize
    uncompressedWritten += n
    blockTable += ((compressedWritten, uncompressedWritten))
    n = 0
  }

  override def flush(): Unit = { flushBlock(); out.flush() }

  override def close(): Unit = if (!closed) {
    closed = true
    flushBlock()
    out.write(BgzfOutputStream.EofMarker)
    out.flush()
    deflater.end()
    out.close()
  }
}

object BgzfOutputStream {
  /** The spec's fixed EOF sentinel: an empty BGZF block. */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)
}

/** The .gzi block offset table (`bgzip -i`/`--reindex` sidecar): the
  * (compressed, uncompressed) start offsets of every BGZF block after
  * the first, little-endian uint64 pairs behind a uint64 count. It is
  * what turns UNCOMPRESSED coordinates (a .fai's byte offsets) into
  * seekable positions in bgzf data — the missing half of random access
  * over compressed FASTA. */
object Gzi {

  final case class Index(entries: Array[(Long, Long)]) {
    /** Block containing uncompressed offset `uoff`:
      * (compressedBlockStart, uncompressedBlockStart). */
    def blockOf(uoff: Long): (Long, Long) = {
      // greatest entry with uncompressed start <= uoff; block 0 is the
      // implicit (0, 0) entry
      var lo = -1
      var hi = entries.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (entries(mid)._2 <= uoff) lo = mid else hi = mid - 1
      }
      if (lo < 0) (0L, 0L) else entries(lo)
    }
  }

  def save(entries: Seq[(Long, Long)], out: java.io.OutputStream): Unit = {
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * entries.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(entries.length.toLong)
    entries.foreach { case (c, u) => bb.putLong(c); bb.putLong(u) }
    out.write(bb.array(), 0, bb.position())
    out.close()
  }

  /** Build a .gzi for an EXISTING bgzf file by walking block headers —
    * BSIZE from the BC extra field, uncompressed size from each
    * block's ISIZE trailer; no inflation. Writes the sidecar and
    * returns the index. */
  def build(dataPath: String, conf: org.apache.hadoop.conf.Configuration): Index = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try {
      var c = 0L
      var u = 0L
      val header = new Array[Byte](18)
      val trailer = new Array[Byte](4)
      while (c < fileLen) {
        in.seek(c)
        in.readFully(header)
        val bsize = Bgzf.headerBsize(header, 0, 18)
        require(bsize > 0, s"gzi build: not a BGZF block at $c in $dataPath")
        in.seek(c + bsize - 4)
        in.readFully(trailer)
        val isize = java.nio.ByteBuffer.wrap(trailer)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xffffffffL
        // record starts of subsequent DATA blocks only (htslib layout,
        // and what the write path emits): the EOF sentinel (isize == 0)
        // gets NO entry, so building a .gzi over an existing file and
        // writing one alongside a fresh file produce byte-identical
        // sidecars for the same bgzf bytes.
        if (c > 0 && isize > 0) entries += ((c, u))
        c += bsize
        u += isize
      }
    } finally in.close()
    val out = fs.create(new org.apache.hadoop.fs.Path(dataPath + ".gzi"), true)
    val idx = Index(entries.toArray)
    save(idx.entries.toSeq, out)
    idx
  }

  def load(dataPath: String, conf: org.apache.hadoop.conf.Configuration): Option[Index] = {
    val p = new org.apache.hadoop.fs.Path(dataPath + ".gzi")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val raw = new Array[Byte](len)
      in.readFully(raw)
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bb.getLong.toInt
      Some(Index(Array.fill(n)((bb.getLong, bb.getLong))))
    } finally in.close()
  }

  /** Read uncompressed bytes [from, until) out of a bgzf file by
    * seeking to the containing block and inflating forward. */
  def readRange(dataPath: String, conf: org.apache.hadoop.conf.Configuration,
                idx: Index, from: Long, until: Long): Array[Byte] = {
    require(until >= from, s"gzi readRange: bad range [$from, $until)")
    require(until - from <= Int.MaxValue,
      s"gzi readRange: span ${until - from} bytes exceeds 2 GiB — read in windows")
    val out = new Array[Byte]((until - from).toInt)
    if (out.length == 0) return out
    val (cStart, uStart) = idx.blockOf(from)
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(cStart)
      var uPos = uStart
      var written = 0
      var block = Bgzf.readBlock(in)
      while (block != null && written < out.length) {
        val (_, bytes) = block
        val blockEnd = uPos + bytes.length
        if (blockEnd > from) {
          val srcOff = math.max(from - uPos, 0L).toInt
          val n = math.min(bytes.length - srcOff, out.length - written)
          System.arraycopy(bytes, srcOff, out, written, n)
          written += n
        }
        uPos = blockEnd
        block = if (written < out.length) Bgzf.readBlock(in) else null
      }
      require(written == out.length,
        s"gzi readRange: $dataPath ended at ${from + written}, wanted $until")
      out
    } finally in.close()
  }
}
