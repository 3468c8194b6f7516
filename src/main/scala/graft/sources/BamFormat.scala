package graft.sources

import java.io.{DataInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.core._

/** BAM: BGZF-compressed binary alignments, decoded natively (no htsjdk
  * in this environment). BGZF is concatenated gzip members, which
  * MultiMemberGzipInputStream already handles; on top of that this
  * decodes the BAM v1 layout (magic, header text, reference dictionary,
  * little-endian records). Output schema matches the SAM source
  * (reference: test_bam_record_scan.test — identical 10 columns).
  *
  * A `region` option gives bam_query semantics: reads overlapping
  * 'chr[:start-end]' (1-based, end from the CIGAR reference span) —
  * served from .bai chunk pruning when the index exists, full
  * scan + filter otherwise.
  */
object BamFormat extends GraftFormat {
  override def name = "bam"
  override def extensions = Seq("bam")
  override def forcedCodec: Option[String] = Some("gzip")
  override def formatter: Option[graft.sources.core.RecordFormatter] = Some(BamFormatter)
  /** Not text-splittable, but BGZF-block-splittable: tasks sync to a
    * block header and find the first record boundary with a validated
    * prologue guesser (see guessRecordStart). */
  override def bgzfSplittable: Boolean = true

  /** `option("tags", "true")` appends the aux-field map (tag ->
    * "TYPE:VALUE", SAM-text rendering: every integer width prints as
    * `i`, the samtools BAM->SAM convention). Default stays the
    * reference's 10-column scan. */
  private[sources] def wantTags(options: Map[String, String]): Boolean =
    options.get("tags").exists(_.equalsIgnoreCase("true"))

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    if (wantTags(options))
      org.apache.spark.sql.types.StructType(SamFormat.recordSchema.fields :+
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))
    else SamFormat.recordSchema

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"

  private def readIntLE(in: DataInputStream): Int = {
    val a = in.read(); val b = in.read(); val c = in.read(); val d = in.read()
    if ((a | b | c | d) < 0) throw new EOFException
    a | (b << 8) | (c << 16) | (d << 24)
  }

  private def readFully(in: DataInputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    in.readFully(buf)
    buf
  }

  /** Parse magic + header text + reference dictionary; stream is left
    * positioned at the first alignment record. */
  private def readHeader(d: DataInputStream): Array[String] = {
    val magic = readFully(d, 4)
    require(magic.sameElements(Array[Byte]('B', 'A', 'M', 1)),
      s"not a BAM stream (magic ${magic.mkString(",")})")
    val lText = readIntLE(d)
    d.skipBytes(lText)
    val nRef = readIntLE(d)
    (0 until nRef).map { _ =>
      val lName = readIntLE(d)
      val nm = new String(readFully(d, lName), StandardCharsets.US_ASCII).takeWhile(_ != 0.toChar)
      readIntLE(d) // l_ref
      nm
    }.toArray
  }

  /** BAI fast path (falls back to scan+filter). rid comes from the BAM
    * header's reference order, read on the driver ONCE at plan time,
    * however many regions the batch carries. */
  override def regionChunks(path: String, regions: Seq[Regions.Region],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    BaiIndex.load(path, conf).map { idx =>
      val raw = GraftFiles.open(path, conf)
      val refs =
        try readHeader(new DataInputStream(Compression.wrap(raw.stream, "gzip")))
        finally raw.in.close()
      idx.chunksFor(regions, refs.indexOf(_))
    }

  override def coordinates: Option[Coordinates] = Some(Coordinates("reference", "start", "end"))

  /** Reference dictionary re-read from the file head (for streams that
    * do not start at the BAM header). */
  private def refsFromHead(split: GraftSplit): Array[String] = {
    val raw = GraftFiles.open(split.path, split.conf)
    try readHeader(new DataInputStream(Compression.wrap(raw.stream, "gzip")))
    finally raw.in.close()
  }

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    if (split.bgzfSplit)
      return readBgzfSplit(split, in.asInstanceOf[graft.sources.core.BgzfBlockStream], options)
    // `in` is the BGZF-decompressed stream (gzip codec on .bam paths is
    // forced by the data source for the 'bam' format name). For index
    // chunks the stream starts at a record boundary, so the reference
    // dictionary is re-read from the file head separately, once per
    // partition however many chunks it reads.
    val d = new DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
    val refs =
      if (split.bgzfChunk) refsFromHead(split)
      else readHeader(d)

    val wantSeq = split.needs("sequence")
    val wantQual = split.needs("quality_score")
    val tags = wantTags(options)
    // no EOFException catch: decodeRecord returns null only at a clean
    // record boundary; truncation exceptions must fail the task, not
    // end the iterator
    Iterator.continually(decodeRecord(d, refs, wantSeq, wantQual, tags)).takeWhile(_ != null)
  }

  /** Byte-range split of a BGZF BAM over the shared anchor-ownership
    * driver (core.BgzfRecordSplit) — this format contributes only the
    * framing: 4-byte block_size prefix, the prologue plausibility check,
    * and the record decoder. */
  private def readBgzfSplit(split: GraftSplit,
                            bs: graft.sources.core.BgzfBlockStream,
                            options: Map[String, String]): Iterator[Array[Any]] = {
    val wantSeq = split.needs("sequence")
    val wantQual = split.needs("quality_score")
    val tags = wantTags(options)
    val refs =
      if (split.start == 0) {
        // stream is at the file head: consume the header in place (exact
        // byte accounting — no read-ahead buffering) so the record
        // window starts right after it
        readHeader(new DataInputStream(bs))
      } else refsFromHead(split)

    graft.sources.core.BgzfRecordSplit.iterator(split, bs,
      minRecordBytes = 37, prefixBytes = 4,
      plausible = (w, k) => plausibleRecord(w, k, refs.length, depth = 2),
      recordLen = (w, c) => 4L + w.i32(c),
      decode = (w, c, len) =>
        decodeBody(w.copy(c + 4, (len - 4).toInt), refs, wantSeq, wantQual, tags))
  }

  /** Plausibility of a BAM record start at window offset k: validates
    * the fixed 32-byte prologue (reference ids in range, name length,
    * non-negative lengths, payload fits block_size, NUL-terminated read
    * name, legal CIGAR op codes) and requires the implied NEXT record to
    * chain (or land exactly on EOF) — the same heuristic the htslib
    * family uses for index-free BAM splitting; a false positive needs
    * two adjacent forged prologues. Records too large to buffer for
    * chaining (long-read data) are accepted on the prologue alone. */
  private def plausibleRecord(win: graft.sources.core.BgzfWindow, k: Long,
                              nRef: Int, depth: Int): Boolean = {
    if (!win.ensure(k + 36)) return win.atEof && win.end == k // clean chain end at EOF
    val bsz = win.i32(k)
    if (bsz < 32 || bsz > (1 << 28)) return false
    val refId = win.i32(k + 4)
    if (refId < -1 || refId >= nRef) return false
    if (win.i32(k + 8) < -1) return false // pos
    val lName = win.u8(k + 12)
    if (lName < 1) return false
    val nCig = win.u16(k + 16)
    val lSeq = win.i32(k + 20)
    if (lSeq < 0 || lSeq > (1 << 28)) return false
    val nextRef = win.i32(k + 24)
    if (nextRef < -1 || nextRef >= nRef) return false
    if (win.i32(k + 28) < -1) return false // next_pos
    if (32L + lName + 4L * nCig + (lSeq + 1) / 2 + lSeq > bsz) return false
    if (!win.ensure(k + 36 + lName + 4L * math.min(nCig, 4))) return false
    if (win.u8(k + 36 + lName - 1) != 0) return false // read name NUL
    var i = 0
    while (i < math.min(nCig, 4)) {
      if ((win.u8(k + 36 + lName + 4L * i) & 0xf) > 8) return false
      i += 1
    }
    if (depth == 0 ||
        4L + bsz > graft.sources.core.BgzfRecordSplit.MaxChainLookahead) true
    else plausibleRecord(win, k + 4 + bsz, nRef, depth - 1)
  }

  def decodeRecord(d: DataInputStream, refs: Array[String]): Array[Any] =
    decodeRecord(d, refs, wantSeq = true, wantQual = true)

  /** One alignment record, or null at the clean end of the stream.
    *
    * Clean end is EOF exactly at a record boundary — before the first
    * byte of block_size. EOF anywhere else (inside the length, inside
    * the body via readFully, or an inflater EOFException from a
    * truncated gzip stream) propagates and fails the task: a corrupt
    * input must never be reported as a successful scan of fewer rows. */
  def decodeRecord(d: DataInputStream, refs: Array[String],
                   wantSeq: Boolean, wantQual: Boolean,
                   wantTags: Boolean = false): Array[Any] = {
    val a = d.read()
    if (a < 0) return null
    val b = d.read(); val c = d.read(); val e = d.read()
    if ((b | c | e) < 0)
      throw new java.util.zip.ZipException("EOF inside BAM record length")
    val blockSize = a | (b << 8) | (c << 16) | (e << 24)
    val body = readFully(d, blockSize)
    decodeBody(body, refs, wantSeq, wantQual, wantTags)
  }

  def decodeBody(body: Array[Byte], refs: Array[String]): Array[Any] =
    decodeBody(body, refs, wantSeq = true, wantQual = true)

  /** wantSeq/wantQual: runtime pruning from Catalyst's projection — the
    * 4-bit sequence unpack and quality re-encode dominate decode CPU, so
    * a count(*) or flag-only scan skips them (slots stay, ordinals
    * fixed). */
  def decodeBody(body: Array[Byte], refs: Array[String],
                 wantSeq: Boolean, wantQual: Boolean,
                 wantTags: Boolean = false): Array[Any] = {
    val bb = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val refId = bb.getInt
    val pos0 = bb.getInt // 0-based
    val lReadName = bb.get() & 0xff
    val mapq = bb.get() & 0xff
    bb.getShort // bin
    val nCigar = bb.getShort & 0xffff
    val flag = bb.getShort & 0xffff
    val lSeq = bb.getInt
    val nextRefId = bb.getInt
    bb.getInt // next_pos
    bb.getInt // tlen
    val nameBytes = new Array[Byte](lReadName)
    bb.get(nameBytes)
    val name = new String(nameBytes, 0, lReadName - 1, StandardCharsets.US_ASCII)
    val cigarSb = new java.lang.StringBuilder
    var refSpan = 0L
    var i = 0
    while (i < nCigar) {
      val u = bb.getInt
      val len = u >>> 4
      val op = CigarOps.charAt(u & 0xf)
      cigarSb.append(len).append(op)
      if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X') refSpan += len
      i += 1
    }
    val seqSb = new java.lang.StringBuilder(if (wantSeq) lSeq else 0)
    if (wantSeq) {
      i = 0
      while (i < (lSeq + 1) / 2) {
        val b = bb.get() & 0xff
        seqSb.append(SeqCode.charAt(b >>> 4))
        if (seqSb.length() < lSeq) seqSb.append(SeqCode.charAt(b & 0xf))
        i += 1
      }
    } else bb.position(bb.position() + (lSeq + 1) / 2)
    val qualSb = new java.lang.StringBuilder(if (wantQual) lSeq else 0)
    var missingQual = false
    if (wantQual) {
      i = 0
      while (i < lSeq) {
        val q = bb.get() & 0xff
        if (q == 0xff) missingQual = true else qualSb.append((q + 33).toChar)
        i += 1
      }
    }
    // remaining bytes = optional aux tags: skipped by default (parity
    // with the reference's 10-column scan schema), decoded into the
    // tags map under option("tags", "true")
    val auxMap: org.apache.spark.sql.catalyst.util.ArrayBasedMapData =
      if (!wantTags) null else decodeAux(bb)

    val ref = if (refId < 0) null else refs(refId)
    val start: Any = if (pos0 < 0) null else (pos0 + 1).toLong
    val cigar = if (nCigar == 0) null else cigarSb.toString
    val end: Any =
      if (start == null || cigar == null) null
      else start.asInstanceOf[Long] + refSpan - 1
    val mateRef = if (nextRefId < 0) null else refs(nextRefId)
    val base = Array[Any](
      UTF8String.fromString(name),
      flag,
      if (ref == null) null else UTF8String.fromString(ref),
      start, end,
      if (mapq == 255) null else UTF8String.fromString(mapq.toString),
      if (cigar == null) null else UTF8String.fromString(cigar),
      if (mateRef == null) null else UTF8String.fromString(mateRef),
      if (!wantSeq || lSeq == 0) null else UTF8String.fromString(seqSb.toString),
      if (!wantQual || missingQual || lSeq == 0) null else UTF8String.fromString(qualSb.toString))
    if (!wantTags) base else base :+ (auxMap: Any)
  }

  /** Decode the aux region (cursor to end of record) into
    * tag -> "TYPE:VALUE" pairs with samtools' BAM->SAM text rendering:
    * A keeps its char, every integer width (c/C/s/S/i/I) prints as
    * `i`, f uses Float.toString, Z/H are the NUL-terminated payloads,
    * B renders as subtype plus comma-joined elements. Unknown type
    * bytes fail loudly — silently skipping would desynchronize every
    * later tag in the record. */
  private def decodeAux(bb: java.nio.ByteBuffer)
      : org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def zString(): String = {
      val sb = new java.lang.StringBuilder
      var c = bb.get()
      while (c != 0) { sb.append(c.toChar); c = bb.get() }
      sb.toString
    }
    def scalar(t: Char): String = t match {
      case 'A' => "A:" + bb.get().toChar
      case 'c' => "i:" + bb.get()
      case 'C' => "i:" + (bb.get() & 0xff)
      case 's' => "i:" + bb.getShort
      case 'S' => "i:" + (bb.getShort & 0xffff)
      case 'i' => "i:" + bb.getInt
      case 'I' => "i:" + (bb.getInt & 0xffffffffL)
      case 'f' => "f:" + bb.getFloat
      case 'Z' => "Z:" + zString()
      case 'H' => "H:" + zString()
      case other => throw new IllegalArgumentException(
        s"unknown BAM aux type '$other'")
    }
    def bElem(t: Char): String = t match {
      case 'c' => bb.get().toString
      case 'C' => (bb.get() & 0xff).toString
      case 's' => bb.getShort.toString
      case 'S' => (bb.getShort & 0xffff).toString
      case 'i' => bb.getInt.toString
      case 'I' => (bb.getInt & 0xffffffffL).toString
      case 'f' => bb.getFloat.toString
      case other => throw new IllegalArgumentException(
        s"unknown BAM aux B subtype '$other'")
    }
    while (bb.remaining() > 0) {
      require(bb.remaining() >= 3, "truncated BAM aux record")
      val tag = "" + bb.get().toChar + bb.get().toChar
      val typ = bb.get().toChar
      val rendered =
        if (typ == 'B') {
          val sub = bb.get().toChar
          val n = bb.getInt
          val sb = new java.lang.StringBuilder("B:").append(sub)
          var i = 0
          while (i < n) { sb.append(',').append(bElem(sub)); i += 1 }
          sb.toString
        } else scalar(typ)
      keys += UTF8String.fromString(tag)
      vals += UTF8String.fromString(rendered)
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      keys.toArray, vals.toArray)
  }
}
