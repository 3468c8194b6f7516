package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.core.{Bgzf, Regions}

/** Binning-index machinery shared by tabix (.tbi), BAM (.bai) and CSI
  * (.csi) — the reference's indexed-region fast path (noodles-backed
  * vcf_query/bam_query/bcf_query; SURVEY.md section 3.3), reimplemented
  * from the published htslib formats: an R-tree of bins over genomic
  * intervals, each bin holding chunk lists of BGZF virtual offsets,
  * plus (tbi/bai) a 16 kb linear index for lower-bound pruning.
  */
object BinnedIndex {

  final case class Chunk(beg: Long, end: Long)
  final case class RefIndex(bins: Map[Int, Seq[Chunk]], linear: Array[Long],
                            loffsets: Map[Int, Long] = Map.empty)

  final case class Index(names: IndexedSeq[String], refs: IndexedSeq[RefIndex],
                         minShift: Int = 14, depth: Int = 5) {

    /** Largest position this index can address: 2^29 for the classic
      * (14,5) tbi/bai scheme, but a CSI with deeper parameters covers
      * contigs beyond 512 Mbp — clamping a query to 2^29 there would
      * silently drop matching records past it. */
    def maxPos: Long = 1L << (minShift + 3 * depth)

    /** [[queryByRid]] on the reference the index names `seq`; an
      * unknown contig is provably empty. */
    def queryByName(seq: String, beg0: Long, end0: Long): Seq[Chunk] =
      queryByRid(names.indexOf(seq), beg0, end0)

    /** The chunks of a region set, as merged and coalesced (begin, end)
      * voff pairs ([[Regions.mergeChunks]]): each 1-based inclusive
      * region probed at [lo − 1, min(hi, maxPos)) on the reference
      * `rid` maps its contig to (−1 = absent: no chunks), both ends kept
      * at base 1 or later, where an index places a record lying before
      * it. `rid` is the index's own names, or for an index without names
      * (BAI, BCF's CSI) the data file's header dictionary. */
    def chunksFor(regions: Seq[Regions.Region],
                  rid: String => Int = names.indexOf(_)): Seq[(Long, Long)] =
      Regions.mergeChunks(regions.flatMap { case (chr, lo, hi) =>
        queryByRid(rid(chr), math.max(lo, 1L) - 1, math.max(math.min(hi, maxPos), 1L))
          .map(c => (c.beg, c.end))
      })

    /** Merged chunk ranges overlapping [beg0, end0) on reference rid,
      * trimmed on the left by the linear index (CSI: the leaf's loffset)
      * and on the right at htslib's `max_off`. */
    def queryByRid(rid: Int, beg0: Long, end0: Long): Seq[Chunk] = {
      if (rid < 0 || rid >= refs.length) return Seq.empty
      val ref = refs(rid)
      val minVoff =
        if (ref.linear.nonEmpty) {
          val w = (beg0 >> minShift).toInt
          ref.linear(math.min(math.max(w, 0), ref.linear.length - 1))
        } else {
          // CSI: loffset of the lowest overlapping leaf bin
          val leaf = leafBase + (beg0 >> minShift).toInt
          ref.loffsets.getOrElse(leaf, 0L)
        }
      val maxVoff = firstVoffRightOf(ref, end0)
      val chunks = reg2bins(beg0, end0).flatMap(ref.bins.get).flatten
        .filter(c => c.end > minVoff && c.beg < maxVoff)
        .map(c => if (c.end > maxVoff) Chunk(c.beg, maxVoff) else c)
        .sortBy(_.beg)
      val merged = scala.collection.mutable.ArrayBuffer.empty[Chunk]
      chunks.foreach { c =>
        if (merged.nonEmpty && c.beg <= merged.last.end)
          merged(merged.length - 1) = Chunk(merged.last.beg, math.max(merged.last.end, c.end))
        else merged += c
      }
      merged.toSeq
    }

    private def leafBase: Int = ((1 << (depth * 3)) - 1) / 7

    /** htslib's `max_off` (`hts_itr_query`): the first chunk start of
      * the first existing bin right of [_, end0) — walking right from
      * the leaf after end0's, and up to the parent at each first child,
      * whose range starts where that child's does. Its records begin at
      * or past end0 and the file is position-sorted, so no record from
      * that voff on overlaps the query. Long.MaxValue when no such bin
      * exists. */
    private def firstVoffRightOf(ref: RefIndex, end0: Long): Long = {
      @annotation.tailrec def walk(bin: Int): Long =
        if (bin % 8 == 1) walk((bin - 1) >> 3)
        else if (bin == 0) Long.MaxValue
        else ref.bins.get(bin) match {
          case Some(cs) if cs.nonEmpty => cs.iterator.map(_.beg).min
          case _ => walk(bin + 1)
        }
      val nBins = ((1 << (3 * depth + 3)) - 1) / 7
      val next = leafBase + ((end0 - 1) >> minShift).toInt + 1
      if (end0 >= maxPos) Long.MaxValue else walk(if (next >= nBins) 0 else next)
    }

    /** Generalized reg2bins for (minShift, depth); the classic scheme is
      * minShift=14, depth=5 (bins 0..37449). */
    def reg2bins(beg: Long, end0: Long): Seq[Int] = {
      val end = end0 - 1
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var l = 0
      var t = 0
      var s = minShift + depth * 3
      while (l <= depth) {
        val b = t + (beg >> s).toInt
        val e = t + (end >> s).toInt
        out ++= (b to e)
        s -= 3
        t += 1 << (l * 3)
        l += 1
      }
      out.toSeq
    }
  }

  private[sources] def readAll(p: Path, conf: Configuration): Array[Byte] = {
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](1 << 16)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  private[sources] def exists(p: Path, conf: Configuration): Boolean =
    p.getFileSystem(conf).exists(p)

  private[sources] def readBins(bb: ByteBuffer, nBin: Int,
                                withLoffset: Boolean): (Map[Int, Seq[Chunk]], Map[Int, Long]) = {
    val bins = Map.newBuilder[Int, Seq[Chunk]]
    val loffs = Map.newBuilder[Int, Long]
    (0 until nBin).foreach { _ =>
      val bin = bb.getInt
      if (withLoffset) loffs += bin -> bb.getLong
      val nChunk = bb.getInt
      bins += bin -> (0 until nChunk).map(_ => Chunk(bb.getLong, bb.getLong))
    }
    (bins.result(), loffs.result())
  }
}

/** The shared .tbi/.csi chunk lookup for name-addressed text formats
  * (VCF, GFF/GTF, BED): load whichever sidecar exists ONCE and probe it
  * by the names it carries. */
object TabixChunks {
  def forRegions(path: String, regions: Seq[Regions.Region],
                 conf: Configuration): Option[Seq[(Long, Long)]] =
    if (!path.toLowerCase.endsWith(".gz")) None
    else TabixIndex.load(path, conf).orElse(CsiIndex.load(path, conf)).map(_.chunksFor(regions))
}

/** Tabix .tbi: BGZF payload, magic "TBI\1", named references. */
object TabixIndex {
  import BinnedIndex._

  def load(dataPath: String, conf: Configuration): Option[Index] = {
    val p = new Path(dataPath + ".tbi")
    if (!exists(p, conf)) return None
    val bb = ByteBuffer.wrap(Bgzf.inflateAll(readAll(p, conf))).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.get() == 'T' && bb.get() == 'B' && bb.get() == 'I' && bb.get() == 1,
      s"bad tabix magic in $p")
    val nRef = bb.getInt
    bb.getInt; bb.getInt; bb.getInt; bb.getInt; bb.getInt; bb.getInt // format..skip
    val lNm = bb.getInt
    val nameBytes = new Array[Byte](lNm)
    bb.get(nameBytes)
    val names = new String(nameBytes, StandardCharsets.UTF_8)
      .split('\u0000').toIndexedSeq.filter(_.nonEmpty)
    val refs = (0 until nRef).map { _ =>
      val (bins, _) = readBins(bb, bb.getInt, withLoffset = false)
      val linear = Array.fill(bb.getInt)(bb.getLong)
      RefIndex(bins, linear)
    }
    Some(Index(names, refs))
  }
}

/** BAM .bai: plain (un-bgzipped) binary, magic "BAI\1", unnamed refs
  * (resolved through the BAM header's reference dictionary). The
  * optional pseudo-bin 37450 carries metadata, not intervals — skipped.
  */
object BaiIndex {
  import BinnedIndex._

  def load(dataPath: String, conf: Configuration): Option[Index] = {
    val p = new Path(dataPath + ".bai")
    if (!exists(p, conf)) return None
    val bb = ByteBuffer.wrap(readAll(p, conf)).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.get() == 'B' && bb.get() == 'A' && bb.get() == 'I' && bb.get() == 1,
      s"bad BAI magic in $p")
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val (bins0, _) = readBins(bb, bb.getInt, withLoffset = false)
      val bins = bins0 - 37450 // metadata pseudo-bin
      val linear = Array.fill(bb.getInt)(bb.getLong)
      RefIndex(bins, linear)
    }
    Some(Index(IndexedSeq.empty, refs))
  }
}

/** CSI .csi: BGZF payload, magic "CSI\1", parameterized (min_shift,
  * depth), per-bin loffset instead of a linear index; unnamed refs. */
object CsiIndex {
  import BinnedIndex._

  def load(dataPath: String, conf: Configuration): Option[Index] = {
    val p = new Path(dataPath + ".csi")
    if (!exists(p, conf)) return None
    val bb = ByteBuffer.wrap(Bgzf.inflateAll(readAll(p, conf))).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.get() == 'C' && bb.get() == 'S' && bb.get() == 'I' && bb.get() == 1,
      s"bad CSI magic in $p")
    val minShift = bb.getInt
    val depth = bb.getInt
    val lAux = bb.getInt
    // tabix-flavored CSI (htslib `tabix --csi`, and this library's own
    // writer) carries the text configuration + NUL-separated reference
    // names in aux — without them a name-addressed query cannot resolve.
    // BCF's CSI has rid-addressed refs and (usually) empty aux.
    val auxStart = bb.position()
    val names: IndexedSeq[String] =
      if (lAux >= 28) {
        bb.position(auxStart + 24)
        val lNm = bb.getInt
        if (lNm >= 0 && 28 + lNm <= lAux) {
          val nameBytes = new Array[Byte](lNm)
          bb.get(nameBytes)
          new String(nameBytes, StandardCharsets.UTF_8)
            .split('\u0000').toIndexedSeq.filter(_.nonEmpty)
        } else IndexedSeq.empty
      } else IndexedSeq.empty
    bb.position(auxStart + lAux)
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val (bins, loffs) = readBins(bb, bb.getInt, withLoffset = true)
      RefIndex(bins, Array.emptyLongArray, loffs)
    }
    Some(Index(names, refs, minShift, depth))
  }
}
