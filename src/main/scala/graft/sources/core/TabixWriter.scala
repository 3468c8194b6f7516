package graft.sources.core

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Tabix (.tbi) / CSI (.csi) index construction — the write-side
  * inverse of [[graft.sources.TabixIndex]]/[[graft.sources.CsiIndex]],
  * from the published htslib formats: a bin R-tree over genomic
  * intervals plus a lower-bound structure (16 kb linear index for TBI,
  * per-bin loffset for CSI), BGZF-compressed on disk. Building while
  * WRITING closes the round trip the read side opened: a sink that
  * emits coordinate-sorted BGZF text ships a sidecar index this
  * library's own region readers — and stock htslib tooling — can query
  * without scanning.
  *
  * TBI fixes (minShift=14, depth=5) and addresses 2^29 bases; CSI
  * parameterizes both, so contigs past 512 Mbp index with e.g.
  * depth=6. One builder indexes ONE output file; records must arrive
  * coordinate-sorted (the builder throws on violation rather than emit
  * an index that silently drops records at query time).
  *
  * Scale note: the builder is O(1) amortized per record with state
  * bounded by bins-touched + linear windows per reference, so it adds
  * nothing to the writer's shuffle or memory profile; every part file
  * gets its own sidecar in the task that wrote it (index build is
  * embarrassingly parallel, like the write).
  */
final class TabixIndexBuilder(minShift: Int = 14, depth: Int = 5) {
  import TabixIndexBuilder._

  private val maxPos = 1L << (minShift + 3 * depth)

  private final class Ref(val name: String) {
    val bins = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    // -1 = unset: voff 0 is a REAL offset (the file's first record), so
    // 0 cannot double as the sentinel — that exact confusion would give
    // window 0 a too-high lower bound and prune the first chunk away
    val linear = mutable.ArrayBuffer.empty[Long]
    val loffsets = mutable.HashMap.empty[Int, Long] // CSI: first voff per bin
    var lastBeg = -1L
  }

  private val refs = mutable.ArrayBuffer.empty[Ref]
  private val refByName = mutable.HashMap.empty[String, Int]
  private var finished = false

  /** Register one record occupying [beg0, end0) (0-based half-open) on
    * `name`, stored at BGZF virtual offsets [voffBeg, voffEnd). A record
    * before base 1 (a VCF POS 0 telomere) indexes as htslib's
    * `hts_idx_push` clamps it: a begin below 0 at 0, an end at or below
    * 0 at 1. */
  def add(name: String, beg: Long, end: Long, voffBeg: Long, voffEnd: Long): Unit = {
    require(!finished, "TabixIndexBuilder: add after finish")
    val beg0 = math.max(beg, 0L)
    val end0 = if (end <= 0) 1L else end
    require(end0 > beg0, s"TabixIndexBuilder: bad interval [$beg, $end) on $name")
    require(end0 <= maxPos,
      s"TabixIndexBuilder: $name:$end0 exceeds this scheme's 2^${minShift + 3 * depth} " +
        "limit (use CSI with a larger depth)")
    val ref = refByName.get(name) match {
      case Some(rid) =>
        require(rid == refs.length - 1,
          s"TabixIndexBuilder: input not sorted — reference '$name' reappears " +
            s"after '${refs.last.name}'")
        refs(rid)
      case None =>
        val r = new Ref(name)
        refByName += name -> refs.length
        refs += r
        r
    }
    require(beg0 >= ref.lastBeg,
      s"TabixIndexBuilder: input not sorted — $name:$beg0 after $name:${ref.lastBeg}")
    ref.lastBeg = beg0

    val bin = reg2bin(beg0, end0, minShift, depth)
    ref.loffsets.getOrElseUpdate(bin, voffBeg)
    ref.bins.getOrElseUpdate(bin, mutable.ArrayBuffer.empty) match {
      case chunks if chunks.nonEmpty && chunks.last._2 == voffBeg =>
        // adjacent records in the same bin coalesce into one chunk —
        // htslib's merge, which is what keeps chunk lists small
        chunks(chunks.length - 1) = (chunks.last._1, voffEnd)
      case chunks => chunks += ((voffBeg, voffEnd))
    }

    // linear index: smallest voff of any record overlapping each window.
    // Sorted input means the first write per window is the minimum.
    val wBeg = (beg0 >> minShift).toInt
    val wEnd = ((end0 - 1) >> minShift).toInt
    while (ref.linear.length <= wEnd) ref.linear += -1L
    var w = wBeg
    while (w <= wEnd) {
      if (ref.linear(w) == -1L) ref.linear(w) = voffBeg
      w += 1
    }
  }

  private def fillLinear(): Unit =
    // forward-fill unset linear windows with the previous window's
    // offset (htslib's save-time fill): an empty window's lower bound
    // is wherever the previous window started — never 0, which would
    // defeat the prune for queries landing in coverage gaps
    refs.foreach { r =>
      var prev = 0L
      var i = 0
      while (i < r.linear.length) {
        if (r.linear(i) == -1L) r.linear(i) = prev else prev = r.linear(i)
        i += 1
      }
    }

  /** Serialize the .tbi (BGZF-wrapped) to `out` and close it.
    * `preset`/`colSeq`/`colBeg`/`colEnd`/`meta`/`skip` are the tabix
    * header's coordinate configuration — readers that parse the data
    * text themselves (htslib) need them; this library's own reader gets
    * coordinates from the format parser and ignores them. */
  def finish(out: OutputStream, preset: Int = 0, colSeq: Int = 1,
             colBeg: Int = 4, colEnd: Int = 5, meta: Char = '#',
             skip: Int = 0): Unit = {
    require(!finished, "TabixIndexBuilder: finish called twice")
    require(minShift == 14 && depth == 5,
      "TBI is fixed at (14, 5); use finishCsi for other schemes")
    finished = true
    fillLinear()
    val nameBlob = nameBytes
    val size = 36 + nameBlob.length + refs.map { r =>
      8 + r.bins.valuesIterator.map(c => 8 + 16 * c.length).sum + 8 * r.linear.length
    }.sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('T'.toByte).put('B'.toByte).put('I'.toByte).put(1.toByte)
    bb.putInt(refs.length)
    bb.putInt(preset).putInt(colSeq).putInt(colBeg).putInt(colEnd)
    bb.putInt(meta.toInt).putInt(skip)
    bb.putInt(nameBlob.length)
    bb.put(nameBlob)
    refs.foreach { r =>
      bb.putInt(r.bins.size)
      r.bins.foreach { case (bin, chunks) =>
        bb.putInt(bin)
        bb.putInt(chunks.length)
        chunks.foreach { case (b, e) => bb.putLong(b); bb.putLong(e) }
      }
      bb.putInt(r.linear.length)
      r.linear.foreach(bb.putLong)
    }
    writeBgzf(out, bb)
  }

  /** Serialize the .csi (BGZF-wrapped) to `out` and close it. The aux
    * block carries the tabix text configuration + reference names —
    * exactly what htslib's `tabix --csi` writes, and what lets a
    * name-addressed query resolve against a CSI over text data. */
  def finishCsi(out: OutputStream, preset: Int = 0, colSeq: Int = 1,
                colBeg: Int = 4, colEnd: Int = 5, meta: Char = '#',
                skip: Int = 0): Unit = {
    require(!finished, "TabixIndexBuilder: finish called twice")
    finished = true
    val nameBlob = nameBytes
    val aux = ByteBuffer.allocate(28 + nameBlob.length).order(ByteOrder.LITTLE_ENDIAN)
    aux.putInt(preset).putInt(colSeq).putInt(colBeg).putInt(colEnd)
    aux.putInt(meta.toInt).putInt(skip).putInt(nameBlob.length)
    aux.put(nameBlob)
    val size = 16 + aux.position() + 4 + refs.map { r =>
      4 + r.bins.valuesIterator.map(c => 16 + 16 * c.length).sum
    }.sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('C'.toByte).put('S'.toByte).put('I'.toByte).put(1.toByte)
    bb.putInt(minShift).putInt(depth)
    bb.putInt(aux.position())
    bb.put(aux.array(), 0, aux.position())
    bb.putInt(refs.length)
    refs.foreach { r =>
      bb.putInt(r.bins.size)
      r.bins.foreach { case (bin, chunks) =>
        bb.putInt(bin)
        bb.putLong(r.loffsets(bin))
        bb.putInt(chunks.length)
        chunks.foreach { case (b, e) => bb.putLong(b); bb.putLong(e) }
      }
    }
    writeBgzf(out, bb)
  }

  private def nameBytes: Array[Byte] =
    refs.map(_.name + "\u0000").mkString.getBytes(StandardCharsets.UTF_8)

  private def writeBgzf(out: OutputStream, bb: ByteBuffer): Unit = {
    val bgzf = new BgzfOutputStream(out)
    try bgzf.write(bb.array(), 0, bb.position())
    finally bgzf.close()
  }
}

object TabixIndexBuilder {
  /** Deepest bin fully containing [beg0, end0) — htslib's reg2bin,
    * generalized to (minShift, depth); classic tabix/BAI is (14, 5). */
  def reg2bin(beg0: Long, end0: Long, minShift: Int = 14, depth: Int = 5): Int = {
    val end = end0 - 1
    var l = depth
    var s = minShift
    while (l > 0) {
      if ((beg0 >> s) == (end >> s))
        return (((1 << (3 * l)) - 1) / 7 + (beg0 >> s)).toInt
      s += 3
      l -= 1
    }
    0
  }
}
