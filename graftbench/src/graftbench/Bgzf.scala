package graftbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.{Callable, Executors}
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable

/** The generator's own BGZF framing and binning-index writers, written
  * from the SAM/tabix specifications and independent of the library
  * under test, so a defect in graft's writers cannot shape the inputs
  * its readers are checked against. */
object BgzfOut {
  /** Uncompressed bytes per block, the same budget bgzip uses. */
  val BlockData = 0xff00
  /** Fast deflate keeps input generation short; readers inflate any level. */
  val Level = 1

  private val Eof: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff, 0x06, 0, 0x42, 0x43, 0x02, 0,
    0x1b, 0, 0x03, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)

  private def block(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val d = new Deflater(Level, true)
    d.setInput(data, off, len)
    d.finish()
    val buf = new Array[Byte](len + 1024)
    var n = 0
    while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
    d.end()
    val crc = new CRC32
    crc.update(data, off, len)
    val out = ByteBuffer.allocate(18 + n + 8).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array(0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff, 0x06, 0, 0x42, 0x43, 0x02, 0)
      .map(_.toByte))
    out.putShort((18 + n + 8 - 1).toShort)
    out.put(buf, 0, n)
    out.putInt(crc.getValue.toInt)
    out.putInt(len)
    out.array()
  }

  /** BGZF-compress `plain` (blocks deflated in parallel) and return the
    * file bytes plus a mapping from plain offsets to virtual offsets. */
  def compress(plain: Array[Byte], threads: Int): (Array[Byte], Long => Long) = {
    val nBlocks = (plain.length + BlockData - 1) / BlockData
    val pool = Executors.newFixedThreadPool(threads)
    val blocks = try {
      val fs = (0 until nBlocks).map { b =>
        pool.submit(new Callable[Array[Byte]] {
          def call(): Array[Byte] = {
            val off = b * BlockData
            block(plain, off, math.min(BlockData, plain.length - off))
          }
        })
      }
      fs.map(_.get())
    } finally pool.shutdown()
    val starts = new Array[Long](nBlocks + 1)
    var i = 0
    while (i < nBlocks) { starts(i + 1) = starts(i) + blocks(i).length; i += 1 }
    val out = new ByteArrayOutputStream(starts(nBlocks).toInt + Eof.length)
    blocks.foreach(out.write)
    out.write(Eof)
    val voff: Long => Long = p => {
      val b = (p / BlockData).toInt
      (starts(b) << 16) | (p - b.toLong * BlockData)
    }
    (out.toByteArray, voff)
  }
}

/** Binning index (SAM spec section 5): the structure shared by .bai and
  * .tbi. Records must arrive sorted by (ref, begin). */
final class BinIndexBuilder(nRefs: Int) {
  private val bins = Array.fill(nRefs)(mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Array[Long]]])
  private val linear = Array.fill(nRefs)(mutable.ArrayBuffer.empty[Long])

  def add(ref: Int, beg0: Long, end0: Long, vBeg: Long, vEnd: Long): Unit = {
    val chunks = bins(ref).getOrElseUpdate(BinIndexBuilder.reg2bin(beg0, end0),
      mutable.ArrayBuffer.empty[Array[Long]])
    if (chunks.nonEmpty && chunks.last(1) == vBeg) chunks.last(1) = vEnd
    else chunks += Array(vBeg, vEnd)
    val lin = linear(ref)
    var w = (beg0 >> 14).toInt
    val wEnd = ((end0 - 1) >> 14).toInt
    while (lin.length <= wEnd) lin += -1L
    while (w <= wEnd) { if (lin(w) < 0) lin(w) = vBeg; w += 1 }
  }

  /** Per-reference body: bins, chunks, then the linear index with holes
    * filled from the left. */
  private def refBody(out: ByteBuffer, r: Int): Unit = {
    out.putInt(bins(r).size)
    bins(r).foreach { case (bin, chunks) =>
      out.putInt(bin)
      out.putInt(chunks.length)
      chunks.foreach { c => out.putLong(c(0)); out.putLong(c(1)) }
    }
    val lin = linear(r)
    var prev = 0L
    out.putInt(lin.length)
    lin.foreach { v => val x = if (v < 0) prev else v; out.putLong(x); prev = x }
  }

  private def bodySize: Int = (0 until nRefs).map { r =>
    4 + bins(r).valuesIterator.map(c => 8 + 16 * c.length).sum + 4 + 8 * linear(r).length
  }.sum

  def bai(): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + bodySize).order(ByteOrder.LITTLE_ENDIAN)
    out.put("BAI".getBytes("US-ASCII")).put(1.toByte).putInt(nRefs)
    (0 until nRefs).foreach(refBody(out, _))
    out.array()
  }

  /** Tabix index for VCF (preset 2, seq col 1, pos col 2, meta '#'),
    * BGZF-wrapped as the format requires. */
  def tbi(names: Seq[String]): Array[Byte] = {
    val nm = names.map(_ + "\u0000").mkString.getBytes("US-ASCII")
    val out = ByteBuffer.allocate(36 + nm.length + bodySize).order(ByteOrder.LITTLE_ENDIAN)
    out.put("TBI".getBytes("US-ASCII")).put(1.toByte).putInt(nRefs)
    out.putInt(2).putInt(1).putInt(2).putInt(0).putInt('#'.toInt).putInt(0)
    out.putInt(nm.length).put(nm)
    (0 until nRefs).foreach(refBody(out, _))
    BgzfOut.compress(out.array(), 1)._1
  }
}

object BinIndexBuilder {
  /** SAM spec reg2bin for a 0-based half-open interval. */
  def reg2bin(beg: Long, end0: Long): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) (((1 << 15) - 1) / 7 + (beg >> 14)).toInt
    else if (beg >> 17 == end >> 17) (((1 << 12) - 1) / 7 + (beg >> 17)).toInt
    else if (beg >> 20 == end >> 20) (((1 << 9) - 1) / 7 + (beg >> 20)).toInt
    else if (beg >> 23 == end >> 23) (((1 << 6) - 1) / 7 + (beg >> 23)).toInt
    else if (beg >> 26 == end >> 26) (((1 << 3) - 1) / 7 + (beg >> 26)).toInt
    else 0
  }
}

/** Discards bytes; the deflate probe writes through it. */
object NullSink extends OutputStream {
  override def write(b: Int): Unit = ()
  override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
}
