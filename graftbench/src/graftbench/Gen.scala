package graftbench

import java.io._
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes. Every genomic scan op reads at least 300k records, about
  * 20x what a per-query planning and job-launch floor of 20-90 ms can
  * hide, so data work sets the op time. */
object Sizes {
  val Contigs: IndexedSeq[String] = IndexedSeq("chr1", "chr2", "chr3", "chr4")
  val ContigLen = 5000000L
  val VcfRecords = 300000
  val Samples = 8
  val Reads = 300000
  val FastqReads = 300000
  val Docs = 4000
  val Words = 100
  val Vecs = 4000
  val VecDim = 64
  val Cells = 32

  def describe: String =
    s"vcf=${VcfRecords}rec x ${Samples}samples, bam=${Reads}reads x 100bp, " +
      s"fastq=${FastqReads}reads x 100-150bp, contigs=${Contigs.length}x$ContigLen, " +
      s"corpus=${Docs}docs x ${Words}words, vectors=${Vecs}x$VecDim cells=$Cells"
}

/** Expected values of each op, in the column order of its query. */
final case class VcfTruth(full: Seq[Long], proj: Seq[Long], filt: Seq[Long],
                          contig: Array[Int], pos: Array[Long]) {
  /** Positions on `chr` within [lo, hi] (1-based inclusive). */
  def positions(chr: Int, lo: Long, hi: Long): Seq[Long] = {
    val (a, b) = Gen.span(contig, chr)
    val from = Gen.lowerBound(pos, a, b, lo)
    val to = Gen.lowerBound(pos, a, b, hi + 1)
    pos.slice(from, to).toSeq
  }
}

final case class BamTruth(full: Seq[Long], fn: Seq[Long], proj: Seq[Long],
                          contig: Array[Int], start: Array[Long], end: Array[Long]) {
  /** Indexes (= read-name numbers) of reads overlapping [lo, hi]. */
  def overlapping(chr: Int, lo: Long, hi: Long): Seq[Int] = {
    val (a, b) = Gen.span(contig, chr)
    val from = Gen.lowerBound(start, a, b, lo - Gen.MaxSpan)
    val to = Gen.lowerBound(start, a, b, hi + 1)
    (from until to).filter(i => end(i) >= lo)
  }
}

final case class FastqTruth(full: Seq[Long], fn: Seq[Long])

final case class CorpusTruth(pairs: Seq[(Long, Long)], cc: Seq[Long], kept: Seq[Long],
                             semantic: Seq[Long])

/** Seeded generators. Inputs are cached per (seed, sizes) under the
  * data directory and built outside every timed region. */
object Gen {
  val MaxSpan = 110L

  def span(contig: Array[Int], chr: Int): (Int, Int) =
    (lowerBoundI(contig, chr), lowerBoundI(contig, chr + 1))

  private def lowerBoundI(a: Array[Int], v: Int): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < v) lo = m + 1 else hi = m }
    lo
  }

  def lowerBound(a: Array[Long], from: Int, until: Int, v: Long): Int = {
    var lo = from; var hi = until
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < v) lo = m + 1 else hi = m }
    lo
  }

  private val Bases = "ACGT"
  private def bases(r: SplittableRandom, n: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < n) { sb.append(Bases.charAt(r.nextInt(4))); i += 1 }
  }

  /** Positions: strictly increasing per contig, gaps 1..128. */
  private def layout(r: SplittableRandom, n: Int): (Array[Int], Array[Long]) = {
    val contig = new Array[Int](n)
    val pos = new Array[Long](n)
    val per = n / Sizes.Contigs.length
    var i = 0
    while (i < n) {
      val c = math.min(i / per, Sizes.Contigs.length - 1)
      contig(i) = c
      pos(i) = (if (i > 0 && contig(i - 1) == c) pos(i - 1) else 0L) + 1 + r.nextInt(128)
      i += 1
    }
    (contig, pos)
  }

  private val Af = Array("0.125", "0.25", "0.375", "0.5", "0.625", "0.75", "0.875", "1")
  private val Gts = Array("0/0", "0/1", "1/1", "./.")

  /** Multi-sample cohort VCF text, its truth, and each record's plain
    * byte range (for the tabix index). */
  def vcf(seed: Long, n: Int): (Array[Byte], VcfTruth, Array[Long]) = {
    val r = new SplittableRandom(seed * 1000003L + 11)
    val (contig, pos) = layout(r, n)
    val out = new ByteArrayOutputStream(n * 200)
    val hdr = new StringBuilder
    hdr ++= "##fileformat=VCFv4.2\n"
    Sizes.Contigs.foreach(c => hdr ++= s"##contig=<ID=$c,length=${Sizes.ContigLen}>\n")
    hdr ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n"
    hdr ++= "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">\n"
    hdr ++= "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP member\">\n"
    hdr ++= "##FILTER=<ID=q10,Description=\"Quality below 10\">\n"
    hdr ++= "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">\n"
    hdr ++= "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">\n"
    hdr ++= "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">\n"
    hdr ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"
    (1 to Sizes.Samples).foreach(s => hdr ++= s"\tS$s")
    hdr ++= "\n"
    out.write(hdr.toString.getBytes(US_ASCII))
    val offs = new Array[Long](n + 1)
    var sPos, nId, sRef, sAlt, sQual, nQual, nPass, nFilter, sDp, nDb, sAf, sFmt, sGtLen,
      sGq, sGdp, nFilt, sFiltPos = 0L
    val sb = new java.lang.StringBuilder(512)
    var i = 0
    while (i < n) {
      offs(i) = out.size()
      sb.setLength(0)
      sb.append(Sizes.Contigs(contig(i))).append('\t').append(pos(i)).append('\t')
      sPos += pos(i)
      if (r.nextInt(10) < 6) { sb.append("rs").append(1000000 + i); nId += 1 } else sb.append('.')
      sb.append('\t')
      val refLen = 1 + r.nextInt(3)
      bases(r, refLen, sb); sRef += refLen
      sb.append('\t')
      val nAlt = 1 + r.nextInt(2)
      var a = 0
      while (a < nAlt) { if (a > 0) sb.append(','); bases(r, 1 + r.nextInt(2), sb); a += 1 }
      sAlt += nAlt
      sb.append('\t')
      val qual = if (r.nextInt(20) == 0) -1 else r.nextInt(100)
      if (qual < 0) sb.append('.') else { sb.append(qual); sQual += qual; nQual += 1 }
      if (qual >= 50) { nFilt += 1; sFiltPos += pos(i) }
      sb.append('\t')
      r.nextInt(20) match {
        case x if x < 16 => sb.append("PASS"); nPass += 1; nFilter += 1
        case x if x < 19 => sb.append("q10"); nFilter += 1
        case _ => sb.append('.')
      }
      val dp = 1 + r.nextInt(500)
      sb.append("\tDP=").append(dp).append(";AF=")
      sDp += dp
      a = 0
      while (a < nAlt) { if (a > 0) sb.append(','); sb.append(Af(r.nextInt(Af.length))); a += 1 }
      sAf += nAlt
      if (r.nextInt(10) < 3) { sb.append(";DB"); nDb += 1 }
      sb.append("\tGT:GQ:DP")
      sFmt += 8
      var s = 0
      while (s < Sizes.Samples) {
        val start = sb.length() + 1
        sb.append('\t').append(Gts(r.nextInt(4))).append(':')
        if (r.nextInt(30) == 0) sb.append('.') else { val gq = r.nextInt(100); sb.append(gq); sGq += gq }
        val gdp = r.nextInt(200)
        sb.append(':').append(gdp)
        sGdp += gdp
        sGtLen += sb.length() - start
        s += 1
      }
      sb.append('\n')
      out.write(sb.toString.getBytes(US_ASCII))
      i += 1
    }
    offs(n) = out.size()
    val truth = VcfTruth(
      Seq(n, sPos, nId, sRef, sAlt, sQual, nQual, nPass, nFilter, sDp, nDb, sAf, sFmt, sGtLen, sGq, sGdp),
      Seq(n, sPos, sRef, sAlt), Seq(nFilt, sFiltPos), contig, pos)
    (out.toByteArray, truth, offs)
  }

  private val Cigars = Array(
    (Array(100 << 4), "100M", 100),
    (Array(50 << 4, (2 << 4) | 2, 50 << 4), "50M2D50M", 102),
    (Array(30 << 4, (1 << 4) | 1, 69 << 4), "30M1I69M", 99),
    (Array((20 << 4) | 4, 80 << 4), "20S80M", 80))
  private val SeqCode = Map('A' -> 1, 'C' -> 2, 'G' -> 4, 'T' -> 8, 'N' -> 15)

  /** Coordinate-sorted BAM (uncompressed payload), its truth and the
    * plain byte range of each record. */
  def bam(seed: Long, n: Int): (Array[Byte], BamTruth, Array[Long]) = {
    val r = new SplittableRandom(seed * 1000003L + 23)
    val (contig, pos) = layout(r, n)
    val out = new ByteArrayOutputStream(n * 240)
    val le = java.nio.ByteBuffer.allocate(1 << 12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val text = ("@HD\tVN:1.6\tSO:coordinate\n" +
      Sizes.Contigs.map(c => s"@SQ\tSN:$c\tLN:${Sizes.ContigLen}\n").mkString).getBytes(US_ASCII)
    le.put("BAM".getBytes(US_ASCII)).put(1.toByte).putInt(text.length).put(text)
      .putInt(Sizes.Contigs.length)
    Sizes.Contigs.foreach { c =>
      val nm = (c + "\u0000").getBytes(US_ASCII)
      le.putInt(nm.length).put(nm).putInt(Sizes.ContigLen.toInt)
    }
    out.write(le.array(), 0, le.position())
    val offs = new Array[Long](n + 1)
    val start = new Array[Long](n)
    val end = new Array[Long](n)
    var sFlag, sStart, sEnd, sMapq, nMapq, sCigar, nMate, sSeq, sQual, sName = 0L
    var nRev, nDup, nPaired, nFirst, nSec, nQc, sPhred, sGc = 0L
    val seq = new Array[Char](100)
    val qual = new Array[Byte](100)
    var i = 0
    while (i < n) {
      offs(i) = out.size()
      val (ops, cigarText, refSpan) = Cigars(if (r.nextInt(20) < 17) 0 else 1 + r.nextInt(3))
      val paired = r.nextInt(10) < 6
      var flag = 0
      if (paired) {
        flag |= 0x1
        if (r.nextInt(10) < 8) flag |= 0x2
        flag |= (if (r.nextBoolean()) 0x40 else 0x80)
      }
      if (r.nextBoolean()) flag |= 0x10
      if (r.nextInt(20) == 0) flag |= 0x400
      if (r.nextInt(100) == 0) flag |= 0x200
      if (r.nextInt(50) == 0) flag |= 0x100
      val mapq = if (r.nextInt(33) == 0) 255 else r.nextInt(61)
      var k = 0
      while (k < 100) {
        seq(k) = if (r.nextInt(100) == 0) 'N' else Bases.charAt(r.nextInt(4))
        if (seq(k) == 'G' || seq(k) == 'C') sGc += 1
        qual(k) = (2 + r.nextInt(39)).toByte
        sPhred += qual(k)
        k += 1
      }
      val pos0 = pos(i) - 1
      start(i) = pos(i)
      end(i) = pos(i) + refSpan - 1
      val name = f"r$i%09d"
      le.clear()
      le.putInt(0) // block_size, patched below
      le.putInt(contig(i)).putInt(pos0.toInt).put((name.length + 1).toByte).put(mapq.toByte)
        .putShort(BinIndexBuilder.reg2bin(pos0, pos0 + refSpan).toShort)
        .putShort(ops.length.toShort).putShort(flag.toShort).putInt(100)
        .putInt(if (paired) contig(i) else -1).putInt(if (paired) pos0.toInt + 200 else -1)
        .putInt(if (paired) 300 else 0)
      le.put(name.getBytes(US_ASCII)).put(0.toByte)
      ops.foreach(le.putInt)
      k = 0
      while (k < 100) { le.put(((SeqCode(seq(k)) << 4) | SeqCode(seq(k + 1))).toByte); k += 2 }
      le.put(qual)
      le.putInt(0, le.position() - 4)
      out.write(le.array(), 0, le.position())

      sFlag += flag; sStart += start(i); sEnd += end(i)
      if (mapq != 255) { sMapq += mapq; nMapq += 1 }
      sCigar += cigarText.length
      if (paired) { nMate += 1; nPaired += 1 }
      sSeq += 100; sQual += 100; sName += name.length
      if ((flag & 0x10) != 0) nRev += 1
      if ((flag & 0x400) != 0) nDup += 1
      if ((flag & 0x40) != 0) nFirst += 1
      if ((flag & 0x100) != 0) nSec += 1
      if ((flag & 0x200) != 0) nQc += 1
      i += 1
    }
    offs(n) = out.size()
    val truth = BamTruth(
      Seq(n, sFlag, sStart, sEnd, sMapq, nMapq, sCigar, nMate, sSeq, sQual, sName),
      Seq(n, nRev, nDup, nPaired, nFirst, nSec, nQc, sPhred, sGc),
      Seq(n, sFlag, sSeq, sQual), contig, start, end)
    (out.toByteArray, truth, offs)
  }

  def fastq(seed: Long, n: Int): (Array[Byte], FastqTruth) = {
    val r = new SplittableRandom(seed * 1000003L + 37)
    val out = new ByteArrayOutputStream(n * 280)
    var sName, nDesc, sSeq, sQual, sGc, sPhred = 0L
    val sb = new java.lang.StringBuilder(400)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      val name = f"q$i%09d"
      sb.append('@').append(name)
      if (r.nextBoolean()) { sb.append(" sample=s").append(r.nextInt(8)); nDesc += 1 }
      sb.append('\n')
      val len = 100 + r.nextInt(51)
      var k = 0
      while (k < len) {
        val c = if (r.nextInt(100) == 0) 'N' else Bases.charAt(r.nextInt(4))
        if (c == 'G' || c == 'C') sGc += 1
        sb.append(c); k += 1
      }
      sb.append("\n+\n")
      k = 0
      while (k < len) { val q = 2 + r.nextInt(39); sPhred += q; sb.append((q + 33).toChar); k += 1 }
      sb.append('\n')
      out.write(sb.toString.getBytes(US_ASCII))
      sName += name.length; sSeq += len; sQual += len
      i += 1
    }
    (out.toByteArray, FastqTruth(Seq(n, sName, nDesc, sSeq, sQual), Seq(n, sGc, sPhred)))
  }

  private def shingles(words: Array[String]): Set[String] =
    (0 to words.length - 3).map(i => s"${words(i)} ${words(i + 1)} ${words(i + 2)}").toSet

  /** Corpus with planted near-duplicate clusters (each variant swaps one
    * word of its base document) and an embedding table with planted
    * exact-copy groups. Returns (docs, vectors, truth). */
  def corpus(seed: Long, nDocs: Int, nVecs: Int)
      : (Seq[(Long, String, Double)], Seq[(Long, Array[Float])], CorpusTruth) = {
    val r = new SplittableRandom(seed * 1000003L + 41)
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 5000)
        s += (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      s.toArray
    }
    def doc(): Array[String] = Array.fill(Sizes.Words)(vocab(r.nextInt(vocab.length)))
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    while (texts.length < nDocs / 4) {
      val base = doc()
      val members = mutable.ArrayBuffer(texts.length)
      texts += base
      (1 to 1 + r.nextInt(4)).foreach { _ =>
        val v = base.clone()
        v(r.nextInt(v.length)) = vocab(r.nextInt(vocab.length))
        members += texts.length
        texts += v
      }
      clusters += members.toSeq
    }
    while (texts.length < nDocs) texts += doc()
    // ids: a seeded permutation, so cluster members are not adjacent
    val ids = (0 until texts.length).map(_.toLong).toArray
    var k = ids.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = ids(k); ids(k) = ids(j); ids(j) = t; k -= 1 }
    val quality = ids.map(id => ((id * 7919L) % texts.length) + 0.5)
    val pairs = clusters.flatMap { m =>
      val sh = m.map(i => i -> shingles(texts(i))).toMap
      for (a <- m; b <- m if ids(a) < ids(b);
           inter = (sh(a) intersect sh(b)).size;
           uni = sh(a).size + sh(b).size - inter if inter * 5 >= uni * 4)
        yield (ids(a), ids(b))
    }.sorted.toSeq
    // components over the verified pairs (label = smallest id)
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
    pairs.foreach { case (a, b) =>
      val (x, y) = (find(a), find(b))
      if (x != y) { parent(math.max(x, y)) = math.min(x, y) }
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val label = nodes.map(v => v -> find(v)).toMap
    val qualityOf = ids.indices.map(i => ids(i) -> quality(i)).toMap
    val clusterBest = nodes.groupBy(label).values.map(_.maxBy(v => (qualityOf(v), -v)))
    val inPairs = nodes.toSet
    val kept = ids.filterNot(inPairs) ++ clusterBest
    val docs = texts.indices.map(i => (ids(i), texts(i).mkString(" "), quality(i)))

    // embeddings: Gaussian vectors plus planted groups of exact copies
    val base = mutable.ArrayBuffer.empty[Array[Float]]
    val groups = mutable.ArrayBuffer.empty[Seq[Int]]
    def vec(): Array[Float] = Array.fill(Sizes.VecDim)(gauss(r).toFloat)
    while (base.length < nVecs / 5) {
      val v = vec()
      val g = (0 to r.nextInt(3) + 1).map { _ => base += v; base.length - 1 }
      groups += g
    }
    while (base.length < nVecs) base += vec()
    val vids = (0 until base.length).map(_.toLong).toArray
    k = vids.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = vids(k); vids(k) = vids(j); vids(j) = t; k -= 1 }
    val dropped = groups.flatMap(g => g.map(vids).sorted.tail).toSet
    val survivors = vids.filterNot(dropped)
    val vecs = base.indices.map(i => (vids(i), base(i)))
    val truth = CorpusTruth(pairs,
      Seq(nodes.length.toLong, label.values.toSet.size.toLong, nodes.map(label).sum),
      Seq(kept.length.toLong, kept.sum), Seq(survivors.length.toLong, survivors.sum))
    (docs, vecs, truth)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** The generated files of one seed, built on first use and cached;
  * `scale` divides every size (the warm-up set uses a small scale). */
final class Inputs(val dir: File, val outDir: File, seed: Long, threads: Int, scale: Int = 1) {
  dir.mkdirs()
  val vcfRecords: Int = Sizes.VcfRecords / scale
  val reads: Int = Sizes.Reads / scale
  val fastqReads: Int = Sizes.FastqReads / scale
  val docs: Int = Sizes.Docs / scale
  val vecs: Int = Sizes.Vecs / scale

  private def cached[T <: Serializable](name: String)(build: => T): T = {
    val done = new File(dir, s"$name.truth")
    if (done.exists()) {
      val in = new ObjectInputStream(new BufferedInputStream(new FileInputStream(done)))
      try in.readObject().asInstanceOf[T] finally in.close()
    } else {
      val t = build
      val tmp = new File(dir, s"$name.truth.tmp")
      val out = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(tmp)))
      try out.writeObject(t) finally out.close()
      Files.move(tmp.toPath, done.toPath, StandardCopyOption.ATOMIC_MOVE)
      t
    }
  }

  private def write(f: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  val vcfPath: String = new File(dir, "cohort.vcf.gz").getAbsolutePath
  val bamPath: String = new File(dir, "reads.bam").getAbsolutePath
  val fastqPath: String = new File(dir, "reads.fastq.gz").getAbsolutePath
  val bcfDir: String = new File(dir, "cohort_bcf").getAbsolutePath
  val cohortParquet: String = new File(dir, "cohort.parquet").getAbsolutePath
  val docsParquet: String = new File(dir, "docs.parquet").getAbsolutePath
  val vecsParquet: String = new File(dir, "vecs.parquet").getAbsolutePath

  lazy val vcf: VcfTruth = cached("vcf") {
    val (plain, truth, offs) = Gen.vcf(seed, vcfRecords)
    val (gz, voff) = BgzfOut.compress(plain, threads)
    val idx = new BinIndexBuilder(Sizes.Contigs.length)
    var i = 0
    while (i < truth.pos.length) {
      idx.add(truth.contig(i), truth.pos(i) - 1, truth.pos(i), voff(offs(i)), voff(offs(i + 1)))
      i += 1
    }
    write(new File(vcfPath + ".tbi"), idx.tbi(Sizes.Contigs))
    write(new File(vcfPath), gz)
    truth
  }

  lazy val bam: BamTruth = cached("bam") {
    val (plain, truth, offs) = Gen.bam(seed, reads)
    val (gz, voff) = BgzfOut.compress(plain, threads)
    val idx = new BinIndexBuilder(Sizes.Contigs.length)
    var i = 0
    while (i < truth.start.length) {
      idx.add(truth.contig(i), truth.start(i) - 1, truth.end(i), voff(offs(i)), voff(offs(i + 1)))
      i += 1
    }
    write(new File(bamPath + ".bai"), idx.bai())
    write(new File(bamPath), gz)
    truth
  }

  lazy val fastq: FastqTruth = cached("fastq") {
    val (plain, truth) = Gen.fastq(seed, fastqReads)
    write(new File(fastqPath), BgzfOut.compress(plain, threads)._1)
    truth
  }

  /** Builds independent inputs concurrently. */
  def parallel(builds: (() => Any)*): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(builds.map(b => Future(b()))), Duration.Inf)
  }

  def contigSpec: String = Sizes.Contigs.map(c => s"$c:${Sizes.ContigLen}").mkString(",")

  /** Library-written input: the staged parquet the write op reads. */
  def staged(spark: SparkSession): Unit = cached("staged") {
    vcf
    spark.read.format("vcf").load(vcfPath).write.mode("overwrite").parquet(cohortParquet)
    "staged"
  }

  /** Library-written input: the BCF + CSI the region workload queries. */
  def bcf(spark: SparkSession): Unit = cached("bcf") {
    vcf
    spark.read.format("vcf").load(vcfPath).write.mode("overwrite")
      .option("contigs", contigSpec).option("filters", "q10").option("index", "csi")
      .format("bcf").save(bcfDir)
    "bcf"
  }

  def corpus(spark: SparkSession): CorpusTruth = cached("corpus") {
    import spark.implicits._
    val (ds, vs, truth) = Gen.corpus(seed, docs, vecs)
    ds.toDF("doc_id", "text", "quality").repartition(4)
      .write.mode("overwrite").parquet(docsParquet)
    vs.toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(vecsParquet)
    truth
  }

  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) f.listFiles().map(_.length()).sum else f.length()
  }
}
