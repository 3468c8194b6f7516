package graft.sources

import java.io.{DataInputStream, EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.core._

/** BCF2 (binary VCF): BGZF stream, "BCF\2\x" magic, embedded VCF text
  * header (reused for schema inference — same ##INFO-driven struct as
  * the VCF source), then little-endian records with BCF typed encoding
  * (descriptor byte: low nibble = type 0=missing,1=int8,2=int16,
  * 3=int32,5=float,7=char; high nibble = count, 15 = typed-int count
  * follows). FILTER/INFO keys resolve through the header dictionary
  * (order of ##FILTER/##INFO/##FORMAT appearance, PASS implicitly 0);
  * contigs through ##contig order. Output rows are identical in shape
  * to the VCF source (reference: test_vcf_record_scan.test runs the
  * same goldens against both), and the `region` option gives bcf_query.
  */
object BcfFormat extends GraftFormat {
  override def name = "bcf"
  override def extensions = Seq("bcf")
  override def forcedCodec: Option[String] = Some("gzip")
  override def formatter: Option[graft.sources.core.RecordFormatter] = Some(BcfFormatter)
  /** BGZF-block-splittable like BAM: tasks sync to a block header and
    * find the first record with a validated-prologue guesser (the
    * header's exact sample count makes BCF prologues even more
    * discriminating than BAM's). */
  override def bgzfSplittable: Boolean = true

  private def headerText(in: DataInputStream): String = {
    val magic = new Array[Byte](5) // "BCF" + major + minor
    in.readFully(magic)
    require(magic(0) == 'B' && magic(1) == 'C' && magic(2) == 'F',
      "not a BCF stream")
    val lText = readIntLE(in)
    val text = new Array[Byte](lText)
    in.readFully(text)
    new String(text, StandardCharsets.UTF_8).takeWhile(_ != '\u0000')
  }

  private def readIntLE(in: DataInputStream): Int = {
    val a = in.read(); val b = in.read(); val c = in.read(); val d = in.read()
    if ((a | b | c | d) < 0) throw new EOFException
    a | (b << 8) | (c << 16) | (d << 24)
  }

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType = {
    val raw = GraftFiles.open(paths.head.toString, conf)
    val in = new DataInputStream(Compression.wrap(raw.stream, "gzip"))
    try {
      val header = headerText(in).linesIterator.toSeq
      val infos = VcfFormat.parseHeaderInfo(header)
      val infoStruct = StructType(infos.map(f => StructField(f.id.toLowerCase, f.sparkType)))
      val base = Seq(
        StructField("chrom", StringType),
        StructField("pos", LongType),
        StructField("id", StringType),
        StructField("ref", StringType),
        StructField("alt", ArrayType(StringType)),
        StructField("qual", FloatType),
        StructField("filter", StringType),
        StructField("info", infoStruct))
      // sample columns declared by the embedded #CHROM line, VCF-parity:
      // raw FORMAT string + one rendered genotype string per sample
      val hasSamples = header.lastOption
        .filter(_.startsWith("#CHROM"))
        .exists(_.split("\t").length > 8)
      StructType(
        if (hasSamples)
          base ++ (Seq(StructField("format", StringType),
            StructField("genotypes", ArrayType(StringType))) ++
            VcfFormat.typedGenotypesSchema(header.filter(_.startsWith("##"))))
        else base)
    } finally in.close()
  }

  /** CSI fast path (falls back to scan+filter). rid comes from the BCF
    * header's ##contig order, read on the driver ONCE at plan time,
    * however many regions the batch carries. */
  override def regionChunks(path: String, regions: Seq[Regions.Region],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    CsiIndex.load(path, conf).map { idx =>
      val raw = GraftFiles.open(path, conf)
      val contigs =
        try dictionaries(headerText(new DataInputStream(
          Compression.wrap(raw.stream, "gzip"))).linesIterator.toSeq)._2
        finally raw.in.close()
      // name-addressed when the sidecar carries names (our own writer's
      // tabix-flavored aux — robust when a part file holds only later
      // contigs and rids renumber); rid arithmetic through the header's
      // ##contig order otherwise (htslib BCF CSIs have empty aux)
      if (idx.names.nonEmpty) idx.chunksFor(regions) else idx.chunksFor(regions, contigs.indexOf(_))
    }

  override def coordinates: Option[Coordinates] = Some(Coordinates("chrom", "pos", "pos"))

  /** Shared FILTER/INFO/FORMAT dictionary + contig dictionary. */
  private def dictionaries(header: Seq[String]): (IndexedSeq[String], IndexedSeq[String]) = {
    val IdRe = """##(?:FILTER|INFO|FORMAT)=<ID=([^,>]+).*""".r
    val ContigRe = """##contig=<ID=([^,>]+).*""".r
    val dict = scala.collection.mutable.LinkedHashSet[String]("PASS")
    val contigs = scala.collection.mutable.ArrayBuffer.empty[String]
    header.foreach {
      case IdRe(id)     => dict += id
      case ContigRe(id) => contigs += id
      case _            =>
    }
    (dict.toIndexedSeq, contigs.toIndexedSeq)
  }

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    // an index chunk or byte-range split starts at a record boundary or
    // mid-stream; re-read the header (dictionaries + schema source) from
    // the file head separately. A bgzfSplit at file start consumes the
    // header in place (exact byte accounting, no read-ahead buffering)
    // so the record window starts right after it.
    val d =
      if (split.bgzfSplit) null
      else new DataInputStream(new java.io.BufferedInputStream(in, 1 << 16))
    val header =
      if (split.bgzfChunk || (split.bgzfSplit && split.start != 0)) {
        val raw = GraftFiles.open(split.path, split.conf)
        try headerText(new DataInputStream(Compression.wrap(raw.stream, "gzip"))).linesIterator.toSeq
        finally raw.in.close()
      } else if (split.bgzfSplit) {
        headerText(new DataInputStream(in)).linesIterator.toSeq
      } else headerText(d).linesIterator.toSeq
    val (dict, contigs) = dictionaries(header)
    val infoSchema = schema("info").dataType.asInstanceOf[StructType]
    val withSamples = schema.fieldNames.contains("genotypes")
    val hasTyped = schema.fieldNames.contains("genotypes_typed")
    // runtime pruning: skip decode work for unprojected expensive
    // columns (rows stay full-schema shaped)
    val typedStruct = schema.fields.find(_.name == "genotypes_typed")
      .map(_.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])
      .filter(_ => split.needs("genotypes_typed"))
    val typed = typedStruct.map(new VcfFormat.TypedGenotypes(_))
    val wantInfo = split.needs("info")
    val wantGts = typedStruct.isDefined ||
      split.needs("format") || split.needs("genotypes")
    def decodeArrays(shared: Array[Byte], indiv: Array[Byte]): Array[Any] = {
      val bb = ByteBuffer.wrap(shared).order(ByteOrder.LITTLE_ENDIAN)

        val rid = bb.getInt
        val pos0 = bb.getInt
        bb.getInt // rlen
        val qual = bb.getFloat
        val nAlleleInfo = bb.getInt
        val nInfo = nAlleleInfo & 0xffff
        val nAllele = nAlleleInfo >>> 16
        val nFmtSample = bb.getInt
        val nSample = nFmtSample & 0xffffff
        val nFmt = nFmtSample >>> 24

        val id = readString(bb)
        val alleles = (0 until nAllele).map(_ => readString(bb))
        val filters = readIntVector(bb)
        // info is the tail of the shared block: when pruned, stop walking
        val infoKv =
          if (!wantInfo) Map.empty[String, Seq[Any]]
          else (0 until nInfo).map { _ =>
            val key = readTypedInt(bb)
            val (tpe, count) = readDescriptor(bb)
            (dict(key).toLowerCase, readValues(bb, tpe, count))
          }.toMap

        // one INFO value as the schema's type; a MISSING one stays null
        def asType(dt: DataType, v: Any): Any = dt match {
          case _ if v == null => null
          case IntegerType    => Int.box(v.asInstanceOf[Number].intValue())
          case FloatType      => Float.box(v.asInstanceOf[Number].floatValue())
          case _              => UTF8String.fromString(v.toString)
        }
        val infoVals = infoSchema.fields.map { f =>
          f.dataType match {
            case BooleanType =>
              if (infoKv.contains(f.name)) java.lang.Boolean.TRUE else null
            case dt @ (IntegerType | FloatType | StringType) =>
              infoKv.get(f.name).flatMap(_.headOption).map(asType(dt, _)).orNull
            case ArrayType(et, _) =>
              infoKv.get(f.name).map(vs => new GenericArrayData(vs.map(asType(et, _)).toArray)).orNull
            case _ => null
          }
        }

        val filterStr: Any =
          if (filters.isEmpty) null
          else UTF8String.fromString(filters.map(dict(_)).mkString(";"))

        val base = Array[Any](
          UTF8String.fromString(if (rid >= 0 && rid < contigs.length) contigs(rid) else rid.toString),
          (pos0 + 1).toLong,
          if (id.isEmpty || id == ".") null else UTF8String.fromString(id),
          UTF8String.fromString(alleles.headOption.getOrElse("")),
          new GenericArrayData(alleles.drop(1).map(a => UTF8String.fromString(a): Any).toArray),
          if (java.lang.Float.floatToRawIntBits(qual) == 0x7f800001) null else Float.box(qual),
          filterStr,
          new GenericInternalRow(infoVals.toArray[Any]))
        if (!withSamples) base
        else if (!wantGts) {
          // genotype surface pruned: keep the slots, skip the decode
          base ++ (if (hasTyped) Array[Any](null, null, null) else Array[Any](null, null))
        } else {
          val (fmt, gts) = decodeGenotypes(indiv, nFmt, nSample, dict)
          val withFmt = base ++ Array[Any](fmt, gts)
          if (!hasTyped) withFmt
          else typed match {
            case None    => withFmt :+ null // typed pruned, strings kept
            case Some(t) =>
              // typed structs derive from the SAME rendered strings the
              // text source parses — identical values by construction
              withFmt :+ t(fmt.asInstanceOf[UTF8String], gts.asInstanceOf[GenericArrayData].array)
          }
        }
    }

    if (split.bgzfSplit)
      return readBgzfSplit(split, in.asInstanceOf[BgzfBlockStream], header,
        withSamples && wantGts, decodeArrays)

    /** One record, or null at EOF exactly on a record boundary. No
      * EOFException catch: a truncation exception (mid-length,
      * mid-body, or an inflater EOF from a cut gzip stream) must fail
      * the task, never end the iterator early. */
    def decode(): Array[Any] = {
      val a = d.read()
      if (a < 0) return null
      val b = d.read(); val c = d.read(); val e = d.read()
      if ((b | c | e) < 0)
        throw new java.util.zip.ZipException("EOF inside BCF record length")
      val lShared = a | (b << 8) | (c << 16) | (e << 24)
      val lIndiv = readIntLE(d)
      val shared = new Array[Byte](lShared)
      d.readFully(shared)
      val indiv =
        if (withSamples && wantGts) { val a = new Array[Byte](lIndiv); d.readFully(a); a }
        else { d.skipBytes(lIndiv); null } // sample-less or pruned scan
      decodeArrays(shared, indiv)
    }
    Iterator.continually(decode()).takeWhile(_ != null)
  }

  /** Byte-range split of a BGZF BCF over the shared anchor-ownership
    * driver (core.BgzfRecordSplit): this format contributes the 8-byte
    * (l_shared, l_indiv) framing, the prologue check, and the decoder. */
  private def readBgzfSplit(split: GraftSplit, bs: BgzfBlockStream,
                            header: Seq[String], withSamples: Boolean,
                            decodeArrays: (Array[Byte], Array[Byte]) => Array[Any]): Iterator[Array[Any]] = {
    val nContig = dictionaries(header)._2.length
    // the #CHROM line pins the exact per-record sample count — the
    // strongest prologue validation signal BCF offers the guesser
    val nSamples = header.lastOption.filter(_.startsWith("#CHROM"))
      .map(l => math.max(0, l.split("\t").length - 9)).getOrElse(0)

    BgzfRecordSplit.iterator(split, bs,
      minRecordBytes = 32, prefixBytes = 8,
      plausible = (w, k) => plausibleRecord(w, k, nContig, nSamples, depth = 2),
      recordLen = (w, c) => 8L + w.i32(c) + w.i32(c + 4),
      decode = (w, c, _) => {
        val lShared = w.i32(c)
        val lIndiv = w.i32(c + 4)
        val shared = w.copy(c + 8, lShared)
        val indiv = if (withSamples) w.copy(c + 8 + lShared, lIndiv) else null
        decodeArrays(shared, indiv)
      })
  }

  /** Plausibility of a BCF record start at window offset k: validates
    * the fixed 32-byte prologue (lengths in range, rid within the
    * contig dictionary, positions sane, and — decisively — the record's
    * n_sample equal to the header's sample count) and requires the
    * implied next record to chain or land exactly on EOF; records too
    * large to buffer for chaining are accepted on the prologue alone. */
  private def plausibleRecord(win: BgzfWindow, k: Long, nContig: Int,
                              nSamples: Int, depth: Int): Boolean = {
    if (!win.ensure(k + 32)) return win.atEof && win.end == k // clean chain end
    val lShared = win.i32(k)
    if (lShared < 24 || lShared > (1 << 28)) return false
    val lIndiv = win.i32(k + 4)
    if (lIndiv < 0 || lIndiv > (1 << 28)) return false
    val rid = win.i32(k + 8)
    if (rid < 0 || rid >= nContig) return false
    if (win.i32(k + 12) < -1) return false // pos
    if (win.i32(k + 16) < 0) return false  // rlen
    val nai = win.i32(k + 24)
    if ((nai >>> 16) < 1 || (nai & 0xffff) > 4096) return false // n_allele, n_info
    val nfs = win.i32(k + 28)
    if ((nfs & 0xffffff) != nSamples || (nfs >>> 24) > 64) return false
    if (depth == 0 ||
        8L + lShared + lIndiv > BgzfRecordSplit.MaxChainLookahead) true
    else plausibleRecord(win, k + 8L + lShared + lIndiv, nContig, nSamples, depth - 1)
  }

  // ---- FORMAT/sample decoding (VCF-parity rendered strings) ----

  /** Decode the per-sample block into ("GT:GQ", ["0/1:99", "1/1:42"]) —
    * the same raw-string surface the VCF source exposes (noodles decodes
    * typed genotypes in the reference; here they render back to VCF text
    * so both sources agree record-for-record). */
  private def decodeGenotypes(indiv: Array[Byte], nFmt: Int, nSample: Int,
                              dict: IndexedSeq[String]): (Any, Any) = {
    // a site-only record (n_fmt=0) mirrors a VCF line with no column 9:
    // null format, zero genotype entries — not "" strings
    if (nFmt == 0) return (null, new GenericArrayData(Array.empty[Any]))
    val bb = ByteBuffer.wrap(indiv).order(ByteOrder.LITTLE_ENDIAN)
    val keys = new Array[String](nFmt)
    val perSample = Array.fill(nSample)(new Array[String](nFmt))
    var f = 0
    while (f < nFmt) {
      val key = dict(readTypedInt(bb))
      keys(f) = key
      val (tpe, count) = readDescriptor(bb)
      var s = 0
      while (s < nSample) {
        perSample(s)(f) = renderFmtValue(bb, tpe, count, isGt = key == "GT")
        s += 1
      }
      f += 1
    }
    (UTF8String.fromString(keys.mkString(":")),
      new GenericArrayData(perSample.map(fs =>
        UTF8String.fromString(fs.mkString(":")): Any).toArray[Any]))
  }

  /** One sample's value vector for one FORMAT field, rendered as VCF
    * text. Width-specific MISSING sentinels render '.'; END_OF_VECTOR
    * sentinels (padding for ragged vectors) truncate. */
  private def renderFmtValue(bb: ByteBuffer, tpe: Int, count: Int, isGt: Boolean): String = {
    if (tpe == 7) { // char: fixed-width string, NUL-padded
      val bytes = new Array[Byte](count)
      bb.get(bytes)
      val s = new String(bytes, StandardCharsets.UTF_8).takeWhile(_ != '\u0000')
      return if (s.isEmpty) "." else s
    }
    val sb = new java.lang.StringBuilder
    var i = 0
    var ended = false
    while (i < count) {
      val (raw, missing, end) = tpe match {
        case 1 => val v = bb.get().toInt; (v.toLong, v == -128, v == -127)
        case 2 => val v = bb.getShort.toInt; (v.toLong, v == -32768, v == -32767)
        case 3 => val v = bb.getInt; (v.toLong, v == Int.MinValue, v == Int.MinValue + 1)
        case 5 => // raw carries the FLOAT BITS, not the value
          val bits = bb.getInt
          (bits.toLong & 0xffffffffL, bits == 0x7f800001, bits == 0x7f800002)
        case t => throw new IllegalArgumentException(s"unknown BCF FORMAT type $t")
      }
      if (!end && !ended) {
        if (isGt) {
          if (i > 0) sb.append(if ((raw & 1) == 1) '|' else '/')
          // raw <= 1: missing allele with either phase bit (htslib
          // encodes phased '.' as 1 — (allele+1)<<1 with allele = -1)
          if (missing || raw <= 1) sb.append('.')
          else sb.append((raw >> 1) - 1)
        } else {
          if (i > 0) sb.append(',')
          if (missing) sb.append('.')
          else if (tpe == 5) {
            val v = java.lang.Float.intBitsToFloat((raw & 0xffffffffL).toInt)
            sb.append(if (v == math.floor(v) && math.abs(v) < 1e7) v.toLong.toString else v.toString)
          } else sb.append(raw)
        }
      } else ended = true
      i += 1
    }
    if (sb.length == 0) "." else sb.toString
  }

  // ---- BCF typed decoding ----

  private def readDescriptor(bb: ByteBuffer): (Int, Int) = {
    val desc = bb.get() & 0xff
    val tpe = desc & 0xf
    var count = desc >>> 4
    if (count == 15) count = readTypedInt(bb)
    (tpe, count)
  }

  private def readTypedInt(bb: ByteBuffer): Int = {
    val (tpe, count) = readDescriptor(bb)
    require(count == 1, s"expected scalar typed int, count=$count")
    readOneInt(bb, tpe)
  }

  private def readOneInt(bb: ByteBuffer, tpe: Int): Int = tpe match {
    case 1 => bb.get().toInt
    case 2 => bb.getShort.toInt
    case 3 => bb.getInt
    case t => throw new IllegalArgumentException(s"not an int type: $t")
  }

  private def readString(bb: ByteBuffer): String = {
    val (tpe, count) = readDescriptor(bb)
    if (count == 0) return ""
    require(tpe == 7, s"expected char type, got $tpe")
    val bytes = new Array[Byte](count)
    bb.get(bytes)
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def readIntVector(bb: ByteBuffer): Seq[Int] = {
    val (tpe, count) = readDescriptor(bb)
    if (count == 0) Seq.empty
    else (0 until count).map(_ => readOneInt(bb, tpe))
  }

  /** Values of an INFO entry as boxed numbers/strings; a width's
    * MISSING sentinel (int8 -128, int16 -32768, int32 Int.MinValue,
    * float 0x7f800001) reads as null. */
  private def readValues(bb: ByteBuffer, tpe: Int, count: Int): Seq[Any] = tpe match {
    case 0 => Seq.empty // MISSING (Flag)
    case 1 | 2 | 3 =>
      val missing = tpe match { case 1 => Byte.MinValue.toInt; case 2 => Short.MinValue.toInt; case _ => Int.MinValue }
      (0 until count).map { _ => val v = readOneInt(bb, tpe); if (v == missing) null else Int.box(v) }
    case 5 => (0 until count).map { _ =>
      val bits = bb.getInt
      if (bits == 0x7f800001) null else Float.box(java.lang.Float.intBitsToFloat(bits))
    }
    case 7 =>
      val bytes = new Array[Byte](count)
      bb.get(bytes)
      Seq(new String(bytes, StandardCharsets.UTF_8))
    case t => throw new IllegalArgumentException(s"unknown BCF type $t")
  }
}
