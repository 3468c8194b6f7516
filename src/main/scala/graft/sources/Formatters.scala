package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.core.{GenomicRecordFormatter, RecordFormatter, TextBytes}

/** Writers' record renderers (reference §2.B: the commented COPY tests
  * document FASTA/FASTQ/GFF writing; recreated here for round-trips). */

object FastaFormatter extends RecordFormatter {
  override def fileExtension = ".fasta"
  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = text.add('>').add(row.getUTF8String(0))
    if (!row.isNullAt(1)) b.add(' ').add(row.getUTF8String(1))
    b.add('\n').add(row.getUTF8String(2)).add('\n').bytes
  }
}

object FastqFormatter extends RecordFormatter {
  override def fileExtension = ".fastq"
  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = text.add('@').add(row.getUTF8String(0))
    if (!row.isNullAt(1)) b.add(' ').add(row.getUTF8String(1))
    b.add('\n').add(row.getUTF8String(2)).add("\n+\n").add(row.getUTF8String(3)).add('\n').bytes
  }
}

/** SAM rendering — the inverse of SamFormat's parser for the columns
  * the read schema KEEPS: QNAME..CIGAR, RNEXT (already
  * '='-resolved on read, re-rendered as the explicit name), SEQ, QUAL.
  * PNEXT/TLEN and optional tags are not part of the read schema and
  * render as their null placeholders (0/0, none) — a documented loss;
  * `end` is CIGAR-derived and re-derives identically on read-back.
  * NULLs render as the SAM spec placeholders the reader maps back
  * ('*', 0, 255), so parse ∘ write = id on the modeled columns. */
object SamFormatter extends RecordFormatter {
  override def fileExtension = ".sam"

  override def fileHeaderBytes(firstRow: Option[InternalRow], schema: StructType,
                               options: Map[String, String]): Option[Array[Byte]] =
    Some("@HD\tVN:1.6\tSO:unknown\n".getBytes(UTF_8))

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = text.str(row, 0, "*").add('\t').add(row.getInt(1)).add('\t')
      .str(row, 2, "*").add('\t').add(if (row.isNullAt(3)) 0L else row.getLong(3)).add('\t')
    b.str(row, 5, "255").add('\t').str(row, 6, "*").add('\t').str(row, 7, "*").add("\t0\t0\t")
      .str(row, 8, "*").add('\t').str(row, 9, "*").add('\n').bytes
  }
}

/** GTF rendering — GFF columns with `key "value"; key2 "v";`
  * attributes; a multi-valued key re-renders as repeated `key "v"`
  * segments, exactly what the reader groups back into an array, so
  * parse ∘ write = id at the record level. */
object GtfFormatter extends GenomicRecordFormatter {
  override def fileExtension = ".gtf"

  override def coordsOf(row: InternalRow, schema: StructType): (String, Long, Long) =
    GffFormatter.coordsOf(row, schema)

  /** Generic preset over (seqname, start, end) — `tabix -p gff` works
    * for GTF too (same 1-based inclusive columns). */
  override def tabixConfig: (Int, Int, Int, Int, Char) = GffFormatter.tabixConfig

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = GffFormatter.columns(text, row)
    var any = false
    if (!row.isNullAt(8)) {
      val m = row.getMap(8)
      (0 until m.numElements()).foreach { i =>
        val vs = m.valueArray().getArray(i)
        (0 until vs.numElements()).foreach { j =>
          if (any) b.add(' ')
          b.add(m.keyArray().getUTF8String(i)).add(" \"").add(vs.getUTF8String(j)).add("\";")
          any = true
        }
      }
    }
    if (!any) b.add('.')
    b.add('\n').bytes
  }
}

/** BED rendering — the inverse of BedFormat's parser at the record
  * level: internal 1-based starts shift back to the file's 0-based
  * convention, trailing all-null columns are omitted (BED is
  * positional), interior nulls render as the spec's placeholders
  * ('.' for text fields, '0' for score/color — exactly the values the
  * reader maps back to NULL, so parse ∘ write = id holds). */
object BedFormatter extends GenomicRecordFormatter {
  override def fileExtension = ".bed"

  /** UCSC preset (0-based half-open coordinates on columns 1,2,3) —
    * htslib's `tabix -p bed`. */
  override def tabixConfig: (Int, Int, Int, Int, Char) = (0x10000, 1, 2, 3, '#')

  override def coordsOf(row: InternalRow, schema: StructType): (String, Long, Long) =
    (row.getUTF8String(0).toString, row.getLong(1) - 1, row.getLong(2))

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    var last = 11
    while (last > 2 && row.isNullAt(last)) last -= 1
    val b = text.add(row.getUTF8String(0)).add('\t')
      .add(row.getLong(1) - 1).add('\t').add(row.getLong(2))
    (3 to last).foreach { i =>
      b.add('\t')
      if (row.isNullAt(i)) b.add(if (i == 4 || i == 8) '0' else '.') // score / color placeholders
      else i match {
        case 4 | 7 | 9 => b.add(row.getLong(i))
        case 6         => b.add(row.getLong(6) - 1)
        case _         => b.add(row.getUTF8String(i))
      }
    }
    b.add('\n').bytes
  }
}

/** The rules VCF text and BCF share: the record interval, the tabix
  * preset, the sample-count invariant and the header's ##INFO/##FORMAT
  * declarations and #CHROM line. The header is RECONSTRUCTED from the
  * Spark schema: a declaration's Number/Type is the reader's schema
  * inference run backwards, and the sample columns are sized from the
  * first record's genotype array (names s1..sN — original sample names
  * are not part of the read schema). */
trait VcfLikeFormatter extends GenomicRecordFormatter {
  /** VCF tabix preset: coordinates on columns (1, 2), record interval
    * [pos-1, pos-1+len(ref)) — htslib's `tabix -p vcf`. Advisory only
    * for BCF (htslib resolves its coordinates from the records); its
    * CSI aux block carries reference NAMES, which the read side's
    * region query prefers over rid arithmetic. */
  override def tabixConfig: (Int, Int, Int, Int, Char) = (2, 1, 2, 0, '#')

  override def coordsOf(row: InternalRow, schema: StructType): (String, Long, Long) = {
    val pos = row.getLong(schema.fieldIndex("pos"))
    val ref = row.getUTF8String(schema.fieldIndex("ref"))
    (row.getUTF8String(schema.fieldIndex("chrom")).toString,
      pos - 1, pos - 1 + math.max(ref.numChars(), 1))
  }

  /** The row's genotype count; None when the schema has no samples. */
  protected def sampleCount(row: InternalRow, schema: StructType): Option[Int] = {
    val i = schema.fields.indexWhere(_.name == "genotypes")
    if (i < 0) None else Some(if (row.isNullAt(i)) 0 else row.getArray(i).numElements())
  }

  // ragged genotype arrays would write records whose sample count
  // disagrees with the header's #CHROM line — htslib/bcftools reject
  // such files; the writer holds every record to the first record's
  // count via this invariant (see RecordFormatter.recordInvariant)
  override def recordInvariant(row: InternalRow, schema: StructType,
      options: Map[String, String]): Option[(String, Long)] =
    sampleCount(row, schema).map(n => ("sample count", n.toLong))

  /** A `##INFO` / `##FORMAT` line declaring `id` with the Number/Type
    * the reader would infer the Spark type `dt` from. */
  protected def declaration(kind: String, id: String, dt: DataType): String = {
    val (num, tpe) = dt match {
      case BooleanType               => ("0", "Flag")
      case IntegerType               => ("1", "Integer")
      case FloatType                 => ("1", "Float")
      case StringType                => ("1", "String")
      case ArrayType(IntegerType, _) => (".", "Integer")
      case ArrayType(FloatType, _)   => (".", "Float")
      case _                         => (".", "String")
    }
    s"""##$kind=<ID=$id,Number=$num,Type=$tpe,Description="">""" + "\n"
  }

  protected def infoFields(schema: StructType): Array[StructField] =
    schema("info").dataType.asInstanceOf[StructType].fields

  protected def infoDeclarations(schema: StructType): String =
    infoFields(schema).map(f => declaration("INFO", f.name.toUpperCase, f.dataType)).mkString

  protected def columnsLine(nSamples: Int): String =
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO" +
      (if (nSamples > 0) "\tFORMAT" + (1 to nSamples).map(i => s"\ts$i").mkString else "") + "\n"
}

/** VCF text rendering — the inverse of VcfFormat's parser at the
  * RECORD level (`parse ∘ write = id` on values; the original byte
  * text is not preserved — '1.0' may re-render as '1.0' vs '1', field
  * case normalizes). String fields copy as their UTF-8 bytes; a null
  * INFO list element renders as the spec's missing value '.'. ##FORMAT
  * lines come from the genotypes_typed element struct when present;
  * `genotypes_typed` is derived data and is never rendered.
  */
object VcfFormatter extends VcfLikeFormatter {
  override def fileExtension = ".vcf"

  override def fileHeaderBytes(firstRow: Option[InternalRow], schema: StructType,
                               options: Map[String, String]): Option[Array[Byte]] = {
    val formats = schema.fields.find(_.name == "genotypes_typed").toSeq.flatMap(
      _.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fields)
    Some(("##fileformat=VCFv4.2\n" + infoDeclarations(schema) +
      formats.map(f => declaration("FORMAT", f.name.toUpperCase, f.dataType)).mkString +
      columnsLine(firstRow.flatMap(sampleCount(_, schema)).getOrElse(0))).getBytes(UTF_8))
  }

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    def idx(n: String) = schema.fieldIndex(n)
    val b = text.add(row.getUTF8String(idx("chrom"))).add('\t')
      .add(row.getLong(idx("pos"))).add('\t').str(row, idx("id")).add('\t')
      .add(row.getUTF8String(idx("ref"))).add('\t')
    val alt = row.getArray(idx("alt"))
    if (alt == null || alt.numElements() == 0) b.add('.')
    else (0 until alt.numElements()).foreach { i =>
      if (i > 0) b.add(',')
      b.add(alt.getUTF8String(i))
    }
    val qI = idx("qual")
    b.add('\t')
    if (row.isNullAt(qI)) b.add('.') else b.add(row.getFloat(qI))
    b.add('\t').str(row, idx("filter")).add('\t')

    val fields = infoFields(schema)
    val info = row.getStruct(idx("info"), fields.length)
    var any = false
    fields.indices.foreach { i =>
      val dt = fields(i).dataType
      if (!info.isNullAt(i) && (dt != BooleanType || info.getBoolean(i))) {
        if (any) b.add(';')
        any = true
        b.add(fields(i).name.toUpperCase)
        dt match {
          case BooleanType => // a Flag is its key
          case ArrayType(et, _) =>
            b.add('=')
            val a = info.getArray(i)
            (0 until a.numElements()).foreach { j =>
              if (j > 0) b.add(',')
              value(b, a, j, et)
            }
          case _ => value(b.add('='), info, i, dt)
        }
      }
    }
    if (!any) b.add('.')

    sampleCount(row, schema).filter(_ > 0).foreach { _ =>
      val gts = row.getArray(idx("genotypes"))
      b.add('\t').str(row, idx("format"))
      (0 until gts.numElements()).foreach(i => b.add('\t').add(gts.getUTF8String(i)))
    }
    b.add('\n').bytes
  }

  /** One INFO value: a string as its bytes, a number in its Java text
    * form, a missing (null) list element as '.'. */
  private def value(b: TextBytes, a: SpecializedGetters, i: Int, dt: DataType): Unit =
    if (a.isNullAt(i)) b.add('.')
    else dt match {
      case StringType => b.add(a.getUTF8String(i))
      case _          => b.add(a.get(i, dt).toString)
    }
}

object GffFormatter extends GenomicRecordFormatter {
  override def fileExtension = ".gff"

  /** GFF text is 1-based inclusive; tabix wants 0-based half-open. */
  override def coordsOf(row: InternalRow, schema: StructType): (String, Long, Long) =
    (row.getUTF8String(0).toString, row.getLong(3) - 1, row.getLong(4))

  /** Generic preset over (seqname, start, end) = columns (1, 4, 5),
    * '#' comment lines — the stock `tabix -p gff` configuration. */
  override def tabixConfig: (Int, Int, Int, Int, Char) = (0, 1, 4, 5, '#')

  /** The eight columns GFF and GTF share, each followed by a tab. */
  private[sources] def columns(b: TextBytes, row: InternalRow): TextBytes = {
    b.str(row, 0).add('\t').str(row, 1).add('\t').str(row, 2).add('\t')
      .add(row.getLong(3)).add('\t').add(row.getLong(4)).add('\t')
    if (row.isNullAt(5)) b.add('.') else b.add(row.getFloat(5))
    b.add('\t').str(row, 6).add('\t').str(row, 7).add('\t')
  }

  /** GFF3 reserved characters must be percent-encoded in attribute keys
    * and values, or a value containing ';' / '=' / ',' / tab re-parses as
    * extra separators; the reader percent-decodes, so enc∘dec = id. */
  private def enc(s: UTF8String): String = {
    val sb = new java.lang.StringBuilder(s.numBytes)
    s.toString.foreach(c => if ("%;=,&\t\n\r".indexOf(c) < 0) sb.append(c) else sb.append(f"%%${c.toInt}%02X"))
    sb.toString
  }

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = columns(text, row)
    if (row.isNullAt(8)) b.add('.')
    else {
      val m = row.getMap(8)
      (0 until m.numElements()).foreach { i =>
        if (i > 0) b.add(';')
        b.add(enc(m.keyArray().getUTF8String(i))).add('=')
        val vs = m.valueArray().getArray(i)
        (0 until vs.numElements()).foreach { j =>
          if (j > 0) b.add(',')
          b.add(enc(vs.getUTF8String(j)))
        }
      }
    }
    b.add('\n').bytes
  }
}

/** BAM rendering — the library's first BINARY writer. BGZF container
  * (forced — a .bam IS bgzf, so the codec suffix is suppressed), BAM v1
  * record layout mirroring [[graft.sources.BamFormat]]'s decoder field
  * for field, so parse ∘ write = id holds at the record level for the
  * 10-column schema (tags are not surfaced by the reader and not
  * written). Requires `option("refs", "name:length,...")`: BAM records
  * address the header's reference dictionary BY INDEX, and a
  * distributed writer cannot discover the dictionary without a second
  * pass — the caller states it, every part file carries the same
  * header, and any record naming an undeclared reference fails loudly
  * instead of silently renumbering.
  */
object BamFormatter extends RecordFormatter {
  override def fileExtension = ".bam"
  override def writeForcedCodec: Option[String] = Some("bgzf")

  private val CigarOps = "MIDNSHP=X"
  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val seqNibble: Array[Byte] = {
    val t = Array.fill[Byte](256)(15) // unknown bases encode as N
    SeqCode.zipWithIndex.foreach { case (c, i) =>
      t(c.toInt) = i.toByte
      t(c.toLower.toInt) = i.toByte
    }
    t
  }

  private val refCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[(String, Int)], Map[String, Int])]()

  private def refs(options: Map[String, String]): (Array[(String, Int)], Map[String, Int]) = {
    val spec = options.getOrElse("refs", throw new IllegalArgumentException(
      "bam write needs option(\"refs\", \"name:length,...\") — records address " +
        "the header's reference dictionary by index"))
    refCache.computeIfAbsent(spec, s => {
      val arr = s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { p =>
        val i = p.lastIndexOf(':')
        require(i > 0, s"bad refs entry '$p' (want name:length)")
        (p.substring(0, i), p.substring(i + 1).toInt)
      }.toArray
      require(arr.nonEmpty, "option(\"refs\") declared no references")
      (arr, arr.iterator.map(_._1).zipWithIndex.toMap)
    })
  }

  override def fileHeaderBytes(firstRow: Option[InternalRow], schema: StructType,
                               options: Map[String, String]): Option[Array[Byte]] = {
    val (arr, _) = refs(options)
    val text = ("@HD\tVN:1.6\tSO:unknown\n" +
      arr.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val size = 4 + 4 + text.length + 4 +
      arr.iterator.map { case (n, _) => 4 + n.length + 1 + 4 }.sum
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('A'.toByte).put('M'.toByte).put(1.toByte)
    bb.putInt(text.length).put(text)
    bb.putInt(arr.length)
    arr.foreach { case (n, l) =>
      bb.putInt(n.length + 1)
      bb.put(n.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).put(0.toByte)
      bb.putInt(l)
    }
    Some(bb.array())
  }

  /** samtools reg2bin over [beg, end) 0-based half-open. */
  private def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val (_, idx) = refs(options)
    def str(i: Int): String =
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    def ridOf(name: String, what: String): Int =
      if (name == null) -1
      else idx.getOrElse(name, throw new IllegalArgumentException(
        s"$what '$name' is not in option(\"refs\") — declare every reference"))
    val name = { val n = str(0); if (n == null) "*" else n }
    require(name.length <= 254, s"read name too long for BAM (${name.length})")
    val flag = row.getInt(1)
    val refId = ridOf(str(2), "reference")
    val pos0 = if (row.isNullAt(3)) -1 else (row.getLong(3) - 1).toInt
    val mapq = { val m = str(5); if (m == null) 255 else m.toInt }
    val cigar = str(6)
    val nextRefId = ridOf(str(7), "mate_reference")
    val seq = str(8)
    val qual = str(9)
    val lSeq = if (seq == null) 0 else seq.length
    require(qual == null || qual.length == lSeq,
      s"quality length ${if (qual == null) -1 else qual.length} != sequence length $lSeq for '$name'")
    // CIGAR -> packed (len << 4 | op) ops, tracking the reference span
    var ops = Array.empty[Int]
    var refSpan = 0
    if (cigar != null) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < cigar.length) {
        var len = 0
        val s0 = i
        while (i < cigar.length && cigar.charAt(i).isDigit) {
          len = len * 10 + (cigar.charAt(i) - '0'); i += 1
        }
        require(i > s0 && i < cigar.length, s"invalid CIGAR '$cigar'")
        val op = CigarOps.indexOf(cigar.charAt(i))
        require(op >= 0, s"invalid CIGAR op '${cigar.charAt(i)}' in '$cigar'")
        if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) refSpan += len
        buf += ((len << 4) | op)
        i += 1
      }
      ops = buf.toArray
    }
    val nameBytes = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // optional aux tags: an 11th map<string,string> column (tag ->
    // "TYPE:VALUE", the read side's rendering) encodes to spec aux
    // records — round-trips through option("tags", "true") reads
    val auxBytes: Array[Byte] =
      if (schema.length > 10 && schema(10).name == "tags" && !row.isNullAt(10))
        encodeAux(row.getMap(10))
      else Array.emptyByteArray
    val bodyLen = 32 + nameBytes.length + 1 + 4 * ops.length +
      (lSeq + 1) / 2 + lSeq + auxBytes.length
    val bb = java.nio.ByteBuffer.allocate(4 + bodyLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(bodyLen)
    bb.putInt(refId)
    bb.putInt(pos0)
    bb.put((nameBytes.length + 1).toByte)
    bb.put(mapq.toByte)
    bb.putShort(
      (if (pos0 < 0) 0
       else reg2bin(pos0, pos0 + math.max(refSpan, 1))).toShort)
    bb.putShort(ops.length.toShort)
    bb.putShort(flag.toShort)
    bb.putInt(lSeq)
    bb.putInt(nextRefId)
    bb.putInt(-1) // next_pos: not in the 10-column schema
    bb.putInt(0)  // tlen: not in the 10-column schema
    bb.put(nameBytes).put(0.toByte)
    ops.foreach(bb.putInt)
    var i = 0
    while (i < lSeq) {
      val hi = seqNibble(seq.charAt(i).toInt & 0xff)
      val lo = if (i + 1 < lSeq) seqNibble(seq.charAt(i + 1).toInt & 0xff) else 0
      bb.put(((hi << 4) | lo).toByte)
      i += 2
    }
    i = 0
    while (i < lSeq) {
      bb.put(if (qual == null) 0xff.toByte else (qual.charAt(i) - 33).toByte)
      i += 1
    }
    bb.put(auxBytes)
    bb.array()
  }

  /** Encode tag -> "TYPE:VALUE" pairs as BAM aux records. Integer
    * values pick int32 ('i') or uint32 ('I') by range — the SAM text
    * form carries no width, and htslib does the same promotion. */
  private def encodeAux(m: org.apache.spark.sql.catalyst.util.MapData): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    val keys = m.keyArray(); val vals = m.valueArray()
    var k = 0
    while (k < m.numElements()) {
      val tag = keys.getUTF8String(k).toString
      require(tag.length == 2, s"BAM aux tag must be 2 chars: '$tag'")
      val tv = vals.getUTF8String(k).toString
      val c1 = tv.indexOf(':')
      require(c1 > 0, s"BAM aux value must be 'TYPE:VALUE': '$tv'")
      val typ = tv.substring(0, c1)
      val v = tv.substring(c1 + 1)
      out.write(tag.charAt(0)); out.write(tag.charAt(1))
      typ match {
        case "A" =>
          require(v.length == 1, s"aux A value must be one char: '$v'")
          out.write('A'); out.write(v.charAt(0))
        case "i" =>
          val n = java.lang.Long.parseLong(v)
          if (n >= Int.MinValue && n <= Int.MaxValue) {
            out.write('i'); le32(n.toInt)
          } else {
            require(n >= 0 && n <= 0xffffffffL, s"aux integer out of range: $v")
            out.write('I'); le32(n.toInt)
          }
        case "f" =>
          out.write('f'); le32(java.lang.Float.floatToIntBits(v.toFloat))
        case "Z" | "H" =>
          out.write(typ.charAt(0))
          v.foreach(c => out.write(c)); out.write(0)
        case "B" =>
          val parts = v.split(",", -1)
          require(parts.nonEmpty && parts(0).length == 1,
            s"aux B value needs 'subtype,v1,...': '$v'")
          val sub = parts(0).charAt(0)
          out.write('B'); out.write(sub)
          le32(parts.length - 1)
          parts.iterator.drop(1).foreach { e =>
            sub match {
              case 'c' | 'C' => out.write(java.lang.Integer.parseInt(e) & 0xff)
              case 's' | 'S' => le16(java.lang.Integer.parseInt(e) & 0xffff)
              case 'i' | 'I' => le32(java.lang.Long.parseLong(e).toInt)
              case 'f' => le32(java.lang.Float.floatToIntBits(e.toFloat))
              case other => throw new IllegalArgumentException(
                s"unknown aux B subtype '$other'")
            }
          }
        case other => throw new IllegalArgumentException(
          s"unknown aux type '$other' in '$tv'")
      }
      k += 1
    }
    out.toByteArray
  }
}

/** BEDPE rendering: stored 1-based inclusive loci back to the 0-based
  * half-open disk form; a NULL mate renders as '.' with -1 coords (the
  * convention the reader folds back to NULLs — parse ∘ write = id);
  * extras re-append verbatim. */
object BedpeFormatter extends RecordFormatter {
  override def fileExtension = ".bedpe"
  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = text
    Seq(0, 3).foreach { ci =>
      if (row.isNullAt(ci)) b.add(".\t-1\t-1")
      else b.add(row.getUTF8String(ci)).add('\t').add(row.getLong(ci + 1) - 1).add('\t').add(row.getLong(ci + 2))
      b.add('\t')
    }
    b.str(row, 6).add('\t').str(row, 7).add('\t').str(row, 8).add('\t').str(row, 9)
    if (!row.isNullAt(10)) {
      val arr = row.getArray(10)
      (0 until arr.numElements()).foreach(i => b.add('\t').add(arr.getUTF8String(i)))
    }
    b.add('\n').bytes
  }
}

/** bedGraph rendering: 1-based inclusive back to 0-based half-open. */
object BedGraphFormatter extends RecordFormatter {
  override def fileExtension = ".bedgraph"
  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] =
    text.add(row.getUTF8String(0)).add('\t').add(row.getLong(1) - 1).add('\t')
      .add(row.getLong(2)).add('\t').add(row.getDouble(3)).add('\n').bytes
}

/** BLAST -outfmt 6 rendering: 12 tab-separated fields, doubles in
  * Java's shortest-round-trip form (the VALUES survive parse ∘ write
  * exactly; the text spelling of '1e-5' does not, which is the normal
  * contract for float text formats). */
object Blast6Formatter extends RecordFormatter {
  override def fileExtension = ".blast6"
  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val b = text.add(row.getUTF8String(0)).add('\t').add(row.getUTF8String(1))
      .add('\t').add(row.getDouble(2))
    (3 to 9).foreach(i => b.add('\t').add(row.getLong(i)))
    b.add('\t').add(row.getDouble(10)).add('\t').add(row.getDouble(11)).add('\n').bytes
  }
}
