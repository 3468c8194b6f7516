package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** BCF2 binary rendering — the inverse of [[BcfFormat]]'s decoder at
  * the record level, inside the real BGZF container (forced; a .bcf IS
  * bgzf, so the codec suffix is suppressed). `parse ∘ write = id` holds
  * on the modeled columns for both our BCF reader and, by the
  * VCF/BCF parity the readers guarantee, the VCF text reader.
  *
  * Dictionaries are the crux of BCF (reference decodes them through
  * noodles' header machinery, `exon/src/vcf/...`): records address
  * FILTER/INFO/FORMAT keys and contigs BY INDEX into the embedded text
  * header. The writer builds the SAME LinkedHashSet the reader's
  * `dictionaries()` builds — PASS implicitly first, then IDs in header
  * appearance order — and renders the header in exactly that order, so
  * indices agree by construction. Like the BAM writer's `refs`,
  * contigs must be declared up front via `option("contigs",
  * "name,...")` (a distributed writer cannot discover the contig set
  * without a second pass); FILTER ids beyond PASS via
  * `option("filters", "q10,...")`. A record naming an undeclared
  * contig or filter fails loudly instead of silently renumbering.
  *
  * Typed encoding picks the smallest integer width whose value range
  * does not collide with that width's MISSING/END_OF_VECTOR sentinels
  * (int8 reserves -128..-121, int16 -32768..-32761, int32 the lowest
  * eight values). GT strings ("0|1", "./.") re-encode as the packed
  * (allele+1)<<1|phase integers; other FORMAT fields follow the
  * `genotypes_typed` element struct when the schema carries it
  * (Integer/Float → numeric vectors with '.' as MISSING and ragged
  * padding as END_OF_VECTOR) and fall back to fixed-width char
  * otherwise — every choice mirrors what `BcfFormat.renderFmtValue`
  * renders back.
  */
object BcfFormatter extends VcfLikeFormatter {
  override def fileExtension = ".bcf"
  override def writeForcedCodec: Option[String] = Some("bgzf")

  // BCF typed-encoding type codes
  private val T_MISSING = 0
  private val T_INT8 = 1
  private val T_INT16 = 2
  private val T_INT32 = 3
  private val T_FLOAT = 5
  private val T_CHAR = 7

  private val FLOAT_MISSING_BITS = 0x7f800001
  private val FLOAT_END_BITS = 0x7f800002

  /** Everything the record encoder needs, derived once per (options,
    * schema) pair and cached (executors render many records). The
    * schema is part of the key: INFO ids and the typed-genotypes
    * struct contribute dictionary entries. */
  private final case class Dicts(dict: IndexedSeq[String], dictIdx: Map[String, Int],
                                 contigs: IndexedSeq[String], contigIdx: Map[String, Int],
                                 formatKeys: IndexedSeq[String],
                                 fmtTypes: Map[String, DataType])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, StructType), Dicts]()

  private def contigSpec(options: Map[String, String]): String =
    options.getOrElse("contigs", throw new IllegalArgumentException(
      "bcf write needs option(\"contigs\", \"name,...\" or \"name:length,...\") — " +
        "records address the header's contig dictionary by index"))

  /** FORMAT keys + value types the header declares: the
    * genotypes_typed element struct when present (uppercased field
    * names — the struct preserves FORMAT appearance order), merged
    * with `option("formats", "ID:Integer,...")` declarations for
    * plain DataFrames that carry only the rendered genotype strings;
    * GT is always first. */
  private def declaredFormats(schema: StructType,
                              options: Map[String, String]): (IndexedSeq[String], Map[String, DataType]) = {
    val fromStruct: Seq[(String, DataType)] =
      schema.fields.find(_.name == "genotypes_typed") match {
        case Some(f) =>
          f.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
            .fields.map(f2 => (f2.name.toUpperCase, f2.dataType)).toSeq
        case None => Seq.empty
      }
    val fromOption: Seq[(String, DataType)] = options.get("formats").iterator
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { spec =>
        val i = spec.lastIndexOf(':')
        val (id, tpe) = if (i > 0) (spec.substring(0, i), spec.substring(i + 1))
                        else (spec, "String")
        (id.toUpperCase, tpe match {
          case "Integer" => IntegerType
          case "Float"   => FloatType
          case "String" | "Character" => StringType
          case other => throw new IllegalArgumentException(
            s"option(\"formats\") type '$other' for '$id' (want Integer|Float|String|Character)")
        })
      }.toSeq
    val merged = scala.collection.mutable.LinkedHashMap[String, DataType]("GT" -> StringType)
    (fromStruct ++ fromOption).foreach { case (k, t) =>
      if (!merged.contains(k)) merged += (k -> t)
    }
    (merged.keys.toIndexedSeq, merged.toMap)
  }

  private def dicts(schema: StructType, options: Map[String, String]): Dicts = {
    val key = (contigSpec(options), options.getOrElse("filters", ""),
      options.getOrElse("formats", ""), schema)
    cache.computeIfAbsent(key, _ => {
      val contigs = contigSpec(options).split(",").iterator
        .map(_.trim).filter(_.nonEmpty).map(_.takeWhile(_ != ':')).toIndexedSeq
      require(contigs.nonEmpty, "option(\"contigs\") declared no contigs")
      val filters = options.get("filters").iterator
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toIndexedSeq
      // a sample-less schema writes no ##FORMAT lines, so FORMAT ids
      // must not occupy dict slots the reader will never assign
      val (fmtKeys, fmtTypes) =
        if (schema.fieldNames.contains("genotypes")) declaredFormats(schema, options)
        else (IndexedSeq.empty[String], Map.empty[String, DataType])
      // the reader's dictionaries(): LinkedHashSet("PASS") ++ ids in
      // header appearance order — we render FILTER, INFO, FORMAT lines
      // in exactly this traversal order below
      val dict = scala.collection.mutable.LinkedHashSet[String]("PASS")
      filters.foreach(dict += _)
      infoFields(schema).foreach(f => dict += f.name.toUpperCase)
      fmtKeys.foreach(dict += _)
      val d = dict.toIndexedSeq
      Dicts(d, d.zipWithIndex.toMap,
        contigs, contigs.zipWithIndex.toMap, fmtKeys, fmtTypes)
    })
  }

  override def fileHeaderBytes(firstRow: Option[InternalRow], schema: StructType,
                               options: Map[String, String]): Option[Array[Byte]] = {
    val ds = dicts(schema, options)
    val sb = new java.lang.StringBuilder("##fileformat=VCFv4.2\n")
    // FILTER → INFO → FORMAT in the exact dict traversal order
    options.get("filters").iterator.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
      .foreach(f => sb.append(s"""##FILTER=<ID=$f,Description="">""").append('\n'))
    sb.append(infoDeclarations(schema))
    // GT is Number=1 Type=String by spec: declaredFormats types it so
    ds.formatKeys.foreach(k => sb.append(declaration("FORMAT", k, ds.fmtTypes(k))))
    contigSpec(options).split(",").iterator.map(_.trim).filter(_.nonEmpty).foreach { c =>
      val i = c.lastIndexOf(':')
      if (i > 0) sb.append(s"##contig=<ID=${c.substring(0, i)},length=${c.substring(i + 1)}>\n")
      else sb.append(s"##contig=<ID=$c>\n")
    }
    // header sample count: option("samples", n) is authoritative when
    // set (and the first record must agree); otherwise the first record
    // fixes it and recordInvariant holds every later record to it.
    val fromRow = firstRow.flatMap(sampleCount(_, schema))
    val nSamples = options.get("samples") match {
      case Some(n) =>
        val want = n.toInt
        fromRow.foreach(got => require(got == want,
          s"first record carries $got genotypes but option(\"samples\") declares " +
            s"$want — records would disagree with the header sample columns"))
        if (schema.fieldNames.contains("genotypes")) want else 0
      case None => fromRow.getOrElse(0)
    }
    sb.append(columnsLine(nSamples))
    val text = (sb.toString + "\u0000").getBytes(StandardCharsets.UTF_8)
    val bb = ByteBuffer.allocate(9 + text.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('C'.toByte).put('F'.toByte)
      .put(2.toByte).put(2.toByte) // BCF v2.2
    bb.putInt(text.length).put(text)
    Some(bb.array())
  }

  // ---- typed-encoding primitives (inverses of BcfFormat's readers) ----

  private def putDescriptor(bb: ByteBuffer, tpe: Int, count: Int): Unit =
    if (count < 15) bb.put(((count << 4) | tpe).toByte)
    else { bb.put(((15 << 4) | tpe).toByte); putTypedInt(bb, count) }

  /** Smallest integer width whose sentinel band the value avoids. */
  private def intWidth(v: Long): Int =
    if (v >= -120 && v <= 127) T_INT8
    else if (v >= -32760 && v <= 32767) T_INT16
    else if (v >= Int.MinValue + 8 && v <= Int.MaxValue) T_INT32
    else throw new IllegalArgumentException(s"value $v does not fit BCF int32")

  private def putInt(bb: ByteBuffer, tpe: Int, v: Long): Unit = tpe match {
    case T_INT8  => bb.put(v.toByte)
    case T_INT16 => bb.putShort(v.toShort)
    case T_INT32 => bb.putInt(v.toInt)
    case t       => throw new IllegalArgumentException(s"not an int type: $t")
  }

  private def missingOf(tpe: Int): Long = tpe match {
    case T_INT8 => -128; case T_INT16 => -32768; case T_INT32 => Int.MinValue
  }
  private def endOf(tpe: Int): Long = tpe match {
    case T_INT8 => -127; case T_INT16 => -32767; case T_INT32 => Int.MinValue + 1
  }

  private def putTypedInt(bb: ByteBuffer, v: Int): Unit = {
    val t = intWidth(v)
    putDescriptor(bb, t, 1)
    putInt(bb, t, v)
  }

  private def putString(bb: ByteBuffer, s: String): Unit = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    putDescriptor(bb, T_CHAR, bytes.length)
    bb.put(bytes)
  }

  /** A missing (None) element is the chosen width's MISSING sentinel. */
  private def putIntVector(bb: ByteBuffer, vs: Seq[Option[Long]]): Unit =
    if (vs.isEmpty) putDescriptor(bb, T_INT8, 0)
    else {
      val t = vs.flatten.map(intWidth).foldLeft(T_INT8)(math.max)
      putDescriptor(bb, t, vs.length)
      vs.foreach(v => putInt(bb, t, v.getOrElse(missingOf(t))))
    }

  // ---- record encoding ----

  override def formatBytes(row: InternalRow, schema: StructType,
                           options: Map[String, String]): Array[Byte] = {
    val ds = dicts(schema, options)
    def idx(n: String) = schema.fieldIndex(n)

    val chrom = row.getUTF8String(idx("chrom")).toString
    val rid = ds.contigIdx.getOrElse(chrom, throw new IllegalArgumentException(
      s"contig '$chrom' is not in option(\"contigs\") — declare every contig"))
    val pos0 = (row.getLong(idx("pos")) - 1).toInt
    val ref = row.getUTF8String(idx("ref")).toString
    val idI = idx("id")
    val id = if (row.isNullAt(idI)) "." else row.getUTF8String(idI).toString
    val altA = row.getArray(idx("alt"))
    val alts = (0 until (if (altA == null) 0 else altA.numElements()))
      .map(i => altA.getUTF8String(i).toString)
    val qI = idx("qual")
    val qualBits =
      if (row.isNullAt(qI)) FLOAT_MISSING_BITS
      else java.lang.Float.floatToRawIntBits(row.getFloat(qI))
    val fI = idx("filter")
    val filterIds: Seq[Option[Long]] =
      if (row.isNullAt(fI)) Seq.empty
      else row.getUTF8String(fI).toString.split(";").toSeq.map(f =>
        Some(ds.dictIdx.getOrElse(f, throw new IllegalArgumentException(
          s"FILTER '$f' is not PASS or in option(\"filters\") — declare every filter id")).toLong))

    // INFO entries present on this row, in schema order
    val infoStruct = schema("info").dataType.asInstanceOf[StructType]
    val info = row.getStruct(idx("info"), infoStruct.length)
    val infoEntries: Seq[(Int, DataType, Any)] =
      infoStruct.fields.zipWithIndex.flatMap { case (f, i) =>
        if (info.isNullAt(i)) None
        else {
          val dictKey = ds.dictIdx(f.name.toUpperCase)
          f.dataType match {
            case BooleanType if !info.getBoolean(i) => None // absent flag
            case dt => Some((dictKey, dt, info.get(i, dt)))
          }
        }
      }.toSeq

    // FORMAT block: parse the rendered strings back to typed vectors
    val withSamples = schema.fieldNames.contains("genotypes")
    val gI = if (withSamples) idx("genotypes") else -1
    val gts: IndexedSeq[String] =
      if (!withSamples || row.isNullAt(gI)) IndexedSeq.empty
      else {
        val a = row.getArray(gI)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
    val fmtI = if (withSamples) schema.fieldIndex("format") else -1
    val fmtKeys: IndexedSeq[String] =
      if (!withSamples || row.isNullAt(fmtI)) IndexedSeq.empty
      else row.getUTF8String(fmtI).toString.split(":").toIndexedSeq
    fmtKeys.foreach(k => require(ds.dictIdx.contains(k),
      s"FORMAT key '$k' is not in the header dictionary (declared FORMAT " +
        s"ids: ${ds.formatKeys.mkString(",")})"))
    val nSample = gts.length
    // option("samples") is the declared header width — a record that
    // disagrees would write a BCF htslib rejects (the in-house reader's
    // per-record n_sample tolerance must not mask it). Cross-record
    // raggedness without the option is caught by recordInvariant.
    options.get("samples").foreach(n => require(nSample == n.toInt,
      s"record carries $nSample genotypes but option(\"samples\") declares " +
        s"${n.toInt} — the BCF would disagree with its header sample columns"))
    val nFmt = if (nSample == 0) 0 else fmtKeys.length

    // ---- shared block ----
    val shared = ByteBuffer.allocate(64 + id.length + ref.length +
      alts.map(_.length + 8).sum + 16 * (filterIds.length + 1) +
      infoEntries.map(e => 32 + sizeOfInfo(e._2, e._3)).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    shared.putInt(rid)
    shared.putInt(pos0)
    shared.putInt(math.max(ref.length, 1)) // rlen
    shared.putInt(qualBits)
    shared.putInt(((alts.length + 1) << 16) | infoEntries.length)
    shared.putInt((nFmt << 24) | nSample)
    putString(shared, id)
    putString(shared, ref)
    alts.foreach(putString(shared, _))
    putIntVector(shared, filterIds)
    infoEntries.foreach { case (key, dt, v) =>
      putTypedInt(shared, key)
      putInfoValue(shared, dt, v)
    }

    // ---- indiv block ----
    val indiv = ByteBuffer.allocate(
      if (nFmt == 0) 0
      else fmtKeys.iterator.map(k => 16 + nSample * (2 +
        gts.iterator.map(_.length).max * 4)).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    if (nFmt > 0) {
      // per-sample token for field f: the f-th ':'-part, '.' when the
      // sample's rendered string carries fewer parts
      val parts: IndexedSeq[Array[String]] = gts.map(_.split(":", -1))
      var f = 0
      while (f < nFmt) {
        val key = fmtKeys(f)
        putTypedInt(indiv, ds.dictIdx(key))
        val vals = parts.map(p => if (f < p.length) p(f) else ".")
        if (key == "GT") putGtField(indiv, vals)
        else ds.fmtTypes.get(key.toUpperCase) match {
          case Some(IntegerType) | Some(ArrayType(IntegerType, _)) =>
            putNumericField(indiv, vals, float = false)
          case Some(FloatType) | Some(ArrayType(FloatType, _)) =>
            putNumericField(indiv, vals, float = true)
          case _ => putCharField(indiv, vals)
        }
        f += 1
      }
    }

    val lShared = shared.position()
    val lIndiv = indiv.position()
    val out = ByteBuffer.allocate(8 + lShared + lIndiv).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(lShared).putInt(lIndiv)
    out.put(shared.array(), 0, lShared)
    out.put(indiv.array(), 0, lIndiv)
    out.array()
  }

  private def sizeOfInfo(dt: DataType, v: Any): Int = dt match {
    case BooleanType => 1
    case IntegerType | FloatType => 8
    case StringType => 8 + v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].numBytes()
    case ArrayType(_, _) =>
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      8 + 4 * arr.numElements() + (dt match {
        case ArrayType(StringType, _) =>
          (0 until arr.numElements()).map(arr.getUTF8String(_).numBytes() + 1).sum
        case _ => 0
      })
    case _ => 16
  }

  private def putInfoValue(bb: ByteBuffer, dt: DataType, v: Any): Unit = dt match {
    case BooleanType => putDescriptor(bb, T_MISSING, 0) // Flag: presence is the value
    case IntegerType => putTypedInt(bb, v.asInstanceOf[Int])
    case FloatType =>
      putDescriptor(bb, T_FLOAT, 1)
      bb.putFloat(v.asInstanceOf[Float])
    case StringType => putString(bb, v.toString)
    case ArrayType(IntegerType, _) =>
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      putIntVector(bb, (0 until arr.numElements()).map(i =>
        if (arr.isNullAt(i)) None else Some(arr.getInt(i).toLong)))
    case ArrayType(FloatType, _) =>
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      putDescriptor(bb, T_FLOAT, arr.numElements())
      (0 until arr.numElements()).foreach(i =>
        if (arr.isNullAt(i)) bb.putInt(FLOAT_MISSING_BITS) else bb.putFloat(arr.getFloat(i)))
    case ArrayType(StringType, _) =>
      // BCF stores string lists as one comma-joined char vector
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      putString(bb, (0 until arr.numElements()).map(arr.getUTF8String(_).toString).mkString(","))
    case other => throw new IllegalArgumentException(s"unsupported INFO type $other")
  }

  /** GT vectors: "0|1" → [(0+1)<<1|0, (1+1)<<1|1], '.' → 0; ragged
    * ploidy pads END_OF_VECTOR. The phase bit of allele i>0 comes from
    * its PRECEDING separator, exactly what the reader renders back. */
  private def putGtField(bb: ByteBuffer, vals: Seq[String]): Unit = {
    val encoded: Seq[Array[Long]] = vals.map { g =>
      if (g.isEmpty || g == ".") Array(0L)
      else {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var i = 0
        var phase = 0L // first allele: unphased bit clear
        while (i < g.length) {
          val s0 = i
          while (i < g.length && g.charAt(i) != '/' && g.charAt(i) != '|') i += 1
          val tok = g.substring(s0, i)
          buf += (if (tok == "." || tok.isEmpty) phase // missing allele keeps sep bit
                  else ((tok.toLong + 1) << 1) | phase)
          if (i < g.length) { phase = if (g.charAt(i) == '|') 1L else 0L; i += 1 }
        }
        buf.toArray
      }
    }
    val count = encoded.map(_.length).max
    val t = encoded.iterator.flatten.map(intWidth).foldLeft(T_INT8)(math.max)
    putDescriptor(bb, t, count)
    encoded.foreach { vs =>
      vs.foreach(putInt(bb, t, _))
      (vs.length until count).foreach(_ => putInt(bb, t, endOf(t)))
    }
  }

  /** Numeric FORMAT vectors from rendered text: ','-split, '.' →
    * MISSING, ragged → END_OF_VECTOR padding. */
  private def putNumericField(bb: ByteBuffer, vals: Seq[String], float: Boolean): Unit = {
    val tokens: Seq[Array[String]] =
      vals.map(v => if (v == "." || v.isEmpty) Array(".") else v.split(",", -1))
    val count = math.max(tokens.map(_.length).max, 1)
    if (float) {
      putDescriptor(bb, T_FLOAT, count)
      tokens.foreach { ts =>
        ts.foreach(t => bb.putInt(
          if (t == "." || t.isEmpty) FLOAT_MISSING_BITS
          else java.lang.Float.floatToRawIntBits(t.toFloat)))
        (ts.length until count).foreach(_ => bb.putInt(FLOAT_END_BITS))
      }
    } else {
      val nums = tokens.flatten.filter(t => t != "." && t.nonEmpty).map(_.toLong)
      val t = if (nums.isEmpty) T_INT8 else nums.map(intWidth).max
      putDescriptor(bb, t, count)
      tokens.foreach { ts =>
        ts.foreach(s => putInt(bb, t,
          if (s == "." || s.isEmpty) missingOf(t) else s.toLong))
        (ts.length until count).foreach(_ => putInt(bb, t, endOf(t)))
      }
    }
  }

  /** Fixed-width NUL-padded char field (the BCF string encoding for
    * samples): width = longest value; the reader strips the padding. */
  private def putCharField(bb: ByteBuffer, vals: Seq[String]): Unit = {
    val width = math.max(vals.iterator.map(_.getBytes(StandardCharsets.UTF_8).length).max, 1)
    putDescriptor(bb, T_CHAR, width)
    vals.foreach { v =>
      val bytes = v.getBytes(StandardCharsets.UTF_8)
      bb.put(bytes)
      (bytes.length until width).foreach(_ => bb.put(0.toByte))
    }
  }
}
