package graft.sources

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.core._

/** VCF with header-driven schema inference: the `info` struct's fields
  * come from the file's own `##INFO=<ID=…,Number=…,Type=…>` declarations
  * (reference behavior: test_vcf_record_scan.test selects info.indel /
  * info.dp matching vcf/index.vcf's header; SURVEY.md §1.2).
  *
  * Number=0/Flag -> BOOLEAN (absent -> NULL, matching the reference's
  * golden first row); Number=1 -> scalar; anything else -> ARRAY.
  * Field names are lowercased like the reference's output.
  *
  * A `region` option ('chr' or 'chr:start-end') gives the vcf_query
  * semantics: .tbi-driven chunk pruning when the index exists, always
  * re-filtered at scan time (the index only prunes I/O).
  */
object VcfFormat extends GraftFormat {
  override def name = "vcf"
  override def extensions = Seq("vcf")
  override def formatter: Option[RecordFormatter] = Some(VcfFormatter)
  /** Line-oriented records: plain .vcf splits by byte range, bgzipped
    * .vcf.gz by BGZF block range (headers live at the file head and are
    * '#'-filtered in every split). */
  override def splittable = true

  final case class InfoField(id: String, number: String, vcfType: String) {
    def single: Boolean = number == "1" || number == "0"
    def sparkType: DataType = {
      val scalar = vcfType match {
        case "Integer"             => IntegerType
        case "Float"               => FloatType
        case "Flag"                => BooleanType
        case "String" | "Character" => StringType
        case _                     => StringType
      }
      if (vcfType == "Flag" || single) scalar else ArrayType(scalar)
    }
  }

  private val InfoRe = """##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*""".r
  private val FmtRe = """##FORMAT=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*""".r

  def parseHeaderInfo(headerLines: Seq[String]): Seq[InfoField] =
    headerLines.collect { case InfoRe(id, num, tpe) => InfoField(id, num, tpe) }

  /** ##FORMAT declarations, typed with the same rules as ##INFO —
    * drives the `genotypes_typed` struct schema. */
  def parseHeaderFormat(headerLines: Seq[String]): Seq[InfoField] =
    headerLines.collect { case FmtRe(id, num, tpe) => InfoField(id, num, tpe) }

  /** The analytics-friendly genotype shape (`genotypes_typed[0].gq > 20`
    * without string parsing): one struct per sample, fields from the
    * ##FORMAT declarations. The reference's noodles-backed schema models
    * genotypes as nested typed data (exon crate;
    * test_vcf_record_scan.test exercises a subset); the text and binary
    * sources here share THIS conversion from the VCF-parity string
    * surface, so their typed values are identical by construction. */
  def typedGenotypesSchema(headerLines: Seq[String]): Option[StructField] = {
    val fmts = parseHeaderFormat(headerLines)
    if (fmts.isEmpty) None
    else Some(StructField("genotypes_typed", ArrayType(
      StructType(fmts.map(f => StructField(f.id.toLowerCase, f.sparkType))))))
  }

  /** Typed structs from the rendered surface: record FORMAT keys align
    * sample sub-fields positionally; fields absent from this record's
    * FORMAT (or '.') are NULL. */
  def typedGenotypes(format: String, gts: Seq[String], st: StructType): GenericArrayData = {
    if (format == null) return new GenericArrayData(Array.empty[Any])
    val keys = format.split(":").map(_.toLowerCase)
    val idx = st.fields.map(f => keys.indexOf(f.name))
    new GenericArrayData(gts.map { g =>
      val parts = g.split(":", -1)
      val vals = new Array[Any](st.fields.length)
      var i = 0
      while (i < st.fields.length) {
        val j = idx(i)
        vals(i) =
          if (j < 0 || j >= parts.length || parts(j) == "." || parts(j).isEmpty) null
          else typedInfoValue(parts(j), st.fields(i).dataType)
        i += 1
      }
      new GenericInternalRow(vals): Any
    }.toArray)
  }

  private def headerOf(path: Path, conf: Configuration,
                       options: Map[String, String]): Seq[String] = {
    val raw = GraftFiles.open(path.toString, conf)
    val (codec, _) = Compression.of(path.toString, options)
    val in = Compression.wrap(raw.stream, codec)
    try {
      val it = new LineReader(in, 0, Long.MaxValue).map(_._2)
      it.takeWhile(_.startsWith("#")).toList
    } finally in.close()
  }

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType = {
    val header = headerOf(paths.head, conf, options)
    val infos = parseHeaderInfo(header.filter(_.startsWith("##")))
    val infoStruct = StructType(infos.map(f =>
      StructField(f.id.toLowerCase, f.sparkType)))
    val base = Seq(
      StructField("chrom", StringType),
      StructField("pos", LongType),
      StructField("id", StringType),
      StructField("ref", StringType),
      StructField("alt", ArrayType(StringType)),
      StructField("qual", FloatType),
      StructField("filter", StringType),
      StructField("info", infoStruct))
    // sample columns are declared by the #CHROM header line: 9th field
    // is FORMAT, the rest are sample names -> raw genotype strings
    val hasSamples = header.lastOption
      .filter(_.startsWith("#CHROM"))
      .exists(_.split("\t").length > 8)
    StructType(
      if (hasSamples)
        base ++ (Seq(StructField("format", StringType),
          StructField("genotypes", ArrayType(StringType))) ++
          typedGenotypesSchema(header.filter(_.startsWith("##"))))
      else base)
  }

  /** Tabix fast path for bgzipped VCF (falls back to scan+filter):
    * index loaded once, probed per region, chunks unioned+coalesced
    * ([[TabixChunks]] — shared with the GFF-like and BED formats). */
  override def regionChunks(path: String, regions: Seq[String],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    TabixChunks.forRegions(path, regions, conf)

  override def regionColumns: Option[(String, String)] = Some(("chrom", "pos"))

  /** Region grammar: 'chr' or 'chr:start-end' (1-based inclusive). */
  def parseRegion(r: String): (String, Long, Long) = Regions.parse(r)

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val infoSchema = schema("info").dataType.asInstanceOf[StructType]
    val withSamples = schema.fieldNames.contains("genotypes")
    val hasTyped = schema.fieldNames.contains("genotypes_typed")
    // runtime pruning: skip the parse work for unprojected expensive
    // columns (rows stay full-schema shaped — ordinals must not shift)
    val typedStruct = schema.fields.find(_.name == "genotypes_typed")
      .map(_.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])
      .filter(_ => split.needs("genotypes_typed"))
    val wantInfo = split.needs("info")
    val wantGts = split.needs("genotypes") || split.needs("format")
    val region = Regions.matcherFromOptions(options)
    // P.lines handles every split shape: index-chunk streams carry
    // (0, MaxValue) split bounds (the chunk's end voff bounds the
    // BgzfBlockStream itself), ranged and BGZF splits apply the line
    // ownership protocol
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parseRecord(_, infoSchema, withSamples, hasTyped, typedStruct, wantInfo, wantGts))
      .filter { vals =>
        region match {
          case None => true
          case Some(m) =>
            vals(0) != null && vals(1) != null && m.containsPoint(
              vals(0).asInstanceOf[UTF8String].toString, vals(1).asInstanceOf[Long])
        }
      }
  }

  private def typedInfoValue(raw: String, dt: DataType): Any = dt match {
    case IntegerType => java.lang.Integer.parseInt(raw)
    case FloatType   => java.lang.Float.parseFloat(raw)
    case StringType  => UTF8String.fromString(raw)
    case ArrayType(et, _) =>
      new GenericArrayData(raw.split(",").map(v => typedInfoValue(v, et)).toArray[Any])
    case _ => UTF8String.fromString(raw)
  }

  private def parseRecord(line: String, infoSchema: StructType,
                          withSamples: Boolean, hasTyped: Boolean,
                          typedStruct: Option[StructType],
                          wantInfo: Boolean, wantGts: Boolean): Array[Any] = {
    val c = line.split("\t", -1)
    require(c.length >= 8, s"VCF record has ${c.length} columns")
    val infoVals: Array[Any] =
      if (!wantInfo) new Array[Any](infoSchema.length)
      else {
        val infoKv: Map[String, String] =
          if (c(7) == "." || c(7).isEmpty) Map.empty
          else c(7).split(";").iterator.map { seg =>
            val eq = seg.indexOf('=')
            if (eq < 0) (seg.toLowerCase, "") else (seg.substring(0, eq).toLowerCase, seg.substring(eq + 1))
          }.toMap
        infoSchema.fields.map[Any] { f =>
          f.dataType match {
            case BooleanType => if (infoKv.contains(f.name)) java.lang.Boolean.TRUE else null
            case dt          => infoKv.get(f.name).map(typedInfoValue(_, dt)).orNull
          }
        }
      }
    val base = Array[Any](
      UTF8String.fromString(c(0)),
      java.lang.Long.parseLong(c(1)),
      if (c(2) == ".") null else UTF8String.fromString(c(2)),
      UTF8String.fromString(c(3)),
      if (c(4) == ".") new GenericArrayData(Array.empty[Any])
      else new GenericArrayData(c(4).split(",").map(a => UTF8String.fromString(a): Any)),
      if (c(5) == ".") null else java.lang.Float.parseFloat(c(5)),
      if (c(6) == ".") null else UTF8String.fromString(c(6)),
      new GenericInternalRow(infoVals))
    if (!withSamples) base
    else {
      val withFmt = base ++ (
        if (!wantGts) Array[Any](null, null)
        else Array[Any](
          if (c.length > 8) UTF8String.fromString(c(8)) else null,
          new GenericArrayData(c.drop(9).map(g => UTF8String.fromString(g): Any))))
      if (hasTyped) {
        typedStruct match {
          case None     => withFmt :+ null // pruned: slot kept, work skipped
          case Some(st) =>
            withFmt :+ typedGenotypes(if (c.length > 8) c(8) else null, c.drop(9).toSeq, st)
        }
      } else withFmt
    }
  }
}
