package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

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
    * FORMAT (or '.') are NULL. One per read: it holds the struct's key
    * index and the reused cut buffers. */
  final class TypedGenotypes(st: StructType) {
    private val keys = new KeyIndex(st)
    /** key id -> the first FORMAT key naming it, for the current record */
    private val first = new Array[Int](keys.size)
    private val cols, fmtKeys, parts, items = new Cuts

    /** From FORMAT and sample strings (the binary source's surface). */
    def apply(format: UTF8String, gts: Array[Any]): GenericArrayData = {
      if (format == null) return new GenericArrayData(Array.empty[Any])
      val bs = (format +: gts.map(_.asInstanceOf[UTF8String])).map(_.getBytes)
      cols.n = 0
      var at = 0
      bs.foreach { x => cols.add(at, at + x.length); at += x.length }
      apply(bs.flatten, 0, cols)
    }

    /** Over one record's bytes cut into `c`: column `fmt` is FORMAT, the
      * columns after it are the samples. */
    private[VcfFormat] def apply(b: Array[Byte], fmt: Int, c: Cuts): GenericArrayData = {
      if (fmt >= c.n) return new GenericArrayData(Array.empty[Any])
      fmtKeys.cut(b, c.from(fmt), c.to(fmt), ':')
      java.util.Arrays.fill(first, -1)
      var k = fmtKeys.n - 1
      while (k >= 0) {
        val id = keys.find(b, fmtKeys.from(k), fmtKeys.to(k))
        if (id >= 0) first(id) = k
        k -= 1
      }
      val idx = keys.of.map(first(_))
      val want = idx.foldLeft(-1)(math.max) + 1
      new GenericArrayData(Array.tabulate[Any](c.n - fmt - 1) { i =>
        val s = fmt + 1 + i
        parts.cut(b, c.from(s), c.to(s), ':', want)
        new GenericInternalRow(Array.tabulate[Any](idx.length) { f =>
          val j = idx(f)
          if (j < 0 || j >= parts.n || parts.to(j) == parts.from(j) || isDot(b, parts.from(j), parts.to(j))) null
          else typedValue(b, parts.from(j), parts.to(j), st.fields(f).dataType, items)
        })
      })
    }
  }

  /** Sample columns are declared by the #CHROM header line: 9th field
    * is FORMAT, the rest are sample names -> raw genotype strings. */
  private def hasSamples(header: Seq[String]): Boolean =
    header.lastOption.filter(_.startsWith("#CHROM")).exists(_.split("\t").length > 8)

  private def headerOf(path: Path, conf: Configuration,
                       options: Map[String, String]): Seq[String] = {
    val raw = GraftFiles.open(path.toString, conf)
    val (codec, _) = Compression.of(path.toString, options)
    val in = Compression.wrap(raw.stream, codec)
    try {
      val it = new LineReader(in, 0, Long.MaxValue).lines.map(_._2)
      it.takeWhile(_.startsWith("#")).toList
    } finally in.close()
  }

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType = {
    // the writer takes a part's sample count from its first record, so a
    // header-only part (partition 0 of a write whose rows all sit in
    // other tasks) declares none: take the first header that declares
    // samples, reading further parts only while none has
    val headers = paths.iterator.map(headerOf(_, conf, options))
    val first = headers.next()
    val header = if (hasSamples(first)) first else headers.find(hasSamples).getOrElse(first)
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
    StructType(
      if (hasSamples(header))
        base ++ (Seq(StructField("format", StringType),
          StructField("genotypes", ArrayType(StringType))) ++
          typedGenotypesSchema(header.filter(_.startsWith("##"))))
      else base)
  }

  /** Tabix fast path for bgzipped VCF (falls back to scan+filter):
    * index loaded once, probed per region, chunks unioned+coalesced
    * ([[TabixChunks]] — shared with the GFF-like and BED formats). */
  override def regionChunks(path: String, regions: Seq[Regions.Region],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    TabixChunks.forRegions(path, regions, conf)

  override def coordinates: Option[Coordinates] = Some(Coordinates("chrom", "pos", "pos"))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val infoSchema = schema("info").dataType.asInstanceOf[StructType]
    val width = schema.length
    // runtime pruning: skip the parse work for unprojected expensive
    // columns (rows stay full-schema shaped — ordinals must not shift)
    val typed = schema.fields.find(_.name == "genotypes_typed")
      .map(_.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType])
      .filter(_ => split.needs("genotypes_typed"))
      .map(new TypedGenotypes(_)).orNull
    val wantInfo = split.needs("info")
    val wantGts = width > 8 && (split.needs("genotypes") || split.needs("format"))
    val cols = if (wantGts || typed != null) Int.MaxValue else 8 // columns to cut
    val infoKeys = new KeyIndex(infoSchema)
    /** value range per info key id of the current record; -1 = absent */
    val infoAt, infoEnd = new Array[Int](infoKeys.size)
    val cuts, segs, items = new Cuts
    // the cursor handles every split shape: index-chunk streams carry
    // (0, MaxValue) split bounds (the chunk's end voff bounds the
    // BgzfBlockStream itself), ranged and BGZF splits apply the line
    // ownership protocol
    val cur = new LineReader(in, split.start, split.end)
    def where = s"VCF record in ${split.path} at ${cur.where(cur.pos)}"

    /** One pass over the record's tab, `;`, `=`, `,` and `:` offsets;
      * strings are UTF8String slices of `b` (a copy owned by the row). */
    def record(b: Array[Byte]): Array[Any] = {
      val c = cuts.cut(b, 0, b.length, '\t', cols)
      require(c.n >= 8, s"$where has ${c.n} columns")
      def str(k: Int) = slice(b, c.from(k), c.to(k))
      def dot(k: Int) = isDot(b, c.from(k), c.to(k))
      val vals = new Array[Any](width)
      vals(0) = str(0)
      vals(1) = parseNum(b, c.from(1), c.to(1), 18, java.lang.Long.parseLong)
      vals(2) = if (dot(2)) null else str(2)
      vals(3) = str(3)
      vals(4) = if (dot(4)) new GenericArrayData(Array.empty[Any]) else commaList(b, c.from(4), c.to(4), StringType, items)
      vals(5) = if (dot(5)) null else typedValue(b, c.from(5), c.to(5), FloatType, null)
      vals(6) = if (dot(6)) null else str(6)
      // INFO `k=v;flag;…`: keys lowercased, the last duplicate wins
      val info = new Array[Any](infoSchema.length)
      if (wantInfo && c.to(7) > c.from(7) && !dot(7)) {
        java.util.Arrays.fill(infoAt, -1)
        segs.cut(b, c.from(7), c.to(7), ';')
        var k = 0
        while (k < segs.n) {
          val (s, e) = (segs.from(k), segs.to(k))
          val eq = next(b, s, e, '=')
          val id = infoKeys.find(b, s, eq)
          if (id >= 0) { infoAt(id) = math.min(eq + 1, e); infoEnd(id) = e }
          k += 1
        }
        var f = 0
        while (f < info.length) {
          val id = infoKeys.of(f)
          if (infoAt(id) >= 0) info(f) = infoSchema(f).dataType match {
            case BooleanType => java.lang.Boolean.TRUE
            case dt => typedValue(b, infoAt(id), infoEnd(id), dt, items)
          }
          f += 1
        }
      }
      vals(7) = new GenericInternalRow(info)
      if (wantGts) {
        vals(8) = if (c.n > 8) str(8) else null
        vals(9) = new GenericArrayData(Array.tabulate[Any](math.max(0, c.n - 9))(i => str(9 + i)))
      }
      // typed pruned: slot kept (null), work skipped
      if (typed != null) vals(10) = typed(b, 8, c)
      vals
    }

    // lazy one record at a time: each stage reads the cursor before it advances
    Iterator.continually(cur.advance()).takeWhile(identity)
      .filter(_ => cur.len > 0 && cur.buf(cur.off) != '#')
      .map { _ =>
        try record(java.util.Arrays.copyOfRange(cur.buf, cur.off, cur.off + cur.len))
        catch { case e: NumberFormatException => throw new IllegalArgumentException(s"$where: bad number (${e.getMessage})", e) }
      }
  }

  /** Offsets of a byte field cut at a separator, in the shape of
    * `String.split(sep, -1)`: part k is b(from(k) until to(k)). */
  private final class Cuts {
    var from, to = new Array[Int](16)
    var n = 0
    def cut(b: Array[Byte], s: Int, e: Int, sep: Char, max: Int = Int.MaxValue): Cuts = {
      n = 0
      var p = s
      while (n < max && p <= e) { add(p, next(b, p, e, sep)); p = to(n - 1) + 1 }
      this
    }
    def add(s: Int, e: Int): Unit = {
      if (n == from.length) { from = java.util.Arrays.copyOf(from, 2 * n); to = java.util.Arrays.copyOf(to, 2 * n) }
      from(n) = s; to(n) = e
      n += 1
    }
  }

  /** Dense ids for a struct's field names (fields sharing a name share
    * an id), found in O(1) from a key lowercased as the String path did. */
  private final class KeyIndex(st: StructType) {
    private val ids = new java.util.HashMap[String, Integer]
    st.fieldNames.foreach(n => ids.putIfAbsent(n, ids.size))
    /** field ordinal -> id */
    val of: Array[Int] = st.fieldNames.map(ids.get(_).intValue)
    def size: Int = ids.size
    /** The id of key b(s until e), else -1. */
    def find(b: Array[Byte], s: Int, e: Int): Int =
      ids.getOrDefault(new String(b, s, e - s, UTF_8).toLowerCase, -1)
  }

  /** Index of the first `c` in b(s until e), else e. */
  private def next(b: Array[Byte], s: Int, e: Int, c: Char): Int = {
    var i = s
    while (i < e && b(i) != c) i += 1
    i
  }

  private def isDot(b: Array[Byte], s: Int, e: Int): Boolean = e - s == 1 && b(s) == '.'

  private def slice(b: Array[Byte], s: Int, e: Int): UTF8String = UTF8String.fromBytes(b, s, e - s)

  private def typedValue(b: Array[Byte], s: Int, e: Int, dt: DataType, items: Cuts): Any = dt match {
    case IntegerType | FloatType if isDot(b, s, e) => null // the spec's missing value
    case IntegerType      => parseNum(b, s, e, 9, java.lang.Integer.parseInt(_)).toInt
    case FloatType        => java.lang.Float.parseFloat(new String(b, s, e - s, UTF_8))
    case ArrayType(et, _) => commaList(b, s, e, et, items)
    case _                => slice(b, s, e)
  }

  /** `String.split(",")` semantics: a field without a comma is one
    * element (even when empty); otherwise trailing empty elements drop. */
  private def commaList(b: Array[Byte], s: Int, e: Int, et: DataType, items: Cuts): GenericArrayData = {
    val c = items.cut(b, s, e, ',')
    if (c.n > 1) while (c.n > 0 && c.to(c.n - 1) == c.from(c.n - 1)) c.n -= 1
    new GenericArrayData(Array.tabulate[Any](c.n)(k => typedValue(b, c.from(k), c.to(k), et, null)))
  }

  /** A decimal of at most `digits` ASCII digits, optionally signed;
    * anything else goes to the JDK parser, which decides (and words)
    * every other case exactly as before. */
  private def parseNum(b: Array[Byte], s: Int, e: Int, digits: Int, jdk: String => Long): Long = {
    val sign = if (s < e && (b(s) == '-' || b(s) == '+')) 1 else 0
    var i = s + sign
    var v = 0L
    if (e - i <= digits) while (i < e && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
    if (i == e && e > s + sign) (if (b(s) == '-') -v else v)
    else jdk(new String(b, s, e - s, UTF_8))
  }
}
