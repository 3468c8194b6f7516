package graft.sources

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.core._

private[sources] object P {
  def s(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)
  def dotNull(v: String): String = if (v == null || v == ".") null else v
  def arr(vs: Seq[Any]): GenericArrayData = new GenericArrayData(vs.toArray)

  /** Iterate lines of a split with the Hadoop boundary protocol.
    * Positions are raw byte offsets for plain streams and anchor voffs
    * for BGZF block splits — same protocol, different coordinates. */
  def lines(split: GraftSplit, in: InputStream): Iterator[(Long, String)] =
    new LineReader(in, split.start, split.end).lines

  /** Like `lines` but without the end bound: record-structured formats
    * (FASTA/FASTQ) bound at record starts themselves and must read body
    * lines past the split end. */
  def linesUnbounded(split: GraftSplit, in: InputStream): Iterator[(Long, String)] =
    new LineReader(in, split.start, Long.MaxValue).lines
}

/** FASTA: '>'-headed records, sequence over following lines.
  * Ref schema: test_fasta_scan.test (id, description, sequence).
  * Splittable: a ranged split claims records whose header-line offset is
  * in (start, end] — headers sync the same way lines do. */
object FastaFormat extends GraftFormat {
  override def name = "fasta"
  override def extensions = Seq("fasta", "fa", "fna")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(FastaFormatter)
  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("id", StringType),
      StructField("description", StringType),
      StructField("sequence", StringType)))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val it = P.linesUnbounded(split, in).buffered
    new Iterator[Array[Any]] {
      private def syncToHeader(): Unit =
        while (it.hasNext && !it.head._2.startsWith(">")) it.next()
      syncToHeader()
      override def hasNext: Boolean =
        it.hasNext && it.head._1 <= split.end && it.head._2.startsWith(">")
      override def next(): Array[Any] = {
        val (_, header) = it.next()
        val body = header.substring(1)
        val sp = body.indexOf(' ')
        val (id, desc) = if (sp < 0) (body, null) else (body.substring(0, sp), body.substring(sp + 1))
        val seq = new StringBuilder
        while (it.hasNext && !it.head._2.startsWith(">")) seq ++= it.next()._2.trim
        Array[Any](P.s(id), P.s(desc), P.s(seq.result()))
      }
    }
  }
}

/** FASTQ: 4-line records (@name desc / seq / + / qual).
  * Ref schema: test_fastq_scan.test.
  *
  * Byte-splittable with a structural resync: '@' is a legal quality
  * character, so a bare "line starts with '@'" sync is unsafe. A record
  * start is recognized as line(i) starting '@' AND line(i+2) starting
  * '+' AND line(i+1) not starting '+' — a quality line that happens to
  * start with '@' is followed by the NEXT record's header (not a '+'
  * line two later), so the pattern cannot match one line early. Split
  * ownership mirrors the Hadoop line protocol: a split claims records
  * whose header offset is in (start, end]. */
object FastqFormat extends GraftFormat {
  override def name = "fastq"
  override def extensions = Seq("fastq", "fq")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(FastqFormatter)
  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("sequence", StringType),
      StructField("quality_scores", StringType)))

  /** Records are four non-empty lines: `@` header, a sequence line
    * that does not start with `+`, a `+` separator and the quality
    * line. A ranged split first syncs to the first line that begins
    * that pattern (quality lines may themselves start with `@`); from
    * there every header at or before the split end must start a whole
    * record, so malformed or truncated input fails instead of ending
    * the scan early. Fields are byte slices of the lines. */
  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val cur = new LineReader(in, split.start, Long.MaxValue)
    // non-empty lines as owned copies; fields are slices of them
    val lines = Iterator.continually(cur.advance()).takeWhile(identity).filter(_ => cur.len > 0)
      .map(_ => (cur.pos, java.util.Arrays.copyOfRange(cur.buf, cur.off, cur.off + cur.len)))
    val ahead = scala.collection.mutable.Queue.empty[(Long, Array[Byte])]
    def peek(k: Int): Array[Byte] = {
      while (ahead.length <= k && lines.hasNext) ahead += lines.next()
      if (ahead.length > k) ahead(k)._2 else null
    }
    def starts(k: Int, c: Char): Boolean = { val l = peek(k); l != null && l(0) == c }
    if (split.start != 0)
      while (peek(0) != null && !(starts(0, '@') && !starts(1, '+') && starts(2, '+'))) ahead.dequeue()
    def record(): Array[Any] = {
      val (at, h) = ahead.dequeue()
      def bad(what: String): Nothing = throw new IllegalArgumentException(
        s"malformed FASTQ record in ${split.path} at ${cur.where(at)}: $what")
      def line(what: String): Array[Byte] =
        if (peek(0) == null) bad(s"truncated record: no $what line") else ahead.dequeue()._2
      if (h(0) != '@') bad("expected an '@' header line")
      val seq = line("sequence")
      if (seq(0) == '+') bad("a '+' line where the sequence belongs")
      if (line("'+'")(0) != '+') bad("expected a '+' separator line")
      val sp = h.indexOf(' '.toByte)
      Array[Any](UTF8String.fromBytes(h, 1, (if (sp < 0) h.length else sp) - 1),
        if (sp < 0) null else UTF8String.fromBytes(h, sp + 1, h.length - sp - 1),
        UTF8String.fromBytes(seq), UTF8String.fromBytes(line("quality")))
    }
    Iterator.continually(peek(0) != null && ahead.head._1 <= split.end).takeWhile(identity)
      .map(_ => record())
  }
}

/** GFF3 / GTF: 9-column TSV; they differ in the 8th column's name
  * (phase vs frame) and the attributes grammar (k=v;… vs key "value";…).
  * Ref: test_gff_scan.test / test_gtf_scan.test — attributes surface as
  * MAP<STRING, ARRAY<STRING>>. */
abstract class GffLikeFormat(val name: String, col8: String) extends GraftFormat {
  override def splittable = true
  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("seqname", StringType),
      StructField("source", StringType),
      StructField("type", StringType),
      StructField("start", LongType),
      StructField("end", LongType),
      StructField("score", FloatType),
      StructField("strand", StringType),
      StructField(col8, StringType),
      StructField("attributes", MapType(StringType, ArrayType(StringType)))))

  protected def parseAttributes(raw: String): ArrayBasedMapData

  /** Tabix fast path for bgzipped gff-like files — the read side of the
    * writer's `index=tabix` sidecar (falls back to scan+filter when no
    * .tbi sits next to the data). Same contract as the VCF/BCF/BAM
    * indexed queries: the index only prunes I/O; the scan's region row
    * test decides membership. */
  override def regionChunks(path: String, regions: Seq[Regions.Region],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    TabixChunks.forRegions(path, regions, conf)

  override def coordinates: Option[Coordinates] = Some(Coordinates("seqname", "start", "end"))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val c = line.split("\t", -1)
        require(c.length >= 9, s"$name line has ${c.length} columns: '$line'")
        Array[Any](
          P.s(c(0)), P.s(c(1)), P.s(c(2)),
          java.lang.Long.parseLong(c(3)),
          java.lang.Long.parseLong(c(4)),
          Option(P.dotNull(c(5))).map(java.lang.Float.parseFloat).orNull,
          P.s(P.dotNull(c(6))),
          P.s(P.dotNull(c(7))),
          parseAttributes(c(8)))
      }
}

object GffFormat extends GffLikeFormat("gff", "phase") {
  override def extensions = Seq("gff", "gff3")
  override def formatter: Option[RecordFormatter] = Some(GffFormatter)

  /** GFF3 %XX escapes in attribute values (the spec reserves ;=,& and
    * tab inside values); invalid escapes pass through untouched. */
  private def pctDecode(v: String): String = {
    if (v.indexOf('%') < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length &&
          Character.digit(v.charAt(i + 1), 16) >= 0 &&
          Character.digit(v.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `k=v;k2=a,b` -> {k:[v], k2:[a,b]}, values %XX-decoded. */
  override protected def parseAttributes(raw: String): ArrayBasedMapData = {
    val pairs = raw.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"bad GFF attribute '$seg'")
      val k = seg.substring(0, eq)
      val vs = seg.substring(eq + 1).split(",").toSeq
      (P.s(pctDecode(k)), P.arr(vs.map(v => P.s(pctDecode(v)))))
    }.toSeq
    ArrayBasedMapData(pairs.map(_._1).toArray[Any], pairs.map(_._2).toArray[Any])
  }
}

object GtfFormat extends GffLikeFormat("gtf", "frame") {
  override def extensions = Seq("gtf")
  override def formatter: Option[RecordFormatter] = Some(GtfFormatter)
  /** `key "value"; key2 "v2";` -> {key:[value],…}; repeated keys append. */
  override protected def parseAttributes(raw: String): ArrayBasedMapData = {
    val grouped = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
    raw.split(";").iterator.map(_.trim).filter(_.nonEmpty).foreach { seg =>
      val sp = seg.indexOf(' ')
      require(sp > 0, s"bad GTF attribute '$seg'")
      val k = seg.substring(0, sp)
      val v = seg.substring(sp + 1).trim.stripPrefix("\"").stripSuffix("\"")
      grouped.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += v
    }
    ArrayBasedMapData(
      grouped.keys.map(P.s).toArray[Any],
      grouped.values.map(vs => P.arr(vs.toSeq.map(P.s))).toArray[Any])
  }
}

/** BED 3-12: TSV, 0-based half-open in the file, surfaced 1-based like
  * the reference (file start 7 -> output 8; test_bed_io.test). Missing
  * trailing columns -> NULL; '.' -> NULL; score 0 and color 0 -> NULL. */
object BedFormat extends GraftFormat {
  override def name = "bed"
  override def extensions = Seq("bed")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(BedFormatter)
  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("reference_sequence_name", StringType),
      StructField("start", LongType),
      StructField("end", LongType),
      StructField("name", StringType),
      StructField("score", LongType),
      StructField("strand", StringType),
      StructField("thick_start", LongType),
      StructField("thick_end", LongType),
      StructField("color", StringType),
      StructField("block_count", LongType),
      StructField("block_sizes", StringType),
      StructField("block_starts", StringType)))

  /** Tabix fast path for bgzipped BED, same contract as the GFF-like
    * formats (the index only prunes; the scan's region row test decides
    * membership). */
  override def regionChunks(path: String, regions: Seq[Regions.Region],
                            conf: Configuration): Option[Seq[(Long, Long)]] =
    TabixChunks.forRegions(path, regions, conf)

  /** Stored 1-based inclusive: `start` already carries the +1 shift. */
  override def coordinates: Option[Coordinates] =
    Some(Coordinates("reference_sequence_name", "start", "end"))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("track") && !l.startsWith("browser"))
      .map { line =>
        val c = line.split("\t", -1)
        def at(i: Int): String = if (i < c.length) P.dotNull(c(i)) else null
        def longAt(i: Int, shift: Long = 0): Any =
          Option(at(i)).map(v => java.lang.Long.parseLong(v) + shift).orNull
        val score: Any = at(4) match {
          case null => null
          case v => val n = java.lang.Long.parseLong(v); if (n == 0) null else n
        }
        val color = at(8) match { case null | "0" => null; case v => v }
        Array[Any](
          P.s(c(0)), longAt(1, 1), longAt(2), P.s(at(3)), score, P.s(at(5)),
          longAt(6, 1), longAt(7), P.s(color), longAt(9), P.s(at(10)), P.s(at(11)))
      }
}

/** SAM text alignments. Ref schema (10 cols): test_sam_record_scan.test;
  * `end` = start + CIGAR reference span - 1 (M/D/N/=/X consume
  * reference); mapping_quality 255 -> NULL (unavailable per SAM spec);
  * mate_reference '=' resolves to the read's own reference. */
object SamFormat extends GraftFormat {
  override def name = "sam"
  override def extensions = Seq("sam")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(SamFormatter)

  /** `option("tags", "true")` appends a `tags: map<string,string>`
    * column holding the optional TAG:TYPE:VALUE fields as
    * tag -> "TYPE:VALUE" (type kept — consumers cast by it, and
    * round-tripping needs it). Default stays the reference's 10-column
    * scan (module.cpp parity), so parity consumers see no change. */
  private def wantTags(options: Map[String, String]): Boolean =
    options.get("tags").exists(_.equalsIgnoreCase("true"))

  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    if (wantTags(options))
      StructType(recordSchema.fields :+
        StructField("tags", MapType(StringType, StringType)))
    else recordSchema
  val recordSchema: StructType =
    StructType(Seq(
      StructField("name", StringType),
      StructField("flag", IntegerType),
      StructField("reference", StringType),
      StructField("start", LongType),
      StructField("end", LongType),
      StructField("mapping_quality", StringType),
      StructField("cigar", StringType),
      StructField("mate_reference", StringType),
      StructField("sequence", StringType),
      StructField("quality_score", StringType)))

  /** Reference-consuming CIGAR span; -1 when cigar is '*'/invalid. */
  def referenceSpan(cigar: String): Long = {
    if (cigar == null || cigar == "*") return -1
    var span = 0L
    var i = 0
    while (i < cigar.length) {
      var n = 0L
      val st = i
      while (i < cigar.length && cigar.charAt(i).isDigit) { n = n * 10 + (cigar.charAt(i) - '0'); i += 1 }
      if (i == st || i >= cigar.length) return -1
      val op = cigar.charAt(i)
      if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X') span += n
      i += 1
    }
    span
  }

  def parseLine(line: String): Array[Any] = {
    val c = line.split("\t", -1)
    require(c.length >= 11, s"SAM record has ${c.length} columns")
    val flag = java.lang.Integer.parseInt(c(1))
    val ref = if (c(2) == "*") null else c(2)
    val pos = java.lang.Long.parseLong(c(3))
    val cigar = if (c(5) == "*") null else c(5)
    val span = referenceSpan(c(5))
    val endV: Any = if (pos == 0 || span < 0) null else pos + span - 1
    val mapq = if (c(4) == "255") null else c(4)
    val mateRef = c(6) match {
      case "=" => ref
      case "*" => null
      case v   => v
    }
    Array[Any](
      P.s(c(0)), flag, P.s(ref), if (pos == 0) null else pos, endV,
      P.s(mapq), P.s(cigar), P.s(mateRef),
      P.s(if (c(9) == "*") null else c(9)),
      P.s(if (c(10) == "*") null else c(10)))
  }

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val tags = wantTags(options)
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("@"))
      .map { l =>
        val base = parseLine(l)
        if (!tags) base
        else {
          val pairs = l.split("\\t", -1).iterator.drop(11).filter(_.nonEmpty).map { t =>
            val c1 = t.indexOf(':'); val c2 = t.indexOf(':', c1 + 1)
            require(c1 > 0 && c2 > c1, s"malformed SAM tag '$t'")
            (P.s(t.substring(0, c1)): Any,
              P.s(t.substring(c1 + 1)): Any) // "TYPE:VALUE"
          }.toArray
          base :+ (ArrayBasedMapData(pairs.map(_._1), pairs.map(_._2)): Any)
        }
      }
  }
}

/** HMMER3 --domtblout: whitespace-aligned 23-column table, '#' comments;
  * the 23rd column (description) is the line remainder. Ref:
  * test_hmm_scan.test over test.pfam.hmmout. */
object HmmDomTabFormat extends GraftFormat {
  override def name = "hmmdomtab"
  override def extensions = Seq("hmmdomtab", "hmmout", "domtblout")
  override def splittable = true
  override def schema(paths: Seq[Path], conf: Configuration, options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("target_name", StringType),
      StructField("target_accession", StringType),
      StructField("tlen", LongType),
      StructField("query_name", StringType),
      StructField("accession", StringType),
      StructField("qlen", LongType),
      StructField("evalue", DoubleType),
      StructField("sequence_score", DoubleType),
      StructField("bias", DoubleType),
      StructField("domain_number", LongType),
      StructField("ndom", LongType),
      StructField("conditional_evalue", DoubleType),
      StructField("independent_evalue", DoubleType),
      StructField("domain_score", DoubleType),
      StructField("domain_bias", DoubleType),
      StructField("hmm_from", LongType),
      StructField("hmm_to", LongType),
      StructField("ali_from", LongType),
      StructField("ali_to", LongType),
      StructField("env_from", LongType),
      StructField("env_to", LongType),
      StructField("accuracy", DoubleType),
      StructField("description", StringType)))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val c = line.split("\\s+", 23)
        require(c.length >= 22, s"domtblout line has ${c.length} columns")
        def l_(i: Int): Any = java.lang.Long.parseLong(c(i))
        def d_(i: Int): Any = java.lang.Double.parseDouble(c(i))
        // HMMER writes '-' for a missing accession.
        def acc(i: Int): String = if (c(i) == "-") null else c(i)
        Array[Any](
          P.s(c(0)), P.s(acc(1)), l_(2), P.s(c(3)), P.s(acc(4)), l_(5),
          d_(6), d_(7), d_(8), l_(9), l_(10), d_(11), d_(12), d_(13), d_(14),
          l_(15), l_(16), l_(17), l_(18), l_(19), l_(20), d_(21),
          if (c.length > 22) P.s(c(22).trim) else null)
      }
}

/** BEDPE paired-interval records (the bedtools pairToPair / SV-callset
  * interchange format; bedtools docs §BEDPE): two BED-style loci per
  * line plus name/score/strands, with any extra columns preserved
  * verbatim. Starts carry the same 0-based -> 1-based +1 shift as the
  * BED reader (stored coordinates are 1-based inclusive, the
  * convention every interval operator here shares); a '.' chromosome
  * (an unknown mate, legal in the spec) surfaces as NULL, as do '.'
  * name/score/strands. Line-oriented -> byte-splittable. */
object BedpeFormat extends GraftFormat {
  override def name = "bedpe"
  override def extensions = Seq("bedpe")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(BedpeFormatter)

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("chrom1", StringType),
      StructField("start1", LongType),
      StructField("end1", LongType),
      StructField("chrom2", StringType),
      StructField("start2", LongType),
      StructField("end2", LongType),
      StructField("name", StringType),
      StructField("score", StringType),
      StructField("strand1", StringType),
      StructField("strand2", StringType),
      StructField("extra", ArrayType(StringType))))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("track") &&
        !l.startsWith("browser"))
      .map { line =>
        val c = line.split("\t", -1)
        require(c.length >= 6,
          s"bedpe line needs >= 6 fields, got ${c.length}: '$line'")
        def at(i: Int): String = if (i < c.length) P.dotNull(c(i)) else null
        def chromAt(i: Int): Any = Option(at(i)).map(P.s).orNull
        // a '.' mate has no coordinates either ('.' or -1 by convention)
        def coordAt(i: Int, shift: Long): Any = at(i) match {
          case null | "-1" => null
          case v => java.lang.Long.parseLong(v) + shift
        }
        Array[Any](
          chromAt(0), coordAt(1, 1), coordAt(2, 0),
          chromAt(3), coordAt(4, 1), coordAt(5, 0),
          Option(at(6)).map(P.s).orNull, Option(at(7)).map(P.s).orNull,
          Option(at(8)).map(P.s).orNull, Option(at(9)).map(P.s).orNull,
          P.arr(c.drop(10).toSeq.map(v => P.s(v): Any)))
      }
  }
}
