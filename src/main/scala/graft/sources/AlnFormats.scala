package graft.sources

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.sources.core._

/** minimap2/miniasm PAF pairwise alignments (beyond the reference's
  * format set; spec in the minimap2 man page): 12 mandatory
  * tab-separated fields and then SAM-style `tag:type:value` pairs,
  * surfaced as a `tags` string map (the type tag is dropped — values
  * keep their text form, consumers cast). Coordinates are 0-based
  * half-open on the POSITIVE strand of each sequence; `strand` records
  * the relative orientation, so no coordinate folding is needed on
  * read (unlike chain query spans). Line-oriented → byte-splittable.
  */
object PafFormat extends GraftFormat {
  override def name = "paf"
  override def extensions = Seq("paf")
  override def splittable = true

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("query_name", StringType),
      StructField("query_len", LongType),
      StructField("query_start", LongType),
      StructField("query_end", LongType),
      StructField("strand", StringType),
      StructField("target_name", StringType),
      StructField("target_len", LongType),
      StructField("target_start", LongType),
      StructField("target_end", LongType),
      StructField("residue_matches", LongType),
      StructField("block_len", LongType),
      StructField("mapq", IntegerType),
      StructField("tags", MapType(StringType, StringType))))

  /** `region`/`regions` overlap the TARGET span, 0-based half-open. */
  override def coordinates: Option[Coordinates] =
    Some(Coordinates("target_name", "target_start", "target_end", zeroBasedStart = true))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in).map(_._2).filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      require(f.length >= 12, s"paf line needs 12 mandatory fields, got ${f.length}: '$l'")
      val tags = f.iterator.drop(12).map { t =>
        val c1 = t.indexOf(':'); val c2 = t.indexOf(':', c1 + 1)
        require(c1 > 0 && c2 > c1, s"malformed paf tag '$t'")
        (P.s(t.substring(0, c1)): Any, P.s(t.substring(c2 + 1)): Any)
      }.toArray
      Array[Any](P.s(f(0)), f(1).toLong, f(2).toLong, f(3).toLong, P.s(f(4)),
        P.s(f(5)), f(6).toLong, f(7).toLong, f(8).toLong, f(9).toLong,
        f(10).toLong, f(11).toInt,
        ArrayBasedMapData(tags.map(_._1), tags.map(_._2)))
    }
}

/** GFA 1.0 assembly graphs (gfa-spec.github.io): one row per record
  * with a `record_type` discriminator — S segments (name, sequence,
  * seq_len from LN:i when the sequence is elided as '*'), L links and
  * C containments (from/to names + orientations, `overlap` CIGAR,
  * containment pos carried in `tags["pos"]`), P paths (`segments` =
  * the oriented step list, e.g. "s1+"). H headers and '#' comments are
  * skipped. The one-table union shape is deliberate: segments and
  * links split cleanly with `WHERE record_type = ...` and the graph
  * analytics (degree, N50, walks) are joins between the two slices —
  * no multi-pass file reads. Line-oriented → byte-splittable.
  */
object GfaFormat extends GraftFormat {
  override def name = "gfa"
  override def extensions = Seq("gfa")
  override def splittable = true

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("record_type", StringType),
      StructField("name", StringType),
      StructField("sequence", StringType),
      StructField("seq_len", LongType),
      StructField("from_name", StringType),
      StructField("from_orient", StringType),
      StructField("to_name", StringType),
      StructField("to_orient", StringType),
      StructField("overlap", StringType),
      StructField("segments", ArrayType(StringType)),
      StructField("tags", MapType(StringType, StringType))))

  private def tagPairs(fields: Array[String], from: Int,
                       extra: Seq[(String, String)] = Nil): Array[(String, String)] =
    (extra.iterator ++ fields.iterator.drop(from).filter(_.nonEmpty).map { t =>
      val c1 = t.indexOf(':'); val c2 = t.indexOf(':', c1 + 1)
      require(c1 > 0 && c2 > c1, s"malformed gfa tag '$t'")
      (t.substring(0, c1), t.substring(c2 + 1))
    }).toArray

  private def tagMap(pairs: Array[(String, String)]): ArrayBasedMapData =
    ArrayBasedMapData(pairs.map(p => P.s(p._1): Any), pairs.map(p => P.s(p._2): Any))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in).map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("H") && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t", -1)
        f(0) match {
          case "S" =>
            require(f.length >= 3, s"gfa S line needs name+sequence: '$l'")
            val seq = if (f(2) == "*") null else f(2)
            val pairs = tagPairs(f, 3)
            // LN:i wins over the literal length (spec: LN is authoritative)
            val ln: Any = pairs.collectFirst { case ("LN", v) => Long.box(v.toLong) }
              .orElse(Option(seq).map(x => Long.box(x.length.toLong))).orNull
            Array[Any](P.s("S"), P.s(f(1)), P.s(seq), ln,
              null, null, null, null, null, null, tagMap(pairs))
          case "L" =>
            require(f.length >= 6, s"gfa L line needs from/to/orients/overlap: '$l'")
            Array[Any](P.s("L"), null, null, null, P.s(f(1)), P.s(f(2)),
              P.s(f(3)), P.s(f(4)), P.s(f(5)), null, tagMap(tagPairs(f, 6)))
          case "C" =>
            require(f.length >= 7, s"gfa C line needs container/contained/pos/overlap: '$l'")
            Array[Any](P.s("C"), null, null, null, P.s(f(1)), P.s(f(2)),
              P.s(f(3)), P.s(f(4)), P.s(f(6)), null,
              tagMap(tagPairs(f, 7, Seq("pos" -> f(5)))))
          case "P" =>
            require(f.length >= 3, s"gfa P line needs name+steps: '$l'")
            Array[Any](P.s("P"), P.s(f(1)), null, null, null, null, null, null,
              if (f.length > 3 && f(3) != "*") P.s(f(3)) else null,
              new GenericArrayData(f(2).split(",").map(s => P.s(s): Any)),
              tagMap(tagPairs(f, 4)))
          case other =>
            throw new IllegalArgumentException(s"unknown gfa record type '$other': '$l'")
        }
      }
}

/** Stockholm multiple sequence alignments (the Pfam/Rfam distribution
  * format; spec at sonnhammer.sbc.su.se/Stockholm.html): records open
  * with the `# STOCKHOLM 1.0` magic and close with `//`; sequence and
  * `#=GC` column-annotation lines may be INTERLEAVED in blocks, so the
  * parser concatenates by name across blocks in first-seen order. One
  * row per sequence (plus one per `#=GC` feature with `is_consensus` =
  * true); `#=GS` per-sequence annotations land in `gs`, record-level
  * `#=GF` annotations are repeated on every row of the record in `gf`
  * (the GTF-attributes convention — repeated maps beat a second table
  * at query time), with multi-line features (CC) joined by spaces and
  * `accession` = GF AC projected out as the record key.
  *
  * Splittable the GenBank way: records sync on the magic line, a split
  * owns records whose magic-line offset falls inside it and reads
  * their block lines past the boundary.
  */
object StockholmFormat extends GraftFormat {
  override def name = "stockholm"
  override def extensions = Seq("sto", "stk", "stockholm")
  override def splittable = true

  private val Magic = "# STOCKHOLM"

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("accession", StringType),
      StructField("name", StringType),
      StructField("sequence", StringType),
      StructField("is_consensus", BooleanType),
      StructField("gs", MapType(StringType, StringType)),
      StructField("gf", MapType(StringType, StringType))))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val it = P.linesUnbounded(split, in).buffered
    new Iterator[Array[Any]] {
      private var pending: Iterator[Array[Any]] = Iterator.empty

      private def syncToMagic(): Unit =
        while (it.hasNext && !it.head._2.startsWith(Magic)) it.next()

      private def append(m: scala.collection.mutable.LinkedHashMap[String, StringBuilder],
                         k: String, v: String, sep: String = ""): Unit =
        m.get(k) match {
          case Some(sb) => if (sep.nonEmpty && sb.nonEmpty) { sb ++= sep; () }; sb ++= v; ()
          case None => m.put(k, new StringBuilder(v)); ()
        }

      private def parseRecord(): Unit = {
        import scala.collection.mutable.LinkedHashMap
        val seqs = LinkedHashMap.empty[String, StringBuilder]
        val gcs = LinkedHashMap.empty[String, StringBuilder]
        val gf = LinkedHashMap.empty[String, StringBuilder]
        val gs = LinkedHashMap.empty[String, LinkedHashMap[String, StringBuilder]]
        it.next() // the magic line
        var open = true
        while (open && it.hasNext) {
          val l = it.next()._2.trim
          if (l == "//") open = false
          else if (l.isEmpty) ()
          else if (l.startsWith("#=GF ")) {
            val p = l.split("\\s+", 3)
            require(p.length == 3, s"stockholm GF line needs feature+text: '$l'")
            append(gf, p(1), p(2), sep = " ")
          } else if (l.startsWith("#=GS ")) {
            val p = l.split("\\s+", 4)
            require(p.length == 4, s"stockholm GS line needs seq+feature+text: '$l'")
            append(gs.getOrElseUpdate(p(1), LinkedHashMap.empty), p(2), p(3), sep = " ")
          } else if (l.startsWith("#=GC ")) {
            val p = l.split("\\s+", 3)
            require(p.length == 3, s"stockholm GC line needs feature+columns: '$l'")
            append(gcs, p(1), p(2))
          } else if (l.startsWith("#=GR ")) {
            // per-residue annotations: folded into gs as "GR <feature>"
            val p = l.split("\\s+", 4)
            require(p.length == 4, s"stockholm GR line needs seq+feature+columns: '$l'")
            append(gs.getOrElseUpdate(p(1), LinkedHashMap.empty), "GR " + p(2), p(3))
          } else if (l.startsWith("#")) ()
          else {
            val p = l.split("\\s+", 2)
            require(p.length == 2, s"stockholm sequence line needs name+columns: '$l'")
            append(seqs, p(0), p(1))
          }
        }
        require(!open, s"stockholm record without '//' terminator in ${split.path}")
        val acc = gf.get("AC").map(v => P.s(v.result())).orNull
        val gfMap = {
          val arr = gf.iterator.map { case (k, v) => (P.s(k): Any, P.s(v.result()): Any) }.toArray
          ArrayBasedMapData(arr.map(_._1), arr.map(_._2))
        }
        pending = (seqs.iterator.map { case (n, sb) =>
          val gsArr = gs.get(n).map(_.iterator
              .map { case (k, v) => (P.s(k): Any, P.s(v.result()): Any) }.toArray)
            .getOrElse(Array.empty[(Any, Any)])
          Array[Any](acc, P.s(n), P.s(sb.result()), false,
            ArrayBasedMapData(gsArr.map(_._1), gsArr.map(_._2)), gfMap)
        } ++ gcs.iterator.map { case (n, sb) =>
          Array[Any](acc, P.s(n), P.s(sb.result()), true,
            ArrayBasedMapData(Array.empty[Any], Array.empty[Any]), gfMap)
        }).toList.iterator
      }

      private def advance(): Unit =
        while (!pending.hasNext && { syncToMagic(); it.hasNext && it.head._1 <= split.end })
          parseRecord()

      advance()
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): Array[Any] = { advance(); pending.next() }
    }
  }
}

/** MAF multiple-genome alignment blocks (the UCSC multiz format;
  * genome.ucsc.edu/FAQ/FAQformat.html#format5): paragraph blocks
  * opened by an `a` line (block-level key=value attributes, notably
  * `score`) holding `s` sequence lines
  * `s src start size strand srcSize text` — coordinates 0-based,
  * negative-strand starts counted from the reverse end, exactly as
  * the file records them. One row per `s` line; `block_id` is the
  * opening `a` line's byte offset, globally unique and stable under
  * any split plan (an ordinal would collide across splits). `i`/`e`/
  * `q` annotation lines and `#` comments are skipped.
  *
  * Splittable the GenBank way: blocks sync on `a`-headed lines (s/i/
  * e/q records never start with 'a'), a split owns blocks whose `a`
  * offset falls inside it and reads their lines past the boundary.
  */
object MafFormat extends GraftFormat {
  override def name = "maf"
  override def extensions = Seq("maf")
  override def splittable = true

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("block_id", LongType),
      StructField("score", DoubleType),
      StructField("src", StringType),
      StructField("start", LongType),
      StructField("size", LongType),
      StructField("strand", StringType),
      StructField("src_size", LongType),
      StructField("text", StringType)))

  private def isBlockStart(l: String): Boolean =
    l == "a" || l.startsWith("a ") || l.startsWith("a\t")

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val it = P.linesUnbounded(split, in).buffered
    new Iterator[Array[Any]] {
      private var pending: Iterator[Array[Any]] = Iterator.empty

      private def syncToBlock(): Unit =
        while (it.hasNext && !isBlockStart(it.head._2)) it.next()

      private def parseBlock(): Unit = {
        val (off, aLine) = it.next()
        val score: Any = aLine.split("\\s+").iterator.drop(1)
          .map(_.split("=", 2)).collectFirst {
            case Array("score", v) => java.lang.Double.parseDouble(v)
          }.orNull
        val rows = Seq.newBuilder[Array[Any]]
        var open = true
        while (open && it.hasNext && !isBlockStart(it.head._2)) {
          val l = it.next()._2
          if (l.trim.isEmpty) open = false
          else if (l.startsWith("s ") || l.startsWith("s\t")) {
            val f = l.split("\\s+")
            require(f.length == 7, s"maf s line needs 6 fields + text: '$l'")
            rows += Array[Any](off, score, P.s(f(1)), f(2).toLong, f(3).toLong,
              P.s(f(4)), f(5).toLong, P.s(f(6)))
          }
          // i/e/q annotation lines and '#' comments: skipped
        }
        pending = rows.result().iterator
      }

      private def advance(): Unit =
        while (!pending.hasNext && { syncToBlock(); it.hasNext && it.head._1 <= split.end })
          parseBlock()

      advance()
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): Array[Any] = { advance(); pending.next() }
    }
  }
}

/** PHYLIP multiple sequence alignments (Felsenstein's PHYLIP package
  * documentation; both sequential and interleaved layouts): a
  * `ntax nchars` header, a first block carrying each taxon's name,
  * then (interleaved files) continuation blocks cycling through the
  * taxa in first-block order. "Relaxed" names — the first whitespace
  * token, any length — the variant every modern tool writes; spaces
  * inside sequence columns are stripped (PHYLIP permits grouping
  * digits). Each taxon's assembled sequence must reach exactly
  * `nchars`, and a short or overlong file fails loudly rather than
  * emitting a ragged alignment. Multiple concatenated alignments per
  * file are supported (the next header starts after the previous
  * record completes). Whole-record state → not byte-splittable;
  * parallelism comes from the per-FILE partition grain, the natural
  * unit for alignment archives. */
object PhylipFormat extends GraftFormat {
  override def name = "phylip"
  override def extensions = Seq("phy", "phylip")

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("record", IntegerType),
      StructField("name", StringType),
      StructField("sequence", StringType),
      StructField("ntax", IntegerType),
      StructField("nchars", IntegerType)))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    // the two PHYLIP layouts are inherently ambiguous to sniff (only
    // column counting tells them apart), so the layout is an explicit
    // option, like every real parser's: interleaved (the default —
    // what RAxML/PhyML emit) or sequential
    val sequential = options.get("layout").exists(_.equalsIgnoreCase("sequential"))
    options.get("layout").foreach(l => require(
      l.equalsIgnoreCase("sequential") || l.equalsIgnoreCase("interleaved"),
      s"phylip layout must be 'interleaved' or 'sequential', got '$l'"))
    val lines = P.linesUnbounded(split, in).map(_._2)
      .map(_.replaceAll("\\s+$", "")).filter(_.nonEmpty)
    new Iterator[Array[Any]] {
      private var record = -1
      private var pending: Iterator[Array[Any]] = Iterator.empty

      private def parseRecord(): Unit = {
        val header = lines.next().trim.split("\\s+")
        require(header.length >= 2 && header.take(2).forall(_.forall(_.isDigit)),
          s"phylip header needs 'ntax nchars': '${header.mkString(" ")}'")
        val ntax = header(0).toInt
        val nchars = header(1).toInt
        require(ntax > 0 && nchars > 0,
          s"phylip header out of range: ntax=$ntax nchars=$nchars")
        record += 1
        val names = new Array[String](ntax)
        val seqs = Array.fill(ntax)(new StringBuilder)
        def nameLine(i: Int): Unit = {
          require(lines.hasNext, s"phylip record truncated " +
            s"(taxon ${i + 1} of $ntax) in ${split.path}")
          val p = lines.next().trim.split("\\s+", 2)
          names(i) = p(0)
          if (p.length > 1) seqs(i) ++= p(1).replace(" ", "")
        }
        if (sequential) {
          // name line, then continuation lines until this taxon is full
          var i = 0
          while (i < ntax) {
            nameLine(i)
            while (seqs(i).length < nchars) {
              require(lines.hasNext, s"phylip record truncated: taxon " +
                s"'${names(i)}' has ${seqs(i).length} of $nchars columns " +
                s"in ${split.path}")
              seqs(i) ++= lines.next().trim.replace(" ", "")
            }
            i += 1
          }
        } else {
          // first block names every taxon; continuation blocks cycle
          // through the taxa in first-block order
          var i = 0
          while (i < ntax) { nameLine(i); i += 1 }
          var idx = 0
          while (seqs.exists(_.length < nchars)) {
            require(lines.hasNext, s"phylip record truncated: taxon " +
              s"'${names(idx)}' has ${seqs(idx).length} of $nchars columns " +
              s"in ${split.path}")
            seqs(idx) ++= lines.next().trim.replace(" ", "")
            idx = (idx + 1) % ntax
          }
        }
        seqs.zip(names).foreach { case (sb, n) =>
          require(sb.length == nchars, s"phylip taxon '$n' has ${sb.length} " +
            s"columns, header says $nchars, in ${split.path}") }
        val rec = record
        pending = names.iterator.zip(seqs.iterator).map { case (n, sb) =>
          Array[Any](rec, P.s(n), P.s(sb.result()), ntax, nchars)
        }
      }

      private def advance(): Unit =
        while (!pending.hasNext && lines.hasNext) parseRecord()

      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): Array[Any] = { advance(); pending.next() }
    }
  }
}

/** NCBI BLAST tabular output, `-outfmt 6` (the BLAST+ manual's default
  * 12-column layout, also what DIAMOND emits): qseqid sseqid pident
  * length mismatch gapopen qstart qend sstart send evalue bitscore.
  * Comment lines (outfmt 7 interleaves them) are skipped, so both
  * variants read through the same scan. Coordinates stay EXACTLY as
  * BLAST wrote them — 1-based inclusive, with sstart > send encoding a
  * minus-strand subject hit (folding that here would destroy the
  * strand signal consumers key on). Line-oriented -> byte-splittable.
  */
object Blast6Format extends GraftFormat {
  override def name = "blast6"
  override def extensions = Seq("blast6", "b6", "m8")
  override def splittable = true
  override def formatter: Option[graft.sources.core.RecordFormatter] = Some(Blast6Formatter)

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("qseqid", StringType),
      StructField("sseqid", StringType),
      StructField("pident", DoubleType),
      StructField("length", LongType),
      StructField("mismatch", LongType),
      StructField("gapopen", LongType),
      StructField("qstart", LongType),
      StructField("qend", LongType),
      StructField("sstart", LongType),
      StructField("send", LongType),
      StructField("evalue", DoubleType),
      StructField("bitscore", DoubleType)))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val c = line.split("\t", -1)
        require(c.length >= 12,
          s"blast6 line needs 12 fields, got ${c.length}: '$line'")
        Array[Any](
          P.s(c(0)), P.s(c(1)),
          java.lang.Double.parseDouble(c(2)),
          java.lang.Long.parseLong(c(3)), java.lang.Long.parseLong(c(4)),
          java.lang.Long.parseLong(c(5)), java.lang.Long.parseLong(c(6)),
          java.lang.Long.parseLong(c(7)), java.lang.Long.parseLong(c(8)),
          java.lang.Long.parseLong(c(9)),
          java.lang.Double.parseDouble(c(10)),
          java.lang.Double.parseDouble(c(11)))
      }
  }
}
