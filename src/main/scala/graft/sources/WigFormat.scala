package graft.sources

import java.io.InputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import graft.sources.core._

/** UCSC wiggle (WIG) coverage tracks — `fixedStep` / `variableStep`
  * declaration blocks with optional `span`, `track`/`browser`/comment
  * lines skipped. Rows are 1-based inclusive (chrom, start,
  * end = start + span - 1, value) — the text coverage format genome
  * browsers consume, and the genomics analog of a regular time
  * series (beyond the reference's format set; bedGraph-style window
  * analytics compose on top of the scan).
  *
  * Declarations carry parse state across every following data line,
  * so a WIG file is inherently single-split (an arbitrary byte offset
  * cannot know its chrom/step); directory layouts parallelize by
  * file, the same contract as the compressed formats.
  */
object WigFormat extends GraftFormat {
  override def name = "wig"
  override def extensions = Seq("wig", "wiggle")

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("chrom", StringType),
      StructField("start", LongType),
      StructField("end", LongType),
      StructField("value", DoubleType)))

  override def coordinates: Option[Coordinates] = Some(Coordinates("chrom", "start", "end"))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] = {
    val it = P.lines(split, in).map(_._2)
    new Iterator[Array[Any]] {
      private var fixed = false
      private var chrom: String = _
      private var nextStart = 0L
      private var step = 1L
      private var span = 1L
      private var nextRow: Array[Any] = _
      advance()

      private def parseDecl(l: String): Unit = {
        val kv = l.split("\\s+").iterator.drop(1)
          .map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }.toMap
        chrom = kv.getOrElse("chrom", throw new IllegalArgumentException(
          s"wig declaration without chrom: '$l'"))
        span = kv.get("span").map(_.toLong).getOrElse(1L)
        require(span >= 1, s"wig span must be >= 1: '$l'")
        fixed = l.startsWith("fixedStep")
        if (fixed) {
          nextStart = kv.getOrElse("start", throw new IllegalArgumentException(
            s"fixedStep without start: '$l'")).toLong
          step = kv.get("step").map(_.toLong).getOrElse(1L)
          require(step >= 1, s"wig step must be >= 1: '$l'")
        }
      }

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && it.hasNext) {
          val l = it.next().trim
          if (l.isEmpty || l.startsWith("#") || l.startsWith("track") ||
              l.startsWith("browser")) ()
          else if (l.startsWith("fixedStep") || l.startsWith("variableStep"))
            parseDecl(l)
          else if (chrom == null)
            throw new IllegalArgumentException(s"wig data line before any declaration: '$l'")
          else if (fixed) {
            nextRow = Array[Any](P.s(chrom), nextStart, nextStart + span - 1,
              java.lang.Double.parseDouble(l))
            nextStart += step
          } else {
            val p = l.split("\\s+")
            require(p.length == 2, s"variableStep line needs 'pos value': '$l'")
            val s0 = java.lang.Long.parseLong(p(0))
            nextRow = Array[Any](P.s(chrom), s0, s0 + span - 1,
              java.lang.Double.parseDouble(p(1)))
          }
        }
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): Array[Any] = { val r = nextRow; advance(); r }
    }
  }
}

/** UCSC bedGraph coverage tracks (the genome-browser bedGraph spec):
  * `chrom start end value`, 0-based half-open on disk -> the same
  * +1 start shift as the BED reader (stored 1-based inclusive, the
  * house interval convention). `track`/`browser`/`#` lines are
  * skipped; line-oriented -> byte-splittable, unlike WIG whose
  * declaration lines force whole-file state. */
object BedGraphFormat extends GraftFormat {
  override def name = "bedgraph"
  override def extensions = Seq("bedgraph", "bg")
  override def splittable = true
  override def formatter: Option[RecordFormatter] = Some(BedGraphFormatter)
  override def coordinates: Option[Coordinates] = Some(Coordinates("chrom", "start", "end"))

  override def schema(paths: Seq[Path], conf: Configuration,
                      options: Map[String, String]): StructType =
    StructType(Seq(
      StructField("chrom", StringType),
      StructField("start", LongType),
      StructField("end", LongType),
      StructField("value", DoubleType)))

  override def read(split: GraftSplit, schema: StructType, in: InputStream,
                    options: Map[String, String]): Iterator[Array[Any]] =
    P.lines(split, in)
      .map(_._2)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("track") &&
        !l.startsWith("browser"))
      .map { line =>
        val c = line.split("\\s+")
        require(c.length == 4,
          s"bedgraph line needs 'chrom start end value': '$line'")
        Array[Any](P.s(c(0)), java.lang.Long.parseLong(c(1)) + 1,
          java.lang.Long.parseLong(c(2)),
          java.lang.Double.parseDouble(c(3)))
      }
}
