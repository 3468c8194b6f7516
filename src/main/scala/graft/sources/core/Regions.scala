package graft.sources.core

/** Multi-region query support shared by the indexed formats (VCF/BCF/
  * BAM/GFF-like) — the batched form of the reference's single-region
  * `X_query` table functions (`vcf_query_reader.rs:31-86` takes one
  * region per call; a real user passes a gene panel of thousands).
  *
  * Two read options drive it:
  *   - `region`  — one region, the original surface;
  *   - `regions` — a semicolon- or whitespace-separated LIST. Commas
  *     cannot delimit: the region grammar accepts them as digit
  *     separators inside positions (`chr1:1,000-2,000`).
  * Without them, a scan takes its regions from its pushed filters
  * ([[fromFilters]]).
  *
  * Semantics are the UNION of the regions: a record is returned once if
  * it matches any region (records are never duplicated — the I/O layer
  * merges overlapping index chunks, and the row filter is a single
  * membership test, not a per-region fan-out). Planning unions each
  * region's index chunks and coalesces near-adjacent ones, so a
  * thousand-region panel becomes a handful of input partitions over the
  * index-pruned byte ranges instead of a thousand point reads.
  */
object Regions {

  /** One resolved region: contig and 1-based inclusive [lo, hi] (hi =
    * Long.MaxValue: open-ended; lo = Long.MinValue: no lower bound, from
    * [[fromFilters]] only). A scan resolves its regions to these once,
    * and both index pruning and the row test read them. */
  type Region = (String, Long, Long)

  /** Region grammar: 'chr' or 'chr:start-end' (1-based inclusive;
    * commas in positions tolerated, open-ended 'chr:start-' allowed).
    * The grammar splits at the first ':', so a contig whose name holds
    * one (GRCh38 HLA contigs such as 'HLA-A*01:01:01:01') cannot be
    * addressed through a `region`/`regions` option; a WHERE on the
    * contig column reaches it ([[fromFilters]]). */
  def parse(r: String): Region =
    try r.split(":", 2) match {
      case Array(chr)         => (chr, 1L, Long.MaxValue)
      case Array(chr, range0) =>
        val range = range0.split("-", 2)
        (chr, range(0).replace(",", "").toLong,
          if (range.length > 1 && range(1).nonEmpty) range(1).replace(",", "").toLong
          else Long.MaxValue)
    } catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"bad region '$r' — grammar: 'chr' or 'chr:start-end' " +
          "(1-based inclusive; open-ended 'chr:start-' allowed; note a " +
          "contig name containing ':' cannot be addressed through this grammar)", e)
    }

  /** Split a `regions` option value into individual region strings. */
  def split(spec: String): Seq[String] =
    spec.split("[;\\s]+").iterator.filter(_.nonEmpty).toSeq

  /** All region strings a read carries (`region` and/or `regions`). */
  def fromOptions(options: Map[String, String]): Seq[String] = {
    val one = options.collectFirst { case (k, v) if k.equalsIgnoreCase("region") => v }
    val many = options.collectFirst { case (k, v) if k.equalsIgnoreCase("regions") => v }
    one.toSeq ++ many.toSeq.flatMap(split)
  }

  /** Row-membership matcher for the union of regions: per-chromosome
    * MERGED disjoint sorted intervals with binary-search lookup, so a
    * record test is O(log regions) however big the panel — the per-row
    * cost must not scale with the region-list length. */
  final class Matcher private[Regions] (
      byChr: Map[String, (Array[Long], Array[Long])]) extends Serializable {

    /** A record on `chr` with no start: only a region bounding no
      * position (inferred from a WHERE on the contig alone) holds it. */
    def holdsUnplaced(chr: String): Boolean =
      byChr.get(chr).exists { case (los, his) => los(0) == Long.MinValue && his(0) == Long.MaxValue }

    /** Point semantics: the one-base interval [pos, pos]. */
    def containsPoint(chr: String, pos: Long): Boolean = overlaps(chr, pos, pos)

    /** Interval-overlap semantics (BAM reads, GFF/GTF/BED features):
      * true iff [s, e] intersects any region. Disjoint sorted intervals
      * make this one probe: the only candidate is the last interval
      * starting at or before `e`. */
    def overlaps(chr: String, s: Long, e: Long): Boolean =
      byChr.get(chr).exists { case (los, his) =>
        val i = floorIdx(los, e); i >= 0 && his(i) >= s
      }

    /** Greatest i with los(i) <= v, or -1. */
    private def floorIdx(los: Array[Long], v: Long): Int = {
      var lo = 0; var hi = los.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (los(mid) <= v) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      ans
    }
  }

  def matcher(regions: Seq[Region]): Matcher =
    new Matcher(regions.groupBy(_._1).map { case (chr, rs) =>
      val sorted = rs.map(r => (r._2, r._3)).sortBy(_._1)
      val los = scala.collection.mutable.ArrayBuffer.empty[Long]
      val his = scala.collection.mutable.ArrayBuffer.empty[Long]
      sorted.foreach { case (lo, hi) =>
        // merge overlapping AND adjacent ([1,5]+[6,9] = [1,9] in closed
        // 1-based coordinates); guard hi+1 overflow on open-ended regions
        if (los.nonEmpty && (lo <= his.last || lo - 1 == his.last))
          his(his.length - 1) = math.max(his.last, hi)
        else { los += lo; his += hi }
      }
      chr -> (los.toArray, his.toArray)
    })

  /** Infer a region list from Catalyst's PUSHED FILTERS — the piece
    * that makes `WHERE chrom = '1' AND pos BETWEEN a AND b` hit the
    * tabix/CSI index with no region option at all: declarative
    * predicates become index pruning, exactly like partition pruning
    * on a parquet table. The scan uses the result as it uses a region
    * option, to prune I/O and as its row test; both are sound because
    * every row the conjunction accepts overlaps these regions, and
    * Spark re-applies every filter above the scan. So no bound is
    * clamped to base 1: a VCF record at POS 0 passes `chrom = '1' AND
    * pos < 10`, and a read placed with no position `reference = 'chr1'`
    * ([[Matcher.holdsUnplaced]]). An inference that is
    * too wide is merely less effective, and one that cannot be made (no
    * contig constraint, OR-shapes, casts) returns None = full scan. The
    * filters array is an implicit conjunction, which is what makes
    * combining the chrom and pos constraints sound. `posShift` maps a
    * position column value to its 1-based coordinate (1 for a 0-based
    * start column).
    *
    * Result grammar: None = cannot infer (full scan); Some(Nil) = the
    * conjunction is PROVABLY EMPTY (contradictory chrom equalities or
    * an inverted position range — zero partitions, no index needed);
    * Some(regions) = prune through the index with these. */
  def fromFilters(filters: Seq[org.apache.spark.sql.sources.Filter],
                  chromCol: String, posCol: String,
                  posShift: Long = 0L): Option[Seq[Region]] = {
    import org.apache.spark.sql.sources._
    val chroms = filters.collect {
      case EqualTo(c, v: String) if c == chromCol => Seq(v)
      case EqualNullSafe(c, v: String) if c == chromCol => Seq(v)
      case In(c, vs) if c == chromCol && vs.forall(_.isInstanceOf[String]) =>
        vs.toSeq.map(_.asInstanceOf[String])
    }
    if (chroms.isEmpty) return None // no contig constraint -> cannot prune
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    val los = filters.collect {
      case GreaterThan(c, v) if c == posCol => longOf(v).map(_ + 1)
      case GreaterThanOrEqual(c, v) if c == posCol => longOf(v)
      case EqualTo(c, v) if c == posCol => longOf(v)
    }.flatten
    val his = filters.collect {
      case LessThan(c, v) if c == posCol => longOf(v).map(_ - 1)
      case LessThanOrEqual(c, v) if c == posCol => longOf(v)
      case EqualTo(c, v) if c == posCol => longOf(v)
    }.flatten
    val lo = if (los.isEmpty) Long.MinValue else los.max + posShift
    val hi = if (his.isEmpty) Long.MaxValue else math.min(his.min, Long.MaxValue - posShift) + posShift
    // intersect the per-conjunct chrom sets (multiple EqualTo on the
    // same column is a contradiction unless equal; In ∧ EqualTo narrows)
    val set = chroms.map(_.toSet).reduce(_ intersect _)
    if (set.isEmpty || hi < lo) return Some(Nil) // provably empty
    Some(set.toSeq.sorted.map(c => (c, lo, hi)))
  }

  /** Union per-region BGZF chunk lists into a minimal partition set:
    * merge overlapping virtual-offset ranges and coalesce chunks whose
    * COMPRESSED gap is under `coalesceBytes` — streaming 64 KB through
    * is cheaper than a fresh seek + task, and the row filter makes
    * over-reading harmless. This is what keeps a 5,000-region gene
    * panel from planning 5,000 micro-partitions. */
  def mergeChunks(chunks: Seq[(Long, Long)],
                  coalesceBytes: Long = 1L << 16): Seq[(Long, Long)] = {
    val sorted = chunks.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (b, e) =>
      if (out.nonEmpty && (b >>> 16) - (out.last._2 >>> 16) <= coalesceBytes)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((b, e))
    }
    out.toSeq
  }
}
