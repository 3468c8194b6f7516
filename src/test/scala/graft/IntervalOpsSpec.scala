package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Property check for the interval-merge sweeps: on seeded random
  * inputs, the plain per-chrom sweep and the bucketed+stitched sweep
  * (rel_interval_merge_scalable's plan) must both equal a brute-force
  * reference merge — including interval counts per merged region. The
  * random generator deliberately produces dense overlap, exact
  * touching (s == prev e), bucket-boundary straddlers and duplicate
  * intervals, the cases where an off-by-one in the open condition or a
  * missed stitch would show.
  */
class IntervalOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def brute(data: Seq[(Long, Long, Long, Long)]): Set[(Long, Long, Long, Long)] =
    data.groupBy(_._1).flatMap { case (chrom, ivs) =>
      val sorted = ivs.map(t => (t._2, t._3, t._4)).sortBy(t => (t._1, t._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      for ((s0, e0, w) <- sorted) {
        out.lastOption match {
          case Some((rs, re, cnt)) if s0 <= re =>
            out(out.size - 1) = (rs, math.max(re, e0), cnt + w)
          case _ => out += ((s0, e0, w))
        }
      }
      out.map { case (rs, re, c) => (chrom, rs, re, c) }
    }.toSet

  private def regions(d: DataFrame): Set[(Long, Long, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("closest sweep equals brute-force nearest distance on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      def gen(n: Int) = (0 until n).map { _ =>
        val s0 = rnd.nextInt(2000).toLong
        (rnd.nextInt(3).toLong, s0, s0 + rnd.nextInt(120))
      }
      // occasionally leave a chrom without B features (null distance)
      val a = gen(1 + rnd.nextInt(80))
      val b = gen(1 + rnd.nextInt(80)).filter(t => trial % 4 != 0 || t._1 != 2L)
      def dist(x: (Long, Long, Long), y: (Long, Long, Long)): Long =
        math.max(0L, math.max(x._2, y._2) - math.min(x._3, y._3))
      val expect = a.groupBy(identity).flatMap { case (iv, dup) =>
        val cands = b.filter(_._1 == iv._1)
        val d = if (cands.isEmpty) None else Some(cands.map(dist(iv, _)).min)
        dup.map(_ => (iv._1, iv._2, iv._3, d))
      }.toSeq.sorted
      val got = graft.pipeline.CorpusOps.closestFeatures(
          a.toDF("chrom", "s", "e"), b.toDF("chrom", "s", "e"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq.sorted
      assert(got == expect, s"trial $trial: closest sweep diverged from brute force")
    }
  }

  test("subtract sweep equals brute-force region subtraction on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // merged disjoint regions per chrom (touching merges, like the sweep)
    def merge1(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for ((s0, e0) <- ivs.sorted) out.lastOption match {
        case Some((rs, re)) if s0 <= re => out(out.size - 1) = (rs, math.max(re, e0))
        case _ => out += ((s0, e0))
      }
      out.toSeq
    }
    for (trial <- 1 to 10) {
      // strictly positive lengths: zero-length intervals are invisible
      // to coverage algebra (delta +1/-1 at the same pos collapses)
      def gen(n: Int) = (0 until n).map { _ =>
        val s0 = rnd.nextInt(2000).toLong
        (rnd.nextInt(3).toLong, s0, s0 + 1 + rnd.nextInt(250))
      }
      // occasionally a chrom with no B at all (everything survives)
      val a = gen(1 + rnd.nextInt(60))
      val b = gen(1 + rnd.nextInt(60)).filter(t => trial % 3 != 0 || t._1 != 1L)
      val expect = a.groupBy(_._1).map { case (chrom, ivs) =>
        val ma = merge1(ivs.map(t => (t._2, t._3)))
        val mb = merge1(b.filter(_._1 == chrom).map(t => (t._2, t._3)))
        val frags = ma.flatMap { case (as, ae) =>
          var cur = as
          val fs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          for ((bs, be) <- mb if be > as && bs < ae) {
            if (bs > cur) fs += ((cur, math.min(bs, ae)))
            cur = math.max(cur, be)
          }
          if (cur < ae) fs += ((cur, ae))
          fs.filter(f => f._2 > f._1)
        }
        chrom -> (ma.map(r => r._2 - r._1).sum,
          frags.map(f => f._2 - f._1).sum, frags.size.toLong)
      }
      val got = graft.pipeline.CorpusOps.subtractIntervals(
          a.toDF("chrom", "s", "e"), b.map(t => (t._1, t._2, t._3)).toDF("chrom", "s", "e"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == expect, s"trial $trial: subtract sweep diverged from brute force")
    }
  }

  test("plain and bucketed+stitched sweeps equal brute-force merge on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 12) {
      val n = 1 + rnd.nextInt(200)
      val data = (0 until n).map { _ =>
        val chrom = rnd.nextInt(3).toLong
        val s0 = rnd.nextInt(2000).toLong
        // ~1 in 5 intervals ends exactly on a likely neighbor start
        val len = if (rnd.nextInt(5) == 0) 0L else 1L + rnd.nextInt(300)
        (chrom, s0, s0 + len, 1L)
      }
      val df = data.toDF("chrom", "s", "e", "weight")
      val expect = brute(data)
      val plain = regions(graft.pipeline.CorpusOps.mergeIntervals(df))
      assert(plain == expect, s"trial $trial: plain sweep diverged from brute force")
      // bucket width 256 guarantees many boundary straddlers at pos<=2300
      val stitched = regions(graft.pipeline.CorpusOps.mergeIntervals(df, bucketWidth = Some(256L)))
      assert(stitched == expect, s"trial $trial: bucketed+stitched sweep diverged")
    }
  }
}
