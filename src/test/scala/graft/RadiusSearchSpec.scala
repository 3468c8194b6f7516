package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Losslessness property for the exact radius search
  * (Similarity.radiusSearch / ann_radius_prune): on seeded random
  * inputs the pruned search must equal UNPRUNED brute force exactly —
  * same pairs, same rounded cosines — because triangle-inequality cell
  * pruning only discards cells that provably cannot hold a qualifying
  * vector. The generator mixes isotropic noise with tight clusters
  * (so some cells are dense and near the radius boundary, the regime
  * where an unsound bound would drop boundary pairs) and runs several
  * thresholds including one near the data's typical cosine, where the
  * accept boundary cuts straight through cells.
  */
class RadiusSearchSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("radius kernels refuse unequal vector lengths instead of clamping") {
    // dot / (l2norm * l2norm) replays graft_cosine_sim only over equal
    // lengths: l2norm sums the whole vector, so a clamped dot diverges
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.PipelineKernels
    def vec(xs: Double*) = new GenericArrayData(xs.toArray[Any])
    assert(PipelineKernels.dot(vec(1, 2), vec(3, 4)) == 11.0)
    val e1 = intercept[IllegalArgumentException](PipelineKernels.dot(vec(1, 2, 3), vec(1, 2)))
    assert(e1.getMessage.contains("lengths differ"), e1.getMessage)
    def block(id: Long, v: Double*) = new GenericArrayData(
      Array[Any](InternalRow(id, vec(v: _*), PipelineKernels.l2norm(vec(v: _*)))))
    val e2 = intercept[IllegalArgumentException](
      PipelineKernels.radiusBlockScreen(block(1L, 1, 0, 0), block(2L, 1, 0), -1.0))
    assert(e2.getMessage.contains("lengths differ"), e2.getMessage)
    // and loudly through SQL
    graft.functions.GraftFunctions.registerAll(spark)
    val e3 = intercept[Exception](
      spark.sql("SELECT graft_dot(array(1d, 2d, 3d), array(1d, 2d))").collect())
    assert(Iterator.iterate[Throwable](e3)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("lengths differ")), e3.toString)
  }

  test("pruned radius search equals brute force on random clustered inputs") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val rnd = new scala.util.Random(19)
    for ((tau, trial) <- Seq(0.15, 0.4, 0.7).zipWithIndex) {
      val dim = 8
      val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 2))
      val data = (0 until 150).map { i =>
        val base =
          if (i % 3 == 0) Array.fill(dim)(rnd.nextGaussian()) // isotropic
          else centers(rnd.nextInt(4)).map(_ + rnd.nextGaussian() * 0.3)
        (i.toLong, base.toSeq)
      }
      val e = data.toDF("vec_id", "v")
      val got = graft.queries.Similarity.radiusSearch(e, qBelow = 10, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val brute = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          expr("round(graft_cosine_sim(qv, v), 6)").as("cos"))
        .where(col("cos") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute,
        s"trial $trial tau=$tau: pruned search diverged from brute force " +
          s"(missing ${brute.diff(got).size}, extra ${got.diff(brute).size})")
      assert(brute.nonEmpty, s"trial $trial tau=$tau: degenerate test — no pairs")
    }
  }

  test("radiusPruneStats: candidate fraction pinned on the clustered fixture; k is the knob") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val rnd = new scala.util.Random(23)
    val dim = 6
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 2))
    // CLEANLY clusterable corpus (no isotropic background): crad is a
    // MAX over members, so even a handful of isotropic outliers blow
    // every cell's bound to ~unit scale and survival goes to 1.0 —
    // that sensitivity is exactly what the gauge reports (see the
    // mixed-fixture alarm case below)
    val data = (0 until 120).map { i =>
      (i.toLong, centers(rnd.nextInt(5)).map(_ + rnd.nextGaussian() * 0.08).toSeq)
    }
    val mixed = (0 until 120).map { i =>
      val base =
        if (i % 4 == 0) Array.fill(dim)(rnd.nextGaussian())
        else centers(rnd.nextInt(5)).map(_ + rnd.nextGaussian() * 0.25)
      (i.toLong, base.toSeq)
    }
    val e = data.toDF("vec_id", "v")
    def stats(df: org.apache.spark.sql.DataFrame, tau: Double, k: Int): (Long, Long, Long, Long, Long, Double) = {
      val r = graft.queries.Similarity.radiusPruneStats(df, tau, k).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    }
    // tight radius (tau=0.9 -> r=0.45 on the unit sphere): the 5-cluster
    // fixture must prune hard — this is the number the gauge certifies
    val (n, cells, surv, total, cand, frac) = stats(e, tau = 0.9, k = 8)
    info(s"k=8 tau=0.9: cells=$cells surv=$surv/$total cand=$cand frac=$frac")
    assert(n == 120 && cells <= 8 && surv <= total && total == cells * cells)
    assert(cand <= n * n && frac == math.rint(cand.toDouble / (n * n) * 1e6) / 1e6)
    assert(frac < 0.75, s"clean clusters at tau=0.9 should prune below 0.75 of n², got $frac")
    // the knob: more cells => tighter radii => no worse survival (small
    // slack for boundary flips on this tiny fixture)
    val (_, cells16, _, _, _, frac16) = stats(e, tau = 0.9, k = 16)
    info(s"k=16 tau=0.9: cells=$cells16 frac=$frac16")
    assert(frac16 <= frac + 0.05, s"raising k degraded pruning: $frac -> $frac16")
    // Outlier robustness: 25% isotropic background used to collapse
    // survival to 1.0 (a cell bound is a max; one far member blew it to
    // unit scale). Ring partitioning quarantines the outliers in outer
    // sub-cells, so the clustered 75% keeps pruning.
    val (_, _, _, _, _, fracMixed) = stats(mixed.toDF("vec_id", "v"), tau = 0.9, k = 8)
    info(s"k=8 tau=0.9 mixed fixture: frac=$fracMixed")
    assert(fracMixed < 0.8,
      s"ring partitioning should keep the outlier-contaminated corpus pruned, got $fracMixed")
    // ALARM regime: a fully isotropic corpus on the unit sphere is the
    // geometry that genuinely defeats cell pruning (every sub-cell sits
    // ~1 from its centroid while centroids crowd the origin). The
    // search stays exact (neighboring test) — the gauge is what tells
    // an operator that exactness costs ~n² here, by construction.
    val iso = (0 until 120).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    val (_, _, _, _, _, fracIso) = stats(iso.toDF("vec_id", "v"), tau = 0.9, k = 8)
    info(s"k=8 tau=0.9 isotropic fixture (alarm regime): frac=$fracIso")
    assert(fracIso > 0.8,
      s"expected the isotropic regime to approach all-pairs, got $fracIso")
  }

  test("cell-pair-pruned self-join equals all-pairs brute force") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val rnd = new scala.util.Random(23)
    for ((tau, trial) <- Seq(0.2, 0.5).zipWithIndex) {
      val dim = 6
      val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 2))
      val data = (0 until 120).map { i =>
        val base =
          if (i % 4 == 0) Array.fill(dim)(rnd.nextGaussian())
          else centers(rnd.nextInt(5)).map(_ + rnd.nextGaussian() * 0.25)
        (i.toLong, base.toSeq)
      }
      val e = data.toDF("vec_id", "v")
      val got = graft.queries.Similarity.radiusSelfPairs(e, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val a = e.select(col("vec_id").as("id_a"), col("v").as("qv"))
      val brute = e.select(col("vec_id").as("id_b"), col("v").as("v"))
        .crossJoin(a)
        .where(col("id_a") < col("id_b"))
        .selectExpr("id_a", "id_b", "round(graft_cosine_sim(qv, v), 6) AS cos")
        .where(col("cos") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute,
        s"trial $trial tau=$tau: self-pairs diverged (missing ${brute.diff(got).size}, " +
          s"extra ${got.diff(brute).size})")
      assert(brute.nonEmpty, s"trial $trial tau=$tau: degenerate test — no pairs")
    }
  }
}
