package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-exactness of the graft_label_margin_scores kernel against the
  * DECIMAL(38,0) zip_with/aggregate HOF chain it replaced in
  * ann_label_margin (r13, verdict item 4): same staged integer
  * divisions, same truncation, same null semantics — on magnitudes
  * small enough for the kernel's long fast path AND large enough to
  * force its BigInteger fallback (the sf10 widening regime).
  */
class LabelMarginKernelSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** The pre-r13 HOF formulation, verbatim. */
  private def hofScores(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("va", expr(
      "aggregate(xs, CAST(0 AS DECIMAL(38,0)), (a, x) -> a + CAST(x AS DECIMAL(38,0)) * x)"))
    .select(col("row_id"), col("va"), explode(expr(
      """transform(cs, c -> named_struct('clabel', c.clabel, 'bb', c.bb,
           'dot', aggregate(zip_with(xs, c.slv, (x, sl) -> CAST(x AS DECIMAL(38,0)) * sl),
                            CAST(0 AS DECIMAL(38,0)), (a, p) -> a + p)))""")).as("z"))
    .selectExpr("row_id", "z.clabel AS clabel",
      """CAST(IF(z.dot < 0, -1, 1)
           * (((1000000 * abs(z.dot)) div va) * abs(z.dot) div z.bb)
         AS BIGINT) AS m""")

  private def kernelScores(df: org.apache.spark.sql.DataFrame) = {
    graft.functions.GraftFunctions.registerAll(spark)
    df.select(col("row_id"), explode(expr("graft_label_margin_scores(xs, cs)")).as("z"))
      .selectExpr("row_id", "z.clabel AS clabel", "z.m AS m")
  }

  private def frame(rows: Seq[(Long, Seq[Long], Seq[(Int, Seq[Long], String)])]) = {
    import spark.implicits._
    rows.toDF("row_id", "xs", "cs_raw")
      .withColumn("cs", expr(
        """transform(cs_raw, c -> named_struct(
             'clabel', c._1, 'slv', c._2, 'bb', CAST(c._3 AS DECIMAL(38,0))))"""))
      .select("row_id", "xs", "cs")
  }

  private def bd(s: String) = s

  test("kernel matches the HOF chain bit-for-bit (long fast path)") {
    // gate-regime magnitudes: xs in micro (~1e6), slv up to ~2e9
    val xs = Seq(1000000L, -999999L, 123456L, 0L, 500000L)
    val slv1 = Seq(2000000000L, -1999999999L, 1234567L, 99L, -42L)
    val slv2 = Seq(-1L, 2L, -3L, 4L, -5L)
    def bbOf(s: Seq[Long]) = bd(s.map(x => BigInt(x) * BigInt(x)).sum.toString)
    val df = frame(Seq(
      (1L, xs, Seq((7, slv1, bbOf(slv1)), (9, slv2, bbOf(slv2))))))
    val a = hofScores(df).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val b = kernelScores(df).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(a.nonEmpty && (a sameElements b), s"\nhof   =${a.mkString(",")}\nkernel=${b.mkString(",")}")
  }

  test("kernel matches at sf10-plus magnitudes (BigInteger fallback)") {
    // slv ~ n * 1e6 with n = 2e6 vectors: dot overflows long, the HOF
    // chain widens through DECIMAL(38,0), the kernel through BigInteger
    val xs = (1 to 64).map(i => (if (i % 3 == 0) -1 else 1) * 1000000L - i)
    val slv = (1 to 64).map(i => (if (i % 5 == 0) -1 else 1) * 2000000000000L + i * 17)
    val bb = bd(slv.map(x => BigInt(x) * BigInt(x)).sum.toString)
    val df = frame(Seq((1L, xs, Seq((3, slv, bb)))))
    val a = hofScores(df).collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    val b = kernelScores(df).collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(a == b, s"\nhof   =$a\nkernel=$b")
  }

  test("prenorm cosine (graft_dot / graft_l2norm * graft_l2norm) is bit-identical to graft_cosine_sim") {
    // the radius family's verify stage hoists the norms out of the
    // per-pair loop (r13); the identity must hold to the LAST BIT or
    // the round-6 acceptance could flip on a boundary value
    import spark.implicits._
    graft.functions.GraftFunctions.registerAll(spark)
    val df = (1 to 200).map { i =>
      ((1 to 64).map(j => math.sin(i * 64.0 + j) * (1 + (j % 7))),
       (1 to 64).map(j => math.cos(i * 31.0 + j * 3) * (1 + (j % 5))))
    }.toDF("a", "b")
    val rows = df.selectExpr(
      "graft_cosine_sim(a, b) AS c0",
      "graft_dot(a, b) / (graft_l2norm(a) * graft_l2norm(b)) AS c1").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("null semantics replay the HOF chain") {
    // length mismatch (zip_with null padding) nulls that centroid's m
    val df = frame(Seq(
      (1L, Seq(5L, 6L), Seq((1, Seq(1L, 2L, 3L), bd("14")), (2, Seq(1L, 2L), bd("5"))))))
    val b = kernelScores(df).collect().map(r =>
      (r.getInt(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    assert(b(1) == null, "length-mismatch centroid must score null")
    assert(b(2) != null)
    val a = hofScores(df).collect().map(r =>
      (r.getInt(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    assert(a == b, s"\nhof=$a\nkernel=$b")
  }

  test("a DECIMAL(10,0) bb is refused at analysis, not misread by the kernel") {
    // the kernel reads bb as DECIMAL(38,0); a narrower decimal has a
    // different physical layout, so the type check must refuse it
    graft.functions.GraftFunctions.registerAll(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("""SELECT graft_label_margin_scores(array(5L, 6L), array(named_struct(
        'clabel', 1, 'slv', array(1L, 2L), 'bb', CAST(5 AS DECIMAL(10,0)))))""").collect()
    }
    assert(e.getMessage.contains("DECIMAL(38,0)"), e.getMessage)
  }
}
