package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PipelineKernels
import graft.pipeline.{CorpusOps, VectorOps}

/** Value-exactness of the per-row kernels on the corpus_dedup path
  * against the SQL they replaced: graft_word_shingles against the
  * array_distinct(transform(...)) shingle set, graft_minhash_bands
  * against the explode + 32-way `min` aggregate + band formulation,
  * and graft_nearest_cell against the interpreted
  * `array_min(transform(cs, c -> struct(d, cid)))` argmin — ties, NaN,
  * null vectors and null centroid fields included. The references are
  * kept here verbatim.
  */
class CorpusKernelSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  /** Run `body` with generated code (whole-stage and expression) or
    * with every expression interpreted — each kernel has both paths. */
  private def bothPaths(body: String => Unit): Unit =
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  /** The shingle-set formulation before graft_word_shingles, verbatim. */
  private val HofShingles =
    "array_distinct(transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"

  test("graft_word_shingles == array_distinct(transform(..., concat_ws)), order included") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      1L -> "a b c", 2L -> "a b c a b c a b c d", 3L -> "héllo wörld 😀 日本 語 ß",
      4L -> "a  b c", 5L -> " lead and trail ", 6L -> "x y", 7L -> null,
      8L -> "one two three four five six seven", 9L -> "  ", 10L -> "a a a a a")
      .toDF("doc_id", "text")
    def sets(df: DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val reference = docs.withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= 3).select(col("doc_id"), expr(HofShingles).as("sh"))
    // null words (never produced by split) are skipped as concat_ws skips them
    val nulls = spark.sql("SELECT array('a', null, 'b', 'c', null) AS w")
    bothPaths { mode =>
      val got = sets(CorpusOps.shingleSets(docs))
      assert(got == sets(reference), mode)
      assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 8L, 9L, 10L), mode)
      assert(got(2L) == Seq("a b c", "b c a", "c a b", "b c d"), mode)
      assert(nulls.select(expr("graft_word_shingles(w)")).head().getSeq[String](0) ==
        nulls.select(expr(HofShingles)).head().getSeq[String](0), mode)
    }
  }

  /** The signature aggregate formulation of the band keys, verbatim. */
  private def referenceBands(sets: DataFrame): DataFrame = {
    val hashed = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .withColumn("h32", expr("xxhash64(shingle) & 4294967295"))
    val sigCols = PipelineKernels.MinhashPerms.zipWithIndex.map { case ((a, b), i) =>
      min((col("h32") * a + b) % PipelineKernels.P32).as(s"m$i")
    }
    val sigs = hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until 16).map { j =>
      struct(lit(j).as("band"), xxhash64(col(s"m${2 * j}"), col(s"m${2 * j + 1}")).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
  }

  private def keys(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("doc_id"), col("bb.band"), col("bb.bh")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("MinHash permutation constants are the fixed-seed ones the band keys were built with") {
    val rnd = new scala.util.Random(42)
    val want = Seq.fill(32)((rnd.nextInt(1 << 29).toLong * 2 + 1, rnd.nextInt(Int.MaxValue).toLong))
    assert(PipelineKernels.MinhashPerms == want)
    assert(PipelineKernels.P32 == 4294967311L)
  }

  test("graft_minhash_bands == explode + 32-way min + band hash, edge cases included") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("sh", ArrayType(StringType))))
    val edge = Seq[(Long, Seq[String])](
      1L -> Seq("héllo wörld ü", "日本 語 テキスト", "emoji 😀 x", "ß ǅ ﬁ"),
      2L -> Seq("a b c", "a b c", "d e f", "a b c"), // repeated shingles
      3L -> Seq("only one shingle"),
      4L -> null, // a null set has no bands
      5L -> Seq("x y z", null), // a null shingle hashes as xxhash64(null) = 42
      6L -> Seq.empty)
    val rows = edge.map { case (id, sh) => org.apache.spark.sql.Row(id, sh) }
    val edgeSets = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // plus real shingle sets: 200 docs over a small vocabulary, so many
    // docs share shingles and some collide in bands
    val words = "alpha beta gamma delta eps zeta eta theta iota kappa".split(" ")
    val text = spark.range(200).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        element_at(lit(words), (pmod(xxhash64(col("id"), lit(i)), lit(10L)) + 1).cast("int"))): _*)
        .as("text"))
    val sets = edgeSets.unionByName(CorpusOps.shingleSets(text).withColumn("doc_id",
      col("doc_id") + 100))
    bothPaths { mode =>
      val got = keys(CorpusOps.bandBucketsOf(sets))
      assert(got == keys(referenceBands(sets)), mode)
      assert(got.map(_._1) == (Set(1L, 2L, 3L, 5L) ++ (100L until 300L)), mode)
      assert(got.size == 16 * (4 + 200), mode)
    }
    // the kernel's field names and types are the bucket join key's
    val bb = CorpusOps.bandBucketsOf(sets).schema("bb").dataType
    assert(bb == referenceBands(sets).schema("bb").dataType, bb)
  }

  /** The probes = 1 argmin of assignTo before the kernel, verbatim. */
  private val HofCid =
    "array_min(transform(cs, c -> struct(round(graft_l2_sq(v, c.cv), 6) AS d, c.cid AS cid))).cid"

  private val csType = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cv", ArrayType(DoubleType)))))

  private def cells(cs: Seq[(java.lang.Long, Seq[Double])]): Seq[org.apache.spark.sql.Row] =
    cs.map { case (cid, cv) => org.apache.spark.sql.Row(cid, cv) }

  test("graft_nearest_cell == array_min(transform(...)).cid on ties, NaN, nulls and empty lists") {
    graft.functions.GraftFunctions.registerAll(spark)
    val nan = Double.NaN
    val vectors: Seq[Seq[Double]] = Seq(
      Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(0.5, 0.5), // 0.5,0.5 ties cells 1 and 2
      Seq(nan, 0.0), Seq(Double.PositiveInfinity, 0.0), Seq(2.0),
      Seq.empty, null, Seq(1.0000004, 0.9999996), Seq(-0.0, 0.0))
    val lists: Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      cells(Seq((2L, Seq(1.0, 1.0)), (1L, Seq(0.0, 0.0)))),
      cells(Seq((5L, Seq(0.0, 0.0)), (3L, Seq(0.0, 0.0)), (4L, Seq(nan, nan)))), // exact tie
      cells(Seq((7L, Seq(nan, 0.0)), (8L, Seq(1.0, 1.0)))), // NaN distance sorts last
      cells(Seq((9L, null), (6L, Seq(1.0, 1.0)))), // a null cv: null d sorts first
      cells(Seq((null, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)))), // null cid on a tie
      cells(Seq((null, null), (2L, Seq(1.0, 1.0)))),
      Seq(null, org.apache.spark.sql.Row(3L, Seq(1.0, 1.0))), // a null element
      Seq.empty, null)
    val rows = for ((v, i) <- vectors.zipWithIndex; (cs, j) <- lists.zipWithIndex)
      yield org.apache.spark.sql.Row(i * 100L + j, v, cs)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)), StructField("cs", csType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    def cids(c: String): Map[Long, Option[Long]] =
      df.select(col("id"), expr(c)).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    bothPaths { mode =>
      val got = cids("graft_nearest_cell(v, cs)")
      assert(got == cids(HofCid), mode)
      assert(got(200L) == Some(1L), mode) // the tie goes to the lower cid
      assert(got(700L) == Some(1L), mode) // null vector: every d null, least cid
      assert(got(7L) == None && got(8L) == None, mode) // empty or null list
    }
  }

  test("assignTo (probes = 1) equals the HOF argmin and plans no lambda") {
    val e = spark.range(300).select(col("id").as("vec_id"),
      array((0 until 8).map(d => round(sin(col("id") * (d + 1)), 2)): _*).as("v"))
    val centroids = e.where(col("vec_id") < 6)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val got = VectorOps.assignTo(e, centroids)
    val plan = got.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_nearest_cell") && !plan.contains("lambda"), plan)
    val hof = e.crossJoin(broadcast(
        centroids.agg(expr("collect_list(struct(cid, cv))").as("cs"))))
      .select(expr(HofCid).as("cid"), col("vec_id"))
    def pairs(df: DataFrame) =
      df.select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(got) == pairs(hof))
    assert(got.columns.toSeq == Seq("cid", "vec_id", "v"))
  }
}
