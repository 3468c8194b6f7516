package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The dtype-trap lint (round-8 verdict ask #2): every gate entry's
  * output schema must be sortable/hashable by the driver's pandas
  * checker — no nested top-level columns. Runs the whole registry at
  * sf0.001 (streaming entries execute a micro-batch during construction;
  * everything else is analysis-only).
  */
class GateLintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  test("lint rejects a deliberately-nested gate output") {
    import spark.implicits._
    val bad = Seq((1, Seq("a", "b"))).toDF("id", "extra")
    val e = intercept[IllegalArgumentException] {
      GateLint.assertCheckerSafe("fixture_bad_entry", bad.schema)
    }
    assert(e.getMessage.contains("fixture_bad_entry"))
    assert(e.getMessage.contains("extra"))
    // struct + map columns are equally unhashable for pandas lexsort
    val bad2 = new StructType()
      .add("k", StringType)
      .add("m", MapType(StringType, LongType))
      .add("s", new StructType().add("x", LongType))
    assert(GateLint.uncheckableColumns(bad2).size == 2)
    // a raw DECIMAL top-level column is the other dtype-trap class:
    // decimal-computed entries must cast the final value to BIGINT
    val bad3 = new StructType()
      .add("k", StringType)
      .add("d", DecimalType(38, 0))
    assert(GateLint.uncheckableColumns(bad3) === Seq("d: decimal(38,0)"))
    // the decimal branch must advise the decimal fix (CAST to BIGINT),
    // not the nested-column rendering advice
    val e3 = intercept[IllegalArgumentException] {
      GateLint.assertCheckerSafe("fixture_decimal_entry", bad3)
    }
    assert(e3.getMessage.contains("CAST decimal columns"))
    assert(!e3.getMessage.contains("array_join"))
  }

  test("one place resolves a scan's regions: the scan builder") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    def users(call: String): Seq[String] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readAllLines(p).asScala.exists(l =>
        l.contains(call) && !l.trim.startsWith("def ") && !l.trim.startsWith("*")))
      .map(root.relativize(_).toString).toSeq.sorted
    // options and pushed filters become regions in GraftScanBuilder.build
    for (call <- Seq("Regions.fromOptions(", ".regionsFrom("))
      assert(users(call) == Seq("graft/sources/core/GraftDataSource.scala"), s"$call: ${users(call)}")
    // no format's regionChunks re-parses region strings; fasta/twobit
    // region fetches (DataSources.fetchRegions) parse their own
    assert(users("Regions.parse") ==
      Seq("graft/sources/DataSources.scala", "graft/sources/core/GraftDataSource.scala"),
      users("Regions.parse"))
  }

  test("the Hadoop conf is shipped from one place: GraftConf") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val users = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readAllLines(p).asScala.exists(
        _.contains("new SerializableConfiguration")))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(users == Seq("graft/sources/core/GraftConf.scala"), users)
  }

  test("library code never reaches into the gate registry") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val registrySide = Set("graft/SparkEntry.scala", "graft/Bench.scala", "graft/Verify.scala")
    val qualifier = raw"graft\.queries|\bqueries\.[A-Za-z]".r
    val hits = java.nio.file.Files.walk(root.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, _) => rel.startsWith("graft/queries/") || registrySide(rel) }
      .flatMap { case (rel, p) =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if qualifier.findFirstIn(l).isDefined => s"$rel:${i + 1}: ${l.trim}"
        }
      }.toSeq.sorted
    assert(hits.isEmpty, s"\nlibrary -> registry references:\n  ${hits.mkString("\n  ")}")
  }

  test("coreSet names only live registry entries") {
    val dead = SparkEntry.coreSet -- SparkEntry.registry.keySet
    assert(dead.isEmpty, s"coreSet references unknown entries: $dead")
  }

  test("every registry entry dumps a checker-safe (all-scalar) schema") {
    val offending = SparkEntry.registry.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val bad = GateLint.uncheckableColumns(q.fn(spark, sf).schema)
        if (bad.isEmpty) Nil else Seq(s"$name -> ${bad.mkString(", ")}")
    }
    assert(offending.isEmpty,
      s"\nnested gate outputs (driver checker would die):\n  ${offending.mkString("\n  ")}")
  }
}
