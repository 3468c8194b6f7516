package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO

/** Scan-level statistics: numRows estimates (sampled extrapolation)
  * reach Catalyst and land within sane bounds of the true count.
  *
  * Row-reader behaviours that sit next to these are pinned in other
  * specs:
  *   - split FASTA reads: SplitReadSpec "fasta: splits sync to '>'
  *     record starts" and "fasta.gz (BGZF): block splits sync '>'
  *     records across blocks";
  *   - the VCF info/alt projection with null AF: BinaryFormatsSpec
  *     "vcf: header-driven info struct, typed fields, flag semantics";
  *   - GFF map columns: FormatScanSpec "gff scan incl. attributes map".
  */
class ScanStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val F = "/root/repo/src/test/resources/fixtures"

  private def writeBigFasta(records: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats")
    val sb = new StringBuilder
    val rnd = new scala.util.Random(11)
    (0 until records).foreach { i =>
      sb.append(">seq").append(i).append(" d").append(i).append('\n')
      (0 until 3).foreach { _ =>
        sb.append((1 to 60).map(_ => "ACGT"(rnd.nextInt(4))).mkString).append('\n')
      }
    }
    val f = dir.resolve("big.fasta")
    java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
    f.toString
  }

  test("numRows estimate: sampled extrapolation within 2x of truth, exact for small files") {
    val path = writeBigFasta(20000)
    val df = GraftIO.read_fasta(spark, path)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.isDefined, "numRows estimate missing from the optimized plan")
    val est = stats.rowCount.get.toLong
    assert(est > 10000 && est < 40000, s"estimated $est rows for 20000 actual")
    // small fixture: sample covers the whole file -> exact count
    val small = GraftIO.read_fasta(spark, s"$F/fasta/test.fasta")
    assert(small.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(2)))
    // opt-out knob
    val off = GraftIO.read_fasta(spark, s"$F/fasta/test.fasta",
      Map("stats.sample" -> "false"))
    assert(off.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
  }

  test("numRows sampling ignores region filters: no zero-row lies, cache shared with full scans") {
    // a region matching NOTHING must not make the estimator stream the
    // file through the filter at plan time and then declare the table
    // empty — the estimate is the raw record count, conservative for a
    // region query's scan and identical to the full-scan estimate
    val path = s"$F/vcf/indexed.vcf.gz"
    val whole = GraftIO.read_vcf_file_records(spark, path)
      .queryExecution.optimizedPlan.stats.rowCount
    val sparse = GraftIO.vcf_query(spark, path, "chrNOPE:1-2")
      .queryExecution.optimizedPlan.stats.rowCount
    assert(whole.isDefined && whole.get > 0)
    assert(sparse == whole, s"region estimate $sparse != full estimate $whole")
    assert(GraftIO.vcf_query(spark, path, "chrNOPE:1-2").count() == 0)
  }
}
