package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.core._
import graft.sources.{FastaFormat, GraftIO}

/** Guards the executor-side Hadoop configuration path: a custom
  * `spark.hadoop.*` key set on the SESSION (the way s3a credentials,
  * endpoints, and timeouts are configured; the reference registers
  * object stores per-URI at rust/src/arrow_reader.rs:108) must reach
  * the PartitionReader that opens the file on an executor. Round-1
  * defect: readers built `new Configuration()`, dropping all of it —
  * fixed by shipping a SerializableConfiguration (now one broadcast per
  * session conf content, reused across scans and writes until any key
  * or value changes, see GraftConf); this spec pins the fix, and the
  * cache's reuse and invalidation, against regression.
  */
class HadoopConfPropagationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def roundTrip[T](v: T): T = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(v)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[T]
  }

  private def fastaFactory(): GraftReaderFactory = {
    val path = "src/test/resources/fixtures/fasta/test.fasta"
    val schema = GraftIO.read_fasta(spark, path).schema
    GraftTable(FastaFormat, schema, Map("path" -> path)).newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build().toBatch.createReaderFactory()
      .asInstanceOf[GraftReaderFactory]
  }

  test("cluster hadoop conf key is visible in the deserialized reader factory") {
    // spark.hadoop.* submit-time keys land (prefix-stripped) on the
    // context hadoopConfiguration — set there directly, the same effect
    spark.sparkContext.hadoopConfiguration.set("graft.test.marker", "propagated-42")
    try {
      val path = "src/test/resources/fixtures/fasta/test.fasta"
      val schema = GraftIO.read_fasta(spark, path).schema
      val table = GraftTable(FastaFormat, schema, Map("path" -> path))
      val scan = table.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())).build()
      val factory = scan.toBatch.createReaderFactory()
        .asInstanceOf[GraftReaderFactory]

      // the factory is what Spark serializes to executors — prove the
      // session key survives the wire, not just the driver-side object
      val shipped = roundTrip(factory)
      assert(shipped.bconf.value.value.get("graft.test.marker") == "propagated-42")

      // and the shipped factory's conf actually opens the filesystem
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.nonEmpty)
      val reader = shipped.createReader(parts.head)
      var n = 0
      while (reader.next()) n += 1
      reader.close()
      assert(n == 2) // test.fasta has records r1, r2
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.test.marker")
  }

  test("writer BatchWrite ships the cluster conf too") {
    spark.sparkContext.hadoopConfiguration.set("graft.test.marker", "w-7")
    try {
      // build the REAL write path (newWriteBuilder -> toBatch) and
      // inspect the broadcast SerializableConfiguration embedded in the
      // GraftBatchWrite it produces — asserting on a freshly built
      // newHadoopConf() would stay green even if the builder regressed
      // to `new Configuration()`
      val dir = java.nio.file.Files.createTempDirectory("graft-conf").resolve("o").toString
      val path = "src/test/resources/fixtures/fasta/test.fasta"
      val fastaSchema = GraftIO.read_fasta(spark, path).schema
      val table = GraftTable(FastaFormat, fastaSchema, Map("path" -> dir))
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "t"
        override def schema(): org.apache.spark.sql.types.StructType = fastaSchema
        override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap = opts
      }
      val batch = table.newWriteBuilder(info).build().toBatch
        .asInstanceOf[GraftBatchWrite]
      val shipped = roundTrip(batch)
      assert(shipped.bconf.value.value.get("graft.test.marker") == "w-7")
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.test.marker")
  }

  test("a hadoopConfiguration edit between two scans reaches the second scan's factory") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.test.marker", "first")
    try {
      val first = roundTrip(fastaFactory())
      assert(first.bconf.value.value.get("graft.test.marker") == "first")
      hc.set("graft.test.marker", "second")
      val second = roundTrip(fastaFactory())
      assert(second.bconf.value.value.get("graft.test.marker") == "second")
      assert(second.bconf.id != first.bconf.id)
    } finally hc.unset("graft.test.marker")
  }

  test("two scans over an unchanged conf share one broadcast") {
    val a = fastaFactory().bconf
    val b = fastaFactory().bconf
    assert(a.id == b.id)
    // a session SQL conf is part of the shipped conf too
    spark.conf.set("spark.sql.graft.test.marker", "x")
    try assert(fastaFactory().bconf.id != b.id)
    finally spark.conf.unset("spark.sql.graft.test.marker")
  }

  test("the conf cache never serves another or a stopped owner") {
    final class Owner(var live: Boolean = true)
    val cache = new LastBy[Owner, String, Int](_.live)
    var builds = 0
    def get(o: Owner, key: String): Int = cache(o, key) { builds += 1; builds }
    val (a, b) = (new Owner, new Owner)
    assert(get(a, "k") == 1 && get(a, "k") == 1) // same live owner, same key
    assert(get(b, "k") == 2)                     // another owner
    assert(get(a, "k") == 3)                     // a's entry was replaced by b's
    a.live = false
    assert(get(a, "k") == 4 && get(a, "k") == 5) // stopped: always rebuilt
    assert(get(b, "j") == 6 && get(b, "j") == 6) // new key rebuilds once
  }
}
