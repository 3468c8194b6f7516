package graft

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.core.{GraftMicroBatchStream, GraftStreamOffset}

/** Micro-batch ingest of format directories (readStream over arriving
  * files): exactly-once per file, checkpoint-restart resumption, split
  * fan-out inside a micro-batch, and the immutability contract.
  */
class StreamingIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private def tmp(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def writeFastq(dir: Path, name: String,
                         records: Seq[(String, String, String)]): Unit = {
    val text = records.map { case (n, seq, q) => s"@$n\n$seq\n+\n$q\n" }.mkString
    Files.write(dir.resolve(name), text.getBytes("UTF-8"))
  }

  test("offset JSON round-trips arbitrary path bytes") {
    val o = GraftStreamOffset(Map(
      "/tmp/we\"ird\\path\n.fastq" -> 12L,
      "/plain/a.fastq" -> 0L))
    assert(GraftStreamOffset.fromJson(o.json()) == o)
    // deterministic: same set -> same string regardless of map order
    assert(o.json() == GraftStreamOffset(o.files.toSeq.reverse.toMap).json())
  }

  test("fastq directory stream drains existing files and matches the batch read") {
    val dir = tmp("graft-ingest")
    writeFastq(dir, "a.fastq", Seq(("r1", "ACGT", "IIII"), ("r2", "GGCC", "!!!!")))
    writeFastq(dir, "b.fastq", Seq(("r3", "TTTT", "????")))
    val tbl = "graft_ingest_drain"
    val q = spark.readStream.format("fastq").load(dir.toString)
      .writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(tbl).select("name", "sequence").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batch = graft.sources.GraftIO.read_fastq(spark, dir.toString)
      .select("name", "sequence").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == batch && got.size == 3)
  }

  test("restart from checkpoint reads ONLY files that arrived since") {
    val dir = tmp("graft-ingest-restart")
    val out = tmp("graft-ingest-out").toString
    val ck = tmp("graft-ingest-ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("fastq").load(dir.toString)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFastq(dir, "a.fastq", Seq(("r1", "ACGT", "IIII"), ("r2", "GGCC", "!!!!")))
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
    writeFastq(dir, "c.fastq", Seq(("r4", "AAAA", "IIII"), ("r5", "CCCC", "IIII"),
      ("r6", "GGGG", "IIII")))
    runOnce()
    val names = spark.read.parquet(out).select("name").collect()
      .map(_.getString(0)).toSeq
    // exactly once per file: 2 + 3 rows, no re-read of a.fastq
    assert(names.sorted == Seq("r1", "r2", "r4", "r5", "r6"))
  }

  test("maxFilesPerTrigger paces a backlog into one-file micro-batches") {
    val dir = tmp("graft-ingest-pace")
    writeFastq(dir, "a.fastq", Seq(("r1", "ACGT", "IIII")))
    writeFastq(dir, "b.fastq", Seq(("r2", "ACGT", "IIII")))
    writeFastq(dir, "c.fastq", Seq(("r3", "ACGT", "IIII")))
    val tbl = "graft_ingest_pace"
    val q = spark.readStream.format("fastq")
      .option("maxFilesPerTrigger", "1").load(dir.toString)
      .writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(tbl).count() == 3)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 3,
        s"expected 3 paced one-file batches, got $dataBatches")
    } finally q.stop()
  }

  test("maxBytesPerTrigger packs files under the byte cap, oversized first file still admits") {
    val dir = tmp("graft-ingest-bytes")
    // each record is 16 bytes on disk
    writeFastq(dir, "a.fastq", Seq(("r1", "ACGT", "IIII")))
    writeFastq(dir, "b.fastq", Seq(("r2", "ACGT", "IIII")))
    writeFastq(dir, "c.fastq", Seq(("r3", "ACGT", "IIII")))
    val tbl = "graft_ingest_bytes"
    // cap 40: batch 1 = a+b (32 bytes; c would exceed), batch 2 = c
    val q = spark.readStream.format("fastq")
      .option("maxBytesPerTrigger", "40").load(dir.toString)
      .writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(tbl).count() == 3)
      val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
      assert(batches == Seq(2L, 1L), s"expected [2, 1] rows per batch, got $batches")
    } finally q.stop()
  }

  test("a file that grows between offsets fails the stream loudly") {
    val dir = tmp("graft-ingest-grow")
    val out = tmp("graft-ingest-grow-out").toString
    val ck = tmp("graft-ingest-grow-ck").toString
    writeFastq(dir, "a.fastq", Seq(("r1", "ACGT", "IIII")))
    val q1 = spark.readStream.format("fastq").load(dir.toString)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    Files.write(dir.resolve("a.fastq"), "@r9\nTTTT\n+\nIIII\n".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val q2 = spark.readStream.format("fastq").load(dir.toString)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("immutable"))), e)
  }

  test("splittable formats fan out into byte-range partitions inside a micro-batch") {
    val dir = tmp("graft-ingest-split")
    val recs = (1 to 20).map(i => s">s$i desc\n${"ACGTACGTAC" * 4}\n").mkString
    Files.write(dir.resolve("big.fasta"), recs.getBytes("UTF-8"))
    val schema = graft.sources.GraftIO.read_fasta(spark, dir.toString).schema
    val stream = GraftMicroBatchStream(graft.sources.FastaFormat, schema, schema,
      Map("path" -> dir.toString, "maxsplitbytes" -> "128"), None,
      graft.sources.core.GraftConf.broadcast(spark))
    val end = stream.latestOffset(stream.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
    assert(parts.length > 4,
      s"expected byte-range fan-out, got ${parts.length} partitions")
    // and the stream read returns every record exactly once despite splits
    val tbl = "graft_ingest_split"
    val q = spark.readStream.format("fasta").option("maxsplitbytes", "128")
      .load(dir.toString)
      .writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(tbl).select("id").collect().map(_.getString(0)).sorted
      .toSeq == (1 to 20).map(i => s"s$i").sorted)
  }
}
