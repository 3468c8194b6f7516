package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FastaFormat
import graft.sources.core.{GraftBatchWrite, GraftWriteCommit}

/** The staged task-commit protocol under adversarial task scheduling:
  * speculative twin attempts of the same partition, aborted attempts,
  * and job abort must never leave a half-written or duplicate part file
  * where a reader would find it. (This is what makes the writers safe
  * under retries on a 1000-executor cluster; the happy path is covered
  * by WriterRoundTripSpec.)
  */
class WriterCommitProtocolSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("description", StringType),
    StructField("sequence", StringType)))

  private def row(id: String, seq: String): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(id), null, UTF8String.fromString(seq)))

  /** The writers take the job's Hadoop conf as a broadcast; a bare
    * local-filesystem conf is all the commit protocol needs. */
  private lazy val localConf = SparkTestSession.get.sparkContext.broadcast(
    new SerializableConfiguration(new org.apache.hadoop.conf.Configuration()))

  private def freshWrite(): (GraftBatchWrite, String) = {
    val dir = Files.createTempDirectory("graft-commit").resolve("out").toString
    val bw = GraftBatchWrite(FastaFormat.formatter.get, schema, dir, Map.empty, localConf)
    (bw, dir)
  }

  private def visibleFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    // '.'-prefixed = LocalFileSystem .crc sidecars, hidden from readers
    else d.listFiles().toSeq.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  test("speculative twin: only the committed attempt's file survives") {
    val (bw, dir) = freshWrite()
    val factory = bw.createBatchWriterFactory(null)
    // two attempts of partition 0 racing (speculation / retry)
    val w1 = factory.createWriter(0, 1L)
    val w2 = factory.createWriter(0, 2L)
    w1.write(row("winner", "ACGT"))
    w2.write(row("loser", "GGGG"))
    val msg = w1.commit()
    w2.abort()
    bw.commit(Array(msg))
    val files = visibleFiles(dir)
    assert(files.length == 1, files.map(_.getName))
    val content = new String(Files.readAllBytes(files.head.toPath), "UTF-8")
    assert(content.contains("winner") && !content.contains("loser"), content)
    assert(!new java.io.File(dir, "_temporary").exists())
  }

  test("concurrent jobs on one target stage in disjoint namespaces") {
    // two BatchWrites appending to the same directory: job B's
    // commit/abort must sweep only its own _temporary/<writeId> — with a
    // shared staging dir it would delete job A's in-flight file and A's
    // later rename would fail (the ADVICE r3 concurrency finding)
    val (bwA, dir) = freshWrite()
    val bwB = GraftBatchWrite(FastaFormat.formatter.get, schema, dir, Map.empty, localConf)
    val wA = bwA.createBatchWriterFactory(null).createWriter(0, 1L)
    val wB = bwB.createBatchWriterFactory(null).createWriter(0, 2L)
    wA.write(row("jobA", "AAAA"))
    wB.write(row("jobB", "CCCC"))
    val msgB = wB.commit()
    bwB.commit(Array(msgB)) // sweeps only B's namespace
    val msgA = wA.commit()
    bwA.commit(Array(msgA)) // A's staged file must still exist to rename
    val contents = visibleFiles(dir)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).sorted
    assert(contents.length == 2, contents)
    assert(contents.exists(_.contains("jobA")) && contents.exists(_.contains("jobB")))
    assert(!new java.io.File(dir, "_temporary").exists(), "_temporary not cleaned up")

    // abort variant: job D ABORTING must not destroy job C's in-flight
    // staging either
    val bwC = GraftBatchWrite(FastaFormat.formatter.get, schema, dir, Map("force" -> "true"), localConf)
    val bwD = GraftBatchWrite(FastaFormat.formatter.get, schema, dir, Map("force" -> "true"), localConf)
    val wC = bwC.createBatchWriterFactory(null).createWriter(0, 3L)
    val wD = bwD.createBatchWriterFactory(null).createWriter(0, 4L)
    wC.write(row("jobC", "TTTT"))
    wD.write(row("jobD", "GGGG"))
    wD.abort()
    bwD.abort(Array.empty)
    val msgC = wC.commit()
    bwC.commit(Array(msgC))
    val after = visibleFiles(dir)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    assert(after.exists(_.contains("jobC")), "aborting job D destroyed job C's staging")
    assert(!after.exists(_.contains("jobD")), "aborted job D leaked data")
  }

  test("job abort leaves no visible data") {
    val (bw, dir) = freshWrite()
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 7L)
    w.write(row("x", "AC"))
    w.commit() // task committed, but the JOB aborts before bw.commit
    bw.abort(Array.empty)
    assert(visibleFiles(dir).isEmpty)
    assert(!new java.io.File(dir, "_temporary").exists())
  }

  test("uncommitted attempt is invisible even without abort (crash shape)") {
    val (bw, dir) = freshWrite()
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(3, 9L)
    w.write(row("ghost", "TT"))
    // task dies: neither commit nor abort runs; job commits other tasks
    bw.commit(Array.empty[org.apache.spark.sql.connector.write.WriterCommitMessage])
    assert(visibleFiles(dir).isEmpty)
    assert(!new java.io.File(dir, "_temporary").exists()) // staging swept
  }

  test("partitioned twin attempts commit per-key files exactly once") {
    val dir = Files.createTempDirectory("graft-commit").resolve("p").toString
    val bw = GraftBatchWrite(FastaFormat.formatter.get, schema, dir,
      Map("partitionby" -> "id"), localConf)
    val factory = bw.createBatchWriterFactory(null)
    val w1 = factory.createWriter(0, 1L)
    val w2 = factory.createWriter(0, 2L)
    Seq(w1, w2).foreach { w => w.write(row("a", "AC")); w.write(row("b", "GT")) }
    val msg = w1.commit().asInstanceOf[GraftWriteCommit]
    assert(msg.files.length == 2) // one staged file per key the task saw
    w2.abort()
    bw.commit(Array(msg))
    val aDir = new java.io.File(dir, "id=a")
    val bDir = new java.io.File(dir, "id=b")
    def parts(d: java.io.File) =
      d.listFiles().count(f => f.isFile && !f.getName.startsWith("."))
    assert(parts(aDir) == 1)
    assert(parts(bDir) == 1)
  }
}
