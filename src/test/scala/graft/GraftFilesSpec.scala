package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.core.GraftFiles

/** Path expansion: `GraftFiles.resolve` walks directories with
  * `listStatus` (no per-file permission loads) and must return exactly
  * what the earlier `listFiles(dir, recursive = true)` + hidden-component
  * + sidecar filter returned; and multi-path reads decode the `paths`
  * option as the JSON array Spark encodes, not by splitting on commas. */
class GraftFilesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  /** The `listFiles`-based expansion `resolve` replaced, kept as the
    * differential oracle. */
  private def resolveByListFiles(pathSpec: String, conf: Configuration): Seq[FileStatus] = {
    val path = new Path(pathSpec)
    val fs = path.getFileSystem(conf)
    val globbed = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
    if (globbed.isEmpty)
      throw new java.io.FileNotFoundException(s"no files match '$pathSpec'")
    globbed.flatMap { st =>
      if (st.isDirectory) {
        val root = st.getPath.toString
        def hidden(p: Path): Boolean = {
          var cur = p
          while (cur != null && cur.toString != root) {
            val n = cur.getName
            if (n.startsWith(".") || n.startsWith("_")) return true
            cur = cur.getParent
          }
          false
        }
        def isIndexSidecar(n: String): Boolean = {
          val l = n.toLowerCase
          l.endsWith(".tbi") || l.endsWith(".csi") || l.endsWith(".bai") ||
            l.endsWith(".crai") || l.endsWith(".fai") || l.endsWith(".gzi")
        }
        val it = fs.listFiles(st.getPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
        while (it.hasNext) {
          val f = it.next()
          if (!hidden(f.getPath) && !isIndexSidecar(f.getPath.getName)) buf += f
        }
        buf.toSeq.sortBy(_.getPath.toString)
      } else Seq(st)
    }
  }

  private def put(root: JPath, rel: String, bytes: Int): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](bytes)('x'.toByte))
  }

  test("listStatus walk == listFiles walk: hidden dirs, sidecars, nesting, globs") {
    val root = Files.createTempDirectory("graft-resolve")
    var size = 1
    def add(rel: String): Unit = { put(root, rel, size); size += 7 }
    Seq("a/k=1/x.vcf", "a/k=1/x.vcf.gz", "a/k=2/j=b/y.vcf", "a/k=2/j=a/z.vcf",
      "a/top.vcf", "a/_temporary/0a1b/part-00000.vcf", "a/k=1/_temporary/9/part-1.vcf",
      "a/.hidden/x", "a/k=2/.hidden/deep/x.vcf", "a/_SUCCESS", "a/.part.crc",
      "a/k=1/x.vcf.gz.tbi", "a/k=1/x.vcf.gz.csi", "a/k=1/r.bam.bai", "a/k=1/r.cram.crai",
      "a/ref.fa.fai", "a/ref.fa.gz.gzi", "a/UPPER.VCF.GZ.TBI",
      "b/part-0.vcf", "b/sub/part-1.vcf", "c/other.vcf").foreach(add)
    Files.createDirectories(root.resolve("a/empty/dir"))
    val conf = new Configuration()
    def both(spec: String): (Seq[(String, Long)], Seq[(String, Long)]) = {
      def key(s: Seq[FileStatus]) = s.map(st => (st.getPath.toString, st.getLen))
      (key(GraftFiles.resolve(spec, conf)), key(resolveByListFiles(spec, conf)))
    }
    for (spec <- Seq(s"$root/a", s"$root/[ab]", s"$root/*/part-*.vcf", s"$root",
                     s"$root/a/k=1/x.vcf.gz.tbi", s"$root/a/empty")) {
      val (got, want) = both(spec)
      assert(got == want, spec)
    }
    // the tree's visible data files, in path order, for the two-directory glob
    assert(both(s"$root/[ab]")._1.map(_._1.stripPrefix("file:" + root + "/")) == Seq(
      "a/k=1/x.vcf", "a/k=1/x.vcf.gz", "a/k=2/j=a/z.vcf", "a/k=2/j=b/y.vcf", "a/top.vcf",
      "b/part-0.vcf", "b/sub/part-1.vcf"))
    intercept[java.io.FileNotFoundException](GraftFiles.resolve(s"$root/nope*", conf))
  }

  test("multi-path read keeps commas inside a path") {
    val root = Files.createTempDirectory("graft-paths")
    val fasta = Files.readAllBytes(java.nio.file.Paths.get("src/test/resources/fixtures/fasta/test.fasta"))
    val a = root.resolve("run,2/x.fasta")
    val b = root.resolve("plain/y.fasta")
    Seq(a, b).foreach { p => Files.createDirectories(p.getParent); Files.write(p, fasta) }
    assert(GraftFiles.pathSpecs(Map("paths" -> s"""["$a","$b"]""")) == Seq(a.toString, b.toString))
    // JSON escapes decode, rather than staying literal
    assert(GraftFiles.pathSpecs(Map("paths" -> """["q\"uote","back\\slash"]""")) ==
      Seq("q\"uote", "back\\slash"))
    val df = spark.read.format("fasta").load(a.toString, b.toString)
    assert(df.count() == 4) // test.fasta holds two records
  }
}
