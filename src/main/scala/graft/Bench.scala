package graft

/** Driver-run benchmark: every registered query once, full
  * materialization via the noop sink (a bare count() would let column
  * pruning skip the expensive expressions and flatter the numbers),
  * after a JVM/codegen warm-up. Prints ONE JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shuffle.partitions defaults to the thread count, which is right
    // at sf0.1; at 10×+ tiers per-partition shuffle blocks outgrow
    // memory and spill — a cluster raises this with the data, so the
    // tier captures may too (BENCH_NOTES round-10 A/B)
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val base = SessionConf.builder(cpus, shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
    // SPARK_GRAFT_NO_EXT: attribution knob — run the identical bench
    // without GraftExtensions to separate extension cost from noise
    val spark = (if (sys.env.contains("SPARK_GRAFT_NO_EXT")) base
                 else base.withExtensions(new GraftExtensions)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** One run: wall seconds (-1 on failure), and the generated-code
      * compile seconds and classes compiled while it ran. */
    final case class RunStats(s: Double, codegenS: Double, compiles: Long)
    def runOnce(name: String): RunStats = {
      import org.apache.spark.metrics.source.CodegenMetrics
      import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val c0 = CodeGenerator.compileTime
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return RunStats(-1.0, 0.0, 0L)
      }
      val t = (System.nanoTime() - t0) / 1e9
      val stats = RunStats(t, (CodeGenerator.compileTime - c0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
      // per-entry isolation (outside the timed region): entries that
      // barrier intermediates leave localCheckpoint RDD blocks behind,
      // and ContextCleaner only reaps broadcasts after a GC notices the
      // dead refs. In one long-lived JVM those remnants accumulate
      // across 400+ entries and later entries measure the predecessor's
      // retention, not their own cost (sf10 coreSet: decontam read
      // 300.7 s mid-suite vs 46.4 s isolated). A real deployment runs
      // each query in a fresh app; the cleanup makes the per-entry
      // number mean that.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      stats
    }

    // Attribution knob (driver never sets it): restrict the measured
    // set to comma-listed entries for back-to-back variance capture;
    // SPARK_GRAFT_BENCH_CORE=1 runs the tagged per-commit smoke subset
    // (SparkEntry.coreSet) so the full matrix stays a round-close
    // artifact, not an iteration tax.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .orElse(if (sys.env.get("SPARK_GRAFT_BENCH_CORE").contains("1"))
        Some(SparkEntry.coreSet) else None)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // warm-up: JIT + codegen + parquet footer caches, not measured.
    // The streaming entries' first run also stages their input files
    // (Stage.staged memoizes per driver), so the measured pass times
    // micro-batch execution, not file copies. Warm-up is restricted to
    // the MEASURED set: at a 10x tier, staging streaming inputs for 22
    // entries that will never be measured costs more than the
    // restricted run itself (found by a single-entry sf10 attribution
    // run that spent its first 16 minutes in unmeasured stream staging).
    names.take(3).foreach(runOnce)
    names.filter(_.startsWith("stream_")).foreach(runOnce)

    // Median-of-N capture: three rounds drifted on untouched queries
    // (BENCH_NOTES r2/r3/r5 — co-tenant noise up to +46% on a single
    // pass), so the recorded per-query number is the median of N full
    // passes and the raw per-pass totals ride along for attribution.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    val perPass: Seq[Seq[(String, RunStats)]] =
      (1 to passes).map(_ => names.map(n => n -> runOnce(n)))
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    def runsOf(n: String): Seq[RunStats] = perPass.map(_.toMap.apply(n))
    val results = names.map(n => n -> median(runsOf(n).map(_.s)))
    // codegen compile layer: per entry, the median compile seconds and
    // classes compiled over the passes (a class evicted from Spark's
    // 100-entry codegen cache between passes compiles again)
    val codegen = names.map { n =>
      val rs = runsOf(n).filter(_.s >= 0)
      n -> (median(rs.map(_.codegenS)), median(rs.map(_.compiles.toDouble)).max(0.0).toLong)
    }
    val codegenTotal = codegen.map(_._2._1).filter(_ >= 0).sum
    val cg = codegen.map { case (k, (cs, n)) => "\"" + k + "\":{\"s\":" + f"$cs%.4f" + ",\"n\":" + n + "}" }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val passTotals = perPass.map(p => f"${p.map(_._2.s).filter(_ >= 0).sum}%.4f")
      .mkString("[", ",", "]")
    val staging = graft.queries.Stage.stagingSeconds
    // Complete per-query JSON -> bench_full.json ONLY. It must NOT be
    // echoed to stdout: the driver captures a 2000-char stdout tail and
    // the 461-entry map line lands inside that window, truncating the
    // compact final line mid-JSON — every BENCH_r08..r12 artifact
    // carries `parsed: null` for exactly this reason (r12 verdict item
    // 1). The full map stays a committed file artifact.
    val full = f"""{"note":"full per-query map (median of $passes passes)","value":$total%.4f,"total_s":$total%.4f,"pass_totals":$passTotals,"staging_s":$staging%.2f,"codegen_total_s":$codegenTotal%.4f,"unit":"sec","queries":$qs,"codegen_s":$cg,"sf":"$sfDir"}"""
    // only the complete matrix may replace the committed artifact; a
    // restricted (ONLY/CORE) run writes its map under target/
    val fullPath = if (only.isDefined) "target/bench_full.json" else "bench_full.json"
    try {
      val out = java.nio.file.Paths.get(fullPath)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Exception => System.err.println(s"[bench] $fullPath: $e") }
    // Final line: the LAST and only large stdout line, comfortably
    // under the driver's 2000-char tail window — total, staging split
    // out, and the slowest queries; the complete map lives in
    // bench_full.json. Top-10 keeps the line ~600 chars so the window
    // also catches sbt's trailing [success] line with room to spare.
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.4f,"total_s":$total%.4f,"pass_totals":$passTotals,"staging_s":$staging%.2f,"codegen_total_s":$codegenTotal%.2f,"unit":"sec","n_queries":${results.size},"queries":$top,"full":"$fullPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
