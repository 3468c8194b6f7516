package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark entry point: one JVM, one closed-loop client (each op starts when
  * the previous one has returned), Spark local[N].
  *
  *   graftbench.Main --home DIR --data DIR --workload NAME --seed N --seconds S --trace 0|1
  *
  * Prints its configuration first and one JSON result as the last line
  * of stdout. See graftbench/README.md for the metrics. */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val SetupRepeats = 3
  /** The warm-up input set is this many times smaller than the measured one. */
  val WarmScale = 6

  /** Per-layer metrics reported by a traced run, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.inflate_mb_per_s" -> "MB/s", "core.deflate_mb_per_s" -> "MB/s",
    "core.splits_per_op" -> "count", "core.split_plan_ms" -> "ms",
    "core.scanned_bytes_ratio" -> "ratio", "core.commit_ms" -> "ms",
    "vcf.parse_rec_per_s" -> "rec/s", "bam.decode_rec_per_s" -> "rec/s",
    "fastq.parse_rec_per_s" -> "rec/s", "vcf.format_rec_per_s" -> "rec/s",
    "bam.encode_rec_per_s" -> "rec/s", "index.build_ms" -> "ms", "index.load_ms" -> "ms",
    "index.probe_us" -> "us", "index.chunks_per_region" -> "count",
    "fn.overhead_ms_per_mrec" -> "ms/Mrec",
    "dedup.near_dup_s" -> "s", "dedup.components_s" -> "s", "dedup.canonical_s" -> "s",
    "dedup.semantic_s" -> "s", "dedup.verified_pairs" -> "count", "dedup.components" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.physical_ms" -> "ms",
    "plan.share_of_op" -> "ratio", "exec.codegen_ms" -> "ms", "exec.jobs_per_op" -> "count",
    "exec.tasks_per_op" -> "count", "exec.busy_ratio" -> "ratio",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "jvm.gc_s" -> "s",
    "self.op_ms" -> "ms", "self.execute_ms" -> "ms", "self.job_ms" -> "ms",
    "self.stage_ms" -> "ms", "trace.throughput_ratio" -> "ratio")

  final class Run {
    val ops = mutable.ArrayBuffer.empty[(String, Long, Double)] // (op, items, ms)
    val requests = mutable.ArrayBuffer.empty[Double]              // ms
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    var attempted, failed = 0
    var peakHeapMb = 0.0
    var gcMs = 0L
    def timedMs: Double = ops.map(_._3).sum
    /** Items per second, with each op's time replaced by the median
      * time of its kind in this run, so one stalled op (a collector
      * pause, a neighbour's burst) does not set the run's figure. */
    def throughput: Double = {
      val ms = ops.groupBy(_._1).values.map(xs => median(xs.map(_._3).toSeq) * xs.length).sum
      ops.map(_._2).sum / (ms / 1000)
    }
    def meanMs(op: String): Double = {
      val xs = ops.filter(_._1 == op).map(_._3)
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def session(dir: File): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("graftbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  /** The program's own set-up: session with GraftExtensions, function
    * registration (on first analysis) and a first query and job. */
  private def setup(dir: File): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(dir)
    spark.sql("SELECT gc_content('ACGTGC'), is_duplicate(1024)").collect()
    spark.range(0, 100000, 1, Cores).selectExpr("sum(id)").collect()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def heapUsedMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private var cycleNo = 0

  /** Whole cycles while at least half of the next one (judged by the
    * last) fits in `seconds` of timed ops. */
  private def measure(w: Workload, spark: SparkSession, seconds: Double,
                      tracer: Option[Tracer], minCycles: Int, warm: Boolean = false): Run = {
    val run = new Run
    val ctx = new Ctx(spark, tracer)
    val gc0 = Tracer.gcMs
    var cycles = 0
    var lastMs = 0.0
    while (cycles < minCycles || run.timedMs + lastMs / 2 < seconds * 1000) {
      val before = run.timedMs
      var reqMs = 0.0
      (if (warm) w.warmOps(cycleNo) else w.cycle(cycleNo)).foreach { op =>
        op.before()
        tracer.foreach(_.begin(op.name))
        val t0 = System.nanoTime()
        val res = try Right(op.run(ctx)) catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        tracer.foreach(t => run.traces += t.end())
        run.attempted += 1
        val bad = res match {
          case Left(e) => Some(e.toString)
          case Right(r) => try op.check(r) catch { case e: Throwable => Some(s"check threw $e") }
        }
        bad.foreach { m =>
          run.failed += 1
          System.err.println(s"[graftbench] FAILED ${op.name}: $m")
        }
        run.ops += ((op.name, op.items, ms))
        reqMs += ms
        if (op.closes) { run.requests += reqMs; reqMs = 0 }
      }
      lastMs = run.timedMs - before
      cycleNo += 1
      cycles += 1
      run.peakHeapMb = math.max(run.peakHeapMb, heapUsedMb)
    }
    run.gcMs = Tracer.gcMs - gc0
    run
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer figures of a traced run; metrics a workload does not
    * exercise read 0. */
  private def layers(w: Workload, plain: Run, traced: Run, probes: Map[String, Double]): Map[String, Double] = {
    val t = traced.traces.toSeq
    val scans = t.filter(_.splits > 0)
    val writes = t.filter(_.op.startsWith("write_"))
    val self = Seq("op", "execute", "job", "stage").map { k =>
      s"self.${k}_ms" -> mean(t.map(_.self.getOrElse(k, 0.0)))
    }
    val fn = w match {
      case _: GenomicIo =>
        val extra = plain.meanMs("bam_functions") - plain.meanMs("bam_projected") +
          plain.meanMs("fastq_functions") - plain.meanMs("fastq_full")
        Map("fn.overhead_ms_per_mrec" -> extra / ((Sizes.Reads + Sizes.FastqReads) / 1e6))
      case _ => Map.empty[String, Double]
    }
    val dedup = w match {
      case c: CorpusDedup =>
        Map("dedup.near_dup_s" -> plain.meanMs("near_dup") / 1000,
          "dedup.components_s" -> plain.meanMs("components") / 1000,
          "dedup.canonical_s" -> plain.meanMs("canonical") / 1000,
          "dedup.semantic_s" -> plain.meanMs("semantic") / 1000) ++ c.counters
      case _ => Map.empty[String, Double]
    }
    val planMs = t.map(x => x.analysisMs + x.optimizationMs + x.planningMs).sum
    Map(
      "plan.analysis_ms" -> mean(t.map(_.analysisMs)),
      "plan.optimizer_ms" -> mean(t.map(_.optimizationMs)),
      "plan.physical_ms" -> mean(t.map(_.planningMs)),
      "plan.share_of_op" -> planMs / t.map(_.wallMs).sum,
      "core.split_plan_ms" -> mean(scans.map(_.splitPlanMs)),
      "core.splits_per_op" -> mean(scans.map(_.splits.toDouble)),
      "core.scanned_bytes_ratio" -> scans.map(_.scannedBytes).sum / math.max(scans.map(_.fileBytes).sum, 1.0),
      "core.commit_ms" -> mean(writes.map(_.commitMs)),
      "exec.busy_ratio" -> t.map(_.executorRunMs).sum / (t.map(_.executeMs).sum * Cores),
      "exec.codegen_ms" -> mean(t.map(_.codegenMs)),
      "exec.jobs_per_op" -> mean(t.map(_.jobs.toDouble)),
      "exec.tasks_per_op" -> mean(t.map(_.tasks.toDouble)),
      "exec.shuffle_write_mb" -> mean(t.map(_.shuffleWriteBytes / 1e6)),
      "exec.spill_mb" -> mean(t.map(_.spillBytes / 1e6)),
      "jvm.gc_s" -> traced.gcMs / 1000.0,
      "trace.throughput_ratio" -> traced.throughput / plain.throughput) ++ self ++ fn ++ dedup ++ probes
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val home = new File(a("home"))
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    require(seconds > 0, "--seconds must be positive")
    val target = new File(home, "target")
    val runDir = new File(target, "run")

    val setups = (1 to SetupRepeats).map { k =>
      val (s, t) = setup(runDir)
      if (k < SetupRepeats) stop(s)
      (s, t)
    }
    val spark = setups.last._1
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.conf
    println("graftbench config: " + Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.files.maxPartitionBytes" -> conf.get("spark.sql.files.maxPartitionBytes"),
      "spark.ui.enabled" -> spark.sparkContext.getConf.get("spark.ui.enabled"),
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1000000,
      "client" -> "closed loop, 1 client",
      "inputs" -> "generated by seed outside setup_s, served from page cache after warm-up",
      "writes" -> "no fsync; outputs deleted before each op outside the timed region",
      "sizes" -> Sizes.describe).map { case (k, v) => s"$k=$v" }.mkString("; "))

    // inputs are cached per build (the data directory is keyed by the
    // source hash) and seed
    val dataDir = new File(a("data"), s"s$seed")
    val in = new Inputs(dataDir, new File(runDir, "out"), seed, Cores)
    // the warm-up set is never measured, so one set serves every seed
    val warmIn = new Inputs(new File(a("data"), "warm"), new File(runDir, "out"), 0, Cores, WarmScale)
    val w = Workloads(workload, in, warmIn, seed)
    val prep0 = System.nanoTime()
    val inputBytes = w.prepare(spark)
    val prepS = (System.nanoTime() - prep0) / 1e9
    println("graftbench inputs (bytes on disk): " +
      inputBytes.map { case (k, v) => s"$k=$v" }.mkString(", "))

    // warm-up: JIT, codegen caches and the page cache; checked, not timed
    val warm = measure(w, spark, 0, None, w.warmCycles, warm = true)
    val plain = measure(w, spark, seconds, None, 1)
    val runs = mutable.ArrayBuffer(warm, plain)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups.map(_._2)), "s"),
        ("throughput_per_s", plain.throughput, "1/s"),
        ("query_ms_p50", percentile(plain.requests.toSeq, 0.5), "ms"),
        ("query_ms_p90", percentile(plain.requests.toSeq, 0.9), "ms"),
        ("peak_heap_mb", plain.peakHeapMb, "MB"))
      else {
        val tracer = new Tracer(spark)
        val traced = measure(w, spark, seconds, Some(tracer), 1)
        tracer.close()
        runs += traced
        tracer.write(new File(target, s"traces/$workload-s$seed.jsonl"))
        val l = layers(w, plain, traced, w.probes(spark))
        PerLayer.map { case (k, u) => (k, l.getOrElse(k, 0.0), u) }
      }
    System.err.println(s"[graftbench] $workload: ${plain.ops.length} ops in ${plain.timedMs.toLong} ms, " +
      s"${plain.requests.length} requests, ${w.item}/s=${plain.throughput}; setup_s=" +
      setups.map(_._2).mkString(",") + s"; prepare_s=$prepS; warm_ms=${warm.timedMs.toLong}; op mean ms: " +
      plain.ops.map(_._1).distinct.map(o => s"$o=${plain.meanMs(o).toLong}").mkString(" "))
    stop(spark)

    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }
}
