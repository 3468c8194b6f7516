package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.core.GraftInputPartition

/** One span of a request's tree: op -> plan{analysis, optimization,
  * planning} -> split_plan -> execute -> job -> stage. Times are epoch
  * milliseconds, the clock Spark's planner tracker and listener use. */
final case class Span(trace: Long, id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ms: Long = end - start
}

/** Per-op figures from one traced op. */
final case class OpTrace(op: String, wallMs: Double, analysisMs: Double, optimizationMs: Double,
                         planningMs: Double, splitPlanMs: Double, splits: Int,
                         scannedBytes: Double, fileBytes: Double, executeMs: Double,
                         jobs: Int, tasks: Int, executorRunMs: Double, shuffleWriteBytes: Double,
                         spillBytes: Double, codegenMs: Double, commitMs: Double,
                         self: Map[String, Double])

/** Records spans around the benchmark's calls into the library, plus the
  * jobs, stages and planner phases Spark reports for them. Spans stay in
  * memory and are written out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, trace: Long, start: Long, stages: Seq[Int])
  private final case class Stage(id: Int, start: Long, end: Long, tasks: Int, runMs: Long,
                                 shuffleWrite: Long, spill: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val phases = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      t.foreach(id => jobStarts.add(Job(e.jobId, id.toLong, e.time, e.stageIds)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, if (m == null) 0 else m.executorRunTime,
        if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      phases.add(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var trace = 0L
  private var opName = ""
  private var t0 = 0L
  private var execStart = -1L
  private var codegen0 = 0L
  private var splitMs = 0.0
  private var splits = 0
  private var scanned = 0.0
  private val files = mutable.Map.empty[String, Long] // path -> length, per op
  private val splitSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def begin(name: String): Unit = {
    GraftBenchBus.drain(spark.sparkContext)
    jobStarts.clear(); jobEnds.clear(); stages.clear(); phases.clear()
    trace += 1
    opName = name
    splitMs = 0; splits = 0; scanned = 0; execStart = -1
    files.clear()
    splitSpans.clear()
    spark.sparkContext.setLocalProperty(Tracer.Key, trace.toString)
    codegen0 = CodeGenerator.compileTime
    t0 = System.currentTimeMillis()
  }

  /** Plans `df`, then times the library's split planning for each of
    * its scans with a direct call (a second planning; execution reuses
    * the first), so planning, split planning and execution show as
    * separate spans. */
  def prepare(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val s = System.currentTimeMillis()
    Tracer.scans(plan).foreach { scan =>
      scan.scan.toBatch.planInputPartitions().foreach {
        case p: GraftInputPartition =>
          splits += 1
          files(p.path) = p.fileLen
          scanned += (if (p.bgzfChunk) math.max((p.end >>> 16) - (p.start >>> 16), 1L)
                      else math.min(p.end, p.fileLen) - p.start)
        case _ => splits += 1
      }
    }
    val e = System.currentTimeMillis()
    splitMs += e - s
    splitSpans += ((s, e))
    execStart = e
  }

  def end(): OpTrace = {
    val t1 = System.currentTimeMillis()
    GraftBenchBus.drain(spark.sparkContext)
    val codegenMs = (CodeGenerator.compileTime - codegen0) / 1e6
    spark.sparkContext.setLocalProperty(Tracer.Key, null)
    val exec0 = if (execStart < 0) t0 else execStart
    var next = 1
    def add(parent: Int, name: String, s: Long, e: Long): Int = {
      val id = next; next += 1
      spans += Span(trace, id, parent, name, s, e); id
    }
    val opId = 0
    spans += Span(trace, opId, -1, "op", t0, t1)
    val execId = add(opId, "execute", exec0, t1)
    // work that starts before the benchmark's execute call (a library
    // function that runs actions while building its result) hangs off op
    def under(start: Long): Int = if (start >= exec0) execId else opId
    splitSpans.foreach { case (s, e) => add(opId, "split_plan", s, e) }
    var analysis, optimization, planning = 0.0
    phases.asScala.foreach { ph =>
      val a = ph.get("analysis"); val o = ph.get("optimization"); val p = ph.get("planning")
      val all = Seq(a, o, p).flatten
      if (all.nonEmpty) {
        val s = all.map(_._1).min
        val e = all.map(_._2).max
        val planId = add(under(s), "plan", s, e)
        a.foreach(x => { add(planId, "analysis", x._1, x._2); analysis += x._2 - x._1 })
        o.foreach(x => { add(planId, "optimization", x._1, x._2); optimization += x._2 - x._1 })
        p.foreach(x => { add(planId, "planning", x._1, x._2); planning += x._2 - x._1 })
      }
    }
    val myJobs = jobStarts.asScala.filter(_.trace == trace).toSeq
    val stageById = stages.asScala.map(s => s.id -> s).toMap
    var tasks = 0; var runMs, shuffle, spill = 0.0
    var lastJobEnd = t0
    myJobs.foreach { j =>
      val je = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(t1)
      lastJobEnd = math.max(lastJobEnd, je)
      val jobId = add(under(j.start), "job", j.start, je)
      j.stages.flatMap(stageById.get).foreach { st =>
        add(jobId, "stage", st.start, st.end)
        tasks += st.tasks; runMs += st.runMs; shuffle += st.shuffleWrite; spill += st.spill
      }
    }
    val mineSpans = spans.filter(_.trace == trace).toSeq
    OpTrace(opName, (t1 - t0).toDouble, analysis, optimization, planning, splitMs, splits,
      scanned, files.values.sum.toDouble, (t1 - exec0).toDouble, myJobs.length, tasks, runMs, shuffle, spill,
      codegenMs, if (myJobs.isEmpty) 0.0 else (t1 - lastJobEnd).toDouble,
      Tracer.selfTimes(mineSpans))
  }

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}""")
    } finally w.close()
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val Key = "graftbench.trace"

  def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: BatchScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Self time per span name: a span's duration minus the part of its
    * interval that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        cs.foreach { case (a, b) =>
          if (a > curE) { covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        covered += curE - curS
        (s.ms - covered).toDouble
      }.sum
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
}
