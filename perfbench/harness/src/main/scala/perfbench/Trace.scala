package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus Spark
  * listener records of the work those calls caused.
  *
  * Ops run one at a time from one thread, so a job, stage or SQL
  * execution belongs to the op whose wall-clock interval contains its
  * start. Inside an op, jobs and stages are attributed to the innermost
  * open span through a Spark local property (`perfbench.span`), which
  * every job submitted while the span is open carries. Everything stays
  * in memory until [[writeSpans]].
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var currentOp = -1

  def beginOp(op: Int): Unit = currentOp = op
  def endOp(): Unit = currentOp = -1

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), currentOp,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  // -------- listener side (listener-bus thread; guarded by `this`)
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execStart = mutable.Map.empty[Long, Long]
  private val execModule = mutable.Map.empty[Long, String]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(q => Option(q.getProperty(k)))
      val span = prop(SpanProp).map(_.toInt).getOrElse(-1)
      // a SQL execution's jobs (AQE submits query stages from pool
      // threads) are attributed to the call site of the action that
      // started the execution; other jobs to their own result stage's
      // call site ("collect at Dedup.scala:812")
      val module = prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong))
        .getOrElse(moduleOf(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
      jobs += JobRec(e.jobId, span, module, e.time)
      e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = if (m == null) 0L else f(m)
      stages += StageRec(
        stageSpan.getOrElse(si.stageId, -1),
        si.submissionTime.getOrElse(System.currentTimeMillis()),
        si.numTasks,
        metric(_.executorRunTime),
        metric(_.executorCpuTime),
        metric(_.jvmGCTime),
        metric(x => x.shuffleReadMetrics.totalBytesRead + x.shuffleWriteMetrics.bytesWritten),
        metric(x => x.memoryBytesSpilled + x.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized {
          execStart(s.executionId) = s.time
          execModule(s.executionId) = moduleOfStack(s.details)
        }
      case _ =>
    }
  }

  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val fallbacks = try wscFallbacks(qe.executedPlan) catch { case _: Throwable => 0 }
      Tracer.this.synchronized {
        // a command's QueryExecution can carry another id than the SQL
        // execution that ran it; fall back to its own start
        val start = execStart.getOrElse(qe.id, System.currentTimeMillis() - durationNs / 1000000L)
        execs += ExecRec(start,
          ms("analysis"), ms("optimization"), ms("planning"), fallbacks)
      }
    }
  }

  def jobEnd(id: Int): Option[Long] = synchronized(jobEnds.get(id))

  /** One JSON line per span with the listener counts attributed to it. */
  def writeSpans(path: String): Unit = synchronized {
    val jobsBySpan = jobs.groupBy(_.span)
    val stagesBySpan = stages.groupBy(_.span)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val st = stagesBySpan.getOrElse(s.id, Nil)
      w.println(BenchMain.Json.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
        "jobs" -> jobsBySpan.getOrElse(s.id, Nil).size,
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "task_busy_ms" -> st.map(_.busyMs).sum,
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum)))
    }
    finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Long, startNs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, span: Int, module: String, startMs: Long)
  final case class StageRec(
      span: Int, startMs: Long, tasks: Int, busyMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)
  final case class ExecRec(
      startMs: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double,
      wscFallbacks: Int)

  /** Source file named by Spark's short call site ("collect at Dedup.scala:812"). */
  def moduleOf(site: String): String = {
    val i = site.lastIndexOf(" at ")
    val f = if (i >= 0) site.substring(i + 4) else site
    f.takeWhile(_ != ':').stripSuffix(".scala")
  }

  /** Source file of the innermost frame outside Spark, Scala and the JDK
    * in Spark's long call site ("graft.operators.Dedup$.f(Dedup.scala:812)").
    */
  def moduleOfStack(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.contains(".scala:") &&
        !Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.").exists(l.startsWith))
      .map(l => l.substring(l.lastIndexOf('(') + 1).takeWhile(_ != ':').stripSuffix(".scala"))
      .getOrElse("")

  /** Codegen-capable operators that executed outside a whole-stage
    * codegen stage: wide projections past `spark.sql.codegen.maxFields`
    * and stages whose generated code failed to compile both land here.
    */
  def wscFallbacks(plan: SparkPlan): Int = {
    def walk(p: SparkPlan, fused: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, fused = false)
      case q: QueryStageExec => walk(q.plan, fused = false)
      case w: WholeStageCodegenExec => walk(w.child, fused = true)
      case i: InputAdapter => walk(i.child, fused = false)
      case c: CodegenSupport if c.supportCodegen && !fused && c.children.nonEmpty =>
        1 + c.children.map(walk(_, fused = false)).sum
      case other => other.children.map(walk(_, fused)).sum
    }
    walk(plan, fused = false)
  }
}
