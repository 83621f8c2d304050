package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode: spans and per-layer counters for every operation, read
  * from Spark's public instrumentation only.
  *
  * - a `SparkListener` for jobs, stages and task metrics (scheduling,
  *   execution, exchange, spill, input and output);
  * - a `QueryExecutionListener` for each executed plan: the planning
  *   phases of `QueryExecution.tracker` and the SQL metrics of scans,
  *   filters above scans, graft's TopK operators and file writes;
  * - a `StreamingQueryListener` for each micro-batch;
  * - `CodeGenerator.compileTime` and `CodegenMetrics` for codegen.
  *
  * Events are attributed to the operation whose id the harness set as a
  * job-local property (jobs) or in `op` (plans, micro-batches; the harness
  * drains the listener bus after each operation). Spans share the
  * operation id, stay in memory and are written when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  @volatile var on = false
  @volatile var op = -1

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val perOp = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private var codegenAt = (0L, 0L)

  private def add(id: Int, key: String, v: Double): Unit = synchronized {
    val m = perOp.getOrElseUpdate(id, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private def max(id: Int, key: String, v: Double): Unit = synchronized {
    val m = perOp.getOrElseUpdate(id, mutable.Map.empty)
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }

  private def span(s: Span): Unit = synchronized { spans += s }

  def counters(id: Int): Map[String, Double] =
    synchronized(perOp.get(id).map(_.toMap).getOrElse(Map.empty))

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    if (on && op >= 0) {
      val (t, n) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      add(op, "codegen.compile_s", (t - codegenAt._1) / 1e9)
      add(op, "codegen.classes", (n - codegenAt._2).toDouble)
    }
    codegenAt = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** The harness's own spans: the operation, its build and its execution. */
  def opSpans(id: Int, name: String, t0: Long, tBuilt: Long, t1: Long): Unit = if (on) {
    // nanoTime stamps mapped onto the wall clock Spark's events use
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(t: Long) = t / 1e6 + offsetMs
    span(Span(id, "op", name, ms(t0), ms(t1), ""))
    if (tBuilt > t0) span(Span(id, "build", name, ms(t0), ms(tBuilt), "op"))
    span(Span(id, "execute", name, ms(tBuilt), ms(t1), "op"))
    add(id, "queries.build_s", (tBuilt - t0) / 1e9)
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      if (on) id.map(_.toInt).foreach { o =>
        Tracer.this.synchronized {
          e.stageIds.foreach(s => stageOp(s) = o)
          jobStart(e.jobId) = (o, e.time)
        }
        add(o, "sched.jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobStart.remove(e.jobId)).foreach { case (o, t) =>
        span(Span(o, "job", s"job ${e.jobId}", t.toDouble, e.time.toDouble, "execute"))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Tracer.this.synchronized(stageOp.get(info.stageId)).foreach { o =>
        add(o, "sched.stages", 1)
        for (s <- info.submissionTime; c <- info.completionTime)
          span(Span(o, "stage", s"stage ${info.stageId}", s.toDouble, c.toDouble, "job"))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized(stageOp.get(e.stageId)).foreach { o =>
        add(o, "sched.tasks", 1)
        if (e.reason != Success) add(o, "sched.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          add(o, "sched.delay_s", math.max(0L, delay) / 1e3)
          add(o, "exec.run_s", m.executorRunTime / 1e3)
          add(o, "exec.cpu_s", m.executorCpuTime / 1e9)
          add(o, "exec.gc_s", m.jvmGCTime / 1e3)
          max(o, "exec.peak_mem_mb", m.peakExecutionMemory / 1048576.0)
          add(o, "scan.rows", m.inputMetrics.recordsRead.toDouble)
          add(o, "scan.bytes", m.inputMetrics.bytesRead.toDouble)
          add(o, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(o, "shuffle.write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add(o, "shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
          add(o, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(o, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(o, "spill.mem_bytes", m.memoryBytesSpilled.toDouble)
          add(o, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
          add(o, "write.bytes", m.outputMetrics.bytesWritten.toDouble)
          add(o, "write.rows", m.outputMetrics.recordsWritten.toDouble)
        }
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on && op >= 0) plan(op, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (on && op >= 0) plan(op, qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && op >= 0) {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution")
        if (p.numInputRows > 0) add(op, "stream.batches", 1)
        add(op, "stream.input_rows", p.numInputRows.toDouble)
        add(op, "stream.batch_s", ms("triggerExecution") / 1e3)
        add(op, "stream.commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
        add(op, "upsert.call_s", ms("addBatch") / 1e3)
        span(Span(op, "microbatch", s"batch ${p.batchId}",
          end - ms("triggerExecution"), end, "execute"))
      }
  })

  /** Planning phases and SQL metrics of one executed plan. */
  private def plan(o: Int, qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      val key = phase match {
        case "analysis" => "plan.analysis_s"
        case "optimization" => "plan.optimize_s"
        case "planning" => "plan.physical_s"
        case other => s"plan.${other}_s"
      }
      add(o, key, (s.endTimeMs - s.startTimeMs) / 1e3)
      span(Span(o, "plan", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble, ""))
    }
    def metric(p: SparkPlan, k: String): Option[Long] = p.metrics.get(k).map(_.value)
    def rows(p: SparkPlan) = metric(p, "numOutputRows")
    // (node, parent) pairs over the final adaptive plan, stages unwrapped
    def walk(p: SparkPlan, parent: Option[SparkPlan]): Seq[(SparkPlan, Option[SparkPlan])] =
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, parent)
        case s: QueryStageExec => walk(s.plan, parent)
        case _: ReusedExchangeExec => Nil
        case _ => (p, parent) +: (p.children ++ p.subqueries).flatMap(walk(_, Some(p)))
      }
    val nodes = walk(qe.executedPlan, None)
    val parentOf = nodes.collect { case (n, Some(p)) => (n: AnyRef) -> p }.toMap
    def isScan(p: SparkPlan) = p.nodeName.startsWith("Scan") || p.nodeName.contains("BatchScan")
    // a scan's consumer, looking through the columnar/codegen adapters
    def consumer(p: SparkPlan): Option[SparkPlan] = parentOf.get(p).flatMap { q =>
      if (Seq("ColumnarToRow", "InputAdapter", "WholeStageCodegen").exists(q.nodeName.startsWith))
        consumer(q) else Some(q)
    }
    nodes.map(_._1).foreach { n =>
      if (isScan(n)) rows(n).foreach { r =>
        add(o, "scan.out_rows", r.toDouble)
        val kept = consumer(n).filter(_.nodeName == "Filter").flatMap(rows).getOrElse(r)
        add(o, "scan.kept_rows", kept.toDouble)
        metric(n, "scanTime").foreach(t => add(o, "scan.time_s", t / 1e3))
      }
      if (n.nodeName.contains("TopK")) {
        def below(p: SparkPlan): Option[Long] =
          p.children.headOption.flatMap(c => rows(c).orElse(below(c)))
        below(n).foreach(r => add(o, "topk.rows_in", r.toDouble))
        def above(p: SparkPlan): Option[Long] =
          parentOf.get(p).flatMap(q => rows(q).orElse(above(q)))
        rows(n).orElse(above(n)).foreach(r => add(o, "topk.rows_out", r.toDouble))
      }
      if (n.metrics.contains("numOutputBytes"))
        metric(n, "numFiles").foreach(f => add(o, "write.files", f.toDouble))
    }
  }

  def spanJson: Seq[Json.Raw] = synchronized {
    spans.toSeq.map(s => Json.obj("op" -> s.op, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent))
  }
}

object Tracer {
  /** Job-local property carrying the harness's operation id. */
  val OpKey = "perfbench.op"

  private final case class Span(op: Int, kind: String, name: String,
      startMs: Double, endMs: Double, parent: String)
}
