package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Generator
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It attaches a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, keeps spans in
  * memory (workload → pass → query → job → stage, plus streaming batches
  * under their query) and per-span counters, and hands both to the run
  * record when the run ends.
  *
  * Attribution: the harness opens a span, runs one engine call, then
  * drains Spark's listener bus before closing it, so every event a
  * listener sees belongs to the innermost open span.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  /** Counters of one query span (or of the scan probe). */
  final class Stats {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedDelayMs = 0L
    var spillBytes, peakExecMem = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var analysisMs, optimizeMs, physicalMs = 0L
    var executions = 0L
    val plan: mutable.Map[String, Long] = mutable.LinkedHashMap(
      "exchanges" -> 0L, "bhj" -> 0L, "smj" -> 0L, "shj" -> 0L, "bnlj" -> 0L,
      "cartesian" -> 0L, "generate" -> 0L, "objagg_sort_fallbacks" -> 0L,
      "pairs_generated" -> 0L)
    val stageSkew = mutable.ArrayBuffer[(Long, Double)]()  // (read bytes, max/median)
    val batches = mutable.ArrayBuffer[Map[String, Any]]()

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "sched_delay_ms" -> schedDelayMs, "spill_bytes" -> spillBytes,
      "peak_exec_mem" -> peakExecMem, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "fetch_wait_ms" -> fetchWaitMs,
      "analysis_ms" -> analysisMs,
      "optimize_ms" -> optimizeMs, "physical_ms" -> physicalMs,
      "executions" -> executions, "plan" -> plan.toMap,
      "stage_skew" -> stageSkew.map { case (b, r) => Seq(b, r) },
      "batches" -> batches)
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private var current: Stats = new Stats
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[(Int, Int), Span]()
  private val stageReads = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  def begin(kind: String, name: String): Span = synchronized {
    val s = Span(spans.size, parentId, kind, name, System.currentTimeMillis())
    spans += s
    open.push(s)
    s
  }

  /** Runs `body` as the counted span `name`; returns its counters. */
  def counted[T](kind: String, name: String)(body: => T): (T, Stats) = {
    val s = begin(kind, name)
    synchronized { current = new Stats }
    try {
      val out = body
      PerfbenchBus.drain(spark.sparkContext)
      (out, synchronized { current })
    } finally {
      end(s)
      synchronized { current = new Stats }
    }
  }

  /** Adds the analysis phase of a DataFrame the engine returned: it ran
    * when the DataFrame was built, before the action the listener sees. */
  def noteAnalysis(qe: QueryExecution): Unit = synchronized {
    current.analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  def end(s: Span): Unit = synchronized {
    s.endMs = System.currentTimeMillis()
    while (open.nonEmpty && open.top.id != s.id) open.pop()
    if (open.nonEmpty) open.pop()
  }

  private def parentId: Int = open.headOption.map(_.id).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      current.jobs += 1
      val s = Span(spans.size, parentId, "job", s"job ${e.jobId}", e.time)
      spans += s
      jobSpan(e.jobId) = s
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val parent = jobSpan.values.toSeq.sortBy(-_.id).headOption.map(_.id).getOrElse(parentId)
        val s = Span(spans.size, parent, "stage", s"stage ${si.stageId}",
          si.submissionTime.getOrElse(System.currentTimeMillis()))
        spans += s
        stageSpan((si.stageId, si.attemptNumber())) = s
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        current.stages += 1
        stageSpan.remove((si.stageId, si.attemptNumber())).foreach { s =>
          s.endMs = si.completionTime.getOrElse(System.currentTimeMillis())
          s.attrs("tasks") = si.numTasks
        }
        stageReads.remove((si.stageId, si.attemptNumber())).foreach { reads =>
          if (reads.size >= 2) {
            val sorted = reads.sorted
            val median = sorted(sorted.size / 2).max(1L)
            current.stageSkew += ((sorted.sum, sorted.last.toDouble / median))
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = current
        val info = e.taskInfo
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        c.shuffleRead += read
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        if (read > 0)
          stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer[Long]()) += read
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val c = current
        c.executions += 1
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizeMs += ms("optimization")
        c.physicalMs += ms("planning")
        Tracer.signature(qe.executedPlan).foreach { case (k, v) =>
          c.plan(k) = c.plan.getOrElse(k, 0L) + v }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val ops = p.stateOperators.toSeq
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trigger = d.getOrElse("triggerExecution", 0L)
        val s = Span(spans.size, parentId, "batch", s"batch ${p.batchId}", start, start + trigger)
        spans += s
        current.batches += Map(
          "span" -> s.id, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
          "duration_ms" -> d,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "late_drops" -> ops.map(_.numRowsDroppedByWatermark).sum)
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans with their self time: duration minus the part of it that the
    * union of the children's intervals covers. */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val end = if (s.endMs < 0) s.startMs else s.endMs
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(math.max(k.endMs, k.startMs), end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b) }._1
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> end, "self_ms" -> (end - s.startMs - covered)) ++ s.attrs
    }
  }
}

object Tracer {

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startMs: Long, var endMs: Long = -1L,
                        attrs: mutable.Map[String, Any] = mutable.LinkedHashMap())

  /** Operator counts of an executed plan (final AQE plan, subqueries and
    * query stages included; a reused exchange counts once). */
  def signature(root: SparkPlan): Map[String, Long] = {
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    def metric(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(_.value).getOrElse(0L)
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => counts("exchanges") += 1
        case _: BroadcastHashJoinExec => counts("bhj") += 1
        case _: SortMergeJoinExec => counts("smj") += 1
        case _: ShuffledHashJoinExec => counts("shj") += 1
        case _: BroadcastNestedLoopJoinExec => counts("bnlj") += 1
        case _: CartesianProductExec => counts("cartesian") += 1
        case g: GenerateExec =>
          counts("generate") += 1
          if (isPairGenerator(g.generator, g.generatorOutput.map(_.name)))
            counts("pairs_generated") += metric(g, "numOutputRows")
        case a: ObjectHashAggregateExec =>
          counts("objagg_sort_fallbacks") += metric(a, "numTasksFallBacked")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: ReusedExchangeExec =>
        case other =>
          other.children.foreach(visit)
          other.subqueries.foreach(visit)
      }
    }
    visit(root)
    counts.toMap
  }

  /** A generator whose rows are candidate document/vector pairs: it emits
    * exactly two id columns named `*1`/`*2` (p1/p2, d1/d2), or one struct
    * with fields d1 and d2. */
  private def isPairGenerator(g: Generator, out: Seq[String]): Boolean =
    out match {
      case Seq(a, b) => a.dropRight(1) == b.dropRight(1) && a.endsWith("1") && b.endsWith("2")
      case Seq(_) => g.elementSchema.fields.headOption.map(_.dataType).exists {
        case st: StructType => st.fieldNames.toSet == Set("d1", "d2")
        case _ => false
      }
      case _ => false
    }
}
