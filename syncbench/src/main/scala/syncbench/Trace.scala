package syncbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer call, a Spark job or a planning phase.
  * Every span carries the id of the op it belongs to; `parent` is the
  * enclosing span (the op's root span has none). Times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double)

/** In-memory tracer. Disabled, `span` just runs its body; enabled, it
  * records a span around it, parented to the innermost open span, and
  * the Spark listeners below collect engine and planner counters.
  * Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 1
  private var currentOp = 0

  private def now(): Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  /** Run `body` as op `op` (a root span) when tracing is on. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, open.headOption.map(_.id).getOrElse(0), currentOp, name, now(), 0)
      nextId += 1
      open.push(s)
      try body
      finally {
        open.pop()
        spans += s.copy(end = now())
      }
    }

  val jobs = new JobListener
  val plans = new PlanListener

  def start(): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Stop recording, once the asynchronous listener bus has delivered
    * every job's end (bounded wait). */
  def pause(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5e9.toLong
    while (jobs.running > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    enabled = false
  }

  /** Stop recording and turn engine jobs and planner phases into spans
    * under the innermost span that holds their start. */
  def finish(): Unit = {
    pause()
    val layers = spans.toIndexedSeq
    def enclosing(t: Double): Option[Span] =
      layers.filter(r => r.start <= t && t <= r.end).maxByOption(_.start)
    for ((id, (s, e)) <- jobs.intervals.toSeq.sortBy(_._1); r <- enclosing(s)) {
      spans += Span(nextId, r.id, r.op, s"spark.job#$id", s, e); nextId += 1
    }
    for (ex <- plans.execs; (phase, s, e) <- ex.phases; r <- enclosing(s)) {
      spans += Span(nextId, r.id, r.op, s"plans.$phase", s, e); nextId += 1
    }
  }

  /** Engine, planner and driver-only counters of the traced ops, each a
    * per-op mean. Driver-only time is an op's wall time minus the union
    * of its Spark job intervals: where driver-local kernels run. */
  def engineSummary(ops: Seq[(Double, Double)]): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val driverOnly = ops.map { case (s, e) => (e - s) - jobs.busyMs(s, e) }.sum / 1e3
    jobs.summary(ops, cores) ++ plans.summary(ops) +
      ("queries.driver_only_s" -> driverOnly / math.max(1, ops.size))
  }

  /** Every span as a JSON-ready record. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.start).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.start, "end" -> s.end))
}

object Tracer {
  /** Offset from the monotonic clock to epoch ms, so spans line up with
    * the epoch timestamps Spark puts on its events. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}

/** One finished task: its stage, finish time (epoch ms) and metrics. */
final case class TaskEnd(stage: (Int, Int), finish: Double, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, result: Long)

/** One planned execution: its phases as (name, start, end) in epoch ms
  * and the tracker time of the repo's own `graft.plans.*` rules. */
final case class PlanExec(phases: Seq[(String, Double, Double)], graftRulesNs: Long) {
  def start: Double = phases.map(_._2).minOption.getOrElse(0.0)
}

/** Engine events from the public listener bus, kept raw with their
  * epoch-ms timestamps so they can be attributed to op intervals. */
final class JobListener extends SparkListener {
  @volatile var running = 0
  val intervals = mutable.LinkedHashMap.empty[Int, (Double, Double)]
  val stageEnds = mutable.ArrayBuffer.empty[Double]
  val tasks = mutable.ArrayBuffer.empty[TaskEnd]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    running += 1
    intervals(e.jobId) = (e.time.toDouble, e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    intervals.get(e.jobId).foreach { case (s, _) => intervals(e.jobId) = (s, e.time.toDouble) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEnd((e.stageId, e.stageAttemptId), e.taskInfo.finishTime.toDouble,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.resultSize)
  }

  /** Length of the union of job intervals clipped to [from, to]. */
  def busyMs(from: Double, to: Double): Double = synchronized {
    val iv = intervals.values.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    for ((s, e) <- iv) cur match {
      case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
      case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
      case None => cur = Some((s, e))
    }
    total + cur.map { case (cs, ce) => ce - cs }.getOrElse(0.0)
  }

  /** Engine counters of the events inside `ops` (epoch-ms intervals):
    * per-op means, the busy ratio over the ops' wall time on `cores`
    * cores, and the worst stage's slowest task over its median task
    * (stages of at least 4 tasks). */
  def summary(ops: Seq[(Double, Double)], cores: Int): Map[String, Double] = synchronized {
    def inside(t: Double) = ops.exists { case (s, e) => s <= t && t <= e }
    val n = math.max(1, ops.size).toDouble
    val ts = tasks.filter(t => inside(t.finish))
    val wallS = ops.map { case (s, e) => e - s }.sum / 1e3
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 4).map { g =>
      val s = g.map(_.runMs).sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.foldLeft(1.0)(math.max)
    Map(
      "spark.jobs" -> intervals.values.count { case (s, _) => inside(s) } / n,
      "spark.stages" -> stageEnds.count(inside) / n,
      "spark.tasks" -> ts.size / n,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3 / n,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> ts.map(_.spill).sum / n,
      "spark.result_bytes" -> ts.map(_.result).sum / n,
      "spark.busy_ratio" -> (if (wallS > 0) ts.map(_.runMs).sum / 1e3 / (wallS * cores) else 0.0),
      "spark.task_skew" -> skew)
  }
}

/** Planner counters from `qe.tracker` of every finished execution. */
final class PlanListener extends QueryExecutionListener {
  val execs = mutable.ArrayBuffer.empty[PlanExec]

  private def record(qe: QueryExecution): Unit = synchronized {
    execs += PlanExec(
      qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) },
      qe.tracker.rules.iterator
        .collect { case (rule, r) if rule.startsWith("graft.plans.") => r.totalTimeNs }.sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Per-op means of planner time and executions inside `ops`. */
  def summary(ops: Seq[(Double, Double)]): Map[String, Double] = synchronized {
    val n = math.max(1, ops.size).toDouble
    val es = execs.filter(e => ops.exists { case (s, t) => s <= e.start && e.start <= t })
    def phase(name: String) =
      es.flatMap(_.phases).collect { case (`name`, s, e) => e - s }.sum / 1e3 / n
    Map("plans.analysis_s" -> phase("analysis"), "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.graft_rules_s" -> es.map(_.graftRulesNs).sum / 1e9 / n,
      "plans.executions" -> es.size / n)
  }
}
