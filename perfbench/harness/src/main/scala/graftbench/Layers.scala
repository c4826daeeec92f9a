package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's layer collector, built only from Spark's public
  * listener APIs:
  *
  *  - a SparkListener for jobs, stages and tasks (scheduler, execution
  *    and materialize layers), attributed to ops exactly through the job
  *    group the harness sets around every op;
  *  - a QueryExecutionListener for Catalyst's analysis, optimization and
  *    planning phases (`tracker.phases`);
  *  - a StreamingQueryListener for micro-batches and state-store commits.
  *
  * Phases and micro-batches carry no job group, so they are attributed by
  * time: ops run one after another on one client thread, and each event
  * goes to the latest op that started at or before the event's start.
  * Events are read only after the listener bus has drained (session
  * stop). Time spent inside the callbacks is the collector's own
  * overhead. */
final class Layers(cores: Int) {
  import Layers._

  private val overheadNs = new AtomicLong
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, TaskAcc]
  private val phases = new ConcurrentLinkedQueue[Phase]
  private val batches = new ConcurrentLinkedQueue[Batch]

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private def acc(group: String): TaskAcc = tasks.getOrElseUpdate(group, new TaskAcc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      // a job's call site names its final stage: "localCheckpoint at ..."
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val group = prop("spark.jobGroup.id")
      synchronized {
        jobs(e.jobId) = Job(group, e.time, e.time,
          site.startsWith("checkpoint at") || site.startsWith("localCheckpoint at"))
        e.stageIds.foreach(stageGroup(_) = group)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      synchronized { acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      synchronized {
        val a = acc(stageGroup.getOrElse(e.stageId, ""))
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.add(Phase(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, trigger,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def overheadMs: Double = overheadNs.get / 1e6

  private def ownerOf(ops: Seq[OpWindow]): Long => Int = {
    val starts = ops.map(_.startMs).toArray
    t => {
      val i = java.util.Arrays.binarySearch(starts, t)
      if (i >= 0) { var j = i; while (j + 1 < starts.length && starts(j + 1) == t) j += 1; j }
      else -i - 2
    }
  }

  /** Op index of every job group (-1: outside every op). A streaming
    * query runs its micro-batches under its own group (the run id), so a
    * group the harness did not set goes to the op in which its first job
    * started. */
  private def groupOps(ops: Seq[OpWindow]): Map[String, Int] = {
    val owner = ownerOf(ops)
    val opIndex = ops.zipWithIndex.map { case (o, i) => groupOf(o.id) -> i }.toMap
    jobs.values.groupBy(_.group).map { case (g, js) =>
      val first = js.map(_.startMs).min
      val i = owner(first)
      g -> opIndex.getOrElse(g,
        if (g.isEmpty || g.startsWith(Prefix) || i < 0 || first > ops(i).endMs) -1 else i)
    }
  }

  /** Each op's Spark jobs as (start, end) epoch ms. */
  def jobsByOp(ops: Seq[OpWindow]): Seq[Seq[(Long, Long)]] = synchronized {
    val g = groupOps(ops)
    val byOp = jobs.values.groupBy(j => g(j.group))
    ops.indices.map(i => byOp.getOrElse(i, Nil).map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1))
  }

  /** Layer counters of each op. Call after the listener bus has drained. */
  def perOp(ops: Seq[OpWindow]): Seq[Map[String, Double]] = synchronized {
    val owner = ownerOf(ops)
    def within(i: Int, t: Long) = i >= 0 && t <= ops(i).endMs
    val ph = ops.indices.map(_ => mutable.ArrayBuffer.empty[Phase])
    phases.asScala.foreach { p => val i = owner(p.startMs); if (within(i, p.startMs)) ph(i) += p }
    val bs = ops.indices.map(_ => mutable.ArrayBuffer.empty[Batch])
    batches.asScala.foreach { b => val i = owner(b.startMs); if (within(i, b.startMs)) bs(i) += b }
    val groupOp = groupOps(ops)
    val jobsOf = jobs.values.groupBy(j => groupOp(j.group))
    val tasksOf = tasks.toSeq.groupBy { case (g, _) => groupOp.getOrElse(g, -1) }
    ops.zipWithIndex.map { case (op, i) =>
      val js = jobsOf.getOrElse(i, Nil).toSeq
      val t = tasksOf.getOrElse(i, Nil).map(_._2).foldLeft(new TaskAcc)(_ add _)
      val wall = math.max(op.endMs - op.startMs, 1L).toDouble
      val busy = covered(js.map(j => (j.startMs, j.endMs)), op.startMs, op.endMs)
      Map(
        "catalyst.analysis_ms" -> ph(i).map(_.analysis).sum.toDouble,
        "catalyst.optimization_ms" -> ph(i).map(_.optimization).sum.toDouble,
        "catalyst.planning_ms" -> ph(i).map(_.planning).sum.toDouble,
        "catalyst.executions" -> ph(i).size.toDouble,
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> t.stages.toDouble,
        "scheduler.tasks" -> t.tasks.toDouble,
        "scheduler.driver_ms" -> (wall - busy),
        "execution.task_ms" -> t.taskMs.toDouble,
        "execution.cpu_ms" -> t.cpuNs / 1e6,
        "execution.gc_ms" -> t.gcMs.toDouble,
        "execution.core_util" -> t.taskMs / (wall * cores),
        "execution.shuffle_read_bytes" -> t.shuffleRead.toDouble,
        "execution.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        "execution.spill_bytes" -> t.spill.toDouble,
        "execution.failed_tasks" -> t.failedTasks.toDouble,
        "materialize.checkpoint_jobs" -> js.count(_.checkpoint).toDouble,
        "streaming.batches" -> bs(i).size.toDouble,
        "streaming.trigger_ms" -> bs(i).map(_.triggerMs).sum.toDouble,
        "streaming.state_commit_ms" -> bs(i).map(_.commitMs).sum.toDouble,
        "streaming.state_rows" -> bs(i).map(_.stateRows).sum.toDouble)
    }
  }

}

object Layers {
  /** Every per-layer metric of a traced run, in the order reported. */
  val Metrics: Seq[String] = Seq(
    "entry.build_ms", "entry.collect_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms", "catalyst.executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_ms",
    "execution.task_ms", "execution.cpu_ms", "execution.gc_ms", "execution.core_util",
    "execution.shuffle_read_bytes", "execution.shuffle_write_bytes", "execution.spill_bytes",
    "execution.failed_tasks",
    "materialize.checkpoint_jobs",
    "streaming.batches", "streaming.trigger_ms", "streaming.state_commit_ms", "streaming.state_rows",
    "sources.ingest_ms", "sources.pages_fetched", "sources.pages_skipped", "sources.sink_ms",
    "sources.rows_written", "sources.rows_skipped", "sources.write_yield", "sources.bytes_written",
    "etl.records_out")

  private val Prefix = "graftbench-"
  def groupOf(opId: Int): String = s"${Prefix}op-$opId"

  private final case class Job(group: String, startMs: Long, var endMs: Long, checkpoint: Boolean)
  private final class TaskAcc {
    var tasks, failedTasks, stages, taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    def add(o: TaskAcc): TaskAcc = {
      tasks += o.tasks; failedTasks += o.failedTasks; stages += o.stages; taskMs += o.taskMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
      this
    }
  }
  private final case class Phase(startMs: Long, analysis: Long, optimization: Long, planning: Long)
  private final case class Batch(startMs: Long, triggerMs: Long, commitMs: Long, stateRows: Long)

  /** Milliseconds of [from, to] that the union of `spans` covers. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var total = 0L
    var reach = from
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total.toDouble
  }
}

/** One timed op: its id (also its job group), name and epoch-ms window. */
final case class OpWindow(id: Int, name: String, startMs: Long, endMs: Long)
