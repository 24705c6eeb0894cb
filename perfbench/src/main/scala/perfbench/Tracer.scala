package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One traced interval; times are epoch milliseconds. */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val start: Double, @volatile var end: Double,
    val attrs: Map[String, Any])

/** In-memory tracing for a traced run: spans run → pass → query → job →
  * stage, plus the kernel and operator probes, and the per-task,
  * per-micro-batch and planning records the per-layer metrics are
  * computed from.
  *
  * A job belongs to a query by its job group: the benchmark sets
  * `perfbench:<pass>:<query>` on the driver thread (threads the query
  * creates inherit it), and a streaming query's micro-batch jobs carry
  * the stream's run id, which `onQueryStarted` (called synchronously on
  * the thread that starts the stream) ties to the running query. A job
  * with neither is counted as unattributed and hangs off the run span.
  *
  * Records are kept only while `enabled`; the bus is drained at the end
  * of every pass, so a pass's events are never judged by the next pass's
  * flag. */
object Tracer {
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, peakMem: Long, spill: Long, inRows: Long,
      outBytes: Long, shWrite: Long, shRead: Long, failed: Boolean)
  final case class BatchRec(start: Double, triggerMs: Long, addBatchMs: Long,
      commitMs: Long, stateRows: Long, stateCommitMs: Long, stateMem: Long,
      runId: String)
}

final class Tracer(spark: SparkSession, cores: Int, t0: Long) {
  import Tracer._

  @volatile var enabled = true

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toMs(nano: Long): Double = epoch0 + (nano - nano0) / 1e6
  private def nowMs: Double = toMs(System.nanoTime())

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private def open(parent: Long, layer: String, name: String, start: Double,
      attrs: Map[String, Any] = Map.empty): Span = {
    val s = new Span(nextId.incrementAndGet(), parent, layer, name, start, Double.NaN, attrs)
    spans.add(s); s
  }

  private val runSpan: Span = open(0, "run", "run", toMs(t0))
  @volatile private var passSpan: Span = _
  @volatile private var querySpan: Span = _
  private val groupSpan = new ConcurrentHashMap[String, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val unattributed = new LongAdder

  def runEnd(): Unit = runSpan.end = nowMs

  def pass[T](p: Int)(body: => T): T = {
    passSpan = open(runSpan.id, "pass", s"pass $p", nowMs, Map("pass" -> p))
    try body finally passSpan.end = nowMs
  }
  def query[T](p: Int, q: String)(body: => T): T = {
    val s = open(passSpan.id, "query", q, nowMs, Map("pass" -> p))
    groupSpan.put(s"perfbench:$p:$q", s)
    querySpan = s
    try body finally { s.end = nowMs; querySpan = null }
  }

  /** Deliver every event posted so far (called between passes, untimed). */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  @volatile private var enclosing: Span = runSpan

  /** Run a set-up step, the oracle dump or a probe on the driver thread
    * as a span under the enclosing one; the jobs it starts belong to it. */
  def span[T](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val parent = enclosing
    val s = open(parent.id, layer, name, nowMs, attrs)
    val group = s"perfbench:span:${s.id}"
    groupSpan.put(group, s)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    enclosing = s
    try body finally {
      s.end = nowMs
      enclosing = parent
      sc.setLocalProperty("spark.jobGroup.id", outer)
    }
  }

  // ---- records behind the per-layer metrics -----------------------------

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val plans = new ConcurrentLinkedQueue[(Double, Double)]()

  def planPhases(t: QueryPlanningTracker): Unit =
    if (enabled) t.phases.values.foreach(ph => plans.add((ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)))

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val parent = Option(group).flatMap(g => Option(groupSpan.get(g)))
      if (parent.isEmpty) unattributed.increment()
      val s = open(parent.getOrElse(runSpan).id, "job", s"job ${e.jobId}", e.time.toDouble,
        Map("stages" -> e.stageIds.size))
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageJob.put(id, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled)
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val i = e.stageInfo
      val job = Option(stageJob.get(i.stageId)).flatMap(j => Option(jobSpan.get(j)))
      val s = open(job.getOrElse(runSpan).id, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.getOrElse(0L).toDouble, Map("tasks" -> i.numTasks))
      s.end = i.completionTime.getOrElse(0L).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, ti.launchTime, ti.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, !ti.successful))
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val q = querySpan
      if (q != null) groupSpan.put(e.runId.toString, q)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d("triggerExecution"), d("addBatch"), d("walCommit") + d("commitOffsets"),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum, p.runId.toString))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planPhases(qe.tracker)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planPhases(qe.tracker)
  })

  // ---- metrics -----------------------------------------------------------

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-layer metrics over the traced warm passes (per-pass means unless
    * the name says max or p50), the probes, and the set-up steps. */
  def metrics(probes: Map[String, Double], setup: Map[String, Double]): ListMap[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    val all = spans.asScala.toSeq
    val passes = all.filter(s => s.layer == "pass" && s.attrs("pass").asInstanceOf[Int] >= 1)
    val n = math.max(1, passes.size).toDouble
    def in(t: Double, p: Span) = t >= p.start && t <= p.end
    val ts = tasks.asScala.toSeq
    val perPassTasks = passes.map(p => ts.filter(t => in(t.finish.toDouble, p)))
    val pts = perPassTasks.flatten
    val jobs = all.filter(_.layer == "job")
    val perPassJobs = passes.map(p => jobs.filter(j => in(j.start, p)))
    val stages = all.filter(_.layer == "stage")
    val bs = batches.asScala.toSeq
    val perPassBatches = passes.map(p => bs.filter(b => in(b.start, p)))
    val pl = plans.asScala.toSeq
    def sumT(f: TaskRec => Double) = pts.map(f).sum / n
    val walls = passes.map(p => (p.end - p.start) / 1e3)
    val gaps = passes.zip(perPassJobs).map { case (p, js) =>
      (p.end - p.start - union(js.map(j => (math.max(j.start, p.start), math.min(j.end, p.end))))) / 1e3
    }
    val mb = 1024.0 * 1024.0
    val busy = sumT(_.runMs / 1e3)
    ListMap(
      "driver.jobs" -> perPassJobs.map(_.size).sum / n,
      "driver.stages" -> passes.map(p => stages.count(s => in(s.start, p))).sum / n,
      "driver.tasks" -> pts.size / n,
      "driver.gap_s" -> gaps.sum / n,
      "driver.gap_share" -> (if (walls.sum > 0) gaps.sum / walls.sum else 0.0),
      "driver.task_wait_s" -> sumT(t => (t.launch - stageSubmit.getOrDefault(t.stage, t.launch)).max(0L) / 1e3),
      "driver.plan_s" -> passes.map(p => pl.filter(x => in(x._1, p)).map(x => x._2 - x._1).sum).sum / n / 1e3,
      "exec.busy_s" -> busy,
      "exec.cpu_s" -> sumT(_.cpuNs / 1e9),
      "exec.gc_s" -> sumT(_.gcMs / 1e3),
      "exec.core_util" -> (if (walls.sum > 0) busy * n / (walls.sum * cores) else 0.0),
      "exec.task_max_ms" -> (if (pts.isEmpty) 0.0 else pts.map(t => (t.finish - t.launch).toDouble).max),
      "exec.failed_tasks" -> pts.count(_.failed) / n,
      "shuffle.write_mb" -> sumT(_.shWrite / mb),
      "shuffle.read_mb" -> sumT(_.shRead / mb),
      "scan.input_rows" -> sumT(_.inRows.toDouble),
      "spill.mb" -> sumT(_.spill / mb),
      "mem.peak_task_mb" -> (if (pts.isEmpty) 0.0 else pts.map(_.peakMem).max / mb),
      "ops.write_mb" -> sumT(_.outBytes / mb),
      "streaming.batches" -> perPassBatches.map(_.size).sum / n,
      "streaming.batch_p50_ms" -> median(perPassBatches.flatten.map(_.triggerMs.toDouble)),
      "streaming.batch_max_ms" -> perPassBatches.flatten.map(_.triggerMs.toDouble).maxOption.getOrElse(0.0),
      "streaming.add_batch_ms" -> perPassBatches.flatten.map(_.addBatchMs).sum / n,
      "streaming.commit_ms" -> perPassBatches.flatten.map(_.commitMs).sum / n,
      // rows in state at the end of each stream run, summed over runs
      "streaming.state_rows" -> perPassBatches.map(_.groupBy(_.runId).values
        .map(_.maxBy(_.start).stateRows).sum).sum / n,
      "streaming.state_commit_ms" -> perPassBatches.flatten.map(_.stateCommitMs).sum / n,
      "streaming.state_mem_mb" -> perPassBatches.flatten.map(_.stateMem / mb).maxOption.getOrElse(0.0),
      "setup.jvm_s" -> setup("jvm_s"),
      "setup.session_s" -> setup("session_s"),
      "setup.scenes_s" -> setup.getOrElse("scenes_s", 0.0),
      "setup.components_s" -> setup.getOrElse("components_s", 0.0),
    ) ++ probes ++ ListMap("jobs_unattributed" -> unattributed.sum())
  }

  /** Write the spans as JSON lines; return per-layer span counts, total
    * and self time (duration minus the union of its children's). */
  def writeSpans(path: String): ListMap[String, Any] = {
    val all = spans.asScala.toSeq.filterNot(_.end.isNaN)
    val kids = all.groupBy(_.parent)
    val self = all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.end - s.start - union(ch)) / 1e3
    }.toMap
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Main.json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_s" -> self(s.id)) ++ s.attrs))
    } finally w.close()
    ListMap("file" -> path, "layers" -> ListMap(all.groupBy(_.layer).toSeq.sortBy(_._1).map {
      case (l, ss) => l -> ListMap("spans" -> ss.size,
        "total_s" -> ss.map(s => (s.end - s.start) / 1e3).sum,
        "self_s" -> ss.map(s => self(s.id)).sum)
    }: _*))
  }
}
