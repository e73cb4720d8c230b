package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: an op's build or action phase (or a
  * whole call for ops without phases) in a given pass.
  */
final case class Phase(pass: Int, op: String, phase: String, startMs: Long, endMs: Long)

/** Attributes Spark work to the benchmark's ops from outside the program.
  *
  * Listeners only record raw events (from Spark's listener threads); all
  * attribution happens in [[passMetrics]] after the run, once every event
  * has arrived. Jobs carry a job group `<workload>/<op>/<phase>` set by
  * the harness, which threads spawned by the op inherit. Work the group
  * does not cover (jobs on stream threads, tasks, stages, micro-batches,
  * planner events) is placed by its timestamp: with one client the op
  * intervals never overlap, so a timestamp names exactly one op phase.
  */
final class Tracer(spark: SparkSession, workload: String, cores: Int,
    phases: collection.Seq[Phase]) {
  private case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  private case class Stage(id: Int, startMs: Long, endMs: Long)
  private case class Task(endMs: Long, ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRows: Long, shReadBytes: Long, shWriteBytes: Long, spillBytes: Long,
      outBytes: Long, outRows: Long)
  private case class Block(atMs: Long, stored: Boolean, totalBytes: Long)
  private case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, graftRuleNs: Long, ruleCalls: Long, ruleEffective: Long)
  private case class Batch(startMs: Long, durations: Map[String, Long], inputRows: Long,
      stateRows: Long, query: String)

  private val jobs = ArrayBuffer[Job]()
  private val stages = ArrayBuffer[Stage]()
  private val tasks = ArrayBuffer[Task]()
  private val blocks = ArrayBuffer[Block]()
  private val plans = ArrayBuffer[Plan]()
  private val batches = ArrayBuffer[Batch]()
  private val blockSizes = scala.collection.mutable.HashMap[String, Long]()
  private var blockTotal = 0L
  private var markerSeen = Set.empty[String]

  /** (pass, op, files, bytes) the op left on disk, counted by the harness
    * after each traced op.
    */
  val written = ArrayBuffer[(Int, String, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += Job(e.jobId, group.getOrElse(""), e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.group.startsWith(Tracer.MarkerGroup)) markerSeen += j.group
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      stages += Stage(i.stageId, i.submissionTime.getOrElse(end), end)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      tasks += Task(e.taskInfo.finishTime, e.reason == TaskSuccess,
        g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
        g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
        g(_.shuffleReadMetrics.totalBytesRead), g(_.shuffleWriteMetrics.bytesWritten),
        g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        g(_.outputMetrics.bytesWritten), g(_.outputMetrics.recordsWritten))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockTotal += size - blockSizes.getOrElse(key, 0L)
        if (size > 0) blockSizes(key) = size else blockSizes.remove(key)
        blocks += Block(System.currentTimeMillis(), size > 0, blockTotal)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val ph = t.phases
      def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
      val start = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      val rules = t.rules
      val graftNs = rules.collect { case (n, r) if n.startsWith("graft.") => r.totalTimeNs }.sum
      val calls = rules.values.map(_.numInvocations).sum
      val effective = rules.values.map(_.numEffectiveInvocations).sum
      Tracer.this.synchronized {
        plans += Plan(start, ms("analysis"), ms("optimization"), ms("planning"),
          graftNs, calls, effective)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized {
        batches += Batch(start, d, p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
          Option(p.name).getOrElse(p.id.toString))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Wait until the listener has seen every event posted so far: events
    * arrive in order, so once a marker job's end is seen, all earlier
    * events on the queue are in too. Streaming and planner events use
    * other queues, so a short settle follows.
    */
  def drain(): Unit = {
    val marker = s"${Tracer.MarkerGroup}${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(marker, "perfbench listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000L
    while (!synchronized(markerSeen(marker)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Thread.sleep(200)
  }

  private def locate(tMs: Long): Option[Phase] =
    phases.find(p => tMs >= p.startMs && tMs <= p.endMs)

  /** Phase of a job: its group when the harness set one, else its start time. */
  private def phaseOf(j: Job): Option[Phase] = {
    val byTime = locate(j.startMs)
    j.group.split('/') match {
      case Array(w, op, ph) if w == workload =>
        byTime.filter(p => p.op == op && p.phase == ph)
          .orElse(phases.find(p => p.op == op && p.phase == ph &&
            j.startMs >= p.startMs - 1000 && j.startMs <= p.endMs + 1000))
      case _ => byTime
    }
  }

  /** Union length of the intervals, clipped to [lo, hi]. */
  private def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics of one traced pass, keyed by metric name. */
  def passMetrics(pass: Int): Map[String, Double] = synchronized {
    val ph = phases.filter(_.pass == pass)
    val lo = ph.map(_.startMs).min
    val hi = ph.map(_.endMs).max
    def in(t: Long): Boolean = locate(t).exists(_.pass == pass)
    val wallMs = ph.map(p => p.endMs - p.startMs).sum
    val pj = jobs.filter(j => phaseOf(j).exists(_.pass == pass)).toSeq
    val pt = tasks.filter(t => in(t.endMs)).toSeq
    val ps = stages.filter(s => in(s.endMs)).toSeq
    val pb = batches.filter(b => in(b.startMs)).toSeq
    val pp = plans.filter(p => in(p.startMs)).toSeq
    val pk = blocks.filter(b => b.atMs >= lo && b.atMs <= hi).toSeq
    val ops = ph.groupBy(_.op)
    val gapMs = ops.map { case (op, parts) =>
      val s = parts.map(_.startMs).min
      val e = parts.map(_.endMs).max
      val spans = pj.filter(j => phaseOf(j).exists(_.op == op))
        .map(j => (j.startMs, if (j.endMs < 0) e else j.endMs))
      (e - s) - unionMs(spans, s, e)
    }.sum
    val taskRunMs = pt.map(_.runMs).sum
    val dur = (k: String) => pb.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val calls = pp.map(_.ruleCalls).sum
    val w = written.filter(_._1 == pass)
    Map(
      "queries.build_s" -> ph.filter(_.phase == "build").map(p => p.endMs - p.startMs).sum / 1e3,
      "queries.action_s" -> ph.filter(_.phase == "action").map(p => p.endMs - p.startMs).sum / 1e3,
      "queries.build_jobs" -> pj.count(j => phaseOf(j).exists(_.phase == "build")).toDouble,
      "plan.analysis_s" -> pp.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> pp.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> pp.map(_.planningMs).sum / 1e3,
      "plan.graft_rule_s" -> pp.map(_.graftRuleNs).sum / 1e9,
      "plan.rule_effective_ratio" ->
        (if (calls == 0) 0.0 else pp.map(_.ruleEffective).sum.toDouble / calls),
      "exec.jobs" -> pj.size.toDouble,
      "exec.stages" -> ps.size.toDouble,
      "exec.tasks" -> pt.size.toDouble,
      "exec.task_run_s" -> taskRunMs / 1e3,
      "exec.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> pt.map(_.gcMs).sum / 1e3,
      "exec.task_failures" -> pt.count(!_.ok).toDouble,
      "exec.driver_gap_s" -> gapMs / 1e3,
      "exec.core_busy_ratio" -> (if (wallMs == 0) 0.0 else taskRunMs.toDouble / (wallMs * cores)),
      "io.input_bytes" -> pt.map(_.inBytes).sum.toDouble,
      "io.input_rows" -> pt.map(_.inRows).sum.toDouble,
      "io.shuffle_read_bytes" -> pt.map(_.shReadBytes).sum.toDouble,
      "io.shuffle_write_bytes" -> pt.map(_.shWriteBytes).sum.toDouble,
      "io.spill_bytes" -> pt.map(_.spillBytes).sum.toDouble,
      "cache.blocks_stored" -> pk.count(_.stored).toDouble,
      "cache.peak_bytes" -> (if (pk.isEmpty) 0.0 else pk.map(_.totalBytes).max.toDouble),
      "stream.batches" -> pb.size.toDouble,
      "stream.latest_offset_s" -> dur("latestOffset"),
      "stream.planning_s" -> dur("queryPlanning"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.input_rows" -> pb.map(_.inputRows).sum.toDouble,
      "stream.state_rows" -> pb.map(_.stateRows).sum.toDouble,
      "write.bytes" -> pt.map(_.outBytes).sum.toDouble,
      "write.rows" -> pt.map(_.outRows).sum.toDouble,
      "write.files" -> w.map(_._3).sum.toDouble,
      "write.stored_bytes" -> w.map(_._4).sum.toDouble)
  }

  /** Every span, as JSON-ready maps: ops and phases of every pass, and the
    * jobs, stages and micro-batches of the traced ones.
    */
  def spans(): Seq[Map[String, Any]] = synchronized {
    def span(kind: String, name: String, pass: Int, s: Long, e: Long, parent: String) =
      Map("kind" -> kind, "name" -> name, "pass" -> pass, "start_ms" -> s, "end_ms" -> e,
        "parent" -> parent)
    val ops = phases.groupBy(p => (p.pass, p.op)).toSeq.sortBy(_._2.head.startMs).map {
      case ((pass, op), ps) =>
        span("op", op, pass, ps.map(_.startMs).min, ps.map(_.endMs).max, s"pass/$pass")
    }
    val phs = phases.toSeq.map(p =>
      span("phase", s"${p.op}/${p.phase}", p.pass, p.startMs, p.endMs, p.op))
    val js = jobs.toSeq.flatMap(j => phaseOf(j).map(p =>
      span("job", s"job/${j.id}", p.pass, j.startMs, j.endMs, s"${p.op}/${p.phase}")))
    val ss = stages.toSeq.flatMap(st => locate(st.endMs).map(p =>
      span("stage", s"stage/${st.id}", p.pass, st.startMs, st.endMs, s"${p.op}/${p.phase}")))
    val bs = batches.toSeq.flatMap(b => locate(b.startMs).map(p =>
      span("batch", s"batch/${b.query}", p.pass, b.startMs,
        b.startMs + b.durations.getOrElse("triggerExecution", 0L), s"${p.op}/${p.phase}")))
    ops ++ phs ++ js ++ ss ++ bs
  }
}

object Tracer {
  val MarkerGroup = "perfbench-marker/"
}
