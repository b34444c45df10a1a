package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval around a call the benchmark makes into the
  * engine. Times are epoch milliseconds (the clock Spark stamps its
  * listener events with) plus nanoTime for the span's own duration. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Long, startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Engine counts over a set of jobs and stages. */
final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
                        taskRunS: Double = 0, taskCpuS: Double = 0,
                        gcS: Double = 0, shuffleWriteMb: Double = 0,
                        shuffleReadMb: Double = 0, spillMb: Double = 0,
                        resultMb: Double = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunS + o.taskRunS, taskCpuS + o.taskCpuS,
    gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb,
    shuffleReadMb + o.shuffleReadMb, spillMb + o.spillMb,
    resultMb + o.resultMb)
}

/** Listener record of one job: its label (the job group the benchmark
  * set, or the streaming run id), the streaming query that submitted it,
  * if any, and its wall interval (Spark's event times). */
final class JobRec(val id: Int, val group: String, val query: Option[String],
                   val startMs: Long) {
  @volatile var endMs: Long = startMs
}

final class StageRec(val id: Int, val group: String, val submitMs: Long) {
  var attempts = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var result = 0L
}

/** Spans kept in memory for the run, fed by a [[SparkListener]] and a
  * [[StreamingQueryListener]] registered from outside the engine while a
  * traced operation runs ([[during]]). The
  * benchmark labels every job its own thread submits with the innermost
  * open span (`setJobGroup`); jobs submitted by other threads (the
  * streaming micro-batches) are attributed to the innermost span open at
  * their start. Outside [[during]], or when `enabled` is false, nothing is
  * registered and [[span]] only runs its body. */
final class Trace(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  /** (epoch ms, persisted RDD bytes after the update) */
  val blockSamples = new ConcurrentLinkedQueue[(Long, Long)]()
  private val blockSizes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile private var persisted = 0L
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("sql.streaming.queryId"), e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val id = e.stageInfo.stageId
      val rec = stages.computeIfAbsent(id, _ => new StageRec(id, g,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      rec.synchronized(rec.attempts += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stages.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) rec.synchronized {
        rec.tasks += 1
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.spill += m.diskBytesSpilled
        rec.result += m.resultSize
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val key = info.blockId.name
        val prev = Option(blockSizes.put(key, size)).getOrElse(0L)
        val now = synchronized { persisted += size - prev; persisted }
        blockSamples.add((System.currentTimeMillis(), now))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var active = false

  /** Run `body` with the listeners registered and spans recorded; outside
    * it the process runs exactly as untraced. */
  def during[T](body: => T): T =
    if (!enabled) body
    else {
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
      active = true
      try body
      finally {
        drain()
        active = false
        sc.removeSparkListener(listener)
        spark.streams.removeListener(streamListener)
      }
    }

  private def label(s: Option[Span]): Unit = s match {
    case Some(sp) => sc.setJobGroup(groupOf(sp), sp.name)
    case None => sc.clearJobGroup()
  }
  private def groupOf(s: Span): String = s"$runId-span-${s.id}"

  /** Run `body` inside a span named `name`, child of the innermost open
    * span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      label(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        label(stack.headOption)
      }
    }

  /** Wait until every listener event posted so far is delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] = {
    val cs = children(s)
    cs ++ cs.flatMap(descendants)
  }

  /** Span a job or stage belongs to: the one whose label it carries, else
    * the innermost span open when it started. */
  private def owner(group: String, startMs: Long): Option[Int] = {
    val byLabel = spans.find(s => groupOf(s) == group).map(_.id)
    byLabel.orElse(spans.filter(_.contains(startMs))
      .sortBy(s => -s.startNs).headOption.map(_.id))
  }

  private def within(s: Span): Set[Int] = (s +: descendants(s)).map(_.id).toSet

  /** Jobs attributed to `s` or its descendants. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = within(s)
    jobs.values().asScala.filter(j => owner(j.group, j.startMs).exists(ids)).toSeq
      .sortBy(_.startMs)
  }

  /** Engine counts over `s` and its descendants. */
  def counts(s: Span): Counts = {
    val ids = within(s)
    val js = jobsOf(s)
    val st = stages.values().asScala
      .filter(r => owner(r.group, r.submitMs).exists(ids)).toSeq
    val mb = 1024.0 * 1024.0
    st.foldLeft(Counts(jobs = js.size)) { (c, r) => r.synchronized {
      c + Counts(stages = r.attempts, tasks = r.tasks, taskRunS = r.runMs / 1e3,
        taskCpuS = r.cpuNs / 1e9, gcS = r.gcMs / 1e3,
        shuffleWriteMb = r.shuffleWrite / mb, shuffleReadMb = r.shuffleRead / mb,
        spillMb = r.spill / mb, resultMb = r.result / mb)
    } }
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = {
    val cs = children(s).sortBy(_.startNs)
    var covered = 0L
    var until = s.startNs
    cs.foreach { c =>
      val a = math.max(c.startNs, until)
      if (c.endNs > a) { covered += c.endNs - a; until = c.endNs }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Peak persisted RDD bytes (MB) seen during `s`. */
  def peakPersistedMb(s: Span): Double =
    blockSamples.asScala.filter { case (t, _) => s.contains(t) }
      .map(_._2).maxOption.getOrElse(0L) / (1024.0 * 1024.0)

  /** Write every span, with its counts, as JSON lines. */
  def write(path: java.nio.file.Path, cores: Int): Unit = {
    val lines = spans.map { s =>
      val c = counts(s)
      Main.json.writeValueAsString(ListMap(
        "run" -> s.run, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> selfS(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_cpu_s" -> c.taskCpuS, "gc_s" -> c.gcS,
        "shuffle_write_mb" -> c.shuffleWriteMb, "shuffle_read_mb" -> c.shuffleReadMb,
        "spill_mb" -> c.spillMb, "result_mb" -> c.resultMb,
        "idle_core_s" -> (s.wallS * cores - c.taskRunS)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
