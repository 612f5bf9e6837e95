package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark call into a layer. Times are epoch milliseconds, the clock
  * Spark's listener events use, so spans and jobs share one time axis. */
final case class Span(
    id: Int, name: String, layer: String, parent: Int, phase: String, round: Int,
    start: Long, end: Long)

/** One Spark job, as the listener saw it. `group` is the id of the span that
  * was open when the job was submitted; `site` is the long call site of its
  * result stage (the user-code stack that launched it). */
final case class JobRec(
    id: Int, group: Int, start: Long, end: Long, site: String,
    taskMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outputBytes: Long, failedTasks: Int, stageReattempts: Int) {
  /** Layer that launched the job, read from its call site: durable state
    * writes (`graft.sources`, `graft.core.Checkpointer`) first, then the
    * superstep loop driver, then the innermost engine package on the stack.
    * Jobs launched by the benchmark itself (result writes) get `spanLayer`. */
  def layer(spanLayer: String): String = {
    val frames = site.split("\n").map(_.trim).filter(_.startsWith("graft."))
    if (frames.exists(f => f.startsWith("graft.sources.") || f.startsWith("graft.core.Checkpointer")))
      "sources"
    else if (frames.exists(_.startsWith("graft.core."))) "core"
    else frames.headOption.map(_.split('.')(1)).filter(_.head.isLower).getOrElse(spanLayer)
  }
}

/** Span recorder plus a SparkListener. Spans are set as Spark job groups, so
  * every job is parented by the span that caused it. Everything stays in
  * memory until [[dump]]. When tracing is off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext) {

  @volatile private var enabled = false
  private var nextId = 1
  private val open = mutable.Stack[Span]()
  private val spans = mutable.ArrayBuffer[Span]()

  private final class Acc {
    var taskMs, gcMs, shuffleW, spill, output = 0L
    var failed = 0
  }
  private val jobStarts = new ConcurrentHashMap[Int, (Int, Long, String, Seq[Int])]()
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()
  private val reattempts = new ConcurrentHashMap[Int, Int]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  @volatile private var started, ended = 0
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var storageNow, storagePeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(0)
      val result = e.stageInfos.maxByOption(_.stageId)
      jobStarts.put(e.jobId, (group, e.time, result.map(_.details).getOrElse(""), e.stageIds))
      started += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.attemptNumber() > 0) reattempts.merge(e.stageInfo.stageId, 1, _ + _)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAcc.computeIfAbsent(e.stageId, _ => new Acc)
      a.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.output += m.outputMetrics.bytesWritten
        }
        if (e.reason != org.apache.spark.Success) a.failed += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStarts.remove(e.jobId)).foreach { case (group, t0, site, stages) =>
        val accs = stages.flatMap(s => Option(stageAcc.get(s)))
        jobs.add(JobRec(e.jobId, group, t0, e.time, site,
          accs.map(_.taskMs).sum, accs.map(_.gcMs).sum, accs.map(_.shuffleW).sum,
          accs.map(_.spill).sum, accs.map(_.output).sum, accs.map(_.failed).sum,
          stages.map(s => reattempts.getOrDefault(s, 0)).sum))
      }
      ended += 1
    }
  }

  /** Cached-block bytes. Attached with the first [[start]] and never
    * detached, so blocks dropped while job tracing is off are still
    * subtracted. */
  private var storageAttached = false
  private val storageListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val before = Option(blocks.put(b.blockId.name, size)).getOrElse(0L)
        synchronized {
          storageNow += size - before
          storagePeak = math.max(storagePeak, storageNow)
        }
      }
    }
  }

  def on: Boolean = enabled

  def start(): Unit = if (!enabled) {
    if (!storageAttached) { sc.addSparkListener(storageListener); storageAttached = true }
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Detaches the listener after it has seen the end of every job it saw
    * start (the listener bus delivers asynchronously). */
  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    enabled = false
  }

  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    var stableSince = System.currentTimeMillis()
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (started != ended || System.currentTimeMillis() - stableSince < 200)) {
      if (started != last) { last = started; stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  /** Runs `body` inside a span; jobs it submits carry the span id as job group. */
  def span[T](name: String, layer: String, phase: String, round: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(0)
      val s = Span(nextId, name, layer, parent, phase, round, System.currentTimeMillis(), 0L)
      nextId += 1
      open.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        open.pop()
        spans += s.copy(end = System.currentTimeMillis())
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.id)
  def storagePeakBytes: Long = storagePeak

  /** Writes spans and jobs as JSON lines; jobs appear as child spans of the
    * span whose group they carry. */
  def dump(path: String): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"kind":"span","id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""parent":${s.parent},"phase":${Json.str(s.phase)},"round":${s.round},""" +
        s""""start":${s.start},"end":${s.end}}"""
    } ++ allJobs.map { j =>
      s"""{"kind":"job","id":${j.id},"parent":${j.group},"start":${j.start},"end":${j.end},""" +
        s""""task_ms":${j.taskMs},"gc_ms":${j.gcMs},"shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""spill_bytes":${j.spillBytes},"output_bytes":${j.outputBytes},""" +
        s""""failed_tasks":${j.failedTasks},"site":${Json.str(j.site.split("\n").take(6).mkString(" | "))}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
