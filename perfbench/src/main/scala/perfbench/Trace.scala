package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one job group: one group per call into a layer. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var maxTaskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs); gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleReadRecords += o.shuffleReadRecords
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; outputRecords += o.outputRecords
    this
  }
}

/** Listener the benchmark registers on its own session. It keys every job,
  * stage and task by the `spark.jobGroup.id` the benchmark set around the
  * call that launched it, and keeps stage run intervals so driver-only time
  * (no stage running) can be measured.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, GroupStats]()
  private val stageSpans = mutable.ArrayBuffer[(Long, Long)]()

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    val s = stats(g)
    s.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g => val s = stats(g); s.stages += 1 }
    for (s <- info.submissionTime; c <- info.completionTime) stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrElse(e.stageId, "untraced"))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Totals of every group whose id starts with `prefix`. */
  def sum(prefix: String): GroupStats = synchronized {
    groups.collect { case (g, s) if g.startsWith(prefix) => s }.foldLeft(new GroupStats)(_ add _)
  }

  def all: Map[String, GroupStats] = synchronized(groups.toMap)

  /** Milliseconds of [fromMs, toMs] during which at least one stage ran. */
  def stageBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = stageSpans.map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, c) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

final case class Span(name: String, parent: String, runId: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Each span wraps one call into a layer
  * and sets that call's Spark job group, so the listener's numbers and the
  * span's wall time describe the same work. Spans stay in memory until
  * `write` is called once, at the end of the benchmark.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new GroupListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List("root")

  def span[T](name: String)(body: => T): T = {
    val parent = stack.head
    stack = name :: stack
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (stack.head == "root") sc.clearJobGroup() else sc.setJobGroup(stack.head, stack.head, false)
      spans += Span(name, parent, runId, t0, t1)
    }
  }

  /** Listener totals for groups under `prefix`, after the bus has drained. */
  def stats(prefix: String): GroupStats = { org.apache.spark.BusDrain(sc); listener.sum(prefix) }

  /** Total wall seconds of the spans whose name starts with `prefix`. */
  def seconds(prefix: String): Double = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum

  def topLevel: Seq[Span] = spans.filter(_.parent == "root").toSeq

  /** One line per span, then one per job group with the listener's totals. */
  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.BusDrain(sc)
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","run_id":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    } ++ listener.all.toSeq.sortBy(_._1).map { case (g, s) =>
      s"""{"group":"$g","run_id":"$runId","jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        s""""task_ms":${s.taskMs},"max_task_ms":${s.maxTaskMs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_read_records":${s.shuffleReadRecords},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},"shuffle_write_records":${s.shuffleWriteRecords},""" +
        s""""spill_bytes":${s.spillBytes},"output_bytes":${s.outputBytes},"output_records":${s.outputRecords}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def close(): Unit = { sc.removeSparkListener(listener); sc.clearJobGroup() }
}
