package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer. `layer` is the metric prefix the span's
  * self time and task metrics are charged to (empty = bookkeeping span that
  * only groups children). Times: nanoTime for durations, epoch ms to line
  * spans up with Spark's task launch/finish stamps. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
    val runId: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var rows: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Each span sets a Spark job group (`span-<id>`) for its
  * duration, so [[TaskLedger]] can charge every task to the innermost span
  * that caused it. Spans stay in memory until [[write]]. */
final class Tracer(val runId: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def all: Seq[Span] = spans.toSeq

  def span[A](name: String, layer: String = "")(f: => A): A = {
    val s = begin(name, layer)
    try f finally end(s)
  }

  /** Opens a span that closes at a later, non-lexical point (a call into
    * the program that starts in one callback and ends in another). */
  def begin(name: String, layer: String): Span = {
    val s = new Span(spans.length, name, layer, stack.headOption.fold(-1)(_.id), runId,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name)
    s
  }

  def end(s: Span): Unit = {
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
      case None    => sc.clearJobGroup()
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part of it covered by child spans. */
  def selfS(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Span file: one JSON object per line, with self time and the task
    * metrics charged to the span itself. */
  def write(path: java.nio.file.Path, ledger: TaskLedger): Unit = {
    val lines = spans.map { s =>
      val t = ledger.tasksOf(Seq(s.id))
      f"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""layer":"${s.layer}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""wall_s":${s.wallS},"self_s":${selfS(s)},"rows":${s.rows},""" +
        f""""jobs":${ledger.jobsOf(Seq(s.id))},"tasks":${t.size},""" +
        f""""cpu_s":${t.map(_.cpuNs).sum / 1e9},"gc_s":${t.map(_.gcMs).sum / 1e3},""" +
        f""""shuffle_write_b":${t.map(_.shuffleWrite).sum},"shuffle_read_b":${t.map(_.shuffleRead).sum},""" +
        f""""spill_b":${t.map(_.spill).sum},"output_b":${t.map(_.outBytes).sum}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    outBytes: Long, outRecords: Long)

/** SparkListener that keeps every finished task with the job group of the
  * job that submitted its stage. */
final class TaskLedger extends SparkListener {
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var endedJobs = Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    groupOfJob.put(e.jobId, g.getOrElse(""))
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }

  private def spanOfStage(stageId: Int): Int = {
    val job = jobOfStage.getOrDefault(stageId, -1)
    Option(groupOfJob.get(job)).filter(_.startsWith("span-")).fold(-1)(_.drop(5).toInt)
  }

  def tasksOf(spanIds: Seq[Int]): Seq[TaskRec] = {
    val ids = spanIds.toSet
    tasks.asScala.filter(t => ids.contains(spanOfStage(t.stageId))).toSeq
  }

  def jobsOf(spanIds: Seq[Int]): Int = {
    val groups = spanIds.map(i => s"span-$i").toSet
    groupOfJob.asScala.count { case (_, g) => groups.contains(g) }
  }

  /** Blocks until the listener bus has delivered every event posted before
    * this call: a marker job's end event is queued behind them. */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup("drain-marker", "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    def markerDone = groupOfJob.asScala.exists { case (j, g) => g == "drain-marker" && endedJobs(j) }
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
    groupOfJob.asScala.filter(_._2 == "drain-marker").keys.foreach(groupOfJob.remove)
  }
}

/** Counts the bytes of every RDD block stored while it is registered: the
  * in-memory IO's stage checkpoints, whether or not the context cleaner has
  * dropped them by the time the run ends. */
final class BlockBytes extends SparkListener {
  @volatile private var bytes = 0L
  @volatile private var markerJob = -1
  @volatile private var markerDone = false

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) bytes += i.memSize + i.diskSize
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "block-marker"))
      markerJob = e.jobId

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) markerDone = true

  /** Bytes stored by everything `f` ran. */
  def during(sc: SparkContext)(f: => Unit): Long = {
    sc.addSparkListener(this)
    try {
      f
      // the marker job's end event is queued behind every event f caused
      sc.setJobGroup("block-marker", "drain")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
      require(markerDone, "listener bus did not drain")
      bytes
    } finally sc.removeSparkListener(this)
  }
}

/** Per-layer aggregation of a traced run: self time plus the task metrics
  * of the layer's spans (each task is charged to exactly one span). */
object Layers {
  final case class Agg(wallS: Double, cpuS: Double, jobs: Int, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, gcS: Double, taskSkew: Double, rows: Long)

  private val Mb = 1024.0 * 1024.0

  def aggregate(tr: Tracer, ledger: TaskLedger, spans: Seq[Span]): Agg = {
    val ids = spans.map(_.id)
    val t = ledger.tasksOf(ids)
    val skews = t.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.runMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else 1.0
    }
    Agg(
      wallS = spans.map(tr.selfS).sum,
      cpuS = t.map(_.cpuNs).sum / 1e9,
      jobs = ledger.jobsOf(ids),
      shuffleWriteMb = t.map(_.shuffleWrite).sum / Mb,
      shuffleReadMb = t.map(_.shuffleRead).sum / Mb,
      spillMb = t.map(_.spill).sum / Mb,
      gcS = t.map(_.gcMs).sum / 1e3,
      taskSkew = if (skews.isEmpty) 1.0 else skews.max,
      rows = spans.map(_.rows).filter(_ >= 0).sum)
  }

  /** Wall time inside `s` during which no task of its subtree ran. */
  def idleS(tr: Tracer, ledger: TaskLedger, s: Span): Double = {
    val iv = ledger.tasksOf(tr.subtree(s).map(_.id))
      .map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    math.max(0.0, s.wallS - busy / 1e3)
  }
}
